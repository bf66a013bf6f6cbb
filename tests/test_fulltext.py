"""Full-text (cap=None) winnowing fingerprint kernel: chunked-kernel
exactness against the pure-Python oracle on multi-KB docs, and the
planted mid-document-duplicate recall that the capped kernel MISSES —
the r2 semantic gap (prefix-only similarity) closed and pinned."""
import pytest

from xtract import fingerprint as fp


def _doc(seed: int, n: int) -> str:
    """Deterministic pseudo-text (mixed ASCII/CJK, no RNG state)."""
    out = []
    x = (seed * 2654435761 + 99991) % (1 << 61)
    for _ in range(n):
        # LCG low bits are short-period — draw from the high bits only
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 61)
        r = (x >> 40) % 64
        out.append(chr(0x4E00 + ((x >> 20) % 512)) if r < 20 else chr(32 + r))
    return "".join(out)


# --------------------------------------------------------- exactness
@pytest.mark.parametrize("n", [40, 500, 3000])
def test_fingerprints_uncapped_matches_naive(n):
    t = _doc(7, n)
    got = fp.fingerprints_np(t, cap=None).tolist()
    assert got == fp.fingerprints_naive(t, cap=None)


def test_fingerprints_chunked_equals_single_pass(monkeypatch):
    """Chunk boundaries are invisible: with CHUNK forced tiny, the
    multi-chunk path must reproduce the single-pass fingerprint set
    bit-for-bit (overlap K+W-2 covers every hash window)."""
    t = _doc(11, 5000)
    want = fp.fingerprints_np(t, cap=None).tolist()
    for chunk in (64, 257, 1000, 4999, 5000):
        monkeypatch.setattr(fp, "CHUNK", chunk)
        assert fp.fingerprints_np(t, cap=None).tolist() == want, chunk
    monkeypatch.undo()


# ------------------------------------------------- planted recall gap
def _mid_dup_corpus():
    """Two 6 KB docs: distinct prefixes (so the capped kernel sees
    nothing shared) but an identical 1.5 KB block planted at char ~3000."""
    shared = _doc(42, 1500)
    a = _doc(1, 3000) + shared + _doc(2, 1500)
    b = _doc(3, 3000) + shared + _doc(4, 1500)
    return a, b


def test_winnow_mid_document_dup_needs_full_text():
    a, b = _mid_dup_corpus()
    capped = set(fp.fingerprints_np(a, cap=fp.CAP)) & set(
        fp.fingerprints_np(b, cap=fp.CAP)
    )
    full = set(fp.fingerprints_np(a, cap=None)) & set(
        fp.fingerprints_np(b, cap=None)
    )
    assert len(capped) == 0  # the r2 gap: prefix-capped misses it
    # winnowing guarantee: a >= K+W-1 char match shares a fingerprint;
    # a 1.5 KB planted block shares many
    assert len(full) >= 50
