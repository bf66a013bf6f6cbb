"""Host CPU probe; kept at the repo root because perfbench/run.py imports it."""
from __future__ import annotations

import time


def host_probe(threads: int) -> float:
    """Delivered-CPU probe: GIL-releasing md5 over 1 MiB buffers on
    ``threads`` Python threads, returning aggregate MB/s. The sandbox
    host's delivered CPU/memory bandwidth swings by up to ~8x on a
    minutes timescale (diagnosed with interleaved probes in
    BENCH/BASELINE.md); embedding the probe in every bench JSON line
    lets a reader normalize one-shot timings against what the host
    was actually delivering during the run."""
    import concurrent.futures as cf
    import hashlib

    buf = b"x" * (1 << 20)
    per_thread_mb = 100

    def work(_):
        h = hashlib.md5()
        for _ in range(per_thread_mb):
            h.update(buf)
        return h.hexdigest()

    t0 = time.monotonic()
    with cf.ThreadPoolExecutor(threads) as ex:
        list(ex.map(work, range(threads)))
    return round(threads * per_thread_mb / (time.monotonic() - t0), 1)
