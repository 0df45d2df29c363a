"""Host page-supply canary: first-touch write rate of fresh anonymous pages.

The same 256 MB first-touch / re-touch protocol as ``tools/canary.py`` (which
``bench.py`` gates on), kept here so the benchmark does not depend on a file
outside its own directory.  The benchmark runs this file as a child process
before and after each run so the canary's pages never count toward the
driver's peak RSS.  The reading is context only; it gates nothing.

Usage:
    python3 perfbench/canary.py        # one JSON line on stdout
"""

from __future__ import annotations

import json
import mmap
import time


def measure(size_mb: int = 256) -> dict:
    n = size_mb << 20
    m = mmap.mmap(-1, n)
    chunk = b"\xab" * (1 << 20)
    t0 = time.perf_counter()
    for _ in range(size_mb):
        m.write(chunk)
    first_touch = time.perf_counter() - t0
    m.seek(0)
    t0 = time.perf_counter()
    for _ in range(size_mb):
        m.write(chunk)
    retouch = time.perf_counter() - t0
    m.close()
    return {
        "first_touch_mbps": round(size_mb / first_touch, 1),
        "retouch_mbps": round(size_mb / retouch, 1),
    }


if __name__ == "__main__":
    print(json.dumps(measure()))
