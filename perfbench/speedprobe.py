"""Host-speed probe: a fixed single-threaded CPU task, every 100 ms.

    python3 perfbench/speedprobe.py OUT_FILE

Appends ``<monotonic start> <CPU seconds>`` per sample until terminated
or orphaned. The task is timed in CPU time, so time spent waiting for a
core the benchmark itself occupies does not count; what remains is how
fast the (virtual) core runs, which on a shared host can halve from one
second to the next.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

ROUNDS = 20_000  # about 10 ms of SHA-256 chaining on a fast x86 core
PERIOD_S = 0.1


def main() -> None:
    parent = os.getppid()
    with open(sys.argv[1], "a", buffering=1) as out:
        while os.getppid() == parent:
            start, cpu0, h = time.monotonic(), time.process_time(), b"probe"
            for _ in range(ROUNDS):
                h = hashlib.sha256(h).digest()
            out.write(f"{start:.6f} {time.process_time() - cpu0:.6f}\n")
            time.sleep(PERIOD_S)


if __name__ == "__main__":
    main()
