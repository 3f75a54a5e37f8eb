"""Host speed probe: a separate process that runs a fixed chunk of pure
Python work every ``PERIOD_S`` seconds and appends ``<monotonic time>
<chunk CPU seconds>`` to the file named by its one argument. It stops at
EOF on its standard input.

On a shared VM the CPU time one chunk takes varies by up to ~1.9x from
second to second, with the load of other tenants on the same physical
cores. An operation's CPU time moves the same way, so the benchmark
divides it by the mean chunk time over the operation's interval.
"""

from __future__ import annotations

import select
import sys
import time

PERIOD_S = 0.2  # one chunk (~15 ms on an idle 2.1 GHz vCPU) per period


def chunk() -> float:
    """CPU seconds this thread spends on a fixed amount of work."""
    t0 = time.thread_time()
    d: dict[int, int] = {}
    s = 0
    for i in range(100_000):
        s += i * i % 7
        d[i & 1023] = s
    return time.thread_time() - t0


def main() -> None:
    with open(sys.argv[1], "w") as out:
        while True:
            t = time.monotonic()
            out.write(f"{t:.6f} {chunk():.6f}\n")
            out.flush()
            ready, _, _ = select.select([sys.stdin], [], [], max(0.0, t + PERIOD_S - time.monotonic()))
            if ready and not sys.stdin.readline():
                return


if __name__ == "__main__":
    main()
