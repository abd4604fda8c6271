"""Host-speed sampler, run as a child process beside a workload's timed
phase:

    python3 perfbench/speedprobe.py <interval_s>

Every ``interval_s`` it runs the fixed probe loop (:func:`host.probe_s`)
and prints the loop's CPU seconds, one per line. It exits when its
standard input closes or its parent goes away.
"""

from __future__ import annotations

import os
import select
import sys
import time

import host


def main() -> int:
    interval = float(sys.argv[1])
    parent = os.getppid()
    while os.getppid() == parent:
        print(f"{host.probe_s():.6f}", flush=True)
        ready, _, _ = select.select([sys.stdin], [], [], interval)
        if ready and not sys.stdin.read(1):
            break
    return 0


if __name__ == "__main__":
    sys.exit(main())
