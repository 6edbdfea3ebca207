#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Workloads: ingest, query_mix (see
perfbench/README.md); ``--workload all`` runs both in turn, each in its own
process. The last line of standard output is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Every file the run makes lives under
``.perfbench/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path


def _process_start() -> float:
    """Wall-clock time this process started (Linux /proc), else now."""
    try:
        with open("/proc/self/stat") as fh:
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.time()


T_START = _process_start()
ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "graphsense_ethereum_etl_spark"
WORKLOADS = ("ingest", "query_mix")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--small", action="store_true",
        help="tiny inputs for the benchmark's own smoke tests",
    )
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"error: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        common = ["--seed", str(args.seed), "--seconds", str(args.seconds),
                  "--trace", str(args.trace)] + (["--small"] if args.small else [])
        codes = [
            subprocess.run([sys.executable, __file__, "--workload", w, *common]).returncode
            for w in WORKLOADS
        ]
        return max(codes)
    sys.path.insert(0, str(ROOT))
    from perfbench.harness import run

    result = run(
        ROOT, args.workload, args.seed, args.seconds, bool(args.trace),
        small=args.small, t_start=T_START,
    )
    print(json.dumps(result, allow_nan=False), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
