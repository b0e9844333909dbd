"""Benchmark entry point.

    python3 perfbench/run.py --workload pip_geom --seed 1 --seconds 20 --trace 0

Prints a report line (named metrics, host fingerprint, and with
``--trace 1`` the per-layer folder output and tracing overhead), then,
as the last line, the result: ``{"correct", "attempted", "failed",
"metrics"}``. Exits non-zero without a result when the engine sources
are not next to the benchmark.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOAD_NAMES = ("pip_geom", "tile_pages")


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    p.add_argument("--workdir", default=str(ROOT / ".bench_work"),
                   help="scratch space for inputs, tile stores and event logs")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not (ROOT / "geos_spark" / "__init__.py").is_file():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import harness

    report, result = harness.run(
        args.workload, args.seed, args.seconds, bool(args.trace), args.size,
        ROOT, Path(args.workdir).resolve(),
    )
    line = json.dumps({"report": report}, default=str)
    out = Path(args.workdir) / f"report-{args.workload}-{args.seed}-trace{args.trace}.json"
    out.write_text(line + "\n")
    print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
