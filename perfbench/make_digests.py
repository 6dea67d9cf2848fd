"""Write report_digests.json: the digest of every pool record's report,
per scale, from one ``process_records`` call over the pool.

    python3 perfbench/make_digests.py [--scales 0.1 0.001] [--out FILE]

The api_small and stream_bulk ops are checked against these committed
digests, so a change to any pipeline layer shows as failed ops rather
than changing the answer and the op alike. Rerun this only when the
engine's reports are meant to change.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import checks
import run
import workloads


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--scales", type=float, nargs="+", default=[workloads.SCALE, 0.001])
    ap.add_argument("--out", default=checks.DIGESTS)
    args = ap.parse_args(argv)

    work = os.path.join(run.ROOT, ".perfbench_work", "digests")
    spark, jvm = run.open_session(work, "perfbench-digests")
    workers: list[int] = []
    try:
        out = {
            f"{scale:g}": checks.report_digests(spark, workloads.record_pool(spark, work, scale))
            for scale in args.scales
        }
        workers = run.descendants(jvm.pid)
    finally:
        run.close_session(spark, jvm, workers)
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=0, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
