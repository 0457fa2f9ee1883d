"""Per-key DataFrame-construction sweep (guide §7.3 — driver-side time).

Measures, for every bench headline key, the wall time of calling the
registered query callable — py4j traffic + eager Catalyst analysis of
every intermediate Dataset, plus any build-time materialization the
operator does on purpose (the pair-graph keys eagerly localCheckpoint
their shared pair list) — WITHOUT running the final action. This is the
driver-side floor a query pays before its first job starts; the r15
sweep measured 26.5 s of the 90.2 s clean sf0.1 bench here, motivating
the JVM-parsed-SQL emission work (`BUILD_TIMES_r16.json` holds the
latest sweep).

Usage:
    python tools/build_times.py [--out BUILD_TIMES_r16.json] [key ...]

Estimator: 1 warmup call (parser/analyzer JIT, file listing) + min of 2,
matching the bench's min-estimator rationale on this 40%-variance host.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from xml_processor_spark.registry import get_queries  # noqa: E402
from xml_processor_spark.session import build_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default=None)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()

    spark = build_session("build-times")
    spark.sparkContext.setLogLevel("ERROR")
    queries = get_queries()
    keys = args.keys or HEADLINE

    out: dict[str, float] = {}
    for key in keys:
        fn = queries[key]
        fn(spark, args.sf)  # warmup: parser JIT, file listing
        runs = []
        for _ in range(args.runs):
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            df.columns  # force analyzed-schema retrieval
            runs.append(time.perf_counter() - t0)
        out[key] = round(min(runs), 3)
        print(f"{out[key]:7.3f}  {key}", flush=True)

    total = round(sum(out.values()), 3)
    print(f"TOTAL build time: {total} s over {len(out)} keys")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
