"""Time individual registered queries via the noop sink — the
iteration loop for optimization work (bench.py is the committed
artifact; this is the probe). min-of-N with a warmup, same
methodology as bench.py so numbers are comparable.

Usage:
  python tools/time_queries.py [--sf DIR] [--n 3] [--cold] names...
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from heroku_kafka_connect_spark.registry import all_queries  # noqa: E402
from heroku_kafka_connect_spark.session import get_spark  # noqa: E402


def execute(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--cold", action="store_true", help="release all llm memos before EACH timed run")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    spark = get_spark("hkc-time")
    qs = all_queries()
    # warmup: JVM + codegen + python worker pool (same as bench.py)
    execute(qs["rel_agg_pricing_summary"].fn(spark, args.sf))
    execute(qs["udf_scalar_pandas"].fn(spark, args.sf))

    from bench import MEMO_FAMILIES, release_family  # noqa: E402

    for name in args.names:
        walls = []
        for _ in range(args.n):
            if args.cold:
                for qname in MEMO_FAMILIES:
                    release_family(qname)
            spark.sparkContext.setJobDescription(f"time:{name}")
            t0 = time.time()
            execute(qs[name].fn(spark, args.sf))
            walls.append(time.time() - t0)
        print(f"{name}: min {min(walls):.3f}s  runs {[round(w,3) for w in walls]}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
