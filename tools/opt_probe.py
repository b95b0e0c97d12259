"""Optimization probe: time individual registry queries with the
bench's exact methodology (noop sink, min-of-N, warm-up at sf0.001) and
optionally dump their .explain("formatted") plans to plans/<round>/.

Usage:
  python tools/opt_probe.py [--iters N] [--plans SUFFIX] [--plans-dir D]
                            [--sf DIR] q1 q2 ...

With --plans before (say), writes plans/<round>/<query>_before.txt for
each query (default round dir: r17).  Timing methodology matches bench.py
`_time_query` so numbers are directly comparable to BENCH_r*.json
headline entries.  Next to each time, stderr shows how many classes
Janino compiled over the timed iterations: a query whose generated code
is reused compiles 0 after its warm-up.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from parcial_bigdata_spark.plans.registry import QUERIES  # noqa: E402
from parcial_bigdata_spark.session import codegen_compiles, get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--plans", default=None,
                    help="suffix: write plans/<round>/<q>_<suffix>.txt")
    ap.add_argument("--plans-dir", default="r17",
                    help="round subdirectory under plans/ (default r17)")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--no-time", action="store_true",
                    help="plans only, skip the timing loop")
    args = ap.parse_args()

    spark = get_spark("opt-probe")
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = args.sf

    plans_dir = Path(__file__).resolve().parent.parent / "plans" / args.plans_dir
    results: dict[str, float] = {}
    for name in args.queries:
        if name not in QUERIES:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"warm:{name}")
        try:
            QUERIES[name](spark, warm_dir).write.mode("overwrite").format(
                "noop").save()
        except Exception as e:  # warm-up failure is informative, not fatal
            print(f"!! warm-up {name}: {e}", file=sys.stderr)
        if args.plans:
            plans_dir.mkdir(parents=True, exist_ok=True)
            df = QUERIES[name](spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            (plans_dir / f"{name}_{args.plans}.txt").write_text(buf.getvalue())
        if args.no_time:
            continue
        # Guard the timing loop like the warm-up: one failing query must
        # not discard every already-collected timing (r16 advice).
        best = float("inf")
        compiled = codegen_compiles(spark)
        try:
            for i in range(max(1, args.iters)):
                spark.sparkContext.setJobDescription(f"time:{name}:{i}")
                t0 = time.perf_counter()
                QUERIES[name](spark, args.sf).write.mode("overwrite").format(
                    "noop").save()
                best = min(best, time.perf_counter() - t0)
        except Exception as e:
            print(f"!! timing {name}: {e}", file=sys.stderr)
            continue
        compiled = codegen_compiles(spark) - compiled
        results[name] = round(best, 3)
        print(f"{name}: {results[name]} ({compiled} classes compiled)",
              file=sys.stderr)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
