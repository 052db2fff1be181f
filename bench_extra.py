"""Per-query isolation bench (guide §1.4) — NOT the driver contract.

Runs each headline query with the same session geometry as bench.py,
times the noop-sink execution, and writes .explain("formatted") output
to plans/r06/.  Usage:

    SPARK_GRAFT_SF_DIR=<tables dir> python bench_extra.py [query ...]

The query list (default bench.HEADLINE) and the tables directory (default
bench.SF_DIR, the sf0.1 tables) are bench.py's.

Options via env:
    SPARK_GRAFT_EXTRA_REPS   repetitions per query (default 2; min is kept)
    SPARK_GRAFT_PLAN_TAG     suffix for the plan file (default "before")
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import bench  # noqa: E402

SF_DIR = bench.SF_DIR
REPS = int(os.environ.get("SPARK_GRAFT_EXTRA_REPS", "2"))
TAG = os.environ.get("SPARK_GRAFT_PLAN_TAG", "before")
PLAN_DIR = os.path.join(REPO, "plans", "r06")


def main() -> None:
    names = sys.argv[1:] or bench.HEADLINE
    os.makedirs(PLAN_DIR, exist_ok=True)
    from octocode_spark.queries import queries

    qs = queries()
    spark = bench._spark(bench.CPUS)
    out: dict[str, list[float]] = {}
    try:
        for name in names:
            samples = []
            for rep in range(REPS):
                spark.sparkContext.setJobDescription(f"{name} rep{rep}")
                t0 = time.monotonic()
                df = qs[name](spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                samples.append(round(time.monotonic() - t0, 3))
            out[name] = samples
            # plan AFTER timing (explain itself plans; keep timing clean)
            df = qs[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(PLAN_DIR, f"{name}_{TAG}.txt"), "w") as f:
                f.write(plan)
            print(json.dumps({name: samples}), flush=True)
    finally:
        spark.stop()
    print(json.dumps({"sf": SF_DIR, "samples": out, "min": {k: min(v) for k, v in out.items()}}))


if __name__ == "__main__":
    main()
