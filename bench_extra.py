"""Round-6 optimization measurement harness (bench.py is FROZEN for the
driver; everything extra lives here — guide §1.4/§1.5).

Modes:

``python bench_extra.py --explain [names...]``
    Write ``.explain("formatted")`` for each declared query to
    ``plans/r06/<name>_<tag>.txt`` (tag via --tag, default "before").

``python bench_extra.py --noop [names...]``
    Time each query with the noop sink (computes every column, no driver
    collect-side cost) — best-of-2 per query, job-labelled, one JSON line.

Both read $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS like bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

import bench  # noqa: E402  (bench.py imports Spark lazily: cheap)

# every query bench.py times (headline + pipeline); models are step objects,
# not DataFrames — they have no single explain and are timed by bench.py
TIMED = [*bench.HEADLINE, *bench.PIPELINE_OPS]


def _get_spark():
    from recipeselectors_spark.session import get_spark

    return get_spark(app_name="bench_extra", master=f"local[{CPUS}]",
                     shuffle_partitions=CPUS)


def run_explain(names: list[str], tag: str) -> None:
    import __spark_entry__ as entrymod

    spark = _get_spark()
    qs = entrymod.queries()
    outdir = os.path.join(REPO, "plans", "r06")
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path}")
    spark.stop()


def run_noop(names: list[str], runs: int = 2) -> None:
    import __spark_entry__ as entrymod

    spark = _get_spark()
    sc = spark.sparkContext
    qs = entrymod.queries()
    spark.read.parquet(f"{SF_DIR}/events.parquet").count()  # warm JVM
    out: dict[str, float] = {}
    for name in names:
        best = None
        for i in range(runs):
            sc.setJobDescription(f"noop:{name}:{i}")
            t0 = time.time()
            qs[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.time() - t0
            sc.setJobDescription(None)
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
    print(json.dumps({"noop_best": out, "sf_dir": SF_DIR}))
    spark.stop()


if __name__ == "__main__":
    args = [a for a in sys.argv[1:]]
    tag = "before"
    if "--tag" in args:
        i = args.index("--tag")
        tag = args[i + 1]
        del args[i:i + 2]
    if args and args[0] == "--explain":
        names = args[1:] or TIMED
        run_explain(names, tag)
    elif args and args[0] == "--noop":
        names = args[1:] or TIMED
        run_noop(names)
    else:
        raise SystemExit("usage: bench_extra.py --explain|--noop [names...]")
