"""Repository benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload select_models --seed 1 --seconds 10 --trace 0

Run from the repository root. The command re-launches itself as a child in
its own process group with a pinned environment (``local[nproc]``, driver
memory below host RAM, Spark scratch and temp dirs under
``.perfbench_work/``), waits for it and then kills the whole group, so no
Spark JVM outlives the run. The child

1. starts the Spark session in a fresh JVM and generates and caches the
   workload's inputs from ``--seed`` (``setup_s`` runs from the launch of
   the child process to the end of this step);
2. runs one cold pass and builds the reference the passes are checked
   against;
3. runs the timed passes back to back (one caller, closed loop), as many as
   fill ``--seconds`` at the workload's nominal pass time on a 4-core host,
   and at least one.

Every pass's output is checked after its timed interval.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes, reports per-layer metrics from spans placed
around the calls into each layer (see ``spans.py``), and writes the spans
as JSONL under ``.perfbench_work/traces/``. Span names of layers the chosen
workload does not call read 0.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines before it
describe the environment, the inputs, the pass times with the tail
percentile, and the wall time of each phase.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "2g"

SPANS = {
    "assemble_corpus": [
        "operators.assembly.assemble_features",
        "operators.asof.asof_join_union",
        "operators.asof.asof_join_cogroup",
        "sources.checkpoint.run_sharded",
        "operators.quality_filter.quality_filter",
        "operators.bm25.bm25_scores",
        "operators.dedup.dedup_corpus_clusters",
    ],
    "select_models": [
        "operators.select_infgain.prep",
        "operators.select_roc.prep",
        "operators.select_xtab.prep",
        "operators.select_mrmr.prep",
        "operators.select_carscore.prep",
        "operators.select_forests.prep",
        "operators.select_boruta.prep",
        "plans.pipeline.bake",
        "plans.tuning.reprune",
    ],
}
MEASURES = {
    "s": "s", "jobs": "count", "stages": "count", "exec_cpu_s": "s",
    "shuffle_bytes": "B", "driver_s": "s",
}
EXTRAS = {
    "session.get_spark.s": "s",
    "sources.checkpoint.run_sharded.bytes_written": "B",
    "operators.dedup.minhash_candidates.useful_ratio": "ratio",
    "tracing_overhead_s": "s",
    "pass.traced_s": "s",
    "pass.uncovered_s": "s",
}
END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SPANS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    p.add_argument("--corrupt-reference", action="store_true",
                   help="perturb the reference (self-check of the output check)")
    p.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


# -- parent: pin the environment, run the child, reap its process group ------

def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _reap(pgid: int) -> None:
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 5
    while _group_alive(pgid) and time.time() < deadline:
        time.sleep(0.1)


def _child_timeout_s(seconds: float) -> float:
    # set-up and the cold pass take 35-50 s on a 4-core host and a traced
    # run adds a pass and the extras; the timed passes fill about --seconds
    return 150 + 2 * seconds


def parent(argv) -> int:
    args = _args(argv)
    for need in ("recipeselectors_spark/session.py", "tests/oracles.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found; run from the repository root",
                  file=sys.stderr)
            return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYSPARK_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
        PYTHONPATH=ROOT,
        PERFBENCH_RUN_DIR=run_dir,
        PERFBENCH_LAUNCH_T=repr(time.time()),
    )
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--child", *argv],
        stdout=subprocess.PIPE, text=True, cwd=ROOT, env=env,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=_child_timeout_s(args.seconds))
    except subprocess.TimeoutExpired:
        _reap(proc.pid)
        proc.communicate()
        print("perfbench: run timed out", file=sys.stderr)
        return 3
    finally:
        _reap(proc.pid)
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.stdout.write(out)
    return proc.returncode


# -- child: the measured run ---------------------------------------------------

def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _tail(times: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least 10 passes beyond it: (value,
    percentile, passes beyond). Below 11 passes this is the maximum."""
    s = sorted(times)
    if len(s) < 11:
        return s[-1], 100.0, 0
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s), 10


def _env_record(spark) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    sha = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True)
        sha = r.stdout.strip() or sha
    return {
        "nproc": spark.sparkContext.defaultParallelism,
        "ram_gb": round(mem_kb / 2**20, 1),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_sha": sha,
    }


def child(argv) -> int:
    phases = {"start": time.perf_counter()}
    args = _args(argv)
    from spans import Tracer
    from workloads import WORKLOADS

    from recipeselectors_spark.session import get_spark

    run_dir = os.environ["PERFBENCH_RUN_DIR"]
    nproc = len(os.sched_getaffinity(0))
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
    }

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]",
                      shuffle_partitions=nproc, extra_conf=conf)
    session_s = time.perf_counter() - t0
    wl = WORKLOADS[args.workload](spark, args.seed, args.size,
                                  os.path.join(run_dir, "data"))
    digest = wl.setup()
    # from the launch of this process: interpreter, imports, JVM start,
    # session, input generation and caching
    setup_s = time.time() - float(os.environ["PERFBENCH_LAUNCH_T"])
    phases["setup"] = time.perf_counter()
    tracer = Tracer(spark, args.workload)
    wl.tracer = tracer
    wl.corrupt = args.corrupt_reference
    print(json.dumps({"env": _env_record(spark)}))
    print(json.dumps({"input": {"workload": args.workload, "seed": args.seed,
                                "size": wl.size, "rows": wl.rows,
                                "row_unit": wl.row_unit, "digest": digest}}))

    attempted = failed = 0

    def one_pass(pass_id: int, traced: bool):
        """Run and check one pass; its wall time, or None if it raised."""
        nonlocal attempted, failed
        attempted += 1
        tracer.enabled = traced
        t0 = time.perf_counter()
        try:
            with tracer.traced_pass(pass_id):
                result = wl.run_pass(pass_id)
            dt = time.perf_counter() - t0
            tracer.enabled = False
            if pass_id == 0:
                wl.build_reference()
            if not wl.check(result):
                failed += 1
        except Exception as e:  # a failing pass is counted, not fatal
            tracer.enabled = False
            failed += 1
            print(json.dumps({"pass_error": pass_id, "error": repr(e)[:500]}))
            return None
        return dt

    cold = one_pass(0, traced=False)
    phases["cold_pass"] = time.perf_counter()
    untraced, traced = [], []
    # closed loop, one caller. The window holds a fixed number of passes,
    # sized from --seconds and the workload's nominal warm pass time, so
    # every run of a workload does the same work. A traced run alternates
    # untraced and traced passes, at least one each.
    n_passes = max(2 if args.trace else 1, round(args.seconds / wl.nominal_pass_s))
    for pass_id in range(1, 1 + n_passes):
        want_trace = bool(args.trace) and pass_id % 2 == 0
        dt = one_pass(pass_id, traced=want_trace)
        if dt is not None:
            (traced if want_trace else untraced).append(dt)
    phases["window"] = time.perf_counter()

    if args.trace:
        wl.trace_extras()
        metrics = _layer_metrics(wl, tracer, session_s, untraced, traced)
        path = os.path.join(WORK, "traces",
                            f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl")
        tracer.write_jsonl(path)
        print(json.dumps({"trace_file": os.path.relpath(path, ROOT)}))
    else:
        metrics = _end_to_end(wl, spark, setup_s, cold, untraced)
    spark.stop()
    phases["report_and_stop"] = time.perf_counter()
    marks = list(phases.values())
    print(json.dumps({"phases_s": {
        k: round(b - a, 3) for k, a, b in zip(list(phases)[1:], marks, marks[1:])
    }}))
    print(json.dumps({
        "correct": failed == 0 and cold is not None and bool(untraced),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _end_to_end(wl, spark, setup_s, cold, times) -> dict:
    if cold is None or not times:
        return {}
    pass_s = statistics.median(times)
    tail, pct, beyond = _tail(times)
    # the tail is printed, not a metric: with 2-4 timed passes per run it
    # is the slowest pass, whose spread across runs exceeds any bound
    print(json.dumps({"pass_s_tail": {"value": tail, "percentile": round(pct, 1),
                                      "passes": len(times),
                                      "passes_beyond": beyond},
                      "pass_times_s": [round(t, 3) for t in times]}))
    jvm_pid = spark.sparkContext._gateway.proc.pid
    rss_mb = (_hwm_kb(os.getpid()) + _hwm_kb(jvm_pid)) / 1024.0
    values = {
        "setup_s": setup_s,
        "cold_pass_s": cold,
        "pass_s": pass_s,
        "rows_per_s": wl.rows / pass_s,
        "peak_rss_mb": rss_mb,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def _layer_metrics(wl, tracer, session_s, untraced, traced) -> dict:
    out = {}
    passes = sorted({r["pass_id"] for r in tracer.records if "s" in r})
    for name in (n for names in SPANS.values() for n in names):
        for m, unit in MEASURES.items():
            per_pass = [
                sum(r[m] for r in tracer.records
                    if r["pass_id"] == p and r["name"] == name)
                for p in passes
            ]
            v = statistics.median(per_pass) if per_pass else 0.0
            out[f"{name}.{m}"] = {"value": v, "unit": unit}
    roots = [r for r in tracer.records if r["name"] == "pass" and "s" in r]
    # reconciliation: span self-times plus the uncovered remainder equal
    # the traced pass time
    gaps = []
    for root in roots:
        inside = [r for r in tracer.records if r["pass_id"] == root["pass_id"]]
        gaps.append(abs(sum(r["self_s"] for r in inside) - root["s"]))
    print(json.dumps({"reconcile_max_abs_s": max(gaps) if gaps else None,
                      "traced_passes": len(roots),
                      "untraced_passes": len(untraced)}))
    extras = {
        "session.get_spark.s": session_s,
        "sources.checkpoint.run_sharded.bytes_written": float(wl.bytes_written),
        "operators.dedup.minhash_candidates.useful_ratio": wl.useful_ratio,
        "tracing_overhead_s": (statistics.median(traced) - statistics.median(untraced)
                               if traced and untraced else 0.0),
        "pass.traced_s": statistics.median([r["s"] for r in roots]) if roots else 0.0,
        "pass.uncovered_s":
            statistics.median([r["self_s"] for r in roots]) if roots else 0.0,
    }
    for k, v in extras.items():
        out[k] = {"value": v, "unit": EXTRAS[k]}
    return out


if __name__ == "__main__":
    argv = sys.argv[1:]
    if "--child" in argv:
        argv.remove("--child")
        sys.exit(child(argv))
    sys.exit(parent(argv))
