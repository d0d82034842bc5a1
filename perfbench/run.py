"""Warm-JVM benchmark of the KG build and the analytic query suite.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0

One process runs one workload in a closed loop of back-to-back passes on
local[<usable cores / 2>].  Set-up starts the Spark session, makes the inputs
from the seed and runs one warm-up pass; only the passes after it are timed:
at least one, and then more while the next one is expected to end within
`--seconds`.

Workloads:
  kg_build     one fresh run_kg_pipeline per pass (Arrow extract, 8 buckets)
               over synthesize_repos_sql(KG_FILES, seed), written to parquet
               in set-up.  Checked: stage counts and the relations content
               hash repeat across passes; every manifest row has sha_ok.
  query_suite  the 16 registry leaves bench.py times after its KG leaves,
               each materialized with .count(), over a many-file copy of the
               fixed sf0.1 tables (the seed is unused: the tables are fixed);
               the warm-up pass runs them over the sf0.01 tables.  Checked:
               each count equals the sf0.1 count of BENCH_r06.json.

With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics of a traced pass, which runs each
call into a package layer under its own Spark job group.  Each run also
writes perfbench/results/<workload>-seed<seed>-trace<trace>.json with the
pass times, set-up breakdown, spans and, in traced runs, the job
attribution, the bench._burn() calibration around each pass and the tracing
overhead (traced minus untraced pass wall).
"""

from __future__ import annotations

import argparse
import json
import logging
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

import workloads as W  # noqa: E402  (imports the package: fails fast outside a checkout)
from bench import _burn  # noqa: E402
from biomedical_ner_spark.session import get_spark  # noqa: E402
from probes import JobTracer, RssSampler, tree, tree_cpu_s  # noqa: E402

# a 4k-file corpus keeps a kg_build run near 50 s on 4 cores (20k files take
# ~66 s); at 2k a pass is almost all fixed per-job cost
KG_FILES = 4_000
HEAP = "2g"
SPARK_METRICS = ("jobs", "tasks", "busy_frac", "gc_s", "spill_mb",
                 "failed_tasks")
END_TO_END = {"wall_s": "s", "rows_per_s": "1/s", "cpu_s": "s",
              "peak_rss_mb": "MB", "setup_s": "s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    unit = {"wall_s": "s", "busy_s": "s", "gc_s": "s", "shuffle_mb": "MB",
            "spill_mb": "MB", "link_rate": "ratio", "busy_frac": "ratio"}
    names = [f"{call}.{m}" for call, ms in W.KG_CALLS.items() for m in ms]
    names += [f"{mod}.{q}.{m}" for mod, q in W.QUERY_LEAVES
              for m in W.QUERY_METRICS]
    names += [f"spark.{m}" for m in SPARK_METRICS]
    return {n: unit.get(n.rsplit(".", 1)[1], "count") for n in names}


def start_session(work: str, cores: int):
    """Spark on local[cores], its temporary files inside `work`, the package
    importable by the Python workers whatever the working directory."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=max(4 * cores, 32),  # bench.py's rule
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the inputs fit a 2 GB heap easily; with the package's 8 GB
            # the heap grew by a different amount each run (peak tree
            # memory 4.4-6.3 GB over five kg_build runs)
            "spark.driver.memory": HEAP,
            "spark.local.dir": tmp,
            # get_spark's ParallelGC, and no JVM files outside `work`
            "spark.driver.extraJavaOptions":
                f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            # keep every job and stage of a run for the traced read-out
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    pids = set(tree(os.getpid())) - {os.getpid()}
    gateway_proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    # py4j finalizers that fire after the JVM is gone log a harmless
    # connection-reset traceback
    logging.disable(logging.CRITICAL)
    if gateway_proc is not None:
        gateway_proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            gateway_proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway_proc.kill()
            gateway_proc.wait()
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run_pass(wl, tag: str, ops: int) -> W.Pass:
    """One pass; a pass that raises counts all its operations as failed."""
    try:
        return wl.warm_up() if tag == "warmup" else wl.run_pass(tag)
    except Exception as e:  # the loop must go on to report the failure
        print(f"pass {tag} failed: {e!r}", file=sys.stderr, flush=True)
        return W.Pass(float("nan"), 0, ops, ops)


def timed(wl, ops: int, seconds: float, art: dict) -> tuple[dict, int, int]:
    walls, cpus, rows, parts = [], [], [], []
    attempted = failed = 0
    with RssSampler() as rss:
        t_end = time.perf_counter() + seconds
        while True:
            c0 = tree_cpu_s()
            p = run_pass(wl, f"pass-{len(walls)}", ops)
            cpus.append(tree_cpu_s() - c0)
            walls.append(p.wall_s)
            rows.append(p.rows)
            parts.append(p.parts)
            attempted += p.ops
            failed += p.failed
            # stop before a pass that would end past the deadline, so a run
            # of a slow workload is not stretched by a whole extra pass
            nxt = 0.0 if math.isnan(p.wall_s) else p.wall_s
            if time.perf_counter() + nxt > t_end:
                break
    art.update(pass_walls=walls, pass_cpu_s=cpus, pass_rows=rows,
               pass_parts=parts,
               rss_samples_mb=[round(x, 1) for x in rss.samples])
    done = [i for i, w in enumerate(walls) if not math.isnan(w)]
    if not done:
        raise RuntimeError("every timed pass raised")
    wall = statistics.median(walls[i] for i in done)
    return {
        "wall_s": wall,
        "rows_per_s": statistics.median(rows[i] for i in done) / wall,
        "cpu_s": statistics.median(cpus[i] for i in done),
        "peak_rss_mb": rss.peak_mb,
    }, attempted, failed


def traced(wl, ops: int, cores: int, art: dict) -> tuple[dict, int, int]:
    """An untraced pass, then the traced pass; _burn() around each."""
    burns = [_burn()]
    untraced = run_pass(wl, "untraced", ops)
    burns.append(_burn())
    tracer = JobTracer(wl.spark)
    layer, p = wl.traced(tracer)
    burns.append(_burn())

    metrics = dict.fromkeys(per_layer_units(), 0)
    metrics.update(layer)
    spans = tracer.spans
    for call in {s["name"] for s in spans}:
        g = tracer.group_metrics(call)
        g["wall_s"] = sum(s["end"] - s["start"] for s in spans
                          if s["name"] == call)
        for k, v in g.items():
            if f"{call}.{k}" in metrics:
                metrics[f"{call}.{k}"] = v
    top_wall = sum(s["end"] - s["start"] for s in spans
                   if s["parent"] is None)
    win = tracer.window_metrics()
    for k in SPARK_METRICS:
        if k != "busy_frac":
            metrics[f"spark.{k}"] = win[k]
    metrics["spark.busy_frac"] = win["busy_s"] / (top_wall * cores)
    named_jobs = sum(v for k, v in metrics.items()
                     if k.endswith(".jobs") and k != "spark.jobs")
    jobs = tracer.window_jobs()
    art.update(
        spans=spans,
        jobs=[{"job": j, "group": g} for j, g in jobs],
        unattributed_jobs=metrics["spark.jobs"] - named_jobs,
        burn_s=burns,
        untraced_wall_s=untraced.wall_s,
        traced_wall_s=p.wall_s,
        tracing_overhead_s=p.wall_s - untraced.wall_s,
    )
    if art["unattributed_jobs"]:
        print(f"{art['unattributed_jobs']} jobs outside the named calls",
              file=sys.stderr, flush=True)
    return metrics, untraced.ops + p.ops, untraced.failed + p.failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("kg_build", "query_suite"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # half the cores run tasks; the rest are left to the driver, the Python
    # worker paired with each task, the JIT compiler and the garbage
    # collector.  Both workloads are bound by the driver and per-job costs:
    # on a 4-core host a pass on 2 task slots took about as long as on 3 or
    # 4 (kg_build 10.4-11.2 s against 9.4-11.0 s, query_suite 19.7 s against
    # 18.5-19.7 s), and with fewer threads than cores a run depends less on
    # what else the host runs (beside two busy-loop processes a kg_build
    # pass slowed 28-34% on 2 task slots, 38-54% on 4)
    usable = len(os.sched_getaffinity(0))
    cores = max(1, usable // 2)
    os.makedirs(f"{HERE}/work", exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=f"{HERE}/work")
    art: dict = {"workload": args.workload, "seed": args.seed,
                 "seconds": args.seconds, "trace": args.trace,
                 "usable_cores": usable, "cores": cores}
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cores)
        try:
            t1 = time.perf_counter()
            if args.workload == "kg_build":
                wl = W.KgBuild(spark, work, args.seed, KG_FILES)
                ops = 1
            else:
                wl = W.QuerySuite(spark, work, cores,
                                  W.expected_counts(REPO))
                ops = len(W.QUERY_LEAVES)
            wl.prepare()
            t2 = time.perf_counter()
            warm = run_pass(wl, "warmup", ops)
            setup_s = time.perf_counter() - t0
            art.update(session_s=t1 - t0, prepare_s=t2 - t1,
                       warmup_wall_s=warm.wall_s, warmup_parts=warm.parts,
                       setup_s=setup_s)
            if args.trace:
                metrics, attempted, failed = traced(wl, ops, cores, art)
                units = per_layer_units()
            else:
                metrics, attempted, failed = timed(wl, ops, args.seconds,
                                                   art)
                metrics["setup_s"] = setup_s
                units = END_TO_END
            attempted += warm.ops
            failed += warm.failed
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = {
        # a traced run is also wrong if some job escaped the named calls
        "correct": failed == 0 and not art.get("unattributed_jobs"),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }
    art["result"] = result
    os.makedirs(f"{HERE}/results", exist_ok=True)
    with open(f"{HERE}/results/{args.workload}-seed{args.seed}"
              f"-trace{args.trace}.json", "w") as f:
        json.dump(art, f, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
