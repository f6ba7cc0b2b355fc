"""Benchmark of the scoobie_spark engine: one workload per process.

    python3 perfbench/run.py --workload prose_bulk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The process sets up a ``local[cores]``
session (session start, ``session.warm_up``, seeded inputs and KB, one
untimed pass of the workload), computes the reference output with the
engine's DuckDB twin, then calls the workload's entry function in a
closed loop, one Spark job in flight, until ``--seconds`` have passed.
Every output is counted and checked against the reference.

``--trace 0`` reports the end-to-end metrics (medians over the loop).
``--trace 1`` runs one untraced iteration, then traced ones, and
reports the per-layer metrics (see perfbench/README.md).

Human-readable lines and a detail record come first; the last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. Everything the run writes stays under
``.perfbench/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "wall_s": "s",
    "triples_per_s": "1/s",
    "cpu_s": "s",
    "shuffle_mb": "MB",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["prose_bulk", "kb_large", "code_kg"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="input size; tiny is for the smoke test")
    return p.parse_args(argv)


def confine(work: str) -> dict:
    """Keep every file the run writes under ``work``; returns session conf."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the session default (16g) is sized for the ×960 scaling runs
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    return {
        # no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def clean(spark, keep: set[int]) -> None:
    """Drop what earlier runs left persisted (lineage-cut blocks above
    all), then collect garbage on both sides; outside timed regions."""
    for rdd_id, jrdd in spark.sparkContext._jsc.getPersistentRDDs().items():
        if rdd_id not in keep:
            jrdd.unpersist(False)
    gc.collect()
    spark._jvm.System.gc()


def iteration(spark, wl, expected, tracer=None) -> dict:
    """One timed call of the workload's entry function, output counted
    and checked (unless ``expected`` is None)."""
    from perfbench import proctree, sparkstats
    from perfbench.workloads import digest

    clean(spark, wl.protected)
    wl.before()
    stage0 = sparkstats.next_stage_id(spark)
    exec0 = sparkstats.sql_execution_count(spark)
    run = tracer.new_run() if tracer else None
    mark = tracer.mark if tracer else time.perf_counter
    ok, n = False, 0
    cpu0 = proctree.cpu_seconds()
    with proctree.PeakRss() as rss:
        t0 = mark()
        try:
            n, d = digest(wl.run(spark), wl.columns)
            ok = expected is None or (n, d) == expected
            if not ok:
                print(f"output mismatch: got {(n, d)}, expected {expected}", file=sys.stderr)
        except Exception:  # a failed run counts in error_rate; the loop goes on
            traceback.print_exc()
        t1 = mark()
        cpu1 = proctree.cpu_seconds()
    rec = {
        "ok": ok,
        "wall_s": t1 - t0,
        "triples": n,
        "cpu_s": cpu1 - cpu0,
        "peak_rss_mb": rss.peak_mb,
        "shuffle_mb": sparkstats.stage_totals(
            spark, range(stage0, sparkstats.next_stage_id(spark))
        ).shuffle_mb,
        "content_scans": sparkstats.content_scans(spark, exec0),
    }
    if tracer:
        from perfbench import layers

        tracer.count_rows(run)
        spans = tracer.run_spans(run)
        rec["layers"] = {
            **layers.generic(tracer, spans, t0, t1, spark, wl.cores),
            **layers.specific(spans, getattr(wl, "cfg", None), wl.shape),
        }
        rec["coverage"] = sum(rec["layers"][f"{x}.wall_s"] for x in layers.LAYERS) / (t1 - t0)
    wl.after()
    return rec


def env_stamp(spark, cores: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark
    from scoobie_spark import session

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "cores": cores,
        "spark_local_dir": spark.sparkContext.getConf().get("spark.local.dir", None),
        "session_default_local_dir": session._default_local_dir(),
        "driver_memory": os.environ["SPARK_DRIVER_MEM"],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "git_commit": git_commit(),
        "source_sha256": source_digest(),
    }


def git_commit() -> str | None:
    """HEAD of the checkout, read from .git without running git; None
    when the checkout is not a repository."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        try:
            with open(os.path.join(git, ref)) as fh:
                return fh.read().strip()
        except FileNotFoundError:
            with open(os.path.join(git, "packed-refs")) as fh:
                for line in fh:
                    if line.rstrip().endswith(" " + ref):
                        return line.split()[0]
    except OSError:
        pass
    return None


def source_digest() -> str:
    """sha256 over the engine's Python sources: identifies the code when
    the checkout has no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "scoobie_spark")
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def median(records: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in records)


def bench(args, work: str) -> tuple[dict, dict, list[str]]:
    from scoobie_spark import session
    from perfbench import layers
    from perfbench.tracer import Tracer
    from perfbench.workloads import SCALES, WORKLOADS, digest

    conf = confine(work)
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    wl = WORKLOADS[args.workload](args.seed, SCALES[args.scale], work, cores)
    tracer = Tracer() if args.trace else None

    # -- set-up: session, warm-up, inputs and KB -----------------------
    t0 = tracer.mark() if tracer else time.perf_counter()
    phases = {}
    with tracer.instrument(layers.SETUP_HOOKS) if tracer else nullcontext():
        spark = session.get_spark("perfbench", cores=cores, extra_conf=conf)
        phases["start_s"] = time.perf_counter() - t0
        session.warm_up(spark)
        phases["warm_up_s"] = time.perf_counter() - t0 - sum(phases.values())
        wl.build(spark)
        phases["build_s"] = time.perf_counter() - t0 - sum(phases.values())
    t_built = tracer.mark() if tracer else time.perf_counter()
    setup_s = t_built - t0

    t = time.perf_counter()
    ref = spark.createDataFrame(wl.reference()[wl.columns])
    expected = digest(ref, wl.columns)
    reference_s = time.perf_counter() - t

    # -- measured loop -------------------------------------------------
    # The first timed call is the session's first call of the entry
    # function, as in a batch job, so it pays the plan family's code
    # generation and JIT. An untimed warm-up call in set-up would add
    # about a fifth to every run, which the run budget cannot take.
    baseline = None
    if tracer:
        # warm, then one untraced call: the baseline of trace.overhead
        iteration(spark, wl, None)
        baseline = iteration(spark, wl, expected)
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    records: list[dict] = []
    loop_t0 = time.perf_counter()
    with tracer.instrument(layers.ITERATION_HOOKS) if tracer else nullcontext():
        while not records or time.perf_counter() - loop_t0 < args.seconds:
            if tracer:
                spark.profile.clear()
            records.append(iteration(spark, wl, expected, tracer))

    wl.note_iteration()
    failed = sum(not r["ok"] for r in records)
    good = [r for r in records if r["ok"]] or records
    correct = failed == 0
    if tracer:
        setup_spans = tracer.run_spans(0)
        session_generic = layers.generic(tracer, setup_spans, t0, t_built, spark, cores)
        values = {
            name: statistics.median(r["layers"][name] for r in good)
            for name in good[0]["layers"]
        }
        values.update({k: v for k, v in session_generic.items() if k.startswith("session.")})
        values.update(layers.setup_specific(setup_spans))
        values["codegraph.content_scans"] = float(baseline["content_scans"]) if args.workload == "code_kg" else 0.0
        values["trace.wall_s"] = median(good, "wall_s")
        values["trace.overhead"] = values["trace.wall_s"] / baseline["wall_s"]
        values["trace.coverage"] = median(good, "coverage")
        metrics = {n: {"value": float(values[n]), "unit": layers.unit(n)} for n in layers.metric_names()}
    else:
        values = {
            "wall_s": median(good, "wall_s"),
            "triples_per_s": statistics.median(r["triples"] / r["wall_s"] for r in good),
            "cpu_s": median(good, "cpu_s"),
            "shuffle_mb": median(good, "shuffle_mb"),
            "peak_rss_mb": median(good, "peak_rss_mb"),
            "setup_s": setup_s,
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}

    error_rate = failed / len(records)
    table = [f"{args.workload}  {n:<28} {m['value']:>14.4f} {m['unit']}" for n, m in metrics.items()]
    table.append(f"{args.workload}  {'error_rate':<28} {error_rate:>14.4f} ratio")
    table.append(f"{args.workload}  samples {len(good)} of {len(records)} runs; "
                 f"setup {setup_s:.2f} s; reference {reference_s:.2f} s")
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "trace": args.trace,
        "samples": len(good),
        "error_rate": error_rate,
        "setup_s": setup_s,
        "setup_phases": phases,
        "reference_s": reference_s,
        "expected_triples": expected[0],
        "shape": wl.shape,
        "wall_s_runs": [r["wall_s"] for r in records],
        "env": env_stamp(spark, cores),
    }
    if tracer:
        detail["untraced_wall_s"] = baseline["wall_s"]
        detail["spans"] = [
            {"run": s.run, "name": s.name, "layer": s.layer, "id": s.id, "parent": s.parent,
             "start": s.start - t0, "end": s.end - t0, "rows": s.rows}
            for s in tracer.spans
        ]
    result = {"correct": correct, "attempted": len(records), "failed": failed, "metrics": metrics}
    return result, detail, table


def stop() -> None:
    """Stop the session, if one started, and wait until the JVM and its
    Python workers exit."""
    from pyspark import SparkContext

    from perfbench import proctree

    gateway = SparkContext._gateway
    if gateway is None:
        return
    pids = proctree.descendants()
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    proctree.wait_gone(pids, timeout_s=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "scoobie_spark", "__init__.py")):
        print(f"perfbench: no scoobie_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result, detail, table = bench(args, work)
    finally:
        stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    print("\n".join(table))
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
