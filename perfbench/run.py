"""sparkdu benchmark: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload extract_web --seed 1 --seconds 12 --trace 0

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it is a ``{"report": ...}`` object with the host shape, every conf
and env value the benchmark set, per-job samples and check details.
Everything the run writes goes under ``.perfbench/`` in the repository.
See perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 4       # session set-ups per run; the first also boots the JVM, and
                 # setup_s is the median of the others
MIN_JOBS = 3     # the timed loop runs at least this many jobs

END_TO_END = {  # name -> unit
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ok_ratio": "ratio",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "leg.scan_s": "s",
    "leg.exchange_sort_s": "s",
    "leg.arrow_crossing_s": "s",
    "leg.kernel_s": "s",
    "mapinarrow.python_start_s": "s",
    "mapinarrow.python_init_s": "s",
    "mapinarrow.python_run_s": "s",
    "mapinarrow.bytes_sent": "bytes",
    "mapinarrow.bytes_returned": "bytes",
    "exchange.shuffle_bytes": "bytes",
    "exchange.shuffle_write_s": "s",
    "sort.time_s": "s",
    "sort.spill_bytes": "bytes",
    "sort.peak_mem_bytes": "bytes",
    "scan.time_s": "s",
    "scan.bytes_read": "bytes",
    "task.straggler_ratio": "ratio",
    "jvm.gc_s": "s",
    "api.dedup.keep_ratio": "ratio",
    "parse.sniff_decode.us_per_doc": "us",
    "parse.parse_blocks.us_per_doc": "us",
    "parse.extract_doc.us_per_doc": "us",
    "parse.extract_doc_model.us_per_doc": "us",
    "parse.docs_per_s_core": "docs/s",
    "warc.parse_warc.us_per_shard": "us",
    "warc.shard_error_accounting_s": "s",
    "warc.warc_pages_s": "s",
    "warc.shard_error_ratio": "ratio",
    "lineage.run_extract_job_s": "s",
    "snapshots.commit_wave_snapshot_s": "s",
    "write.files": "count",
    "write.bytes": "bytes",
    "write.task_commit_s": "s",
    "write.job_commit_s": "s",
    "webmeta.doc_meta_s": "s",
    "webmeta.outlinks_s": "s",
    "webmeta.links_per_doc": "links/doc",
    "wat_job.readback_s": "s",
    "pagexml.parse_pagexml.us_per_doc": "us",
    "pagexml.assemble_doc_text.us_per_doc": "us",
    "pdf.parse_pdf.us_per_doc": "us",
    "pdf.assemble_doc_text.us_per_doc": "us",
    "trace.overhead_ratio": "ratio",
}


def host_shape() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "python": platform.python_version()}


def configure(host: dict) -> dict:
    """Host-sized session settings, through sparkdu's own SPARKDU_* env vars
    plus the Spark and JVM variables that keep every file inside WORK."""
    local = os.path.join(WORK, "local", str(os.getpid()))
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    # an eighth of physical memory, 1-4 GiB: sparkdu's default heap of 16g
    # is OOM-killed on a 15 GB host. The heap is committed at start but not
    # touched, so the JVM's high-water RSS counts the heap pages the run
    # used, and heap demand moves peak_rss_mb. A fixed young generation
    # keeps the collector's adaptive sizing from moving it run to run.
    heap_mb = max(1024, min(4096, host["mem_total_mb"] // 8))
    env = {
        "SPARKDU_MASTER": f"local[{host['nproc']}]",
        "SPARKDU_DRIVER_MEM": f"{heap_mb}m",
        "SPARKDU_SHUFFLE_PARTITIONS": str(4 * host["nproc"]),
        "SPARKDU_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -Xms{heap_mb}m '
            f'-Xmn{heap_mb // 4}m" --conf spark.ui.showConsoleProgress=false pyspark-shell'),
    }
    os.environ.update(env)
    return env


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    PR_SET_CHILD_SUBREAPER), so that stop_children can wait for every
    process the run started, grandchildren included."""
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def stop_children(grace_s: float = 30.0) -> None:
    """End every process the run started and wait until each has ended.
    The Spark JVM exits when its stdin closes and stops its Python workers
    itself; multiprocessing's resource tracker exits when its pipe closes;
    whatever is left gets SIGTERM, then SIGKILL after ``grace_s``."""
    import observe

    context = sys.modules.get("pyspark.context")
    gateway = context.SparkContext._gateway if context else None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        with contextlib.suppress(subprocess.TimeoutExpired):
            proc.wait(grace_s)
    tracker = sys.modules.get("multiprocessing.resource_tracker")
    if tracker is not None:
        with contextlib.suppress(Exception):
            tracker._resource_tracker._stop()
    deadline = time.monotonic() + grace_s
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        pids = observe.descendants(os.getpid())[1:]
        if not pids:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in pids:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        time.sleep(0.2)


def iqr_share(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def closed_loop(wl, seconds: float, spans=None,
                around=contextlib.nullcontext) -> list[float]:
    """Back-to-back jobs, one in flight, until ``seconds`` have passed and
    at least MIN_JOBS jobs ran. Each job gets ``spans``; ``around()`` wraps
    each job outside its timed wall. The last job's output is deleted
    before the clock starts."""
    walls = []
    t_end = time.perf_counter() + seconds
    while len(walls) < MIN_JOBS or time.perf_counter() < t_end:
        wl.clear_output()
        with around():
            t0 = time.perf_counter()
            wl.job(spans)
            walls.append(time.perf_counter() - t0)
    return walls


def common_layers(observe, execs: list[dict], stages_by_job: list[list[dict]],
                  n_jobs: int) -> dict:
    """Per-job means of Spark's operator metrics over the traced jobs."""
    def per(node, name):
        return observe.metric_sum(execs, node, name) / n_jobs

    write = "Execute InsertIntoHadoopFsRelationCommand"
    # MapInArrow reports no input rows; in an execution that runs it, the
    # rows it reads are the ones its exchange delivered
    udf = [e for e in execs if e["metrics"].get("MapInArrow|number of output rows")]
    udf_out = observe.metric_sum(udf, "MapInArrow", "number of output rows")
    udf_in = observe.metric_sum(udf, "Exchange", "records read")
    stragglers = []
    for stages in stages_by_job:
        if stages:
            heavy = max(stages, key=lambda s: sum(s["durations_ms"]))["durations_ms"]
            stragglers.append(max(heavy) / max(1, statistics.median(heavy)))
    return {
        "mapinarrow.python_start_s": per("MapInArrow", "time to start Python workers"),
        "mapinarrow.python_init_s": per("MapInArrow", "time to initialize Python workers"),
        "mapinarrow.python_run_s": per("MapInArrow", "time to run Python workers"),
        "mapinarrow.bytes_sent": per("MapInArrow", "data sent to Python workers"),
        "mapinarrow.bytes_returned": per("MapInArrow", "data returned from Python workers"),
        "exchange.shuffle_bytes": per("Exchange", "shuffle bytes written"),
        "exchange.shuffle_write_s": per("Exchange", "shuffle write time"),
        "sort.time_s": per("Sort", "sort time"),
        "sort.spill_bytes": per("Sort", "spill size"),
        "sort.peak_mem_bytes": per("Sort", "peak memory"),
        "scan.time_s": per("Scan parquet", "scan time"),
        "scan.bytes_read": per("Scan parquet", "size of files read"),
        "write.files": per(write, "number of written files"),
        "write.bytes": per(write, "written output"),
        "write.task_commit_s": per(write, "task commit time"),
        "write.job_commit_s": per(write, "job commit time"),
        "task.straggler_ratio": statistics.median(stragglers) if stragglers else 0.0,
        "api.dedup.keep_ratio": udf_out / udf_in if udf_in else 0.0,
    }


def measure(args, host: dict, report: dict) -> dict:
    import inputs
    import observe
    import workloads
    from sparkdu import snapshots
    from sparkdu.session import get_spark

    Workload = workloads.WORKLOADS[args.workload]
    size = args.size or Workload.size
    t_run = t0 = time.perf_counter()
    corpus = inputs.corpus(Workload.kind, args.seed, size,
                           os.path.join(WORK, "cache"), host["nproc"])
    report["input"] = {"kind": Workload.kind, "size": size, "gen_version": inputs.GEN_VERSION,
                       "gen_s": time.perf_counter() - t0, "cached": corpus["cached"]}
    cpu0 = observe.cpu_times()
    out_root = os.path.join(WORK, "out", str(os.getpid()))
    spark = None
    try:
        setup_s, get_spark_s = [], []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(app=f"perfbench-{args.workload}")
            t1 = time.perf_counter()
            spark.sparkContext.setLogLevel("ERROR")
            wl = Workload(spark, corpus, out_root)
            wl.warm()
            setup_s.append(time.perf_counter() - t0)
            get_spark_s.append(t1 - t0)
        report["conf"] = {k: spark.conf.get(k) for k in (
            "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.local.dir", "spark.sql.execution.arrow.maxRecordsPerBatch")}
        report["versions"] = {"spark": spark.version, "pyarrow": __import__("pyarrow").__version__}

        wl.check_job()
        job0 = observe.last_job_id(spark)
        walls = closed_loop(wl, args.seconds)
        docs_per_s = [wl.docs() / w for w in walls]
        failed_tasks = sum(s["failed"] for s in observe.stage_tasks(spark, job0))
        attempted, failed, detail = wl.check()
        failed += failed_tasks
        rss = observe.peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        report["e2e"] = {"docs": wl.docs(), "job_walls_s": walls, "setups_s": setup_s,
                         "peak_rss_mb": rss,
                         "docs_per_s_iqr_share": iqr_share(docs_per_s),
                         "jobs": len(walls), "failed_tasks": failed_tasks, "check": detail}
        metrics = {
            "docs_per_s": statistics.median(docs_per_s),
            "setup_s": statistics.median(setup_s[1:]),
            "peak_rss_mb": rss["jvm"] + rss["workers"],
            "ok_ratio": 1.0 - failed / attempted,
        }
        if args.trace:
            metrics = trace(args, spark, wl, observe, snapshots, metrics, get_spark_s, report)
        report["host"]["cpu_steal_share"] = observe.steal_share(cpu0, observe.cpu_times())
        report["run_s"] = time.perf_counter() - t_run
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": metrics}
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(out_root, ignore_errors=True)
        shutil.rmtree(os.environ["SPARKDU_LOCAL_DIR"], ignore_errors=True)


def trace(args, spark, wl, observe, snapshots, e2e: dict, get_spark_s, report) -> dict:
    """The traced run: spans around each layer call, the wave commits
    wrapped, and the status store read once the traced jobs are done."""
    spans = observe.Spans(f"{args.workload}-s{args.seed}")
    exec0 = observe.last_execution_id(spark)
    gc0 = observe.gc_seconds(spark)
    stages_by_job = []

    @contextlib.contextmanager
    def capture_stages():
        job0 = observe.last_job_id(spark)
        yield
        stages_by_job.append(observe.stage_tasks(spark, job0))

    with observe.wrapped(snapshots, "commit_wave_snapshot", spans,
                         "snapshots.commit_wave_snapshot"):
        walls = closed_loop(wl, args.seconds, spans, capture_stages)
    gc_s = observe.gc_seconds(spark) - gc0
    execs = observe.sql_metrics(spark, exec0)
    n = len(walls)
    traced_docs_per_s = statistics.median(wl.docs() / w for w in walls)
    layers = {name: 0.0 for name in PER_LAYER}
    layers.update(common_layers(observe, execs, stages_by_job, n))
    layers.update(wl.layers(spans, execs, n))
    layers["session.get_spark_s"] = statistics.median(get_spark_s[1:])
    layers["jvm.gc_s"] = gc_s / n
    layers["trace.overhead_ratio"] = traced_docs_per_s / e2e["docs_per_s"]
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces", f"{spans.run_id}.json")
    spans.dump(path, execs)
    report["trace"] = {"file": os.path.relpath(path, ROOT), "jobs": n,
                       "job_walls_s": walls, "executions": len(execs),
                       "end_to_end": e2e}
    if layers["leg.kernel_s"]:
        # the legs telescope to the traced full job; compare with the untraced one
        legs = sum(v for k, v in layers.items() if k.startswith("leg."))
        report["trace"]["legs_over_untraced_wall"] = (
            legs / statistics.median(report["e2e"]["job_walls_s"]))
    return layers


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("extract_web", "extract_job_warc", "extract_job_native"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, default=0,
                    help="corpus size (default: the workload's own)")
    args = ap.parse_args(argv)
    missing = [d for d in ("sparkdu", "oracle", "artifacts")
               if not os.path.isdir(os.path.join(ROOT, d))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found next to perfbench/; "
              "run from a full sparkdu checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    adopt_orphans()
    host = host_shape()
    env = configure(host)
    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": host, "env": env}
    try:
        result = measure(args, host, report)
    except Exception:
        traceback.print_exc()
        print(json.dumps({"report": report}, default=str))
        return 1
    finally:
        stop_children()
    units = PER_LAYER if args.trace else END_TO_END
    result["metrics"] = {k: {"value": result["metrics"][k], "unit": u}
                         for k, u in units.items()}
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
