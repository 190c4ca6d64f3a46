"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Everything a run writes (warehouse,
generated tables, Spark local dirs, JVM temp files) goes under
``.perfbench_tmp/`` in the checkout and is deleted at exit; a traced run
also writes its spans to ``.perfbench_out/``. The first run of each
workload in a checkout builds a JVM class-data-sharing archive of the
classes it loaded into ``.perfbench_build/``; later runs start from it,
which takes several seconds of class loading off every run's set-up.

Output: one ``perfbench env`` line (effective environment), one
``perfbench report`` line (the workload's own named metrics, error rate
included), then, last, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import etl_data_spark  # noqa: E402,F401  (fails fast outside a checkout)

from perfbench.tracer import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, Bench, peak_rss_mb, process_tree  # noqa: E402

DRIVER_HEAP = "2g"
BUILD = os.path.join(ROOT, ".perfbench_build")

PER_LAYER = [
    "session.get_spark_s",
    "ingest.ingest_bronze_s",
    "ingest.jobs",
    "star.build_star_s",
    "star.shuffle_write_bytes",
    "dq.run_reference_dq_s",
    "dq.jobs",
    "dq.input_bytes",
    "pipeline.export_mart_s",
    "pipeline.stored_bytes_per_row",
    "io.writers.write_partitioned_s",
    "io.writers.files_written",
    "io.writers.bytes_written",
    "io.writers.overwrite_by_window_s",
    "io.writers.months_rewritten",
    "io.writers.bytes_rewritten",
    "io.writers.write_amp",
    "catalog.plan_s",
    "catalog.exec_s",
    "catalog.input_records_per_result_row",
    "catalog.shuffle_write_bytes",
    "report.render_dashboard_s",
    "caching.release_all_s",
    "caching.pinned_after_release",
    "operators.dedup.minhash_lsh_pairs_s",
    "operators.dedup.connected_components_s",
    "operators.dedup.dedup_survivors_s",
    "operators.dedup.verified_pairs",
    "operators.dedup.verified_per_candidate",
    "operators.text.quality_kept_ratio",
    "spark.jobs",
    "spark.tasks",
    "spark.failed_tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.input_bytes",
    "spark.output_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.core_busy_ratio",
    "trace.overhead_ratio",
]


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes_per_row"):
        return "B/row"
    if "bytes" in name:
        return "B"
    if "ratio" in name or "per_" in name or name.endswith("amp"):
        return "ratio"
    return "count"


def _source_sha() -> dict[str, str | None]:
    git = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            git = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            git = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "etl_data_spark")
    for d, dirs, names in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(d, n)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return {"git_sha": git, "source_sha256": h.hexdigest()[:16]}


def _isolate(tmp: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into tmp."""
    for sub in ("local", "java", "py"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(tmp, 'java')}"
    )
    import tempfile

    tempfile.tempdir = os.path.join(tmp, "py")


def _cds(workload: str) -> tuple[str, tuple[str, str] | None]:
    """Driver JVM options for the workload's class-data-sharing archive,
    and (written, final) archive paths when this run has to dump it.

    An archive only matches a JVM started with the same class path, and the
    Spark conf directory is on it. The conf directory is swapped for an
    empty fixed one, so only when it holds nothing but templates (no
    setting changes); otherwise the run goes without an archive."""
    home = os.environ.get("SPARK_HOME") or os.path.dirname(
        __import__("pyspark").__file__
    )
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
    if os.path.isdir(conf) and any(not n.endswith(".template") for n in os.listdir(conf)):
        return "", None
    empty = os.path.join(BUILD, "conf")
    os.makedirs(empty, exist_ok=True)
    os.environ["SPARK_CONF_DIR"] = empty
    archive = os.path.join(BUILD, f"{workload}.jsa")
    quiet = "-Xlog:cds*=off -Xlog:class+path=off"
    if os.path.exists(archive):
        return f"-XX:SharedArchiveFile={archive} {quiet}", None
    pending = f"{archive}.{os.getpid()}"
    return f"-XX:ArchiveClassesAtExit={pending} {quiet}", (pending, archive)


def _alive(pid: int) -> bool:
    """Whether ``pid`` still runs (an exited, unreaped zombie does not)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _stop(spark) -> None:
    """Stop Spark, wait for the gateway JVM to exit, then for the Python
    workers it started (they exit when the JVM closes their pipes)."""
    from pyspark import SparkContext

    started = set(process_tree()) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        left = [p for p in started if _alive(p)]
        if not left:
            return
        time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    _isolate(tmp)
    cds_opts, cds_dump = _cds(args.workload)
    tracer = Tracer(f"{args.workload}-{args.seed}") if args.trace else None

    from etl_data_spark import session

    spark = None
    try:
        t0 = time.perf_counter()
        spark = session.get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf={
                "spark.local.dir": os.path.join(tmp, "local"),
                "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
                # -Xms = -Xmx: the heap never resizes, so peak RSS does not
                # depend on when the collector decided to grow it
                "spark.driver.extraJavaOptions": (
                    f"-Xms{DRIVER_HEAP} -Dderby.system.home={tmp} {cds_opts}"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        get_spark_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        if tracer is not None:
            tracer.spark = spark
        b = Bench(spark, tmp, args.seed, args.seconds, tracer, cores, setup_s=get_spark_s)
        b.layers["session.get_spark_s"] = get_spark_s
        WORKLOADS[args.workload](b)
        rss = peak_rss_mb(spark)
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "driver_heap": spark.sparkContext.getConf().get("spark.driver.memory"),
            "cds_archive": "dump" if cds_dump else ("use" if cds_opts else "off"),
            "spark_version": spark.version,
            **_source_sha(),
        }
    finally:
        if tracer is not None:
            tracer.unwrap_all()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        if cds_dump is not None and os.path.exists(cds_dump[0]):
            os.replace(*cds_dump)

    attempted = b.attempted
    report = dict(b.report)
    report["error_rate"] = (b.failed / attempted if attempted else 1.0, "ratio")
    report["peak_rss_mb"] = (rss, "MB")
    report["setup_s"] = (b.setup_s, "s")
    # share of the machine's CPU time taken by other guests while operations
    # were timed: how much of a run's figures the neighbours, not the
    # program, decided
    report["host_steal_share"] = (
        b.steal_s / (b.timed_s * (os.cpu_count() or 1)) if b.timed_s else 0.0, "ratio"
    )
    if tracer is None:
        report["ops_measured"] = (len(b.latencies), "count")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in b.end_to_end(rss).items()}
    else:
        report["ops_measured"] = (len(b.traced), "count")
        metrics = {
            k: {"value": float(b.layers.get(k, 0.0)), "unit": _unit(k)} for k in PER_LAYER
        }
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"env": env, "layers": b.layers, "spans": tracer.finished()}, f, indent=1)

    print("perfbench env " + json.dumps(env))
    print("perfbench report " + json.dumps({k: {"value": v, "unit": u} for k, (v, u) in report.items()}))
    for p in b.problems:
        print("perfbench problem " + p.replace("\n", " | "))
    print(
        json.dumps(
            {
                "correct": b.failed == 0,
                "attempted": attempted,
                "failed": b.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
