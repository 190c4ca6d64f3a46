"""The benchmark's workloads.

``etl``   the paper's batch job on the write side: set-up is one cold full
          load (generate -> bronze -> cleanse -> star -> DQ -> mart
          promote) into a fresh warehouse and one warm-up reload; the
          measured operations are windowed reloads of seeded batches
          (generate -> cleanse -> star -> windowed mart promote) against
          that mart, each batch applied twice.
``mart``  the read side: a closed loop of one client over a seeded shuffle
          of catalog queries, the DQ dashboard and the corpus curation
          query (MinHash-LSH dedup), on seeded TPC-H-shaped tables.

Each workload measures whole operations, checks their outputs outside the
timed interval, and counts an operation that raises or returns a wrong
output as failed.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import re
import resource
import statistics
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Callable

from perfbench import datagen, oracle
from perfbench.tracer import ENGINE_FIELDS, Tracer


@dataclass
class Op:
    """One measured operation: ``run`` is timed; ``prepare`` and ``verify``
    (which returns a list of problems) are not."""

    kind: str
    run: Callable[[], object]
    prepare: Callable[[], None] = lambda: None
    verify: Callable[[object], list[str]] = lambda result: []


@dataclass
class Bench:
    spark: object
    tmp: str
    seed: int
    seconds: float
    tracer: Tracer | None
    cores: int
    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    latencies: list[float] = field(default_factory=list)
    cpu: list[float] = field(default_factory=list)
    traced: list[float] = field(default_factory=list)
    untraced: list[float] = field(default_factory=list)
    traced_roots: set[int] = field(default_factory=set)
    steal_s: float = 0.0
    timed_s: float = 0.0
    report: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)

    def record(self, label: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{label}: {p}" for p in problems)

    def attempt(self, label: str, fn: Callable[[], object]):
        """Run an untimed set-up or check step; a raise is a failure."""
        try:
            return fn()
        except Exception:
            self.record(label, [traceback.format_exc(limit=3)])
            return None

    def _timed(self, op: Op, traced: bool) -> tuple[float, float, list[str]]:
        """(wall s, CPU s, problems) of one run of ``op``."""
        op.prepare()
        c0, s0 = tree_cpu_s(), host_steal_s()
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span(f"op.{op.kind}") as sp:
                    result = op.run()
                self.traced_roots.add(sp["id"])
            else:
                result = op.run()
        except Exception:
            problems = [traceback.format_exc(limit=4)]
        else:
            problems = None
        elapsed, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        self.steal_s += host_steal_s() - s0
        self.timed_s += elapsed
        if traced:
            self.tracer.collect()
        return elapsed, cpu, problems if problems is not None else op.verify(result)

    def execute(self, op: Op) -> float:
        """Run ``op``; in a traced run twice, untraced and traced, in turns
        first, so the pairs give the tracing overhead without favouring the
        warmer second run. Returns the op time counted against the run's
        measuring time."""
        if self.tracer is None:
            elapsed, cpu, problems = self._timed(op, traced=False)
            self.record(op.kind, problems)
            self.latencies.append(elapsed)
            self.cpu.append(cpu)
            return elapsed
        busy = 0.0
        order = (False, True) if len(self.traced) % 2 == 0 else (True, False)
        for traced in order:
            self.tracer.active = traced
            try:
                elapsed, _, problems = self._timed(op, traced=traced)
            finally:
                self.tracer.active = False
            self.record(op.kind, problems)
            (self.traced if traced else self.untraced).append(elapsed)
            busy += elapsed
        return busy

    # -- metrics -------------------------------------------------------------

    def end_to_end(self, peak_rss_mb: float) -> dict[str, tuple[float, str]]:
        return {
            "setup_s": (self.setup_s, "s"),
            "ops_per_s": (len(self.latencies) / sum(self.latencies), "1/s"),
            "cpu_s_per_op": (sum(self.cpu) / len(self.cpu), "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }

    def engine_layers(self) -> None:
        """Workload-level engine counters over the traced operations, per
        operation, plus the tracing overhead."""
        agg = self.tracer.by_name(self.traced_roots)
        n = max(1, len(self.traced))
        tot = {k: sum(a[k] for a in agg.values()) for k in ENGINE_FIELDS}
        for k in ENGINE_FIELDS:
            if k != "input_records":
                self.layers[f"spark.{k}"] = tot[k] / n
        wall = sum(self.traced)
        self.layers["spark.core_busy_ratio"] = (
            tot["executor_run_s"] / (wall * self.cores) if wall else 0.0
        )
        self.layers["trace.overhead_ratio"] = (
            sum(self.traced) / sum(self.untraced) - 1.0 if self.untraced else 0.0
        )


def _du(path: str) -> tuple[int, int]:
    """(parquet data files, bytes) under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n)) for d, _, ns in os.walk(path) for n in ns
    )


def process_tree() -> dict[int, int]:
    """This process and every process under it (the Spark JVM and its Python
    workers): pid -> CPU clock ticks used, reaped children included."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        # after the name: state ppid ... utime stime cutime cstime (fields 11-14)
        procs[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        tree[pid] = procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree; the difference of two
    readings is the CPU an operation cost, whether or not a worker exited
    in between (its ticks move to the parent that reaps it)."""
    return sum(process_tree().values()) / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU seconds the hypervisor has so far given to other guests while
    this machine's CPUs wanted to run (``steal`` in /proc/stat, all CPUs)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM (VmHWM) plus this process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


# ---------------------------------------------------------------------------
# etl: cold full load in set-up, windowed reloads measured
# ---------------------------------------------------------------------------

FULL_LOAD_ROWS = 20_000
BATCH_ROWS = 20_000
# Every reload replaces the same 12 months: the window covers the same share
# of any batch's validity periods, so the work per reload does not depend on
# the seed, and January and February 2023 always stay outside it.
WINDOW = (dt.date(2023, 3, 1), dt.date(2024, 2, 29))


def _batch_seeds(seed: int):
    """Endless batch seeds for the reloads, derived from the run's seed."""
    k = 0
    while True:
        yield seed * 1000 + k
        k += 1


def _mart_snapshot(path: str) -> dict[str, tuple[int, str]]:
    snap = {}
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                with open(p, "rb") as f:
                    snap[os.path.relpath(p, path)] = (
                        os.path.getsize(p),
                        hashlib.sha1(f.read()).hexdigest(),
                    )
    return snap


def _month_of(rel: str) -> int | None:
    m = re.match(r"part_month=(\d+)/", rel)
    return int(m.group(1)) if m else None


def etl_bindings(tracer: Tracer) -> None:
    from etl_data_spark import cleanse, generate, pipeline, star

    for attr, name in [
        ("generate_source", "generate.generate_source"),
        ("ingest_bronze", "ingest.ingest_bronze"),
        ("cleanse", "cleanse.cleanse"),
        ("write_partitioned", "io.writers.write_partitioned"),
        ("build_star", "star.build_star"),
        ("run_reference_dq", "dq.run_reference_dq"),
        ("export_mart", "pipeline.export_mart"),
        ("overwrite_by_window", "io.writers.overwrite_by_window"),
    ]:
        tracer.wrap(pipeline, attr, name)
    tracer.wrap(generate, "generate_source", "generate.generate_source")
    tracer.wrap(cleanse, "cleanse", "cleanse.cleanse")
    tracer.wrap(star, "build_star", "star.build_star")


def run_etl(b: Bench) -> None:
    from pyspark.sql import functions as F

    from etl_data_spark import cleanse, generate, pipeline, star
    from etl_data_spark.io.writers import window_replace_predicate

    spark = b.spark
    wh = os.path.join(b.tmp, "warehouse")
    mart = os.path.join(wh, "mart_task")
    if b.tracer is not None:
        etl_bindings(b.tracer)

    # -- set-up: the full load, cold --------------------------------------
    t0 = time.perf_counter()
    if b.tracer is not None:
        b.tracer.active = True
    with b.tracer.span("pipeline.run_pipeline") if b.tracer else nullcontext() as root:
        res = b.attempt(
            "full_load",
            lambda: pipeline.run_pipeline(
                spark,
                rows=FULL_LOAD_ROWS,
                seed=b.seed,
                start_date="2023-01-01",
                end_date="2024-12-31",
                warehouse=wh,
            ),
        )
    full_load_s = time.perf_counter() - t0
    b.setup_s += full_load_s
    if b.tracer is not None:
        b.tracer.active = False
        b.tracer.collect()
    if res is None:
        raise RuntimeError("full load failed: " + "; ".join(b.problems))

    def check_full_load() -> list[str]:
        p = []
        dq = {r["check_type"]: r["status"] for r in res.dq_results.collect()}
        if dq.get("summary") != "passed":
            p.append(f"DQ summary not passed: {dq}")
        silver_rows = spark.read.parquet(os.path.join(wh, "silver")).count()
        fact_rows = spark.read.parquet(os.path.join(wh, "fact_task")).count()
        mart_rows = spark.read.parquet(mart).count()
        if not (res.silver_count == silver_rows == fact_rows == mart_rows == res.exported_count):
            p.append(
                f"layer counts differ: silver={res.silver_count}/{silver_rows} "
                f"fact={fact_rows} mart={mart_rows} exported={res.exported_count}"
            )
        return p

    b.record("full_load", b.attempt("full_load_check", check_full_load) or [])
    stored = _tree_bytes(wh)
    b.report["load_rows_per_s"] = (FULL_LOAD_ROWS / full_load_s, "1/s")
    b.report["stored_bytes_per_row"] = (stored / FULL_LOAD_ROWS, "B")
    files = size = 0
    for layer in ("silver", "fact_task"):
        f, s = _du(os.path.join(wh, layer))
        files, size = files + f, size + s
    if b.tracer is not None:
        agg = b.tracer.by_name({root["id"]})
        for name in (
            "ingest.ingest_bronze",
            "dq.run_reference_dq",
            "io.writers.write_partitioned",
        ):
            b.layers[f"{name}_s"] = agg.get(name, {}).get("self_s", 0.0)
        b.layers["ingest.jobs"] = agg.get("ingest.ingest_bronze", {}).get("jobs", 0)
        dq_agg = agg.get("dq.run_reference_dq", {})
        b.layers["dq.jobs"] = dq_agg.get("jobs", 0)
        b.layers["dq.input_bytes"] = dq_agg.get("input_bytes", 0)
        b.layers["io.writers.files_written"] = files
        b.layers["io.writers.bytes_written"] = size
        b.layers["pipeline.stored_bytes_per_row"] = stored / FULL_LOAD_ROWS

    # -- measured: windowed reloads -----------------------------------------
    state: dict = {"prev": None, "rewritten": [], "amp": []}

    def make_op(start: dt.date, end: dt.date, batch_seed: int, reapply: bool) -> Op:
        before: dict = {}

        def prepare():
            pred = F.coalesce(window_replace_predicate(start, end), F.lit(False))
            row = spark.read.parquet(mart).agg(
                F.count(F.lit(1)).alias("total"),
                F.count(F.when(~pred, F.lit(1))).alias("kept"),
            ).first()
            before.update(total=row["total"], kept=row["kept"], snap=_mart_snapshot(mart))

        def run():
            raw = generate.generate_source(spark, rows=BATCH_ROWS, seed=batch_seed)
            silver = cleanse.cleanse(raw, start, end)
            st = star.build_star(silver, start_date=start, end_date=end)
            return pipeline.export_mart(spark, st.fact, mart, start, end)

        def verify(n) -> list[str]:
            p = []
            total = spark.read.parquet(mart).count()
            if total != before["kept"] + n:
                p.append(f"mart rows {total} != kept {before['kept']} + batch {n}")
            if reapply and (total != before["total"] or n != state["prev"]):
                p.append(f"re-applied window changed the mart: {before['total']} -> {total}")
            lo = start.year * 100 + start.month
            hi = end.year * 100 + end.month
            after = _mart_snapshot(mart)
            outside = lambda s: {  # noqa: E731
                k: v for k, v in s.items()
                if _month_of(k) is None or not lo <= _month_of(k) <= hi
            }
            if outside(after) != outside(before["snap"]):
                p.append("files outside the window changed")
            changed = {k: v for k, v in after.items() if before["snap"].get(k) != v}
            months = {_month_of(k) for k in changed}
            rewritten = sum(v[0] for v in changed.values())
            mart_bytes = sum(v[0] for v in after.values())
            state["rewritten"].append((len(months), rewritten))
            if n:
                state["amp"].append(rewritten / (n * mart_bytes / total))
            state["prev"] = n
            return p

        return Op("reload", run, prepare, verify)

    seeds = _batch_seeds(b.seed)

    # set-up, continued: the first reload takes the partition-scoped rewrite
    # path cold (JIT, first swap); it is checked but not measured
    t0 = time.perf_counter()
    warm = make_op(*WINDOW, next(seeds), reapply=False)
    warm.prepare()
    n = b.attempt("reload_warmup", warm.run)
    b.setup_s += time.perf_counter() - t0
    if n is not None:
        b.record("reload_warmup", warm.verify(n))
    state["rewritten"].clear()
    state["amp"].clear()

    busy = 0.0
    # whole (new, re-applied) pairs, so every run checks a re-application
    while busy < b.seconds:
        batch_seed = next(seeds)
        for reapply in (False, True):
            busy += b.execute(make_op(*WINDOW, batch_seed, reapply))

    b.report["reload_s_p50"] = (
        statistics.median(b.latencies or b.untraced), "s"
    )
    if state["amp"]:
        b.report["reload_write_amp"] = (statistics.median(state["amp"]), "ratio")
    if b.tracer is not None:
        agg = b.tracer.by_name(b.traced_roots)
        n = max(1, len(b.traced))
        for name in (
            "star.build_star",
            "pipeline.export_mart",
            "io.writers.overwrite_by_window",
        ):
            b.layers[f"{name}_s"] = agg.get(name, {}).get("self_s", 0.0) / n
        b.layers["star.shuffle_write_bytes"] = (
            agg.get("star.build_star", {}).get("shuffle_write_bytes", 0) / n
        )
        rw = state["rewritten"]
        b.layers["io.writers.months_rewritten"] = statistics.mean(m for m, _ in rw)
        b.layers["io.writers.bytes_rewritten"] = statistics.mean(s for _, s in rw)
        b.layers["io.writers.write_amp"] = statistics.median(state["amp"]) if state["amp"] else 0.0
        b.engine_layers()


# ---------------------------------------------------------------------------
# mart: closed-loop reads over catalog queries, dashboard and dedup
# ---------------------------------------------------------------------------

MART_SCALE = 0.02
MART_DOCS = 200
DQ_ROWS = 2000
QUERIES = [
    "pricing_summary",
    "star_join",
    "daily_trend",
    "latest_per_customer",
    "topk_orders",
    "duplicate_groups",
    "semi_join_active",
    "cleanse_case",
    "rollup_revenue",
    "tpch_q5_regional",
    "scalar_subquery_above_avg",
    "corpus_curate_end2end",
]
DASHBOARD = "dq_dashboard"


def mart_bindings(tracer: Tracer) -> None:
    from etl_data_spark import caching, report
    from etl_data_spark.operators import dedup

    tracer.wrap(report, "render_dashboard", "report.render_dashboard")
    tracer.wrap(caching, "release_all", "caching.release_all")
    for attr in ("minhash_lsh_pairs", "connected_components", "dedup_survivors"):
        tracer.wrap(dedup, attr, f"operators.dedup.{attr}")


def run_mart(b: Bench) -> None:
    from pyspark.sql import functions as F

    from etl_data_spark import caching, catalog, report
    from etl_data_spark.operators import dedup, text

    spark = b.spark
    data = os.path.join(b.tmp, "data")
    today = dt.datetime.now(dt.timezone.utc).date()
    t0 = time.perf_counter()
    sizes = datagen.write_tables(data, b.seed, MART_SCALE, MART_DOCS, DQ_ROWS, today)
    b.setup_s += time.perf_counter() - t0
    dq_path = os.path.join(data, "dq_results.parquet")
    dq_df = spark.read.parquet(dq_path)
    oracles = catalog.oracle_sql()
    expected_dash = oracle.expected_dashboard(dq_path, today)
    if b.tracer is not None:
        mart_bindings(b.tracer)
    pinned_seen = [0]

    def query_op(name: str) -> Op:
        fn = catalog.REGISTRY[name].fn

        def run():
            tr = b.tracer if b.tracer is not None and b.tracer.active else None
            if tr is None:
                df = fn(spark, data)
                df.write.format("noop").mode("overwrite").save()
            else:
                with tr.span("catalog.build"):
                    df = fn(spark, data)
                with tr.span("catalog.plan"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("catalog.exec", query=name):
                    df.write.format("noop").mode("overwrite").save()
            caching.release_all()
            return caching.pinned_count()

        def verify(pinned) -> list[str]:
            pinned_seen.append(pinned)
            return [f"{pinned} frames still pinned after release_all"] if pinned else []

        return Op(name, run, verify=verify)

    def dashboard_op() -> Op:
        def verify(text_out) -> list[str]:
            return oracle.dashboard_problems(text_out, expected_dash)

        return Op(DASHBOARD, lambda: report.render_dashboard(dq_df), verify=verify)

    # -- set-up: first (cold) run of every distinct op, output checked -------
    result_rows: dict[str, int] = {}
    for name in QUERIES:
        t0 = time.perf_counter()
        got = b.attempt(name, lambda: oracle.spark_hash(catalog.REGISTRY[name].fn(spark, data)))
        caching.release_all()
        b.setup_s += time.perf_counter() - t0
        want = b.attempt(f"{name}_oracle", lambda: oracle.duckdb_hash(data, oracles[name]))
        if got is not None and want is not None:
            b.record(name, [] if got == want else [f"output {got} != oracle {want}"])
            result_rows[name] = got[0]
    t0 = time.perf_counter()
    dash = b.attempt(DASHBOARD, lambda: report.render_dashboard(dq_df))
    b.setup_s += time.perf_counter() - t0
    b.record(DASHBOARD, oracle.dashboard_problems(dash, expected_dash))

    # -- measured: whole cycles of the seeded shuffled mix ------------------
    rng = random.Random(b.seed)
    ops = [query_op(n) for n in QUERIES] + [dashboard_op()]
    busy = 0.0
    kinds: dict[str, list[float]] = {}
    while busy < b.seconds:
        rng.shuffle(ops)
        for op in ops:
            n_before = len(b.latencies) + len(b.untraced)
            busy += b.execute(op)
            lat = (b.latencies or b.untraced)[n_before:]
            kinds.setdefault(op.kind, []).extend(lat)

    lat = b.latencies or b.untraced
    q_lat = [t for k, ts in kinds.items() if k != DASHBOARD for t in ts]
    b.report["query_s_p50"] = (statistics.median(q_lat), "s")
    b.report["query_s_p90"] = (statistics.quantiles(q_lat, n=10)[-1], "s")
    b.report["queries_per_s"] = (len(lat) / sum(lat), "1/s")
    curate = kinds.get("corpus_curate_end2end")
    if curate:
        b.report["dedup_docs_per_s"] = (sizes["documents"] / statistics.median(curate), "1/s")

    if b.tracer is not None:
        agg = b.tracer.by_name(b.traced_roots)
        n = max(1, len(b.traced))
        get = lambda name, k="self_s": agg.get(name, {}).get(k, 0)  # noqa: E731
        b.layers["catalog.plan_s"] = get("catalog.plan") / n
        b.layers["catalog.exec_s"] = get("catalog.exec") / n
        b.layers["catalog.shuffle_write_bytes"] = get("catalog.exec", "shuffle_write_bytes") / n
        traced_rows = sum(
            result_rows.get(sp["attrs"].get("query"), 0)
            for sp in b.tracer.finished()
            if sp["name"] == "catalog.exec"
        )
        b.layers["catalog.input_records_per_result_row"] = (
            sum(a["input_records"] for a in agg.values()) / traced_rows if traced_rows else 0.0
        )
        b.layers["report.render_dashboard_s"] = get("report.render_dashboard") / max(
            1, get("report.render_dashboard", "calls")
        )
        b.layers["caching.release_all_s"] = get("caching.release_all") / n
        b.layers["caching.pinned_after_release"] = max(pinned_seen)
        passes = max(1, get("operators.dedup.connected_components", "calls"))
        for attr in ("minhash_lsh_pairs", "connected_components", "dedup_survivors"):
            b.layers[f"operators.dedup.{attr}_s"] = get(f"operators.dedup.{attr}") / passes

        docs = spark.read.parquet(os.path.join(data, "documents.parquet"))
        verified = b.attempt("lsh_pairs", lambda: dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", shingle_n=3, num_hashes=64, bands=16, threshold=0.8
        ).count()) or 0
        b.layers["operators.dedup.verified_pairs"] = verified
        cand = b.attempt("lsh_candidates", lambda: _lsh_candidates(docs, dedup))
        b.layers["operators.dedup.verified_per_candidate"] = verified / cand if cand else 0.0
        kept = docs.filter(
            (text.quality_score("text") >= 0.5) & (F.col("lang") == "en")
        ).count()
        b.layers["operators.text.quality_kept_ratio"] = kept / sizes["documents"]
        caching.release_all()
        b.engine_layers()


def _lsh_candidates(docs, dedup) -> int:
    """Candidate pairs the banding step of ``minhash_lsh_pairs`` proposes
    (same shingling and banding: 3-word shingles, 64 hashes, 16 bands)."""
    from pyspark.sql import functions as F

    sh = docs.filter(F.size(F.split("text", " ")) >= 3).select(
        "doc_id", dedup.word_shingles("text", 3).alias("sh")
    )
    banded = dedup.minhash_banded(sh, 64, 16)
    left, right = banded.alias("l"), banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band")) & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select("l.doc_id", "r.doc_id")
        .distinct()
        .count()
    )


WORKLOADS = {"etl": run_etl, "mart": run_mart}
