#!/usr/bin/env python3
"""Measure where the driver finish of connected_components stops paying.

``operators/dedup.py connected_components`` labels a graph of up to
``_LOCAL_FINISH_EDGES`` distinct (hi, lo) rows on the driver (Arrow
collect + min-rooted union-find) and contracts larger ones with
large-star/small-star rounds. This sweep times both paths on the same
synthetic graphs — cliques of 8 (the near-dup shape) plus one chain of
up to CHAIN nodes (the deep component that sets the contraction's round
count, ~2*log2(CHAIN)) — from 10^2 to 10^6 edges, and prints the
markdown table for SCALE.md §22 that sizes the constant. The chain is
capped so every size from 10^4 edges on runs the same number of rounds and
the table shows the per-edge cost of each path.

Per size, the pairs are written to parquet first (not timed), then each
path runs connected_components from that file and materialises the
labels with a noop write; the median of REPS runs is reported. Both
paths must return the same rows, which is checked by an order-free hash.

Usage: python3 tools_cc_crossover.py [reps] [max_exponent]
"""

from __future__ import annotations

import shutil
import statistics
import sys
import tempfile
import time

from pyspark.sql import functions as F

from etl_data_spark.caching import release_all
from etl_data_spark.operators import dedup as D
from etl_data_spark.session import get_spark

REPS = int(sys.argv[1]) if len(sys.argv) > 1 else 3
MAX_EXP = int(sys.argv[2]) if len(sys.argv) > 2 else 6
CLIQUE = 8
CLIQUE_EDGES = CLIQUE * (CLIQUE - 1) // 2
CHAIN = 1024


def _graph(spark, edges: int):
    """~edges distinct pairs: one chain of min(CHAIN, edges/2) nodes, then
    cliques of CLIQUE nodes for the rest, ids past the chain's."""
    chain = min(CHAIN, edges // 2)
    cliques = max(1, round((edges - chain + 1) / CLIQUE_EDGES))
    slots = spark.range(cliques * CLIQUE * CLIQUE).select(
        F.floor(F.col("id") / (CLIQUE * CLIQUE)).alias("c"),
        (F.floor(F.col("id") / CLIQUE) % CLIQUE).alias("i"),
        (F.col("id") % CLIQUE).alias("j"),
    )
    clique_pairs = slots.filter(F.col("i") < F.col("j")).select(
        (F.col("c") * CLIQUE + F.col("i") + chain).alias("id_a"),
        (F.col("c") * CLIQUE + F.col("j") + chain).alias("id_b"),
    )
    chain_pairs = spark.range(chain - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    return chain_pairs.unionByName(clique_pairs), chain + cliques * CLIQUE


def _run(pairs, limit: int) -> tuple[float, tuple[int, int]]:
    """(seconds, (row count, row hash)) of one connected_components call under the
    given driver-finish limit."""
    saved = D._LOCAL_FINISH_EDGES
    D._LOCAL_FINISH_EDGES = limit
    try:
        release_all()
        t0 = time.monotonic()
        labels = D.connected_components(pairs)
        labels.write.format("noop").mode("overwrite").save()
        elapsed = time.monotonic() - t0
    finally:
        D._LOCAL_FINISH_EDGES = saved
    digest = labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("doc_id", "cluster_id")), F.lit(0)).alias("h"),
    ).first()
    release_all()
    return elapsed, (digest["n"], digest["h"])


def _timed(pairs, limit: int) -> tuple[float, tuple[int, int]]:
    runs = [_run(pairs, limit) for _ in range(REPS)]
    if len({h for _, h in runs}) != 1:
        raise SystemExit("labels differ between repetitions")
    return statistics.median(t for t, _ in runs), runs[0][1]


def main() -> None:
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    heap = spark.sparkContext.getConf().get("spark.driver.memory", "default")
    print(
        f"driver heap {heap}, {spark.sparkContext.defaultParallelism} cores, "
        f"median of {REPS}\n"
    )
    print("| edges | nodes | driver finish (s) | contraction (s) | contraction ÷ driver |")
    print("|---|---|---|---|---|", flush=True)
    tmp = tempfile.mkdtemp(prefix="cc_crossover_")
    rows = []
    try:
        # untimed warm-up of both paths: JIT, codegen and the first Arrow
        # transfer must not land on the smallest measured point
        warm, _ = _graph(spark, 100)
        _run(warm, 10**9)
        _run(warm, 0)

        for exp in range(2, MAX_EXP + 1):
            gen, nodes = _graph(spark, 10**exp)
            path = f"{tmp}/e{exp}"
            gen.write.mode("overwrite").parquet(path)
            pairs = spark.read.parquet(path)
            n_edges = pairs.count()
            t_driver, h_driver = _timed(pairs, 10**9)
            t_star, h_star = _timed(pairs, 0)
            if h_driver != h_star:
                raise SystemExit(f"{n_edges} edges: the two paths disagree")
            rows.append((n_edges, t_driver, t_star))
            print(
                f"| {n_edges} | {nodes} | {t_driver:.2f} | {t_star:.2f} | "
                f"{t_star / t_driver:.1f}x |",
                flush=True,
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    slower = [n for n, td, ts in rows if td >= ts]
    print(
        f"\ncrossover: driver finish slower from {slower[0]} edges"
        if slower
        else f"\ncrossover: above {rows[-1][0]} edges (driver finish faster at every size)"
    )


if __name__ == "__main__":
    main()
