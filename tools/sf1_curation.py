"""sf1.0-scale campaign for the LLM-curation operator family: the six
round-4 ops (simhash pairing -> dedup clustering, sequence packing,
decontamination, chunking, upsampling, token-budget cut) at 10x the
sf0.1 bench corpus (50,000 documents, ~12M tokens), synthesized
deterministically — no external data.

The corpus embeds the structures that stress each op: a giant
boilerplate cluster (every 97th doc identical — the skew case probed in
tests/test_textops_ann.py), template near-dup families for the banding
ops, and benchmark contamination planted in every 211th doc. Every
stage is forced to full materialization (xxhash64 over all columns) so
column pruning can't skip the expensive work.

Usage: python tools/sf1_curation.py   (quiet box, ~3-6 min, one JSON line)
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# local Spark workers import the engine via PYTHONPATH, not this sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

N_DOCS = 50_000


def synth_docs(spark):
    from pyspark.sql import functions as F

    base = spark.range(1, N_DOCS + 1)
    # ~10% boilerplate giant cluster (id%97==0: identical text), template
    # families (id%10<2 share a family base), the rest unique; length
    # 50..400 tokens, words hash-derived
    n_words = F.when(F.col("id") % 97 == 0, F.lit(120)) \
        .otherwise((F.col("id") * 7919) % 350 + 50)
    seed = F.when(F.col("id") % 97 == 0, F.lit(424242)) \
        .when(F.col("id") % 10 < 2, (F.col("id") / 100).cast("long") * 1000) \
        .otherwise(F.col("id") * 2654435761)
    # Two degeneracy traps measured on earlier attempts: (1) word draws
    # must be hash-MIXED, not an arithmetic progression (a progression
    # mod the vocab wraps after ~52 words, giving every long doc a
    # near-identical token histogram); (2) word SPELLINGS must be long
    # enough that the engine's polynomial token hash wraps mod 2^31-1 —
    # "w123"-style short words leave only ~16 entropy bits in the hash,
    # so simhashes collide corpus-wide and the band join degenerates
    # toward all-pairs. 9-char words (w + 8 hex of md5) fix both.
    docs = base.select(
        F.col("id").cast("string").alias("doc_id"),
        F.array_join(
            F.transform(F.sequence(F.lit(1), n_words),
                        lambda i: F.concat(
                            F.lit("w"),
                            F.substring(F.md5(
                                F.pmod(F.xxhash64(seed + i * 97),
                                       F.lit(5000)).cast("string")),
                                1, 8))),
            " ").alias("text"))
    # plant benchmark contamination: every 211th doc carries a marker
    # phrase long enough to shingle (k=8 chars)
    docs = docs.withColumn(
        "text",
        F.when(F.col("doc_id").cast("long") % 211 == 0,
               F.concat(F.col("text"),
                        F.lit(" the quick benchmark eval question "
                              "answer pair alpha")))
        .otherwise(F.col("text")))
    return docs.repartition(64).cache()


def _force(df) -> int:
    """Materialize EVERY column (defeats count()'s column pruning)."""
    from pyspark.sql import functions as F

    row = df.agg(F.count("*").alias("n"),
                 F.sum(F.pmod(F.xxhash64(*df.columns),
                              F.lit(1 << 40))).alias("h")).collect()[0]
    return int(row["n"])


def run_stages(docs, verbose: bool = True):
    """The curation pipeline stage set, each forced to full
    materialization. Returns (walls, rows, cluster_stats) — reused by
    bench_scaling.py's `curation` job for the N vs 4N evidence."""
    from pyspark.sql import functions as F

    from balrog_spark import textops

    walls, rows = {}, {}

    def stage(name, fn):
        t0 = time.time()
        rows[name] = fn()
        walls[name] = round(time.time() - t0, 2)
        if verbose:
            print(f"  {name}: {walls[name]} s, {rows[name]} rows",
                  file=sys.stderr)

    pairs_box = {}

    def _pairs_stage():
        pairs_box["df"] = textops.simhash_neardup_pairs(docs) \
            .localCheckpoint(eager=True)
        return _force(pairs_box["df"])

    stage("simhash_pairs", _pairs_stage)
    pairs = pairs_box["df"]        # reuse: do NOT recompute the most
    cluster_stats = {}             # expensive stage between stages
    stage("dedup_clusters", lambda: _force(
        textops.dedup_clusters(docs, pairs, stats=cluster_stats)))
    stage("pack_sequences", lambda: _force(
        textops.pack_sequences(docs, budget_tokens=2048, n_shards=64)))
    bench = docs.filter(F.col("doc_id").cast("long") % 211 == 0) \
        .limit(200).select(
            F.concat(F.lit("b"), "doc_id").alias("doc_id"),
            F.substring("text", -60, 60).alias("text"))
    stage("decontaminate", lambda: _force(
        textops.decontaminate_flags(docs, bench)))
    # template families share full-prefix runs (20 docs/family -> 190
    # pairs x ~1-4k-char runs); the giant boilerplate cluster's windows
    # exceed max_df=100 and are dropped BEFORE the join — the cap is
    # what keeps the 515-doc identical cluster from contributing
    # C(515,2) full-length diagonals (exact dups are exact_dedup's job).
    # k defaults to min_len: THIS stage found the k=12 scale defect
    # (single-token windows cross any fixed df cap as the corpus grows
    # and the cap shreds every run — 0 rows at 50k docs)
    stage("substring_runs", lambda: _force(
        textops.substring_runs(docs, min_len=24, max_df=100)))
    stage("chunk_documents", lambda: _force(
        textops.chunk_documents(docs, chunk_tokens=128,
                                overlap_tokens=32)))
    stage("upsample_repeats", lambda: _force(
        textops.upsample_repeats(docs, factor_bp=23000)))
    stage("take_token_budget", lambda: _force(
        textops.take_token_budget(docs, budget_tokens=4_000_000)))
    return walls, rows, cluster_stats


def main():
    from balrog_spark.session import get_spark

    # the clique pair-verify + clustering checkpoints want headroom
    # beyond the 8g test default on one local JVM
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    spark = get_spark(app="sf1-curation", master="local[32]",
                      shuffle_partitions=64)
    docs = synth_docs(spark)
    n = docs.count()
    walls, rows, cluster_stats = run_stages(docs)

    total = round(sum(walls.values()), 2)
    print(json.dumps({
        "campaign": "sf1_curation", "n_docs": n,
        "total_sec": total,
        "docs_per_sec_total": round(n * len(walls) / total, 1),
        "walls": walls, "rows": rows,
        "cluster_rounds": cluster_stats.get("rounds"),
        "cluster_edge_rows": cluster_stats.get("edge_rows"),
    }))


if __name__ == "__main__":
    main()
