"""Skew salting and checkpoint/resume lineage."""

import pytest
from pyspark.sql import functions as F

from balrog_spark import lineage, skew


def test_salted_aggregate_matches_direct(spark):
    # skewed input: key 0 holds ~90% of rows
    df = spark.range(0, 20000).select(
        F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id") % 7 + 1)
        .alias("k"),
        (F.col("id") * 3 % 101).alias("v"))
    got = skew.salted_aggregate(
        df, ["k"],
        partial_aggs={"pn": F.count("*"), "ps": F.sum("v"),
                      "pm": F.max("v")},
        final_aggs={"n": F.sum("pn"), "s": F.sum("ps"), "mx": F.max("pm")},
        threshold=1000, n_salt=8).orderBy("k").collect()
    exp = df.groupBy("k").agg(
        F.count("*").alias("n"), F.sum("v").alias("s"),
        F.max("v").alias("mx")).orderBy("k").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]
    # the hot key must actually be detected
    hot = skew.hot_keys(df, ["k"], 1000).collect()
    assert [r.k for r in hot] == [0]


def test_hot_key_salting_splits_groups(spark):
    df = spark.range(0, 5000).select(F.lit(7).alias("k"),
                                     F.col("id").alias("v"))
    hot = skew.hot_keys(df, ["k"], 100)
    salted = skew.with_salt(df, ["k"], hot, n_salt=8)
    n_salts = salted.select("salt").distinct().count()
    assert n_salts > 1  # the hot group really is split


def test_identical_hot_rows_still_spread(spark):
    # rows identical on EVERY column: a value-only hash would put them all
    # on one salt and the skew control would be a no-op
    df = spark.range(0, 4000).select(F.lit(1).alias("k"),
                                     F.lit(42).alias("v")).repartition(8)
    hot = skew.hot_keys(df, ["k"], 100)
    salted = skew.with_salt(df, ["k"], hot, n_salt=8)
    counts = salted.groupBy("salt").count().collect()
    assert len(counts) > 1
    assert max(r["count"] for r in counts) < 4000


def test_lineage_resume_after_simulated_kill(spark, tmp_path):
    out_dir = str(tmp_path / "ckpt")
    inputs = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 17 % 997).alias("v"))

    def compute(part):
        return part.groupBy((F.col("k") % 10).alias("g")).agg(
            F.sum("v").alias("s"), F.count("*").alias("n"))

    # first run dies after 3 of 8 buckets
    with pytest.raises(RuntimeError, match="simulated failure"):
        lineage.run_partitioned(spark, inputs, ["k"], compute, out_dir,
                                n_buckets=8, fail_after=3)
    done1 = lineage.completed_buckets(spark, out_dir)
    assert len(done1) == 3

    # resume: only the remaining buckets run
    lineage.run_partitioned(spark, inputs, ["k"], compute, out_dir,
                            n_buckets=8)
    done2 = lineage.completed_buckets(spark, out_dir)
    assert len(done2) == 8

    # the union of per-bucket outputs equals the single-pass result
    got = (lineage.read_output(spark, out_dir)
           .groupBy("g").agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
           .orderBy("g").collect())
    exp = (compute(inputs).orderBy("g").collect())
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]


def test_lineage_rerun_is_noop(spark, tmp_path):
    out_dir = str(tmp_path / "ckpt2")
    inputs = spark.range(0, 100).select(F.col("id").alias("k"),
                                        F.col("id").alias("v"))
    compute = lambda part: part.select("k", "v")
    lineage.run_partitioned(spark, inputs, ["k"], compute, out_dir,
                            n_buckets=4)
    n1 = lineage.read_output(spark, out_dir).count()
    lineage.run_partitioned(spark, inputs, ["k"], compute, out_dir,
                            n_buckets=4)  # all buckets complete -> no-op
    n2 = lineage.read_output(spark, out_dir).count()
    assert n1 == n2 == 100


def test_lineage_bucket_plan_executes_once(spark, tmp_path):
    """rows_out/checksum come from a read-back of the written parquet, so
    the (possibly expensive) bucket plan runs exactly once per bucket."""
    out_dir = str(tmp_path / "ckpt3")
    inputs = spark.range(0, 400).select(F.col("id").alias("k"),
                                        F.col("id").alias("v"))
    acc = spark.sparkContext.accumulator(0)

    def compute(part):
        def gen(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf
        return part.mapInPandas(gen, schema=part.schema)

    lineage.run_partitioned(spark, inputs, ["k"], compute, out_dir,
                            n_buckets=4)
    assert acc.value == 400  # one pass per row, not 3x
    assert lineage.read_output(spark, out_dir).count() == 400


def test_lineage_crash_between_write_and_record_is_idempotent(
        spark, tmp_path):
    """A crash after the bucket data write but before the manifest commit
    must not duplicate rows on resume (simulated by deleting one manifest
    row after a full run: the orphaned bucket directory is rewritten)."""
    import os
    out_dir = str(tmp_path / "ckpt4")
    inputs = spark.range(0, 500).select(F.col("id").alias("k"),
                                        F.col("id").alias("v"))
    compute = lambda part: part.select("k", "v")  # noqa: E731
    lineage.run_partitioned(spark, inputs, ["k"], compute, out_dir,
                            n_buckets=4)
    # orphan bucket 2: data on disk, lineage row gone
    os.remove(os.path.join(out_dir, "_lineage", "bucket-00002.json"))
    lineage.run_partitioned(spark, inputs, ["k"], compute, out_dir,
                            n_buckets=4)
    out = lineage.read_output(spark, out_dir)
    assert out.count() == 500
    assert out.select("k").distinct().count() == 500


def test_lineage_refuses_stage_mismatch(spark, tmp_path):
    """out_dir is single-stage (bucket data dirs are keyed by bucket
    only): resuming it under a different stage name used to silently
    skip every bucket and relabel stage-A output; now it raises."""
    import pytest

    from balrog_spark import lineage

    out = str(tmp_path / "lin")
    df = spark.range(40).withColumnRenamed("id", "k")
    lineage.run_partitioned(spark, df, ["k"],
                            lambda d: d, out, n_buckets=4,
                            stage="dissolve")
    with pytest.raises(ValueError, match="refusing to resume"):
        lineage.run_partitioned(spark, df, ["k"],
                                lambda d: d, out, n_buckets=4,
                                stage="classify")
    # same stage resumes fine (all buckets done -> no work)
    lineage.run_partitioned(spark, df, ["k"], lambda d: d, out,
                            n_buckets=4, stage="dissolve")
