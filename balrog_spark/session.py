"""SparkSession factory with scale-oriented defaults, plus the plan
helpers every module shares (the checkpoint barrier and the grouped
Python stage).

Settings chosen for the 100 TB design point and applied identically in tests
and benchmarks:
- AQE on (runtime coalescing + skew-join splitting),
- Arrow execution for all pandas UDFs (the engine's only Python surface),
- explicit shuffle partition count (local default 32 = core count; a cluster
  deployment sets this to ~2-3x total cores),
- broadcast threshold left at default so small build sides (lookup tables,
  polygon covers) broadcast automatically; the engine also broadcasts
  explicitly where it knows better than the stats.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession


def get_spark(app: str = "balrog_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or \
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        inner = master[master.find("[") + 1:master.find("]")] \
            if "[" in master else "32"
        shuffle_partitions = 32 if inner == "*" else max(int(inner), 4)
    builder = (
        SparkSession.builder.master(master).appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # UI off by default (saves startup + port churn in tests); the
        # shuffle-volume measurement tools set SPARK_GRAFT_UI=true to read
        # per-stage metrics from the UI REST endpoint
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI",
                                                   "false"))
        .config("spark.sql.session.timeZone", "UTC")
    )
    # shuffle to tmpfs when available: local-mode shuffles are tiny vs RAM
    # and disk-backed /tmp serializes the reduce side at high parallelism
    # (on a real cluster this maps to NVMe-backed spark.local.dir)
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        builder = (builder
                   .config("spark.local.dir", f"{shm}/spark-local")
                   .config("spark.shuffle.compress", "false")
                   .config("spark.shuffle.spill.compress", "false"))
    return builder.getOrCreate()


def local_checkpoint_fresh(df):
    """``localCheckpoint(eager=True)`` + Catalyst-statistics reset — the
    checkpoint barrier iterative self-join algorithms need.

    ``Dataset.localCheckpoint`` truncates the LOGICAL plan but carries the
    truncated plan's ``sizeInBytes`` estimate onto the resulting
    LogicalRDD. A loop that joins a checkpointed frame with itself (label
    propagation, connected components) therefore SQUARES the estimate
    every iteration — join stats are the product of the children — so the
    BigInt's digit count doubles per round and the driver ends up doing
    Toom-Cook multiplications on million-digit integers inside every
    stats visit. Measured on 50k constant rows with a constant 10-line
    plan: flat 0.3 s/round for ~18 rounds, then ~2.8x growth per round up
    to 300 s/round (jstack: one driver thread pinned in
    ``BigInteger.multiply``); reliable ``checkpoint()`` inherits the same
    stats and behaves identically.

    Rebuilding the DataFrame over the just-checkpointed InternalRow RDD
    yields a LogicalRDD with the DEFAULT sizeInBytes, keeping stats O(1)
    across unlimited rounds. The materialized partitions are reused — no
    data moves, no extra job. Side effect: the frame reports
    defaultSizeInBytes (Long.MaxValue) and thus never auto-broadcasts,
    which is the correct default for |V|-row label tables; broadcast
    explicitly where a frame is known-small."""
    from pyspark.sql import DataFrame

    spark = df.sparkSession
    jdf = df._jdf.localCheckpoint(True)
    fresh = spark._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False)
    return DataFrame(fresh, spark)


def map_key_groups(df, keys, fn, schema):
    """Run ``fn`` over whole key groups with ONE Python call per partition.

    The grouped stage every tiled/zonal operator needs, planned as:
    an exchange pinned at ``defaultParallelism`` partitions on ``keys``
    (``repartition(n, *keys)``, which AQE never coalesces — its
    byte-based coalescing packed the compute-dense grouped stages into
    one task), a sort of each partition by ``keys`` (the sort
    ``groupBy().applyInArrow`` plans), and one ``mapInArrow`` call per
    partition. That call streams runs of COMPLETE key groups to
    ``fn(table) -> pa.Table | None``: each run is the groups that end
    inside one Arrow batch plus the group carried over from the batch
    before, so memory stays bounded by one Arrow batch plus one key
    group (the ``applyInArrow`` bound) while the per-group UDF call and
    its pandas/Arrow round trip are gone. ``fn`` must accept any number
    of whole groups, sorted by key; it never sees a group split across
    two calls. ``schema`` is the output schema (DDL or StructType); the
    tables ``fn`` returns must carry its Arrow types."""
    keys = list(keys)
    n = df.sparkSession.sparkContext.defaultParallelism

    def run(batches):
        for tbl in _key_group_runs(batches, keys):
            out = fn(tbl)
            if out is not None and out.num_rows:
                yield from out.to_batches()

    return (df.repartition(n, *keys).sortWithinPartitions(*keys)
            .mapInArrow(run, schema))


def _key_group_runs(batches, keys):
    """Tables of whole key groups from key-sorted record batches. Only
    the last group of a batch can continue into the next batch, so it
    is held back (``pending``: always rows of ONE key) until a later
    batch shows a different key."""
    pending = []
    for b in batches:
        if not b.num_rows:
            continue
        tail = _last_group_start(b, keys)
        if tail:
            yield pa.Table.from_batches(pending + [b.slice(0, tail)])
            pending = [b.slice(tail)]
        elif pending and _key_at(pending[-1], -1, keys) != \
                _key_at(b, 0, keys):
            yield pa.Table.from_batches(pending)
            pending = [b]
        else:
            pending.append(b)
    if pending:
        yield pa.Table.from_batches(pending)


def _key_at(batch, i, keys):
    return tuple(batch.column(k)[i].as_py() for k in keys)


def _last_group_start(batch, keys) -> int:
    """Index of the first row holding the batch's last key (the rows
    with that key are a suffix: the batch is sorted by ``keys``)."""
    same = np.ones(batch.num_rows, dtype=bool)
    for k in keys:
        col = batch.column(k)
        v = col[-1]
        eq = pc.is_null(col) if not v.is_valid \
            else pc.fill_null(pc.equal(col, v), False)
        same &= eq.to_numpy(zero_copy_only=False)
    return int(np.argmax(same))
