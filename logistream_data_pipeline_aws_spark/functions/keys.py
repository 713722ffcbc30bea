"""Surrogate-key generation and hash bucketing.

The reference outsources surrogate keys to Redshift ``IDENTITY(1,1)``
columns (data_warehouse/ddl_snowflake_schema.sql DS:3, DS:10, DS:18, DS:28,
DS:41, DS:64, DS:72, DS:82): rows are written without keys and read back to
learn them (etl_jobs/glue_master_etl.py GE:114, GE:117-128).  A Spark-native
engine generates keys itself, killing the write→read-back round trip.

Three strategies, chosen by table size:

- ``with_sequential_key`` — the ``row_number() OVER (ORDER BY natural
  key NULLS LAST)`` keys (exact 1..N contiguity matching IDENTITY
  semantics, fully deterministic), ranked on the driver from one Arrow
  collect of the deduplicated dimension.  Eager (one Spark job when the
  frame is built; the result is a snapshot of its sources) and bounded
  by ``_KEYGEN_MAX_ROWS``.  Every reference-pipeline dim uses it.
- ``with_sequential_key_ranged`` — the same keys over one numeric natural
  key, decomposed into range buckets so no plan node is unpartitioned
  and the cost stays linear; the TPC-H key maps use it.
- ``with_surrogate_key`` — scale-safe: ``monotonically_increasing_id`` is
  unique and parallel (partition-id in the high bits) but non-contiguous
  and plan-dependent.  Use for fact-grain ids at 100 TB where a global sort
  is unacceptable and nobody needs contiguity.

Hash bucketing reproduces the reference's manual bucketed-write predicate
``pmod(hash(col), N) == b`` (GE:151-153, GE:353-355) as a *column*, so one
``repartition(N, bucket)`` + one write replaces N sequential filtered jobs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


_KEYGEN_MAX_ROWS = 1_000_000


def with_sequential_key(
    df: DataFrame, key_name: str, order_by: Sequence[str]
) -> DataFrame:
    """Add a deterministic 1..N surrogate key (IDENTITY parity): the
    row's rank by ``order_by``, ascending, NULLS LAST, as DuckDB's
    ``ROW_NUMBER()`` (NaN after every other double; strings by UTF-8
    bytes).  ``order_by`` must be a unique natural key of ``df`` or the
    assignment is nondeterministic between runs.

    ``df`` is collected once with ``toArrow``, ranked with
    ``pyarrow.compute.sort_indices`` and returned through
    ``createDataFrame`` with ``df``'s schema plus ``key_name`` LONG NOT
    NULL; neither call reads ``spark.sql.execution.arrow.pyspark.enabled``.
    Eager: one Spark job when called, and the result is a snapshot of
    ``df``'s sources at that moment.  Above ``_KEYGEN_MAX_ROWS`` rows (not
    a dimension; the TPC-H key maps use ``with_sequential_key_ranged``)
    it raises ``ValueError``.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    tbl = df.limit(_KEYGEN_MAX_ROWS + 1).toArrow()
    if tbl.num_rows > _KEYGEN_MAX_ROWS:
        raise ValueError(
            f"with_sequential_key takes at most {_KEYGEN_MAX_ROWS} rows; use "
            "with_sequential_key_ranged or with_surrogate_key at scale"
        )
    order = pc.sort_indices(
        tbl, sort_keys=[(c, "ascending") for c in order_by], null_placement="at_end"
    )
    key = np.empty(tbl.num_rows, dtype=np.int64)
    key[order.to_numpy()] = np.arange(1, tbl.num_rows + 1, dtype=np.int64)
    schema = T.StructType(
        df.schema.fields + [T.StructField(key_name, T.LongType(), False)]
    )
    return df.sparkSession.createDataFrame(
        tbl.append_column(key_name, pa.array(key)), schema
    )


def with_surrogate_key(df: DataFrame, key_name: str) -> DataFrame:
    """Add a unique, parallel, non-contiguous surrogate key (fact scale)."""
    return df.withColumn(key_name, F.monotonically_increasing_id())


def with_sequential_key_ranged(
    df: DataFrame, key_name: str, order_col: str, n_buckets: int | None = None
) -> DataFrame:
    """IDENTITY-parity sequential key (1..N by ``order_col``) WITHOUT the
    single-partition global window — the scale-safe form for non-tiny dims
    (customer/product-sized and up).

    Requires ``order_col`` to be a unique, non-null numeric natural key
    (custkey/partkey-style).  The global rank is decomposed as
    range-bucket offset + within-bucket rank:

    1. (min, max) of the key — one tiny aggregate, broadcast.
    2. bucket = (key - min) * B div (max - min + 1): a deterministic,
       order-preserving range bucketing (monotone in the key), so global
       rank = rows in lower buckets + rank within my bucket.  No sampling
       (unlike ``repartitionByRange``), hence bit-identical run-over-run.
    3. within-bucket ``row_number`` — a *partitioned* window, every bucket
       sorts in parallel.
    4. bucket offsets = sum of counts of all lower buckets, via a
       triangular join over the B-row count table (B² comparisons of a
       by-construction-tiny frame; deliberately not a global window so no
       plan node is ever unpartitioned).

    Cost: two extra narrow (key-column-only) scans — stats + counts.  The
    stats broadcast and the counts exchange each appear more than once in
    the *static* plan but are computed once at runtime (AQE
    ReuseExchange); the executed cost is data scan + 2 key-column passes.
    Key skew only degrades bucket balance, never correctness.  Keys are
    identical to ``with_sequential_key`` on the same ``order_col`` — the
    oracle's ``ROW_NUMBER() OVER (ORDER BY key)``.
    """
    if n_buckets is None:
        try:
            n_buckets = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        except Exception:
            n_buckets = 32
    stats = df.agg(
        F.min(order_col).cast("long").alias("_kmin"),
        F.max(order_col).cast("long").alias("_kmax"),
    )
    # long-domain div (not float /): exact for keys up to 2^57 / B
    bucketed = (
        df.crossJoin(F.broadcast(stats))
        .withColumn(
            "_num", (F.col(order_col).cast("long") - F.col("_kmin")) * F.lit(n_buckets)
        )
        .withColumn("_den", F.col("_kmax") - F.col("_kmin") + F.lit(1))
        .withColumn("_b", F.expr("_num div _den"))
        .drop("_kmin", "_kmax", "_num", "_den")
    )
    w_local = Window.partitionBy("_b").orderBy(F.col(order_col))
    local = bucketed.withColumn("_rn", F.row_number().over(w_local))
    # bucket sizes fall out of the SAME windowed exchange (max local rank),
    # so no extra scan branch; the triangular sides are the same counts
    # plan (renamed) and the duplicated subtrees collapse to reused
    # shuffles at runtime
    counts = local.groupBy("_b").agg(F.max("_rn").alias("_cnt"))
    lower = counts.select(F.col("_b").alias("_lb"), F.col("_cnt").alias("_lcnt"))
    offsets = (
        counts.join(F.broadcast(lower), F.col("_lb") < F.col("_b"), "left")
        .groupBy("_b")
        .agg(F.coalesce(F.sum("_lcnt"), F.lit(0)).cast("long").alias("_off"))
    )
    return (
        local.join(F.broadcast(offsets), "_b")
        .withColumn(key_name, (F.col("_off") + F.col("_rn")).cast("long"))
        .drop("_b", "_rn", "_off")
    )


def with_hash_bucket(df: DataFrame, key_col: str, n_buckets: int, bucket_name: str = "bucket") -> DataFrame:
    """Murmur3 hash bucket, same function family as the reference's
    ``pmod(hash(col), N)`` predicate (GE:152, GE:354)."""
    return df.withColumn(bucket_name, F.pmod(F.hash(F.col(key_col)), F.lit(n_buckets)))


def write_bucketed(
    df: DataFrame,
    key_col: str,
    n_buckets: int,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
) -> None:
    """The Spark-idiomatic replacement for the reference's N sequential
    bucket-filtered writes (GE:150-162, GE:352-362): one shuffle, one job,
    per-partition parallel writes.

    ``partition_by`` adds hive-style directory partitioning on top of the
    hash distribution — for a fact table the time key goes here, so a
    date-band query prunes whole directories (``PartitionFilters``)
    instead of scanning every file; the hash repartition still spreads
    each partition's rows across writers."""
    writer = df.repartition(n_buckets, F.col(key_col)).write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def zorder_key(x, y, bits: int = 16):
    """Morton / Z-order bit interleave of two non-negative ints (each
    masked to ``bits`` bits): the multi-dimensional clustering key behind
    Delta/Iceberg's OPTIMIZE ZORDER.  Sorting (or range-partitioning) a
    table by this key co-locates rows that are close in BOTH dimensions,
    so per-file min/max statistics prune 2-D predicates — the layout
    complement of ``sources.io.compact_table``.

    Pure long shift/mask arithmetic: whole-stage-codegen JVM expression,
    no UDF, and bit-for-bit reproducible in ANSI SQL (the oracle mirrors
    the same term sum)."""
    mask = F.lit((1 << bits) - 1)
    xs = x.cast("long").bitwiseAND(mask)
    ys = y.cast("long").bitwiseAND(mask)
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out + F.shiftleft(F.shiftright(xs, i).bitwiseAND(F.lit(1)), 2 * i)
        out = out + F.shiftleft(F.shiftright(ys, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return out
