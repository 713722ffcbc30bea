"""Deterministic dedup + surrogate keys (SURVEY §4.3 / §7 hard parts)."""

from __future__ import annotations

import re

import pytest

from logistream_data_pipeline_aws_spark.functions import keys
from logistream_data_pipeline_aws_spark.functions.keys import (
    with_sequential_key,
    with_surrogate_key,
)
from logistream_data_pipeline_aws_spark.operators.dedup import dedup_first


def test_dedup_first_is_deterministic(spark):
    rows = [("a", 3, "z"), ("a", 1, "y"), ("a", 2, "x"), ("b", 9, "q")]
    df = spark.createDataFrame(rows, ["k", "ord", "payload"])
    for _ in range(3):
        out = {(r.k, r.ord, r.payload) for r in dedup_first(df, ["k"], ["ord"]).collect()}
        assert out == {("a", 1, "y"), ("b", 9, "q")}


def test_sequential_key_contiguous_and_stable(spark):
    df = spark.createDataFrame([("c",), ("a",), ("b",)], ["name"])
    out = dict(
        (r.name, r.key) for r in with_sequential_key(df, "key", ["name"]).collect()
    )
    assert out == {"a": 1, "b": 2, "c": 3}  # IDENTITY(1,1) parity: 1..N by natural key


def test_sequential_key_null_member_sorts_last(spark):
    """r5 dim-axis NULL probe regression: a NULL natural-key member must
    get the LAST key (ANSI/DuckDB NULLS LAST), not silently collide at
    key 1 — Spark's bare < comparison dropped it from the triangular
    count entirely."""
    df = spark.createDataFrame([("c",), (None,), ("a",)], ["name"])
    out = {
        r.name: r.key for r in with_sequential_key(df, "key", ["name"]).collect()
    }
    assert out == {"a": 1, "c": 2, None: 3}


def test_sequential_key_null_component_ties_chain(spark):
    """Composite keys with a NULL component: null-safe equality chains
    the tie to the next component, so two NULL-first-col rows still
    order deterministically by the second."""
    rows = [("x", 2), (None, 9), (None, 1), ("x", 1)]
    df = spark.createDataFrame(rows, ["g", "n"])
    out = {
        (r.g, r.n): r.key
        for r in with_sequential_key(df, "key", ["g", "n"]).collect()
    }
    assert out == {("x", 1): 1, ("x", 2): 2, (None, 1): 3, (None, 9): 4}


def test_surrogate_key_unique(spark):
    df = spark.range(1000).repartition(8)
    out = with_surrogate_key(df, "sk")
    assert out.select("sk").distinct().count() == 1000


def test_lsh_bucket_cap_drops_degenerate_bucket_before_expansion(spark):
    """VERDICT r3 #7: the 1024 LSH bucket cap was tuned on this corpus —
    regression-lock it on a degenerate shape.  A 1300-doc bucket (shared
    boilerplate that slipped past exact dedup) must be dropped BEFORE any
    id array is collected (no O(bucket²) pair expansion), while healthy
    buckets keep their pairs; the audit view reports exactly what was
    dropped."""
    from logistream_data_pipeline_aws_spark.operators.dedup_family import (
        capped_bucket_pairs,
        oversized_buckets,
    )

    rows = [("deg", i) for i in range(1300)] + [("ok", 5000 + j) for j in range(3)]
    banded = spark.createDataFrame(rows, ["band", "doc_id"])

    capped = capped_bucket_pairs(banded, "band", "doc_id")
    pairs = capped.collect()
    # the degenerate bucket would alone expand 1300*1299/2 = 844,350 pairs
    assert len(pairs) == 3  # only the healthy bucket's C(3,2)
    assert all(r.id_a >= 5000 and r.id_b >= 5000 for r in pairs)
    # the (band, id) dedup, the cap count and the collect share ONE shuffle
    # of the rows on the band key; the count side reuses it
    final = capped._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert len(re.findall(r"\+- Exchange hashpartitioning\(band", final)) == 1
    assert "ReusedExchange" in final

    dropped = oversized_buckets(banded, "band", "doc_id").collect()
    assert [(r.band, r.n_ids) for r in dropped] == [("deg", 1300)]


def test_winnow_fingerprint_cap_drops_ubiquitous_boilerplate(spark, tmp_path):
    """VERDICT r3 #7: the winnow pair miner's 64-doc fingerprint cap on a
    degenerate corpus — 100 clones sharing ALL fingerprints (every bucket
    >64, all dropped: pure boilerplate carries no local-overlap signal)
    must yield zero clone pairs, while a 2-doc overlap with unique
    vocabulary survives.  Uncapped, the clone mass alone would expand
    100*99/2 pairs PER fingerprint."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from logistream_data_pipeline_aws_spark.plans.extensions import doc_winnow_pairs

    clone_text = (
        "the quick brown fox jumps over the lazy dog while the band plays "
        "exactly the same licensed boilerplate paragraph in every copy of "
        "this document corpus for adversarial testing purposes"
    )
    pair_a = (
        "zebra quartz jigsaw vortex mumble frozen lantern whisper gravity "
        "unique overlapping passage shared by exactly two documents here "
        "plus an individual suffix alpha"
    )
    pair_b = (
        "kraken fjord lighthouse obsidian thunder velvet migration sparrow "
        "unique overlapping passage shared by exactly two documents here "
        "plus an individual suffix beta"
    )
    ids = list(range(100)) + [1001, 1002]
    texts = [clone_text] * 100 + [pair_a, pair_b]
    d = tmp_path / "degenerate"
    d.mkdir()
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * 102),
            "source": pa.array(["web"] * 102),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, str(d / "documents.parquet"))

    pairs = {(r.id_a, r.id_b): r.overlap for r in doc_winnow_pairs(spark, str(d)).collect()}
    assert all(a >= 1000 and b >= 1000 for a, b in pairs), (
        f"clone pairs leaked past the fingerprint cap: {sorted(pairs)[:5]}"
    )
    assert (1001, 1002) in pairs and pairs[(1001, 1002)] >= 0.2


def test_prefix_filter_exact_recall(spark):
    """Prefix filtering must find EVERY pair with jaccard >= t (the
    guarantee that distinguishes it from LSH), verified against a
    brute-force python reference on shingle sets; raw-token mode and
    the bucket cap degrade loudly, not silently."""
    from logistream_data_pipeline_aws_spark.operators.dedup_family import (
        prefix_filter_pairs,
    )

    texts = {
        1: "the quick brown fox jumps over the lazy dog tonight",
        2: "the quick brown fox jumps over the lazy dog today",
        3: "the quick brown fox jumps over the lazy dog",
        4: "an entirely different sentence about database engines here",
        5: "an entirely different sentence about database engines there",
        6: "short text",
    }
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    out = prefix_filter_pairs(df, "doc_id", "text", threshold=0.5, k_shingle=3)
    got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}

    def shingles(t, k=3):
        w = t.split()
        return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}

    expect = {}
    ids = [i for i in texts if len(texts[i].split()) >= 3]
    for i in ids:
        for j in ids:
            if i < j:
                a, b = shingles(texts[i]), shingles(texts[j])
                jac = len(a & b) / len(a | b)
                if round(jac, 6) >= 0.5:
                    expect[(i, j)] = round(jac, 6)
    assert got == expect and len(got) >= 3  # recall is exact, fixture nontrivial
    # doc 6 (< k tokens) never appears
    assert all(6 not in p for p in got)


def test_incremental_ingest_is_asymmetric(spark, tmp_path):
    """Admission checks run ONLY against the corpus: two incoming docs
    that duplicate each other (but nothing in the corpus) both admit;
    an incoming doc duplicating a corpus doc is rejected with the pair
    counted; corpus-internal duplicates are invisible here."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from logistream_data_pipeline_aws_spark.plans.extensions import (
        dedup_incremental_ingest,
    )

    dup_a = "the quick brown fox jumps over the lazy dog again and again"
    dup_b = "completely different content about shipping routes and ports"
    rows = {
        # incoming shard (doc_id % 10 == 0)
        10: dup_b,  # duplicates incoming 20 only -> accepted
        20: dup_b,  # duplicates incoming 10 only -> accepted
        30: dup_a,  # duplicates corpus 11 -> rejected
        40: "tiny",  # too short to shingle -> trivially accepted
        # corpus
        11: dup_a,
        21: "unrelated corpus text mentioning warehouses and pallets daily",
    }
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(list(rows), type=pa.int64()),
                "text": pa.array(list(rows.values()), type=pa.string()),
                "lang": pa.array(["en"] * len(rows), type=pa.string()),
                "source": pa.array(["s0"] * len(rows), type=pa.string()),
                "n_chars": pa.array(
                    [len(t) for t in rows.values()], type=pa.int64()
                ),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    got = {
        r.doc_id: (r.n_corpus_dups, r.accepted)
        for r in dedup_incremental_ingest(spark, str(tmp_path)).collect()
    }
    assert got == {
        10: (0, True),
        20: (0, True),
        30: (1, False),
        40: (0, True),
    }


def test_golden_record_field_survivorship(spark):
    """Synthetic dup group: the golden record must take the MODAL lang
    (not the survivor row's), the max n_chars, and the min doc_id —
    field-level merge, not row pick."""
    from logistream_data_pipeline_aws_spark.functions.text import fingerprint
    from pyspark.sql import functions as F

    rows = [
        (1, "Same   Text", "de", "web", 50),
        (2, "same text", "en", "web", 99),
        (3, "SAME TEXT", "en", "book", 10),
        (7, "unique", None, None, 5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    docs = df.select("doc_id", fingerprint("text").alias("content_hash"),
                     "lang", "source", "n_chars")
    # replicate the registered plan body over the synthetic frame
    from pyspark.sql import Window
    base = docs.groupBy("content_hash").agg(
        F.min("doc_id").alias("golden_id"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max("n_chars").alias("max_chars"),
    )

    def modal(col):
        cnt = (docs.where(F.col(col).isNotNull())
               .groupBy("content_hash", col).agg(F.count(F.lit(1)).alias("_c")))
        w = Window.partitionBy("content_hash").orderBy(F.col("_c").desc(), F.col(col))
        return (cnt.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1).select("content_hash", col))

    out = {r.golden_id: r for r in
           base.join(modal("lang"), "content_hash", "left")
               .join(modal("source"), "content_hash", "left").collect()}
    g = out[1]
    assert g.n_members == 3 and g.max_chars == 99
    assert g.lang == "en"          # modal beats the golden row's own 'de'
    assert g.source == "web"       # 2-1 frequency win
    u = out[7]
    assert u.n_members == 1 and u.lang is None and u.source is None


def test_parallelize_cpu_stage_detects_hollow_splits(spark, tmp_path):
    """The r12 probe finding: byte-range splits of a few large
    single-row-group parquet files report full nominal parallelism
    while only the splits holding a row-group midpoint carry rows —
    the partition-count check alone funneled a 5M-doc gram scan
    through 4 straggler tasks.  parallelize_cpu_stage must repartition
    on the few-small-files signal even when the nominal split count
    looks parallel."""
    from logistream_data_pipeline_aws_spark.operators.dedup_family import (
        parallelize_cpu_stage,
    )

    path = str(tmp_path / "hollow")
    (
        spark.range(20_000)
        .selectExpr("id", "repeat('x', 64) AS text")
        .coalesce(2)
        .write.parquet(path)
    )
    target = spark.sparkContext.defaultParallelism
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8k")
    try:
        df = spark.read.parquet(path)
        nominal = df.rdd.getNumPartitions()
        # the hazard precondition: the scan LOOKS parallel (>= target
        # byte-range splits) but is 2 files of 1 row group each
        assert nominal >= target, (nominal, target)
        assert len(df.inputFiles()) == 2
        out = parallelize_cpu_stage(df)
        assert out.rdd.getNumPartitions() == target
        # and the repartition is a real round-robin: every partition
        # carries rows (the hollow scan had rows in only 2)
        sizes = out.rdd.glom().map(len).collect()
        assert sum(1 for s in sizes if s > 0) == target
        # a genuinely multi-file input at target parallelism is left
        # untouched (the 100 TB no-op contract)
        wide = df.repartition(target)
        assert parallelize_cpu_stage(wide) is wide
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_hollow_split_guard_is_node_anchored(spark, tmp_path):
    """ADVICE r12: the exchange-in-lineage check must match logical
    NODE names at tree-line starts, not bare substrings anywhere in the
    analyzed plan — a column alias like ``window_start`` or a string
    literal containing 'Sort' rides inside Project/Filter lines and
    must NOT fake an exchange (which would silently skip the hollow-
    split repartition and reintroduce the 4-straggler behavior)."""
    from pyspark.sql import functions as F

    from logistream_data_pipeline_aws_spark.operators.dedup_family import (
        parallelize_cpu_stage,
    )

    path = str(tmp_path / "hollow2")
    (
        spark.range(20_000)
        .selectExpr("id", "repeat('x', 64) AS text")
        .coalesce(2)
        .write.parquet(path)
    )
    target = spark.sparkContext.defaultParallelism
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8k")
    try:
        # shuffle-free scan whose PLAN TEXT contains the node words only
        # inside expressions: aliases window_start / sort_key, and a
        # filter comparing against the literal 'Aggregate'
        df = (
            spark.read.parquet(path)
            .where(F.col("text") != F.lit("Aggregate Join Repartition"))
            .select(
                F.col("id").alias("window_start"),
                F.col("text").alias("sort_key"),
            )
        )
        from logistream_data_pipeline_aws_spark.operators.dedup_family import (
            _has_exchange_in_lineage,
        )

        # the expression words must not read as exchanges...
        assert not _has_exchange_in_lineage(df)
        # ...so the hollow-split repartition still fires end-to-end
        out = parallelize_cpu_stage(df)
        assert out.rdd.getNumPartitions() == target
        sizes = out.rdd.glom().map(len).collect()
        assert sum(1 for s in sizes if s > 0) == target
        # and REAL exchange nodes are still detected (anchored match)
        base = spark.read.parquet(path)
        assert _has_exchange_in_lineage(base.groupBy("text").count())
        assert _has_exchange_in_lineage(base.repartition(8))
        assert _has_exchange_in_lineage(base.orderBy("id"))
        assert _has_exchange_in_lineage(base.join(base.limit(1), "id"))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_sequential_key_with_arrow_disabled(spark):
    """The keygen's collect and its return trip go through Arrow whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says; with the conf off
    the keys and the schema are unchanged, and the conf is restored."""
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(conf, None)
    spark.conf.set(conf, "false")
    try:
        rows = [("x", 2.0), (None, 9.0), (None, float("nan")), ("x", None)]
        df = spark.createDataFrame(rows, "g string, n double")
        out = with_sequential_key(df, "key", ["g", "n"])
        got = {r.key: (r.g, r.n) for r in out.collect()}
    finally:
        if before is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, before)
    assert spark.conf.get(conf, None) == before
    assert [f.name for f in out.schema.fields] == ["g", "n", "key"]
    assert out.schema["key"].dataType.simpleString() == "bigint"
    assert not out.schema["key"].nullable
    assert got[1] == ("x", 2.0) and got[2] == ("x", None)
    assert got[3] == (None, 9.0)
    assert got[4][0] is None and got[4][1] != got[4][1]  # NaN after 9.0


def test_sequential_key_row_bound(spark, monkeypatch):
    """A frame above ``_KEYGEN_MAX_ROWS`` is not a dimension: the driver
    keygen raises and names the scale forms; at the bound it keys."""
    monkeypatch.setattr(keys, "_KEYGEN_MAX_ROWS", 3)
    at_bound = spark.range(3).withColumnRenamed("id", "k")
    assert sorted(r.key for r in with_sequential_key(at_bound, "key", ["k"]).collect()) == [1, 2, 3]
    with pytest.raises(ValueError, match="with_sequential_key_ranged.*with_surrogate_key"):
        with_sequential_key(spark.range(4).withColumnRenamed("id", "k"), "key", ["k"])
