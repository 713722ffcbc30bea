"""Unit tests for the training-data pipeline operators: dedup family,
similarity search, text analysis, multimodal plumbing."""

from __future__ import annotations

import types

import pytest
from pyspark.sql import functions as F

from logistream_data_pipeline_aws_spark import staging
from logistream_data_pipeline_aws_spark.operators import dedup_family as D
from logistream_data_pipeline_aws_spark.operators import similarity as S
from logistream_data_pipeline_aws_spark.operators.multimodal import (
    extract_image_features,
    sample_frames,
    with_media_meta,
)

from __spark_entry__ import (  # shared r11 oracle builders (single source)
    _bigram_score_oracle,
    _dsir_oracle,
    _kcore_oracle_sql,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "THE  quick   brown fox jumps over the lazy dog "),  # normalized dup of 1
    (4, "the quick brown fox jumps over the sleepy dog"),  # near dup (1 word)
    (5, "completely different content about spark engines here"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"]).cache()


def test_exact_duplicates(docs):
    out = D.exact_duplicates(docs, "doc_id", "text")
    groups = {r.keep_id: r.n_docs for r in out.collect()}
    # 1,2,3 collapse (md5 of normalized text); 4 and 5 stand alone
    assert groups[1] == 3
    assert groups[4] == 1
    assert groups[5] == 1


def test_minhash_near_duplicates(docs):
    # bands=6 (r=2): with these fixed md5 'permutations' the jaccard-0.56
    # near-dup pair (1,4) lands in a shared band — deterministic, verified
    # against a pure-python minhash replica
    pairs = D.minhash_near_duplicates(
        docs, "doc_id", "text", k_shingle=3, n_hashes=12, bands=6, threshold=0.2
    )
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert got[(1, 2)] == 1.0  # identical shingle sets
    assert (1, 4) in got and 0.2 <= got[(1, 4)] < 1.0  # near dup caught
    assert all(5 not in p for p in got)  # unrelated doc never pairs


def test_simhash_fingerprints_and_pairs(docs):
    fps = D.simhash_fingerprints(docs, "doc_id", "text")
    vals = {r.doc_id: r.simhash for r in fps.collect()}
    assert vals[1] == vals[2]  # same tokens -> same fingerprint
    assert vals[1] != vals[5]
    pairs = D.simhash_near_duplicates(fps, max_hamming=3)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert got[(1, 2)] == 0
    assert all(5 not in p for p in got)


def test_lsh_bucket_cap_bounds_degenerate_buckets(spark):
    """Adversarial corpus: many docs with IDENTICAL text all share every
    minhash band.  Uncapped, candidate generation expands O(N²) pairs from
    one bucket; with the cap the degenerate bucket is dropped pre-collection
    and the run completes in O(N) producing zero candidate pairs (that mass
    belongs to exact dedup).  Normal near-dup corpora (every other test)
    are unaffected because no bucket exceeds the cap."""
    n = 300
    clones = spark.createDataFrame(
        [(i, "the same boilerplate sentence repeated everywhere") for i in range(n)]
        + [(n, "an entirely different document about something else")],
        ["doc_id", "text"],
    )
    sigs = D.minhash_signatures(clones, "doc_id", "text", k_shingle=3, n_hashes=12)
    capped = D.lsh_candidate_pairs(sigs, n_hashes=12, bands=6, max_bucket_size=100)
    assert capped.count() == 0  # degenerate bucket dropped, nothing else pairs
    # the diagnostic surface reports exactly what was dropped
    r = 12 // 6
    band_hashes = F.array(
        *[
            F.concat(F.lit(f"{j}#"), F.concat_ws("_", F.slice("sig", j * r + 1, r)))
            for j in range(6)
        ]
    )
    banded = sigs.select("doc_id", F.explode(band_hashes).alias("band_hash"))
    over = D.oversized_buckets(banded, "band_hash", "doc_id", max_bucket_size=100)
    rows = over.collect()
    assert len(rows) == 6  # the clone mass shares all 6 bands
    assert all(row.n_ids == n for row in rows)
    # uncapped reference on a smaller clone set: pairs DO explode without
    # the cap (guards the test itself against a silently-ignored parameter)
    uncapped = D.lsh_candidate_pairs(sigs, n_hashes=12, bands=6, max_bucket_size=None)
    assert uncapped.count() == n * (n - 1) // 2


def test_embedding_lsh_bucket_cap(spark):
    """Same cap on the sign-band path: identical embeddings collapse into
    one orthant bucket; capped generation drops it pre-collection."""
    base = [0.5, -0.25, 0.75, -0.5, 0.25, -0.75, 0.5, 0.25]
    rows = [(i, base) for i in range(50)] + [(50, [-x for x in base])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    capped = D.embedding_near_duplicates_lsh(
        df, "vec_id", "embedding", threshold=0.95, band_bits=4, n_bands=2,
        max_bucket_size=10,
    )
    assert capped.count() == 0
    uncapped = D.embedding_near_duplicates_lsh(
        df, "vec_id", "embedding", threshold=0.95, band_bits=4, n_bands=2,
        max_bucket_size=None,
    )
    assert uncapped.count() == 50 * 49 // 2


def test_ngram_jaccard_pairs(spark):
    df = spark.createDataFrame(
        [(i, t, "blockA" if i < 5 else "blockB") for i, t in DOCS],
        ["doc_id", "text", "src"],
    )
    pairs = D.ngram_jaccard_pairs(df, "doc_id", "text", "src", threshold=0.2)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got and (1, 4) in got
    # doc 5 is in another block: never compared even if similar
    assert all(5 not in p for p in got)


def test_composed_block_key_scopes_quadratic_join(spark):
    """The composed key (lang × length-bucket × source) only pairs docs
    agreeing on all three; a near-identical doc in another language or a
    far-away length bucket is never compared (by design — that's what
    bounds the quadratic term at corpus scale)."""
    t = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, t, "en", "src0", len(t)),
        (2, t + " iota", "en", "src0", len(t) + 5),   # same bucket, pairs
        (3, t, "de", "src0", len(t)),                  # other lang: never
        (4, t, "en", "src0", len(t) + 5000),           # far bucket: never
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    pairs = D.ngram_jaccard_pairs(
        df, "doc_id", "text", block_col=D.composed_block_key(), threshold=0.2
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(1, 2)}
    # block bound: an oversized block is dropped, not exploded
    clones = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i in range(40)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    capped = D.ngram_jaccard_pairs(
        clones, "doc_id", "text", block_col=D.composed_block_key(),
        threshold=0.2, max_block_size=10,
    )
    assert capped.count() == 0


def test_guards_raise_loudly(spark):
    """Misuse raises instead of silently degrading (review findings)."""
    from logistream_data_pipeline_aws_spark.operators.dedup_family import (
        connected_components,
        lsh_candidate_pairs,
    )
    from logistream_data_pipeline_aws_spark.operators.dimensions import build_dimension

    with pytest.raises(ValueError, match="must divide"):
        lsh_candidate_pairs(spark.range(1), n_hashes=12, bands=5)
    with pytest.raises(ValueError, match="parent_on"):
        build_dimension(
            spark.createDataFrame([(1,)], ["k"]), {"k": "k"}, ["k"], "key",
            parent=spark.createDataFrame([(1,)], ["k"]),
        )
    # a 25-node path graph has diameter > 3: must refuse, not mislabel
    # (driver_path_max_edges=0 forces the distributed loop this guard
    # protects; the default driver path has no partial-label mode)
    nodes = spark.createDataFrame([(i,) for i in range(25)], ["id"])
    edges = spark.createDataFrame([(i, i + 1) for i in range(24)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(nodes, edges, max_iters=3, driver_path_max_edges=0)


def test_quality_score_pandas_null_parity(spark):
    from logistream_data_pipeline_aws_spark.functions.text import (
        quality_score,
        quality_score_pandas,
    )

    df = spark.createDataFrame([(1, None), (2, "the cat")], ["doc_id", "text"])
    out = {r.doc_id: (r.e, r.u) for r in df.select(
        "doc_id",
        quality_score("text").alias("e"),
        quality_score_pandas("text").alias("u"),
    ).collect()}
    assert out[1] == (None, None)  # NULL in -> NULL out on BOTH paths
    assert abs(out[2][0] - out[2][1]) < 1e-9


def test_connected_components(spark):
    """Chain a-b-c plus pair d-e plus singleton f: three clusters, each
    labeled by its minimum member."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], ["id"])
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], ["id_a", "id_b"]
    )
    out = {r.id: r.cluster_id for r in D.connected_components(nodes, edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_semantic_tag_cache_bounded_and_unpersists(spark, tmp_path):
    """``staging.stage`` eviction (the bound the semantic-tag LRU used to
    give, ADVICE r7 / VERDICT r7 #5): an entry of another Spark
    application is dropped and unpersisted on the next call; a tag holds
    one source at a time, so a displaced entry is unpersisted; the live
    frame stays cached — a session sweeping many (sf_dir, config) pairs
    cannot pin unbounded executor storage."""
    sizes = iter(range(3, 100))

    def frame():
        df = spark.range(next(sizes)).persist()  # a distinct plan each
        df.count()
        return df

    def cached(df):
        return df.storageLevel.useMemory or df.storageLevel.useDisk

    dead = frame()
    staging._ENTRIES[("dead-app", "semantic_tag:k=8:iters=2")] = ("/x", (), dead)
    try:
        a = staging.stage(spark, str(tmp_path / "a"), "semantic_tag:k=8:iters=2", frame)
        assert ("dead-app", "semantic_tag:k=8:iters=2") not in staging._ENTRIES
        assert not cached(dead)
        assert staging.stage(
            spark, str(tmp_path / "a"), "semantic_tag:k=8:iters=2", frame
        ) is a
        b = staging.stage(spark, str(tmp_path / "b"), "semantic_tag:k=8:iters=2", frame)
        assert not cached(a)
        assert cached(b)
    finally:
        staging.release(spark)


def test_embedding_near_duplicates_and_topk(spark):
    vecs = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0]),  # ~same direction as 1
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    pairs = D.embedding_near_duplicates(df, "vec_id", "embedding", threshold=0.95)
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(1, 2)}

    topk = S.brute_force_topk(df.where("vec_id = 1"), df, "vec_id", "embedding", k=2)
    rows = sorted(topk.collect(), key=lambda r: r.rank)
    assert [r.candidate_id for r in rows] == [2, 3]  # nearest then orthogonal
    assert rows[0].cos_sim > 0.99


def test_embedding_lsh_plan_and_recall(spark):
    """The scale path must (a) plan equi-joins only — no all-pairs
    BroadcastNestedLoopJoin — and (b) recover every pair the brute-force
    reference finds at the near-dup operating point; at the fixture's
    loose 0.4 threshold its measured recall is pinned as a floor."""
    from tests.conftest import SF_SMALL
    from logistream_data_pipeline_aws_spark.catalog import load_table

    emb = load_table(spark, "embeddings", SF_SMALL)
    lsh = D.embedding_near_duplicates_lsh(
        emb, "vec_id", "embedding", threshold=0.4, band_bits=8, n_bands=8
    )
    plan = lsh._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # verify joins are hash equi-joins on the ids

    lsh_pairs = {(r.id_a, r.id_b) for r in lsh.collect()}
    exact_pairs = {
        (r.id_a, r.id_b)
        for r in D.embedding_near_duplicates(
            emb, "vec_id", "embedding", threshold=0.4
        ).collect()
    }
    assert lsh_pairs <= exact_pairs  # exact verify: no false positives
    recall = len(lsh_pairs) / len(exact_pairs)
    assert recall >= 0.25, f"fixture recall regressed: {recall:.3f}"

    # high-sim clones: banding must recover them all (the operating point)
    clones = [(i, [float(i % 7 == j % 7) + 0.01 * j for j in range(64)]) for i in range(40)]
    cdf = spark.createDataFrame(clones, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    got = {
        (r.id_a, r.id_b)
        for r in D.embedding_near_duplicates_lsh(
            cdf, "vec_id", "embedding", threshold=0.9, band_bits=8, n_bands=8
        ).collect()
    }
    want = {
        (r.id_a, r.id_b)
        for r in D.embedding_near_duplicates(
            cdf, "vec_id", "embedding", threshold=0.9
        ).collect()
    }
    assert want and got == want


def test_ann_multiprobe_improves_recall(spark):
    """Multi-probe must dominate single-probe: every single-probe hit is
    reachable (hamming-0 bucket is probed too), and on the fixture the
    top-k agreement with exact brute force strictly improves."""
    from tests.conftest import SF_SMALL
    from logistream_data_pipeline_aws_spark.catalog import load_table

    emb = load_table(spark, "embeddings", SF_SMALL)
    q = emb.where("vec_id < 10")

    def topk_set(df):
        return {(r.query_id, r.candidate_id) for r in df.collect()}

    exact = topk_set(S.brute_force_topk(q, emb, "vec_id", "embedding", k=5))
    single = topk_set(S.ann_topk(q, emb, "vec_id", "embedding", k=5, n_bits=4))
    multi = topk_set(
        S.ann_topk(q, emb, "vec_id", "embedding", k=5, n_bits=4, multiprobe=True)
    )
    assert len(multi & exact) >= len(single & exact)
    assert len(multi & exact) > 0


def test_ann_bucket_restricts_candidates(spark):
    vecs = [
        (1, [1.0, 1.0]),
        (2, [0.9, 0.8]),  # same sign bucket as 1
        (3, [-1.0, 1.0]),  # different bucket: invisible to query 1
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    out = S.ann_topk(df.where("vec_id = 1"), df, "vec_id", "embedding", k=5, n_bits=2)
    assert [r.candidate_id for r in out.collect()] == [2]


def test_quality_score_pandas_matches_expression(spark, docs):
    """The Arrow-vectorized pandas UDF and the pure-Catalyst expression
    must agree — the UDF is documentation of the slow path, not a fork."""
    from logistream_data_pipeline_aws_spark.functions.text import (
        quality_score,
        quality_score_pandas,
    )

    out = docs.select(
        "doc_id",
        quality_score("text").alias("expr_score"),
        quality_score_pandas("text").alias("udf_score"),
    ).collect()
    for r in out:
        assert abs(r.expr_score - r.udf_score) < 1e-9, r


def test_sketch_profile_within_tolerance(spark):
    """approx_count_distinct / approx_percentile estimates must land
    within tolerance of the exact answers they replace at scale."""
    from logistream_data_pipeline_aws_spark.plans.extensions import (
        events_sketch_profile,
        events_value_quantiles,
    )
    from tests.conftest import SF_ORACLE

    approx = {r.event_type: r for r in events_sketch_profile(spark, SF_ORACLE).collect()}
    exact = {r.event_type: r for r in events_value_quantiles(spark, SF_ORACLE).collect()}
    for et, a in approx.items():
        e = exact[et]
        assert a.n_events == e.n_events
        assert abs(a.approx_p50 - e.p50) / max(e.p50, 1.0) < 0.05
        assert abs(a.approx_p90 - e.p90) / max(e.p90, 1.0) < 0.05


def test_center_embeddings_by_group(spark):
    import numpy as np

    vecs = [
        (0, 1, [1.0, 3.0]),
        (0, 2, [3.0, 5.0]),
        (1, 3, [10.0, 10.0]),
    ]
    df = spark.createDataFrame(vecs, ["label", "vec_id", "embedding"]).select(
        "label", "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    out = {r.vec_id: r.centered for r in S.center_embeddings_by_group(
        df, "label", "vec_id", "embedding"
    ).collect()}
    assert out[1] == [-1.0, -1.0] and out[2] == [1.0, 1.0]  # centered on [2,4]
    assert out[3] == [0.0, 0.0]  # singleton group centers to zero
    assert np.allclose(np.add(out[1], out[2]), 0.0)


def test_write_warehouse_roundtrip(spark, tmp_path):
    from logistream_data_pipeline_aws_spark.plans.reference_pipeline import (
        build_warehouse,
        write_warehouse,
    )
    from logistream_data_pipeline_aws_spark.sources.geojson import (
        flatten_geojson_routes,
        read_geojson,
    )
    from tests.fixtures import ROUTES_GEOJSON, make_rawdata

    import json as _json

    geo = tmp_path / "routes.geojson"
    geo.write_text(_json.dumps(ROUTES_GEOJSON))
    wh = build_warehouse(make_rawdata(spark), flatten_geojson_routes(read_geojson(spark, str(geo))))
    out = str(tmp_path / "wh")
    write_warehouse(wh, out)
    fact_back = spark.read.parquet(f"{out}/fact_supplychain_events")
    assert fact_back.count() == wh["fact_supplychain_events"].count()
    assert spark.read.parquet(f"{out}/dim_date").count() == wh["dim_date"].count()


def test_multimodal_meta_and_features(spark):
    media = spark.createDataFrame(
        [(1, bytearray(b"abc")), (2, bytearray(b"x" * 100))], ["media_id", "payload"]
    )
    meta = {r.media_id: r.meta for r in with_media_meta(media).collect()}
    assert meta[1].n_bytes == 3
    assert meta[1].checksum == "900150983cd24fb0d6963f7d28e17f72"  # md5("abc")

    feats = {r.media_id: r for r in extract_image_features(media).collect()}
    assert feats[1].n_bytes == 3
    assert feats[1].width == 4 and feats[1].height == 1  # deterministic fake codec
    assert abs(feats[1].mean_byte - (97 + 98 + 99) / 3) < 1e-9

    frames = sample_frames(media.where("media_id = 2"), every_n_bytes=40)
    assert [r.byte_offset for r in frames.collect()] == [0, 40, 80]


def test_pil_codec_branch(monkeypatch, spark):
    """The real-codec branch must work when PIL exists (stubbed here — the
    container has no image libs) and the fake must stay forceable."""
    import sys
    import types

    from logistream_data_pipeline_aws_spark.operators import multimodal as M

    class _FakeImg:
        size = (3, 2)

        def convert(self, mode):
            return self

        def getdata(self):
            return [10, 20, 30, 40, 50, 60]

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    img_mod = types.ModuleType("PIL.Image")
    img_mod.open = lambda fp: _FakeImg()
    pil = types.ModuleType("PIL")
    pil.Image = img_mod
    monkeypatch.setitem(sys.modules, "PIL", pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", img_mod)
    w, h, mean = M._pil_decode(b"whatever")
    assert (w, h) == (3, 2)
    assert abs(mean - 35.0) < 1e-9

    # with PIL "present", plan construction must not raise, and the fake
    # stays available for deterministic tests via the override
    monkeypatch.setattr(M, "_HAVE_PIL", True)
    media = spark.createDataFrame([(1, bytearray(b"abc"))], ["media_id", "payload"])
    M.extract_image_features(media)  # real-codec plan builds
    row = M.extract_image_features(media, use_fake_codec=True).collect()[0]
    assert (row.width, row.height) == (4, 1)


def test_doc_repetition_edges(spark):
    """Degenerate text scores 1.0, fully-unique text scores 1/n, and
    docs shorter than the gram width are excluded."""
    from logistream_data_pipeline_aws_spark.plans import extensions as X
    import logistream_data_pipeline_aws_spark.catalog as C

    docs = spark.createDataFrame(
        [
            (1, "a a a a a a"),          # one distinct 3-gram, 4 occurrences
            (2, "w x y z u v"),          # all 4 grams distinct
            (3, "too short"),            # < 3 tokens: no grams
        ],
        ["doc_id", "text"],
    )
    orig = C.load_table
    try:
        C.load_table = lambda spark, name, sf_dir: docs  # noqa: ARG005
        X.load_table = C.load_table
        out = {r.doc_id: r for r in X.doc_repetition(spark, "unused").collect()}
    finally:
        C.load_table = orig
        X.load_table = orig
    assert set(out) == {1, 2}
    assert out[1].repetition_ratio == 1.0 and out[1].n_grams == 4
    assert out[2].max_gram_freq == 1
    assert abs(out[2].repetition_ratio - round(1 / 4, 6)) < 1e-9


def _with_table_fixture(spark, df, fn):
    """Run a plans query with load_table patched (in the catalog and in
    every plans module that imported it by name) to a fixture frame."""
    import logistream_data_pipeline_aws_spark.catalog as C
    from logistream_data_pipeline_aws_spark.plans import analytics as A
    from logistream_data_pipeline_aws_spark.plans import extensions as X

    orig = C.load_table
    try:
        C.load_table = lambda spark, name, sf_dir: df  # noqa: ARG005
        X.load_table = C.load_table
        A.load_table = C.load_table
        return fn(spark)
    finally:
        C.load_table = orig
        X.load_table = orig
        A.load_table = orig


def _with_events_fixture(spark, rows, fn):
    """Run an extensions query with load_table patched to a fixture
    events frame (event_id, ts, user_id, event_type, value)."""
    from pyspark.sql import types as T

    from logistream_data_pipeline_aws_spark.plans import extensions as X

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    events = spark.createDataFrame(rows, schema)
    return _with_table_fixture(spark, events, lambda s: fn(X, s))


def test_gapfill_locf_fills_and_carries(spark):
    """Empty hours appear with n_events=0/is_gap and carry the latest
    observed hourly average; an all-NULL-value hour is a real bucket
    whose own average is NULL until an observation exists."""
    import datetime as dt

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    rows = [
        (1, t(0, 5), 1, "a", 10.0),
        (2, t(3, 5), 1, "a", 20.0),   # hours 1-2 are gaps for type a
        (3, t(0, 1), 1, "b", None),   # type b: one bucket, NULL average
    ]
    out = _with_events_fixture(
        spark, rows,
        lambda X, s: X.events_gapfill_locf(s, "unused").collect(),
    )
    a = {r.hr.hour: r for r in out if r.event_type == "a"}
    assert sorted(a) == [0, 1, 2, 3]
    assert (a[0].n_events, a[0].is_gap, a[0].value_locf) == (1, False, 10.0)
    assert (a[1].n_events, a[1].is_gap, a[1].value_locf) == (0, True, 10.0)
    assert (a[2].n_events, a[2].is_gap, a[2].value_locf) == (0, True, 10.0)
    assert (a[3].n_events, a[3].is_gap, a[3].value_locf) == (1, False, 20.0)
    b = [r for r in out if r.event_type == "b"]
    assert len(b) == 1 and b[0].n_events == 1 and not b[0].is_gap
    assert b[0].value_locf is None


def test_twap_weights_by_holding_time(spark):
    """10s at value 10 + 20s at value 20 -> 500/30; the closing
    observation has no successor and carries no weight; NULL-valued
    events are non-observations (the pairing skips over them)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    s = lambda secs: t0 + dt.timedelta(seconds=secs)
    rows = [
        (1, s(0), 1, "a", 10.0),
        (2, s(5), 1, "a", None),    # filtered out: 0->10s stays one interval
        (3, s(10), 1, "a", 20.0),
        (4, s(30), 1, "a", 99.0),   # closing observation, weight 0
        (5, s(0), 1, "solo", 7.0),  # single event: no interval, no row
    ]
    out = _with_events_fixture(
        spark, rows, lambda X, sp: X.events_twap(sp, "unused").collect()
    )
    rowz = {r.event_type: r for r in out}
    assert set(rowz) == {"a"}
    a = rowz["a"]
    assert a.n_intervals == 2
    assert a.span_us == 30_000_000
    assert abs(a.twap - (10.0 * 10 + 20.0 * 20) / 30) < 1e-12


def test_attribution_uses_strictly_preceding_touches(spark):
    """A purchase credits the user's first and latest preceding
    NON-purchase events; consecutive purchases look through each other;
    a user's opening purchase lands in the (NULL, NULL) organic bucket."""
    import datetime as dt

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        (1, t(0), 1, "view", None),
        (2, t(1), 1, "click", None),
        (3, t(2), 1, "purchase", 100.0),
        (4, t(3), 1, "purchase", 50.0),   # prior purchase is not a touch
        (5, t(0), 2, "purchase", 30.0),   # organic: nothing precedes
        (6, t(0), None, "view", None),    # NULL user dropped
    ]
    out = _with_events_fixture(
        spark, rows, lambda X, sp: X.events_attribution(sp, "unused").collect()
    )
    got = {(r.first_touch, r.last_touch): (r.n_purchases, r.attributed_value) for r in out}
    assert got == {("view", "click"): (2, 150.0), (None, None): (1, 30.0)}


def test_transition_matrix_counts_and_rows_normalize(spark):
    """Per-user LAG pairing: user 1 contributes v->c, c->v, v->c; user 2
    contributes c->c; probabilities normalize per prev row."""
    import datetime as dt

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        (1, t(0), 1, "v", None),
        (2, t(1), 1, "c", None),
        (3, t(2), 1, "v", None),
        (4, t(3), 1, "c", None),
        (5, t(0), 2, "c", None),
        (6, t(1), 2, "c", None),
        (7, t(0), None, "v", None),   # NULL user contributes nothing
    ]
    out = _with_events_fixture(
        spark, rows,
        lambda X, s: X.events_transition_matrix(s, "unused").collect(),
    )
    got = {(r.prev_type, r.next_type): (r.n_transitions, r.p_transition) for r in out}
    assert got == {
        ("v", "c"): (2, 1.0),        # v is always followed by c
        ("c", "v"): (1, 0.5),
        ("c", "c"): (1, 0.5),
    }


def test_rfm_scores_rank_quintiles(spark):
    """Score direction: the most recent/frequent/highest-spend customer
    scores 5 on each axis, the stalest/sparsest/lowest scores 1, and the
    segment string concatenates the three digits."""
    import datetime as dt

    from pyspark.sql import types as T

    from logistream_data_pipeline_aws_spark.plans import analytics as A

    schema = T.StructType(
        [
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    rows = []
    # customer k (1..5): k orders, last order k days before the anchor,
    # each order worth 100*k — so every axis ranks 5 > 4 > ... > 1
    for k in range(1, 6):
        for j in range(k):
            rows.append((k, dt.datetime(2001, 12, 31) - dt.timedelta(days=k - 1 + j), 100.0 * k))
    orders = spark.createDataFrame(rows, schema)
    out = _with_table_fixture(
        spark, orders, lambda s: A.customer_rfm_scores(s, "unused").collect()
    )
    by_cust = {r.o_custkey: r for r in out}
    assert len(by_cust) == 5
    # recency: customer 1 is most recent (1 day) -> r_score 5; customer 5 -> 1
    assert by_cust[1].r_score == 5 and by_cust[5].r_score == 1
    # frequency/monetary: customer 5 leads -> 5; customer 1 trails -> 1
    assert by_cust[5].f_score == 5 and by_cust[1].f_score == 1
    assert by_cust[5].m_score == 5 and by_cust[1].m_score == 1
    for r in out:
        assert 1 <= r.r_score <= 5 and 1 <= r.f_score <= 5 and 1 <= r.m_score <= 5
        assert r.rfm_segment == f"{r.r_score}{r.f_score}{r.m_score}"


def test_abc_pareto_matches_plain_cumsum_and_stays_partitioned(spark):
    """The decile-decomposed cumulative must equal the single-window
    reference (including revenue ties), classes split at 80/95, and the
    plan must contain no unpartitioned window."""
    import re

    from pyspark.sql import types as T

    import logistream_data_pipeline_aws_spark.plans.analytics as A

    schema = T.StructType(
        [
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
        ]
    )
    # 30 parts, descending revenue, with deliberate ties (pairs share a
    # revenue) so decile-boundary ordering is exercised
    rows = []
    pk = 0
    for v in range(30, 0, -1):
        rows.append((pk, float(v * 100), 0.0)); pk += 1
        if v % 3 == 0:
            rows.append((pk, float(v * 100), 0.0)); pk += 1
    li = spark.createDataFrame(rows, schema)
    staging.release(spark)
    try:
        df = _with_table_fixture(spark, li, lambda s: A.lineitem_abc_pareto(s, "unused"))
        out = df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        staging.release(spark)
    # reference: plain python cumulative over (rev desc, partkey)
    revs = sorted(((r[1] * (1 - r[2]), r[0]) for r in rows), key=lambda t: (-t[0], t[1]))
    total = sum(v for v, _ in revs)
    cum, expect = 0.0, {}
    for v, k in revs:
        cum += v
        share = cum / total
        expect[k] = "A" if share <= 0.80 else ("B" if share <= 0.95 else "C")
    got = {r.l_partkey: r.abc_class for r in out}
    assert got == expect
    shares = {r.l_partkey: r.cum_share for r in out}
    assert max(shares.values()) == 1.0
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert not re.search(r"windowspecdefinition\([^,()]*(ASC|DESC)", line), line


def test_graph_hop_distance_layers_and_unreachable(spark):
    """Seed is the minimum supplier; hops alternate sides; a
    disconnected component never appears."""
    import logistream_data_pipeline_aws_spark.catalog as C
    from logistream_data_pipeline_aws_spark.plans import extensions as X

    # orders: order o belongs to customer c; lineitem: order o uses supplier s
    orders = spark.createDataFrame(
        [(100, 1), (101, 1), (102, 2), (103, 3)], ["o_orderkey", "o_custkey"]
    )
    lineitem = spark.createDataFrame(
        # c1-{s10,s11}, c2-s11, c3-s12 (c3/s12 disconnected from seed s10)
        [(100, 10), (101, 11), (102, 11), (103, 12)], ["l_orderkey", "l_suppkey"]
    )
    tables = {"orders": orders, "lineitem": lineitem}
    orig = C.load_table
    staging.release(spark)
    try:
        C.load_table = lambda spark, name, sf_dir: tables[name]  # noqa: ARG005
        X.load_table = C.load_table
        out = X.graph_hop_distance(spark, "unused").collect()
    finally:
        C.load_table = orig
        X.load_table = orig
        staging.release(spark)
    got = {(r.node_type, r.node_id): r.hops for r in out}
    assert got == {("S", 10): 0, ("C", 1): 1, ("S", 11): 2, ("C", 2): 3}


def test_anomaly_mad_flags_spike_and_survives_zero_mad(spark):
    """A spike against a stable baseline alerts; an all-constant series
    has MAD 0 and must yield NULL z, never a division blowup."""
    import datetime as dt

    rows = []
    eid = 0
    # type 'stable': identical totals -> MAD 0 -> no anomaly possible
    for day in range(5):
        rows.append((eid, dt.datetime(2024, 1, 1 + day, 12), 1, "stable", 10.0)); eid += 1
    # type 'spiky': 10,12,14,16 baseline then a 1000 spike
    for day, v in enumerate([10.0, 12.0, 14.0, 16.0, 1000.0]):
        rows.append((eid, dt.datetime(2024, 1, 1 + day, 12), 1, "spiky", v)); eid += 1
    out = _with_events_fixture(
        spark, rows, lambda X, s: X.events_anomaly_mad(s, "unused").collect()
    )
    stable = [r for r in out if r.event_type == "stable"]
    assert all(r.robust_z is None and not r.is_anomaly for r in stable)
    spiky = {r.d.day: r for r in out if r.event_type == "spiky"}
    # med 14, MAD 2: spike z = 0.6745 * 986 / 2
    assert abs(spiky[5].robust_z - 0.6745 * 986 / 2) < 1e-9
    assert spiky[5].is_anomaly and not any(spiky[d].is_anomaly for d in (1, 2, 3, 4))


def test_ohlc_first_last_by_time_with_ties(spark):
    """Open/close are the earliest/latest observations with event_id
    breaking a timestamp tie; NULL values are non-ticks."""
    import datetime as dt

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        (2, t(0), 1, "a", 11.0),   # ts tie with event 1: id 1 wins open
        (1, t(0), 1, "a", 10.0),
        (3, t(1), 1, "a", 99.0),   # high
        (4, t(2), 1, "a", 1.0),    # low
        (5, t(3), 1, "a", None),   # non-tick: close stays 42
        (6, t(2), 1, "a", 42.0),   # wait: ts(2) ties event 4; id 6 later
    ]
    out = _with_events_fixture(
        spark, rows, lambda X, s: X.events_ohlc(s, "unused").collect()
    )
    assert len(out) == 1
    r = out[0]
    assert (r.open, r.high, r.low, r.close, r.n_ticks) == (10.0, 99.0, 1.0, 42.0, 5)


def test_hll_merge_does_not_double_count(spark):
    """Sketch UNION semantics: the same 40 users active on three days
    must merge to ~40 weekly distinct, not 120 (a sum-of-estimates bug
    would triple-count and flip the verdict)."""
    import datetime as dt

    rows = []
    eid = 0
    for day in range(3):          # Mon..Wed of one ISO week
        for u in range(40):
            rows.append((eid, dt.datetime(2024, 1, 1 + day, 10), u, "a", 1.0))
            eid += 1
    out = _with_events_fixture(
        spark, rows,
        lambda X, s: X.events_hll_mergeable_rollup(s, "unused").collect(),
    )
    assert len(out) == 1
    r = out[0]
    assert (r.n_days, r.exact_users, r.merged_estimate_ok) == (3, 40, True)


def test_backlog_series_counts_in_flight_orders(spark):
    """Two overlapping orders and one never-shipped order: the running
    backlog rises with each open, falls only at the LAST ship date, and
    the never-shipped order keeps the closing backlog at 1."""
    import datetime as dt

    from pyspark.sql import types as T

    import logistream_data_pipeline_aws_spark.catalog as C
    from logistream_data_pipeline_aws_spark.plans import analytics as A

    d = lambda n: dt.datetime(2024, 1, n)
    orders = spark.createDataFrame(
        [(1, d(1)), (2, d(2)), (3, d(5))], ["o_orderkey", "o_orderdate"]
    )
    # order 1 ships in two parts (last on day 4); order 2 on day 3;
    # order 3 never ships
    lineitem = spark.createDataFrame(
        [(1, d(2)), (1, d(4)), (2, d(3))], ["l_orderkey", "l_shipdate"]
    )
    tables = {"orders": orders, "lineitem": lineitem}
    orig = C.load_table
    try:
        C.load_table = lambda spark, name, sf_dir: tables[name]  # noqa: ARG005
        A.load_table = C.load_table
        out = {r.day.isoformat(): r for r in A.orders_backlog_series(spark, "unused").collect()}
    finally:
        C.load_table = orig
        A.load_table = orig
    assert [out[k].backlog for k in sorted(out)] == [1, 2, 1, 0, 1]
    assert out["2024-01-04"].n_closed == 1  # order 1 closes at its LAST ship


def test_decayed_attribution_halves_per_day(spark):
    """value * 2^-age with a 20-day window: same-day touch credits the
    full value, a 2-day-old touch a quarter, a 21-day-old touch nothing;
    purchases with no touch never appear."""
    import datetime as dt

    d = lambda day, h=0: dt.datetime(2024, 1, day, h)
    rows = [
        (1, d(1), 1, "click", None),
        (2, d(1, 5), 1, "purchase", 80.0),    # age 0 -> 80
        (3, d(3, 5), 1, "purchase", 80.0),    # age 2 -> 20
        (4, d(1), 2, "view", None),
        (5, d(22), 2, "purchase", 64.0),      # age 21 -> outside window
        (6, d(2), 3, "purchase", 10.0),       # organic: no touch, no row
    ]
    out = _with_events_fixture(
        spark, rows,
        lambda X, s: X.events_attribution_decayed(s, "unused").collect(),
    )
    got = {r.channel: (r.n_purchases, r.decayed_value) for r in out}
    assert got == {"click": (2, 100.0)}


def test_range_frame_respects_calendar_gaps(spark):
    """RANGE 6-preceding over epoch days covers calendar days, so a gap
    SHRINKS the window; the ROWS cousin would reach further back."""
    import datetime as dt

    from pyspark.sql import types as T

    import logistream_data_pipeline_aws_spark.catalog as C
    from logistream_data_pipeline_aws_spark.plans import analytics as A

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    # days 1, 2, then a jump to day 20: the day-20 window must contain
    # only itself (days 14-20 have no other data)
    rows = [(1, dt.datetime(2024, 1, 1), 10.0), (2, dt.datetime(2024, 1, 2), 20.0),
            (3, dt.datetime(2024, 1, 20), 40.0)]
    orders = spark.createDataFrame(rows, schema)
    orig = C.load_table
    try:
        C.load_table = lambda spark, name, sf_dir: orders  # noqa: ARG005
        A.load_table = C.load_table
        out = {r.order_day.day: r for r in A.daily_sales_range_frame(spark, "unused").collect()}
    finally:
        C.load_table = orig
        A.load_table = orig
    assert (out[2].days_in_window, out[2].range7_avg) == (2, 15.0)
    assert (out[20].days_in_window, out[20].range7_avg) == (1, 40.0)


def test_graph_hop_distance_rejects_bad_max_hops(spark):
    """The bipartite BFS alternates sides, so an odd or sub-2 hop count
    must fail loudly at plan-construction time (ADVICE r4: max_hops=0
    crashed with AttributeError, odd counts silently desynced the
    unrolled oracle)."""
    from logistream_data_pipeline_aws_spark.plans import extensions as X

    for bad in (0, 1, 3, -2):
        with pytest.raises(ValueError, match="even integer"):
            X.graph_hop_distance(spark, "unused", max_hops=bad)


def _with_graph_tables(spark, edges_cs, fn):
    """Run fn() with load_table serving a bipartite graph whose (cust,
    supp) edges are edges_cs — the graph_hop_distance test harness
    generalized."""
    import logistream_data_pipeline_aws_spark.catalog as C
    from logistream_data_pipeline_aws_spark.plans import extensions as X

    orders = spark.createDataFrame(
        [(100 + i, c) for i, (c, _) in enumerate(edges_cs)],
        ["o_orderkey", "o_custkey"],
    )
    lineitem = spark.createDataFrame(
        [(100 + i, s) for i, (_, s) in enumerate(edges_cs)],
        ["l_orderkey", "l_suppkey"],
    )
    tables = {"orders": orders, "lineitem": lineitem}
    orig = C.load_table
    staging.release(spark)
    try:
        C.load_table = lambda spark, name, sf_dir: tables[name]  # noqa: ARG005
        X.load_table = C.load_table
        return fn()
    finally:
        C.load_table = orig
        X.load_table = orig
        staging.release(spark)


# bipartite chain s10-c1-s11-c2-s12-c3-s13: diameter 6 > the fixed
# 4-hop unroll — the case the delta-terminated variants exist for
_CHAIN = [(1, 10), (1, 11), (2, 11), (2, 12), (3, 12), (3, 13)]


def test_graph_hop_distance_converged_passes_the_fixed_horizon(spark):
    """VERDICT r4 next-round #7 done-criterion: on a diameter-6 chain the
    fixed 4-hop form is NOT converged (misses the far tail) while the
    delta-terminated form labels every reachable node and stops at
    quiescence."""
    from logistream_data_pipeline_aws_spark.plans import extensions as X

    def run():
        fixed = {
            (r.node_type, r.node_id): r.hops
            for r in X.graph_hop_distance(spark, "unused").collect()
        }
        conv = {
            (r.node_type, r.node_id): r.hops
            for r in X.graph_hop_distance_converged(spark, "unused").collect()
        }
        return fixed, conv

    fixed, conv = _with_graph_tables(spark, _CHAIN, run)
    assert ("C", 3) not in fixed and ("S", 13) not in fixed  # horizon hit
    assert conv == {
        ("S", 10): 0, ("C", 1): 1, ("S", 11): 2, ("C", 2): 3,
        ("S", 12): 4, ("C", 3): 5, ("S", 13): 6,
    }
    # converged is a superset consistent with the fixed prefix
    assert all(conv[k] == v for k, v in fixed.items())


def test_graph_hop_distance_converged_excludes_disconnected(spark):
    """Quiescence termination never leaks an unreachable component."""
    from logistream_data_pipeline_aws_spark.plans import extensions as X

    edges = [(1, 10), (1, 11), (2, 11), (3, 12)]  # c3/s12 disconnected

    def run():
        return {
            (r.node_type, r.node_id): r.hops
            for r in X.graph_hop_distance_converged(spark, "unused").collect()
        }

    got = _with_graph_tables(spark, edges, run)
    assert got == {("S", 10): 0, ("C", 1): 1, ("S", 11): 2, ("C", 2): 3}


def test_supplier_pagerank_converged_reaches_fixed_point(spark):
    """The 2-round unroll has NOT converged on the chain graph; the
    delta-terminated variant has: one more tolerance decade changes
    nothing at the output's 6dp rounding, while the fixed form visibly
    differs from the fixed point."""
    from logistream_data_pipeline_aws_spark.plans import extensions as X

    def run():
        fixed = {
            (r.node_type, r.node_id): r.score
            for r in X.supplier_pagerank(spark, "unused").collect()
        }
        conv8 = {
            (r.node_type, r.node_id): r.score
            for r in X.supplier_pagerank_converged(spark, "unused", tol=1e-8).collect()
        }
        conv10 = {
            (r.node_type, r.node_id): r.score
            for r in X.supplier_pagerank_converged(spark, "unused", tol=1e-10).collect()
        }
        return fixed, conv8, conv10

    fixed, conv8, conv10 = _with_graph_tables(spark, _CHAIN, run)
    assert conv8 == conv10  # fixed point: tighter tol changes nothing
    assert set(fixed) == set(conv8)
    assert max(abs(fixed[k] - conv8[k]) for k in fixed) > 1e-4  # 2 rounds short


def test_events_value_quantiles_approx_within_rank_tolerance(spark):
    """The production sketch form lands inside the exact p40..p60 /
    p85..p95 bands per group (generous multiples of the 1e-4 rank
    error), and preserves the exact form's schema."""
    from logistream_data_pipeline_aws_spark.plans import extensions as X

    sf = "/root/testdata/sf0.01"
    exact_bands = {
        r.event_type: r
        for r in X.load_table(spark, "events", sf)
        .groupBy("event_type")
        .agg(
            F.expr("percentile(value, array(0.4, 0.6, 0.85, 0.95))").alias("b")
        )
        .collect()
    }
    approx = {r.event_type: r for r in X.events_value_quantiles_approx(spark, sf).collect()}
    assert set(approx) == set(exact_bands)
    for t, r in approx.items():
        b = exact_bands[t].b
        assert b[0] <= r.p50 <= b[1], (t, r.p50, b)
        assert b[2] <= r.p90 <= b[3], (t, r.p90, b)


def test_events_funnel_empty_step_yields_null_conversion(spark, monkeypatch):
    """An empty funnel step must produce a NULL conversion ratio like the
    DuckDB oracle (x/0 -> NULL), not an ANSI DIVIDE_BY_ZERO crash —
    found by the r5 probe on a corpus where no user had a
    view-then-click sequence."""
    import datetime

    import logistream_data_pipeline_aws_spark.catalog as C
    from logistream_data_pipeline_aws_spark.plans import analytics as A

    events = spark.createDataFrame(
        [
            (1, datetime.datetime(2024, 1, 1, 0, 0), 1, "view", 1.0, "{}"),
            (2, datetime.datetime(2024, 1, 1, 1, 0), 2, "view", 1.0, "{}"),
            # no clicks anywhere -> steps 2 and 3 are empty
            (3, datetime.datetime(2024, 1, 1, 2, 0), 1, "purchase", 1.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    monkeypatch.setattr(C, "load_table", lambda spark, name, sf_dir: events)
    monkeypatch.setattr(A, "load_table", C.load_table)
    rows = {r.step: r for r in A.events_funnel(spark, "unused").collect()}
    assert rows[1].n_users == 2 and rows[1].conv_from_prev is None
    assert rows[2].n_users == 0 and rows[2].conv_from_prev == 0.0
    assert rows[3].n_users == 0 and rows[3].conv_from_prev is None  # 0/0


def test_conversion_lag_forward_asof_semantics(spark):
    """Synthetic walk: same-timestamp purchase counts only by event_id
    order; a purchase 1h+1us later does not convert; the nearest
    FOLLOWING purchase wins even when an earlier one belongs to
    another user."""
    import datetime as dt

    from pyspark.sql import functions as F

    from logistream_data_pipeline_aws_spark.plans import extensions as X

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    us = lambda s: t0 + dt.timedelta(seconds=s)  # noqa: E731
    rows = [
        # u1: click then purchase 10s later -> converts, lag 10
        (1, us(0), 1, "click", 1.0, None),
        (2, us(10), 1, "purchase", 1.0, None),
        # u2: click with purchase exactly 3600s later -> converts
        (3, us(0), 2, "click", 1.0, None),
        (4, us(3600), 2, "purchase", 1.0, None),
        # u3: click with purchase 3601s later -> does NOT convert
        (5, us(0), 3, "click", 1.0, None),
        (6, us(3601), 3, "purchase", 1.0, None),
        # u4: purchase at the SAME ts as the click, higher event_id ->
        # counts as following, lag 0
        (7, us(0), 4, "click", 1.0, None),
        (8, us(0), 4, "purchase", 1.0, None),
        # u5: purchase BEFORE the click only -> no conversion
        (9, us(0), 5, "purchase", 1.0, None),
        (10, us(5), 5, "click", 1.0, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    import tempfile, os
    d = tempfile.mkdtemp(prefix="lsdp_convlag_")
    # the catalog's ts-unit sniffer needs a real parquet timestamp
    # type, not INT96 (the scale-probe harness does the same)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = X.events_conversion_lag(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_clicks == 5 and r.n_converted == 3
    assert abs(r.conversion_rate - 0.6) < 1e-15
    assert abs(r.avg_lag_s - (10 + 3600 + 0) / 3) < 1e-9


def test_events_upsert_delete_matches_oracle(spark):
    """R8-queue entry pinned ahead of registration: the keyed-DELETE +
    CDC composition must equal the DuckDB replay of its documented
    round-8 oracle (batch argmax split on the erasure predicate)."""
    import duckdb

    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    got = {
        (r.row_kind, r.user_id, r.event_id, r.ts, r.event_type, r.value)
        for r in X.events_upsert_delete(spark, SF_SMALL).collect()
    }
    con = duckdb.connect()
    exp = set(
        con.execute(
            "WITH ev AS (SELECT user_id, event_id, ts, event_type, value "
            f"FROM '{SF_SMALL}/events.parquet' "
            "WHERE user_id IS NOT NULL AND ts IS NOT NULL), "
            "w AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY "
            "user_id ORDER BY ts DESC, event_id DESC) AS rn FROM ev) "
            "WHERE rn = 1) "
            "SELECT 'survivor' AS row_kind, user_id, event_id, ts, "
            "event_type, value FROM w WHERE user_id % 10 <> 3 "
            "UNION ALL SELECT 'deleted', user_id, CAST(NULL AS BIGINT), "
            "CAST(NULL AS TIMESTAMP), CAST(NULL AS VARCHAR), "
            "CAST(NULL AS DOUBLE) FROM w WHERE user_id % 10 = 3"
        ).fetchall()
    )
    exp = {(k, u, e, t, ty, v) for (k, u, e, t, ty, v) in exp}
    assert got == exp and any(k == "deleted" for k, *_ in got)


def test_doc_substring_spans_matches_oracle(spark):
    """R8-queue entry pinned ahead of registration: k-gram anchors +
    diagonal run assembly must equal the DuckDB replay of the documented
    round-8 oracle (same md5 grams, same frequency gates, same
    gaps-and-islands span grouping)."""
    import duckdb

    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    got = {
        (r.doc_a, r.doc_b, r.n_spans, r.longest_span, r.total_span_chars)
        for r in X.doc_substring_spans(spark, SF_SMALL).collect()
    }
    con = duckdb.connect()
    exp = set(
        map(
            tuple,
            con.execute(
                "WITH grams AS (SELECT doc_id, pos, md5(substr(text, pos, 20)) AS g "
                f"FROM '{SF_SMALL}/documents.parquet', "
                "UNNEST(range(1, length(text) - 20 + 2)) AS t(pos) "
                "WHERE text IS NOT NULL AND length(text) >= 20), "
                "keep AS (SELECT g FROM grams GROUP BY g "
                "HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 50 AND COUNT(*) <= 200), "
                "gg AS (SELECT grams.* FROM grams JOIN keep USING (g)), "
                "m AS (SELECT a.doc_id doc_a, b.doc_id doc_b, a.pos pa, b.pos pb "
                "FROM gg a JOIN gg b ON a.g = b.g AND a.doc_id < b.doc_id), "
                "runs AS (SELECT doc_a, doc_b, pa - pb AS diag, "
                "pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb "
                "ORDER BY pa) AS grp, pa FROM m), "
                "spans AS (SELECT doc_a, doc_b, MIN(pa) s, MAX(pa) + 19 AS e "
                "FROM runs GROUP BY doc_a, doc_b, diag, grp) "
                "SELECT doc_a, doc_b, COUNT(*) AS n_spans, "
                "CAST(MAX(e - s + 1) AS BIGINT) AS longest_span, "
                "CAST(SUM(e - s + 1) AS BIGINT) AS total_span_chars "
                "FROM spans GROUP BY doc_a, doc_b HAVING MAX(e - s + 1) >= 40"
            ).fetchall(),
        )
    )
    assert got == exp and got


def test_dedup_semantic_matches_oracle(spark):
    """R8-queue entry pinned ahead of registration: SemDeDup-style
    cluster-scoped near-dup groups must equal the DuckDB replay — the
    _kmeans_oracle assignment CTEs composed with within-cluster cosine
    pair mining and the min-reach component recursion."""
    import duckdb

    import __spark_entry__ as E
    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    got = {
        (r.vec_id, r.list_id, r.sem_cluster, r.status)
        for r in X.dedup_semantic(spark, SF_SMALL).collect()
    }
    km = E._kmeans_oracle(8, 2)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_SMALL}/embeddings.parquet'"
    )
    exp = set(
        map(
            tuple,
            con.execute(
                "WITH RECURSIVE pairs AS ("
                f"WITH asg AS ({km}), "
                "v AS (SELECT vec_id, list_transform(embedding, x->CAST(x AS DOUBLE)) AS vv FROM embeddings), "
                "n AS (SELECT vec_id, vv, sqrt(list_reduce(list_prepend(0.0, "
                "list_transform(vv, x->x*x)), (a,b)->a+b)) AS nrm FROM v), "
                "t0 AS (SELECT n.*, asg.list_id FROM n JOIN asg USING (vec_id)), "
                "ok AS (SELECT list_id FROM t0 GROUP BY list_id "
                "HAVING COUNT(*) BETWEEN 2 AND 1024), "
                "t AS (SELECT t0.* FROM t0 JOIN ok USING (list_id)) "
                "SELECT a.vec_id AS id_a, b.vec_id AS id_b "
                "FROM t a JOIN t b ON a.list_id = b.list_id AND a.vec_id < b.vec_id "
                "WHERE ROUND(list_reduce(list_prepend(0.0, "
                "list_transform(list_zip(a.vv,b.vv), t2->CAST(t2[1] AS DOUBLE)*CAST(t2[2] AS DOUBLE))), "
                "(x,y)->x+y) / (a.nrm*b.nrm), 6) >= 0.4), "
                "sym AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs), "
                "reach AS (SELECT src, dst FROM sym UNION "
                "SELECT reach.src, s.dst FROM reach JOIN sym s ON reach.dst = s.src), "
                "reach_min AS (SELECT src, MIN(dst) AS min_reach FROM reach GROUP BY src), "
                f"asg2 AS ({km}) "
                "SELECT e.vec_id, asg2.list_id, "
                "CAST(LEAST(e.vec_id, COALESCE(m.min_reach, e.vec_id)) AS BIGINT) AS sem_cluster, "
                "CASE WHEN LEAST(e.vec_id, COALESCE(m.min_reach, e.vec_id)) = e.vec_id "
                "THEN 'keep' ELSE 'drop' END AS status "
                "FROM embeddings e JOIN asg2 ON e.vec_id = asg2.vec_id "
                "LEFT JOIN reach_min m ON e.vec_id = m.src"
            ).fetchall(),
        )
    )
    assert got == exp
    assert any(s == "drop" for *_, s in got)


def test_similarity_ivf_incremental_matches_oracle(spark):
    """R8-queue entry pinned ahead of registration: shard assignment
    against base-trained centroids must equal the DuckDB replay —
    rank-seeded Lloyd training over the base CTE, final assign over the
    shard CTE (the _kmeans_oracle machinery with a split v)."""
    import duckdb

    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    k, iters, split = 8, 2, 100

    def d2(v, c):
        diffs = (
            f"list_transform(list_zip({v}, {c}), "
            "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
            "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))"
        )
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {diffs}), "
            "(u, v2) -> u + v2)"
        )

    def assign(name, src, cents):
        return (
            f"{name} AS (SELECT vid, vv, cid, d2 FROM ("
            "SELECT vid, vv, cid, d2, "
            "ROW_NUMBER() OVER (PARTITION BY vid ORDER BY d2, cid) AS rn "
            f"FROM (SELECT s.vid, s.vv, c.cid, {d2('s.vv', 'c.cv')} AS d2 "
            f"FROM {src} s CROSS JOIN {cents} c)) WHERE rn = 1)"
        )

    sql = (
        "WITH v AS (SELECT vec_id AS vid, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv "
        "FROM embeddings WHERE embedding IS NOT NULL), "
        f"b AS (SELECT vid, vv FROM v WHERE vid >= {split}), "
        f"sh AS (SELECT vid, vv FROM v WHERE vid < {split}), "
        "c0 AS (SELECT CAST(rn - 1 AS INT) AS cid, vv AS cv FROM "
        f"(SELECT vv, ROW_NUMBER() OVER (ORDER BY vid) AS rn FROM b) "
        f"WHERE rn <= {k})"
    )
    prev = "c0"
    for i in range(1, iters + 1):
        sql += ", " + assign(f"a{i}", "b", prev)
        sql += (
            f", m{i} AS (SELECT cid, pos, "
            "CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS m "
            f"FROM (SELECT cid, unnest(vv) AS x, "
            f"unnest(range(1, len(vv) + 1)) AS pos FROM a{i}) "
            "GROUP BY cid, pos)"
            f", c{i} AS (SELECT cid, list(m ORDER BY pos) AS cv FROM m{i} "
            "GROUP BY cid)"
        )
        prev = f"c{i}"
    sql += ", " + assign("afinal", "sh", prev)
    sql += (
        " SELECT vid AS vec_id, CAST(cid AS INT) AS list_id, "
        "ROUND(d2, 6) AS dist2 FROM afinal"
    )

    got = {
        (r.vec_id, r.list_id, r.dist2)
        for r in X.similarity_ivf_incremental(spark, SF_SMALL).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_SMALL}/embeddings.parquet'"
    )
    exp = set(map(tuple, con.execute(sql).fetchall()))
    assert got == exp and len(got) == 100


def test_doc_substring_dedup_matches_oracle(spark):
    """R9-queue entry pinned ahead of registration: per-document
    duplicated-character coverage (b-side interval union of the mined
    spans, min-id copy canonical) must equal the DuckDB replay of its
    documented round-9 oracle, including the integer-exact keep/trim/
    drop thresholds."""
    import duckdb

    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    got = {
        (r.doc_id, r.n_chars, r.n_dup_regions, r.dup_chars, r.dup_ratio,
         r.status)
        for r in X.doc_substring_dedup(spark, SF_SMALL).collect()
    }
    con = duckdb.connect()
    exp = set(
        map(
            tuple,
            con.execute(
                "WITH grams AS (SELECT doc_id, pos, md5(substr(text, pos, 20)) AS g "
                f"FROM '{SF_SMALL}/documents.parquet', "
                "UNNEST(range(1, length(text) - 20 + 2)) AS t(pos) "
                "WHERE text IS NOT NULL AND length(text) >= 20), "
                "keep AS (SELECT g FROM grams GROUP BY g "
                "HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 50 AND COUNT(*) <= 200), "
                "gg AS (SELECT grams.* FROM grams JOIN keep USING (g)), "
                "m AS (SELECT a.doc_id doc_a, b.doc_id doc_b, a.pos pa, b.pos pb "
                "FROM gg a JOIN gg b ON a.g = b.g AND a.doc_id < b.doc_id), "
                "runs AS (SELECT doc_a, doc_b, pa - pb AS diag, "
                "pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb "
                "ORDER BY pa) AS grp, pa FROM m), "
                "spans AS (SELECT doc_a, doc_b, diag, MIN(pa) s, MAX(pa) + 19 AS e "
                "FROM runs GROUP BY doc_a, doc_b, diag, grp), "
                "ivals AS (SELECT DISTINCT doc_b AS doc_id, s - diag AS ps, "
                "e - diag AS pe FROM spans WHERE e - s + 1 >= 40), "
                "marked AS (SELECT doc_id, ps, pe, "
                "CASE WHEN MAX(pe) OVER w IS NULL OR ps > MAX(pe) OVER w "
                "THEN 1 ELSE 0 END AS new_region FROM ivals "
                "WINDOW w AS (PARTITION BY doc_id ORDER BY ps, pe "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), "
                "regions AS (SELECT doc_id, MIN(ps) rs, MAX(pe) re FROM "
                "(SELECT *, SUM(new_region) OVER (PARTITION BY doc_id "
                "ORDER BY ps, pe ROWS UNBOUNDED PRECEDING) AS region FROM marked) "
                "GROUP BY doc_id, region), "
                "cov AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_regions, "
                "CAST(SUM(re - rs + 1) AS BIGINT) AS dup_chars FROM regions "
                "GROUP BY doc_id) "
                "SELECT d.doc_id, d.n_chars, "
                "COALESCE(c.n_dup_regions, 0) AS n_dup_regions, "
                "COALESCE(c.dup_chars, 0) AS dup_chars, "
                "CASE WHEN d.n_chars > 0 THEN COALESCE(c.dup_chars, 0) / d.n_chars END AS dup_ratio, "
                "CASE WHEN d.n_chars > 0 AND COALESCE(c.dup_chars, 0) * 2 >= d.n_chars THEN 'drop' "
                "WHEN d.n_chars > 0 AND COALESCE(c.dup_chars, 0) * 20 >= d.n_chars THEN 'trim' "
                "ELSE 'keep' END AS status "
                f"FROM '{SF_SMALL}/documents.parquet' d "
                "LEFT JOIN cov c ON d.doc_id = c.doc_id "
                "WHERE d.text IS NOT NULL"
            ).fetchall(),
        )
    )
    assert got == exp
    # the fixture's cloned documents must actually trip the trim/drop arms
    assert any(s != "keep" for *_, s in got)


def test_similarity_ivf_pq_matches_oracle(spark):
    """R9-queue entry pinned ahead of registration: the IVF+PQ composite
    (coarse probe restricting the ADC-scored candidate set) must equal
    the DuckDB replay — the coarse _kmeans_oracle machinery + a
    rank<=nprobe probe CTE composed with the _pq_oracle train/encode/
    dtab CTEs."""
    import duckdb

    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    n_lists, nprobe, m, k, iters, dim, nq, ktop = 8, 2, 4, 8, 2, 64, 3, 10
    sub = dim // m

    def d2(v, c):
        diffs = (
            f"list_transform(list_zip({v}, {c}), "
            "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
            "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))"
        )
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {diffs}), "
            "(u, v2) -> u + v2)"
        )

    # coarse k-means over the full corpus (k = n_lists)
    sql = (
        "WITH v AS (SELECT vec_id AS vid, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv "
        "FROM embeddings WHERE embedding IS NOT NULL), "
        f"cc0 AS (SELECT CAST(vid AS INT) AS cid, vv AS cv FROM v WHERE vid < {n_lists})"
    )
    prev = "cc0"
    for i in range(1, iters + 1):
        sql += (
            f", ca{i} AS (SELECT vid, vv, cid, d2 FROM ("
            "SELECT vid, vv, cid, d2, ROW_NUMBER() OVER "
            "(PARTITION BY vid ORDER BY d2, cid) AS rn "
            f"FROM (SELECT s.vid, s.vv, c.cid, {d2('s.vv', 'c.cv')} AS d2 "
            f"FROM v s CROSS JOIN {prev} c)) WHERE rn = 1)"
            f", cm{i} AS (SELECT cid, pos, "
            "CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS mu "
            f"FROM (SELECT cid, unnest(vv) AS x, "
            f"unnest(range(1, len(vv) + 1)) AS pos FROM ca{i}) GROUP BY cid, pos)"
            f", cc{i} AS (SELECT cid, list(mu ORDER BY pos) AS cv FROM cm{i} GROUP BY cid)"
        )
        prev = f"cc{i}"
    sql += (
        ", asg AS (SELECT vid, cid AS list FROM ("
        "SELECT vid, cid, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY d2, cid) AS rn "
        f"FROM (SELECT s.vid, c.cid, {d2('s.vv', 'c.cv')} AS d2 "
        f"FROM v s CROSS JOIN {prev} c)) WHERE rn = 1)"
        ", probe AS (SELECT qid, cid AS list FROM ("
        "SELECT q.vid AS qid, c.cid, ROW_NUMBER() OVER "
        f"(PARTITION BY q.vid ORDER BY {d2('q.vv', 'c.cv')}, c.cid) AS rn "
        f"FROM v q CROSS JOIN {prev} c WHERE q.vid < {nq}) WHERE rn <= {nprobe})"
    )
    # PQ training/encode/dtab (the _pq_oracle machinery, pc-prefixed)
    sql += (
        ", p AS (SELECT vid, CAST(s.sid AS INT) AS sid, "
        f"vv[(s.sid * {sub} + 1):(s.sid * {sub} + {sub})] AS sv "
        f"FROM v CROSS JOIN (SELECT unnest(range(0, {m})) AS sid) s)"
        f", pc0 AS (SELECT sid, CAST(vid AS INT) AS cid, sv AS cv FROM p WHERE vid < {k})"
    )
    prev = "pc0"
    for i in range(1, iters + 1):
        sql += (
            f", pa{i} AS (SELECT vid, sid, sv, cid, d2 FROM ("
            "SELECT vid, sid, sv, cid, d2, ROW_NUMBER() OVER "
            "(PARTITION BY vid, sid ORDER BY d2, cid) AS rn "
            f"FROM (SELECT pp.vid, pp.sid, pp.sv, c.cid, {d2('pp.sv', 'c.cv')} AS d2 "
            f"FROM p pp JOIN {prev} c ON pp.sid = c.sid)) WHERE rn = 1)"
            f", pm{i} AS (SELECT sid, cid, pos, "
            "CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS mu "
            f"FROM (SELECT sid, cid, unnest(sv) AS x, "
            f"unnest(range(1, len(sv) + 1)) AS pos FROM pa{i}) GROUP BY sid, cid, pos)"
            f", pc{i} AS (SELECT sid, cid, list(mu ORDER BY pos) AS cv FROM pm{i} GROUP BY sid, cid)"
        )
        prev = f"pc{i}"
    sql += (
        ", codes AS (SELECT vid, sid, cid FROM ("
        "SELECT vid, sid, cid, ROW_NUMBER() OVER "
        "(PARTITION BY vid, sid ORDER BY d2, cid) AS rn "
        f"FROM (SELECT pp.vid, pp.sid, c.cid, {d2('pp.sv', 'c.cv')} AS d2 "
        f"FROM p pp JOIN {prev} c ON pp.sid = c.sid)) WHERE rn = 1)"
        f", q AS (SELECT vid AS qid, sid, sv AS qv FROM p WHERE vid < {nq})"
        f", dtab AS (SELECT q.qid, c.sid, c.cid, "
        f"CAST({d2('q.qv', 'c.cv')} AS DECIMAL(30,8)) AS pd2 "
        f"FROM q JOIN {prev} c ON q.sid = c.sid)"
        ", cand AS (SELECT pr.qid, a.vid FROM asg a JOIN probe pr ON a.list = pr.list)"
        ", scored AS (SELECT d.qid, kk.vid, SUM(d.pd2) AS s "
        "FROM codes kk JOIN cand ON kk.vid = cand.vid "
        "JOIN dtab d ON kk.sid = d.sid AND kk.cid = d.cid AND d.qid = cand.qid "
        "WHERE d.qid <> kk.vid GROUP BY d.qid, kk.vid) "
        "SELECT qid AS query_id, vid AS candidate_id, "
        "ROUND(CAST(s AS DOUBLE), 6) AS approx_d2, rank "
        "FROM (SELECT qid, vid, s, CAST(ROW_NUMBER() OVER "
        "(PARTITION BY qid ORDER BY s, vid) AS INT) AS rank FROM scored) "
        f"WHERE rank <= {ktop}"
    )

    got = {
        (r.query_id, r.candidate_id, r.approx_d2, r.rank)
        for r in X.similarity_ivf_pq(spark, SF_SMALL).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_SMALL}/embeddings.parquet'"
    )
    exp = set(map(tuple, con.execute(sql).fetchall()))
    assert got == exp and len(got) == 3 * 10
    # the IVF restriction must actually bite: the probed candidate set
    # is a strict subset of the corpus, so at least one unrestricted
    # ADC winner is absent here
    full = {
        (r.query_id, r.candidate_id)
        for r in X.similarity_pq_adc(spark, SF_SMALL).collect()
    }
    assert {(q, c) for (q, c, *_r) in got} != full


def test_media_audio_windows_matches_oracle(spark):
    """R9-queue entry pinned ahead of registration: the Arrow-batched
    audio-window features (stub codec: bytes are the u8 samples) must
    equal the DuckDB hex-pair replay, mean included bit-exactly."""
    import duckdb

    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    got = {
        (r.media_id, r.window_idx, r.n_samples, r.mean_amp, r.peak_amp)
        for r in X.media_audio_windows(spark, SF_SMALL).collect()
    }
    con = duckdb.connect()
    exp = set(
        map(
            tuple,
            con.execute(
                "WITH m AS (SELECT doc_id AS media_id, encode(text) AS payload "
                f"FROM '{SF_SMALL}/documents.parquet' WHERE text IS NOT NULL), "
                "b AS (SELECT media_id, "
                "('0x' || substr(h, CAST(i * 2 + 1 AS INT), 2))::BIGINT AS amp, "
                "CAST(i // 64 AS INT) AS window_idx FROM (SELECT media_id, "
                "hex(payload) AS h, unnest(range(0, octet_length(payload))) "
                "AS i FROM m)) "
                "SELECT media_id, window_idx, CAST(COUNT(*) AS BIGINT) AS n_samples, "
                "CAST(SUM(amp) AS DOUBLE) / CAST(COUNT(*) AS BIGINT) AS mean_amp, "
                "CAST(MAX(amp) AS INT) AS peak_amp "
                "FROM b GROUP BY media_id, window_idx"
            ).fetchall(),
        )
    )
    assert got == exp and got
    # multi-window payloads exist (the fixture texts exceed 64 bytes)
    assert any(w > 0 for _, w, *_r in got)


def test_corpus_dedup_pipeline_matches_oracle(spark):
    """R9-queue entry pinned ahead of registration: the composed
    exact -> near-dup -> substring pass with per-stage drop attribution
    must equal the DuckDB replay stitched from the three stage oracles
    (keeps CTE + _CLUSTERS_CTE_PREFIX min-reach + coverage CTEs) by the
    same precedence CASE."""
    import duckdb

    import __spark_entry__ as E
    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    got = {
        (r.doc_id, r.cluster_id, r.dup_chars, r.disposition)
        for r in X.corpus_dedup_pipeline(spark, SF_SMALL).collect()
    }
    # _CLUSTERS_CTE_PREFIX opens the WITH RECURSIVE and leaves a
    # trailing space after reach_min — append the stitch CTEs to it
    sql = (
        E._CLUSTERS_CTE_PREFIX.rstrip()
        + ", keeps AS (SELECT MIN(doc_id) AS doc_id FROM documents "
        "GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))), "
        "cl AS (SELECT d.doc_id, CAST(LEAST(d.doc_id, COALESCE(m.min_reach, d.doc_id)) AS BIGINT) AS cluster_id "
        "FROM documents d LEFT JOIN reach_min m ON d.doc_id = m.src), "
        "sm AS (SELECT c.cluster_id, MIN(c.doc_id) AS surv_min FROM cl c "
        "JOIN keeps k ON c.doc_id = k.doc_id GROUP BY c.cluster_id), "
        "s_grams AS (SELECT doc_id, pos, md5(substr(text, pos, 20)) AS g "
        "FROM documents, UNNEST(range(1, length(text) - 20 + 2)) AS t(pos) "
        "WHERE text IS NOT NULL AND length(text) >= 20), "
        "s_keep AS (SELECT g FROM s_grams GROUP BY g "
        "HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 50 AND COUNT(*) <= 200), "
        "s_gg AS (SELECT s_grams.* FROM s_grams JOIN s_keep USING (g)), "
        "s_m AS (SELECT a.doc_id doc_a, b.doc_id doc_b, a.pos pa, b.pos pb "
        "FROM s_gg a JOIN s_gg b ON a.g = b.g AND a.doc_id < b.doc_id), "
        "s_runs AS (SELECT doc_a, doc_b, pa - pb AS diag, "
        "pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb "
        "ORDER BY pa) AS grp, pa FROM s_m), "
        "s_spans AS (SELECT doc_a, doc_b, diag, MIN(pa) s, MAX(pa) + 19 AS e "
        "FROM s_runs GROUP BY doc_a, doc_b, diag, grp), "
        "s_ivals AS (SELECT DISTINCT doc_b AS doc_id, s - diag AS ps, "
        "e - diag AS pe FROM s_spans WHERE e - s + 1 >= 40), "
        "s_marked AS (SELECT doc_id, ps, pe, "
        "CASE WHEN MAX(pe) OVER w IS NULL OR ps > MAX(pe) OVER w "
        "THEN 1 ELSE 0 END AS new_region FROM s_ivals "
        "WINDOW w AS (PARTITION BY doc_id ORDER BY ps, pe "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), "
        "s_regions AS (SELECT doc_id, MIN(ps) rs, MAX(pe) re FROM "
        "(SELECT *, SUM(new_region) OVER (PARTITION BY doc_id "
        "ORDER BY ps, pe ROWS UNBOUNDED PRECEDING) AS region FROM s_marked) "
        "GROUP BY doc_id, region), "
        "s_cov AS (SELECT doc_id, CAST(SUM(re - rs + 1) AS BIGINT) AS dup_chars "
        "FROM s_regions GROUP BY doc_id), "
        "sub AS (SELECT d.doc_id, COALESCE(c.dup_chars, 0) AS dup_chars, "
        "CASE WHEN d.n_chars > 0 AND COALESCE(c.dup_chars, 0) * 2 >= d.n_chars THEN 'drop' "
        "WHEN d.n_chars > 0 AND COALESCE(c.dup_chars, 0) * 20 >= d.n_chars THEN 'trim' "
        "ELSE 'keep' END AS status FROM documents d "
        "LEFT JOIN s_cov c ON d.doc_id = c.doc_id WHERE d.text IS NOT NULL) "
        "SELECT d.doc_id, cl.cluster_id, "
        "COALESCE(sub.dup_chars, 0) AS dup_chars, "
        "CASE WHEN k.doc_id IS NULL THEN 'drop_exact' "
        "WHEN d.doc_id <> sm.surv_min THEN 'drop_near' "
        "WHEN sub.status = 'drop' THEN 'drop_substring' "
        "WHEN sub.status = 'trim' THEN 'trim' "
        "ELSE 'keep' END AS disposition "
        "FROM documents d "
        "LEFT JOIN keeps k ON d.doc_id = k.doc_id "
        "LEFT JOIN cl ON d.doc_id = cl.doc_id "
        "LEFT JOIN sm ON cl.cluster_id = sm.cluster_id "
        "LEFT JOIN sub ON d.doc_id = sub.doc_id"
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMALL}/documents.parquet'"
    )
    exp = set(map(tuple, con.execute(sql).fetchall()))
    assert got == exp
    # near-dup attribution and survivors must both fire at sf0.001
    # (exact dups first appear at sf0.1 — the hand-verify covers that
    # arm; dedup_dropped is likewise empty below sf0.1)
    kinds = {d for *_x, d in got}
    assert {"drop_near", "keep"} <= kinds


def test_connected_components_releases_checkpoint_blocks(spark):
    """ADVICE r8 (medium): frame-level unpersist never frees a
    localCheckpoint's storage blocks, so the CC loop now releases the
    superseded round's RDD ids JVM-side.  Storage-level assertion: a
    multi-round run (40-node path graph, ~3-4 doubling rounds) may leave
    at most ONE round's checkpoint persisted after it returns — without
    the id-level release every round's blocks linger until GC."""
    jsc = spark.sparkContext._jsc

    def persistent_ids():
        return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}

    nodes = spark.createDataFrame([(i,) for i in range(40)], ["id"])
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], ["id_a", "id_b"]
    )
    before = persistent_ids()
    # force the distributed loop: the block-release discipline under
    # test only exists there (the driver path persists nothing)
    out = D.connected_components(nodes, edges, driver_path_max_edges=0)
    # consume the result (it reads the final round's retained blocks)
    assert out.where(F.col("cluster_id") != 0).count() == 0
    leaked = persistent_ids() - before
    assert len(leaked) <= 1, (
        f"CC left {len(leaked)} persistent RDDs behind (expected <=1: "
        "only the final round's checkpoint may remain)"
    )


def test_scale_probe_forcing_function_defeats_join_elimination(spark):
    """VERDICT r8 #6: the scale probe's default consumer must depend on
    every output VALUE.  A bare ``.count()`` over a LEFT JOIN whose
    right side has unique keys lets Catalyst ELIMINATE the join (column
    pruning drops the right side entirely) — which mis-timed
    doc_substring_dedup 100x in r8.  And per-column ``count`` is not
    enough either: a provably-non-null output column (COALESCE'd
    boolean, window rank) folds ``count(col)`` back to ``count(1)`` and
    the elimination fires anyway — which mis-timed corpus_gopher_rules
    100x in r9 (0.55 s "measured", ~78 s real).  Pin all three: count
    drops the join, per-column count drops it on the non-null shape,
    the hash forcing function keeps it on both shapes."""
    from tools.scale_probe import _force_all_columns

    spine = spark.range(100).select(F.col("id").alias("k"))
    agg = (
        spark.range(1000)
        .groupBy(F.pmod(F.col("id"), F.lit(100)).alias("k"))
        .agg(F.avg("id").alias("v"))
    )

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    def hash_forced(df):
        return df.select(
            F.count(F.lit(1)).alias("_n"),
            F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("_h"),
        )

    # shape 1: nullable right side — count eliminates, hash keeps
    joined = spine.join(agg, "k", "left")
    assert "Join" not in optimized(joined.groupBy().count())
    assert "Join" in optimized(hash_forced(joined))

    # shape 2: provably-non-null right side (the r9 recurrence) —
    # even per-column count eliminates; only the hash form survives
    nn = spine.join(
        agg.select("k", F.coalesce("v", F.lit(0.0)).alias("v")), "k", "left"
    ).select("k", F.coalesce("v", F.lit(-1.0)).alias("v"))
    counted = nn.select(
        F.count(F.lit(1)).alias("_n"),
        *[F.count(F.col(c)).alias(f"_c{i}") for i, c in enumerate(nn.columns)],
    )
    assert "Join" not in optimized(counted)
    assert "Join" in optimized(hash_forced(nn))

    # and the real consumer reports the spine's row count
    assert _force_all_columns(nn) == 100


def test_dedup_semantic_adaptive_k(spark):
    """VERDICT r8 #3: the operator's default k is corpus-adaptive
    (SemDeDup's regime — expected cluster size ~target, so pair mining
    survives corpus growth instead of tripping the cluster cap), while
    the REGISTERED face pins k=8 for the static unrolled oracle.  At
    sf0.001 the adaptive default resolves to 8, so both faces must
    return identical rows."""
    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    k = X._adaptive_semantic_k
    assert k(50) == 8 and k(500) == 8 and k(5000) == 20
    assert k(50_000) == 196  # the 100x probe volume: clusters ~256
    assert k(500_000) == 1954  # the 1000x probe volume: clusters ~256
    assert k(0) == 8  # floor

    got_adaptive = {
        tuple(r) for r in X.dedup_semantic(spark, SF_SMALL).collect()
    }
    got_pinned = {
        tuple(r) for r in X.dedup_semantic_k8(spark, SF_SMALL).collect()
    }
    assert got_adaptive == got_pinned and got_pinned


def test_corpus_domain_cap_matches_oracle(spark):
    """R10-queue entry pinned ahead of registration: per-source
    frequency capping (RefinedWeb-style) must equal the DuckDB window
    replay — deterministic doc_id priority, cap 12, audit columns."""
    import duckdb

    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    got = {
        (r.doc_id, r.source, r.src_rank, r.src_total, r.status)
        for r in X.corpus_domain_cap(spark, SF_SMALL).collect()
    }
    con = duckdb.connect()
    exp = set(
        map(
            tuple,
            con.execute(
                "SELECT d.doc_id, d.source, "
                "CAST(ROW_NUMBER() OVER (PARTITION BY d.source ORDER BY d.doc_id) AS BIGINT) AS src_rank, "
                "CAST(COUNT(*) OVER (PARTITION BY d.source) AS BIGINT) AS src_total, "
                "CASE WHEN ROW_NUMBER() OVER (PARTITION BY d.source ORDER BY d.doc_id) <= 12 "
                "THEN 'keep' ELSE 'drop_capped' END AS status "
                f"FROM '{SF_SMALL}/documents.parquet' d WHERE d.source IS NOT NULL"
            ).fetchall(),
        )
    )
    assert got == exp
    # both arms fire: the fixture's 20 sources each exceed the cap
    kinds = {s for *_x, s in got}
    assert kinds == {"keep", "drop_capped"}


def test_corpus_gopher_rules_matches_oracle(spark):
    """R10-queue entry pinned ahead of registration: the Gopher-rule
    boolean matrix (integer-exact cross-multiplied gates) must equal
    the DuckDB replay, and the fixture must split at least three gates
    both ways (a matrix that is constant per column proves nothing)."""
    import duckdb

    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    import __spark_entry__ as E

    got = {
        tuple(r)
        for r in X.corpus_gopher_rules(spark, SF_SMALL).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMALL}/documents.parquet'"
    )
    exp = set(map(tuple, con.execute(E.oracle_sql()["corpus_gopher_rules"]).fetchall()))
    assert got == exp
    cols = list(zip(*sorted(got)))
    split = sum(
        1 for i in (2, 3, 4, 5, 6, 7) if len(set(cols[i])) == 2
    )
    # at sf0.001 the word-count and stopword gates split; the dup gates
    # only fire on the sf0.1 clone-heavy docs (hand-verified there)
    assert split >= 2, "fewer than 2 gates split the fixture both ways"
    assert len(set(cols[8])) == 2, "the overall verdict never splits"


def test_bm25_topk_matches_oracle(spark):
    """R10-queue entry pinned ahead of registration: Okapi BM25 top-k
    must equal the DuckDB replay bit-exactly — idf anchored by
    round(ln, 6), per-term contributions decimal-summed, identical
    expression trees (double-cast literals on the DuckDB side)."""
    import duckdb

    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    got = {
        (r.query_id, r.doc_id, r.score, r.rank)
        for r in X.bm25_topk(spark, SF_SMALL).collect()
    }
    contrib = (
        "idf * (tf * CAST(2.2 AS DOUBLE)) / "
        "(tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + "
        "CAST(0.75 AS DOUBLE) * dl / avgdl))"
    )
    sql = (
        "WITH d AS (SELECT doc_id, lower(text) AS text FROM documents WHERE text IS NOT NULL), "
        "tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk FROM d), "
        "dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM tok), "
        "corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) / COUNT(*) AS avgdl FROM dl), "
        "terms AS (SELECT doc_id, unnest(tk) AS term FROM tok), "
        "tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM terms GROUP BY 1, 2), "
        "dfr AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM terms GROUP BY 1), "
        "q AS (SELECT DISTINCT doc_id AS query_id, unnest(list_sort(list_distinct("
        "list_filter(tk, t -> length(t) >= 3)))[1:4]) AS term FROM tok WHERE doc_id < 5), "
        "idf AS (SELECT term, ROUND(ln((n_docs - df + CAST(0.5 AS DOUBLE)) / "
        "(df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)), 6) AS idf "
        "FROM dfr CROSS JOIN corpus), "
        "post AS (SELECT q.query_id, tf.doc_id, "
        f"CAST({contrib} AS DECIMAL(25,10)) AS c "
        "FROM q JOIN tf USING (term) JOIN idf USING (term) "
        "JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN corpus "
        "WHERE q.query_id <> tf.doc_id), "
        "scored AS (SELECT query_id, doc_id, ROUND(CAST(SUM(c) AS DOUBLE), 6) AS score "
        "FROM post GROUP BY 1, 2) "
        "SELECT query_id, doc_id, score, rank FROM ("
        "SELECT query_id, doc_id, score, CAST(ROW_NUMBER() OVER "
        "(PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank "
        "FROM scored) WHERE rank <= 10"
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMALL}/documents.parquet'"
    )
    exp = set(map(tuple, con.execute(sql).fetchall()))
    assert got == exp and len(got) == 5 * 10


def test_events_feature_matrix_matches_oracle(spark):
    """R10-queue entry pinned ahead of registration: point-in-time
    features (strict-predecessor RANGE/ROWS frames) must equal the
    DuckDB WINDOW replay; the strictly-before contract means no label
    row ever counts itself."""
    import duckdb

    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    got = {
        tuple(r)
        for r in X.events_feature_matrix(spark, SF_SMALL).collect()
    }
    sql = (
        "WITH e AS (SELECT event_id, user_id, ts, event_type, value, "
        "epoch_us(ts) AS em FROM events "
        "WHERE ts IS NOT NULL AND user_id IS NOT NULL) "
        "SELECT user_id, event_id, label_ts, f_ev_7d, f_val_7d, "
        "f_clicks_1d, micros_since_click FROM ("
        "SELECT event_type, user_id, event_id, ts AS label_ts, "
        "CAST(COUNT(*) OVER w7 AS BIGINT) AS f_ev_7d, "
        "COALESCE(CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w7 AS DOUBLE), "
        "CAST(0 AS DOUBLE)) AS f_val_7d, "
        "CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) "
        "OVER w1, 0) AS BIGINT) AS f_clicks_1d, "
        "em - MAX(CASE WHEN event_type = 'click' THEN em END) OVER wr "
        "AS micros_since_click "
        "FROM e WINDOW "
        "w7 AS (PARTITION BY user_id ORDER BY em "
        "RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING), "
        "w1 AS (PARTITION BY user_id ORDER BY em "
        "RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING), "
        "wr AS (PARTITION BY user_id ORDER BY em, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
        ") WHERE event_type = 'purchase'"
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_SMALL}/events.parquet'"
    )
    exp = set(map(tuple, con.execute(sql).fetchall()))
    assert got == exp and got
    # the strict bound bites: some label has a prior click (non-NULL
    # gap) and some has none (NULL)
    gaps = [t[-1] for t in got]
    assert any(g is None for g in gaps) and any(g is not None for g in gaps)


def test_r10_queue_null_degeneracy(spark, tmp_path):
    """Pre-registration NULL probe for the r10 queue (the null_probe
    tool only resolves REGISTERED names): apply the standard injection
    classes (NULL text/lang/source on documents; NULL ts/user_id/
    event_type/value on events) and require each queue operator to
    stay hash-equal to its DuckDB oracle on the SAME degraded fixture
    — the three known divergence classes (sizeOfNull, NULLS FIRST
    window walks, NULL join keys) all surface under exactly this."""
    import duckdb

    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL
    import __spark_entry__ as E

    con = duckdb.connect()
    docs = str(tmp_path / "documents.parquet")
    evs = str(tmp_path / "events.parquet")
    con.execute(
        "COPY (SELECT doc_id, "
        "CASE WHEN doc_id % 17 = 0 THEN NULL ELSE text END AS text, "
        "CASE WHEN doc_id % 13 = 0 THEN NULL ELSE lang END AS lang, "
        "CASE WHEN doc_id % 11 = 0 THEN NULL ELSE source END AS source, "
        "CASE WHEN doc_id % 17 = 0 THEN NULL ELSE n_chars END AS n_chars "
        f"FROM read_parquet('{SF_SMALL}/documents.parquet')) "
        f"TO '{docs}' (FORMAT PARQUET)"
    )
    con.execute(
        "COPY (SELECT event_id, "
        "CASE WHEN event_id % 53 = 0 THEN NULL ELSE ts END AS ts, "
        "CASE WHEN event_id % 19 = 0 THEN NULL ELSE user_id END AS user_id, "
        "CASE WHEN event_id % 31 = 0 THEN NULL ELSE event_type END AS event_type, "
        "CASE WHEN event_id % 23 = 0 THEN NULL ELSE value END AS value, "
        "CASE WHEN event_id % 29 = 0 THEN NULL ELSE props END AS props "
        f"FROM read_parquet('{SF_SMALL}/events.parquet')) "
        f"TO '{evs}' (FORMAT PARQUET)"
    )
    sf = str(tmp_path)
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{evs}'")

    # corpus_domain_cap: NULL source rows are excluded on both sides
    got = {tuple(r) for r in X.corpus_domain_cap(spark, sf).collect()}
    exp = set(map(tuple, con.execute(
        "SELECT d.doc_id, d.source, "
        "CAST(ROW_NUMBER() OVER (PARTITION BY d.source ORDER BY d.doc_id) AS BIGINT), "
        "CAST(COUNT(*) OVER (PARTITION BY d.source) AS BIGINT), "
        "CASE WHEN ROW_NUMBER() OVER (PARTITION BY d.source ORDER BY d.doc_id) <= 12 "
        "THEN 'keep' ELSE 'drop_capped' END "
        "FROM documents d WHERE d.source IS NOT NULL").fetchall()))
    assert got == exp and got

    # corpus_gopher_rules: NULL text excluded; NULL lang hits the
    # unknown-lang pass arm on both sides
    got = {tuple(r) for r in X.corpus_gopher_rules(spark, sf).collect()}
    exp = set(map(tuple, con.execute(E.oracle_sql()["corpus_gopher_rules"]).fetchall()))
    assert got == exp and got

    # events_feature_matrix: NULL ts / NULL user_id gated both sides;
    # NULL value skips the decimal window sum identically
    got = {tuple(r) for r in X.events_feature_matrix(spark, sf).collect()}
    exp = set(map(tuple, con.execute(
        "WITH e AS (SELECT event_id, user_id, ts, event_type, value, "
        "epoch_us(ts) AS em FROM events "
        "WHERE ts IS NOT NULL AND user_id IS NOT NULL) "
        "SELECT user_id, event_id, label_ts, f_ev_7d, f_val_7d, "
        "f_clicks_1d, micros_since_click FROM ("
        "SELECT event_type, user_id, event_id, ts AS label_ts, "
        "CAST(COUNT(*) OVER w7 AS BIGINT) AS f_ev_7d, "
        "COALESCE(CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w7 AS DOUBLE), "
        "CAST(0 AS DOUBLE)) AS f_val_7d, "
        "CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) "
        "OVER w1, 0) AS BIGINT) AS f_clicks_1d, "
        "em - MAX(CASE WHEN event_type = 'click' THEN em END) OVER wr "
        "AS micros_since_click "
        "FROM e WINDOW "
        "w7 AS (PARTITION BY user_id ORDER BY em "
        "RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING), "
        "w1 AS (PARTITION BY user_id ORDER BY em "
        "RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING), "
        "wr AS (PARTITION BY user_id ORDER BY em, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
        ") WHERE event_type = 'purchase'").fetchall()))
    assert got == exp and got

    # bm25_topk: NULL text excluded from corpus AND query-doc set
    contrib = (
        "idf * (tf * CAST(2.2 AS DOUBLE)) / "
        "(tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + "
        "CAST(0.75 AS DOUBLE) * dl / avgdl))"
    )
    got = {tuple(r) for r in X.bm25_topk(spark, sf).collect()}
    exp = set(map(tuple, con.execute(
        "WITH d AS (SELECT doc_id, lower(text) AS text FROM documents WHERE text IS NOT NULL), "
        "tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk FROM d), "
        "dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM tok), "
        "corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) / COUNT(*) AS avgdl FROM dl), "
        "terms AS (SELECT doc_id, unnest(tk) AS term FROM tok), "
        "tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM terms GROUP BY 1, 2), "
        "dfr AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM terms GROUP BY 1), "
        "q AS (SELECT DISTINCT doc_id AS query_id, unnest(list_sort(list_distinct("
        "list_filter(tk, t -> length(t) >= 3)))[1:4]) AS term FROM tok WHERE doc_id < 5), "
        "idf AS (SELECT term, ROUND(ln((n_docs - df + CAST(0.5 AS DOUBLE)) / "
        "(df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)), 6) AS idf FROM dfr CROSS JOIN corpus), "
        "post AS (SELECT q.query_id, tf.doc_id, "
        f"CAST({contrib} AS DECIMAL(25,10)) AS c "
        "FROM q JOIN tf USING (term) JOIN idf USING (term) "
        "JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN corpus "
        "WHERE q.query_id <> tf.doc_id), "
        "scored AS (SELECT query_id, doc_id, ROUND(CAST(SUM(c) AS DOUBLE), 6) AS score "
        "FROM post GROUP BY 1, 2) "
        "SELECT query_id, doc_id, score, rank FROM ("
        "SELECT query_id, doc_id, score, CAST(ROW_NUMBER() OVER "
        "(PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank "
        "FROM scored) WHERE rank <= 10").fetchall()))
    assert got == exp and got


def test_similarity_recall_audit_matches_oracle(spark):
    """R10-queue entry pinned ahead of registration: recall@k of the
    sign-LSH ANN vs brute-force ground truth must equal the DuckDB
    replay built by nesting the two REGISTERED oracles as CTEs — and
    the audit must be non-trivial (some query below 100% recall, none
    above it)."""
    import duckdb

    import __spark_entry__ as E
    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    got = {
        (r.query_id, r.k, r.n_hits, r.recall_at_k)
        for r in X.similarity_recall_audit(spark, SF_SMALL).collect()
    }
    o = E.oracle_sql()
    sql = (
        f"WITH exact_q AS ({o['similarity_topk']}), "
        f"ann_q AS ({o['similarity_ann_lsh']}), "
        "e AS (SELECT query_id, candidate_id FROM exact_q), "
        "a AS (SELECT query_id, candidate_id FROM ann_q), "
        "hits AS (SELECT e.query_id, COUNT(*) AS n FROM e "
        "JOIN a USING (query_id, candidate_id) GROUP BY 1), "
        "base AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k FROM e GROUP BY 1) "
        "SELECT base.query_id, base.k, "
        "CAST(COALESCE(hits.n, 0) AS BIGINT) AS n_hits, "
        "CAST(COALESCE(hits.n, 0) AS DOUBLE) / base.k AS recall_at_k "
        "FROM base LEFT JOIN hits USING (query_id)"
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_SMALL}/embeddings.parquet'"
    )
    exp = set(map(tuple, con.execute(sql).fetchall()))
    assert got == exp and len(got) == 10
    recalls = [r for *_x, r in got]
    assert all(0.0 <= r <= 1.0 for r in recalls)
    assert any(r < 1.0 for r in recalls), "audit is trivial: ANN never misses"


_TRIANGLE_ORACLE = (
    "WITH bp0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), "
    # per-order item cap (default 256): deterministic truncation to the
    # lowest part keys, mirroring the engine's row_number window
    "bp AS (SELECT o, p FROM (SELECT o, p, ROW_NUMBER() OVER "
    "(PARTITION BY o ORDER BY p) AS rn FROM bp0) WHERE rn <= 256), "
    "e AS (SELECT DISTINCT a.p AS pa, b.p AS pb FROM bp a "
    "JOIN bp b ON a.o = b.o AND a.p < b.p), "
    "deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM "
    "(SELECT pa AS v FROM e UNION ALL SELECT pb FROM e) GROUP BY 1), "
    "ore AS (SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.pa < e.pb) "
    "THEN e.pa ELSE e.pb END AS src, "
    "CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.pa < e.pb) "
    "THEN e.pb ELSE e.pa END AS dst, "
    "CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.pa < e.pb) "
    "THEN db.d ELSE da.d END AS dst_d "
    "FROM e JOIN deg da ON e.pa = da.v JOIN deg db ON e.pb = db.v), "
    "wed AS (SELECT a.src AS u, a.dst AS v, b.dst AS w FROM ore a "
    "JOIN ore b ON a.src = b.src AND ((a.dst_d < b.dst_d) OR "
    "(a.dst_d = b.dst_d AND a.dst < b.dst))), "
    "tri AS (SELECT u, v, w FROM wed WHERE EXISTS "
    "(SELECT 1 FROM ore c WHERE wed.v = c.src AND wed.w = c.dst)), "
    "pn AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n_tri FROM "
    "(SELECT u AS v FROM tri UNION ALL SELECT v FROM tri "
    "UNION ALL SELECT w FROM tri) GROUP BY 1) "
    "SELECT deg.v AS part, deg.d AS degree, "
    "CAST(COALESCE(pn.n_tri, 0) AS BIGINT) AS n_triangles, "
    "CASE WHEN deg.d >= 2 THEN CAST(COALESCE(pn.n_tri, 0) * 2 AS DOUBLE) "
    "/ (deg.d * (deg.d - 1)) END AS clustering_coeff "
    "FROM deg LEFT JOIN pn ON deg.v = pn.v"
)


def test_graph_triangle_count_matches_oracle(spark):
    """R10-queue entry pinned ahead of registration: the
    degree-oriented triangle census must equal the DuckDB replay —
    same orientation tie-break, each triangle counted once at its
    minimum-rank vertex, coefficient an unrounded int/int division."""
    import duckdb

    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    got = {
        tuple(r)
        for r in X.graph_triangle_count(spark, SF_SMALL).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{SF_SMALL}/lineitem.parquet'"
    )
    exp = set(map(tuple, con.execute(_TRIANGLE_ORACLE).fetchall()))
    assert got == exp and got
    # the census is non-trivial: triangles exist and the coefficient
    # actually discriminates (not every neighborhood is a clique)
    ns = [r[2] for r in got]
    coeffs = [r[3] for r in got if r[3] is not None]
    assert any(n > 0 for n in ns)
    assert coeffs and min(coeffs) < max(coeffs)


def test_recall_audit_null_degeneracy(spark, tmp_path):
    """Pre-registration NULL probe for the recall audit: NULL embedding
    vectors (the embeddings-axis injection) must leave the audit
    hash-equal to its nested-oracle replay — both component operators
    gate NULL vectors, so the audit inherits the gate."""
    import duckdb

    import __spark_entry__ as E
    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    con = duckdb.connect()
    emb = str(tmp_path / "embeddings.parquet")
    con.execute(
        "COPY (SELECT vec_id, "
        "CASE WHEN vec_id % 13 = 0 THEN NULL ELSE embedding END AS embedding, "
        "CASE WHEN vec_id % 11 = 0 THEN NULL ELSE label END AS label "
        f"FROM read_parquet('{SF_SMALL}/embeddings.parquet')) "
        f"TO '{emb}' (FORMAT PARQUET)"
    )
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{emb}'")
    o = E.oracle_sql()
    sql = (
        f"WITH exact_q AS ({o['similarity_topk']}), "
        f"ann_q AS ({o['similarity_ann_lsh']}), "
        "e AS (SELECT query_id, candidate_id FROM exact_q), "
        "a AS (SELECT query_id, candidate_id FROM ann_q), "
        "hits AS (SELECT e.query_id, COUNT(*) AS n FROM e "
        "JOIN a USING (query_id, candidate_id) GROUP BY 1), "
        "base AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k FROM e GROUP BY 1) "
        "SELECT base.query_id, base.k, "
        "CAST(COALESCE(hits.n, 0) AS BIGINT) AS n_hits, "
        "CAST(COALESCE(hits.n, 0) AS DOUBLE) / base.k AS recall_at_k "
        "FROM base LEFT JOIN hits USING (query_id)"
    )
    got = {
        tuple(r)
        for r in X.similarity_recall_audit(spark, str(tmp_path)).collect()
    }
    exp = set(map(tuple, con.execute(sql).fetchall()))
    assert got == exp and got


def test_minhash_vectorized_signatures_match_inline(spark):
    """VERDICT r9 #4 / the r9 opportunity note: the Arrow-batched
    vectorized signature stage must be BIT-IDENTICAL to the inline HOF
    path — every minhash-family oracle pins the algorithm precisely, so
    a single differing hash would surface as a wrong candidate set.
    Compared on the real sf0.001 corpus (identical shingle sets AND
    identical 12-permutation signatures, per doc)."""
    from logistream_data_pipeline_aws_spark.catalog import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    j = lambda df: {  # noqa: E731
        r["doc_id"]: r["j"]
        for r in df.select(
            "doc_id", F.to_json(F.struct("shingles", "sig")).alias("j")
        ).collect()
    }
    inline = j(D.minhash_signatures(docs, "doc_id", "text"))
    vec = j(D.minhash_signatures_vectorized(docs, "doc_id", "text"))
    assert inline and vec == inline


def test_minhash_staged_signature_table_roundtrip(spark, tmp_path):
    """VERDICT r9 #4: staged-vs-inline signature equality.  Staging half
    the corpus, APPENDING the other half (the incremental-maintenance
    path), and reading the table back must reproduce the inline
    signatures exactly — and feeding the staged frame into
    ``minhash_near_duplicates`` must emit the exact same verified pairs
    as the inline run.  A manifest/params mismatch must raise, never
    silently mix permutation families."""
    from logistream_data_pipeline_aws_spark.catalog import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    path = str(tmp_path / "sig_table")
    D.stage_minhash_signatures(
        docs.where(F.col("doc_id") % 2 == 0), "doc_id", "text", path
    )
    D.append_minhash_signatures(docs.where(F.col("doc_id") % 2 == 1), path)
    staged = D.read_staged_signatures(spark, path, "doc_id", "text")
    j = lambda df: {  # noqa: E731
        r["doc_id"]: r["j"]
        for r in df.select(
            "doc_id", F.to_json(F.struct("shingles", "sig")).alias("j")
        ).collect()
    }
    assert j(staged) == j(D.minhash_signatures(docs, "doc_id", "text"))
    pairs_staged = sorted(
        map(
            tuple,
            D.minhash_near_duplicates(
                docs, "doc_id", "text", threshold=0.2, sigs=staged
            ).collect(),
        )
    )
    pairs_inline = sorted(
        map(
            tuple,
            D.minhash_near_duplicates(docs, "doc_id", "text", threshold=0.2).collect(),
        )
    )
    assert pairs_staged == pairs_inline
    with pytest.raises(ValueError, match="restage before use"):
        D.read_staged_signatures(spark, path, "doc_id", "text", k_shingle=4)


def test_staged_table_commit_marker_and_fingerprint(spark, tmp_path):
    """ADVICE r10 #2: reuse gates on the MANIFEST (the commit marker
    written after the data), never on the data directory — a crashed
    stage that left parquet but no manifest must read as invalid and a
    manifest-less read must raise; a corpus fingerprint mismatch must
    invalidate reuse on durable paths; append must advance the staged
    fingerprint so the grown table stays adoptable."""
    import json
    import os

    from logistream_data_pipeline_aws_spark.catalog import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    half = docs.where(F.col("doc_id") % 2 == 0)
    rest = docs.where(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "sig_table")

    # simulated crashed stage: data dir exists, no manifest yet
    os.makedirs(os.path.join(path, "signatures"))
    assert not D.staged_signatures_valid(path, "doc_id", "text")
    with pytest.raises(OSError):
        D.read_staged_signatures(spark, path, "doc_id", "text")

    fp_half = D.corpus_fingerprint(half, "doc_id")
    D.stage_minhash_signatures(
        half, "doc_id", "text", path, fingerprint=fp_half
    )
    assert D.staged_signatures_valid(path, "doc_id", "text")
    assert D.staged_signatures_valid(
        path, "doc_id", "text", fingerprint=fp_half
    )
    # the full corpus is NOT what was staged — both the validity check
    # and the pinned read must reject it
    fp_full = D.corpus_fingerprint(docs, "doc_id")
    assert fp_full != fp_half
    assert not D.staged_signatures_valid(
        path, "doc_id", "text", fingerprint=fp_full
    )
    with pytest.raises(ValueError, match="restage before use"):
        D.read_staged_signatures(
            spark, path, "doc_id", "text", expect_fingerprint=fp_full
        )
    # append advances the manifest fingerprint to the grown corpus
    D.append_minhash_signatures(rest, path)
    assert D.staged_signatures_valid(
        path, "doc_id", "text", fingerprint=fp_full
    )
    with open(os.path.join(path, D._SIG_MANIFEST)) as fh:
        assert json.load(fh)["corpus"] == fp_full
    got = D.read_staged_signatures(
        spark, path, "doc_id", "text", expect_fingerprint=fp_full
    )
    assert (
        got.count()
        == D.minhash_signatures(docs, "doc_id", "text").count()
    )


def test_doc_tokens_staged_twins_match_inline_and_oracle(spark):
    """R12-queue candidates pinned ahead of registration (VERDICT r10
    #6): the bigram scorer and the DSIR weigher reading the PERSISTED
    token table must be indistinguishable from their inline twins —
    same rows, same values — and hash-equal to the registered oracles
    (both staged paths share them verbatim).  One staged table serves
    both consumers (the second call must not restage)."""
    import os

    import duckdb

    import __spark_entry__ as E
    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    staged_bg = {
        tuple(r) for r in X.doc_bigram_score_staged(spark, SF_SMALL).collect()
    }
    inline_bg = {
        tuple(r) for r in X.doc_bigram_score(spark, SF_SMALL).collect()
    }
    assert staged_bg == inline_bg and staged_bg
    # the shared staged table is committed now — the DSIR twin must
    # reuse it, not restage (manifest mtime unchanged across the call)
    path = X._scratch(
        "doc_tokens_" + os.path.abspath(SF_SMALL).replace(os.sep, "_")
    )
    manifest = os.path.join(path, X._DOC_TOKENS_MANIFEST)
    # no-restage signal (ADVICE r11 #5): spy on stage_doc_tokens rather
    # than compare getmtime for equality — coarse-mtime filesystems can
    # false-pass a restage that completes within one timestamp tick,
    # and mtime can't see an identical-content rewrite at all
    stat_before = os.stat(manifest)
    real_stage, calls = X.stage_doc_tokens, []
    X.stage_doc_tokens = lambda *a, **k: (
        calls.append(1), real_stage(*a, **k))[1]
    try:
        staged_w = {
            tuple(r)
            for r in X.corpus_dsir_weights_staged(spark, SF_SMALL).collect()
        }
    finally:
        X.stage_doc_tokens = real_stage
    assert not calls, "DSIR twin restaged (stage_doc_tokens was called)"
    stat_after = os.stat(manifest)
    assert (stat_after.st_ino, stat_after.st_mtime_ns) == (
        stat_before.st_ino, stat_before.st_mtime_ns
    ), "manifest rewritten under the DSIR twin"
    inline_w = {
        tuple(r) for r in X.corpus_dsir_weights(spark, SF_SMALL).collect()
    }
    assert staged_w == inline_w and staged_w
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMALL}/documents.parquet'"
    )
    exp_bg = set(
        map(tuple, con.execute(E.oracle_sql()["doc_bigram_score"]).fetchall())
    )
    assert staged_bg == exp_bg
    exp_w = set(
        map(
            tuple,
            con.execute(E.oracle_sql()["corpus_dsir_weights"]).fetchall(),
        )
    )
    assert staged_w == exp_w


def test_staged_doc_tokens_commit_marker_and_fingerprint(spark, tmp_path):
    """The ADVICE r10 #2 contract on the token table: manifest-less
    tokens dir is invalid (crashed stage), fingerprint mismatch
    invalidates reuse, committed stage validates and reads back."""
    import os

    from logistream_data_pipeline_aws_spark.catalog import load_table
    from logistream_data_pipeline_aws_spark.plans import extensions as X

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    path = str(tmp_path / "doc_tokens")
    os.makedirs(os.path.join(path, "tokens"))
    assert not X.staged_doc_tokens_valid(path)
    with pytest.raises(OSError):
        X.read_staged_doc_tokens(spark, path)

    fp = D.corpus_fingerprint(docs, "doc_id")
    X.stage_doc_tokens(docs, path, fingerprint=fp)
    assert X.staged_doc_tokens_valid(path, fingerprint=fp)
    stale = {"n_rows": fp["n_rows"] + 1, "max_id": fp["max_id"]}
    assert not X.staged_doc_tokens_valid(path, fingerprint=stale)
    with pytest.raises(ValueError, match="restage before use"):
        X.read_staged_doc_tokens(spark, path, expect_fingerprint=stale)
    toks = X.read_staged_doc_tokens(spark, path, expect_fingerprint=fp)
    assert set(toks.columns) == {"doc_id", "lang", "words"}
    assert toks.count() == docs.where(F.col("text").isNotNull()).count()


def test_staged_bm25_commit_marker_and_fingerprint(spark, tmp_path):
    """The same ADVICE r10 #2 contract on the lexical index: a
    manifest-less postings dir is invalid (crashed stage), a corpus
    fingerprint mismatch invalidates reuse, and a committed stage
    validates and reads back under its fingerprint."""
    import os

    from logistream_data_pipeline_aws_spark.catalog import load_table
    from logistream_data_pipeline_aws_spark.plans import extensions as X

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    path = str(tmp_path / "bm25_index")
    os.makedirs(os.path.join(path, "postings"))
    assert not X.staged_bm25_postings_valid(path)
    with pytest.raises(OSError):
        X.read_staged_bm25_postings(spark, path)

    fp = D.corpus_fingerprint(docs, "doc_id")
    X.stage_bm25_postings(docs, path, fingerprint=fp)
    assert X.staged_bm25_postings_valid(path, fingerprint=fp)
    stale = {"n_rows": fp["n_rows"] + 1, "max_id": fp["max_id"]}
    assert not X.staged_bm25_postings_valid(path, fingerprint=stale)
    with pytest.raises(ValueError, match="rebuild before use"):
        X.read_staged_bm25_postings(spark, path, expect_fingerprint=stale)
    tf = X.read_staged_bm25_postings(spark, path, expect_fingerprint=fp)
    assert {c for c in tf.columns} == {"doc_id", "term", "tf"}


def test_checkpoint_release_scoped_to_own_rdds(spark):
    """ADVICE r9 #1: the CC loop's block release must be scoped to the
    checkpoint's OWN RDD ids — a global getPersistentRDDs diff would
    sweep up (and later force-unpersist) an RDD a CONCURRENT job
    persisted during the eager checkpoint, which is unrecoverable for a
    lineage-truncated localCheckpoint.  Pin: a bystander frame persisted
    while a checkpoint materializes is NOT in the checkpoint's own id
    set, and releasing that set leaves the bystander's storage intact."""
    from logistream_data_pipeline_aws_spark.operators import fixed_point as FP

    bystander = spark.range(500).select(F.col("id"), (F.col("id") * 2).alias("v"))
    bystander.persist()
    bystander.count()  # materialize the bystander's blocks
    by_ids = FP._persistent_rdd_ids(spark)
    ckpt = (
        spark.range(1000)
        .select(F.col("id"), (F.col("id") % 3).alias("k"))
        .localCheckpoint(eager=True)
    )
    own = FP._own_checkpoint_rdd_ids(ckpt)
    assert own, "accessor found no ids for a fresh localCheckpoint"
    assert not (own & by_ids), "bystander RDD leaked into the checkpoint's own ids"
    FP._release_rdds(spark, own)
    # the bystander's storage must survive the release
    assert by_ids <= FP._persistent_rdd_ids(spark)
    assert bystander.count() == 500
    bystander.unpersist()


def test_graph_triangle_order_cap_meters_and_completes(spark, tmp_path):
    """VERDICT r9 #5: co-purchase edge generation is L² per order —
    bounded at 7 items in TPC-H, unbounded for real basket data.  Pin:
    a synthetic 10,000-item order (a) completes under the default cap
    instead of expanding ~50M edge candidates from one group, (b) is
    deterministically truncated to its 256 lowest part keys, and (c)
    the truncation is METERED via the observed ``triangle_order_cap``
    aggregate (capped_orders=1, dropped_items=9744), never silent."""
    from pyspark.sql import Observation

    from logistream_data_pipeline_aws_spark.plans import extensions as X

    big = spark.range(10_000).select(
        F.lit(1).alias("l_orderkey"), (F.col("id") + 1).alias("l_partkey")
    )
    small = spark.createDataFrame(
        [(2, 1), (2, 2), (2, 3), (3, 2), (3, 3)], ["l_orderkey", "l_partkey"]
    )
    big.unionAll(small).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    obs = Observation("triangle_order_cap")
    out = {
        r["part"]: (r["degree"], r["n_triangles"])
        for r in X.graph_triangle_count(
            spark, str(tmp_path), cap_observation=obs
        ).collect()
    }
    # order 1 truncated to parts 1..256: each surviving part keeps degree
    # >= 255 within the big order; parts beyond the cap are gone entirely
    assert len(out) == 256
    assert out[256][0] >= 255  # cap kept the LOWEST part keys
    assert 257 not in out and 9999 not in out
    # triangle (1,2,3) from orders 1(truncated)+2+3 still present
    assert out[1][1] > 0
    got = obs.get
    assert got["capped_orders"] == 1 and got["dropped_items"] == 9744


# -- round-11 registration queue (register at the r11 rotation) --------------


def test_dedup_minhash_staged_matches_inline_and_oracle(spark):
    """R11-queue entry pinned ahead of registration: the dedup that
    READS a persisted signature table must be indistinguishable from
    the inline path — same pairs, same jaccards — and hash-equal to
    the registered dedup_minhash_lsh DuckDB oracle (the staged path
    shares it verbatim)."""
    import duckdb

    import __spark_entry__ as E
    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    staged = {
        tuple(r) for r in X.dedup_minhash_staged(spark, SF_SMALL).collect()
    }
    inline = {
        tuple(r) for r in X.dedup_minhash_lsh(spark, SF_SMALL).collect()
    }
    assert staged == inline and staged
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMALL}/documents.parquet'"
    )
    exp = {
        (r[0], r[1], round(r[2], 6))
        for r in con.execute(E.oracle_sql()["dedup_minhash_lsh"]).fetchall()
    }
    got = {(a, b, round(j, 6)) for a, b, j in staged}
    assert got == exp


def test_doc_bigram_score_matches_oracle(spark):
    """R11-queue entry pinned ahead of registration: bigram-LM quality
    scores must equal the DuckDB replay bit-exactly, and the
    conditional signal must actually separate documents (a constant
    column proves nothing)."""
    import duckdb

    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    got = {
        tuple(r) for r in X.doc_bigram_score(spark, SF_SMALL).collect()
    }
    con = duckdb.connect()
    exp = set(
        map(
            tuple,
            con.execute(
                _bigram_score_oracle(f"'{SF_SMALL}/documents.parquet'")
            ).fetchall(),
        )
    )
    assert got == exp and got
    conds = sorted({r[3] for r in got})
    assert len(conds) > 10 and conds[0] < conds[-1]


def test_corpus_dsir_weights_matches_oracle(spark):
    """R11-queue entry pinned ahead of registration: DSIR importance
    log-weights must equal the DuckDB replay bit-exactly, target-slice
    (lang='en') docs must skew positive vs the rest (the method's
    defining property), and weights must discriminate."""
    import duckdb

    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    got = {
        tuple(r) for r in X.corpus_dsir_weights(spark, SF_SMALL).collect()
    }
    con = duckdb.connect()
    exp = set(
        map(
            tuple,
            con.execute(
                _dsir_oracle(f"'{SF_SMALL}/documents.parquet'")
            ).fetchall(),
        )
    )
    assert got == exp and got
    langs = {
        r[0]: r[1]
        for r in con.execute(
            f"SELECT doc_id, lang FROM '{SF_SMALL}/documents.parquet'"
        ).fetchall()
    }
    import statistics

    en = [w for d, _n, w in got if langs.get(d) == "en"]
    rest = [w for d, _n, w in got if langs.get(d) not in (None, "en")]
    assert en and rest
    assert statistics.mean(en) > statistics.mean(rest)
    assert len({w for *_x, w in got}) > 10


def test_graph_kcore_matches_oracle(spark):
    """R11-queue entry pinned ahead of registration: the h-index
    coreness iteration must equal the DuckDB unrolled replay, and both
    the fixed-round and the converged form must equal
    ``networkx.core_number`` over the same capped co-purchase edge list
    built in DuckDB (so registered rows are exact corenesses at this SF),
    and the values must discriminate."""
    import duckdb
    import networkx as nx

    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    got = {tuple(r) for r in X.graph_kcore(spark, SF_SMALL).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{SF_SMALL}/lineitem.parquet'"
    )
    exp = set(map(tuple, con.execute(_kcore_oracle_sql()).fetchall()))
    assert got == exp and got
    # the probe-round flag: converged must be TRUE here, so a corpus
    # that stops converging within the fixed rounds flips every row and
    # fails the value hash
    assert {r[3] for r in got} == {True}
    g = nx.Graph(
        con.execute(
            "WITH bp0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p "
            "FROM lineitem), "
            "bp AS (SELECT o, p FROM (SELECT o, p, ROW_NUMBER() OVER "
            "(PARTITION BY o ORDER BY p) AS rn FROM bp0) WHERE rn <= 256) "
            "SELECT DISTINCT a.p, b.p FROM bp a JOIN bp b "
            "ON a.o = b.o AND a.p < b.p"
        ).fetchall()
    )
    core = nx.core_number(g)
    ref = {(v, g.degree(v), c) for v, c in core.items()}
    assert {r[:3] for r in got} == ref, (
        "20 rounds no longer reach the true coreness at sf0.001"
    )
    conv = {
        tuple(r) for r in X.graph_kcore_converged(spark, SF_SMALL).collect()
    }
    assert conv == ref
    cs = set(core.values())
    assert len(cs) > 5 and all(c >= 1 for c in cs)



def test_graph_kcore_driver_path_matches_distributed(spark, monkeypatch, tmp_path):
    """Both k-core forms return the same rows and the same schema,
    nullability included, whether their h-index rounds run on the driver
    (a capped edge list under ``_KCORE_DRIVER_MAX_EDGES``) or distributed
    (the gate forced to 0): on SF_SMALL, and on a lineitem where every
    order holds one part, a graph with no edges and so no rows."""
    import duckdb

    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    duckdb.connect().execute(
        f"COPY (SELECT * FROM '{SF_SMALL}/lineitem.parquet' "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY l_orderkey "
        "ORDER BY l_linenumber) = 1) "
        f"TO '{tmp_path}/lineitem.parquet' (FORMAT PARQUET)"
    )
    paths = []
    for name, label in (("_kcore_hindex", "driver"), ("_kcore_parts", "distributed")):
        real = getattr(X, name)

        def spy(*a, _real=real, _label=label, **k):
            paths.append(_label)
            return _real(*a, **k)

        monkeypatch.setattr(X, name, spy)

    def run():
        paths.clear()
        out = []
        for sf in (SF_SMALL, str(tmp_path)):
            for op in (X.graph_kcore, X.graph_kcore_converged):
                df = op(spark, sf)
                out.append((df.schema, sorted(map(tuple, df.collect()))))
        return out

    on_driver = run()
    assert set(paths) == {"driver"}
    monkeypatch.setattr(X, "_KCORE_DRIVER_MAX_EDGES", 0)
    distributed = run()
    assert set(paths) == {"distributed"}
    assert on_driver == distributed
    assert on_driver[0][1] and on_driver[1][1]
    assert on_driver[2][1] == [] and on_driver[3][1] == []


def test_graph_kcore_with_arrow_disabled(spark):
    """The driver path collects and returns through Arrow tables, which
    do not read ``spark.sql.execution.arrow.pyspark.enabled``: with the
    conf off (a bare session's default) ``graph_kcore`` returns the
    oracle's rows, and the conf is restored."""
    import duckdb

    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = {tuple(r) for r in X.graph_kcore(spark, SF_SMALL).collect()}
    finally:
        spark.conf.set(key, before)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{SF_SMALL}/lineitem.parquet'"
    )
    assert got == set(map(tuple, con.execute(_kcore_oracle_sql()).fetchall()))
    assert got and spark.conf.get(key) == before

def test_r11_queue_null_degeneracy(spark, tmp_path):
    """Pre-registration NULL probe for the r11 queue (the documents
    axis): NULL text must be gated identically on both engines for the
    bigram scorer and the DSIR weights; the staged minhash path
    inherits dedup_minhash_lsh's gates (signatures exist only for
    shingled docs).  graph_kcore reads only the never-NULL lineitem
    key columns (generator invariant), so it needs no axis."""
    import duckdb

    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    con = duckdb.connect()
    docs = str(tmp_path / "documents.parquet")
    con.execute(
        "COPY (SELECT doc_id, "
        "CASE WHEN doc_id % 17 = 0 THEN NULL ELSE text END AS text, "
        "CASE WHEN doc_id % 13 = 0 THEN NULL ELSE lang END AS lang, "
        "CASE WHEN doc_id % 11 = 0 THEN NULL ELSE source END AS source, "
        "n_chars "
        f"FROM read_parquet('{SF_SMALL}/documents.parquet')) "
        f"TO '{docs}' (FORMAT PARQUET)"
    )
    sf = str(tmp_path)

    got = {tuple(r) for r in X.doc_bigram_score(spark, sf).collect()}
    exp = set(
        map(tuple, con.execute(_bigram_score_oracle(f"'{docs}'")).fetchall())
    )
    assert got == exp and got

    got = {tuple(r) for r in X.corpus_dsir_weights(spark, sf).collect()}
    exp = set(map(tuple, con.execute(_dsir_oracle(f"'{docs}'")).fetchall()))
    assert got == exp and got


def test_bm25_topk_staged_matches_inline_and_oracle(spark):
    """R12-queue candidate pinned at build: BM25 reading the staged
    postings index must be indistinguishable from the in-session path
    — same ranks, same 6dp scores — and hash-equal to the registered
    bm25_topk DuckDB oracle (the staged path shares it verbatim); a
    manifest mismatch must raise instead of scoring against foreign
    postings."""
    import json
    import os

    import duckdb
    import pytest

    import __spark_entry__ as E
    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    staged = {
        (r.query_id, r.doc_id, r.score, r.rank)
        for r in X.bm25_topk_staged(spark, SF_SMALL).collect()
    }
    inline = {
        (r.query_id, r.doc_id, r.score, r.rank)
        for r in X.bm25_topk(spark, SF_SMALL).collect()
    }
    assert staged == inline and staged
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMALL}/documents.parquet'"
    )
    exp = set(map(tuple, con.execute(E.oracle_sql()["bm25_topk"]).fetchall()))
    assert staged == exp
    # manifest guard: a drifted-tokenizer index must refuse to load
    path = X._scratch(
        "bm25_index_" + os.path.abspath(SF_SMALL).replace(os.sep, "_")
    )
    mf = os.path.join(path, X._BM25_INDEX_MANIFEST)
    orig = open(mf).read()
    try:
        with open(mf, "w") as fh:
            json.dump({"tokenizer": "other", "schema": "doc_id,term,tf"}, fh)
        with pytest.raises(ValueError, match="rebuild before use"):
            X.read_staged_bm25_postings(spark, path)
    finally:
        with open(mf, "w") as fh:
            fh.write(orig)


def test_substring_sharded_matches_single_pass(spark, tmp_path, monkeypatch):
    """The r12 scale split: big corpora mine substring anchors through
    gram-hash shards (staged parquet + per-shard jobs) while small
    corpora keep the single cached-plan path.  Shard boundaries
    partition gram-key space, so the union of shard outputs must be
    VALUE-IDENTICAL to the single pass — pinned here by forcing the
    sharded path onto the small corpus and comparing the registered
    operators' full row sets.  The staging base is durable (r13) —
    redirected to a fresh root here so the mining actually runs
    instead of adopting a prior test run's committed tables."""
    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    monkeypatch.setenv("LSDP_STAGE_DIR", str(tmp_path / "stage_sharded"))

    single_spans = {
        tuple(r) for r in X.doc_substring_spans(spark, SF_SMALL).collect()
    }
    single_dedup = {
        tuple(r) for r in X.doc_substring_dedup(spark, SF_SMALL).collect()
    }
    old_thresh = X._SUBSTRING_SHARD_DOCS
    X._SUBSTRING_SHARD_DOCS = 0  # force the sharded path
    try:
        sharded_spans = {
            tuple(r)
            for r in X.doc_substring_spans(spark, SF_SMALL).collect()
        }
        sharded_dedup = {
            tuple(r)
            for r in X.doc_substring_dedup(spark, SF_SMALL).collect()
        }
    finally:
        X._SUBSTRING_SHARD_DOCS = old_thresh
    assert sharded_spans == single_spans and single_spans
    assert sharded_dedup == single_dedup and single_dedup


def test_kcenter_coreset_matches_unrolled_oracle(spark):
    """R13-queue candidate pinned ahead of registration (the r12-queue
    precedent): greedy k-center selection + assignment must hash-match
    the unrolled DuckDB replay — seed, every round's argmax pick, and
    the final (d2, round) argmin all engine-exact."""
    import duckdb

    from __spark_entry__ import _kcenter_oracle
    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    for sf in (SF_SMALL, "/root/testdata/sf0.01"):
        got = {
            tuple(r) for r in X.corpus_coreset_kcenter(spark, sf).collect()
        }
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
        )
        exp = set(map(tuple, con.execute(_kcenter_oracle()).fetchall()))
        con.close()
        assert got == exp and got, sf
        # the coreset property worth asserting beyond equality: k
        # distinct centers, every vector covered exactly once
        rounds = {r for (_, _, r, _) in got}
        assert rounds == set(range(8)), sf


def test_kcenter_degenerate_inputs(spark):
    """ADVICE r12: an empty / all-NULL-embedding corpus returns an
    empty typed frame (no IndexError on the seed collect), and with
    fewer distinct vectors than k the greedy loop stops instead of
    re-picking duplicate centers with dmin=0."""
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    out = S.kcenter_coreset(empty, "vec_id", "embedding", k=4)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "vec_id", "center_id", "center_round", "dist2",
    ]
    allnull = spark.createDataFrame(
        [(1, None), (2, None)], "vec_id bigint, embedding array<float>"
    )
    assert S.kcenter_coreset(allnull, "vec_id", "embedding", k=4).count() == 0
    # 6 vectors but only 3 distinct values, k=8: rounds stop at 3
    dup = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 3)]) for i in range(6)],
        "vec_id bigint, embedding array<float>",
    )
    rows = S.kcenter_coreset(dup, "vec_id", "embedding", k=8).collect()
    assert len(rows) == 6
    assert {r.center_round for r in rows} == {0, 1, 2}
    assert all(r.dist2 == 0.0 for r in rows)  # every point IS a center value


def test_kcenter_releases_its_iteration_cache(spark):
    """ADVICE r12 (medium): kcenter_coreset must not leak the persisted
    gated-vector frame into session storage — every call unpersists it
    once the greedy centers are collected, so repeated calls cannot pin
    executor storage memory for the session lifetime."""
    from tests.conftest import SF_SMALL

    from logistream_data_pipeline_aws_spark.plans import extensions as X

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    X.corpus_coreset_kcenter(spark, SF_SMALL).collect()
    after = jsc.getPersistentRDDs().size()
    assert after <= before, (before, after)


def test_bm25_staged_null_score_raises_impossible_state(spark):
    """The r12 one-off incident's defense-in-depth (VERDICT r12
    next-round #3): a NULL final score is impossible from intact staged
    postings (tf/df/dl are counts and sums over them), so the staged
    path must raise in-plan with the staging diagnostic rather than
    emit a NULL that could survive to the gate.  Exercised by feeding
    the shared scorer a postings frame with a NULL tf — the corrupt-
    parquet shape."""
    from logistream_data_pipeline_aws_spark.plans import extensions as X

    from pyspark.errors.exceptions.captured import SparkRuntimeException

    tf = spark.createDataFrame(
        [(0, "alpha", 2), (7, "alpha", None), (8, "alpha", 3)],
        "doc_id long, term string, tf long",
    )
    toks = spark.createDataFrame(
        [(0, ["alpha", "beta", "gamma"])], "doc_id long, tk array<string>"
    )
    bad = X._bm25_rank(
        tf, toks, n_queries=1, n_terms=4, k_top=10, k1=1.2, b=0.75,
        null_score_diag="staged postings at /tmp/test-postings",
    )
    with pytest.raises(SparkRuntimeException, match="BM25 impossible state"):
        bad.collect()
    # the inline path (no diagnostic) keeps its r8-pinned semantics:
    # no raise wrapper in the plan at all
    ok = X._bm25_rank(
        tf, toks, n_queries=1, n_terms=4, k_top=10, k1=1.2, b=0.75,
    )
    assert "raise_error" not in ok._jdf.queryExecution().analyzed().toString()


def test_substring_shard_bounds_derivation(spark):
    """VERDICT r12 "What's wrong #1" + r13 "What's missing #3": the
    substring shard knobs derive from the session's worker heap
    (anchors: 150k single-plan docs at 8 GiB, 750k docs/shard at
    48 GiB, both measured at local[32] = 32 task slots); the PER-SHARD
    bound additionally scales by heap per task slot (per-task mining
    state multiplies with concurrency) while the single-plan bound
    does not (it models the JVM-wide gram cache); explicit conf wins;
    the monkeypatch-to-0 test hook still forces the sharded path."""
    from logistream_data_pipeline_aws_spark.plans import extensions as X

    sd, dps = X._substring_shard_bounds(spark)
    heap_gib = (
        spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
        / (1024.0 ** 3)
    )
    slots = X._worker_task_slots(spark)  # conftest session is local[4]
    assert slots == 4
    # single-plan bound: linear in the live heap only (JVM-wide cache),
    # floored for tiny test heaps
    assert sd == max(int(150_000 * heap_gib / 8.0), 18_750)
    # per-shard bound: heap per task slot, anchored at 48g / 32 slots
    assert dps == max(
        int(750_000 * (heap_gib / 48.0) * (32 / slots)), 15_625
    )
    # conf overrides beat the derivation
    spark.conf.set("spark.logistream.substring.shardDocs", "1234")
    spark.conf.set("spark.logistream.substring.docsPerShard", "5678")
    try:
        assert X._substring_shard_bounds(spark) == (1234, 5678)
    finally:
        spark.conf.unset("spark.logistream.substring.shardDocs")
        spark.conf.unset("spark.logistream.substring.docsPerShard")
    # the test hook: anchor monkeypatched to 0 must yield 0 (the floor
    # is capped at the anchor), so forcing the sharded path still works
    old = X._SUBSTRING_SHARD_DOCS
    X._SUBSTRING_SHARD_DOCS = 0
    try:
        assert X._substring_shard_bounds(spark)[0] == 0
    finally:
        X._SUBSTRING_SHARD_DOCS = old


def test_substring_staged_twin_matches_inline_and_survives_sessions(
    spark, tmp_path, monkeypatch
):
    """R13 registration queue slot 2 (VERDICT r12 next-round #2): the
    staged substring dedup must be value-identical to the inline twin
    (shared _substring_coverage + the same mined runs), must NOT
    re-mine on a second call (the committed run table is the steady
    state), and must refuse a params/fingerprint-drifted table."""
    import json
    import os

    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    monkeypatch.setenv("LSDP_STAGE_DIR", str(tmp_path / "stage"))
    inline = {
        tuple(r) for r in X.doc_substring_dedup(spark, SF_SMALL).collect()
    }
    staged = {
        tuple(r)
        for r in X.doc_substring_dedup_staged(spark, SF_SMALL).collect()
    }
    assert staged == inline and staged
    # steady state: the second call reads the SAME committed table
    # (restage would rewrite the manifest — pin inode + mtime)
    path = os.path.join(
        X._durable_stage_root(),
        "substring_runs_k20_d50_o200_"
        + os.path.abspath(SF_SMALL).replace(os.sep, "_"),
    )
    mf = os.path.join(path, X._SUBSTRING_RUNS_MANIFEST)
    st0 = os.stat(mf)
    again = {
        tuple(r)
        for r in X.doc_substring_dedup_staged(spark, SF_SMALL).collect()
    }
    st1 = os.stat(mf)
    assert again == inline
    assert (st0.st_ino, st0.st_mtime_ns) == (st1.st_ino, st1.st_mtime_ns)
    # a params-drifted manifest raises instead of silently serving
    drifted = json.load(open(mf))
    drifted["k"] = 19
    with open(mf, "w") as fh:
        json.dump(drifted, fh)
    with pytest.raises(ValueError, match="restage before use"):
        X.read_staged_substring_runs(spark, path, 20, 50, 200)
    # and the gated entry point RESTAGES through the invalid manifest
    # (commit-marker contract) rather than raising
    refreshed = {
        tuple(r)
        for r in X.doc_substring_dedup_staged(spark, SF_SMALL).collect()
    }
    assert refreshed == inline


def test_substring_grouped_gram_staging_matches_single_pass(
    spark, tmp_path, monkeypatch
):
    """R13 disk-adaptive gram grouping: when the gram table would not
    fit local staging disk, shards stage+mine in groups (explode+md5
    re-paid per group, slices dropped between groups).  Group
    boundaries partition SHARD space, which partitions gram-key space,
    so the union of outputs must be value-identical to both the
    single-gram-table sharded flow and the single-plan path."""
    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    single = {
        tuple(r) for r in X.doc_substring_spans(spark, SF_SMALL).collect()
    }
    old = X._SUBSTRING_SHARD_DOCS
    X._SUBSTRING_SHARD_DOCS = 0  # force the sharded path
    # a FRESH durable root: the default one may already hold a
    # committed run table from the plain sharded twin test, which would
    # short-circuit this test before any grouped staging runs
    stage_root = str(tmp_path / "stage_grouped")
    monkeypatch.setenv("LSDP_STAGE_DIR", stage_root)
    spark.conf.set("spark.logistream.substring.gramGroups", "3")
    # and the run-assembly sub-split (the second r13 disk/heap bound):
    # (doc_a, doc_b) sub-hashing must never divide a window group
    spark.conf.set("spark.logistream.substring.runSubsplits", "2")
    try:
        grouped = {
            tuple(r)
            for r in X.doc_substring_spans(spark, SF_SMALL).collect()
        }
        # the grouped flow must actually have run: the transient gram
        # slices are dropped and no gram manifest is ever written
        import glob
        import os

        base = glob.glob(
            os.path.join(stage_root, "substring_shards_k20_*")
        )
        assert base, "sharded staging dir missing — grouping never ran"
        assert not glob.glob(os.path.join(base[0], "grams_g*")), (
            "transient group slices must be dropped"
        )
        assert not os.path.exists(
            os.path.join(base[0], X._SUBSTRING_GRAMS_MANIFEST)
        ), "grouped staging must not commit a gram manifest"
    finally:
        spark.conf.unset("spark.logistream.substring.gramGroups")
        spark.conf.unset("spark.logistream.substring.runSubsplits")
        X._SUBSTRING_SHARD_DOCS = old
    assert grouped == single and grouped


def test_substring_staged_impl_digest_gates_adoption(spark, tmp_path, monkeypatch):
    """R13 durable-base corollary: a committed run table outlives the
    code that built it, so the manifest embeds a source digest of the
    mining implementation — a table mined by an OLDER algorithm must
    restage on the next touch, never be silently adopted."""
    import json
    import os

    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    monkeypatch.setenv("LSDP_STAGE_DIR", str(tmp_path / "stage_impl"))
    X.doc_substring_dedup_staged(spark, SF_SMALL).count()
    path = os.path.join(
        X._durable_stage_root(),
        "substring_runs_k20_d50_o200_"
        + os.path.abspath(SF_SMALL).replace(os.sep, "_"),
    )
    assert X.staged_substring_runs_valid(path, 20, 50, 200)
    mf = os.path.join(path, X._SUBSTRING_RUNS_MANIFEST)
    manifest = json.load(open(mf))
    assert manifest["impl"] == X._substring_impl_digest()
    manifest["impl"] = "000000000000"  # an older algorithm's table
    with open(mf, "w") as fh:
        json.dump(manifest, fh)
    assert not X.staged_substring_runs_valid(path, 20, 50, 200)
    st0 = os.stat(mf)
    X.doc_substring_dedup_staged(spark, SF_SMALL).count()  # restages
    st1 = os.stat(mf)
    assert (st0.st_ino, st0.st_mtime_ns) != (st1.st_ino, st1.st_mtime_ns)
    assert json.load(open(mf))["impl"] == X._substring_impl_digest()


# -- round-14: staging-contract hardening (VERDICT r13 #2/#4/#6, ADVICE) -----


class _FakeConf:
    def __init__(self, d):
        self._d = d

    def get(self, k, default=None):
        return self._d.get(k, default)


class _FakeSpark:
    """Duck-typed stand-in for the conf/master surface
    ``_worker_heap_gib`` / ``_worker_task_slots`` read — lets the
    cluster branches be tested without launching a second JVM."""

    def __init__(self, master, conf=None):
        self.sparkContext = types.SimpleNamespace(master=master)
        self.conf = _FakeConf(conf or {})


def test_worker_heap_gib_excludes_local_cluster():
    """ADVICE r13: ``local-cluster[...]`` launches SEPARATE executor
    JVMs, so the driver Runtime misreports the worker heap there — it
    must fall through to the spark.executor.memory parse like any
    other cluster master."""
    from logistream_data_pipeline_aws_spark.plans import extensions as X

    fake = _FakeSpark(
        "local-cluster[2,4,2048]", {"spark.executor.memory": "2g"}
    )
    assert X._worker_heap_gib(fake) == 2.0
    # plain cluster masters parse executor memory with JavaUtils
    # semantics (suffix-less = MiB)
    assert X._worker_heap_gib(
        _FakeSpark("spark://host:7077", {"spark.executor.memory": "49152"})
    ) == 48.0
    # absent signal -> the 8 GiB reference point
    assert X._worker_heap_gib(_FakeSpark("yarn", {})) == 8.0


def test_worker_task_slots(spark):
    """VERDICT r13 "What's missing #3": the per-shard bound scales by
    heap per TASK SLOT — local masters parse the thread count, cluster
    masters read spark.executor.cores, and an absent signal returns
    the 32-slot anchor (no silent inflation)."""
    import os as _os

    from logistream_data_pipeline_aws_spark.plans import extensions as X

    assert X._worker_task_slots(spark) == 4  # conftest is local[4]
    assert X._worker_task_slots(_FakeSpark("local[7]")) == 7
    assert X._worker_task_slots(_FakeSpark("local[8,2]")) == 8
    assert X._worker_task_slots(_FakeSpark("local")) == (_os.cpu_count() or 32)
    assert X._worker_task_slots(_FakeSpark("local[*]")) == (_os.cpu_count() or 32)
    assert (
        X._worker_task_slots(
            _FakeSpark("spark://host:7077", {"spark.executor.cores": "16"})
        )
        == 16
    )
    # local-cluster is NOT local: executor cores, not the master string
    assert (
        X._worker_task_slots(
            _FakeSpark("local-cluster[2,4,2048]", {"spark.executor.cores": "4"})
        )
        == 4
    )
    assert X._worker_task_slots(_FakeSpark("yarn", {})) == 32


def test_substring_shard_bounds_many_cores_small_heap():
    """The VERDICT r13 #6 acceptance case: an executor with a small
    heap and MANY task slots holds more concurrent mining state per
    JVM, so the per-shard bound must shrink by the slot ratio while
    the single-plan (cache-footprint) bound tracks heap only."""
    from logistream_data_pipeline_aws_spark.plans import extensions as X

    fake = _FakeSpark(
        "spark://host:7077",
        {"spark.executor.memory": "4g", "spark.executor.cores": "64"},
    )
    sd, dps = X._substring_shard_bounds(fake)
    assert sd == max(int(150_000 * 4 / 8.0), 18_750)  # heap-only
    assert dps == max(int(750_000 * (4 / 48.0) * (32 / 64)), 15_625)
    # same heap, anchor slots: no slot scaling
    fake32 = _FakeSpark(
        "spark://host:7077",
        {"spark.executor.memory": "4g", "spark.executor.cores": "32"},
    )
    assert X._substring_shard_bounds(fake32)[1] == max(
        int(750_000 * 4 / 48.0), 15_625
    )


def test_reap_dead_stage_tmp_pid_reuse_and_foreign_hosts(tmp_path):
    """VERDICT r13 #2 + ADVICE r13 (medium): the reaper must (a) reap
    a same-host token whose pid is dead, (b) reap a same-host token
    whose pid is ALIVE but belongs to a different process (pid reuse —
    kernel start-time mismatch), (c) never touch a live same-host
    stager, and (d) never pid-probe a FOREIGN host's token — those
    reap only on heartbeat staleness."""
    import os as _os
    import subprocess
    import time as _time

    from logistream_data_pipeline_aws_spark.plans import extensions as X

    prefix = str(tmp_path / "pairs_d50_o200")
    live_token = X._stage_token()
    host = live_token.rsplit("-", 2)[0]

    def mk(name):
        d = f"{prefix}.tmp-{name}"
        _os.makedirs(d)
        return d

    live = mk(live_token)  # this very process: alive, correct start-time
    reused = mk(f"{host}-{_os.getpid()}-1")  # pid alive, WRONG start-time
    child = subprocess.Popen(["true"])
    child.wait()
    dead = mk(f"{host}-{child.pid}-12345")  # dead same-host pid
    foreign_fresh = mk("otherhost-1-999")
    X._touch_heartbeat(foreign_fresh)
    foreign_stale = mk("otherhost-2-999")
    X._touch_heartbeat(foreign_stale)
    old = _time.time() - X._stage_tmp_stale_s() - 60
    _os.utime(_os.path.join(foreign_stale, ".heartbeat"), (old, old))
    _os.utime(foreign_stale, (old, old))
    legacy_fresh = mk(str(child.pid))  # legacy bare-pid name, fresh mtime
    X._reap_dead_stage_tmp(prefix)
    assert _os.path.isdir(live), "live same-host stager must survive"
    assert not _os.path.isdir(reused), "pid-reuse orphan must be reaped"
    assert not _os.path.isdir(dead), "dead-pid orphan must be reaped"
    assert _os.path.isdir(foreign_fresh), (
        "a foreign host's live (fresh-heartbeat) stage must survive — "
        "its pid number means nothing on this host"
    )
    assert not _os.path.isdir(foreign_stale), (
        "a foreign host's stale-heartbeat orphan must be reaped"
    )
    assert _os.path.isdir(legacy_fresh), (
        "legacy bare-pid dirs reap on staleness only (the pid could be "
        "a foreign stager's)"
    )


def test_reap_covers_grouped_gram_slices(tmp_path):
    """ADVICE r13: crashed grouped-staging gram slices — the largest
    transient artifact class on the durable base — now follow the same
    ``.tmp-<token>`` convention and are reaped as a family."""
    import os as _os
    import subprocess

    from logistream_data_pipeline_aws_spark.plans import extensions as X

    gram_path = str(tmp_path / "grams")
    child = subprocess.Popen(["true"])
    child.wait()
    host = X._stage_token().rsplit("-", 2)[0]
    orphan = f"{gram_path}_g0.tmp-{host}-{child.pid}-12345"
    _os.makedirs(orphan)
    mine = f"{gram_path}_g4.tmp-{X._stage_token()}"
    _os.makedirs(mine)
    X._reap_dead_stage_tmp(gram_path + "_g*")
    assert not _os.path.isdir(orphan)
    assert _os.path.isdir(mine)


def test_retire_superseded_stage_variants(tmp_path):
    """VERDICT r13 #4: superseded-params variants on the durable base
    are reclaimed with a retired.json audit record; the current
    variant, private tmp dirs, and fresh uncommitted dirs survive."""
    import json
    import os as _os
    import time as _time

    from logistream_data_pipeline_aws_spark.plans import extensions as X

    base = str(tmp_path)

    def mk(name, manifest=None):
        d = _os.path.join(base, name)
        _os.makedirs(d)
        if manifest is not None:
            with open(d + ".manifest.json", "w") as fh:
                json.dump(manifest, fh)
        return d

    current = mk("runs_d50_o200", {"k": 20, "max_gram_docs": 50})
    stale = mk("runs_d40_o100", {"k": 20, "max_gram_docs": 40})
    tmp_live = mk(f"runs_d30_o100.tmp-{X._stage_token()}")
    uncommitted_fresh = mk("pairs_d40_o100")
    uncommitted_stale = mk("pairs_d30_o100")
    old = _time.time() - X._stage_tmp_stale_s() - 60
    _os.utime(uncommitted_stale, (old, old))
    gone = X._retire_superseded_stage_variants(
        base,
        ["runs_d*_o*", "pairs_d*_o*"],
        keep={current},
        reason="superseded by runs_d50_o200",
    )
    assert _os.path.isdir(current)
    assert _os.path.isdir(tmp_live), "tmp dirs belong to the crash reaper"
    assert _os.path.isdir(uncommitted_fresh), (
        "a fresh manifest-less dir may be a concurrent stager between "
        "rename and manifest write"
    )
    assert not _os.path.isdir(stale)
    assert not _os.path.exists(stale + ".manifest.json")
    assert not _os.path.isdir(uncommitted_stale)
    ledger = json.load(open(_os.path.join(base, "retired.json")))
    assert {e["path"] for e in ledger} == {
        "runs_d40_o100", "pairs_d30_o100"
    }
    assert all(e["reason"] == "superseded by runs_d50_o200" for e in ledger)
    assert sorted(_os.path.basename(p) for p in gone) == [
        "pairs_d30_o100", "runs_d40_o100"
    ]


def test_substring_staged_survives_heap_drift(spark, tmp_path, monkeypatch):
    """The VERDICT r13 #2 acceptance: a committed sharded run table
    staged under one heap geometry (n_shards is heap-derived) must be
    ADOPTED WITHOUT RESTAGE by a session with a different heap —
    n_shards is a layout fact of the gram/pair stages, not a content
    param of the runs — and the adopted result must equal the
    single-plan answer."""
    import glob
    import os as _os

    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from tests.conftest import SF_SMALL

    single = {
        tuple(r) for r in X.doc_substring_spans(spark, SF_SMALL).collect()
    }
    stage_root = str(tmp_path / "stage_heapdrift")
    monkeypatch.setenv("LSDP_STAGE_DIR", stage_root)
    monkeypatch.setattr(X, "_SUBSTRING_SHARD_DOCS", 0)  # force sharded
    # stager session: a narrow per-shard budget -> MANY pshards
    spark.conf.set("spark.logistream.substring.docsPerShard", "15")
    try:
        staged_a = {
            tuple(r)
            for r in X.doc_substring_spans(spark, SF_SMALL).collect()
        }
    finally:
        spark.conf.unset("spark.logistream.substring.docsPerShard")
    assert staged_a == single
    base = glob.glob(_os.path.join(stage_root, "substring_shards_k20_*"))[0]
    runs = [
        p for p in glob.glob(_os.path.join(base, "runs_d*_o*"))
        if _os.path.isdir(p)
    ]
    assert len(runs) == 1
    mf = runs[0] + ".manifest.json"
    st0 = _os.stat(mf)
    # adopting session: a different heap -> a different derived
    # n_shards (the default derivation, no conf override).  Before the
    # r14 split this failed manifest validation and re-paid the full
    # mining; now the committed runs serve directly.
    monkeypatch.setattr(X, "_worker_heap_gib", lambda _s: 48.0)
    staged_b = {
        tuple(r) for r in X.doc_substring_spans(spark, SF_SMALL).collect()
    }
    st1 = _os.stat(mf)
    assert staged_b == single
    assert (st0.st_ino, st0.st_mtime_ns) == (st1.st_ino, st1.st_mtime_ns), (
        "heap drift must not restage a committed run table"
    )


def test_literal_argmin_matches_distributed_paths(spark):
    """R15 (VERDICT r14 #1): the k-gated driver-literal centroid argmin
    must be row-identical — d2 doubles included — to the distributed
    aggregate path on every k-means consumer, and its assign must plan
    with NO aggregate/join machinery (the exchange-free projection is
    the whole point).  Both strategies stay pinned here the way the CC
    driver union-find is pinned against the distributed loop."""
    import random

    from logistream_data_pipeline_aws_spark.operators import pq as PQ

    rng = random.Random(1542)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(300)
    ] + [(300, None)]  # NULL vector exercises the gate
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    base = emb.where(F.col("vec_id") % 2 == 0)
    shard = emb.where(F.col("vec_id") % 2 == 1)

    cases = {
        "kmeans": lambda: S.ivf_kmeans_assign(
            emb, "vec_id", "embedding", k=6, iters=2
        ),
        "incremental": lambda: S.ivf_incremental_assign(
            base, shard, "vec_id", "embedding", k=5, iters=2
        ),
        "kcenter": lambda: S.kcenter_coreset(emb, "vec_id", "embedding", k=7),
        "pq_codes": lambda: PQ.pq_codes(
            emb, "vec_id", "embedding", 16, m=4, k=6, iters=2
        )[0],
        "ivf_pq": lambda: PQ.ivf_pq_topk(
            emb, "vec_id", "embedding", 16, n_lists=4, nprobe=2
        ),
    }
    gate_key = "lsdp.similarity.argmin.driverLiteralMaxK"
    try:
        for name, fn in cases.items():
            spark.conf.set(gate_key, "64")
            lit = sorted(tuple(r) for r in fn().collect())
            spark.conf.set(gate_key, "0")
            dist = sorted(tuple(r) for r in fn().collect())
            assert lit == dist and lit, name
    finally:
        spark.conf.unset(gate_key)
    # plan shape: the literal kmeans assign is a pure projection — no
    # aggregate, no join, no window anywhere in the physical plan
    plan = (
        cases["kmeans"]()._jdf.queryExecution().executedPlan().toString()
    )
    for node in ("HashAggregate", "Join", "Window", "Exchange hashpartitioning"):
        assert node not in plan, (node, plan)
