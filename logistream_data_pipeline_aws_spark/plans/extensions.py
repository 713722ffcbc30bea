"""Training-data pipeline queries over documents / embeddings / events
(SURVEY §7 phase X): the dedup family, similarity search, text analysis,
multimodal metadata, and JSON extraction — each with an exact DuckDB
oracle (md5-based hashing + left-fold vector math keep every engine
bit-identical)."""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logistream_data_pipeline_aws_spark.catalog import load_table
from logistream_data_pipeline_aws_spark.functions.text import (
    STOPWORDS,
    fingerprint,
    quality_score,
    regex_token_count,
    stopword_hits,
    token_count,
    tokens,
    word_shingles,
)
from logistream_data_pipeline_aws_spark.operators import dedup_family as D
from logistream_data_pipeline_aws_spark.operators import similarity as S
from logistream_data_pipeline_aws_spark.operators.fixed_point import iterate
from logistream_data_pipeline_aws_spark.staging import release, stage


# -- dedup family -----------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return D.exact_duplicates(docs, "doc_id", "text")


def _staged_minhash_sigs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, bool]:
    """The materialized signature staging table (the shape
    minhash_near_duplicates' docstring prescribes at warehouse scale):
    tokenize/shingle/hash runs once per (session, corpus) and every
    minhash consumer — pair mining, clustering, survivor application —
    reads the persisted frame.  Value: (signature frame, big_corpus
    flag) — the flag gates minhash_near_duplicates' merge-join
    insurance exactly like the prefix-filter item-set stage gates
    prefer_merge."""

    def build() -> tuple[DataFrame, bool]:
        docs = load_table(spark, "documents", sf_dir)
        # one metadata-count job per (session, sf_dir): above the
        # threshold the verify joins keep the sort-merge insurance, and
        # the signature stage switches to the Arrow-batched vectorized
        # twin (bit-identical values; the inline HOF path runs md5 + the
        # 12 permutations interpreted — 948 s of the 1000x probe's first
        # run was this stage).  Below it the JVM-only path avoids the
        # Python-worker round trip on small corpora.
        big = docs.count() > 100_000
        sign = D.minhash_signatures_vectorized if big else D.minhash_signatures
        return sign(docs, "doc_id", "text", k_shingle=3, n_hashes=12).persist(), big

    return stage(spark, sf_dir, "minhash_sigs", build)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    sigs, big = _staged_minhash_sigs(spark, sf_dir)
    return D.minhash_near_duplicates(
        docs, "doc_id", "text", k_shingle=3, n_hashes=12, bands=4, threshold=0.2,
        sigs=sigs, prefer_merge=big,
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return D.simhash_fingerprints(docs, "doc_id", "text", n_bits=28)


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    fps = D.simhash_fingerprints(docs, "doc_id", "text", n_bits=28)
    return D.simhash_near_duplicates(fps, n_bits=28, bands=4, max_hamming=3)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O(block²) exact-Jaccard dedup under the composed blocking key
    (lang × 64-char length bucket × source): ``source`` alone has fixed
    cardinality so its blocks grow linearly with the corpus; the composed
    key keeps blocks tied to actual near-dup candidates and
    ``bounded_blocks`` hard-caps whatever remains."""
    docs = load_table(spark, "documents", sf_dir)
    return D.ngram_jaccard_pairs(
        docs, "doc_id", "text",
        block_col=D.composed_block_key(),
        k_shingle=3, threshold=0.2,
    )


def _staged_near_dup_comps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's minhash near-dup connected components, built ONCE
    per (session, corpus) — the signature-staging convention applied to
    the cluster labels (r15).  Mining the banded pairs and closing them
    into components is a per-CORPUS cost in a real pipeline (cluster
    assignments are reused by every downstream consumer), but the
    driver union-find path executes the mining at plan-CONSTRUCTION
    time (it collects the edge list), so every consumer call — three
    registered operators plus the composed pipeline's stitch — was
    re-paying the full mining wall (~2.5-3.5 s of corpus_dedup_
    pipeline's 7.8 s at sf0.1) before this stage.  The returned frame
    is the CC output (id, cluster_id); values are what the per-call
    build produced, by construction."""

    def build() -> DataFrame:
        docs = load_table(spark, "documents", sf_dir)
        sigs, big = _staged_minhash_sigs(spark, sf_dir)
        pairs = D.minhash_near_duplicates(
            docs, "doc_id", "text", k_shingle=3, n_hashes=12, bands=4,
            threshold=0.2, sigs=sigs, prefer_merge=big,
        )
        return D.connected_components(
            docs.select(F.col("doc_id").alias("id")),
            pairs.select("id_a", "id_b"),
        )

    return stage(spark, sf_dir, "near_dup_comps", build)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: minhash-LSH pairs -> connected components ->
    one row per document with its cluster id (= the minimum doc_id
    reachable through near-dup edges; singletons keep their own id).
    The oracle computes the same closure with a recursive CTE."""
    comps = _staged_near_dup_comps(spark, sf_dir)
    return comps.select(
        F.col("id").alias("doc_id"), F.col("cluster_id").cast("long")
    )


def dedup_near_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup APPLICATION pipeline — mine pairs (minhash-LSH),
    form clusters (connected components), keep exactly one document per
    cluster (the minimum id, which IS the cluster label), and semi-join
    the corpus down to survivors.  This is the operator an LLM data
    pipeline actually runs; `dedup_minhash_lsh`/`dedup_clusters` verify
    its stages, this verifies the composition."""
    docs = load_table(spark, "documents", sf_dir)
    comps = _staged_near_dup_comps(spark, sf_dir)
    keeps = comps.where(F.col("id") == F.col("cluster_id")).select(
        F.col("id").alias("doc_id")
    )
    return docs.join(keeps, "doc_id", "left_semi").select(
        "doc_id", "lang", "source", "n_chars"
    )


def _staged_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding analog of the minhash signature staging table: the
    (id, vector, L2 norm) frame is scanned + norm-folded once per
    (session, corpus) and persisted; every embedding consumer reads the
    staged frame instead of re-deriving norms from parquet per call."""
    from logistream_data_pipeline_aws_spark.functions.vectors import norm

    return stage(
        spark, sf_dir, "embedding_norms",
        lambda: load_table(spark, "embeddings", sf_dir)
        .select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
        .withColumn("_n", norm(F.col("_v")))
        .persist(),
    )


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via banded sign-LSH + exact-cosine verify — the
    scale path (equi-join plan, never all-pairs); the brute-force exact
    form stays as the recall reference in tests.  Threshold 0.4 keeps a
    non-trivial result on the near-random fixture vectors (real corpora
    dedup at >= 0.9, where the 8x8 banding's recall is ~99.7%)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return D.embedding_near_duplicates_lsh(
        emb, "vec_id", "embedding", threshold=0.4, band_bits=8, n_bands=8,
        withn=_staged_embedding_norms(spark, sf_dir),
    )


def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply exact dedup: keep only the surviving row per content group
    via LEFT SEMI join against the keep-ids (and the dropped rows would
    be the LEFT ANTI complement).  Semi/anti joins are how dedup results
    get *applied* to a corpus at scale — no row payload crosses the
    shuffle, just the keys."""
    docs = load_table(spark, "documents", sf_dir)
    keeps = D.exact_duplicates(docs, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    return (
        docs.join(keeps, "doc_id", "left_semi")
        .select("doc_id", "lang", "source", "n_chars")
    )


def dedup_dropped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LEFT ANTI complement of ``dedup_survivors``: the rows exact
    dedup *removes* from the corpus.  Same keys-only shuffle discipline —
    at 100 TB you materialize the dropped set for audit/attribution
    (which sources contribute the duplicate mass) without ever moving row
    payloads, and semi ∪ anti partitions the corpus exactly."""
    docs = load_table(spark, "documents", sf_dir)
    keeps = D.exact_duplicates(docs, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    return (
        docs.join(keeps, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
    )


def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup by edit distance on normalized text prefixes, under
    the composed blocking key (lang × length-bucket × source — same
    O(block²) discipline and hard block-size bound as ngram_jaccard;
    levenshtein is quadratic per pair, so the 32-char prefix caps the
    per-pair cost too)."""
    docs = load_table(spark, "documents", sf_dir)
    from logistream_data_pipeline_aws_spark.functions.text import normalized_text

    base = docs.select(
        "doc_id",
        D.composed_block_key().alias("block"),
        F.substring(normalized_text("text"), 1, 32).alias("prefix"),
    )
    base = D.bounded_blocks(base, metric_name="fuzzy_block_cap")
    a = base.select(F.col("block"), F.col("doc_id").alias("id_a"), F.col("prefix").alias("p_a"))
    b = base.select(F.col("block"), F.col("doc_id").alias("id_b"), F.col("prefix").alias("p_b"))
    return (
        a.join(b, "block")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "block", "id_a", "id_b",
            F.levenshtein("p_a", "p_b").cast("int").alias("edit_distance"),
        )
        .where(F.col("edit_distance") <= 8)
    )


def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (the BI 'p50/p90
    latency' shape).  Exact percentile needs a per-group sort — at 100 TB
    use ``events_value_quantiles_approx`` below (KLL sketch, map-side
    combinable); this exact form is the oracle-checkable baseline, and
    the registered ``events_sketch_profile`` entry pins the sketch
    accuracy for this family with in-plan verdicts."""
    events = load_table(spark, "events", sf_dir)
    return (
        events.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("event_type", "p50", "p90", "n_events")
    )


def events_value_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB production form of the per-type percentile profile:
    ``approx_percentile`` at accuracy 10000 (<= 1e-4 rank error; a
    fixed-size mergeable sketch per group instead of the exact form's
    per-group value buffer).  Same schema as the exact baseline.
    Accuracy is pinned two ways: the registered ``events_sketch_profile``
    verdict entry (driver-checked) and the tolerance test in
    tests/test_extensions.py."""
    events = load_table(spark, "events", sf_dir)
    return (
        events.groupBy("event_type")
        .agg(
            F.expr("approx_percentile(value, array(0.5, 0.9), 10000)").alias("q"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            F.col("q")[0].alias("p50"),
            F.col("q")[1].alias("p90"),
            "n_events",
        )
    )


# -- similarity search ------------------------------------------------------


def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") < 10)
    return S.brute_force_topk(queries, emb, "vec_id", "embedding", k=5)


def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") < 10)
    # 4 sign bits -> 16 buckets: sized so each bucket holds enough of the
    # 500-vector fixture to make top-5 meaningful; at corpus scale raise
    # n_bits so bucket size stays roughly constant (buckets ~= 2^n_bits).
    return S.ann_topk(queries, emb, "vec_id", "embedding", k=5, n_bits=4)


def similarity_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe variant of the sign-bucket ANN: each query also probes
    the n_bits buckets one sign-flip away, trading a small query-side
    fan-out for recall (candidates remain an equi-join on bucket)."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") < 10)
    return S.ann_topk(
        queries, emb, "vec_id", "embedding", k=5, n_bits=4, multiprobe=True
    )


def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector array statistics (L2 norm, min/max/mean element) via
    higher-order functions — all left-fold/deterministic, no UDF; the
    sanity-profile pass a vector pipeline runs before indexing."""
    from logistream_data_pipeline_aws_spark.functions.vectors import dot

    emb = load_table(spark, "embeddings", sf_dir)
    e = F.col("embedding")
    as_double = F.transform(e, lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        "label",
        F.size(e).alias("dim"),
        F.round(F.sqrt(dot(e, e)), 6).alias("l2_norm"),
        F.round(F.array_min(as_double), 6).alias("min_val"),
        F.round(F.array_max(as_double), 6).alias("max_val"),
        F.round(
            F.aggregate(as_double, F.lit(0.0), lambda a, x: a + x) / F.size(e),
            6,
        ).alias("mean_val"),
    )


def embedding_centered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean-centering via grouped ``applyInPandas`` — the
    whole-group-context Arrow shape, driver-verified: output is flattened
    to (vec_id, label, dim index, centered value) so the oracle compares
    scalars, and the group mean follows the deterministic decimal-sum
    contract (see operators.similarity.center_embeddings_by_group).

    Vector-less rows cannot be centered (np.stack would throw in the
    Arrow batch) and a NULL label keys a group on an unknown entity the
    oracle's equi-join drops — both gated engine-side, mirroring the
    oracle (the embeddings NULL-probe axis caught both shapes; real
    feeds carry neither, so the gate is bit-neutral on the driver's
    data)."""
    emb = load_table(spark, "embeddings", sf_dir).where(
        F.col("embedding").isNotNull() & F.col("label").isNotNull()
    )
    centered = S.center_embeddings_by_group(emb, "label", "vec_id", "embedding")
    return centered.select(
        "vec_id",
        "label",
        F.posexplode("centered").alias("_i0", "_c"),
    ).select(
        "vec_id",
        "label",
        (F.col("_i0") + 1).cast("int").alias("dim_i"),
        F.round("_c", 6).alias("centered_val"),
    )


def media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing over binary payloads (one row per sampled
    byte offset) — the multimodal explode path with an exact oracle."""
    from logistream_data_pipeline_aws_spark.operators.multimodal import sample_frames

    docs = load_table(spark, "documents", sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload")
    )
    return sample_frames(media, every_n_bytes=64)


def events_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful streaming operator as a driver-checkable query:
    ``applyInPandasWithState`` sessionization drained via availableNow.

    A single-file source is ONE micro-batch processed in event-time order,
    so exactly the non-final session of every user closes and is emitted —
    the oracle is the batch gaps-and-islands SQL minus each user's last
    session.  ``total_value`` is excluded (its in-order float accumulation
    has no order-independent SQL mirror); boundaries and counts are exact.
    """
    from logistream_data_pipeline_aws_spark.catalog import events_stream
    from logistream_data_pipeline_aws_spark.streaming.pipeline import (
        run_available_now,
        sessionize,
    )

    name = "events_stream_sessions_sink"
    with events_stream(spark, sf_dir) as stream:
        run_available_now(sessionize(stream), name, output_mode="append")
    return spark.table(name).select(
        "user_id", "session_start", "session_end", "n_events"
    )


def events_stream_sessions_flushed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The live-deployment sessionizer: ``flush_idle=True`` layers an
    EventTimeTimeout at ``session_end + gap`` on the stateful operator,
    so idle sessions are emitted once the watermark proves no non-late
    event can extend them (state bounded by ACTIVE users, not all-time).

    Deterministic under availableNow: the single-file source is one
    data micro-batch (watermark still at zero, so only gap-closed
    sessions emit there), then Spark's final no-data batch advances the
    watermark to ``floor_ms(max ts) - 2h`` and fires every timeout
    STRICTLY below it (boundary pinned by test: timeout == watermark
    does NOT fire).  Oracle: gaps-and-islands sessions where the
    session is non-final for its user OR its timeout
    ``(end + 30min) * 1000 ms`` is strictly below the final watermark.
    ``total_value`` is excluded like the base entry (in-order float
    accumulation has no order-independent SQL mirror)."""
    from logistream_data_pipeline_aws_spark.catalog import events_stream
    from logistream_data_pipeline_aws_spark.streaming.pipeline import (
        run_available_now,
        sessionize,
    )

    name = "events_stream_sessions_flushed_sink"
    with events_stream(spark, sf_dir) as stream:
        run_available_now(
            sessionize(stream, flush_idle=True), name, output_mode="append"
        )
    return spark.table(name).select(
        "user_id", "session_start", "session_end", "n_events"
    )


def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic pretraining corpus filter chain, composed from the
    text-analysis signals: keep documents whose heuristic quality
    (``functions.text.quality_score``) is at least 0.5, whose
    stopword-predicted language (``lang_id``'s rule) matches the tagged
    one, and whose token count is in [8, 512].  NULL text is dropped.

    One ``mapInPandas`` kernel: each document is tokenized once per
    Arrow batch, and the token count, quality, the four stopword hit
    counts and the predicted language all derive from that one pass.
    Column expressions would re-split the text once per consumer in
    interpreted higher-order lambdas, which get no codegen and no
    common-subexpression elimination.  Tokenization is Spark's
    ``split(trim(text), '\\s+')``: trim strips 0x20 only, the split
    class is ``[ \\t\\n\\x0b\\f\\r]+`` with Java's keep-empty
    semantics (``re.split`` matches), and empty text yields ``[""]``.
    Quality rounds HALF_UP to 6 dp, as ``F.round`` does.

    Scale shape: a pure map behind the CPU-stage round-robin
    repartition (``parallelize_cpu_stage``: small parquet files scan as
    one partition); no aggregation, no other exchange."""
    from logistream_data_pipeline_aws_spark.operators.dedup_family import (
        parallelize_cpu_stage,
    )

    docs = parallelize_cpu_stage(
        load_table(spark, "documents", sf_dir).select(
            "doc_id", "lang", "source", "text"
        )
    )
    sws = {lg: frozenset(ws) for lg, ws in STOPWORDS.items()}
    schema = (
        "doc_id bigint, lang string, source string, "
        "n_tokens bigint, quality double, predicted_lang string"
    )

    def run(batches):
        import math
        import re

        import pandas as pd

        # once per task: compiled ASCII-\s splitter and the
        # four stopword sets
        tok_re = re.compile(r"[ \t\n\x0b\f\r]+")
        en, de, es, fr = (sws[lg] for lg in ("en", "de", "es", "fr"))
        for pdf in batches:
            pdf = pdf[pdf["text"].notna()]
            if not len(pdf):
                continue
            out_rows = []
            for doc_id, lang, source, text in zip(
                pdf["doc_id"], pdf["lang"], pdf["source"], pdf["text"]
            ):
                toks = tok_re.split(text.strip(" "))
                n = len(toks)
                if not (8 <= n <= 512):
                    continue
                alpha = 0
                e = d = s_ = f_ = 0
                for x in toks:
                    if x.isalpha() and x.isascii():
                        alpha += 1
                    lx = x.lower()
                    if lx in en:
                        e += 1
                    if lx in de:
                        d += 1
                    if lx in es:
                        s_ += 1
                    if lx in fr:
                        f_ += 1
                raw = min(n / 64.0, 1.0) * (
                    0.5 + 0.3 * (alpha / n) + 0.2 * min(e / 4.0, 1.0)
                )
                quality = math.floor(raw * 1e6 + 0.5) / 1e6
                if quality < 0.5:
                    continue
                if e >= d and e >= s_ and e >= f_:
                    pred = "en"
                elif d >= s_ and d >= f_:
                    pred = "de"
                elif s_ >= f_:
                    pred = "es"
                else:
                    pred = "fr"
                if pred != lang:
                    continue
                out_rows.append((doc_id, lang, source, n, quality, pred))
            if out_rows:
                yield pd.DataFrame(
                    out_rows,
                    columns=[
                        "doc_id", "lang", "source",
                        "n_tokens", "quality", "predicted_lang",
                    ],
                )

    return docs.mapInPandas(run, schema)


def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition scoring — the quality signal that catches boilerplate
    and degenerate generations: per document, the most frequent word
    3-gram's share of all (non-distinct) 3-grams.  explode + two
    aggregations, map-side combinable; docs shorter than 3 tokens are
    excluded (no 3-grams)."""
    docs = load_table(spark, "documents", sf_dir)
    tok = tokens(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(0), F.size(tok) - 3),
        lambda i: F.array_join(F.slice(tok, i + 1, 3), " "),
    )
    from logistream_data_pipeline_aws_spark.functions.arrays import explode_once
    from logistream_data_pipeline_aws_spark.operators.dedup_family import (
        parallelize_cpu_stage,
    )

    # cheap pre-filter, then explode_once so the generator's inferred
    # size filter can't re-evaluate the gram build inside the scan
    ex = explode_once(
        parallelize_cpu_stage(
            docs.where(F.size(tokens(F.col("text"))) >= 3).select("doc_id", "text")
        ),
        grams,
        "gram",
        "doc_id",
    )
    per_gram = ex.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_gram.groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_grams"),
            F.max("n").alias("max_gram_freq"),
        )
        .select(
            "doc_id",
            "n_grams",
            "max_gram_freq",
            F.round(F.col("max_gram_freq") / F.col("n_grams"), 6).alias("repetition_ratio"),
        )
    )


def corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-length histogram with per-bucket mean quality — the
    profile pass that decides filter thresholds.  Mean quality goes
    through the decimal-sum contract so it is order-independent."""
    docs = load_table(spark, "documents", sf_dir)
    n_tok = token_count("text")
    return (
        docs.select(
            (F.floor(n_tok / 32) * 32).cast("long").alias("token_bucket"),
            quality_score("text").alias("q"),
        )
        .groupBy("token_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (
                F.sum(F.col("q").cast("decimal(30,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_quality"),
        )
        .select("token_bucket", "n_docs", F.round("mean_quality", 6).alias("mean_quality"))
    )


# -- text analysis ----------------------------------------------------------


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        regex_token_count("text").alias("n_regex_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
        quality_score("text").alias("quality"),
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    tok = tokens(F.col("text"))
    hits = {lg: stopword_hits(tok, lg).alias(f"hits_{lg}") for lg in STOPWORDS}
    out = docs.select("doc_id", "lang", *hits.values())
    e, d, s, f_ = (F.col(f"hits_{lg}") for lg in ("en", "de", "es", "fr"))
    predicted = (
        F.when((e >= d) & (e >= s) & (e >= f_), "en")
        .when((d >= s) & (d >= f_), "de")
        .when(s >= f_, "es")
        .otherwise("fr")
    )
    return out.select(
        "doc_id", "lang", "hits_en", "hits_de", "hits_es", "hits_fr",
        predicted.alias("predicted_lang"),
    )


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select("doc_id", fingerprint("text").alias("fp"))


def tfidf_top_terms(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """TF-IDF scoring, expressed relationally (explode -> term counts ->
    document frequency -> idf join -> windowed top-k per doc).

    Deliberately NOT ml.feature.HashingTF: hashing TF buckets by murmur3
    (engine-specific, collision-lossy); the relational form is exact,
    oracle-checkable, and at scale is two shuffles (doc-term counts, term
    df) + a broadcast idf join — all skew-free because term frequencies
    are Zipfian but the doc-term key is compound."""
    from pyspark.sql import Window

    from logistream_data_pipeline_aws_spark.functions.text import tokens

    docs = load_table(spark, "documents", sf_dir)
    # N (corpus size) folds in as a broadcast 1-row aggregate — no action at
    # plan-construction time, the whole query stays one lazy job
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    terms = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = terms.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    idf = (
        df_.crossJoin(F.broadcast(n_docs))
        .withColumn(
            "idf",
            F.round(F.log((F.col("_n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0, 6),
        )
        .drop("_n_docs")
    )
    scored = tf.join(F.broadcast(idf), "term").withColumn(
        "tfidf", F.round(F.col("tf") * F.col("idf"), 6)
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", F.col("tf").alias("term_freq"), "tfidf", "rank")
    )


def similarity_ivf(spark: SparkSession, sf_dir: str, n_centroids: int = 8, k: int = 5) -> DataFrame:
    """IVF-style ANN: partition the corpus into inverted lists by nearest
    centroid, probe only the query's list.

    Centroids are the first ``n_centroids`` vectors by id — a
    deterministic seeding (real IVF runs k-means; the *index structure*
    — assignment pass + per-list probe — is identical, and determinism
    is what makes the oracle exact).  At scale: centroid assignment is a
    broadcast cross-score (corpus x tiny centroid set, map-side), lists
    are the shuffle key, each probe touches one list."""
    from pyspark.sql import Window

    from logistream_data_pipeline_aws_spark.functions.vectors import dot

    emb = load_table(spark, "embeddings", sf_dir)
    cents = emb.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )

    from logistream_data_pipeline_aws_spark.functions.vectors import norm

    def assign(df: DataFrame, id_out: str, vec_out: str, n_out: str) -> DataFrame:
        scored = df.crossJoin(F.broadcast(cents)).select(
            F.col("vec_id").alias(id_out),
            F.col("embedding").alias(vec_out),
            "cent_id",
            dot(F.col("embedding"), F.col("cent_vec")).alias("_sim"),
        )
        w = Window.partitionBy(id_out).orderBy(F.col("_sim").desc(), F.col("cent_id"))
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            # norm once per vector, after the assignment dedup
            .select(
                id_out, vec_out, norm(F.col(vec_out)).alias(n_out),
                F.col("cent_id").alias("list_id"),
            )
        )

    corpus = assign(emb, "candidate_id", "c_vec", "c_n")
    queries = assign(emb.where(F.col("vec_id") < 10), "query_id", "q_vec", "q_n")
    from logistream_data_pipeline_aws_spark.functions.vectors import cosine_with_norms
    from logistream_data_pipeline_aws_spark.operators.similarity import _topk

    scored = (
        queries.join(corpus, "list_id")
        .where(F.col("query_id") != F.col("candidate_id"))
        .select(
            "query_id",
            "candidate_id",
            F.round(
                cosine_with_norms(
                    F.col("q_vec"), F.col("c_vec"), F.col("q_n"), F.col("c_n")
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    return _topk(scored, k)


def events_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every event, the most recent purchase at-or-before
    it by the same user (merge-based one-pass join; DuckDB mirrors it
    with a native ASOF JOIN).  Timestamps truncated to seconds for
    cross-engine exactness.  NULL timestamps are excluded: a timeless
    event has no "as of" point, and the engines walk NULLs from
    opposite ends of the merge order; NULL users are excluded likewise —
    Spark's partition-based merge groups NULL keys together where an
    equi-ASOF never matches them (NULL-degenerate probe findings)."""
    from logistream_data_pipeline_aws_spark.operators.asof import as_of_join

    events = load_table(spark, "events", sf_dir).where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    base = events.select(
        "event_id", "user_id", F.date_trunc("second", "ts").alias("ts_s"), "event_type"
    )
    purchases = base.where(F.col("event_type") == "purchase").select(
        "user_id", "ts_s", F.col("ts_s").alias("purchase_ts")
    )
    joined = as_of_join(
        base.select("event_id", "user_id", "ts_s"),
        purchases,
        on=["user_id"],
        left_ts="ts_s",
        right_ts="ts_s",
        right_vals=["purchase_ts"],
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts_s",
        "asof_purchase_ts",
        (F.unix_timestamp("ts_s") - F.unix_timestamp("asof_purchase_ts"))
        .cast("long")
        .alias("secs_since_purchase"),
    )


def events_lookback_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: per event, how many earlier events the same user fired
    in the preceding hour — equality on user keeps it a hash join, the
    time band is the join residual (never a nested loop)."""
    from logistream_data_pipeline_aws_spark.operators.asof import range_join

    events = load_table(spark, "events", sf_dir)
    base = events.select("event_id", "user_id", F.date_trunc("second", "ts").alias("ts_s"))
    l = base.select(
        F.col("event_id"), F.col("user_id"), F.col("ts_s")
    )
    r = base.select(
        F.col("event_id").alias("r_event_id"),
        F.col("user_id").alias("r_user_id"),
        F.col("ts_s").alias("r_ts"),
    )
    band = (F.col("r_ts") >= F.col("ts_s") - F.expr("INTERVAL 1 HOUR")) & (
        F.col("r_ts") < F.col("ts_s")
    )
    joined = range_join(
        l, r.withColumnRenamed("r_user_id", "user_id"), on=["user_id"], band=band, how="left"
    )
    return (
        joined.groupBy("event_id", l.user_id.alias("user_id"), "ts_s")
        .agg(F.count("r_event_id").alias("n_prior_events_1h"))
        .select("event_id", "user_id", "ts_s", "n_prior_events_1h")
    )


def events_multigrain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: one pass produces
    the (day, hour) grain, the day grain, and the grand total via ROLLUP
    grouping sets — the materialization feeding a time-series dashboard's
    zoom levels.  At scale this is the layered downsampling pattern:
    partial aggregation combines map-side, and each coarser grain reads
    the finer one for free inside the same shuffle."""
    events = load_table(spark, "events", sf_dir)
    return (
        events.select(
            F.date_trunc("day", "ts").alias("day"),
            F.date_trunc("hour", "ts").alias("hour"),
            "value",
        )
        .rollup("day", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("total_value"),
        )
        .select("day", "hour", "n_events", "total_value")
    )


def events_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the actual 100 TB form of distinct counts and
    percentiles: HyperLogLog++ (approx_count_distinct) and t-digest-style
    approx_percentile are map-side combinable, fixed-memory, one-pass.

    No DuckDB oracle on purpose: sketches are engine-specific estimates;
    tests/test_extensions.py pins the estimates within tolerance of the
    exact values.  The driver-registered entry is
    ``events_sketch_profile_checked`` below, which folds that tolerance
    check into the plan itself so the driver records a full
    rows+schema+hash pass."""
    events = load_table(spark, "events", sf_dir)
    return (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.expr("approx_percentile(value, array(0.5, 0.9), 10000)").alias("approx_q"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            "approx_users",
            F.col("approx_q")[0].alias("approx_p50"),
            F.col("approx_q")[1].alias("approx_p90"),
            "n_events",
        )
    )


def events_sketch_profile_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable form of the sketch profile: the same HLL++ /
    approx_percentile sketches run alongside their exact counterparts in
    one aggregation, and the plan emits BOOLEAN accuracy verdicts instead
    of the raw estimates.  The DuckDB oracle computes the deterministic
    columns (event_type, n_events, exact_users) and literal TRUE for the
    verdicts — so a broken sketch (null, wild estimate, wrong column)
    flips a boolean and fails the value hash.  This keeps the sketch
    operators inside the driver-checked plan while every output column
    stays engine-exact.

    Tolerances are generous multiples of the configured sketch error
    (HLL rsd=0.02 -> 10% allowed; approx_percentile accuracy=10000 ->
    estimate must land inside the exact p40..p60 / p85..p95 band), so the
    booleans are deterministic for any correct implementation.  The exact
    sides exist only to pin the sketches — the production projection is
    ``events_sketch_profile`` above."""
    events = load_table(spark, "events", sf_dir)
    agg = events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.expr("approx_percentile(value, array(0.5, 0.9), 10000)").alias("approx_q"),
        F.countDistinct("user_id").alias("exact_users"),
        F.expr("percentile(value, array(0.4, 0.6, 0.85, 0.95))").alias("exact_q"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return agg.select(
        "event_type",
        "n_events",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.10 * F.col("exact_users")
        ).alias("approx_users_ok"),
        F.col("approx_q")[0].between(F.col("exact_q")[0], F.col("exact_q")[1]).alias("p50_ok"),
        F.col("approx_q")[1].between(F.col("exact_q")[2], F.col("exact_q")[3]).alias("p90_ok"),
    )


def events_hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE-sketch rollup — the pattern that makes distinct counts
    incremental at 100 TB: one Datasketches HLL sketch per (type, day)
    (``hll_sketch_agg``), then the weekly figure is a SKETCH UNION
    (``hll_union_agg``) of the daily sketches, never a re-scan of raw
    events.  A production continuous aggregate stores the daily binary
    sketches and answers any coarser grain by merging them; this query
    is that plan shape end-to-end.

    Driver-checkable via the ``events_sketch_profile`` verdict form:
    the exact weekly distinct (computed here only to pin the sketch —
    at scale it's exactly what you refuse to compute) rides alongside,
    and the output emits a BOOLEAN accuracy verdict (default lgK=12 →
    ~1.6% rsd; 10% allowed) the oracle pins to TRUE, so every column
    stays engine-exact while the sketch path stays in the checked
    plan."""
    # NULL ts excluded: a NULL week key would silently fall out of the
    # weekly-exact equi-join while the oracle's GROUP BY keeps it
    # (NULL-degenerate probe finding)
    events = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
    daily = events.groupBy(
        "event_type",
        F.date_trunc("week", F.col("ts")).alias("wk"),
        F.to_date("ts").alias("d"),
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    weekly = daily.groupBy("event_type", "wk").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.count(F.lit(1)).alias("n_days"),
    )
    exact = events.groupBy(
        F.col("event_type").alias("e2"), F.date_trunc("week", F.col("ts")).alias("w2")
    ).agg(F.countDistinct("user_id").alias("exact_users"))
    # null-safe on event_type: a NULL-type series still rolls up, and a
    # plain equi-join would silently drop it (NULL-degenerate probe)
    return weekly.join(
        exact,
        weekly.event_type.eqNullSafe(exact.e2) & (weekly.wk == exact.w2),
    ).select(
        "event_type",
        F.to_date("wk").alias("week"),
        "n_days",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= 0.10 * F.col("exact_users")
        ).alias("merged_estimate_ok"),
    )


def events_salted_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe per-user aggregation via the two-stage salted pattern
    (operators.skew.salted_aggregate): partial sums on (user, salt) —
    salt from event_id, so a hot user's rows spread over 16 tasks —
    recombined per user.  Decimal sums make both stages order-independent,
    so the result is hash-identical to a plain GROUP BY (the oracle)."""
    from logistream_data_pipeline_aws_spark.operators.skew import salted_aggregate

    events = load_table(spark, "events", sf_dir)
    agg = salted_aggregate(
        events.select("user_id", "event_id", "value"),
        keys=["user_id"],
        sums={
            "total_value": F.col("value").cast("decimal(30,6)"),
            "n_events": F.lit(1).cast("long"),
        },
        salt_source="event_id",
        n_salts=16,
    )
    return agg.select(
        "user_id",
        F.col("total_value").cast("double").alias("total_value"),
        F.col("n_events").cast("long").alias("n_events"),
    )


_SCRATCH_DIR: str | None = None


def _scratch(name: str) -> str:
    """Per-process scratch path for sink round-trip queries: a private
    ``tempfile.mkdtemp`` directory created once per session, so concurrent
    sessions (or a pre-existing world-writable directory owned by another
    user) can never clash with or feed stale data into a readback."""
    global _SCRATCH_DIR
    if _SCRATCH_DIR is None:
        import tempfile

        _SCRATCH_DIR = tempfile.mkdtemp(prefix="lsdp_scratch_")
    return os.path.join(_SCRATCH_DIR, name)


def fact_write_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end sink verification (S6/S8): the fact table is written to
    parquet partitioned by ship year (hive-style directories — the
    pruning layout for date-keyed facts), read back with a partition
    filter, and aggregated.  The oracle computes the same aggregate
    straight from the raw tables, so a write-path bug (type narrowing,
    partition mis-assignment, dropped rows) breaks the hash.  The target
    directory is private to this session (``_scratch``), overwritten on
    repeat calls within the session."""
    import os as _os

    from logistream_data_pipeline_aws_spark.plans.warehouse import fact_lineitem
    from logistream_data_pipeline_aws_spark.sources.io import write_table

    tag = _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = _scratch(f"fact_readback_{tag}")
    fact = fact_lineitem(spark, sf_dir).withColumn(
        "ship_year", (F.col("ship_date_key") / F.lit(10000)).cast("int")
    )
    write_table(fact, path, mode="overwrite", partition_by=["ship_year"])
    back = spark.read.parquet(path).where(F.col("ship_year") == 1995)
    return (
        back.groupBy((F.col("ship_date_key") % 10000 / 100).cast("int").alias("ship_month"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("revenue").cast("decimal(30,6)")).cast("double").alias("revenue"),
        )
        .select("ship_month", "n_rows", "revenue")
    )


def events_json_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink/source round trip (S7 family: the reference's
    declared real-time feeds are JSON events, Project_Report p.2; its
    Lambda reads JSON objects, LJ:17-19).  The events table is written
    as JSON lines and re-read with the explicit engine schema — never
    inferSchema — with an explicit microsecond timestampFormat on BOTH
    sides (Spark's default JSON format truncates to millis, which would
    silently shave sub-milli event times).  The oracle reads the
    original parquet, so any JSON encode/decode infidelity (timestamp
    precision, string escaping in the nested-JSON props column, NULL
    handling) breaks the hash."""
    from pyspark.sql import types as T

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = _scratch(f"events_json_{tag}")
    fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    events = load_table(spark, "events", sf_dir)
    events.write.mode("overwrite").option("timestampFormat", fmt).json(path)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    back = spark.read.schema(schema).option("timestampFormat", fmt).json(path)
    return back.select("event_id", "ts", "user_id", "event_type", "value", "props")


def fact_date_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-partitioned fact layout + partition pruning, end to end
    (VERDICT r3 #5): the fact is landed hash-distributed on the order key
    AND hive-partitioned on ``order_month`` (the dominant filter axis of
    every dashboard query), then a half-year band is read back — the scan
    must prune to six directories (``PartitionFilters``, asserted by
    tests/test_plan_properties.py) instead of touching every file, which
    at 100x scale is the difference between scanning a month and scanning
    the table.  The oracle recomputes the band straight from the raw
    tables, so partition mis-assignment (a row landing in the wrong month
    directory) breaks the hash, not just the plan shape."""
    import os as _os

    from logistream_data_pipeline_aws_spark.functions.keys import write_bucketed
    from logistream_data_pipeline_aws_spark.plans.warehouse import fact_lineitem

    tag = _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = _scratch(f"fact_date_slice_{tag}")
    fact = fact_lineitem(spark, sf_dir).withColumn(
        "order_month", F.expr("order_date_key div 100").cast("int")
    )
    write_bucketed(fact, "l_orderkey", 8, path, partition_by=["order_month"])
    back = spark.read.parquet(path).where(
        F.col("order_month").between(199501, 199506)
    )
    return (
        back.groupBy("order_month")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("revenue").cast("decimal(30,6)")).cast("double").alias("revenue"),
        )
        .select("order_month", "n_rows", "revenue")
    )


def warehouse_orc_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink-format widening (S6 family): the geography dimension written
    as ORC and read back.  ORC is the other columnar format a Spark
    warehouse interoperates with (Hive-heritage deployments); the
    round-trip shares ``dim_geography``'s oracle, so a type-mapping or
    writer bug in the ORC path breaks the hash exactly like the parquet
    and CSV round-trips do."""
    from logistream_data_pipeline_aws_spark.plans.warehouse import dim_geography
    from logistream_data_pipeline_aws_spark.sources.io import write_table

    path = _scratch("dim_geography_orc")
    write_table(dim_geography(spark, sf_dir), path, mode="overwrite", fmt="orc")
    return spark.read.orc(path).select(
        "geo_key", "n_nationkey", "nation_name", "region_name"
    )


def doc_winnowing(
    spark: SparkSession,
    sf_dir: str,
    max_docs: int = 20_000,
    full: bool = False,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS local-similarity
    scheme): rolling 8-char-gram md5-prefix hashes, minima of every
    4-window, deduplicated per document.  Two documents sharing any
    substring of >= 11 chars share a fingerprint, so an equi-join on
    ``fp`` finds local overlap (quotes, licenses boilerplate, lifted
    passages) that document-global minhash misses.  At corpus scale the
    fingerprint table is the join surface: one narrow (doc_id, fp) frame,
    skew governed by the same bucket-cap discipline as the LSH family.

    SIZE GUARD (r5 VERDICT #3): this exact form MATERIALIZES every
    fingerprint — output ~#docs x doc_len/2 rows, inherently linear in
    total corpus BYTES, which the 100x probe measured super-linear in
    wall clock once the output dominates (exponent 1.24, 61.5M rows).
    The registered entry therefore caps the corpus at ``max_docs``
    documents, chosen by deterministic md5 rank (salted two-stage top-k,
    the ``corpus_stratified_sample`` shape — no unpartitioned window,
    replayable in the oracle).  Pass ``full=True`` for the unbounded
    materialization; for corpus-wide overlap MINING use
    ``doc_winnow_pairs``, which aggregates map-side and never
    materializes the fingerprint table.

    The gram array is materialized as a column between the two
    projections — windowing over an inline alias would re-hash the whole
    document per window (no CSE in interpreted higher-order exprs)."""
    from logistream_data_pipeline_aws_spark.functions.text import (
        char_gram_hashes,
        normalized_text,
        winnow_minima,
    )
    from logistream_data_pipeline_aws_spark.operators.dedup_family import (
        parallelize_cpu_stage,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    if not full:
        from pyspark.sql import Window

        # keys-only ranking (text never rides through any sort), global
        # md5 rank decomposed exactly as ``with_sequential_key_ranged``:
        # partition by the FIRST HEX CHAR of the md5 (order-preserving
        # 16-way range bucketing of the sort key), rank within each
        # bucket in parallel, offset each bucket by the triangular join
        # over the 16-row count frame — no unpartitioned window, and the
        # composed rank equals the oracle's plain ROW_NUMBER
        u = F.md5(F.concat(F.lit("winnow#"), F.col("doc_id").cast("string")))
        keys = (
            docs.select("doc_id")
            .withColumn("_u", u)
            .withColumn("_b", F.substring("_u", 1, 1))
        )
        w1 = Window.partitionBy("_b").orderBy("_u", "doc_id")
        ranked = keys.withColumn("_r1", F.row_number().over(w1)).where(
            F.col("_r1") <= max_docs
        )
        counts = keys.groupBy("_b").agg(F.count(F.lit(1)).alias("_n"))
        lower = counts.select(F.col("_b").alias("_b2"), F.col("_n").alias("_n2"))
        offsets = (
            counts.join(lower, F.col("_b2") < F.col("_b"), "left")
            .groupBy("_b")
            .agg(F.coalesce(F.sum("_n2"), F.lit(0)).alias("_off"))
        )
        chosen = (
            ranked.join(F.broadcast(offsets), "_b")
            .where(F.col("_off") + F.col("_r1") <= max_docs)
            .select("doc_id")
        )
        docs = docs.join(F.broadcast(chosen), "doc_id")
    docs = parallelize_cpu_stage(docs)
    # filter on the CHEAP normalized length BEFORE the gram projection
    # (len >= k+w-1 <=> at least one window) — filtering on size(hs)
    # would push the predicate below the projection and evaluate the
    # gram build twice per row (same lesson as minhash_signatures); and
    # explode via explode_once, else the generator's inferred size filter
    # sinks the whole winnow build into the single-task scan stage
    from logistream_data_pipeline_aws_spark.functions.arrays import explode_once

    grams = docs.where(F.length(normalized_text("text")) >= 8 + 4 - 1).select(
        "doc_id", char_gram_hashes("text", k=8).alias("hs")
    )
    fps = grams.select("doc_id", winnow_minima(F.col("hs"), w=4).alias("fps"))
    return explode_once(fps, "fps", "fp", "doc_id")


# -- GeoJSON routes (the Lambda surface, SURVEY §2.8 N1-N5/F9/F10) ----------

# the committed FeatureCollection fixture; anchored to the repo so the
# query works from any working directory / session
ROUTES_GEOJSON_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests", "fixtures", "routes.geojson",
)


def geojson_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's entire second entry point as one declarative plan
    (etl_jobs/lambda_geojson_processor.py LJ:17-43): GeoJSON
    FeatureCollection -> explode(features) -> nested coordinate access ->
    origin/dest extraction + higher-order WKT fold -> the 5-column
    processed_routes layout.  ``sf_dir`` is unused — the input is the
    committed fixture document (the Lambda's S3 object analog); the DuckDB
    oracle parses the same file with its native JSON reader."""
    from logistream_data_pipeline_aws_spark.sources.geojson import (
        flatten_geojson_routes,
        read_geojson,
    )

    return flatten_geojson_routes(read_geojson(spark, ROUTES_GEOJSON_PATH))


def route_geometry_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometry analytics over the shipping routes: per-route vertex
    count, polyline path length, straight-line origin-dest distance
    (both in coordinate degrees — the reference treats WKT as an opaque
    string and ships no geodesic library, so degree space is the honest
    unit), and sinuosity (path / straight, the route-efficiency ratio
    dispatchers watch).

    Exactness: the WKT strings are hash-verified identical cross-engine
    (``geojson_routes``), decimal-string -> double parsing is correctly
    rounded in both engines, and every derived number uses only IEEE
    ops in a fixed order — dx*dx + dy*dy, sqrt, and a LEFT FOLD for the
    path sum (``F.aggregate`` and DuckDB's list_reduce both fold left,
    the ``_dot`` oracle discipline) — so no rounding shim is needed.
    Plan: one projection over the 5-column routes frame, zero shuffles;
    at scale this is an embarrassingly parallel scan."""
    routes = geojson_routes(spark, sf_dir)
    pts = F.split(
        F.regexp_replace("shape_wkt", r"^LINESTRING\(|\)$", ""), ", "
    )
    xs = F.transform(pts, lambda p: F.split(p, " ")[0].cast("double"))
    ys = F.transform(pts, lambda p: F.split(p, " ")[1].cast("double"))
    withp = routes.select(
        "origin_lat",
        "origin_long",
        "dest_lat",
        "dest_long",
        xs.alias("xs"),
        ys.alias("ys"),
        F.size(pts).alias("n_points"),
    )

    def seg(i):
        dx = F.element_at("xs", i + 1) - F.element_at("xs", i)
        dy = F.element_at("ys", i + 1) - F.element_at("ys", i)
        return F.sqrt(dx * dx + dy * dy)

    # Degenerate 1-vertex LINESTRING gate: sequence(1, 0) is DESCENDING
    # ([1, 0]) in Spark, so the ungated transform would evaluate
    # element_at(xs, 0) -> INVALID_INDEX_OF_ZERO, while the oracle's
    # range(1, 1) is simply empty.  CASE WHEN evaluates lazily, so the
    # sequence never materializes for single-vertex routes.
    segs = F.when(
        F.col("n_points") >= 2,
        F.transform(F.sequence(F.lit(1), F.col("n_points") - 1), seg),
    ).otherwise(F.array().cast("array<double>"))
    path_len = F.aggregate(
        segs, F.lit(0.0), lambda acc, x: acc + x
    )
    sdx = F.element_at("xs", F.col("n_points")) - F.element_at("xs", 1)
    sdy = F.element_at("ys", F.col("n_points")) - F.element_at("ys", 1)
    straight = F.sqrt(sdx * sdx + sdy * sdy)
    return withp.select(
        "origin_lat",
        "origin_long",
        "dest_lat",
        "dest_long",
        "n_points",
        path_len.alias("path_deg"),
        straight.alias("straight_deg"),
        F.when(straight > 0, path_len / straight).alias("sinuosity"),
    )


def routes_csv_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lambda's actual sink (LJ:24): processed routes written as CSV
    WITH header, then read back with an explicit schema — driver-verified
    against the same oracle as ``geojson_routes``, so a header/quoting/
    type-narrowing bug in the CSV path breaks the hash."""
    from pyspark.sql import types as T

    from logistream_data_pipeline_aws_spark.sources.io import read_csv, write_table

    path = _scratch("routes_csv")
    write_table(geojson_routes(spark, sf_dir), path, mode="overwrite", fmt="csv", header="true")
    schema = T.StructType(
        [
            T.StructField("origin_lat", T.DoubleType()),
            T.StructField("origin_long", T.DoubleType()),
            T.StructField("dest_lat", T.DoubleType()),
            T.StructField("dest_long", T.DoubleType()),
            T.StructField("shape_wkt", T.StringType()),
        ]
    )
    return read_csv(spark, path, schema, header=True)


def dim_route_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The route-shape dimension over the flattened fixture routes
    (GE:211-217): dedup on the 4-coordinate natural key + surrogate key —
    the dimension side of the J5 composite route lookup
    (plans.reference_pipeline.build_fact)."""
    from logistream_data_pipeline_aws_spark.plans.reference_pipeline import (
        build_dim_route_shapes,
    )

    return build_dim_route_shapes(geojson_routes(spark, sf_dir))


# -- multimodal + JSON ------------------------------------------------------


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: build payloads from document text (the
    container has no media files), attach JVM-side typed metadata."""
    from logistream_data_pipeline_aws_spark.operators.multimodal import with_media_meta

    docs = load_table(spark, "documents", sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
    )
    return with_media_meta(media).select(
        "media_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.checksum").alias("checksum"),
    )


def events_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming surface as a driver-checkable query: file-source
    stream over the events table -> watermarked tumbling window ->
    drained with availableNow into a memory sink.  A single-file source
    is one micro-batch, so the watermark drops nothing and the result is
    exactly the batch events_hourly aggregate (same oracle).

    The memory sink uses a FIXED query name, so repeated calls (bench
    best-of-2, oracle sweeps, long sessions) replace one driver-resident
    result table instead of accumulating uuid-named ones.  The events
    source is ``catalog.events_stream`` — unit-sniffed, so both the NANOS
    and MICROS testdata eras read correctly."""
    from logistream_data_pipeline_aws_spark.catalog import events_stream
    from logistream_data_pipeline_aws_spark.streaming.pipeline import (
        run_available_now,
        windowed_aggregate,
    )

    name = "events_stream_hourly_sink"
    with events_stream(spark, sf_dir) as stream:
        agg = windowed_aggregate(stream, "1 hour", "2 hours")
        run_available_now(agg, name, output_mode="complete")
    return spark.table(name)


def events_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window streaming aggregate — ``window(ts, '1 hour', '15
    minutes')`` — the overlapping-window shape the tumbling entry
    (events_stream_hourly) cannot express: each event lands in four
    hour-long windows, the moving-average view every live dashboard
    renders.  Same watermark/state discipline as the tumbling form
    (state keyed by (window, type), bounded by the watermark); a
    single-file source is one micro-batch so the drain is deterministic.
    The oracle scatters each event onto its four 15-minute-aligned
    window starts — Spark's slide alignment and DuckDB's time_bucket
    agree because the hour length is a multiple of the slide."""
    from logistream_data_pipeline_aws_spark.catalog import events_stream
    from logistream_data_pipeline_aws_spark.streaming.pipeline import (
        run_available_now,
    )

    name = "events_stream_sliding_sink"
    with events_stream(spark, sf_dir) as stream:
        agg = (
            # explicit NULL-ts gate: event-time windows drop timeless
            # rows anyway; the gate keeps the oracle on the same page
            stream.where(F.col("ts").isNotNull())
            .withWatermark("ts", "2 hours")
            .groupBy(
                F.window("ts", "1 hour", "15 minutes").alias("w"),
                F.col("event_type"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(30,6)"))
                .cast("double")
                .alias("total_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
        )
        run_available_now(agg, name, output_mode="complete")
    return spark.table(name)


def events_stream_order_shipment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The declared dual-feed scenario as a driver-checkable query:
    STREAM-STREAM inner join with watermarks and an event-time range
    bound (streaming.pipeline.order_shipment_join).  Two file-source
    streams are derived deterministically from the events table —
    purchases as the order feed, views (keyed to the preceding event id)
    as the shipment feed; a single-file source is one micro-batch, so
    every in-band match is emitted and the oracle is the equivalent
    batch join.  Timestamps are second-truncated for engine exactness."""
    import contextlib

    from logistream_data_pipeline_aws_spark.catalog import events_stream
    from logistream_data_pipeline_aws_spark.streaming.pipeline import (
        order_shipment_join,
        run_available_now,
    )

    name = "events_stream_order_shipment_sink"
    # two independent feeds -> two source instances, each unit-sniffed
    with contextlib.ExitStack() as stack:

        def feed():
            raw = stack.enter_context(events_stream(spark, sf_dir))
            return raw.withColumn("ts", F.date_trunc("second", F.col("ts")))

        orders = feed().where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("order_id"),
            F.col("ts").alias("order_ts"),
            F.col("value").alias("amount"),
        )
        shipments = feed().where(F.col("event_type") == "view").select(
            (F.col("event_id") - 1).alias("order_id"),
            F.col("ts").alias("ship_ts"),
            F.col("user_id").cast("string").alias("carrier"),
        )
        joined = order_shipment_join(orders, shipments, max_ship_delay="48 hours")
        run_available_now(joined, name, output_mode="append")
    return spark.table(name)


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` sessionization (30-min gap) over events,
    batch form — the declarative counterpart of the stateful
    ``streaming.pipeline.sessionize``.  Timestamps are truncated to
    seconds first so the session boundaries are engine-exact (the oracle
    mirrors this with gaps-and-islands window SQL on the same truncated
    values).  Session end is reported as max(ts), not window.end (which
    Spark pads by the gap).  NULL-timestamp events are excluded on both
    sides: ``session_window`` keys on event time, while the oracle's
    gaps-and-islands walk would silently absorb a NULL-ts row into its
    user's trailing island (NULL-degenerate probe finding)."""
    events = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
    sec = F.date_trunc("second", F.col("ts"))
    return (
        events.select("user_id", sec.alias("ts_s"), "value")
        .groupBy(F.session_window("ts_s", "30 minutes").alias("w"), F.col("user_id"))
        .agg(
            F.min("ts_s").alias("session_start"),
            F.max("ts_s").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("total_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
    )


def events_json_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction over the events props column + aggregation."""
    events = load_table(spark, "events", sf_dir)
    return (
        events.select(
            F.get_json_object("props", "$.k").cast("int").alias("k"),
            "event_type",
            "value",
        )
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("total_value"),
        )
        .select("k", "n_events", "total_value")
    )


# -- pretraining corpus construction (round-3 continuation) -----------------
#
# The four ops a training-data pipeline runs between "raw corpus" and
# "tokenizer input": PII scrubbing, eval-set decontamination, mixture
# sampling, and sequence packing.  All pure codegen expressions or
# source-partitioned windows — no global shuffle wider than the group key,
# no Python in the hot path.

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_URL_RE = r"https?://[^\s]+"


def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: redact emails and URLs, report match counts and
    the scrubbed length per document.

    The synthetic corpus carries no natural PII, so a deterministic
    injection step (hash-free: doc_id modulus) plants a synthetic email /
    URL in a known subset first — the scrub machinery (regexp_extract_all
    counts + chained regexp_replace redaction) is the op under test, and
    the oracle mirrors the injection exactly.  At 100 TB this is one
    embarrassingly parallel scan, all regex work inside whole-stage
    codegen; the regexes are written in the common Java/RE2 subset so the
    DuckDB oracle is exact.
    """
    docs = load_table(spark, "documents", sf_dir)
    enriched = (
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com now")),
        )
        .when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.col("text"), F.lit(" see https://example.org/doc/"), F.col("doc_id"), F.lit(" today")),
        )
        .otherwise(F.col("text"))
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(enriched, F.lit(PII_EMAIL_RE), F.lit("<EMAIL>")),
        F.lit(PII_URL_RE),
        F.lit("<URL>"),
    )
    # NULL gate: legacy sizeOfNull makes size(NULL) = -1 while the oracle
    # yields NULL — a NULL text row (legal in regenerated testdata) must
    # report NULL counts, not -1 (same gate token_count uses)
    return docs.select(
        "doc_id",
        F.when(
            enriched.isNotNull(),
            F.size(F.regexp_extract_all(enriched, F.lit(PII_EMAIL_RE), F.lit(0))),
        )
        .cast("long")
        .alias("n_emails"),
        F.when(
            enriched.isNotNull(),
            F.size(F.regexp_extract_all(enriched, F.lit(PII_URL_RE), F.lit(0))),
        )
        .cast("long")
        .alias("n_urls"),
        F.length(scrubbed).cast("long").alias("scrubbed_len"),
    )


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination (the GPT-3 appendix-C pattern, scaled to
    the fixture's short docs): hold out every 10th document as the eval
    split, build its distinct word-3-gram set, and score every training
    document by how many of its distinct 3-grams appear in any eval doc.

    Plan shape at 100 TB: the eval n-gram set is tiny relative to the
    corpus (it is the benchmark suite), so Catalyst broadcasts it and the
    whole pass is scan -> explode -> broadcast semi-ish join -> per-doc
    re-aggregate: one shuffle on doc_id, map-side combinable.

    The shingled frame is staged and persisted per (session, corpus)
    (r11): it is referenced three times (train grams, train sizes,
    eval grams) and the interpreted shingle build got no CSE across
    those references — the 1000x probe measured 729 s, the
    bigram/DSIR re-derivation class; persisting it ran the 100x pass
    29.1 -> 20.0 s cold / 5.6 s warm, values unchanged.
    """
    from logistream_data_pipeline_aws_spark.functions.arrays import explode_once
    from logistream_data_pipeline_aws_spark.operators.dedup_family import (
        parallelize_cpu_stage,
    )

    docs = parallelize_cpu_stage(
        load_table(spark, "documents", sf_dir).select("doc_id", "text")
    )
    sh = word_shingles(tokens(F.col("text")), 3)
    with_sh = stage(
        spark, sf_dir, "contamination_shingles",
        lambda: docs.select("doc_id", sh.alias("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK),
    )
    train = with_sh.where(F.col("doc_id") % 10 != 0)
    eval_grams = explode_once(
        with_sh.where(F.col("doc_id") % 10 == 0), "sh", "gram"
    ).distinct()
    ex = explode_once(train, "sh", "gram", "doc_id")
    shared = (
        ex.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        train.select("doc_id", F.size("sh").cast("long").alias("n_grams"))
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            F.round(
                F.coalesce("n_shared", F.lit(0)) / F.greatest("n_grams", F.lit(1)), 6
            ).alias("contamination_ratio"),
        )
        .withColumn("contaminated", F.col("contamination_ratio") >= 0.5)
    )


def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture balancing: downsample each source toward an
    equal share of the corpus (the "flatten the source skew" step before
    tokenization).  Per-source keep rate = min(1, (N/k)/n_s) where k is
    the number of sources; the keep decision is a pure function of the
    doc_id (28-bit md5-prefix uniform), so the sample is reproducible
    run-to-run and engine-to-engine — exactly how production pipelines
    make sampling auditable.

    Scale shape: the per-source rate table is a broadcast of k rows; the
    sample itself is an embarrassingly parallel filter; only the final
    per-source report shuffles (k groups).
    """
    docs = load_table(spark, "documents", sf_dir)
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    totals = counts.agg(
        F.sum("n_docs").alias("n_total"), F.count(F.lit(1)).alias("k")
    )
    rates = counts.join(F.broadcast(totals)).select(
        "source",
        "n_docs",
        F.least(
            F.lit(1.0), (F.col("n_total") / F.col("k")) / F.col("n_docs")
        ).alias("keep_rate"),
    )
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("mix#"), F.col("doc_id"))), 1, 7), 16, 10)
        .cast("long")
        / F.lit(float(1 << 28))
    )
    sampled = (
        docs.select("doc_id", "source", u.alias("u"))
        .join(F.broadcast(rates), "source")
        .where(F.col("u") < F.col("keep_rate"))
    )
    return (
        sampled.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .join(F.broadcast(rates.select("source", "n_docs")), "source")
        .select("source", "n_docs", "n_sampled")
    )


def sequence_packing(spark: SparkSession, sf_dir: str, budget: int = 256) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are concatenated in a
    deterministic order and cut into fixed token-budget packs; a document
    belongs to the pack where it starts.  Reports per-pack document and
    token totals — the shape check before writing tokenizer shards.

    The running token sum is windowed PER SOURCE (partitionBy source,
    orderBy doc_id), never globally — the global-window straggler is the
    classic packing-at-scale mistake; per-source packs match how shard
    writers parallelize anyway.
    """
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    n_tok = token_count("text")
    w = Window.partitionBy("source").orderBy("doc_id")
    staged = docs.select("doc_id", "source", n_tok.alias("n_tokens"))
    packed = staged.withColumn(
        "pack_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / budget).cast("long"),
    )
    return (
        packed.groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .select("source", "pack_id", "n_docs", "pack_tokens", "first_doc", "last_doc")
    )


def events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion dedup: dropDuplicatesWithinWatermark on the
    event id — the at-least-once -> exactly-once repair every streaming
    ingest front door needs.  State is bounded by the watermark horizon
    (vs plain dropDuplicates, whose state grows forever); with unique ids
    the output is deterministic, so the oracle is the plain projection.
    """
    from logistream_data_pipeline_aws_spark.catalog import events_stream
    from logistream_data_pipeline_aws_spark.streaming.pipeline import (
        run_available_now,
    )

    name = "events_stream_dedup_sink"
    with events_stream(spark, sf_dir) as stream:
        deduped = (
            stream.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "user_id", "event_type", "value")
        )
        run_available_now(deduped, name, output_mode="append")
    return spark.table(name)


def events_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upsert (the foreachBatch MERGE the reference's declared
    dual-feed scenario implies, Project_Report p.2): the events feed is
    streamed into a keyed warehouse table where each user's row is
    replaced by later events — update-else-insert, not append.  The
    landed table holds one row per user: the argmax event by
    (ts, event_id), independent of micro-batch slicing (see
    ``streaming.pipeline.foreach_batch_upsert``), so the oracle is the
    plain batch argmax over events.  The readback resolves the table's
    committed manifest (``read_upsert_table``) — the atomic-snapshot
    read path, not a raw directory scan.
    """
    from logistream_data_pipeline_aws_spark.catalog import events_stream
    from logistream_data_pipeline_aws_spark.streaming.pipeline import (
        foreach_batch_upsert,
        read_upsert_table,
    )

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = _scratch(f"events_upsert_{tag}")
    ckpt = _scratch(f"events_upsert_ckpt_{tag}")
    with events_stream(spark, sf_dir) as stream:
        q = foreach_batch_upsert(
            stream.select("user_id", "event_id", "ts", "event_type", "value"),
            path,
            ckpt,
            key_cols=["user_id"],
            order_cols=["ts", "event_id"],
        )
        q.awaitTermination(300)
        if q.isActive:
            q.stop()
            raise TimeoutError("events_stream_upsert did not drain in 300s")
    return (
        read_upsert_table(spark, path)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )


def doc_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-overlap pair mining on winnowing fingerprints: documents
    sharing >= 20% of the smaller side's fingerprints (quotes, license
    boilerplate, lifted passages — overlap document-global minhash
    misses).  Same scale discipline as the LSH family: per-fingerprint
    buckets are counted map-side-combinably FIRST and buckets above the
    cap dropped before any id array is collected, so a degenerate
    fingerprint (ubiquitous boilerplate substring) never materializes in
    one task; pair counts shuffle on the (id_a, id_b) key."""
    from logistream_data_pipeline_aws_spark.operators.dedup_family import (
        _pairs_from_sorted_ids,
    )

    # the persisted fingerprint frame is staged once per (session,
    # corpus) — repeated invocations (bench best-of-N, oracle sweeps,
    # long sessions) reuse it instead of leaking one cached frame each.
    # full=True: the pairs form CONSUMES the fingerprint stream in a
    # map-side-combinable aggregation — nothing output-sized is ever
    # materialized, so the exact form's max_docs guard does not apply
    # (mining must see the whole corpus)
    fps = stage(
        spark, sf_dir, "winnow_fps",
        lambda: doc_winnowing(spark, sf_dir, full=True).persist(),
    )
    sizes = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    counts = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_n"))
    # bucket cap 64, far below the LSH family's 1024: a fingerprint shared
    # by many documents is a stop-gram (ubiquitous vocabulary), carries no
    # overlap signal, and its pair expansion is O(bucket²) PER fingerprint
    # — on a shared-vocabulary corpus the 1024 cap still admitted ~500k
    # pair structs per bucket row and OOMed the driver-sized heap
    keep = counts.where((F.col("_n") >= 2) & (F.col("_n") <= 64)).select("fp")
    buckets = (
        fps.join(keep, "fp")
        .groupBy("fp")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
    )
    shared = (
        buckets.select(F.explode(_pairs_from_sorted_ids(F.col("ids"))).alias("p"))
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    a_sz = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_fp").alias("n_a"))
    b_sz = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_fp").alias("n_b"))
    overlap = F.round(F.col("n_shared") / F.least("n_a", "n_b"), 6)
    return (
        shared.join(a_sz, "id_a")
        .join(b_sz, "id_b")
        .select("id_a", "id_b", "n_shared", overlap.alias("overlap"))
        .where(F.col("overlap") >= 0.2)
    )


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column — the storage /
    ANN-memory compression step of a vector pipeline — reported as
    per-vector reconstruction diagnostics.  Pure higher-order
    expressions over doubles (elements cast once, scale materialized as
    a column so array_max isn't re-evaluated per element); both engines
    run the identical floor(x/s + 0.5) double arithmetic, so the oracle
    is exact without tolerances."""
    emb = load_table(spark, "embeddings", sf_dir)
    staged = emb.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("_x"),
    ).select(
        "vec_id",
        "_x",
        F.array_max(F.transform("_x", F.abs)).alias("_maxabs"),
    )
    scale = F.col("_maxabs") / F.lit(127.0)
    q = F.transform(
        "_x",
        lambda v: F.when(F.col("_maxabs") > 0, F.floor(v / scale + F.lit(0.5)))
        .otherwise(F.lit(0))
        .cast("long"),
    )
    quantized = staged.select("vec_id", "_x", "_maxabs", q.alias("_q"))
    err = F.array_max(
        F.zip_with("_x", "_q", lambda v, qi: F.abs(v - qi * scale))
    )
    return quantized.select(
        "vec_id",
        F.size("_x").cast("long").alias("n_dims"),
        F.round("_maxabs", 6).alias("max_abs"),
        F.size(F.filter("_q", lambda qi: qi != 0)).cast("long").alias("n_nonzero"),
        F.round(err, 6).alias("max_abs_err"),
    )


# -- warehouse history / audit (round-4 continuation) ------------------------


def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 history build over the events change feed: per user,
    consecutive events with the same ``event_type`` collapse into one
    validity interval [effective_from, effective_to) with version and
    is_current — the standard dimension-history operator the reference's
    Type 1 TRUNCATE+reload warehouse (GE:46-59) lacks.  See
    ``operators.dimensions.scd2_history`` for the window decomposition."""
    from logistream_data_pipeline_aws_spark.operators.dimensions import scd2_history

    # NULL ts excluded: a change event without a time cannot anchor a
    # validity interval, and the engines order NULLs at opposite ends of
    # the history walk (NULL-degenerate probe finding).  NULL user_id
    # excluded too (r7 probe finding): Spark's window partitionBy groups
    # NULL keys into a partition and emitted NULL-user intervals the
    # oracle's gate drops — a history keyed on an unknown entity is
    # meaningless either way (the scd2_daily_snapshot discipline).
    events = load_table(spark, "events", sf_dir).where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    return scd2_history(events, "user_id", "event_type", "ts", "event_id")


def scd2_daily_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time snapshot fan-out of the Type-2 history: for each
    user and each calendar day from the user's first sighting to the
    feed's last day, the state version valid at that day's end — the
    Kimball periodic-snapshot materialization every SCD2 dimension
    eventually needs for "as of reporting date" joins.

    Composition of two existing operators: ``scd2_history`` builds the
    validity intervals, then the merge-based ``as_of_join`` (strict, on
    ``effective_from < day_end``) picks the covering interval per
    (user, day) — one shuffle on user_id + a per-key sort, never an
    interval cross join.  Equal ``effective_from`` ties (two change
    events sharing a timestamp) resolve to the max version, matching
    the as-of tie reduction.  The spine fan-out (users x days) is the
    OUTPUT size — inherent to a snapshot table, bounded by the calendar
    span, and embarrassingly parallel.  States are never NULL: every
    user's first interval starts at their first event, which is on or
    before their first snapshot day's end.

    NULL user_id gated out (mirroring ``events_conversion_lag``): the
    window-based as-of groups NULL keys together and would emit
    NULL-user snapshot rows, while the oracle's equi-join drops them —
    a history keyed on an unknown entity is meaningless either way."""
    from logistream_data_pipeline_aws_spark.operators.asof import as_of_join
    from logistream_data_pipeline_aws_spark.operators.dimensions import scd2_history

    events = load_table(spark, "events", sf_dir).where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    hist = scd2_history(events, "user_id", "event_type", "ts", "event_id")
    max_day = events.agg(F.max(F.to_date("ts")).alias("_max_day"))
    spine = (
        events.groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("_first_day"))
        .crossJoin(F.broadcast(max_day))
        .select(
            "user_id",
            F.explode(F.sequence("_first_day", "_max_day")).alias("snapshot_date"),
        )
    )
    probes = spine.withColumn(
        "_t", F.date_add("snapshot_date", 1).cast("timestamp")
    )
    out = as_of_join(
        probes,
        hist,
        on=["user_id"],
        left_ts="_t",
        right_ts="effective_from",
        right_vals=["version", "state"],
        strict=True,
    )
    return out.select(
        "user_id",
        "snapshot_date",
        F.col("asof_state").alias("state"),
        F.col("asof_version").alias("version"),
    )


def corpus_stratified_sample(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """Deterministic fixed-size stratified sample: exactly ``k`` documents
    per language stratum, chosen by md5 rank — uniform without
    replacement, reproducible run-to-run and engine-to-engine (the
    audit-grade sampling a corpus pipeline needs; the rate-based cousin
    is ``corpus_mixture_sample``).

    Scale shape: salted two-stage top-k.  A single window partitioned by
    ``lang`` would funnel a dominant language through one task, so rank
    first within (lang, 32-way salt) and keep k per salt — each global
    top-k row is necessarily in its salt's top-k — then re-rank the
    <= 32k survivors per stratum.  Both stages are bounded fan-in; no
    unpartitioned window anywhere.
    """
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    u = F.md5(F.concat(F.lit("strat#"), F.col("doc_id")))
    salted = docs.withColumn("_u", u).withColumn(
        "_salt", F.pmod(F.hash("doc_id"), F.lit(32))
    )
    w1 = Window.partitionBy("lang", "_salt").orderBy("_u", "doc_id")
    pruned = (
        salted.withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= k)
    )
    w2 = Window.partitionBy("lang").orderBy("_u", "doc_id")
    return (
        pruned.withColumn("sample_rank", F.row_number().over(w2).cast("int"))
        .where(F.col("sample_rank") <= k)
        .select("doc_id", "lang", "source", "n_chars", "sample_rank")
    )


def warehouse_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-load data-quality gate over the staging tables: referential
    integrity (orphan FK counts) and null-rate checks, one report row
    per check.  The reference loads Redshift with FK clauses that are
    informational only (DS:94-101, never enforced); a production
    pipeline runs exactly this audit before the warehouse load.

    Scale shape: every FK check is a keys-only LEFT join against the
    DISTINCT parent keys — child payload never crosses the shuffle, the
    small-dim parents broadcast, and the one big-big probe
    (lineitem -> orders) shuffles on the uniform order key.  Null checks
    are single-pass conditional aggregates.  The report is a UNION of
    1-row aggregates — each check stays an independent, parallel job."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    part = load_table(spark, "part", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    events = load_table(spark, "events", sf_dir)

    def fk_check(name: str, child: DataFrame, fk: str, parent: DataFrame, pk: str) -> DataFrame:
        keys = parent.select(F.col(pk).alias("_k")).distinct().withColumn(
            "_hit", F.lit(1)
        )
        return (
            child.select(F.col(fk).cast("long").alias("_k"))
            .join(keys, "_k", "left")
            .agg(
                F.lit(name).alias("check_name"),
                F.count(F.lit(1)).cast("long").alias("n_scanned"),
                F.sum(
                    F.when(
                        F.col("_k").isNotNull() & F.col("_hit").isNull(), 1
                    ).otherwise(0)
                ).cast("long").alias("n_bad"),
            )
        )

    def null_check(name: str, df: DataFrame, col: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).cast("long").alias("n_scanned"),
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_bad"),
        )

    checks = [
        fk_check("lineitem_orphan_orderkey", li, "l_orderkey", orders, "o_orderkey"),
        fk_check("lineitem_orphan_partkey", li, "l_partkey", part, "p_partkey"),
        fk_check("lineitem_orphan_suppkey", li, "l_suppkey", supplier, "s_suppkey"),
        fk_check("orders_orphan_custkey", orders, "o_custkey", customer, "c_custkey"),
        fk_check("customer_orphan_nationkey", customer, "c_nationkey", nation, "n_nationkey"),
        fk_check("supplier_orphan_nationkey", supplier, "s_nationkey", nation, "n_nationkey"),
        fk_check("nation_orphan_regionkey", nation, "n_regionkey", region, "r_regionkey"),
        null_check("orders_null_orderdate", orders, "o_orderdate"),
        null_check("documents_null_text", docs, "text"),
        null_check("events_null_user", events, "user_id"),
    ]
    report = checks[0]
    for c in checks[1:]:
        report = report.unionByName(c)
    return report


def warehouse_compaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered maintenance entry for the two compaction passes
    (VERDICT r5 next-round #6): prove, under the driver's oracle, that
    small-file compaction is SNAPSHOT-PRESERVING on both warehouse
    layouts — the hive-partitioned parquet fact
    (``sources.io.compact_partitions``) and the manifest-committed
    streaming upsert table (``streaming.pipeline.compact_upsert_table``).

    Part A writes a one-year orders slice (the last FULL year in the
    data — max order year minus one) hive-partitioned by month,
    deliberately fragmented (``repartition(4)`` -> 4 files per month
    dir), compacts every leaf to one file, and emits one row per month:
    exact row count + decimal-exact revenue from the POST-compaction
    readback, plus two folded verdicts — ``compacted`` (file count
    strictly dropped to the single-file target; counted from the
    directory listing, metadata not data) and ``content_preserved``
    (post-compaction per-month aggregates equal the lazily re-derived
    expectation from the ORIGINAL source table, which compaction never
    touches — an engine-side equality the oracle pins as literal TRUE).

    Part B lands the events feed as three sequential keyed merges
    (``merge_upsert_batch``), fragmenting the bucket->commit manifest,
    then compacts it through the same CAS publish the stream uses and
    emits one row comparing the post-compaction snapshot against the
    batch argmax over the raw feed (count + decimal value sum + id sum —
    a full-column signature, not a sample).  NULL user_id / ts gated on
    both sides (the time-ordered-operator NULL discipline).

    The only driver-side values are directory listings and the manifest
    dict — metadata-sized, the same class as the merge path's bucket
    ids.  Scale shape: each month/bucket compacts as an independent
    coalesce job; the verification aggregates are one pass over each
    table."""
    from logistream_data_pipeline_aws_spark.sources.io import compact_partitions
    from logistream_data_pipeline_aws_spark.streaming.pipeline import (
        compact_upsert_table,
        merge_upsert_batch,
        read_upsert_table,
    )

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")

    # -- part A: hive-partitioned parquet fact slice -------------------------
    orders = load_table(spark, "orders", sf_dir)
    # target year derived from the data (max year minus one — always a
    # FULL year of orders) instead of a hardcoded 1995: the audit must
    # run against any feed era (the scale probe's synthetic orders end
    # in 2023), and the collect is one date — metadata-sized
    max_date = orders.agg(F.max("o_orderdate").alias("_m")).collect()[0]["_m"]
    target_year = max_date.year - 1
    staged = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
    ).where(
        F.col("order_month").between(f"{target_year}-01", f"{target_year}-12")
    )
    path = _scratch(f"compaction_audit_fact_{tag}")
    # deterministic fragmentation (ADVICE r6): repartition(4) does NOT
    # guarantee a month's rows span multiple tasks at small SF — a month
    # landing wholly in one task writes ONE file and flips the
    # oracle-pinned `compacted` verdict flakily.  Write two round-robin
    # slices of each month as separate single-task appends instead, so
    # every month with >= 2 rows holds exactly 2 files by construction.
    from pyspark.sql import Window as _W

    rr = F.pmod(
        F.row_number().over(
            _W.partitionBy("order_month").orderBy("o_orderkey")
        ),
        F.lit(2),
    )
    sliced = staged.withColumn("_slice", rr)
    for slice_id, mode in ((0, "overwrite"), (1, "append")):
        (
            sliced.where(F.col("_slice") == slice_id)
            .drop("_slice")
            .coalesce(1)
            .write.mode(mode)
            .partitionBy("order_month")
            .parquet(path)
        )

    def month_files() -> dict[str, int]:
        out: dict[str, int] = {}
        for d in os.listdir(path):
            if d.startswith("order_month="):
                out[d.split("=", 1)[1]] = sum(
                    1
                    for f in os.listdir(os.path.join(path, d))
                    if f.endswith(".parquet")
                )
        return out

    files_before = month_files()
    compact_partitions(spark, path, target_file_bytes=512 * 1024 * 1024)
    files_after = month_files()
    file_counts = spark.createDataFrame(
        [
            (m, files_before[m], files_after.get(m, 0))
            for m in sorted(files_before)
        ],
        "order_month string, _n_before int, _n_after int",
    )
    agg = lambda df: df.groupBy("order_month").agg(  # noqa: E731
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("_rev"),
    )
    actual = agg(spark.read.parquet(path))
    expected = agg(staged).select(
        F.col("order_month").alias("_m"),
        F.col("n_rows").alias("_n_exp"),
        F.col("_rev").alias("_rev_exp"),
    )
    part_a = (
        actual.join(F.broadcast(file_counts), "order_month")
        .join(F.broadcast(expected), F.col("order_month") == F.col("_m"))
        .select(
            F.concat(F.lit("month:"), F.col("order_month")).alias("check_name"),
            "n_rows",
            F.col("_rev").cast("double").alias("measure"),
            ((F.col("_n_before") > 1) & (F.col("_n_after") == 1)).alias(
                "compacted"
            ),
            (
                (F.col("n_rows") == F.col("_n_exp"))
                & (F.col("_rev") == F.col("_rev_exp"))
            ).alias("content_preserved"),
        )
    )

    # -- part B: streaming upsert table ---------------------------------------
    ev = (
        load_table(spark, "events", sf_dir)
        .select("user_id", "event_id", "ts", "event_type", "value")
        .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    )
    upath = _scratch(f"compaction_audit_upsert_{tag}")
    # slice the feed by the SAME bucket hash the merge derives, so each
    # merge owns a disjoint bucket set and the manifest genuinely
    # fragments across three commit dirs (slicing by anything else makes
    # every merge rewrite all buckets and the last commit own the table)
    ub = F.pmod(F.hash(F.col("user_id")), F.lit(32))
    for lo, hi in ((0, 11), (11, 22), (22, 32)):
        merge_upsert_batch(
            ev.where((ub >= lo) & (ub < hi)),
            upath,
            key_cols=["user_id"],
            order_cols=["ts", "event_id"],
        )
    stats = compact_upsert_table(spark, upath)
    landed = read_upsert_table(spark, upath)
    sig = lambda df: df.agg(  # noqa: E731
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("value").cast("decimal(30,6)")).alias("_val"),
        F.sum(F.col("event_id").cast("decimal(30,0)")).alias("_ids"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    exp_rows = (
        ev.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    exp_sig = sig(exp_rows).select(
        F.col("n_rows").alias("_n_exp"),
        F.col("_val").alias("_val_exp"),
        F.col("_ids").alias("_ids_exp"),
    )
    part_b = (
        sig(landed)
        .crossJoin(F.broadcast(exp_sig))
        .select(
            F.lit("upsert_events").alias("check_name"),
            "n_rows",
            F.col("_val").cast("double").alias("measure"),
            F.lit(stats is not None and stats["dirs_before"] > 1).alias(
                "compacted"
            ),
            (
                (F.col("n_rows") == F.col("_n_exp"))
                & (F.col("_val") == F.col("_val_exp"))
                & (F.col("_ids") == F.col("_ids_exp"))
            ).alias("content_preserved"),
        )
    )
    return part_a.unionByName(part_b)


def corpus_shard_manifest(spark: SparkSession, sf_dir: str, n_shards: int = 16) -> DataFrame:
    """Training-data export sharding: assign every document a shard by
    md5 prefix (pure function of doc_id — reproducible, engine-neutral)
    and emit the shard manifest a downstream trainer consumes (doc
    counts, char volume, id range, source spread per shard).

    Scale shape: the shard id is a map-side expression — the only
    shuffle is the k-group manifest aggregation; the write side would
    `partitionBy(shard_id)` with this exact key, so manifest and layout
    can never disagree."""
    docs = load_table(spark, "documents", sf_dir)
    shard = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("shard#"), F.col("doc_id"))), 1, 7),
            16,
            10,
        ).cast("long"),
        F.lit(n_shards),
    ).cast("int")
    return (
        docs.withColumn("shard_id", shard)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
    )


def similarity_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index build with real Lloyd iterations (k=4, 2 rounds,
    deterministic first-k seeding) — the iterative-algorithm shape with
    a hash-exact unrolled oracle; see
    ``operators.similarity.ivf_kmeans_assign``."""
    emb = load_table(spark, "embeddings", sf_dir)
    return S.ivf_kmeans_assign(emb, "vec_id", "embedding", k=4, iters=2)


def corpus_coreset_kcenter(
    spark: SparkSession, sf_dir: str, k: int = 8
) -> DataFrame:
    """Diversity coreset over the embedding corpus: greedy
    farthest-point k-center selection + full assignment (see
    ``operators.similarity.kcenter_coreset`` — Gonzalez 1985, the
    diverse-subset-sampling primitive of a training-data pipeline,
    complementary to SemDeDup's redundancy removal: SemDeDup deletes
    near-twins, the coreset PICKS maximally-spread exemplars).  Built
    in r12, REGISTERED at the r13 rotation; oracle
    ``__spark_entry__._kcenter_oracle`` (unrolled greedy rounds,
    hash-exact), pinned in tests since r12."""
    emb = load_table(spark, "embeddings", sf_dir)
    return S.kcenter_coreset(emb, "vec_id", "embedding", k=k)


def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-aggregate maintenance: the monthly sales rollup is
    kept as ALGEBRAIC partials (count, exact decimal sum) so a delta
    batch folds in with a keyed merge instead of a base-table rescan —
    at 100 TB the base partial table is read once (here both sides are
    recomputed only because the driver query must be self-contained; the
    merge algebra is what's under test).  AVG is derived from the merged
    (sum, count) pair, never averaged across batches.  The oracle is the
    single-pass GROUP BY over the full table — equality proves the
    partial-merge algebra exact, including decimal-sum associativity.

    Scale shape: both partials shuffle once on the month key; the merge
    is a small full-outer equi-join on the same key (month cardinality
    ~= tens of rows), and the delta side is incremental by definition."""
    orders = load_table(spark, "orders", sf_dir)
    cutoff = F.lit("2000-01-01").cast("timestamp")
    month = (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("int")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(month.alias("month")).agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("_s"),
        )

    base = partial(orders.where(F.col("o_orderdate") < cutoff))
    delta = partial(orders.where(F.col("o_orderdate") >= cutoff))
    merged = base.alias("b").join(
        delta.alias("d"), "month", "full_outer"
    ).select(
        "month",
        (
            F.coalesce(F.col("b._n"), F.lit(0)) + F.coalesce(F.col("d._n"), F.lit(0))
        ).alias("n_orders"),
        (
            F.coalesce(F.col("b._s"), F.lit(0).cast("decimal(30,6)"))
            + F.coalesce(F.col("d._s"), F.lit(0).cast("decimal(30,6)"))
        ).alias("_total"),
    )
    return merged.select(
        "month",
        "n_orders",
        F.col("_total").cast("double").alias("revenue"),
        (F.col("_total").cast("double") / F.col("n_orders")).alias("avg_price"),
    )


def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy-hitter users (> 1/2000 of non-null event volume) via
    the two-phase Misra-Gries candidate pass + exact recount — bounded
    per-task memory at unbounded user cardinality; see
    ``operators.frequency.exact_heavy_hitters``."""
    from logistream_data_pipeline_aws_spark.operators.frequency import (
        exact_heavy_hitters,
    )

    events = load_table(spark, "events", sf_dir)
    return exact_heavy_hitters(events, ["user_id"], threshold_denom=2000)


def _staged_cust_supp_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged bipartite edge list shared by the iterative graph operators
    (PageRank rounds, BFS hop distance)."""

    def build() -> DataFrame:
        li = load_table(spark, "lineitem", sf_dir)
        orders = load_table(spark, "orders", sf_dir)
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
            .distinct()
            .persist()
        )

    return stage(spark, sf_dir, "cust_supp_edges", build)


def graph_hop_distance(spark: SparkSession, sf_dir: str, max_hops: int = 4) -> DataFrame:
    """BFS hop distance from a seed supplier over the bipartite
    customer-supplier graph — the frontier-expansion iteration pattern
    (reach analysis, blast-radius queries) next to the label-propagation
    (``dedup_clusters``) and score-push (``supplier_pagerank``) shapes.

    The seed is the graph's minimum supplier key (derived from the
    staged edge list, not hardcoded, so it exists at every scale
    factor).  Each unrolled round joins ONLY the new frontier against
    the staged edges and anti-joins the seen set — classic distributed
    BFS where per-round work is bounded by the frontier, not the graph,
    and first-discovery order is irrelevant (set semantics, no
    tie-break needed).  Bipartite structure alternates sides, so seen
    sets accumulate per side.  A production run would persist per-round
    frontiers past ~6 hops (lineage growth — the connected_components
    discipline); at 4 unrolled rounds the plan stays linear.

    ``max_hops`` must be an even integer >= 2: the bipartite alternation
    discovers customers on odd hops and suppliers on even hops, so an
    odd/zero count would end mid-alternation (and with 0 the customer
    side is never populated at all) — fail loudly at plan-construction
    time rather than with an AttributeError deep in the union.  For
    depth-until-quiescence, use ``graph_hop_distance_converged``."""
    if max_hops < 2 or max_hops % 2 != 0:
        raise ValueError(
            f"max_hops must be an even integer >= 2 (got {max_hops}): "
            "the bipartite BFS discovers customers on odd hops and "
            "suppliers on even hops, so both sides need at least one round"
        )
    edges = _staged_cust_supp_edges(spark, sf_dir)
    seed = edges.agg(F.min("s").alias("s"))
    seen_s = seed.select("s", F.lit(0).alias("hops"))
    seen_c = None
    frontier_s, frontier_c = seed, None
    for hop in range(1, max_hops + 1):
        if hop % 2 == 1:
            # no broadcast hint: hop-1's frontier is one row but later
            # frontiers approach the full node set — AQE picks the
            # strategy per round from the actual frontier size
            cand = edges.join(frontier_s.select("s"), "s").select("c").distinct()
            if seen_c is not None:
                cand = cand.join(seen_c.select("c"), "c", "left_anti")
            frontier_c = cand
            found = cand.select("c", F.lit(hop).alias("hops"))
            seen_c = found if seen_c is None else seen_c.unionByName(found)
        else:
            cand = (
                edges.join(frontier_c.select("c"), "c")
                .select("s")
                .distinct()
                .join(seen_s.select("s"), "s", "left_anti")
            )
            frontier_s = cand
            seen_s = seen_s.unionByName(cand.select("s", F.lit(hop).alias("hops")))
    return (
        seen_s.select(
            F.lit("S").alias("node_type"),
            F.col("s").alias("node_id"),
            F.col("hops").cast("int").alias("hops"),
        )
        .unionByName(
            seen_c.select(
                F.lit("C").alias("node_type"),
                F.col("c").alias("node_id"),
                F.col("hops").cast("int").alias("hops"),
            )
        )
    )


def supplier_pagerank(spark: SparkSession, sf_dir: str, iters: int = 2) -> DataFrame:
    """PageRank (damping 0.85, two synchronous rounds) over the bipartite
    customer-supplier graph induced by order lineitems — the second
    iterative-graph operator next to ``connected_components``, with the
    iterations unrolled in the oracle so scores are hash-exact.

    Engine-exact arithmetic: each neighbor contribution r/deg is cast to
    DECIMAL(38,18) before the sum (exact, order-independent), and the
    0.15 + 0.85 * sum recombination runs in double on both engines.

    Scale shape: the edge list — the expensive lineitem-joins-orders
    distinct — is STAGED (persisted once per application + sf_dir, the
    minhash-signature discipline): the unrolled rounds reference it
    ~8x, and without the persist every reference re-derived the whole
    join+distinct subtree (the plan audit showed 8 feed scans / 38
    exchanges).  Per round the cached edges shuffle once on the uniform
    join key (customer then supplier), degrees broadcast-join back, and
    score vectors are one row per node.  A fixed 2-round unroll needs no
    lineage cut; ``supplier_pagerank_converged`` runs the same push step
    to a fixed point with one."""
    edges = _staged_cust_supp_edges(spark, sf_dir)
    deg_c = edges.groupBy("c").agg(F.count(F.lit(1)).alias("deg_c"))
    deg_s = edges.groupBy("s").agg(F.count(F.lit(1)).alias("deg_s"))
    r_c = deg_c.select("c", F.lit(1.0).alias("r"))
    r_s = deg_s.select("s", F.lit(1.0).alias("r"))
    for _ in range(iters):
        r_c, r_s = (
            _pagerank_push(edges, r_s, deg_s, "s", "c"),
            _pagerank_push(edges, r_c, deg_c, "c", "s"),
        )
    return _pagerank_scores(_tag_sides(r_c, r_s))


def _pagerank_push(
    edges: DataFrame, scores: DataFrame, deg: DataFrame, from_col: str, to_col: str
) -> DataFrame:
    """One synchronous PageRank half-round: push every ``from_col`` node's
    score r/deg over ``edges`` onto the ``to_col`` side."""
    contrib = (
        edges.join(scores, from_col)
        .join(deg, from_col)
        .select(
            F.col(to_col),
            (F.col("r") / F.col(f"deg_{from_col}")).cast("decimal(38,18)").alias("_w"),
        )
    )
    return contrib.groupBy(to_col).agg(
        (F.lit(0.15) + F.lit(0.85) * F.sum("_w").cast("double")).alias("r")
    )


def _tag_sides(r_c: DataFrame, r_s: DataFrame) -> DataFrame:
    """Customer and supplier score vectors as one ``(node_type, node_id,
    r)`` frame."""
    return r_c.select(
        F.lit("C").alias("node_type"), F.col("c").alias("node_id"), "r"
    ).unionByName(
        r_s.select(F.lit("S").alias("node_type"), F.col("s").alias("node_id"), "r")
    )


def _pagerank_scores(r: DataFrame) -> DataFrame:
    return r.select("node_type", "node_id", F.round("r", 6).alias("score"))


def graph_hop_distance_converged(
    spark: SparkSession, sf_dir: str, max_hops: int = 20
) -> DataFrame:
    """Run-to-quiescence BFS (VERDICT r4 next-round #7): the same
    frontier-expansion rounds as ``graph_hop_distance``, but iterating
    until the frontier is EMPTY (every reachable node labeled) instead
    of a fixed unroll — the form a user actually points at an arbitrary
    graph, where the diameter is unknown.  ``max_hops`` is the runaway
    bound, not the expected depth.

    Driver-loop discipline: each round's frontier is persisted and
    counted — the count IS the quiescence check (a metadata-sized
    decision, the standard distributed-BFS shape; Pregel supersteps make
    the same call).  In a bipartite graph an empty frontier on either
    side ends the walk: the other side can only grow from it.  The
    fixed-unroll ``graph_hop_distance`` stays the oracle entry (its
    4-hop plan is exactly replayable in SQL); this is the production
    variant."""
    edges = _staged_cust_supp_edges(spark, sf_dir)
    seed = edges.agg(F.min("s").alias("s"))
    seen_s = seed.select("s", F.lit(0).alias("hops"))
    seen_c = None
    frontier_s, frontier_c = seed, None
    hop = 0
    while hop < max_hops:
        hop += 1
        if hop % 2 == 1:
            cand = edges.join(frontier_s.select("s"), "s").select("c").distinct()
            if seen_c is not None:
                cand = cand.join(seen_c.select("c"), "c", "left_anti")
        else:
            cand = (
                edges.join(frontier_c.select("c"), "c")
                .select("s")
                .distinct()
                .join(seen_s.select("s"), "s", "left_anti")
            )
        # eager localCheckpoint: materializes the frontier for the
        # quiescence check AND truncates lineage so the per-round plan
        # stays constant-size at any depth (a 30-round nested join plan
        # OOMed the driver during analysis before this)
        # NOT retained beyond the round: superseded frontier handles are
        # rebound (the checkpointed RDD stays alive only while `seen_*`
        # lineage references it), so a deep walk holds O(result) blocks,
        # not O(rounds x frontier) (r5 ADVICE)
        cand = cand.localCheckpoint(eager=True)
        if cand.isEmpty():
            break
        if hop % 2 == 1:
            frontier_c = cand
            found = cand.select("c", F.lit(hop).alias("hops"))
            seen_c = found if seen_c is None else seen_c.unionByName(found)
        else:
            frontier_s = cand
            seen_s = seen_s.unionByName(cand.select("s", F.lit(hop).alias("hops")))
    out_s = seen_s.select(
        F.lit("S").alias("node_type"),
        F.col("s").alias("node_id"),
        F.col("hops").cast("int").alias("hops"),
    )
    if seen_c is None:
        return out_s
    return out_s.unionByName(
        seen_c.select(
            F.lit("C").alias("node_type"),
            F.col("c").alias("node_id"),
            F.col("hops").cast("int").alias("hops"),
        )
    )


def supplier_pagerank_converged(
    spark: SparkSession,
    sf_dir: str,
    tol: float = 1e-6,
    max_iters: int = 30,
) -> DataFrame:
    """Delta-terminated PageRank (VERDICT r4 next-round #7): the same
    synchronous score-push rounds as ``supplier_pagerank``, iterating
    until the largest per-node score change on both sides drops below
    ``tol`` (or ``max_iters`` as the runaway bound).  The per-round
    delta is one max-aggregate over the joined old/new score vectors —
    a scalar action per iteration, the standard driver-loop shape for
    fixed-point algorithms.  Both score vectors ride one ``(node_type,
    node_id, r)`` frame that ``fixed_point.iterate`` cuts every round, so
    the per-round plan stays constant-size at any iteration count
    (nested persist-only plans OOMed driver analysis around 30 rounds)
    and only the final round's blocks outlive the call.  The fixed
    2-round ``supplier_pagerank`` stays the oracle entry (exactly
    replayable as unrolled SQL); this is the variant to run to an
    actual fixed point."""
    edges = _staged_cust_supp_edges(spark, sf_dir)
    deg_c = edges.groupBy("c").agg(F.count(F.lit(1)).alias("deg_c")).persist()
    deg_s = edges.groupBy("s").agg(F.count(F.lit(1)).alias("deg_s")).persist()

    def _round(r: DataFrame) -> DataFrame:
        def side(t: str, key: str) -> DataFrame:
            return r.where(F.col("node_type") == t).select(
                F.col("node_id").alias(key), "r"
            )

        return _tag_sides(
            _pagerank_push(edges, side("S", "s"), deg_s, "s", "c"),
            _pagerank_push(edges, side("C", "c"), deg_c, "c", "s"),
        )

    def _settled(old: DataFrame, new: DataFrame) -> bool:
        d = (
            new.withColumnRenamed("r", "r_new")
            .join(old.withColumnRenamed("r", "r_old"), ["node_type", "node_id"], "full")
            .agg(
                F.max(
                    F.abs(F.coalesce("r_new", F.lit(0.0)) - F.coalesce("r_old", F.lit(0.0)))
                )
            )
            .first()[0]
        )
        return d is None or d < tol

    try:
        r, _ = iterate(
            _tag_sides(
                deg_c.select("c", F.lit(1.0).alias("r")),
                deg_s.select("s", F.lit(1.0).alias("r")),
            ),
            _round,
            max_iters,
            done=_settled,
        )
    finally:
        # the result reads only the final cut, so the degree tables go
        deg_c.unpersist()
        deg_s.unpersist()
    return _pagerank_scores(r)


# -- snapshot CDC diff + multi-dimensional layout ---------------------------


def snapshot_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture diff between two warehouse snapshots of orders:
    emits one row per inserted / deleted / updated key with the before and
    after measure, dropping unchanged rows.  The batch cousin of
    ``events_stream_upsert`` — a nightly reconciliation job answers "what
    did yesterday's load actually change" with exactly this operator.

    The two snapshots are carved deterministically from the one committed
    orders table (no side files, so the oracle sees identical inputs):
    keys ending in 3 are missing from the old snapshot (-> insert), keys
    ending in 5 are missing from the new one (-> delete), keys ending in
    7 carry a corrected price (-> update).

    Plan shape: ONE full-outer equi-join on the natural key — both sides
    hash-partition on o_orderkey, so at 100 TB this is a co-partitioned
    shuffle join (or exchange-free over snapshots bucketed on the key,
    the ``fact_lineitem_bucketed`` layout); the change classification is
    pure row-local projection.  Never a row-by-row driver loop."""
    orders = load_table(spark, "orders", sf_dir)
    base = orders.select("o_orderkey", "o_totalprice")
    old = base.where(F.pmod(F.col("o_orderkey"), F.lit(10)) != 3).select(
        F.col("o_orderkey").alias("k_old"),
        F.when(
            F.pmod(F.col("o_orderkey"), F.lit(10)) == 7,
            F.col("o_totalprice") - F.lit(10.0),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("old_totalprice"),
    )
    new = base.where(F.pmod(F.col("o_orderkey"), F.lit(10)) != 5).select(
        F.col("o_orderkey").alias("k_new"),
        F.col("o_totalprice").alias("new_totalprice"),
    )
    diff = old.join(new, old.k_old == new.k_new, "full_outer")
    return (
        diff.select(
            F.coalesce("k_old", "k_new").alias("o_orderkey"),
            F.when(F.col("k_old").isNull(), F.lit("insert"))
            .when(F.col("k_new").isNull(), F.lit("delete"))
            .otherwise(F.lit("update"))
            .alias("change_type"),
            "old_totalprice",
            "new_totalprice",
        )
        .where(
            # presence diff (insert/delete) or a NULL-SAFE value diff:
            # a key whose measure is NULL in both snapshots is unchanged,
            # and a bare isNull arm would report it forever (probe find)
            F.col("k_old").isNull()
            | F.col("k_new").isNull()
            | ~F.col("old_totalprice").eqNullSafe(F.col("new_totalprice"))
        )
    )


def orders_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering profile of orders over the two
    dominant filter axes, order day x customer key: every row gets the
    interleaved-bit key (``functions.keys.zorder_key``), and the profile
    aggregates each coarse z-range (z_key >> 18) to its row count and its
    min/max span on BOTH axes.

    This is the planning half of OPTIMIZE ZORDER: sorting/range-
    partitioning the write by ``z_key`` (through ``sources.io
    .compact_table``'s rewrite) makes each output file's min/max span
    narrow on day AND customer simultaneously, so a 2-D predicate prunes
    files on either axis — where a single-column sort only prunes one.
    The profile itself is the evidence: per-range day spans and customer
    spans are both small fractions of the global range.  All pure long
    arithmetic in one hash aggregate; no shuffle beyond the groupBy."""
    from logistream_data_pipeline_aws_spark.functions.keys import zorder_key

    orders = load_table(spark, "orders", sf_dir)
    day = F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date"))
    z = zorder_key(day, F.col("o_custkey"), bits=16)
    return (
        orders.select(
            F.shiftright(z, 18).cast("int").alias("z_range"),
            z.alias("z_key"),
            day.cast("long").alias("day_nr"),
            F.col("o_custkey").cast("long").alias("custkey"),
        )
        .groupBy("z_range")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("z_key").alias("z_min"),
            F.max("z_key").alias("z_max"),
            F.min("day_nr").alias("day_min"),
            F.max("day_nr").alias("day_max"),
            F.min("custkey").alias("cust_min"),
            F.max("custkey").alias("cust_max"),
        )
        .select(
            "z_range", "n_rows", "z_min", "z_max",
            "day_min", "day_max", "cust_min", "cust_max",
        )
    )


def doc_chunking(
    spark: SparkSession, sf_dir: str, window: int = 200, stride: int = 150
) -> DataFrame:
    """Overlapping context-window chunking of documents — the step between
    "cleaned corpus" and "embedding/RAG input": each doc yields character
    windows of ``window`` chars every ``stride`` chars (trailing chunks
    shorter, empty/NULL docs yield nothing).

    Plan shape: chunk starts are a ``sequence`` array of ints (cheap,
    codegen) exploded with position, and the chunk text is a substring of
    the ORIGINAL text column — so the per-row work is O(chunks), no
    re-derivation of an expensive array (the ``explode_once`` trap only
    bites CPU-heavy array builds), no shuffle at all: scan -> generate ->
    project.  At 100 TB this is embarrassingly parallel and the output
    inherits the input partitioning."""
    docs = load_table(spark, "documents", sf_dir)
    n = F.length("text")
    starts = F.when(
        F.col("text").isNotNull() & (n > 0),
        F.sequence(F.lit(0), n - F.lit(1), F.lit(stride)),
    )
    return (
        docs.select("doc_id", "text", starts.alias("_starts"))
        .select("doc_id", "text", F.posexplode("_starts").alias("chunk_id", "chunk_start"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.col("chunk_start").cast("int").alias("chunk_start"),
            F.substring(F.col("text"), F.col("chunk_start") + F.lit(1), F.lit(window)).alias(
                "chunk_text"
            ),
        )
        .withColumn("chunk_chars", F.length("chunk_text").cast("int"))
    )


def events_stream_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-static broadcast enrichment as a driver-checkable
    query (``streaming.pipeline.stream_static_join``): file-source events
    stream joined per micro-batch against the static customer dimension
    (user_id -> c_custkey, the dual-feed scenario's lookup side).  The
    join is stateless — the dim is broadcast to each micro-batch, no
    stream-side state, no watermark needed — so the availableNow drain
    is deterministic and the oracle is the equivalent batch left join.

    At scale this is the canonical "enrich the firehose" shape: the
    static side refreshes per batch and never shuffles the stream."""
    from logistream_data_pipeline_aws_spark.catalog import events_stream
    from logistream_data_pipeline_aws_spark.functions.normalize import norm_key
    from logistream_data_pipeline_aws_spark.streaming.pipeline import (
        run_available_now,
        stream_static_join,
    )

    dim = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("user_id"),
        norm_key("c_mktsegment").alias("segment"),
    )
    name = "events_stream_enriched_sink"
    with events_stream(spark, sf_dir) as stream:
        enriched = stream_static_join(
            stream.select("event_id", "user_id", "value"), dim, on="user_id"
        ).select("event_id", "user_id", "segment", "value")
        run_available_now(enriched, name, output_mode="append")
    return spark.table(name)


def events_value_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) feature binning of the events value per event
    type — the discretization step between raw telemetry and a model
    feature.  Two passes: per-type decile cutpoints (exact interpolated
    percentile, the oracle-checkable baseline; at 100 TB swap in
    approx_percentile exactly as events_value_quantiles notes), then the
    cutpoint rows — types x 9 doubles, trivially broadcast — join back
    and the bin index is a row-local sum of threshold comparisons.  The
    profile aggregates each (type, bin) to count and value span.

    NULL values are excluded up front (percentile ignores them; a NULL
    comparison would bin them arbitrarily); cutpoints round to 6dp, the
    proven cross-engine-exact surface for interpolated percentiles."""
    events = load_table(spark, "events", sf_dir).where(F.col("value").isNotNull())
    qs = [i / 10 for i in range(1, 10)]
    cuts = events.groupBy("event_type").agg(
        *[
            F.round(F.expr(f"percentile(value, {q})"), 6).alias(f"p{i}")
            for i, q in enumerate(qs, start=1)
        ]
    )
    bin_expr = sum(
        F.when(F.col("value") > F.col(f"p{i}"), F.lit(1)).otherwise(F.lit(0))
        for i in range(1, 10)
    )
    return (
        events.join(F.broadcast(cuts), "event_type")
        .select("event_type", bin_expr.cast("int").alias("bin"), "value")
        .groupBy("event_type", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .select("event_type", "bin", "n_events", "lo", "hi")
    )


def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily / weekly active users and stickiness (DAU/WAU) — the product
    health metric family.  The hard part is the ROLLING DISTINCT: WAU on
    day d counts distinct users over [d-6, d], and no window frame can
    sum distincts.  Decomposition: dedup to (day, user) pairs once, then
    scatter each pair onto the 7 anchor days it contributes to (explode
    of a constant 0..6 offset array — a 7x fan-out of the already
    day-deduped pairs, NOT of raw events) and count distinct per anchor.
    Exact, shuffle-bounded by (days x users), no per-day window sort.
    At 100 TB the same shape runs with HLL sketches (approx_count_
    distinct merges across anchors) — this exact form is the
    oracle-checkable baseline.  Stickiness = DAU/WAU, the one double
    division both engines share bit-for-bit."""
    events = load_table(spark, "events", sf_dir).where(F.col("user_id").isNotNull())
    du = events.select(F.to_date("ts").alias("d"), "user_id").distinct()
    dau = du.groupBy("d").agg(F.countDistinct("user_id").alias("dau"))
    anchored = du.select(
        "d", "user_id", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off")
    ).select(F.date_add(F.col("d"), F.col("off")).alias("anchor"), "user_id")
    wau = anchored.groupBy("anchor").agg(F.countDistinct("user_id").alias("wau"))
    return (
        dau.join(wau, dau.d == wau.anchor)
        .select(
            "d", "dau", "wau", (F.col("dau") / F.col("wau")).alias("stickiness")
        )
    )


def basket_part_pairs(spark: SparkSession, sf_dir: str, min_support: int = 2) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought together in at
    least ``min_support`` orders — the frequent-itemset k=2 pass every
    retail stack runs (and the candidate-generation step of Apriori).

    Plan shape: dedup to (order, part) pairs, then ONE co-partitioned
    self equi-join on the order key with ``part_a < part_b`` ordering
    the pair canonically and halving the output.  The fan-out is bounded
    by order size squared (orders hold ~a few parts), NOT corpus
    size — this is the same bounded-blowup argument as the LSH bucket
    caps, and at 100 TB the join is a single shuffle of the deduped
    pair list (or exchange-free over order-bucketed tables).  The
    support HAVING prunes the long tail before it leaves the
    aggregation."""
    li = load_table(spark, "lineitem", sf_dir)
    bp = li.select("l_orderkey", "l_partkey").distinct()
    a = bp.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("part_a"))
    b = bp.select(F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, (a.o == b.o2) & (F.col("part_a") < F.col("part_b")))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= min_support)
        .select("part_a", "part_b", "n_orders")
    )


def events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC (open / high / low / close) candle per event type —
    the canonical time-bucket downsample for any tick-shaped feed
    (prices, sensor gauges, metrics), and the other classic hypertable
    rollup next to gap-fill and TWAP.

    Open and close are the first/last values by (ts, event_id) inside
    the bucket — row_number against one ordered window partitioned per
    (type, day), with the bucket size from a whole-partition frame on
    the SAME partitioning (no second shuffle), then a conditional-max
    aggregate collapses the bucket.  This shape is deliberately
    portable: neither engine's argmin/argmax accepts a composite
    tie-break key, but row_number semantics are identical everywhere.
    NULL values are non-ticks and are excluded before ranking so open
    and close are always real observations."""
    from pyspark.sql import Window

    e = (
        load_table(spark, "events", sf_dir)
        .where(F.col("value").isNotNull())
        .select("event_type", F.to_date("ts").alias("d"), "ts", "event_id", "value")
    )
    wo = Window.partitionBy("event_type", "d").orderBy("ts", "event_id")
    wp = Window.partitionBy("event_type", "d")
    ranked = e.select(
        "event_type",
        "d",
        "value",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    return ranked.groupBy("event_type", "d").agg(
        F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn") == F.col("n"), F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
    )


def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection on daily volume per event type: median /
    MAD (median absolute deviation) z-scores, the outlier test that a
    single spike cannot poison the way it poisons mean/stddev — the
    alerting query behind every operational "traffic looks wrong" page.

    One scan: the daily aggregate (decimal sum at the value's 2dp
    grain), then median and MAD attach via two whole-partition
    percentile WINDOWS over the same per-type partitioning — no
    join-back, no re-derivation, one shuffle total, and the window
    input is the aggregated (types x days) frame, never raw events.
    The robust z is the textbook 0.6745 * (x - med) / mad with the two
    percentiles rounded at 6dp (the proven cross-engine surface) and
    the remaining arithmetic ordered identically in both engines;
    an all-constant series (MAD 0) yields NULL z and never alerts."""
    from pyspark.sql import Window

    events = load_table(spark, "events", sf_dir)
    daily = events.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(30,2)")).cast("double").alias(
            "daily_total"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )
    wm = Window.partitionBy("event_type")
    withmed = daily.withColumn(
        "med", F.round(F.expr("percentile(daily_total, 0.5)").over(wm), 6)
    )
    withmad = withmed.withColumn(
        "mad",
        F.round(F.expr("percentile(abs(daily_total - med), 0.5)").over(wm), 6),
    )
    z = F.when(
        F.col("mad") > 0,
        (F.lit(0.6745) * (F.col("daily_total") - F.col("med"))) / F.col("mad"),
    )
    return withmad.select(
        "event_type",
        "d",
        "daily_total",
        "n_events",
        z.alias("robust_z"),
        F.coalesce(F.abs(z) > 2.5, F.lit(False)).alias("is_anomaly"),
    )


def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact-recall near-dup pair mining via prefix filtering (see
    operators.dedup_family.prefix_filter_pairs): candidates join only on
    each document's rarest 5-shingles, so unlike MinHash-LSH every
    qualifying pair sharing an under-cap prefix token is guaranteed
    found (recall is exact subject to the 1024-id prefix-bucket cap,
    whose drops the operator logs), and unlike the blocked-jaccard
    form no surrogate blocking key partitions the corpus.  On this
    corpus the prefix is near-perfect: candidate count equals the true
    pair count at sf0.1.  The 5-shingle item-set frame is staged per
    session (the minhash-signature discipline): the operator references
    it three times — rarity explode plus both exact-verify sides — and
    the shingle build is the CPU-heavy interpreted stage.

    The big-big merge-join insurance is SIZE-GATED (r5 VERDICT #2): the
    forced sort-merge joins exist because corpus-sized broadcast
    misestimates OOM at probe scale, but below ~100k documents every
    build side is definitionally broadcast-safe and the forced sorts
    were the entire r4->r5 bench regression (+1.7 s at sf0.1).  The
    gate reads the parquet-metadata row count (a footer statistic, not
    a scan) and keeps the insurance above the threshold — the 100x
    probe path (500k docs) still runs fully merge-joined."""
    docs = load_table(spark, "documents", sf_dir)
    # the gate decision is staged with the item-set frame: one
    # metadata-count job per (session, corpus), not one per run
    base, big_corpus = stage(
        spark, sf_dir, "prefix_item_sets",
        lambda: (
            D.build_item_sets(docs, "doc_id", "text", k_shingle=5).persist(),
            docs.count() > 100_000,
        ),
    )
    return D.prefix_filter_pairs(
        docs,
        "doc_id",
        "text",
        threshold=0.5,
        k_shingle=5,
        base=base,
        prefer_merge=big_corpus,
    )


def events_attribution_decayed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay attribution: each purchase credits its most recent
    preceding touch with ``value * 2^-age_days`` (halving per day,
    20-day window — the width also keeps the scaled decimal sum's
    unscaled integer under 2^53, where DuckDB's int128-to-double cast
    starts double-rounding) — the recency-weighted sibling of the
    first/last touch model.

    EXACT across engines despite the exponential: the decay base is 2
    and the age is an integer, so the weight is an exact binary
    fraction; the sum runs as ``decimal(value) * 2^(30-age)`` — an
    integer-scaled decimal, order-independent — and one closing
    division by 2^20 (an exact double scaling, not a rounding) restores
    the magnitude.  No transcendental ever executes, so there is
    nothing for libm to disagree about.  Same strictly-preceding
    per-user frame and NULL gates as ``events_attribution``."""
    from pyspark.sql import Window

    events = (
        load_table(spark, "events", sf_dir)
        .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id", "event_type", "value")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type") != "purchase",
        F.struct(F.to_date("ts").alias("d"), F.col("event_type").alias("t")),
    )
    last_touch = F.last(touch, ignorenulls=True).over(w)
    attributed = (
        events.select(
            "event_type",
            "value",
            F.to_date("ts").alias("p_day"),
            last_touch.alias("lt"),
        )
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("lt.t").alias("channel"),
            "value",
            F.datediff(F.col("p_day"), F.col("lt.d")).alias("age_days"),
        )
        .where(
            F.col("channel").isNotNull()
            & (F.col("age_days") <= 20)
            & F.col("value").isNotNull()
        )
    )
    # SQL form: the python shiftleft binding only takes a literal count
    scaled = F.col("value").cast("decimal(18,2)") * F.expr(
        "shiftleft(1L, 20 - age_days)"
    ).cast("decimal(12,0)")
    return attributed.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        (F.sum(scaled).cast("double") / F.lit(float(1 << 20))).alias(
            "decayed_value"
        ),
    )


def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user journeys: how
    often each event type follows each other type, with the row-
    normalized transition probability — the sequence-mining summary
    behind next-action prediction and journey anomaly alerts.

    One LAG window partitioned per user (bounded by one user's history,
    shuffle-parallel at any scale) pairs each event with its
    predecessor; the pair counts collapse to a (types x types) frame
    before the normalizing window runs, so the per-prev-type total is a
    whole-partition sum over ~25 rows, never over raw events.  The
    probability is one long/long double division — bit-identical in
    both engines."""
    from pyspark.sql import Window

    events = (
        load_table(spark, "events", sf_dir)
        # NULL ts excluded: the walk order would diverge (Spark NULLS
        # FIRST vs DuckDB NULLS LAST) and a timeless event has no place
        # in a sequence anyway (NULL-degenerate probe finding)
        .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id", "event_type")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    wt = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n_transitions",
        (
            F.col("n_transitions") / F.sum("n_transitions").over(wt)
        ).alias("p_transition"),
    )


def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly rollup with last-observation-carried-forward
    interpolation — the hypertable `time_bucket_gapfill + locf` shape
    that turns an irregular event feed into a dense, chartable series.

    One pass over the feed: hourly aggregate (decimal sum -> one double
    division, the proven cross-engine-exact average), then each observed
    bucket SCATTERS itself plus the empty hours up to its successor
    (``lead`` + ``sequence`` explode — no bounds frame, no spine join,
    so the aggregate subtree is never re-derived and events is scanned
    once), and a running ``last(ignorenulls)`` window carries the latest
    observed average across the fill rows (and through buckets whose
    events all carry NULL values — scattering the source average alone
    would stop the carry there).  Both windows share the per-event_type
    partitioning, so the whole fill stage costs ONE shuffle after the
    aggregate, and its state is bounded by the TIME RANGE, not the
    corpus: at 100 TB the hourly aggregate has already reduced the feed
    to (types x hours) rows.  Empty buckets report n_events = 0,
    is_gap = true, and the carried value (NULL until a type's first
    observation).  NULL-timestamp events have no position in time and
    are excluded — Spark orders NULLS FIRST where DuckDB orders them
    LAST, so leaving them in diverges the lead walk (NULL-degenerate
    probe finding)."""
    from pyspark.sql import Window

    events = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(30,6)")).alias("sv"),
        F.count("value").alias("nv"),
    )
    scattered = (
        hourly.withColumn(
            "nxt", F.lead("hr").over(Window.partitionBy("event_type").orderBy("hr"))
        )
        .select(
            "event_type",
            "n",
            "nv",
            "sv",
            F.col("hr").alias("src_hr"),
            F.explode(
                F.expr(
                    "sequence(hr, coalesce(nxt - interval 1 hour, hr), interval 1 hour)"
                )
            ).alias("hr"),
        )
    )
    observed = F.col("hr") == F.col("src_hr")
    filled = scattered.select(
        "event_type",
        "hr",
        F.when(observed, F.col("n")).otherwise(F.lit(0)).cast("long").alias(
            "n_events"
        ),
        (~observed).alias("is_gap"),
        F.when(
            observed & (F.col("nv") > 0), F.col("sv").cast("double") / F.col("nv")
        ).alias("_avg"),
    )
    wfill = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "event_type",
        "hr",
        "n_events",
        "is_gap",
        F.last("_avg", ignorenulls=True).over(wfill).alias("value_locf"),
    )


def events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily time-weighted average (TWAP) of the events value per event
    type — the time-series aggregate where each observation is weighted
    by how long it was the latest one, not by its sample count (the
    standard fix for irregular sampling, e.g. prices or sensor gauges).

    Each event is paired with its successor via LEAD inside a
    (event_type, day) partition — deliberately day-scoped so the window
    state is bounded by a day's events and the job parallelizes across
    days at 100 TB (the cross-midnight interval is dropped, the standard
    daily-TWAP convention).  Weights are integer microseconds; the
    weighted sum runs in decimal and the single closing double division
    is the one float op, so both engines agree bit-for-bit.  NULL-valued
    events are excluded up front (they are non-observations, and leaving
    them in would silently zero their interval's contribution)."""
    from pyspark.sql import Window

    events = (
        load_table(spark, "events", sf_dir)
        .where(F.col("value").isNotNull())
        .select("event_type", F.to_date("ts").alias("d"), "ts", "event_id", "value")
    )
    w = Window.partitionBy("event_type", "d").orderBy("ts", "event_id")
    paired = events.select(
        "event_type",
        "d",
        "value",
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))).alias(
            "dt_us"
        ),
    ).where(F.col("dt_us").isNotNull())
    return paired.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dt_us").alias("span_us"),
        # Exactness contract: dt_us is cast to DECIMAL(14,0) explicitly
        # (a bare decimal x bigint multiply exceeds Spark's 38-digit cap
        # and silently shaves scale), and value is cast at SCALE 2 — its
        # data grain — not 6, so the weighted sum's unscaled integer
        # stays under 2^53 and both engines' decimal->double casts round
        # once (DuckDB double-rounds int128-sized decimals).
        (
            F.sum(
                F.col("value").cast("decimal(18,2)")
                * F.col("dt_us").cast("decimal(14,0)")
            ).cast("double")
            / F.sum("dt_us")
        ).alias("twap"),
    )


def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch conversion attribution: every purchase
    is credited to the channel (event type) of the user's first and most
    recent preceding non-purchase events, then revenue rolls up per
    (first_touch, last_touch) path — the marketing-attribution query
    every event warehouse serves.

    One pass over the feed: a per-user ordered window computes
    ``first(touch, ignorenulls)`` and ``last(touch, ignorenulls)`` over
    the strictly-preceding frame (UNBOUNDED PRECEDING .. 1 PRECEDING),
    so a purchase never attributes to itself or to later events, and a
    user's opening purchase lands in the (NULL, NULL) organic bucket.
    The window is partitioned by user — bounded by one user's history,
    shuffle-parallel across users at any scale.  Revenue sums run in
    decimal (order-independent); ties inside a user's history break on
    event_id so both engines walk the same sequence."""
    from pyspark.sql import Window

    events = (
        load_table(spark, "events", sf_dir)
        # NULL ts excluded for the same walk-order reason as the
        # transition matrix (NULL-degenerate probe finding)
        .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id", "event_type", "value")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    attributed = events.select(
        "event_type",
        "value",
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
    ).where(F.col("event_type") == "purchase")
    return attributed.groupBy("first_touch", "last_touch").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias(
            "attributed_value"
        ),
    )


def corpus_split_assignment(
    spark: SparkSession, sf_dir: str, val_pct: int = 5, test_pct: int = 5
) -> DataFrame:
    """Deterministic train/val/test split assignment — the step between
    corpus curation and training: every document gets a stable split
    label derived ONLY from its id (md5 bucket 0-99), so the assignment
    is reproducible run-to-run, engine-to-engine, and under corpus
    growth (a new document never flips an old one's split — the
    hash-bucket contract rate-based sampling can't give).  Salted
    domain-separated hash (``split#`` prefix) keeps this independent of
    every other md5-derived decision in the pipeline (sampling, shard
    assignment), so split membership never correlates with, e.g.,
    shard placement.

    Scale shape: a pure projection — no shuffle, no state, trivially
    parallel at 100 TB; the label is computable at ingest time.  Hash
    uniformity gives each stratum the target rates in expectation;
    the companion aggregate views (GROUP BY split/lang) are one-line
    consumers of this frame."""
    if not (0 < val_pct + test_pct < 100):
        raise ValueError("val_pct + test_pct must be in (0, 100)")
    docs = load_table(spark, "documents", sf_dir)
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("split#"), F.col("doc_id"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    bucket = F.pmod(h, F.lit(100))
    split = (
        F.when(bucket < 100 - val_pct - test_pct, F.lit("train"))
        .when(bucket < 100 - test_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.select(
        "doc_id",
        "lang",
        "source",
        bucket.cast("int").alias("bucket"),
        split.alias("split"),
    )


def lineitem_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiling of the biggest staging table — the
    data-quality report every ingest pipeline runs before accepting a
    batch: per column, row count, NULL count, exact distinct count, and
    NULL fraction.  Complements ``warehouse_integrity_audit`` (which
    checks referential facts this profile can't see).

    Plan shape: one ``stack`` unpivot (k columns -> k rows per input
    row, all stringified — counting is representation-invariant, so the
    cross-engine float-formatting trap never applies) feeding a single
    grouped aggregation; Spark plans the multi-distinct as the standard
    two-phase expand (partial distinct on (column, value), then the
    per-column rollup) — both shuffles are map-side combinable and the
    second is k rows.  At 100 TB the exact-distinct phase shuffles each
    column's distinct values once — the honest cost of an exact answer;
    the sketch path for monitoring-grade profiles is
    ``events_sketch_profile``'s HLL pattern (approx_count_distinct), a
    one-line swap.  The NULL fraction is a single int/int division —
    bit-identical cross-engine without a decimal shim."""
    li = load_table(spark, "lineitem", sf_dir)
    stack_args = ", ".join(
        f"'{c}', CAST({c} AS STRING)" for c in li.columns
    )
    unpivoted = li.select(
        F.expr(
            f"stack({len(li.columns)}, {stack_args}) AS (column_name, val)"
        )
    )
    return unpivoted.groupBy("column_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("val").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null"),
        F.countDistinct("val").alias("n_distinct"),
        (
            F.sum(F.when(F.col("val").isNull(), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("null_frac"),
    )


def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-2 ingest admission: the incoming shard (every 10th doc_id —
    the held-out-batch convention ``contamination_check`` set) checked
    against the existing corpus (the other 90%) by ASYMMETRIC banded
    LSH + exact-Jaccard verify, per ``operators.incremental``.  One
    report row per incoming doc: how many verified corpus near-dups it
    has, its best Jaccard, and the admission verdict (``accepted`` =
    zero corpus near-dups).  Shard docs too short to shingle admit
    trivially — nothing to collide on.

    Shares the staged signature table with the self-join family
    (``_staged_minhash_sigs``: tokenize/shingle/hash runs once per
    session), same banding layout, same threshold (0.2) as
    ``dedup_minhash_lsh`` — so at warehouse scale this is exactly the
    "join today's shard against yesterday's signature table" plan, with
    candidate cost bounded by the shard, never the corpus."""
    from logistream_data_pipeline_aws_spark.operators.incremental import (
        incremental_near_duplicates,
    )

    sigs, _big = _staged_minhash_sigs(spark, sf_dir)
    incoming = sigs.where(F.col("doc_id") % 10 == 0)
    corpus = sigs.where(F.col("doc_id") % 10 != 0)
    pairs = incremental_near_duplicates(
        incoming, corpus, n_hashes=12, bands=4, threshold=0.2
    )
    per_doc = pairs.groupBy("in_id").agg(
        F.count(F.lit(1)).alias("_n"),
        F.max("jaccard").alias("_best"),
    )
    shard = (
        load_table(spark, "documents", sf_dir)
        .where(F.col("doc_id") % 10 == 0)
        .select("doc_id")
    )
    return (
        shard.join(per_doc, shard.doc_id == per_doc.in_id, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_n"), F.lit(0).cast("long")).alias("n_corpus_dups"),
            F.col("_best").alias("best_jaccard"),
            F.col("_n").isNull().alias("accepted"),
        )
    )


def similarity_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN end-to-end: train m=4 subspace codebooks
    (k=8 each, 2 Lloyd rounds, deterministic seeding), encode the corpus
    to 4 small codes per vector, and answer 3 queries by asymmetric
    distance computation — top-10 candidates per query ranked by the
    summed query-to-centroid subdistances.  The compression answer to
    the ANN memory problem: at 100 TB the scoring join reads only the
    integer codes, never the raw embedding column, and the codebooks +
    distance tables stay broadcast-sized by construction (m*k and
    n_queries*m*k rows).  Hash-exact vs an unrolled DuckDB replay of the
    full train/encode/score pipeline (the ``similarity_ivf_kmeans``
    oracle discipline, generalized per-subspace); see
    ``operators.pq.pq_codes`` / ``pq_adc_topk``."""
    from logistream_data_pipeline_aws_spark.operators import pq as PQ

    emb = load_table(spark, "embeddings", sf_dir)
    return PQ.pq_adc_topk(
        emb, "vec_id", "embedding", dim=64, m=4, k=8, iters=2,
        n_queries=3, k_top=10,
    )


def similarity_pq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ search — ADC shortlist (top-50 by compressed-code
    distance) then EXACT re-rank of only those candidates' raw vectors
    (top-10 out).  The deployment shape of product quantization: the
    approximation bounds what is READ (50/corpus of the embedding
    column per query, via a broadcast semi-join), exact math decides
    what is RETURNED, and the only recall loss is ADC error past the
    shortlist boundary.  Completes the ANN family's quality ladder:
    brute (exact, reads everything) -> IVF/LSH (reads a bucket) ->
    PQ-ADC (reads codes only) -> PQ+refine (codes for candidates, raw
    vectors for winners).  Hash-exact vs the unrolled DuckDB replay
    (training + encoding + ADC + the exact-fold re-rank); see
    ``operators.pq.pq_refine_topk``."""
    from logistream_data_pipeline_aws_spark.operators import pq as PQ

    emb = load_table(spark, "embeddings", sf_dir)
    return PQ.pq_refine_topk(
        emb, "vec_id", "embedding", dim=64, m=4, k=8, iters=2,
        n_queries=3, k_shortlist=50, k_top=10,
    )


def lineitem_column_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of ``lineitem_column_profile``: the exact-distinct
    shuffle (each column's full distinct value set crossing the wire) is
    replaced by HLL++ (``approx_count_distinct``, rsd=0.02) — fixed
    ~kB-per-column sketch memory, map-side combinable, one pass.  The
    docstring note on the exact form promised this swap was one line;
    this registers it under the driver gate.

    Driver-verifiable via the ``events_sketch_profile_checked`` verdict
    pattern: the exact distinct count rides alongside ONLY to pin the
    sketch (at scale it is exactly what you refuse to compute) and the
    output emits a BOOLEAN accuracy verdict (10% allowed vs the 2%
    configured rsd — deterministic for any correct HLL) that the DuckDB
    oracle pins to TRUE, so every output column stays engine-exact."""
    li = load_table(spark, "lineitem", sf_dir)
    stack_args = ", ".join(
        f"'{c}', CAST({c} AS STRING)" for c in li.columns
    )
    unpivoted = li.select(
        F.expr(
            f"stack({len(li.columns)}, {stack_args}) AS (column_name, val)"
        )
    )
    return unpivoted.groupBy("column_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("val").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null"),
        (
            F.sum(F.when(F.col("val").isNull(), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("null_frac"),
        (
            F.abs(
                F.approx_count_distinct("val", rsd=0.02)
                - F.countDistinct("val")
            )
            <= 0.10 * F.countDistinct("val")
        ).alias("approx_distinct_ok"),
    )


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first step of BPE tokenizer training at corpus scale: mine
    the top adjacent-symbol-pair merge candidates, weighted by word
    frequency.  The decomposition is what makes this 100 TB-safe: the
    corpus is touched ONCE to build the (word, freq) vocabulary — a
    classic map-side-combinable word count — and all pair mining runs
    over the VOCABULARY (bounded by distinct words, not corpus size),
    exploding each distinct word's adjacent positions with the word's
    frequency riding along.  A naive per-occurrence explode would
    shuffle corpus-sized pair rows; this shuffles vocabulary-sized.

    Words are lowercase ASCII letter runs (``[a-z]+`` — identical
    class-only regex semantics in Java and RE2); single-letter words
    carry no pairs and are gated BEFORE the position sequence (a
    length-1 word would make ``sequence(1, 0)`` descend — the
    ``route_geometry_stats`` degenerate-input lesson applied at design
    time).  Output: top 30 pairs by total weighted count, ties broken
    on the pair string; ``n_words`` = distinct vocabulary words
    containing the pair."""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    vocab = (
        docs.where(F.col("text").isNotNull())
        .select(
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0))
            ).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = (
        vocab.where(F.length("word") >= 2)
        .select(
            "word",
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
        )
        .select(
            F.expr("substring(word, i, 2)").alias("pair"),
            "word",
            "freq",
        )
        .groupBy("pair")
        .agg(
            F.countDistinct("word").alias("n_words"),
            F.sum("freq").alias("pair_count"),
        )
    )
    w = Window.orderBy(F.col("pair_count").desc(), F.col("pair"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 30)
        .select("pair", "n_words", "pair_count", "rank")
    )


def bpe_encode_stats(
    spark: SparkSession, sf_dir: str, n_merges: int = 8
) -> DataFrame:
    """APPLY the mined BPE merges — tokenizer train -> encode, closing
    the loop ``bpe_merge_candidates`` opened: take the top ``n_merges``
    character pairs (rank order: weighted count desc, pair — the
    miner's own deterministic cut, collected to the driver as
    vocabulary-grade metadata, the heavy-hitters-recount precedent) and
    encode every document, reporting per-doc token accounting:
    ``n_words``, ``n_alpha_chars``, ``n_bpe_tokens``, and the
    compression ratio a trainer budgets context length with.

    Greedy single-pass merge application is computed CLOSED-FORM, no
    per-row loop and no sequential fold: for each word, mark which
    adjacent positions form a mergeable pair (``m_i``), and observe
    that greedy left-to-right merging collapses each maximal RUN of L
    consecutive mergeable positions into ceil(L/2) merges — so
    ``n_tokens = len(word) - sum(ceil(L/2))``.  The run lengths come
    from splitting the 0/1 mark string on '0' — pure
    transform/array_join/split expressions with identical semantics in
    Spark and DuckDB, so the oracle replays the whole train+encode
    pipeline hash-exactly.  (Single-pass char-pair application is one
    ROUND of BPE — exactly what the single-pass miner produces; the
    iterated mine->apply loop is tokenizer training's outer loop, out
    of scope for corpus accounting.)

    Scale shape: one corpus pass mines the vocabulary (the miner's
    map-side-combinable word count), 8 strings come back to the driver,
    and one more corpus pass encodes — map-only expressions plus a
    per-doc aggregation; nothing data-sized leaves the executors."""
    ranked = bpe_merge_candidates(spark, sf_dir)
    merges = [
        r.pair for r in ranked.where(F.col("rank") <= n_merges).collect()
    ]
    ml = F.array(*[F.lit(p) for p in merges])
    docs = load_table(spark, "documents", sf_dir).where(F.col("text").isNotNull())
    words = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0))
        ).alias("w"),
    ).where(F.col("w") != "")
    # '1' where (c_i, c_i+1) is a mergeable pair, '' for 1-char words
    # (sequence(1, 0) would DESCEND — the miner's own degenerate gate)
    bits = F.when(F.length("w") < 2, F.lit("")).otherwise(
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.when(
                    F.array_contains(ml, F.substring(F.col("w"), i, F.lit(2))),
                    F.lit("1"),
                ).otherwise(F.lit("0")),
            ),
            "",
        )
    )
    runs = F.split(bits, "0")
    # ceil(L/2) per run: (L+1) div 2, exact small-int arithmetic
    n_merged = F.aggregate(
        F.transform(runs, lambda f: F.floor((F.length(f) + 1) / 2).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    per_word = words.select(
        "doc_id",
        F.length("w").cast("long").alias("n_chars"),
        (F.length("w") - n_merged).cast("long").alias("n_tokens"),
    )
    return per_word.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("n_chars").alias("n_alpha_chars"),
        F.sum("n_tokens").alias("n_bpe_tokens"),
        F.round(
            F.sum("n_chars").cast("double") / F.sum("n_tokens").cast("double"), 6
        ).alias("chars_per_token"),
    )


def corpus_epoch_shuffle(spark: SparkSession, sf_dir: str, n_shards: int = 16) -> DataFrame:
    """Deterministic global shuffle for a training epoch: every document
    gets a pseudo-random permutation position — (shard, intra-shard
    position) — that any engine reproduces bit-for-bit, so an epoch can
    be exported, resumed, or audited without materializing a seed state.

    Unlike ``corpus_shard_manifest``'s mod-hash sharding, the shard here
    is a RANGE bucket of the hash (the first md5 nibble for 16 shards):
    shard files are hash-contiguous, which is exactly what
    ``repartitionByRange(hash)`` produces on a cluster — so this plan IS
    the deterministic replacement for sampled range boundaries, and the
    (shard, pos) pair defines a total epoch order a trainer can seek
    into.  The intra-shard window is a per-shard sort (what
    ``sortWithinPartitions`` does on the export write), skew-free
    because md5 is uniform; no global single-partition sort anywhere.
    The hash is domain-separated (``epoch1#``) from the split/shard
    decisions so epoch order never correlates with split membership;
    ties are impossible at the full-hash grain but doc_id rides as the
    formal tiebreak."""
    from pyspark.sql import Window

    if n_shards != 16:
        raise ValueError("prefix-nibble sharding is defined for n_shards=16")
    docs = load_table(spark, "documents", sf_dir)
    h = F.md5(F.concat(F.lit("epoch1#"), F.col("doc_id")))
    keyed = docs.select(
        "doc_id",
        h.alias("shuffle_key"),
        F.conv(F.substring(h, 1, 1), 16, 10).cast("int").alias("shard_id"),
    )
    w = Window.partitionBy("shard_id").orderBy("shuffle_key", "doc_id")
    return keyed.select(
        "doc_id",
        "shard_id",
        F.row_number().over(w).cast("long").alias("pos"),
    )


def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture planning — the step BEFORE
    ``corpus_mixture_sample``'s application: derive per-source sampling
    weights that upweight minority sources without flattening them
    completely.  Temperature alpha=0.5 (the multilingual-pretraining
    convention): temp_share_i = n_i^0.5 / sum_j n_j^0.5, and
    repeat_factor = temp_share / natural_share is the effective
    epochs-per-source a trainer applies.

    alpha=0.5 is chosen deliberately for engine determinism: sqrt is
    IEEE-correctly-rounded in every engine (a general pow(x, alpha) is
    not), and sqrt(n_i/N) cancels to sqrt(n_i)/sum sqrt(n_j), so each
    term is a single exact operation on an integer-valued double.  The
    cross-source total follows the decimal-sum contract (DECIMAL(30,12)
    quantization — binary doubles never land on .5e-12 ties — exact
    order-independent sum), and every emitted ratio is one double
    division of two deterministic values: bit-identical cross-engine
    with no rounding fudge.

    Scale shape: one k-group aggregation (map-side combinable) and a
    broadcast singleton total — the corpus is touched once regardless
    of size."""
    docs = load_table(spark, "documents", sf_dir)
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    s = F.sqrt(F.col("n_docs").cast("double")).cast("decimal(30,12)")
    keyed = per_src.withColumn("_s", s)
    totals = keyed.agg(
        F.sum("n_docs").alias("_ntot"), F.sum("_s").alias("_stot")
    )
    return keyed.join(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "total_chars",
        (F.col("n_docs").cast("double") / F.col("_ntot").cast("double")).alias(
            "natural_share"
        ),
        (F.col("_s").cast("double") / F.col("_stot").cast("double")).alias(
            "temp_share"
        ),
        (
            (F.col("_s").cast("double") / F.col("_stot").cast("double"))
            / (F.col("n_docs").cast("double") / F.col("_ntot").cast("double"))
        ).alias("repeat_factor"),
    )


def embedding_outliers(spark: SparkSession, sf_dir: str, k_top: int = 20) -> DataFrame:
    """Embedding QC: flag the vectors farthest from the corpus centroid
    (corrupt encodes, wrong-modality rows, collapsed embeddings) by
    z-scored squared distance.  The filter every embedding ingest runs
    before the vectors feed dedup/ANN — a distribution-level check the
    per-vector ``embedding_stats`` can't see.

    Deterministic end-to-end so the oracle replays it: the per-dim
    centroid is the DECIMAL(30,8) exact mean (the k-means mean
    contract), d2 is the left-fold squared distance, the d2 moment sums
    are DECIMAL(30,8)-quantized (exact, order-independent), and sigma =
    sqrt(E[d2^2] - mu^2) uses only IEEE-exact ops on deterministic
    values.  Top-k is orderBy+limit — Spark plans TakeOrdered (per-task
    heaps + driver merge of k rows), never a global sort shuffle — with
    vec_id as the formal tiebreak.

    Scale shape: one (dim)-group shuffle for the centroid, a broadcast
    singleton join, one map-side-combinable moment aggregation, and the
    TakeOrdered cut; the corpus streams through twice, nothing
    corpus-sized ever concentrates."""
    emb = load_table(spark, "embeddings", sf_dir)
    vecs = emb.select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("_v"),
    )
    cent = (
        vecs.select(F.posexplode("_v").alias("_pos", "_x"))
        .groupBy("_pos")
        .agg(
            (
                F.sum(F.col("_x").cast("decimal(30,8)")).cast("double")
                / F.count(F.lit(1))
            ).alias("_mu")
        )
        .groupBy()
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_pos", "_mu"))),
                lambda s: s.getField("_mu"),
            ).alias("_c")
        )
    )
    d2 = F.aggregate(
        F.zip_with("_v", "_c", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    scored = vecs.crossJoin(F.broadcast(cent)).select(
        "vec_id", "label", d2.alias("_d2")
    )
    stats = scored.agg(
        (
            F.sum(F.col("_d2").cast("decimal(30,8)")).cast("double")
            / F.count(F.lit(1))
        ).alias("_m1"),
        (
            F.sum((F.col("_d2") * F.col("_d2")).cast("decimal(30,8)")).cast("double")
            / F.count(F.lit(1))
        ).alias("_m2"),
    )
    z = F.when(
        F.sqrt(F.col("_m2") - F.col("_m1") * F.col("_m1")) > 0,
        (F.col("_d2") - F.col("_m1"))
        / F.sqrt(F.col("_m2") - F.col("_m1") * F.col("_m1")),
    )
    from pyspark.sql import Window

    # the cut and the rank both order by the UNROUNDED z (rounding is
    # display-only; a rounded sort key would put the tie right on the
    # half-ulp boundary the determinism contract avoids)
    topk = (
        scored.crossJoin(F.broadcast(stats))
        .select("vec_id", "label", "_d2", z.alias("_z"))
        .orderBy(F.col("_z").desc(), F.col("vec_id"))
        .limit(k_top)
    )
    w = Window.orderBy(F.col("_z").desc(), F.col("vec_id"))
    return (
        topk.withColumn("rank", F.row_number().over(w).cast("int"))
        .select(
            "vec_id",
            "label",
            F.round("_d2", 6).alias("dist2"),
            F.round("_z", 6).alias("zscore"),
            "rank",
        )
    )


def doc_unigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality scoring (the CCNet idea at unigram grain): score
    each document by the mean corpus probability of its token
    occurrences — low scorers are gibberish/OOV-heavy docs the local
    heuristics (``corpus_quality_filter``) cannot see, because the
    reference model here is the corpus itself.

    Logs are avoided deliberately: ln/log2 are not IEEE-exact and differ
    in the last ulp across engines, while mean-p needs only exact
    operations — p(w) = n_w/N is one double division, each doc's
    contribution cnt*p quantizes to DECIMAL(30,12) and sums exactly, and
    the final mean is one more double division.  12dp, not 18: a
    scale-18 cast keeps ~17 significant digits of a ~1e-2 product —
    inside the zone where Spark's shortest-repr cast and DuckDB's
    binary-value cast disagree by an ulp — while 12dp stays >=2 digits
    clear of it at every magnitude here, and the <=5e-13-per-term
    quantization error is noise against a 1e-2-scale score.  The ranking this induces is monotone in the
    geometric-ish quality signal a trainer thresholds on.

    Scale shape: (doc, word) pre-aggregation BEFORE the vocabulary join
    (the join input is distinct-pairs-sized, not occurrence-sized), one
    equi-join on the uniform word key (broadcastable when the
    vocabulary is small; the equi-join holds at any vocabulary size),
    one doc-grain combine.  The corpus is scanned once."""
    docs = load_table(spark, "documents", sf_dir)
    words = (
        docs.where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0))
            ).alias("word"),
        )
        .where(F.col("word") != "")
    )
    doc_word = words.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("n_w"))
    totals = vocab.agg(F.sum("n_w").alias("_n_total"))
    p = F.col("n_w").cast("double") / F.col("_n_total").cast("double")
    return (
        doc_word.join(vocab, "word")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            (
                F.sum((F.col("cnt") * p).cast("decimal(30,12)")).cast("double")
                / F.sum("cnt").cast("double")
            ).alias("mean_token_p"),
        )
    )


def fact_backfill_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill planning over a month-partitioned fact: given the CDC
    diff (``snapshot_cdc_diff``'s deterministic carve), decide PER TIME
    PARTITION whether the nightly job should rewrite the partition or
    row-level-merge into it — the dynamic-partition-overwrite vs MERGE
    decision every lakehouse loader makes, driven by the change
    fraction (rewrite when >20% of the partition changed: sequential
    rewrite beats random-access merge on dense change sets).

    Plan shape: the diff's changed KEYS (never payloads) join back to
    the committed table for their partition month — a co-partitioned
    key equi-join — then two small month-grain aggregations meet in one
    broadcastable join.  At 100 TB the plan output is months, the only
    corpus-sized work is the diff join itself, and the emitted actions
    drive exactly which partitions the writer touches (the
    ``fact_date_slice`` pruning contract on the write side)."""
    orders = load_table(spark, "orders", sf_dir)
    month = (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("int")
    changed = (
        snapshot_cdc_diff(spark, sf_dir)
        .select("o_orderkey", "change_type")
        .join(orders.select("o_orderkey", month.alias("month")), "o_orderkey")
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_changed"),
            F.sum(F.when(F.col("change_type") == "insert", 1).otherwise(0))
            .cast("long")
            .alias("n_inserts"),
            F.sum(F.when(F.col("change_type") == "delete", 1).otherwise(0))
            .cast("long")
            .alias("n_deletes"),
            F.sum(F.when(F.col("change_type") == "update", 1).otherwise(0))
            .cast("long")
            .alias("n_updates"),
        )
    )
    totals = orders.groupBy(month.alias("month")).agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    frac = F.col("n_changed").cast("double") / F.col("n_total").cast("double")
    return changed.join(totals, "month").select(
        "month",
        "n_changed",
        "n_inserts",
        "n_deletes",
        "n_updates",
        "n_total",
        frac.alias("change_frac"),
        F.when(frac > 0.2, F.lit("rewrite_partition"))
        .otherwise(F.lit("merge_rows"))
        .alias("action"),
    )


def dedup_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-level survivorship (the MDM "golden record"): where
    ``dedup_survivors`` keeps one WHOLE row per exact-content group,
    this merges the best value PER FIELD across the group's members —
    modal non-null lang and source (frequency-weighted, lexicographic
    tiebreak: the standard survivorship rule for categorical fields),
    max n_chars, min doc_id as the stable golden key.  A group whose
    members all lack a field yields NULL for it (left joins against the
    modal tables).

    Plan shape: one content-hash aggregation for the skeleton plus one
    small (hash, value)-grain count + per-hash window per categorical
    field — every shuffle keys on the uniform content hash, the modal
    windows partition by it (bounded by group size), and the joins are
    hash-keyed equi-joins.  Nothing corpus-wide ever concentrates, so
    the merge holds at any corpus size."""
    from pyspark.sql import Window

    from logistream_data_pipeline_aws_spark.functions.text import fingerprint

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        fingerprint("text").alias("content_hash"),
        "lang",
        "source",
        "n_chars",
    )
    base = docs.groupBy("content_hash").agg(
        F.min("doc_id").alias("golden_id"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max("n_chars").alias("max_chars"),
    )

    def modal(col: str) -> DataFrame:
        cnt = (
            docs.where(F.col(col).isNotNull())
            .groupBy("content_hash", col)
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        w = Window.partitionBy("content_hash").orderBy(
            F.col("_c").desc(), F.col(col)
        )
        return (
            cnt.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("content_hash", col)
        )

    return (
        base.join(modal("lang"), "content_hash", "left")
        .join(modal("source"), "content_hash", "left")
        .select(
            "content_hash", "golden_id", "n_members", "lang", "source", "max_chars"
        )
    )


def sales_forecast_ses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment single-exponential-smoothing forecast over the daily
    revenue series — the recursive cousin of ``sales_trendline_ols``
    (level-tracking where OLS is trend-fitting; SES's one-step-ahead
    forecast IS its final smoothed level).  The recursion
    ``s_t = a*x_t + (1-a)*s_{t-1}`` cannot be a window (each value
    depends on the previous RESULT, not the previous row), so it runs
    as a LEFT FOLD over the day-ordered series: per segment, the daily
    totals collect into one calendar-bounded array (<= ~2500 elements
    at any fact scale — bounded by the date range, not the data) and
    ``F.aggregate`` folds it in order.

    Determinism: alpha = 0.5, so every step is one IEEE multiply-add of
    exact binary fractions over deterministic inputs (each day's total
    is an exact DECIMAL(30,6) sum cast once to double), and both
    engines fold the identical list in identical order — bit-exact
    without tolerances, rounded 6dp only at the output.  Scale shape:
    one map-side-combinable daily aggregation, then a per-segment
    collect of a calendar-bounded array — the same bound the gap-fill
    and backlog walks rely on; no unpartitioned window, no driver
    loop."""
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    daily = (
        orders.where(F.col("o_orderdate").isNotNull())
        .join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy(
            "c_mktsegment",
            F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date"))
            .cast("long")
            .alias("x"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("y")
        )
    )
    series = daily.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("x", "y"))), lambda s: s.y
        ).alias("_ys"),
    )
    level = F.aggregate(
        F.slice("_ys", 2, F.size("_ys")),
        F.element_at("_ys", 1),
        lambda acc, v: F.lit(0.5) * v + F.lit(0.5) * acc,
    )
    return series.select(
        "c_mktsegment",
        "n_days",
        F.round(F.element_at("_ys", -1), 6).alias("last_actual"),
        F.round(level, 6).alias("ses_level"),
        # SES's h-step forecast is flat at the level
        F.round(level, 6).alias("forecast_next"),
    )


def sales_trendline_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment revenue trendline by closed-form OLS over daily
    totals — the "is this segment growing and how fast" regression a
    BI layer fits constantly, computed as pure aggregation: y = daily
    revenue (exact DECIMAL(30,6) sum per day), x = day number, and the
    five moment sums (n, Sx, Sxx, Sy, Sxy, Syy) reduce in ONE
    map-side-combinable pass; slope/intercept/r2 are closed-form row
    arithmetic on the 5-row result.  No iterative fitting, no window —
    the classic "ML as aggregation" decomposition that scales as a
    word count.

    Determinism: the integer moments (n, Sx, Sxx) are exact longs (max
    ~4e13, inside both engines' 64-bit range and double-exact), the
    revenue moments quantize each term to DECIMAL(30,6) and sum
    exactly, and every derived statistic is a fixed dag of double
    ops on those deterministic values — bit-identical cross-engine,
    rounded 6dp only at the output.  Degenerate groups (a single day:
    zero x-variance) yield NULL slope/intercept/r2 via an explicit
    denominator gate."""
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    daily = (
        orders.where(F.col("o_orderdate").isNotNull())
        .join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy(
            "c_mktsegment",
            F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date"))
            .cast("long")
            .alias("x"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("y")
        )
    )
    m = daily.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(30,6)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(30,6)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(30,6)"))
        .cast("double")
        .alias("syy"),
    )
    n = F.col("n_days").cast("double")
    den_x = n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    den_y = n * F.col("syy") - F.col("sy") * F.col("sy")
    num = n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    slope = F.when(den_x > 0, num / den_x)
    intercept = F.when(
        den_x > 0, (F.col("sy") - slope * F.col("sx").cast("double")) / n
    )
    r2 = F.when((den_x > 0) & (den_y > 0), (num * num) / (den_x * den_y))
    return m.select(
        "c_mktsegment",
        "n_days",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def events_orc_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source round trip — the third columnar container after
    parquet and the row formats (S7/S8 family): the events table is
    written as ORC (Spark's native reader/writer, zlib default) and
    re-read with the explicit engine schema.  The oracle reads the
    ORIGINAL parquet, so any ORC encode/decode infidelity — timestamp
    precision (ORC stores nanos-capable timestamps; the round trip must
    preserve the micros exactly), NULL handling, string encoding in the
    nested-JSON props column — breaks the hash.  At scale ORC is the
    interop surface for Hive-era warehouses; the engine treats it as a
    first-class citizen of the same catalog schema contract
    (never inferSchema)."""
    from pyspark.sql import types as T

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = _scratch(f"events_orc_{tag}")
    events = load_table(spark, "events", sf_dir)
    events.write.mode("overwrite").orc(path)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    back = spark.read.schema(schema).orc(path)
    return back.select("event_id", "ts", "user_id", "event_type", "value", "props")


def events_stream_jdbc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming aggregate maintained in an RDBMS: the watermarked hourly
    rollup drains through ``foreach_batch_jdbc_overwrite`` into embedded
    in-memory Derby (the container's only real database — a deployment
    swaps the URL for its warehouse) and the registered result is the
    JDBC READBACK, so the oracle check covers the whole
    stream -> complete-mode foreachBatch -> RDBMS -> subquery-read loop,
    including Derby's type round trip (BIGINT/DOUBLE/TIMESTAMP/VARCHAR).
    Composes S4/S5 (JDBC read/append, previously batch-only) with the
    §2.9 streaming surface."""
    from logistream_data_pipeline_aws_spark.catalog import events_stream
    from logistream_data_pipeline_aws_spark.sources.jdbc import read_subquery
    from logistream_data_pipeline_aws_spark.streaming.pipeline import (
        foreach_batch_jdbc_overwrite,
        windowed_aggregate,
    )

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    url = f"jdbc:derby:memory:lsdp_stream_sink_{tag};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    ckpt = _scratch(f"events_stream_jdbc_hourly_ckpt_{tag}")
    with events_stream(spark, sf_dir) as stream:
        agg = windowed_aggregate(stream, "1 hour", "2 hours")
        foreach_batch_jdbc_overwrite(
            agg, url, "stream_hourly", props, checkpoint=ckpt
        )
    # Spark's JDBC writer CREATEs the COLUMNS quoted (case-preserving)
    # but leaves the TABLE name to Derby's upper-casing — so the
    # readback quotes exactly the identifiers the writer quoted
    return read_subquery(
        spark,
        url,
        'SELECT "window_start", "event_type", "n_events", "total_value" '
        "FROM stream_hourly",
        props,
    )


def events_stream_jdbc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed incremental RDBMS maintenance (VERDICT r5 next-round #8):
    the hourly rollup streamed into embedded Derby through
    ``foreach_batch_jdbc_upsert`` — update output mode, so each
    micro-batch carries only the (window, event_type) aggregates that
    changed, and the sink applies DELETE+INSERT per affected key instead
    of rewriting the table (the complete-mode
    ``events_stream_jdbc_hourly`` is the overwrite counterpart; this is
    the template for unbounded key domains).  The registered result is
    the JDBC READBACK, so the oracle covers stream -> update-mode
    foreachBatch -> keyed MERGE -> RDBMS -> subquery read, and any
    duplicate key the DELETE missed doubles a count and fails the hash.
    The late-correction replay (a second drain updating already-landed
    windows in place) is pinned in ``test_streaming.py``."""
    from logistream_data_pipeline_aws_spark.catalog import events_stream
    from logistream_data_pipeline_aws_spark.sources.jdbc import read_subquery
    from logistream_data_pipeline_aws_spark.streaming.pipeline import (
        foreach_batch_jdbc_upsert,
        windowed_aggregate,
    )

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    url = f"jdbc:derby:memory:lsdp_upsert_sink_{tag};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    ckpt = _scratch(f"events_stream_jdbc_upsert_ckpt_{tag}")
    with events_stream(spark, sf_dir) as stream:
        agg = windowed_aggregate(stream, "1 hour", "2 hours").withColumn(
            "upsert_key",
            F.concat_ws(
                "|", F.col("window_start").cast("string"), F.col("event_type")
            ),
        )
        foreach_batch_jdbc_upsert(
            agg,
            url,
            "stream_hourly_upsert",
            "upsert_key",
            props,
            checkpoint=ckpt,
            create_table_column_types=(
                "upsert_key VARCHAR(160), event_type VARCHAR(128)"
            ),
        )
    return read_subquery(
        spark,
        url,
        'SELECT "window_start", "event_type", "n_events", "total_value" '
        "FROM stream_hourly_upsert",
        props,
    )


def _ensure_upsert_cdc_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-once-per-(session, sf_dir) scratch upsert table shared by
    ``events_upsert_changes`` and ``events_upsert_timetravel``: v1 = the
    even-event_id slice merged, v2 = the full feed merged (retention=2
    keeps both snapshots readable).  Re-invoking either entry (bench
    best-of-N, the scale probe's timed pairs) must read the SAME two
    snapshots, not stack extra merges that age v1/v2 past retention —
    so a (re)build starts from an empty path."""
    import shutil

    from logistream_data_pipeline_aws_spark.streaming.pipeline import (
        merge_upsert_batch,
    )

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = _scratch(f"events_upsert_changes_{tag}")

    def build() -> str:
        shutil.rmtree(path, ignore_errors=True)
        ev = (
            load_table(spark, "events", sf_dir)
            .select("user_id", "event_id", "ts", "event_type", "value")
            .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        )
        merge_upsert_batch(
            ev.where(F.pmod(F.col("event_id"), F.lit(2)) == 0),
            path, key_cols=["user_id"], order_cols=["ts", "event_id"],
            retention=2,
        )
        merge_upsert_batch(
            ev, path, key_cols=["user_id"], order_cols=["ts", "event_id"],
            retention=2,
        )
        return path

    return stage(spark, sf_dir, "upsert_cdc_table", build)


def events_upsert_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed DELETE under an exact oracle — the GDPR-erasure story of
    the upsert table, REGISTERED at the r8 rotation (the r7 head
    window is fully committed to the staleness queue; until then this
    entry is pytest-pinned in ``tests/test_extensions.py``).

    Build once per (session, sf_dir), from an empty path: v1 = the full
    gated feed merged
    (one row per user, argmax by (ts, event_id)); v2 =
    ``delete_upsert_keys`` erasing every user with ``user_id % 10 == 3``
    — the key set and bucket count resolve from the MANIFEST-RECORDED
    merge contract (no caller-supplied key columns).  Emits the
    post-delete snapshot tagged ``row_kind='survivor'`` unioned with the
    CDC view of the erasure (``read_upsert_changes(v1, v2)`` delete
    rows: key + NULL payload) tagged ``row_kind='deleted'``.

    Round-8 oracle (DuckDB):

        WITH ev AS (SELECT user_id, event_id, ts, event_type, value
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        w AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY
        user_id ORDER BY ts DESC, event_id DESC) AS rn FROM ev)
        WHERE rn = 1)
        SELECT 'survivor' AS row_kind, user_id, event_id, ts,
        event_type, value FROM w WHERE user_id % 10 <> 3
        UNION ALL SELECT 'deleted', user_id, CAST(NULL AS BIGINT),
        CAST(NULL AS TIMESTAMP), CAST(NULL AS VARCHAR),
        CAST(NULL AS DOUBLE) FROM w WHERE user_id % 10 = 3

    Scale shape: the delete rewrites ONLY the buckets holding doomed
    keys (anti-join per bucket), the CDC diff reads only buckets whose
    ownership moved, and the erasure key set stays distributed end to
    end — nothing data-sized crosses to the driver."""
    import shutil

    from logistream_data_pipeline_aws_spark.streaming.pipeline import (
        delete_upsert_keys,
        merge_upsert_batch,
        read_upsert_changes,
        read_upsert_table,
    )

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = _scratch(f"events_upsert_delete_{tag}")

    def build() -> str:
        shutil.rmtree(path, ignore_errors=True)
        ev = (
            load_table(spark, "events", sf_dir)
            .select("user_id", "event_id", "ts", "event_type", "value")
            .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        )
        merge_upsert_batch(
            ev, path, key_cols=["user_id"], order_cols=["ts", "event_id"],
            retention=2,
        )
        doomed = (
            ev.select("user_id")
            .where(F.pmod(F.col("user_id"), F.lit(10)) == 3)
            .distinct()
        )
        # key_cols / n_buckets resolve from the manifest contract
        delete_upsert_keys(spark, path, doomed)
        return path

    stage(spark, sf_dir, "upsert_delete_table", build)
    survivors = (
        read_upsert_table(spark, path)
        .drop("_ub")
        .withColumn("row_kind", F.lit("survivor"))
    )
    erased = (
        read_upsert_changes(spark, path, from_version=1, to_version=2)
        .where(F.col("_change_type") == "delete")
        .drop("_change_type")
        .withColumn("row_kind", F.lit("deleted"))
    )
    return survivors.unionByName(erased)


def events_upsert_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed between two snapshots of the keyed upsert table
    (the Delta-CDF shape, derived from time travel): land the events
    feed as two deterministic merges — the even event_ids, then the full
    feed — and emit ``read_upsert_changes(v1, v2)``: per-user inserts
    (users whose only events are odd-id) and update postimages (users
    whose argmax winner moved), diffed bucket-pruned through the
    immutable manifest archives (identical commit directories cannot
    contain changes and are never read).  The oracle replays both
    snapshots as batch argmaxes over the same slices and diffs them —
    any divergence in the commit, archive, time-travel, or diff path
    breaks the hash."""
    from logistream_data_pipeline_aws_spark.streaming.pipeline import (
        read_upsert_changes,
    )

    path = _ensure_upsert_cdc_table(spark, sf_dir)
    return read_upsert_changes(spark, path, from_version=1, to_version=2)


def events_upsert_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TRAVEL reads of the upsert table under the driver's oracle
    (VERDICT r6 next-round #3): the same scratch table as
    ``events_upsert_changes`` (v1 = even-event_id merge, v2 = full
    feed), but instead of diffing, each retained snapshot is read
    whole through ``read_upsert_table(version=...)`` — resolving the
    immutable ``_manifest.v<N>.json`` archive — and emitted tagged with
    its version.  The oracle replays both snapshots as batch argmaxes
    over the same slices, so any divergence in the archive index, the
    per-version bucket resolution, or snapshot isolation (v1 rows
    leaking v2 payloads or vice versa) breaks the hash.

    Scale shape: two manifest-resolved bucket-pruned parquet scans and a
    union — no shuffle at all; the only driver-side values are the two
    manifest dicts (metadata-sized)."""
    from logistream_data_pipeline_aws_spark.streaming.pipeline import (
        read_upsert_table,
    )

    path = _ensure_upsert_cdc_table(spark, sf_dir)
    frames = []
    for version in (1, 2):
        frames.append(
            read_upsert_table(spark, path, version=version)
            .drop("_ub")
            .withColumn("snapshot_version", F.lit(version).cast("int"))
        )
    return frames[0].unionByName(frames[1])


def media_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-batched multimodal CODEC path under the driver gate:
    binary payloads (document text bytes — the container's stand-in for
    media blobs) flow through ``extract_image_features``'s
    ``mapInPandas`` record batches with the deterministic fake codec
    pinned explicitly (``use_fake_codec=True`` — the oracle must stay
    stable even on a machine where PIL exists).  The fake derives
    (width, height, mean_byte) purely from the payload bytes, so a
    DuckDB oracle replays it via hex-pair byte extraction — upgrading
    the codec plumbing from pytest-only to hash-exact evidence.  NULL
    payloads are gated (a real codec has nothing to decode; the oracle
    mirrors the gate)."""
    from logistream_data_pipeline_aws_spark.operators.multimodal import (
        extract_image_features,
    )

    docs = load_table(spark, "documents", sf_dir)
    media = docs.where(F.col("text").isNotNull()).select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
    )
    return extract_image_features(media, use_fake_codec=True)


def media_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AUDIO leg of the multimodal plumbing under an exact oracle —
    windowed amplitude features over binary payloads via Arrow-batched
    ``mapInPandas`` (``operators.multimodal.extract_audio_windows``).
    The codec is the documented stub (payload bytes are the u8 samples;
    a real deployment swaps soundfile/ffmpeg into the same closure), so
    every feature derives from the bytes and a DuckDB oracle replays it
    with hex-pair extraction — the ``media_image_features`` discipline.
    Completes the modality set: image (``media_image_features``), video
    frame sampling (``media_frames``), audio windows (here).  Registered
    at the r9 rotation; also pinned against a literal
    DuckDB replay in ``tests/test_extensions.py``.

    Round-9 oracle (DuckDB):

        WITH m AS (SELECT doc_id AS media_id, encode(text) AS payload
          FROM documents WHERE text IS NOT NULL),
        b AS (SELECT media_id,
          ('0x' || substr(h, CAST(i * 2 + 1 AS INT), 2))::BIGINT AS amp,
          CAST(i // 64 AS INT) AS window_idx FROM (SELECT media_id,
          hex(payload) AS h, unnest(range(0, octet_length(payload)))
          AS i FROM m))
        SELECT media_id, window_idx, CAST(COUNT(*) AS BIGINT) AS
          n_samples, CAST(SUM(amp) AS DOUBLE) / CAST(COUNT(*) AS
          BIGINT) AS mean_amp, CAST(MAX(amp) AS INT) AS peak_amp
        FROM b GROUP BY media_id, window_idx

    Scale shape: Arrow record batches in, one output row per 64-byte
    window (linear in payload volume), no shuffle at all on the Spark
    side — the window aggregation happens inside the batch closure
    because windows never cross payload boundaries."""
    from logistream_data_pipeline_aws_spark.operators.multimodal import (
        extract_audio_windows,
    )

    docs = load_table(spark, "documents", sf_dir)
    media = docs.where(F.col("text").isNotNull()).select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
    )
    return extract_audio_windows(media, window_bytes=64)


def corpus_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END corpus dedup pass a training-data pipeline
    actually runs — exact dedup, then minhash-LSH near-dup clustering,
    then exact-substring coverage — composed from this engine's three
    verified stages with per-stage DROP ATTRIBUTION, so the output is
    both the survivor set and the audit of why every document left.
    Registered at the r9 rotation; also pinned against a
    literal DuckDB replay in ``tests/test_extensions.py``.

    Stage semantics (precedence order, one disposition per document):

    1. ``drop_exact`` — not the min-id of its normalized-content md5
       group (the ``dedup_exact`` contract; NULL-text documents form
       one group with one survivor, same as the registered operator).
    2. ``drop_near`` — survived exact but is not the minimum
       EXACT-SURVIVING member of its minhash-LSH connected component
       (the ``dedup_clusters`` labels; taking the min over survivors —
       not over all members — means an exact-dropped cluster minimum
       never kills its whole cluster).
    3. ``drop_substring`` / ``trim`` — survived both, and the
       ``doc_substring_dedup`` coverage verdict (mined over the FULL
       corpus, as Lee et al. run the pass) says >= 50% / >= 5% of its
       characters duplicate an earlier document.
    4. ``keep`` otherwise.

    Output: (doc_id, cluster_id, dup_chars, disposition).

    Round-9 oracle: the ``dedup_survivors`` keeps CTE + the
    ``_CLUSTERS_CTE_PREFIX`` min-reach recursion + the
    ``doc_substring_dedup`` coverage CTEs, stitched by the same
    precedence CASE — documented in the pinned test.

    Scale shape: pure composition of three audited plans (each
    individually blocked/bounded: hash-groupBy, capped LSH buckets +
    O(log d) CC, frequency-gated grams); the stitch itself is three
    left joins on doc_id plus one per-cluster min — broadcast/shuffle
    joins on the corpus key, nothing new crosses to the driver."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    # the keep-id set IS the exact-survivor doc_id set (keep_id = the min
    # doc_id of its content group, always a corpus doc_id), so derive it
    # straight from the group table — dedup_survivors' semi-join back
    # through the corpus re-reads documents for columns this stitch
    # never consumes (guide §1.2: don't compute things you throw away)
    exact_keeps = (
        D.exact_duplicates(
            load_table(spark, "documents", sf_dir), "doc_id", "text"
        )
        .select(F.col("keep_id").alias("doc_id"))
        .withColumn("_ek", F.lit(1))
    )
    clusters = dedup_clusters(spark, sf_dir)  # (doc_id, cluster_id)
    # EVERY stitch side is corpus-sized (survivor set, cluster labels,
    # per-cluster mins, coverage verdicts), so above corpus scale none
    # may ride a broadcast: at the 100x probe AQE's runtime estimates
    # put them under the 64 MB threshold and the inflated hash relations
    # OOMed the JVM — the same failure dedup_family's verify joins hint
    # against.  merge = sorted shuffle on the corpus key, the only join
    # shape that survives at scale.  The insurance is SIZE-GATED on the
    # same staged corpus flag the minhash stage derives (the
    # prefix-filter gate pattern, r5 VERDICT #2): below the threshold
    # every stitch side is definitionally broadcast-safe and the forced
    # sorts are pure overhead.
    _, _big_corpus = _staged_minhash_sigs(spark, sf_dir)
    mg = (lambda d: d.hint("merge")) if _big_corpus else (lambda d: d)
    coverage = doc_substring_dedup(spark, sf_dir).select(
        "doc_id", "dup_chars", F.col("status").alias("_sub")
    )
    out = (
        docs.join(mg(exact_keeps), "doc_id", "left")
        .join(mg(clusters), "doc_id", "left")
        .join(mg(coverage), "doc_id", "left")
    )
    # min EXACT-SURVIVING member per cluster as ONE window over the
    # stitched spine (clusters emits a row per document, so each
    # cluster_id partition already holds every member): the former
    # groupBy + cluster_id join re-derived the exact-dedup aggregate and
    # the cluster labels a second time (different projections — no plan
    # reuse) and forced an extra corpus-wide merge join.  min ignores
    # NULLs, so only _ek rows contribute — identical semantics, and the
    # isNotNull guard preserves the join's NULL-key-never-matches
    # behavior for any spine row without a cluster label.
    from pyspark.sql import Window

    _w_cluster = Window.partitionBy("cluster_id")
    out = out.withColumn(
        "_surv_min",
        F.when(
            F.col("cluster_id").isNotNull(),
            F.min(F.when(F.col("_ek") == 1, F.col("doc_id"))).over(_w_cluster),
        ),
    )
    return out.select(
        "doc_id",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.coalesce(F.col("dup_chars"), F.lit(0)).cast("long").alias(
            "dup_chars"
        ),
        F.when(F.col("_ek").isNull(), F.lit("drop_exact"))
        .when(F.col("doc_id") != F.col("_surv_min"), F.lit("drop_near"))
        .when(F.col("_sub") == "drop", F.lit("drop_substring"))
        .when(F.col("_sub") == "trim", F.lit("trim"))
        .otherwise(F.lit("keep"))
        .alias("disposition"),
    )


def events_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP pattern matching as a window plan — "A followed by B within
    T": for every click, the user's NEXT purchase (a FORWARD as-of,
    expressed as a min over the following-rows frame of the per-user
    ordered event walk) decides conversion within one hour, aggregated
    to hourly conversion rate and mean lag.  The MATCH_RECOGNIZE-style
    question answered with one shuffle: partition by user, order by
    (event time, event_id) — the deterministic total order every
    time-walk in this engine uses — and a single frame aggregate; no
    self-join, no per-user explode.

    All arithmetic is integer microseconds (``unix_micros`` /
    ``epoch_us`` — exact in both engines): the lag sum stays a 64-bit
    integer (< 2^53, double-exact), and rate / mean-lag are fixed dags
    of double ops.  NULL timestamps and users are gated on both sides
    (the NULLS FIRST/LAST window divergence class).  Purchases at the
    exact click timestamp count as following only by event_id order —
    the tie rule the oracle mirrors verbatim."""
    from pyspark.sql import Window

    events = load_table(spark, "events", sf_dir).where(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isin("click", "purchase")
    )
    tagged = events.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.date_trunc("hour", "ts").alias("click_hour"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    next_purchase = F.min(
        F.when(F.col("event_type") == "purchase", F.col("us"))
    ).over(w)
    clicks = tagged.withColumn("next_us", next_purchase).where(
        F.col("event_type") == "click"
    )
    lag_us = F.col("next_us") - F.col("us")
    converted = F.col("next_us").isNotNull() & (lag_us <= 3_600_000_000)
    per_click = clicks.select(
        "click_hour",
        converted.cast("int").alias("conv"),
        F.when(converted, lag_us).alias("lag_us"),
    )
    return per_click.groupBy("click_hour").agg(
        F.count(F.lit(1)).cast("long").alias("n_clicks"),
        F.sum("conv").cast("long").alias("n_converted"),
        (
            F.sum("conv").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("conversion_rate"),
        # UNROUNDED deliberately: the raw value is a fixed dag over
        # exact integers, bit-identical cross-engine — ROUND(x, 6)
        # re-opens the half-tie gap exactly when the ratio terminates
        # at 7dp (observed at sf0.1: ...2418605 -> HALF_UP vs binary)
        (
            F.sum("lag_us").cast("double")
            / F.sum("conv").cast("double")
            / F.lit(1_000_000.0)
        ).alias("avg_lag_s"),
    )


def events_stickiness_hll(
    spark: SparkSession, sf_dir: str, _sketch_only: bool = False
) -> DataFrame:
    """Sliding-window distinct counts — DAU/WAU/MAU stickiness — via
    MERGEABLE sketches: one HLL sketch per day, then WAU/MAU per day as
    a SKETCH UNION over a trailing RANGE frame (7/30 days).  This is
    why re-aggregatable sketches matter at 100 TB: an exact trailing
    distinct must re-touch every (day, user) pair per output day
    (window x days work), while the sketch path unions ~30 fixed-size
    binaries per day off a table that is built once and is
    incrementally maintainable (``events_hll_mergeable_rollup``'s
    contract, extended to sliding frames).

    Driver-verifiable via the verdict pattern: the exact trailing
    distincts ride along (computed here only to pin the sketches — the
    broadcast day-spine range join is exactly the quadratic shape the
    sketch path avoids), stickiness = WAU/MAU is a single int/int
    double division (deterministic, UNROUNDED), and the HLL estimates
    exit only as 10%-tolerance booleans the oracle pins TRUE.  The
    day-grain windows order a ~days-sized frame — bounded by the
    calendar, not the corpus.

    The PRODUCTION projection is ``events_stickiness_hll_prod``
    (``_sketch_only=True``): sketch estimates only, no exact twin riding
    along — registered rows+schema-checked and benched, since computing
    the exact trailing distinct solely to re-certify the sketch doubles
    the cost of every run (VERDICT r5 next-round #7)."""
    from pyspark.sql import Window

    events = load_table(spark, "events", sf_dir).where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    keyed = events.select(
        F.to_date("ts").alias("day"),
        F.datediff(F.to_date("ts"), F.lit("1992-01-01").cast("date")).alias("dayn"),
        "user_id",
    )
    daily = keyed.groupBy("day", "dayn").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    w7 = Window.orderBy("dayn").rangeBetween(-6, 0)
    w30 = Window.orderBy("dayn").rangeBetween(-29, 0)
    est = daily.select(
        "day",
        "dayn",
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w7)).alias("_wau_est"),
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w30)).alias("_mau_est"),
    )
    if _sketch_only:
        return est.select(
            "day",
            F.col("_wau_est").alias("wau_est"),
            F.col("_mau_est").alias("mau_est"),
            (F.col("_wau_est").cast("double") / F.col("_mau_est").cast("double")).alias(
                "stickiness_est"
            ),
        )
    pairs = keyed.select("dayn", "user_id").distinct()

    def exact(window_days: int, alias: str, dcol: str) -> DataFrame:
        spine = daily.select(
            F.col("day").alias(dcol), F.col("dayn").alias(f"_dn{window_days}")
        )
        return (
            F.broadcast(spine)
            .join(
                pairs,
                pairs.dayn.between(
                    F.col(f"_dn{window_days}") - (window_days - 1),
                    F.col(f"_dn{window_days}"),
                ),
            )
            .groupBy(dcol)
            .agg(F.countDistinct("user_id").alias(alias))
        )

    ex7 = exact(7, "wau_exact", "_d7")
    ex30 = exact(30, "mau_exact", "_d30")
    return (
        est.join(ex7, est.day == ex7._d7)
        .join(ex30, est.day == ex30._d30)
        .select(
            "day",
            "wau_exact",
            "mau_exact",
            (
                F.col("wau_exact").cast("double")
                / F.col("mau_exact").cast("double")
            ).alias("stickiness"),
            (
                F.abs(F.col("_wau_est") - F.col("wau_exact"))
                <= 0.10 * F.col("wau_exact")
            ).alias("wau_ok"),
            (
                F.abs(F.col("_mau_est") - F.col("mau_exact"))
                <= 0.10 * F.col("mau_exact")
            ).alias("mau_ok"),
        )
    )


def events_stickiness_hll_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-only DAU/WAU/MAU stickiness — the 100 TB production form of
    ``events_stickiness_hll`` (VERDICT r5 next-round #7): daily HLL
    sketches unioned over trailing calendar RANGE frames, estimates and
    the WAU/MAU ratio out, NO exact trailing-distinct twin (the verdict
    entry computes one per run solely to certify the sketch, doubling
    its cost; certification lives there, production runs here).
    Rows+schema-checked by the driver (estimates are engine-specific,
    so no cross-engine value oracle by construction)."""
    return events_stickiness_hll(spark, sf_dir, _sketch_only=True)


def customer_rfm_scores_approx_prod(spark: SparkSession, sf_dir: str):
    """Sketch-cutpoint RFM scoring, production projection (VERDICT r5
    next-round #7): re-export of ``analytics.customer_rfm_scores_approx``
    registered rows+schema-checked — its scores can sit within the
    documented +/-2 tie-window of the exact form, so it carries no
    value oracle; the verdict entry ``customer_rfm_scores_approx``
    (checked form) provides the certification."""
    from logistream_data_pipeline_aws_spark.plans.analytics import (
        customer_rfm_scores_approx,
    )

    return customer_rfm_scores_approx(spark, sf_dir)


# -- r8/r9 registration cohorts (window-blocked when built) ------------------
# Built + pytest-pinned in r7; the r7 head window is fully committed to the
# staleness queue, so these register at the next rotation (COVERAGE.md
# "Round-8 registration queue").

def dedup_semantic(
    spark: SparkSession,
    sf_dir: str,
    k: int | None = None,
    iters: int = 2,
    threshold: float = 0.4,
    max_cluster_size: int = 1024,
    target_cluster_size: int = 256,
) -> DataFrame:
    """Semantic dedup, SemDeDup-style (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, mine
    near-dup pairs ONLY within each cluster by exact cosine, close the
    pairs into semantic groups (connected components), keep the minimum
    id per group.  Registered (as ``dedup_semantic_k8``) since round 8;
    also pinned against a literal DuckDB replay in
    ``tests/test_extensions.py``.

    Composition of three verified stages: the Lloyd-exact
    ``similarity.ivf_kmeans_assign`` (hash-exact unrolled oracle),
    the ``dedup_embedding`` cosine contract (double left-fold, norms
    staged once per corpus, ``round(cos, 6)`` before the threshold),
    and ``dedup_family.connected_components`` min-label propagation.
    Threshold 0.4 keeps a non-trivial result on the near-random fixture
    vectors (real corpora dedup at >= 0.9) — same operating point as
    ``dedup_embedding``.

    Output: one row per vector — (vec_id, kmeans list_id, sem_cluster =
    min reachable id, status keep|drop); survivors are exactly the rows
    whose id IS the group label, so ``status='keep'`` applies the dedup
    with a semi-join just like ``dedup_near_survivors``.

    Round-8 oracle: the ``_kmeans_oracle`` assignment CTEs (k=8,
    iters=2) joined to the corpus, the cluster-size bound replayed as a
    ``HAVING COUNT(*) BETWEEN 2 AND 1024`` semi-join, within-cluster
    pair mining at ``round(cos, 6) >= 0.4``, then the
    ``_CLUSTERS_CTE_PREFIX`` symmetric-closure / min-reach recursion
    over those pairs.

    Scale shape: the cluster id is the blocking key — pair expansion is
    a self-equi-join on ``list_id`` (never all-pairs; per-cluster cost
    is (n/k)^2 and production picks k proportional to corpus size so
    cluster cardinality stays bounded).  ``max_cluster_size`` is the
    same workload-relative guard as the LSH family's bucket cap:
    clusters larger than the cap are DROPPED from pair mining (their
    members all come out ``keep``), logged via an observed
    ``semantic_cluster_cap`` metric — an oversized cluster means ``k``
    was chosen too small for the corpus, and the cap turns that
    misconfiguration into a loud bounded result instead of an O((n/k)²)
    blow-up.  The bound is part of the replayed contract, not a silent
    cap.  The cosine verify runs on candidates only with per-vector
    norms computed once, and the component closure joins stay keyed on
    vector id.  Centroids are k tiny broadcast rows; nothing data-sized
    crosses to the driver (the CC loop collects only a per-round change
    count).

    ``k=None`` (the default) derives a CORPUS-ADAPTIVE cluster count,
    ``max(8, ceil(n_vectors / target_cluster_size))`` — the SemDeDup
    paper's regime, where k grows with the corpus so expected cluster
    cardinality stays ~constant and the pair-mining cost per cluster is
    bounded by design rather than by the cap.  A FIXED k on a growing
    corpus degenerates: at the r8 100x probe every k=8 cluster blew
    through ``max_cluster_size`` and pair mining dropped 100% of the
    corpus — loud and metered, but measuring the cap, not the
    algorithm (VERDICT r8 what's-wrong #1).  The REGISTERED entry
    (``dedup_semantic_k8``) pins k=8 because its DuckDB oracle unrolls
    the Lloyd iterations for that k; the scale probe runs this adaptive
    default."""
    from logistream_data_pipeline_aws_spark.functions.vectors import (
        cosine_with_norms,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    if k is None:
        k = _adaptive_semantic_k(
            _embeddings_n(spark, sf_dir), target_cluster_size
        )
    # stage the (vector, norm, kmeans cluster) frame once per
    # (session, corpus, config): the Lloyd unroll would otherwise
    # re-execute for the a-side, the b-side, and the final projection
    withn = _staged_embedding_norms(spark, sf_dir)
    tagged = stage(
        spark, sf_dir, f"semantic_tag:k={k}:iters={iters}",
        lambda: withn.join(
            S.ivf_kmeans_assign(emb, "vec_id", "embedding", k=k, iters=iters)
            .select(F.col("vec_id").alias("_id"), "list_id"),
            "_id",
        ).persist(),
    )
    sizes = tagged.groupBy("list_id").agg(F.count(F.lit(1)).alias("_csz"))
    sizes = sizes.observe(
        "semantic_cluster_cap",
        F.sum((F.col("_csz") > max_cluster_size).cast("long")).alias(
            "dropped_clusters"
        ),
        F.sum(
            F.when(F.col("_csz") > max_cluster_size, F.col("_csz"))
            .otherwise(0)
            .cast("long")
        ).alias("dropped_vectors"),
    )
    minable = tagged.join(
        sizes.where(
            (F.col("_csz") >= 2) & (F.col("_csz") <= max_cluster_size)
        ).select("list_id"),
        "list_id",
    )
    a = minable.select(
        F.col("_id").alias("id_a"),
        F.col("_v").alias("v_a"),
        F.col("_n").alias("n_a"),
        F.col("list_id").alias("_la"),
    )
    b = minable.select(
        F.col("_id").alias("id_b"),
        F.col("_v").alias("v_b"),
        F.col("_n").alias("n_b"),
        F.col("list_id").alias("_lb"),
    )
    cos = cosine_with_norms(
        F.col("v_a"), F.col("v_b"), F.col("n_a"), F.col("n_b")
    )
    edges = (
        a.join(b, (F.col("_la") == F.col("_lb")) & (F.col("id_a") < F.col("id_b")))
        .where(F.round(cos, 6) >= threshold)
        .select("id_a", "id_b")
    )
    comps = D.connected_components(
        emb.select(F.col("vec_id").alias("id")), edges
    )
    return (
        tagged.select(F.col("_id").alias("vec_id"), "list_id")
        .join(comps, F.col("vec_id") == comps.id)
        .select(
            "vec_id",
            "list_id",
            F.col("cluster_id").cast("long").alias("sem_cluster"),
            F.when(F.col("cluster_id") == F.col("id"), F.lit("keep"))
            .otherwise(F.lit("drop"))
            .alias("status"),
        )
    )


def dedup_semantic_k8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REGISTERED face of :func:`dedup_semantic`: k pinned to 8 so
    the DuckDB oracle — an unrolled k=8/iters=2 Lloyd replay — stays a
    hash-exact cross-engine check at every SF (an adaptive k would need
    the kmeans unrolled per data size, which static SQL cannot express).
    Scale honesty lives in the operator's adaptive default, which the
    scale probe measures; this pin exists purely for verifiability."""
    return dedup_semantic(spark, sf_dir, k=8)


def _adaptive_semantic_k(n_vectors: int, target_cluster_size: int = 256) -> int:
    """``max(8, ceil(n / target))`` — k grows with the corpus so the
    EXPECTED cluster cardinality stays ~target and per-cluster pair
    mining stays O(target²) regardless of corpus size.  At the bench
    SFs (50 / 500 / 5000 vectors) this resolves to 8, 8, 20; at the
    100x probe (50k vectors) to 196 and at 1000x (500k vectors) to 1954
    — clusters sized ~256, safely under the 1024 cap, so pair mining
    actually executes."""
    return max(8, -(-n_vectors // target_cluster_size))


def _embeddings_n(spark: SparkSession, sf_dir: str) -> int:
    """Embeddings row count per (session, corpus): sizes the adaptive
    semantic-dedup k (one columnless count job)."""
    return stage(
        spark, sf_dir, "embeddings_n",
        lambda: load_table(spark, "embeddings", sf_dir).count(),
    )


def _docs_is_big(spark: SparkSession, sf_dir: str) -> bool:
    """Corpus-size flag per (session, corpus): gates the span miner's
    gram-join shuffle insurance exactly like the minhash/prefix-filter
    prefer_merge gates (one metadata-count job)."""
    return stage(
        spark, sf_dir, "docs_is_big",
        lambda: load_table(spark, "documents", sf_dir).count() > 100_000,
    )


def _substring_span_frame(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    max_gram_docs: int,
    max_gram_occurrences: int,
    prefer_shuffle: bool = True,
) -> DataFrame:
    """Shared anchor -> maximal-run machinery behind
    ``doc_substring_spans`` (pair report) and ``doc_substring_dedup``
    (per-document coverage): md5 k-gram anchors, the two frequency
    gates, bounded occurrence arrays with in-plan pair expansion, and
    gaps-and-islands diagonal run assembly.  Returns one row per
    maximal shared run: (doc_a, doc_b, diag, s, e) with s..e the
    a-side character interval (b-side = s-diag .. e-diag).

    Two physical strategies behind one logical contract (value-equal,
    pinned by ``test_substring_sharded_matches_single_pass``):

    - SMALL corpus (below ``_SUBSTRING_SHARD_DOCS``): single-plan —
      the gram table is hash-partitioned by gram and session-cached
      once (see the r12 note below), and the count gate + occurrence
      collect run shuffle-free on top.
    - BIG corpus: the single-pass gram shuffle is ~40-50 bytes per
      corpus CHARACTER — a ~300x blow-up over the input that exceeds
      per-host shuffle capacity long before 100 TB (the r12 probe
      measured 5M docs / 318 MB of text writing >80 GB of shuffle:
      "No space left on device", the root cause of the r11 composed-
      pipeline 1000x failure).  Lee et al. 2021 (arXiv:2107.06499)
      shard their suffix table by hash range for exactly this reason;
      the distributed analog here is gram-hash sharding
      (``_substring_matches_sharded``): stage the gram table ONCE as
      shard-partitioned parquet, mine matched anchor pairs per shard
      (per-shard shuffle ~1/B of the single-pass volume, released
      before the next shard runs), and assemble runs from the staged
      pairs.  Shard boundaries partition GRAM KEY space, so per-shard
      frequency gates and pair sets are exactly the global ones —
      the union of shard outputs is value-identical by construction.
    """
    # per-character substring+md5 is the CPU stage: decouple it from the
    # input file layout (a small corpus parquet scans as one partition)
    docs = D.parallelize_cpu_stage(
        load_table(spark, "documents", sf_dir)
        .where(F.col("text").isNotNull() & (F.length("text") >= k))
        .select("doc_id", "text")
    )
    if _corpus_fingerprint(spark, sf_dir)["n_rows"] > _substring_shard_bounds(spark)[0]:
        return _substring_runs_sharded(
            spark, sf_dir, docs, k, max_gram_docs, max_gram_occurrences
        )
    # The gram table is ~one row per corpus CHARACTER — the r12 1000x
    # probe measured the original two-derivation plan (count pass +
    # collect pass each re-exploding and re-hashing 1.9B grams, ~4
    # gram-scale exchanges once the distinct-agg's two shuffles and the
    # keep join are counted) filling the probe host's disk with shuffle
    # files: "No space left on device" at 5M docs, the root cause of
    # the r11 composed-pipeline 1000x failure.  Two changes, both
    # value-invisible (the gram key never reaches the output and md5
    # equality is preserved bijectively under unhex):
    #   1. BINARY md5 keys (16 bytes) instead of the 32-char hex
    #      string — roughly halves every gram-scale byte count;
    #   2. ONE materialization: the gram table is hash-partitioned by
    #      gram, persisted and staged per (session, corpus).  hash(g)
    #      satisfies every downstream distribution — the two-level count
    #      aggregate, the keep join's left side, and the occurrence
    #      collect all run SHUFFLE-FREE on top, so the corpus-scale
    #      exchange count drops from ~4 to exactly 1 and the explode+
    #      md5 CPU pass is paid once per (session, corpus), not twice
    #      per call.
    # Partition count scales with the corpus (bytes per partition stay
    # bounded for the cache build's per-task hash maps); an explicit N
    # keeps AQE from coalescing the CPU-heavy exchange.
    n_parts = spark.sparkContext.defaultParallelism * (
        8 if _docs_is_big(spark, sf_dir) else 1
    )
    grams = stage(
        spark, sf_dir, f"substring_grams_k{k}",
        # MEMORY_ONLY, not the MEMORY_AND_DISK of the other corpus
        # stages: this frame's lineage cuts at its own repartition
        # exchange, so an evicted partition recomputes via a plain
        # shuffle fetch — disk rows here would double-store next to the
        # retained shuffle files (measured: the 1000x gram table + its
        # shuffle exceeded the probe host's disk together)
        lambda: docs.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("text") - k + 1)
            ).alias("pos"),
            "text",
        )
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.unhex(F.md5(F.expr(f"substring(text, pos, {k})"))).alias("g"),
        )
        .repartition(n_parts, "g")
        .persist(StorageLevel.MEMORY_ONLY),
    )
    m = _gram_pair_matches(grams, max_gram_docs, max_gram_occurrences, prefer_shuffle)
    return _runs_from_matches(m, k)


def _gram_pair_matches(
    grams: DataFrame,
    max_gram_docs: int,
    max_gram_occurrences: int,
    prefer_shuffle: bool,
    cap_observation=None,
) -> DataFrame:
    """Count gate -> bounded occurrence arrays -> in-plan pair
    expansion over a (doc_id, pos, g) gram frame.  Shared verbatim by
    the single-plan and sharded paths — the twins-cannot-drift-by-
    construction discipline (same as _bigram_rank / _dsir_rank).
    Returns matches (doc_a, pa, doc_b, pb, diag).

    ``cap_observation``: an Observation (driver-readable) or a string
    name (listener/UI-visible) for the dropped-grams meter — the
    ``graph_triangle_count`` cap_observation pattern.  The r12 form
    attached an anonymous Observation() that was created and discarded,
    making the metric unreachable by any consumer (ADVICE r12); callers
    now pass a unique name per query (the sharded loop includes the
    shard index, so loop queries never collide)."""
    counts = grams.groupBy("g").agg(
        F.countDistinct("doc_id").alias("_nd"), F.count(F.lit(1)).alias("_n")
    )
    counts = counts.observe(
        cap_observation
        if cap_observation is not None
        else "substring_gram_cap",
        F.sum(
            (
                (F.col("_nd") > max_gram_docs)
                | (F.col("_n") > max_gram_occurrences)
            ).cast("long")
        ).alias("dropped_grams"),
    )
    keep = counts.where(
        (F.col("_nd").between(2, max_gram_docs))
        & (F.col("_n") <= max_gram_occurrences)
    ).select("g")
    # one bounded occurrence array per surviving gram (<= max_gram_
    # occurrences entries), pairs expanded in-plan: sorted by (doc, pos)
    # so array order i<j implies doc_a <= doc_b; the strict filter drops
    # intra-document pairs — identical match set to the equi-join form.
    # shuffle insurance: `keep` is CORPUS-DERIVED (kept gram keys), and
    # post-filter size estimates understate it badly — AQE broadcast a
    # 3.8 GiB hash relation of it at the 10x probe (OOM at 10x inside
    # the composed pipeline; the forced hash-shuffle also ran that probe
    # 65 -> 14 s).  A corpus-scaling side must never ride a broadcast;
    # size-aware callers gate via ``_docs_is_big`` so a SMALL corpus
    # keeps the definitionally-safe broadcast (the prefer_merge
    # discipline).
    kj = keep.hint("shuffle_hash") if prefer_shuffle else keep
    occs = (
        grams.join(kj, "g")
        .groupBy("g")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "pos"))).alias("_o"))
    )
    pair_expr = F.flatten(
        F.transform(
            F.col("_o"),
            lambda x, i: F.transform(
                F.slice(F.col("_o"), i + 2, F.size(F.col("_o"))),
                lambda y: F.struct(
                    x.getField("doc_id").alias("doc_a"),
                    x.getField("pos").alias("pa"),
                    y.getField("doc_id").alias("doc_b"),
                    y.getField("pos").alias("pb"),
                ),
            ),
        )
    )
    return (
        occs.select(F.explode(pair_expr).alias("p"))
        .select("p.doc_a", "p.pa", "p.doc_b", "p.pb")
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("diag", F.col("pa") - F.col("pb"))
    )


def _runs_from_matches(m: DataFrame, k: int) -> DataFrame:
    """Gaps-and-islands diagonal run assembly over matched anchor pairs
    — shared verbatim by both physical strategies."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = m.withColumn("grp", F.col("pa") - F.row_number().over(w))
    return runs.groupBy("doc_a", "doc_b", "diag", "grp").agg(
        F.min("pa").alias("s"), (F.max("pa") + (k - 1)).alias("e")
    )


# Measured anchors for the substring path's two scale knobs (see
# _substring_span_frame's docstring).  Both are MEMORY-derived, so the
# runtime bounds come from _substring_shard_bounds (below) scaled by
# the session's actual heap — these module constants are the measured
# anchor points (and the knobs tests monkeypatch):
#
# - _SUBSTRING_SHARD_DOCS: docs the SINGLE-PLAN path can hold at the
#   8 GiB local default heap.  The single-pass plan session-caches the
#   gram table MEMORY_ONLY (~400 grams x ~40 B per document ≈ 16 KB of
#   cache per doc), so 500k docs is ~8 GB of cache — the r12 100x
#   re-probe OOMed exactly there on the default 8g heap, while 150k
#   docs (~2.4 GB) leaves execution headroom.
# - _SUBSTRING_DOCS_PER_SHARD: per-shard doc budget at the 48 GiB
#   probe heap.  Sharded runs never hold gram state in heap (staged
#   parquet + bounded per-shard shuffles): 5M docs completed at 48g
#   with 7 shards (= ceil(5M / 750k)) and 2 shards sufficed at 500k
#   on 8g.
_SUBSTRING_SHARD_DOCS = 150_000  # at the 8 GiB reference heap
_SUBSTRING_DOCS_PER_SHARD = 750_000  # at the 48 GiB reference heap
_SUBSTRING_GRAMS_MANIFEST = "substring_grams_manifest.json"


def _worker_heap_gib(spark: SparkSession) -> float:
    """The WORKER JVM heap in GiB — the signal every memory-derived
    substring knob scales from.  Local mode asks the live Runtime for
    maxMemory (truth, no conf parsing — the driver JVM is the worker);
    cluster mode parses ``spark.executor.memory`` with JavaUtils
    suffix semantics (suffix-less = MiB).  Unparseable or absent
    signals fall back to the 8 GiB reference point.

    "Local" is matched exactly (``local`` / ``local[...]``, plus the
    legacy ``local[N,F]`` retry form): a ``local-cluster[...]`` master
    launches SEPARATE executor JVMs, so the driver's Runtime.maxMemory
    would misreport the worker heap there — it falls through to the
    ``spark.executor.memory`` parse like any other cluster master
    (ADVICE r13)."""
    import re

    try:
        master = spark.sparkContext.master
        if master == "local" or re.fullmatch(r"local\[[^\]]*\]", master):
            return (
                spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
                .maxMemory()
                / (1024.0**3)
            )
        raw = spark.conf.get("spark.executor.memory", "8g").strip().lower()
        m = re.fullmatch(r"(\d+(?:\.\d+)?)\s*([kmgtp]?)b?", raw)
        if m:
            num, unit = float(m.group(1)), m.group(2)
            return num * {
                "": 1.0 / 1024.0,  # JavaUtils: unit-less is MiB
                "k": 1.0 / 1024.0**2,
                "m": 1.0 / 1024.0,
                "g": 1.0,
                "t": 1024.0,
                "p": 1024.0**2,
            }[unit]
    except Exception:
        pass
    return 8.0


_SUBSTRING_ANCHOR_SLOTS = 32  # both shard-bound anchors were measured at local[32]


def _worker_task_slots(spark: SparkSession) -> int:
    """Concurrent task slots per WORKER JVM — the second signal the
    per-shard mining bound scales from (VERDICT r13 "What's missing
    #3"): the in-flight run-assembly/mining state that bound models is
    PER TASK, so an executor holding the same heap but more concurrent
    tasks holds proportionally more state per JVM.  Local mode parses
    the master's thread count (``local[N]`` / ``local[N,F]``; ``*`` =
    the host's cpu count — exactly how Spark resolves it); cluster
    mode reads ``spark.executor.cores``.  An absent or unparseable
    signal returns the 32-slot anchor, i.e. NO slot scaling — the
    pre-r14 behavior, never a silent 32x inflation."""
    import re

    try:
        master = spark.sparkContext.master
        m = re.fullmatch(r"local(?:\[([^\],]*)(?:,[^\]]*)?\])?", master)
        if m:
            n = m.group(1)
            if n is None or n == "*":
                return os.cpu_count() or _SUBSTRING_ANCHOR_SLOTS
            return max(1, int(n))
        v = spark.conf.get("spark.executor.cores", None)
        if v is not None:
            return max(1, int(v))
    except Exception:
        pass
    return _SUBSTRING_ANCHOR_SLOTS


def _substring_shard_bounds(spark: SparkSession) -> tuple[int, int]:
    """(shard_docs, docs_per_shard) for THIS session — the r12 VERDICT
    "What's wrong #1" fix: the hard-coded constants encoded one box's
    8g-heap OOM point, so a bigger cluster would shard ~heap/8g times
    more than it needs to.  Both knobs scale LINEARLY with the worker
    heap from their measured anchors (8g -> 150k single-plan docs,
    48g -> 750k docs per shard), because both model per-JVM state that
    is proportional to docs covered per JVM: the single-plan bound is
    the MEMORY_ONLY gram-cache footprint (~16 KB/doc) and the
    per-shard bound is the mining aggregate's in-flight hash-map +
    shuffle slice per shard.

    The PER-SHARD bound additionally scales by heap per TASK SLOT
    (VERDICT r13 "What's missing #3"): its anchors were measured at
    local[32] — 32 concurrent tasks sharing one heap — and the state
    it models (per-task mining hash-maps + buffered shuffle slices)
    multiplies with task concurrency, so an executor with the same
    heap but 64 slots gets half the per-shard budget and one with 8
    slots gets 4x (``docs_per_shard ~ heap_gib / slots``, anchored at
    48g/32 slots).  The SINGLE-PLAN bound deliberately does NOT slot-
    scale: it models the MEMORY_ONLY gram cache, which lives in
    JVM-wide storage memory regardless of how many tasks run — the
    r12 OOM it encodes was cache-bound, and slot-scaling it on a
    local[4] session would re-create exactly that OOM 8x over.

    Heap signal: in local mode the DRIVER JVM is the worker, so ask
    the live Runtime for maxMemory (truth, no conf parsing); on a real
    cluster use spark.executor.memory (worker heap; the driver heap is
    irrelevant to task state).  Unparseable/absent signals fall back
    to the 8 GiB reference point — the pre-r13 behavior exactly.
    Explicit conf wins over any derivation:
    ``spark.logistream.substring.shardDocs`` /
    ``spark.logistream.substring.docsPerShard``.

    (regex import is local — the module otherwise never needs re)

    Reproduces both measured probe points: at 8g -> (150_000, 125_000)
    so the sf gates stay single-plan and 500k docs shard (4 shards —
    the measured-sufficient 2 was never a floor; smaller shards only
    bound per-shard shuffle tighter); at 48g -> (900_000, 750_000) so
    the green 5M-doc probe keeps its exact 7-shard plan."""
    conf = spark.conf

    def _conf_int(key: str) -> int | None:
        try:
            v = conf.get(key, None)
        except Exception:
            v = None
        return int(v) if v is not None else None

    explicit_sd = _conf_int("spark.logistream.substring.shardDocs")
    explicit_dps = _conf_int("spark.logistream.substring.docsPerShard")
    if explicit_sd is not None and explicit_dps is not None:
        return explicit_sd, explicit_dps
    heap_gib = _worker_heap_gib(spark)
    # floors keep a tiny test heap (1g sessions) from sharding the sf
    # gate corpora: the smallest real corpus that should ever shard is
    # well above the 5k-doc sf0.1 table.  The floor is capped at the
    # anchor itself so a test that monkeypatches the anchor to 0 (to
    # force the sharded path on a small corpus) still gets 0.
    shard_docs = explicit_sd if explicit_sd is not None else max(
        int(_SUBSTRING_SHARD_DOCS * heap_gib / 8.0),
        min(_SUBSTRING_SHARD_DOCS, 18_750),
    )
    slot_factor = _SUBSTRING_ANCHOR_SLOTS / _worker_task_slots(spark)
    docs_per_shard = explicit_dps if explicit_dps is not None else max(
        int(_SUBSTRING_DOCS_PER_SHARD * (heap_gib / 48.0) * slot_factor),
        min(_SUBSTRING_DOCS_PER_SHARD, 15_625),
    )
    return shard_docs, docs_per_shard


def _proc_starttime(pid: int) -> int | None:
    """The kernel's start-time (clock ticks since boot) for ``pid`` —
    /proc/<pid>/stat field 22, parsed past the parenthesised comm field
    (which may itself contain spaces).  None where /proc is unavailable
    (non-Linux) or the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            rest = fh.read().rsplit(b") ", 1)[1].split()
        return int(rest[19])  # field 22 overall; fields 3.. after comm
    except (OSError, ValueError, IndexError):
        return None


def _stage_token() -> str:
    """The identity a private tmp staging dir embeds in its name:
    ``<host>-<pid>-<starttime>``.  Hostname scopes the pid check to the
    machine that can actually perform it (the durable base is designed
    to be shared across hosts — a foreign pid number means nothing
    here, ADVICE r13); the kernel start-time disambiguates pid REUSE
    (a recycled pid would otherwise make a crashed stager's orphan
    look alive forever, VERDICT r13 "What's wrong #2")."""
    import socket

    host = socket.gethostname().replace("-", "_") or "unknownhost"
    return f"{host}-{os.getpid()}-{_proc_starttime(os.getpid()) or 0}"


def _touch_heartbeat(tmp_dir: str) -> None:
    """Refresh the liveness heartbeat inside a private tmp staging dir.
    Called once per append-loop iteration by the stager that owns the
    dir; the reaper treats a dir whose heartbeat has gone stale as
    crash-orphaned even when it cannot check the owning process (a
    foreign host on a shared durable base, or a legacy pid-only
    name)."""
    hb = os.path.join(tmp_dir, ".heartbeat")
    try:
        with open(hb, "w") as fh:
            fh.write(str(os.getpid()))
    except OSError:
        pass  # liveness degrades to dir mtime; never fail the stage


def _stage_tmp_stale_s() -> int:
    """Heartbeat staleness horizon for cross-host/legacy tmp reaping —
    generous (6 h default; one shard's append is minutes-scale at the
    measured geometries) and env-tunable for slower shared volumes
    (``LSDP_STAGE_TMP_STALE_S``)."""
    try:
        return max(60, int(os.environ.get("LSDP_STAGE_TMP_STALE_S", "")))
    except ValueError:
        return 6 * 3600


def _reap_dead_stage_tmp(path_prefix: str) -> None:
    """Remove crash-orphaned private tmp staging dirs
    (``<prefix>.tmp-<token>``) — a crashed loop's tmp dir would
    otherwise leak disk on the durable staging base forever.  A LIVE
    stager's tmp dir is never touched.

    ``path_prefix`` may contain glob characters (the grouped gram
    slices reap as a family: ``grams_g*``) — only the ``.tmp-`` suffix
    is appended here.

    Liveness, by token form (ADVICE r13 / VERDICT r13 #2):

    - ``<host>-<pid>-<starttime>`` written by THIS host: reap when the
      pid is dead OR its kernel start-time differs from the token (pid
      reuse — the recycled pid belongs to some unrelated process).  A
      pid alive under another uid (PermissionError, start-time
      unreadable) is left alone.
    - A FOREIGN host's token, or a legacy bare-pid name: the pid check
      is meaningless here (a shared durable base crosses hosts and pid
      namespaces — ``os.kill`` on a foreign stager's pid number could
      hit an unrelated local process and rmtree a LIVE stage mid-
      append).  Reap only when the dir's heartbeat (refreshed every
      append-loop iteration by the owner) is stale past
      ``_stage_tmp_stale_s``."""
    import glob
    import shutil
    import socket
    import time

    this_host = socket.gethostname().replace("-", "_") or "unknownhost"
    now = time.time()
    for d in glob.glob(path_prefix + ".tmp-*"):
        token = d.rsplit(".tmp-", 1)[1]
        parts = token.rsplit("-", 2)
        host = pid = start = None
        if len(parts) == 3:
            try:
                host, pid, start = parts[0], int(parts[1]), int(parts[2])
            except ValueError:
                host = pid = start = None
        elif len(parts) == 1:
            try:
                pid = int(parts[0])  # legacy pre-r14 bare-pid name
            except ValueError:
                pid = None
        if host == this_host and pid is not None:
            try:
                os.kill(pid, 0)
                alive_start = _proc_starttime(pid)
                if start and alive_start is not None and alive_start != start:
                    shutil.rmtree(d, ignore_errors=True)  # pid reuse
            except ProcessLookupError:
                shutil.rmtree(d, ignore_errors=True)
            except PermissionError:
                pass  # alive under another uid
            continue
        # foreign host / legacy / unparseable: heartbeat staleness only
        hb = os.path.join(d, ".heartbeat")
        try:
            newest = os.path.getmtime(hb)
        except OSError:
            try:
                newest = os.path.getmtime(d)
            except OSError:
                continue  # raced away
        if now - newest > _stage_tmp_stale_s():
            shutil.rmtree(d, ignore_errors=True)


def _retire_superseded_stage_variants(
    parent: str,
    patterns: list[str],
    keep: set[str],
    reason: str,
) -> list[str]:
    """Manifest-RECORDED GC of superseded durable-staging variants
    (VERDICT r13 next-round #4): staged tables are keyed by their
    params (``runs_d{docs}_o{occ}``, ``substring_runs_k{k}_...``), so
    a cap or k change strands the previous variant on the durable base
    forever — the tmp reaper only covers crash orphans, and a restage
    overwrites only the SAME-params path.  Called by the stager right
    after it commits a fresh variant: every sibling dir matching the
    family ``patterns`` that is not in ``keep`` is superseded by that
    commit and reclaimed.

    Never a blind delete (the ``dedup_minhash_staged`` retired-list
    discipline): each victim is appended to ``<parent>/retired.json``
    — path, reason, the retiring stager's token, its manifest params
    if readable — BEFORE its files go, so the reclaim is auditable.
    Private ``.tmp-`` dirs are the crash reaper's domain and are never
    touched here; an UNCOMMITTED non-tmp dir (no manifest — a crash in
    the rename-to-manifest window of a different-params stage) is
    reclaimed only once it is stale past the tmp-staleness horizon, in
    case a concurrent stager is between its rename and manifest write
    right now.  The retired.json append is last-wins under concurrent
    retirements (racing stagers of DIFFERENT params families are
    already duplicating mining work — documented-wasteful, never
    wrong); deletions themselves are idempotent."""
    import glob
    import json
    import shutil
    import time

    victims: list[tuple[str, dict | None]] = []
    keep_abs = {os.path.abspath(p) for p in keep}
    for pattern in patterns:
        for d in glob.glob(os.path.join(parent, pattern)):
            if os.path.abspath(d) in keep_abs or ".tmp-" in os.path.basename(d):
                continue
            if not os.path.isdir(d):
                continue
            manifest_obj = None
            for mf in [d + ".manifest.json"] + glob.glob(
                os.path.join(d, "*manifest*.json")
            ):
                try:
                    with open(mf) as fh:
                        manifest_obj = json.load(fh)
                    break
                except (OSError, ValueError):
                    continue
            if manifest_obj is None:
                # uncommitted non-tmp dir: reclaim only when stale
                try:
                    if time.time() - os.path.getmtime(d) <= _stage_tmp_stale_s():
                        continue
                except OSError:
                    continue
            victims.append((d, manifest_obj))
    if not victims:
        return []
    ledger_path = os.path.join(parent, "retired.json")
    try:
        with open(ledger_path) as fh:
            ledger = json.load(fh)
    except (OSError, ValueError):
        ledger = []
    for d, manifest_obj in victims:
        ledger.append(
            {
                "path": os.path.basename(d),
                "reason": reason,
                "by": _stage_token(),
                "at": int(time.time()),
                "params": manifest_obj,
            }
        )
    D.write_manifest_atomic(ledger_path, ledger)
    for d, _m in victims:
        shutil.rmtree(d, ignore_errors=True)
        try:
            os.remove(d + ".manifest.json")
        except OSError:
            pass
    return [d for d, _m in victims]


def _substring_runs_sharded(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame,
    k: int,
    max_gram_docs: int,
    max_gram_occurrences: int,
) -> DataFrame:
    """Fully sharded anchor mining + run assembly for corpora whose
    single-pass shuffles exceed per-host capacity.  Three staged
    stages, each under the manifest-commit-marker + corpus-fingerprint
    contract, each re-derivable and dropped once its consumer commits:

    Stage 1 (grams): explode + md5 every gram and write
    (doc_id, pos, g) as parquet PARTITIONED BY
    ``pmod(xxhash64(g), n_shards)``.  The shard key hashes the GRAM,
    so every occurrence of a gram lands in exactly one shard and the
    per-shard frequency gates are the global ones.  When the estimated
    full gram table (~55 B per corpus char on disk; the md5 column is
    incompressible) exceeds ~40% of the staging volume's free space,
    shards are staged and mined in disk-sized GROUPS instead — the
    explode+md5 pass is re-paid once per group and each group's gram
    slice is dropped before the next is written (r13: writing the full
    table first filled the probe host's disk at 5M docs).  Group count
    is overridable via ``spark.logistream.substring.gramGroups``; on
    durable object storage it stays 1 and the single-pass flow (with
    its crash-resumable gram manifest) is unchanged.

    Stage 2 (pairs): loop gram shards; each reads its partition-pruned
    slice, runs the SHARED gate + pair expansion
    (``_gram_pair_matches``), and appends matched pairs partitioned by
    ``pshard = pmod(xxhash64(doc_a, doc_b), n_shards)``.  Each shard's
    shuffle belongs to its own job and is released before the next
    starts (driver drops the refs + System.gc(), the k-core
    scoped-release pattern), so peak shuffle footprint is ~1/n_shards
    of the single-pass plan.

    Stage 3 (runs): the gaps-and-islands window groups by
    (doc_a, doc_b, diag) — a pure function of the PAIR shard key, so
    run assembly loops pair shards the same way (the r12 v5 probe
    measured the UNSHARDED assembly window over ~billions of matched
    pairs on the template-dense corpus filling local disk after the
    mining stages succeeded).  Runs are ~two orders smaller than
    pairs (consecutive same-diagonal matches merge), so the committed
    run table is small.

    Every manifest is written LAST: a crash mid-loop leaves no
    manifest and the next caller rebuilds that stage from scratch
    (mode "overwrite" on its first slice), never adopting a partial
    table."""
    import gc as _gc
    import json
    import math

    fprint = _corpus_fingerprint(spark, sf_dir)
    n_shards = max(
        2, math.ceil(fprint["n_rows"] / _substring_shard_bounds(spark)[1])
    )
    tag = os.path.abspath(sf_dir).replace(os.sep, "_")
    # DURABLE staging base (r13; was per-process _scratch): the whole
    # point of the manifest-commit-marker + fingerprint contract is
    # crash-RESUME, and a crash kills the process — per-process scratch
    # meant a resumed run could never see its own committed pairs table
    # and re-mined everything (hit live in the r13 1000x probe: 37 GB
    # of committed pairs invisible to the retry).  The manifests embed
    # the corpus fingerprint, so adopting a prior process's committed
    # stage is exactly as safe as the dedup_minhash_staged durable
    # path.  The append-loops publish via private-dir + atomic rename
    # (below), so a concurrent stager cannot interleave appends into a
    # table another writer commits.
    base = os.path.join(_durable_stage_root(), f"substring_shards_k{k}_{tag}")
    os.makedirs(base, exist_ok=True)
    gram_path = os.path.join(base, "grams")
    gram_manifest = os.path.join(base, _SUBSTRING_GRAMS_MANIFEST)
    # "impl" ties every committed stage to the mining source that built
    # it — on the durable base a code change must restage, never adopt
    gparams = {
        "k": k,
        "n_shards": n_shards,
        "corpus": fprint,
        "impl": _substring_impl_digest(),
    }
    # CONTENT-determining params only (VERDICT r13 "What's wrong #1"):
    # the pairs/runs tables' ROW SET is shard-count-independent (each
    # gram hashes to exactly one shard; the union is global), while
    # n_shards derives from the SESSION's heap — embedding it in the
    # validation set made a session with a different heap fail a
    # perfectly good committed table and silently re-pay the full
    # multi-stage mining.  n_shards stays a validation param ONLY for
    # the gram stage, whose physical partition layout depends on it;
    # the pairs manifest records it as an informational LAYOUT field
    # (excluded from `_valid`'s subset compare) so run assembly can
    # loop the stager's pshard domain, not this session's.
    pparams = {
        "k": k,
        "corpus": fprint,
        "impl": _substring_impl_digest(),
        "max_gram_docs": max_gram_docs,
        "max_gram_occurrences": max_gram_occurrences,
    }

    def _valid(manifest_path, want):
        # subset compare (the staged_signatures_valid contract): extra
        # manifest fields — the pairs layout record, future additions —
        # never invalidate a content-compatible table
        try:
            with open(manifest_path) as fh:
                got = json.load(fh)
        except (OSError, ValueError):
            return False
        return {kk: got.get(kk) for kk in want} == want

    # final stage first: a committed run table serves directly — the
    # upstream stagings were dropped once it committed, and rebuilding
    # them just because they are gone would redo the whole mining
    runs_path = os.path.join(
        base, f"runs_d{max_gram_docs}_o{max_gram_occurrences}"
    )
    runs_manifest = runs_path + ".manifest.json"
    if _valid(runs_manifest, pparams):
        return spark.read.parquet(runs_path)
    pairs_path = os.path.join(
        base, f"pairs_d{max_gram_docs}_o{max_gram_occurrences}"
    )
    pairs_manifest = pairs_path + ".manifest.json"
    if not _valid(pairs_manifest, pparams):
        import shutil

        # append-loop publish contract: mine into a PRIVATE tmp dir,
        # then atomically rename into place before the manifest write —
        # on a shared durable base a concurrent stager must never
        # interleave appends into a table another writer commits (the
        # single-write stages are deterministic-content safe without
        # this; only the loops need it)
        _reap_dead_stage_tmp(pairs_path)
        _reap_dead_stage_tmp(gram_path + "_g*")  # crashed grouped slices
        pairs_tmp = f"{pairs_path}.tmp-{_stage_token()}"
        shutil.rmtree(pairs_tmp, ignore_errors=True)

        # the gram staging is checked/rebuilt INSIDE the pairs branch
        # (ADVICE r12): only pair mining reads grams, and on a
        # crash-resume during run assembly (pairs committed, runs
        # manifest absent, grams already dropped) a top-level rebuild
        # would redo the most expensive scan (tens of GB at 5M docs)
        # only to orphan it — the cleanup lives at the end of this
        # branch.

        def _grams_for(lo: int, hi: int) -> DataFrame:
            g = (
                docs.select(
                    "doc_id",
                    F.explode(
                        F.sequence(F.lit(1), F.length("text") - k + 1)
                    ).alias("pos"),
                    "text",
                )
                .select(
                    "doc_id",
                    F.col("pos").cast("long").alias("pos"),
                    F.unhex(
                        F.md5(F.expr(f"substring(text, pos, {k})"))
                    ).alias("g"),
                )
                .withColumn(
                    "shard",
                    F.pmod(F.xxhash64("g"), F.lit(n_shards)).cast("int"),
                )
            )
            if (lo, hi) != (0, n_shards):
                g = g.where(
                    (F.col("shard") >= lo) & (F.col("shard") < hi)
                )
            return g

        def _mine_shard(i: int, grams_df: DataFrame, first: bool) -> None:
            sl = grams_df.where(F.col("shard") == i).select(
                "doc_id", "pos", "g"
            )
            m_i = _gram_pair_matches(
                sl, max_gram_docs, max_gram_occurrences,
                prefer_shuffle=True,
                cap_observation=f"substring_gram_cap_s{i}",
            ).withColumn(
                "pshard",
                F.pmod(
                    F.xxhash64("doc_a", "doc_b"), F.lit(n_shards)
                ).cast("int"),
            )
            m_i.write.partitionBy("pshard").mode(
                "overwrite" if first else "append"
            ).parquet(pairs_tmp)
            _touch_heartbeat(pairs_tmp)
            # scoped shuffle release: this shard's exchanges are
            # unreachable once the local refs drop — collect them so
            # the ContextCleaner frees the files before the next shard
            del sl, m_i
            _gc.collect()
            spark.sparkContext._jvm.System.gc()

        # DISK-ADAPTIVE GRAM GROUPING (found live in the r13 probe: the
        # full gram table is ~50-60 B per corpus CHARACTER on disk —
        # the 16-byte md5 column is incompressible — and writing ALL of
        # it before mining filled the probe host's 74 GB free at 5M
        # docs, even though the r12 run had squeaked through).  When
        # the estimated full gram table exceeds ~40% of the staging
        # volume's free space, shards are staged and mined in GROUPS:
        # the explode+md5 corpus pass is re-paid once per group (scan-
        # bound, the cheap part), each group's gram slice is dropped
        # before the next is written, and peak gram footprint falls by
        # the group count.  On a 100 TB cluster the staging volume is
        # durable object storage with effectively unbounded capacity,
        # so n_groups stays 1 and the single-pass flow (with its
        # crash-resumable gram manifest) is unchanged.
        forced = spark.conf.get(
            "spark.logistream.substring.gramGroups", None
        )
        if forced is not None:
            n_groups = max(1, min(n_shards, int(forced)))
        else:
            total_chars = int(
                load_table(spark, "documents", sf_dir)
                .agg(F.sum("n_chars"))
                .collect()[0][0]
                or 0
            )
            est_gram_bytes = total_chars * 55
            free = shutil.disk_usage(base).free
            budget = max(1, int(free * 0.4))
            n_groups = 1
            if est_gram_bytes > budget:
                n_groups = min(
                    n_shards, max(2, math.ceil(est_gram_bytes / budget))
                )
        if n_groups > 1 and _valid(gram_manifest, gparams):
            n_groups = 1  # a committed full gram table costs no new disk
        if n_groups == 1:
            if not _valid(gram_manifest, gparams):
                _grams_for(0, n_shards).write.partitionBy("shard").mode(
                    "overwrite"
                ).parquet(gram_path)
                D.write_manifest_atomic(gram_manifest, gparams)
            all_grams = spark.read.parquet(gram_path)
            for i in range(n_shards):
                _mine_shard(i, all_grams, first=(i == 0))
        else:
            # grouped: gram slices are transient (never manifested) —
            # a crash anywhere here leaves no pairs manifest, so the
            # next caller rebuilds the whole pairs stage from scratch
            per_group = math.ceil(n_shards / n_groups)
            first = True
            for lo in range(0, n_shards, per_group):
                hi = min(lo + per_group, n_shards)
                # same ``.tmp-<token>`` convention as the pair/run
                # loops so a crashed process's slices — the largest
                # transient artifact class on the durable base — are
                # covered by the reaper above (ADVICE r13)
                gpath = f"{gram_path}_g{lo}.tmp-{_stage_token()}"
                _grams_for(lo, hi).write.partitionBy("shard").mode(
                    "overwrite"
                ).parquet(gpath)
                gg = spark.read.parquet(gpath)
                for i in range(lo, hi):
                    _mine_shard(i, gg, first=first)
                    first = False
                del gg
                shutil.rmtree(gpath, ignore_errors=True)
        shutil.rmtree(pairs_path, ignore_errors=True)
        os.rename(pairs_tmp, pairs_path)
        # n_shards rides as an informational LAYOUT field: run assembly
        # must loop the STAGER's pshard domain (an adopting session's
        # own heap-derived n_shards may differ), but `_valid`'s subset
        # compare never checks it — content params only
        D.write_manifest_atomic(
            pairs_manifest, {**pparams, "n_shards": n_shards}
        )
        # the gram staging is re-derivable and cap-independent, but the
        # committed PAIR table is what every downstream consumer reads —
        # drop the grams once the pairs commit (measured: grams + pairs
        # + the runs-assembly shuffle did not fit local disk together
        # at 5M docs).  A later mining with different caps restages
        # grams (one scan-bound pass); at 100 TB the staging lives on
        # durable object storage and this frugality is moot.
        shutil.rmtree(gram_path, ignore_errors=True)
        try:
            os.remove(gram_manifest)
        except OSError:
            pass
    if not _valid(runs_manifest, pparams):
        import shutil

        all_pairs = spark.read.parquet(pairs_path)
        # the pshard loop domain is the STAGER's layout, recorded in
        # the pairs manifest — an adopting session's own heap-derived
        # n_shards may be smaller, and looping it would silently skip
        # the tail pshards of a wider-sharded committed table
        try:
            with open(pairs_manifest) as fh:
                pairs_shards = int(json.load(fh).get("n_shards", n_shards))
        except (OSError, ValueError):
            pairs_shards = n_shards
        _reap_dead_stage_tmp(runs_path)
        runs_tmp = f"{runs_path}.tmp-{_stage_token()}"
        shutil.rmtree(runs_tmp, ignore_errors=True)
        # HEAP-ADAPTIVE SUB-SPLITTING (found live in the r13 probe: the
        # shared-tail generator change tripled pair volume to 37 GB,
        # and one pshard slice — ~5.3 GB compressed, ~1.5B rows —
        # OOMed the 48g probe JVM when 32 concurrent window-sort tasks
        # each buffered their shuffle partition).  Each pair shard's
        # run-assembly window is further split by a second
        # (doc_a, doc_b) hash so one job's input stays under a
        # heap-derived compressed-bytes budget (~43 MB per heap GiB:
        # 2 GB per job at the 48g anchor, comfortably under the OOM
        # point).  (doc_a, doc_b) determines the window group, so the
        # sub-split never divides a group and the union over
        # (pshard, subsplit) is exactly the pair set.  At r12's pair
        # geometry (10 GB / 7 shards) the budget yields 1 sub-split =
        # the r12 plan unchanged.  Override:
        # ``spark.logistream.substring.runSubsplits``.
        forced_sub = spark.conf.get(
            "spark.logistream.substring.runSubsplits", None
        )
        if forced_sub is not None:
            sub = max(1, int(forced_sub))
        else:
            pair_bytes = 0
            for root_, _dirs, files_ in os.walk(pairs_path):
                for fn in files_:
                    try:
                        pair_bytes += os.path.getsize(os.path.join(root_, fn))
                    except OSError:
                        pass
            per_shard = pair_bytes / max(1, pairs_shards)
            budget = max(
                256 * 2**20, int(_worker_heap_gib(spark) * 43 * 2**20)
            )
            sub = max(1, math.ceil(per_shard / budget))
        for j in range(pairs_shards):
            shard_j = all_pairs.where(F.col("pshard") == j)
            for s in range(sub):
                m_j = shard_j
                if sub > 1:
                    m_j = m_j.where(
                        F.pmod(F.xxhash64("doc_a", "doc_b"), F.lit(sub))
                        == s
                    )
                m_j = m_j.select("doc_a", "pa", "doc_b", "pb", "diag")
                _runs_from_matches(m_j, k).write.mode(
                    "overwrite" if (j == 0 and s == 0) else "append"
                ).parquet(runs_tmp)
                _touch_heartbeat(runs_tmp)
                del m_j
                _gc.collect()
                spark.sparkContext._jvm.System.gc()
            del shard_j
        shutil.rmtree(runs_path, ignore_errors=True)
        os.rename(runs_tmp, runs_path)
        D.write_manifest_atomic(runs_manifest, pparams)
        shutil.rmtree(pairs_path, ignore_errors=True)
        try:
            os.remove(pairs_manifest)
        except OSError:
            pass
        # superseded-variant GC (VERDICT r13 #4): a cap change keys a
        # NEW runs/pairs dir, stranding the old one; this commit
        # supersedes every sibling variant in the family.  Stale-k
        # shard bases for the same corpus are the same class one level
        # up.  Recorded in retired.json before deletion.
        _retire_superseded_stage_variants(
            base,
            ["runs_d*_o*", "pairs_d*_o*"],
            keep={runs_path},
            reason=f"superseded by {os.path.basename(runs_path)}",
        )
        _retire_superseded_stage_variants(
            _durable_stage_root(),
            [f"substring_shards_k*_{tag}"],
            keep={base},
            reason=f"superseded by {os.path.basename(base)}",
        )
    return spark.read.parquet(runs_path)


def doc_substring_spans(
    spark: SparkSession,
    sf_dir: str,
    k: int = 20,
    min_span: int = 40,
    max_gram_docs: int = 50,
    max_gram_occurrences: int = 200,
) -> DataFrame:
    """Exact duplicate-substring spans between document pairs — the
    distributed reformulation of exact-substring training-data dedup
    (Lee et al. 2021, arXiv:2107.06499, which builds a suffix array; a
    suffix array is a single-machine structure, so the Spark-first
    shape is k-gram anchors + diagonal run-length assembly).  Registered
    at the r8 rotation; also pinned against a literal
    DuckDB replay in ``tests/test_extensions.py``.

    Every character position contributes one md5'd k-gram anchor
    (k=20); anchors equi-join across documents; matched anchor pairs on
    the same alignment diagonal (pa - pb) with consecutive positions
    collapse into maximal shared spans via the gaps-and-islands
    row_number trick; pairs sharing a span of >= ``min_span`` chars
    come out with span count, longest span, and total shared chars.

    Boilerplate guard: a gram present in more than ``max_gram_docs``
    distinct documents (site chrome, license headers) or more than
    ``max_gram_occurrences`` times overall (degenerate repetition —
    the quadratic per-gram match risk) is dropped BEFORE the self-join,
    exactly as Lee et al. drop high-frequency suffixes; both bounds are
    replayed verbatim in the oracle, so the filter is part of the
    contract, not a silent cap.

    Round-8 oracle (DuckDB):

        WITH grams AS (SELECT doc_id, pos, md5(substr(text, pos, 20))
          AS g FROM documents, UNNEST(range(1, length(text) - 20 + 2))
          AS t(pos) WHERE text IS NOT NULL AND length(text) >= 20),
        keep AS (SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT
          doc_id) BETWEEN 2 AND 50 AND COUNT(*) <= 200),
        gg AS (SELECT grams.* FROM grams JOIN keep USING (g)),
        m AS (SELECT a.doc_id doc_a, b.doc_id doc_b, a.pos pa, b.pos pb
          FROM gg a JOIN gg b ON a.g = b.g AND a.doc_id < b.doc_id),
        runs AS (SELECT doc_a, doc_b, pa - pb AS diag, pa -
          ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
          ORDER BY pa) AS grp, pa FROM m),
        spans AS (SELECT doc_a, doc_b, MIN(pa) s, MAX(pa) + 19 AS e
          FROM runs GROUP BY doc_a, doc_b, diag, grp)
        SELECT doc_a, doc_b, COUNT(*) AS n_spans,
          CAST(MAX(e - s + 1) AS BIGINT) AS longest_span,
          CAST(SUM(e - s + 1) AS BIGINT) AS total_span_chars
        FROM spans GROUP BY doc_a, doc_b HAVING MAX(e - s + 1) >= 40

    Scale shape (the ``capped_bucket_pairs`` two-phase discipline):
    anchors shuffle ONCE on the (binary) md5 gram key — uniform by
    construction — into a hash-partitioned per-(session, corpus)
    persisted frame whose partitioning every downstream step reuses
    (count aggregate, keep join, occurrence collect: all shuffle-free;
    see the r12 note in ``_substring_span_frame`` — the prior
    two-derivation form's ~4 gram-scale exchanges filled the probe
    host's disk at 5M docs).  The frequency gate kills the only
    quadratic blow-up BEFORE any occurrence list or pair exists; the
    surviving grams collect ONE bounded occurrence array each (<=
    ``max_gram_occurrences`` entries by the gate) and expand their
    cross-document pairs in-plan — no second equi-join.  Dropped
    grams are counted in an observed dropped-grams metric.
    The run-assembly windows partition by (pair, diagonal) — small
    groups bounded by document length, never a global sort.  Spans on
    different diagonals may overlap in text; they count separately
    (documented semantics, same on both engines)."""
    spans = _substring_span_frame(
        spark, sf_dir, k, max_gram_docs, max_gram_occurrences,
        prefer_shuffle=_docs_is_big(spark, sf_dir),
    )
    return (
        spans.groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.max(F.col("e") - F.col("s") + 1).cast("long").alias("longest_span"),
            F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("total_span_chars"),
        )
        .where(F.col("longest_span") >= min_span)
    )


def doc_substring_dedup(
    spark: SparkSession,
    sf_dir: str,
    k: int = 20,
    min_span: int = 40,
    max_gram_docs: int = 50,
    max_gram_occurrences: int = 200,
) -> DataFrame:
    """The APPLICATION of exact-substring span mining — per-document
    duplicated-character coverage and a keep/trim/drop disposition (the
    step Lee et al. 2021 actually ship: cut the later copy of every
    long shared substring).  Registered at the r9 rotation (built in r8, window-blocked then);
    also pinned against a literal DuckDB replay in
    ``tests/test_extensions.py``.

    Convention: for each mined span between ``doc_a < doc_b`` the
    LATER document (``doc_b``) owns the duplicated characters — the
    earlier occurrence is the canonical copy, exactly the
    min-id-survivor rule the dedup family uses.  Spans shorter than
    ``min_span`` are ignored (same floor as the pair report); a
    document's b-side intervals are deduplicated, merged where they
    overlap (strictly — touching intervals stay separate, identically
    on both engines), and summed.  Output: one row per corpus document
    with text — (doc_id, n_chars, n_dup_regions, dup_chars, dup_ratio,
    status) where status is ``drop`` at >= 50% coverage, ``trim`` at
    >= 5%, else ``keep``; the thresholds compare in exact integer
    arithmetic (``2*dup_chars >= n_chars``) so the cut is
    rounding-free, and ``dup_ratio`` is a single int/int division —
    bit-identical cross-engine without display rounding.

    Round-9 oracle (DuckDB) — the ``doc_substring_spans`` CTEs without
    the pair-level HAVING, then interval union per doc_b:

        WITH grams AS (...same as doc_substring_spans...),
        keep AS (...), gg AS (...), m AS (...), runs AS (...),
        spans AS (SELECT doc_a, doc_b, diag, MIN(pa) s, MAX(pa) + 19 e
          FROM runs GROUP BY doc_a, doc_b, diag, grp),
        ivals AS (SELECT DISTINCT doc_b AS doc_id, s - diag AS ps,
          e - diag AS pe FROM spans WHERE e - s + 1 >= 40),
        marked AS (SELECT doc_id, ps, pe, CASE WHEN MAX(pe) OVER w IS
          NULL OR ps > MAX(pe) OVER w THEN 1 ELSE 0 END AS new_region
          FROM ivals WINDOW w AS (PARTITION BY doc_id ORDER BY ps, pe
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        regions AS (SELECT doc_id, MIN(ps) rs, MAX(pe) re FROM (SELECT
          *, SUM(new_region) OVER (PARTITION BY doc_id ORDER BY ps, pe
          ROWS UNBOUNDED PRECEDING) AS region FROM marked)
          GROUP BY doc_id, region),
        cov AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_dup_regions,
          CAST(SUM(re - rs + 1) AS BIGINT) dup_chars FROM regions
          GROUP BY doc_id)
        SELECT d.doc_id, d.n_chars, COALESCE(c.n_dup_regions, 0) ...,
          plus the integer-threshold status CASE

    Scale shape: everything up to the span frame is the audited
    ``doc_substring_spans`` plan (frequency-gated anchors, bounded
    occurrence arrays, per-(pair, diagonal) windows); the new work is
    one distinct + one per-document window over interval rows (bounded
    by spans per document, never corpus-global) + a broadcast-sized
    left join back to the corpus spine.  Nothing crosses to the
    driver."""
    spans = _substring_span_frame(
        spark, sf_dir, k, max_gram_docs, max_gram_occurrences,
        prefer_shuffle=_docs_is_big(spark, sf_dir),
    )
    return _substring_coverage(spark, sf_dir, spans, min_span)


def _substring_coverage(
    spark: SparkSession, sf_dir: str, spans: DataFrame, min_span: int
) -> DataFrame:
    """Per-document coverage + keep/trim/drop disposition downstream of
    a mined run frame (doc_a, doc_b, diag, s, e) — shared VERBATIM by
    ``doc_substring_dedup`` (inline span mining) and
    ``doc_substring_dedup_staged`` (pre-committed run table), the
    ``_bm25_rank`` twins-cannot-drift discipline applied to the
    substring family's application step."""
    from pyspark.sql import Window

    ivals = (
        spans.where(F.col("e") - F.col("s") + 1 >= min_span)
        .select(
            F.col("doc_b").alias("doc_id"),
            (F.col("s") - F.col("diag")).alias("ps"),
            (F.col("e") - F.col("diag")).alias("pe"),
        )
        .distinct()
    )
    w = Window.partitionBy("doc_id").orderBy("ps", "pe")
    prev_max = F.max("pe").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = ivals.withColumn(
        "new_region",
        F.when(prev_max.isNull() | (F.col("ps") > prev_max), 1).otherwise(0),
    )
    regions = (
        marked.withColumn(
            "region",
            F.sum("new_region").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc_id", "region")
        .agg(F.min("ps").alias("rs"), F.max("pe").alias("re"))
    )
    cov = regions.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_regions"),
        F.sum(F.col("re") - F.col("rs") + 1).cast("long").alias("dup_chars"),
    )
    docs = (
        load_table(spark, "documents", sf_dir)
        .where(F.col("text").isNotNull())
        .select("doc_id", "n_chars")
    )
    out = docs.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_chars",
        F.coalesce(F.col("n_dup_regions"), F.lit(0)).cast("long").alias(
            "n_dup_regions"
        ),
        F.coalesce(F.col("dup_chars"), F.lit(0)).cast("long").alias(
            "dup_chars"
        ),
    )
    return out.select(
        "doc_id",
        "n_chars",
        "n_dup_regions",
        "dup_chars",
        F.when(
            F.col("n_chars") > 0, F.col("dup_chars") / F.col("n_chars")
        ).alias("dup_ratio"),
        F.when(
            (F.col("n_chars") > 0)
            & (F.col("dup_chars") * 2 >= F.col("n_chars")),
            F.lit("drop"),
        )
        .when(
            (F.col("n_chars") > 0)
            & (F.col("dup_chars") * 20 >= F.col("n_chars")),
            F.lit("trim"),
        )
        .otherwise(F.lit("keep"))
        .alias("status"),
    )


_SUBSTRING_RUNS_MANIFEST = "substring_runs_manifest.json"


def _durable_stage_root() -> str:
    """Cross-SESSION staging root for per-corpus artifacts whose first
    derivation is expensive enough to amortize across processes (the
    substring run table: 1610 s at 5M docs).  ``LSDP_STAGE_DIR`` if
    set (production points this at durable object storage); otherwise
    a per-USER directory under the system temp root — unlike
    ``_scratch`` (per-process mkdtemp, dies with the session) it
    survives process exit, which is the whole point of a steady-state
    twin.  Correctness against staleness rides the manifest contract
    (params + corpus fingerprint, written LAST, atomic), not the path:
    a foreign or stale table fails validation and restages.  Two
    concurrent stagers of the SAME corpus may duplicate work (last
    manifest wins atomically via os.replace) — wasteful, never
    wrong."""
    root = os.environ.get("LSDP_STAGE_DIR")
    if not root:
        import getpass
        import tempfile

        root = os.path.join(
            tempfile.gettempdir(), f"lsdp_stage_{getpass.getuser()}"
        )
    os.makedirs(root, exist_ok=True)
    return root


_SUBSTRING_IMPL_DIGEST: str | None = None


def _substring_impl_digest() -> str:
    """Source digest of the substring mining implementation, embedded
    in every durable substring-staging manifest.  The durable base
    (r13) means a committed gram/pair/run table outlives the process
    AND the code that built it — params + corpus fingerprint alone
    would silently adopt a table mined by an OLDER algorithm after a
    code change (the rotation ledger pins registry entries, but a
    staged table on disk is outside its reach).  Hashing the mining
    functions' source makes any change restage: conservative (a
    comment edit restages too — one scan-bound pass) and automatic,
    the same transitive-digest discipline the rotation ledger uses."""
    global _SUBSTRING_IMPL_DIGEST
    if _SUBSTRING_IMPL_DIGEST is None:
        import hashlib
        import inspect

        src = "".join(
            inspect.getsource(f)
            for f in (
                _substring_span_frame,
                _gram_pair_matches,
                _runs_from_matches,
                _substring_runs_sharded,
            )
        )
        _SUBSTRING_IMPL_DIGEST = hashlib.md5(src.encode()).hexdigest()[:12]
    return _SUBSTRING_IMPL_DIGEST


def _substring_runs_params(
    k: int, max_gram_docs: int, max_gram_occurrences: int
) -> dict:
    return {
        "k": k,
        "max_gram_docs": max_gram_docs,
        "max_gram_occurrences": max_gram_occurrences,
        "schema": "doc_a,doc_b,diag,s,e",
        "impl": _substring_impl_digest(),
    }


def staged_substring_runs_valid(
    path: str,
    k: int,
    max_gram_docs: int,
    max_gram_occurrences: int,
    fingerprint: dict | None = None,
) -> bool:
    """The ``staged_bm25_postings_valid`` contract applied to the
    substring run table: manifest (written last) is the commit marker;
    params or corpus drift means restage, never silent reuse."""
    import json

    try:
        with open(os.path.join(path, _SUBSTRING_RUNS_MANIFEST)) as fh:
            manifest = json.load(fh)
    except (OSError, ValueError):
        return False
    want = _substring_runs_params(k, max_gram_docs, max_gram_occurrences)
    if {kk: manifest.get(kk) for kk in want} != want:
        return False
    if fingerprint is not None and manifest.get("corpus") != fingerprint:
        return False
    return True


def stage_substring_runs(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    k: int,
    max_gram_docs: int,
    max_gram_occurrences: int,
    fingerprint: dict | None = None,
) -> None:
    """Commit the mined maximal-run table (doc_a, doc_b, diag, s, e)
    to a DURABLE path — the `dedup_minhash_staged` pattern applied to
    the r12 substring staging (VERDICT r12 next-round #2).  The mining
    itself is the audited ``_substring_span_frame`` (single cached
    plan below the memory-derived shard bound, Lee-et-al-style
    gram-hash sharding above it); what this adds is cross-session
    amortization: the 3-stage sharded mining's scratch tables die with
    the process, so without this a fresh session re-pays the full
    staging (measured 1610.6 s at 5M docs) even though the run table
    it ends at is small (~two orders below pairs).  Manifest written
    LAST (atomic) = the commit marker."""
    runs = _substring_span_frame(
        spark, sf_dir, k, max_gram_docs, max_gram_occurrences,
        prefer_shuffle=_docs_is_big(spark, sf_dir),
    )
    runs.select("doc_a", "doc_b", "diag", "s", "e").write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "runs"))
    manifest = _substring_runs_params(k, max_gram_docs, max_gram_occurrences)
    if fingerprint is not None:
        manifest["corpus"] = fingerprint
    D.write_manifest_atomic(
        os.path.join(path, _SUBSTRING_RUNS_MANIFEST), manifest
    )


def read_staged_substring_runs(
    spark: SparkSession,
    path: str,
    k: int,
    max_gram_docs: int,
    max_gram_occurrences: int,
    expect_fingerprint: dict | None = None,
) -> DataFrame:
    """Manifest-pinned read of a committed run table — missing
    manifest = uncommitted stage = raise; params/fingerprint drift
    raises instead of silently assembling coverage from foreign
    runs."""
    import json

    with open(os.path.join(path, _SUBSTRING_RUNS_MANIFEST)) as fh:
        manifest = json.load(fh)
    want = _substring_runs_params(k, max_gram_docs, max_gram_occurrences)
    got = {kk: manifest.get(kk) for kk in want}
    if got != want:
        raise ValueError(
            f"staged substring runs at {path} were mined with {got}, "
            f"caller expects {want} — restage before use"
        )
    if (
        expect_fingerprint is not None
        and manifest.get("corpus") != expect_fingerprint
    ):
        raise ValueError(
            f"staged substring runs at {path} cover corpus "
            f"{manifest.get('corpus')}, caller's corpus is "
            f"{expect_fingerprint} — restage before use"
        )
    return spark.read.parquet(os.path.join(path, "runs"))


def doc_substring_dedup_staged(
    spark: SparkSession,
    sf_dir: str,
    k: int = 20,
    min_span: int = 40,
    max_gram_docs: int = 50,
    max_gram_occurrences: int = 200,
) -> DataFrame:
    """``doc_substring_dedup`` reading a PRE-COMMITTED run table from a
    durable path — the cross-session steady state of the r12 3-stage
    sharded mining (VERDICT r12 next-round #2): the gram/pair/run
    staging is paid once per CORPUS, and every later session — not
    just later calls in the staging session — assembles coverage from
    the committed runs at scan cost.  Output and oracle are IDENTICAL
    to ``doc_substring_dedup``: the coverage step is shared verbatim
    (``_substring_coverage``) and the run table is the same
    ``_substring_span_frame`` output, so staged and inline results
    cannot drift by construction (pinned by
    ``test_substring_staged_twin_matches_inline_and_survives_sessions``).

    Scale shape: first touch per corpus = the audited mining (sharded
    above the memory-derived bound) + one small parquet write (runs
    are ~two orders below pairs); steady state from ANY session = one
    parquet scan of the runs + the per-document interval-merge window
    + a broadcast-sized join to the corpus spine."""
    fprint = _corpus_fingerprint(spark, sf_dir)
    path = os.path.join(
        _durable_stage_root(),
        "substring_runs_k%d_d%d_o%d_%s"
        % (
            k,
            max_gram_docs,
            max_gram_occurrences,
            os.path.abspath(sf_dir).replace(os.sep, "_"),
        ),
    )
    if not staged_substring_runs_valid(
        path, k, max_gram_docs, max_gram_occurrences, fingerprint=fprint
    ):
        stage_substring_runs(
            spark, sf_dir, path, k, max_gram_docs, max_gram_occurrences,
            fingerprint=fprint,
        )
        # this commit supersedes any differently-parameterized twin for
        # the same corpus (``substring_runs_k*_d*_o*_<tag>`` siblings)
        # — without this a param change strands the old variant on the
        # durable base forever (VERDICT r13 #4)
        _retire_superseded_stage_variants(
            _durable_stage_root(),
            [
                "substring_runs_k*_%s"
                % os.path.abspath(sf_dir).replace(os.sep, "_")
            ],
            keep={path},
            reason=f"superseded by {os.path.basename(path)}",
        )
    runs = read_staged_substring_runs(
        spark, path, k, max_gram_docs, max_gram_occurrences,
        expect_fingerprint=fprint,
    )
    return _substring_coverage(spark, sf_dir, runs, min_span)


def similarity_ivf_incremental(
    spark: SparkSession, sf_dir: str, shard_below: int = 100
) -> DataFrame:
    """Incremental IVF index maintenance — assign a NEW ingest shard
    (``vec_id < shard_below``) against centroids trained on the EXISTING
    corpus (``vec_id >= shard_below``), without retraining: the
    embedding-index analog of ``dedup_incremental_ingest``'s
    shard-vs-corpus asymmetry.  Registered at the r8 rotation; also
    then pinned against a literal DuckDB replay in
    ``tests/test_extensions.py``.

    Seeds are the k smallest BASE ids by rank (the base starts at
    ``shard_below``, so id-threshold seeding would find none); training
    is the exact ``ivf_kmeans_assign`` Lloyd spec over the base only
    (k=8, iters=2 via ``operators.similarity._lloyd_train``); the shard
    assignment is shard x k broadcast scoring.

    Round-8 oracle: the ``_kmeans_oracle`` CTE machinery with the v CTE
    split into base (training, rank-seeded) and shard (final assign) —
    documented in the pinned test.

    Scale shape: per-ingest cost is proportional to the SHARD (shard x k
    broadcast folds + one rank window over k rows' worth of seeds), the
    corpus is touched only by the (amortizable, here inline because the
    driver query must be self-contained) training pass, and nothing
    data-sized crosses to the driver."""
    emb = load_table(spark, "embeddings", sf_dir)
    base = emb.where(F.col("vec_id") >= shard_below)
    shard = emb.where(F.col("vec_id") < shard_below)
    return S.ivf_incremental_assign(
        base, shard, "vec_id", "embedding", k=8, iters=2
    )


def similarity_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composite ANN search (the FAISS ``IVFPQ`` deployment
    shape): a coarse 8-list k-means quantizer restricts each of 3
    queries to its 2 nearest inverted lists, and the candidates inside
    those lists are scored by asymmetric PQ distance over m=4 codebooks
    (k=8, 2 Lloyd rounds each) — top-10 per query.  Completes the ANN
    quality/cost ladder: IVF cut WHICH vectors score (nprobe/n_lists of
    the corpus), PQ cuts WHAT each scoring reads (4 integer codes, not
    the raw vector).  Registered at the r9 rotation; also
    pinned against a literal DuckDB replay in
    ``tests/test_extensions.py``.

    Round-9 oracle: the ``_kmeans_oracle`` coarse machinery (k=8) for
    the assignment CTE plus a rank<=2 probe CTE over the final
    centroids, composed with the ``_pq_oracle`` training/encode/dtab
    CTEs and the probed-list candidate restriction — documented in the
    pinned test; every stage follows the engine-exact Lloyd/fold/
    decimal contract, so the composite is hash-exact including the
    top-k cut.

    Scale shape: see ``operators.pq.ivf_pq_topk`` — broadcast
    centroids/codebooks/probe tables, one map-side-combinable (query,
    candidate) aggregation over the IVF-restricted candidate set."""
    from logistream_data_pipeline_aws_spark.operators import pq as PQ

    emb = load_table(spark, "embeddings", sf_dir)
    return PQ.ivf_pq_topk(
        emb, "vec_id", "embedding", dim=64, n_lists=8, nprobe=2,
        m=4, k=8, iters=2, n_queries=3, k_top=10,
    )


# -- round-10 registration queue (window-blocked this round) ------------------
# Four operators built at round 9, each with a documented DuckDB oracle
# and a literal replay pin in tests/test_extensions.py; they register at
# the next rotation (COVERAGE.md "Round-10 registration queue").


def corpus_domain_cap(
    spark: SparkSession, sf_dir: str, cap: int = 12
) -> DataFrame:
    """Per-source frequency capping — the RefinedWeb/C4 discipline of
    bounding any single domain's share of the training corpus (Penedo
    et al. 2023 §3.3 cap the URL-dedup'd crawl per registered domain):
    rank each document WITHIN its ``source`` by a deterministic
    priority (ascending ``doc_id`` — stable across runs and engines),
    keep the first ``cap``, mark the rest ``drop_capped``.  Emits the
    audit columns (``src_rank``, ``src_total``) so the drop set is
    reviewable, the same drop-attribution contract as
    ``corpus_dedup_pipeline``.

    Round-10 oracle (DuckDB):

        SELECT d.doc_id, d.source,
               CAST(ROW_NUMBER() OVER (PARTITION BY d.source
                    ORDER BY d.doc_id) AS BIGINT) AS src_rank,
               CAST(COUNT(*) OVER (PARTITION BY d.source) AS BIGINT)
                    AS src_total,
               CASE WHEN ROW_NUMBER() OVER (PARTITION BY d.source
                    ORDER BY d.doc_id) <= 12 THEN 'keep'
                    ELSE 'drop_capped' END AS status
        FROM documents d WHERE d.source IS NOT NULL

    Scale shape: ONE shuffle keyed on ``source``; rank and total ride
    the same window partition.  Domain keys are Zipfian at crawl scale,
    so the hot-domain partition is the bound — but the cap itself
    limits useful work per key to O(cap) winners, and the window walk
    is a single streaming pass per key (no buffering beyond the frame),
    so a hot domain costs one task scanning its rows, not a blow-up.
    NULL sources are excluded on both sides (the NULL-join-key gate
    class)."""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir).where(
        F.col("source").isNotNull()
    )
    w = Window.partitionBy("source")
    rank = F.row_number().over(w.orderBy("doc_id"))
    return docs.select(
        "doc_id",
        "source",
        rank.cast("long").alias("src_rank"),
        F.count(F.lit(1)).over(w).cast("long").alias("src_total"),
        F.when(rank <= cap, F.lit("keep"))
        .otherwise(F.lit("drop_capped"))
        .alias("status"),
    )


def corpus_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher/MassiveText quality-rule battery (Rae et al. 2021,
    arXiv:2112.11446 §A.1.1) as one audited boolean matrix — the
    multi-gate filter a pretraining pipeline runs AFTER dedup and
    BEFORE mixing.  Every gate compares in EXACT integer arithmetic
    (cross-multiplied rationals, no float thresholds), so the matrix is
    hash-exact cross-engine by construction:

    - ``g_word_count``:    40 <= n_words <= 100000
    - ``g_mean_word_len``: 3 <= total_word_chars / n_words <= 10
                           (as 3*n_words <= chars AND chars <= 10*n_words)
    - ``g_stopwords``:     >= 2 DISTINCT lowered stopwords of the
                           document's ``lang`` present (unknown or NULL
                           lang passes — no list to test against)
    - ``g_dup_2gram``:     top 2-gram's share of all 2-grams <= 20%
                           (5 * top <= n_grams)
    - ``g_dup_3gram``:     top 3-gram share <= 18%  (100*top <= 18*n)
    - ``g_dup_4gram``:     top 4-gram share <= 16%  (100*top <= 16*n)
    - ``passes``:          AND of all six

    Documents with fewer than n tokens have no n-grams: those gates
    pass vacuously (0 grams -> nothing repeated), mirrored as
    ``COALESCE`` in the oracle.  NULL text is excluded on both sides.
    Gram keys are the space-joined raw token slices.

    Oracle (``__spark_entry__.oracle_sql()["corpus_gopher_rules"]``):
    tok/counts CTEs plus one UNION-ALL gram relation re-aggregated per
    (doc, n), stitched by the same cross-multiplied comparisons.

    One ``mapInPandas`` kernel: each document is tokenized once per
    Arrow batch (``corpus_quality_filter``'s tokenizer) and every gate
    derives from that pass, the top-gram shares from a ``Counter`` per
    gram size.  Scale shape: a pure map whose only exchange is the
    CPU-stage round-robin repartition — no token or gram explode, no
    (doc, n, gram) shuffle, no join back to a per-doc spine."""
    from logistream_data_pipeline_aws_spark.operators.dedup_family import (
        parallelize_cpu_stage,
    )

    docs = parallelize_cpu_stage(
        load_table(spark, "documents", sf_dir)
        .where(F.col("text").isNotNull())
        .select("doc_id", "lang", "text")
    )
    sws = {lg: frozenset(ws) for lg, ws in STOPWORDS.items()}
    schema = (
        "doc_id bigint, n_words bigint, g_word_count boolean, "
        "g_mean_word_len boolean, g_stopwords boolean, "
        "g_dup_2gram boolean, g_dup_3gram boolean, "
        "g_dup_4gram boolean, passes boolean"
    )
    cols = [
        "doc_id", "n_words", "g_word_count", "g_mean_word_len",
        "g_stopwords", "g_dup_2gram", "g_dup_3gram", "g_dup_4gram",
        "passes",
    ]

    def run(batches):
        import re
        from collections import Counter

        import pandas as pd

        # once per task: the compiled ASCII-\s splitter
        tok_re = re.compile(r"[ \t\n\x0b\f\r]+")
        for pdf in batches:
            pdf = pdf[pdf["text"].notna()]
            if not len(pdf):
                continue
            rows = []
            for doc_id, lang, text in zip(
                pdf["doc_id"], pdf["lang"], pdf["text"]
            ):
                toks = tok_re.split(text.strip(" "))
                n = len(toks)
                chars = sum(len(t) for t in toks)
                sw = sws.get(lang) if isinstance(lang, str) else None
                if sw is None:
                    # no list for the doc's lang: untestable -> pass
                    g_sw = True
                else:
                    g_sw = len({t.lower() for t in toks} & sw) >= 2
                g_wc = 40 <= n <= 100_000
                g_mwl = (3 * n <= chars) and (chars <= 10 * n)
                gates = []
                for gn, mul_top, mul_total in (
                    (2, 5, 1), (3, 100, 18), (4, 100, 16),
                ):
                    if n >= gn:
                        c = Counter(
                            " ".join(toks[i : i + gn])
                            for i in range(n - gn + 1)
                        )
                        top, total = max(c.values()), n - gn + 1
                    else:
                        # <n tokens: no n-grams, the gate passes
                        # vacuously (0*mt <= 0*mtot)
                        top, total = 0, 0
                    gates.append(top * mul_top <= total * mul_total)
                g2, g3, g4 = gates
                rows.append(
                    (
                        doc_id, n, g_wc, g_mwl, g_sw, g2, g3, g4,
                        g_wc and g_mwl and g_sw and g2 and g3 and g4,
                    )
                )
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return docs.mapInPandas(run, schema)


def bm25_topk(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    n_terms: int = 4,
    k_top: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 retrieval (Robertson & Zaragoza 2009) over the
    documents table — the lexical leg of a retrieval stack next to the
    embedding ANN family (``similarity_*``), and the standard candidate
    generator for RAG / hard-negative mining over a training corpus.

    Deterministic self-contained query set: the first ``n_queries``
    documents (doc_id < n_queries) each contribute the ``n_terms``
    lexicographically-smallest distinct tokens of length >= 3 — stable
    across engines (no reliance on list_distinct ordering).  Scoring is
    the textbook formula, engineered for cross-engine hash-exactness:

    - ``idf = round(ln((N - df + 0.5)/(df + 0.5) + 1), 6)`` — the +1
      keeps idf positive; rounding to 6dp anchors the one libm call
      (the ``tfidf_top_terms`` discipline, hash-exact since r4);
    - per-term contribution ``idf * (tf*(k1+1)) / (tf + k1*(1 - b +
      b*dl/avgdl))`` evaluated with an IDENTICAL expression tree on
      both engines, then CAST to DECIMAL(25,10) so the per-(query,doc)
      SUM is order-free (double += is not associative; Spark partial
      aggregation order is nondeterministic);
    - ``score = round(CAST(sum AS DOUBLE), 6)``; rank by (score DESC,
      doc_id) with the query's own document excluded.

    Round-10 oracle: documented in the pinned test
    (tests/test_extensions.py::test_bm25_topk_matches_oracle) — tf/df/
    dl/avgdl CTEs + the same contribution expression with
    double-cast literals (DuckDB parses bare 2.2 as DECIMAL).

    Scale shape: tf and df are the two map-side-combinable shuffles a
    relational BM25 costs (same frame as ``tfidf_top_terms``); the
    query-term table is tiny and broadcasts; per-query top-k is a
    window over ≤ the candidate postings, keyed by query.  Zipfian
    term skew lands on the compound (doc, term) key, not a single
    reducer."""
    docs = load_table(spark, "documents", sf_dir).where(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("tk")
    )
    # ONE corpus tokenize: df, dl and avgdl all derive from the tf
    # aggregate — the naive dl/df/corpus-as-separate-frames shape
    # re-scanned and re-tokenized the corpus 6x (the derived-frame
    # re-derivation gotcha), which at 100 TB is 5 wasted full passes.
    # dl per doc is recovered as SUM(tf) (identical by construction:
    # token counts partition the document).  The tf frame is PERSISTED
    # per (session, corpus) — this is the posting-list build every real
    # BM25 deployment materializes once and queries many times
    # (MEMORY_AND_DISK: the index spills rather than OOMs; column
    # pruning otherwise specializes each branch's scan and defeats
    # exchange reuse, leaving 3 full tokenize passes).  One corpus per
    # session: superseding a corpus unpersists the displaced index.
    tf = stage(
        spark, sf_dir, "bm25_tf:inline",
        lambda: toks.select("doc_id", F.explode("tk").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK),
    )
    # the doc-length leg of the index, staged per (session, corpus) like
    # the postings themselves (r15 — see _bm25_rank)
    dl = stage(
        spark, sf_dir, "bm25_dl:inline",
        lambda: tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
        .persist(StorageLevel.MEMORY_AND_DISK),
    )
    return _bm25_rank(tf, toks, n_queries, n_terms, k_top, k1, b, dl=dl)


def _bm25_rank(
    tf: DataFrame,
    toks: DataFrame,
    n_queries: int,
    n_terms: int,
    k_top: int,
    k1: float,
    b: float,
    null_score_diag: str | None = None,
    dl: DataFrame | None = None,
) -> DataFrame:
    """The BM25 scoring pipeline downstream of the postings table —
    shared verbatim by ``bm25_topk`` (in-session persisted postings)
    and ``bm25_topk_staged`` (parquet-staged postings), so the staged
    path cannot drift from the inline one by construction.

    ``null_score_diag``: when set (the STAGED path passes its postings
    location), a NULL final score raises in-plan instead of flowing to
    the output — the impossible-state assert from the r12 one-off
    incident adjudication (BUILDLOG r12 "Staged-BM25 incident"): every
    factor of the contribution is non-null by construction (tf from a
    count, df/dl from counts/sums over it, idf a total function of
    df/n_docs), so a NULL score can only mean corrupt or partially-read
    staged postings, and scoring must fail loudly with the staging
    diagnostic rather than emit a NULL that survives to the gate.

    ``dl``: optionally a pre-built (persisted) doc-length table —
    (doc_id, dl) with dl = SUM(tf) per doc.  When None it is derived
    inline from ``tf`` (identical values by construction)."""
    from pyspark.sql import Window

    # the query-doc scan stays separate but carries a pushed-down
    # doc_id < n_queries predicate: row-group stats skip the corpus
    qterms = (
        toks.where(F.col("doc_id") < n_queries)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(
                F.slice(
                    F.array_sort(
                        F.array_distinct(
                            F.filter("tk", lambda t: F.length(t) >= 3)
                        )
                    ),
                    1,
                    n_terms,
                )
            ).alias("term"),
        )
        .distinct()
    )
    # candidate postings = ONE pass over the postings table with a
    # broadcast hash probe on the distinct query terms (r15, guide §2.3
    # "aggregate what you need"): df for the rest of the vocabulary was
    # computed and thrown away by the downstream inner joins, so derive
    # df as a window COUNT over this candidate frame instead of a second
    # vocabulary-sized aggregate pass over the whole table — identical
    # values for every surviving term (tf holds one row per (doc, term),
    # so rows-per-term over candidates IS the document frequency).
    qt = qterms.select("term").distinct()
    cand = tf.join(F.broadcast(qt), "term").withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term")).cast("long")
    )
    # the doc-length table is PART of a BM25 index (every lexical engine
    # stores doc lengths/norms next to its postings): the registered
    # callers pass it in persisted per (session, corpus) like the
    # postings themselves, so the two consumers below (the per-doc join
    # and the corpus-stats aggregate) read one in-memory frame instead
    # of re-deriving the doc-grain aggregate per consumer — the r15 plan
    # previously derived dl from the postings table THREE times (join
    # side, n_docs broadcast, avgdl broadcast; AQE's runtime stage reuse
    # does not catch them even though static ReuseExchange does).
    if dl is None:
        dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    postings = (
        F.broadcast(qterms)
        .join(cand, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .where(F.col("query_id") != F.col("doc_id"))
    )
    # idf in-row from the joined (df, n_docs) instead of a separate
    # per-term idf frame: round(ln) is a deterministic row-local
    # function of values that are constant per term, so per-posting
    # evaluation is value-identical — and the former TWO single-column
    # corpus broadcasts (n_docs for idf, avgdl for postings), each of
    # which re-derived dl from scratch, fold into ONE two-column
    # broadcast of the same aggregate (r15).
    idf = F.round(
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5)
            / (F.col("df") + 0.5)
            + 1.0
        ),
        6,
    )
    contrib = (
        idf
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        postings.select(
            "query_id",
            "doc_id",
            contrib.cast("decimal(25,10)").alias("c"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("c").cast("double"), 6).alias("score"))
    )
    if null_score_diag is not None:
        scored = scored.withColumn(
            "score",
            F.when(F.col("score").isNotNull(), F.col("score")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "BM25 impossible state: NULL score for "
                            "(query_id, doc_id)=("
                        ),
                        F.col("query_id").cast("string"),
                        F.lit(", "),
                        F.col("doc_id").cast("string"),
                        F.lit(
                            ") — staged postings corrupt or partially "
                            f"read; diagnostic: {null_score_diag}"
                        ),
                    )
                )
            ),
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k_top)
        .select("query_id", "doc_id", "score", "rank")
    )


_BM25_INDEX_MANIFEST = "bm25_index_manifest.json"


def _bm25_index_params(k_shingle_none: None = None) -> dict:
    # the staged index is valid only for the exact tokenization it was
    # built under: lower() + the functions.text.tokens() word regex
    return {"tokenizer": "lower+text.tokens", "schema": "doc_id,term,tf"}


def staged_bm25_postings_valid(path: str, fingerprint: dict | None = None) -> bool:
    """Whether a staged BM25 index at ``path`` is safe to reuse — the
    ``staged_signatures_valid`` contract applied to the lexical index:
    the manifest (written last) is the commit marker, so a crashed
    stage or a corpus that changed since staging means restage, never
    silent reuse (ADVICE r10 #2)."""
    import json

    try:
        with open(os.path.join(path, _BM25_INDEX_MANIFEST)) as fh:
            manifest = json.load(fh)
    except (OSError, ValueError):
        return False
    want = _bm25_index_params()
    if {k: manifest.get(k) for k in want} != want:
        return False
    if fingerprint is not None and manifest.get("corpus") != fingerprint:
        return False
    return True


def stage_bm25_postings(
    docs: DataFrame, path: str, fingerprint: dict | None = None
) -> None:
    """Materialize the BM25 postings table (doc_id, term, tf) once per
    corpus — the inverted-index build every lexical-retrieval
    deployment pays ONCE and queries many times.  The 1000x probe
    measured the in-session build at 356 s over 5M docs (300M term
    rows) against a 48 s amortized query: staging it as parquet makes
    that build a per-CORPUS cost instead of a per-session one, the
    same discipline as ``stage_minhash_signatures``.  A params
    manifest rides next to the data so a reader under a different
    tokenization raises instead of silently scoring against foreign
    postings."""
    import json

    toks = docs.where(F.col("text").isNotNull()).select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("tk")
    )
    tf = (
        toks.select("doc_id", F.explode("tk").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    tf.write.mode("overwrite").parquet(os.path.join(path, "postings"))
    manifest = _bm25_index_params()
    if fingerprint is not None:
        manifest["corpus"] = fingerprint
    # manifest LAST: it is the commit marker staged_bm25_postings_valid
    # gates on — a stage that dies above leaves no manifest, so the
    # next caller restages instead of adopting a partial index
    D.write_manifest_atomic(os.path.join(path, _BM25_INDEX_MANIFEST), manifest)


def read_staged_bm25_postings(
    spark: SparkSession, path: str, expect_fingerprint: dict | None = None
) -> DataFrame:
    """Read a staged postings table back, validating its manifest —
    the ``read_staged_signatures`` contract applied to the lexical
    index (missing manifest = uncommitted stage = raise; optional
    corpus-fingerprint pin for durable paths)."""
    import json

    with open(os.path.join(path, _BM25_INDEX_MANIFEST)) as fh:
        manifest = json.load(fh)
    want = _bm25_index_params()
    got = {k: manifest.get(k) for k in want}
    if got != want:
        raise ValueError(
            f"staged BM25 index at {path} was built with {got}, "
            f"caller expects {want} — rebuild before use"
        )
    if (
        expect_fingerprint is not None
        and manifest.get("corpus") != expect_fingerprint
    ):
        raise ValueError(
            f"staged BM25 index at {path} covers corpus "
            f"{manifest.get('corpus')}, caller's corpus is "
            f"{expect_fingerprint} — rebuild before use"
        )
    return spark.read.parquet(os.path.join(path, "postings"))


def bm25_topk_staged(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    n_terms: int = 4,
    k_top: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k reading a PERSISTED postings index — ``bm25_topk``
    with the posting-list build paid once per corpus instead of once
    per session (staged to parquet on first touch, manifest-guarded).
    Output and oracle are IDENTICAL to ``bm25_topk`` (the scorer is
    shared verbatim via ``_bm25_rank``); df/dl/avgdl re-derive from
    the staged table at scan cost, so a fresh session pays one parquet
    scan + the two map-side-combinable aggregates, never the corpus
    tokenize.  R12-queue candidate (built + pinned in r10)."""
    docs = load_table(spark, "documents", sf_dir)
    path = _scratch(
        "bm25_index_" + os.path.abspath(sf_dir).replace(os.sep, "_")
    )
    fprint = _corpus_fingerprint(spark, sf_dir)
    if not staged_bm25_postings_valid(path, fingerprint=fprint):
        stage_bm25_postings(docs, path, fingerprint=fprint)
    # persist the staged read like the inline path persists its build
    # (bm25_topk): the scorer's three consumers (df, dl, the postings
    # join) would otherwise re-scan the staged parquet each
    tf = stage(
        spark, sf_dir, "bm25_tf:staged",
        lambda: read_staged_bm25_postings(
            spark, path, expect_fingerprint=fprint
        ).persist(StorageLevel.MEMORY_AND_DISK),
    )
    toks = docs.where(F.col("text").isNotNull()).select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("tk")
    )
    dl = stage(
        spark, sf_dir, "bm25_dl:staged",
        lambda: tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
        .persist(StorageLevel.MEMORY_AND_DISK),
    )
    return _bm25_rank(
        tf, toks, n_queries, n_terms, k_top, k1, b,
        null_score_diag=f"staged postings at {path}",
        dl=dl,
    )


def events_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct training-feature assembly — the feature-
    store discipline (one row per LABEL event carrying aggregates over
    trailing horizons that end STRICTLY BEFORE the label's timestamp,
    so no feature leaks its own label).  Labels are the ``purchase``
    events; features per (user, label):

    - ``f_ev_7d``:   events in [t-7d, t) — same-microsecond events are
      excluded (the RANGE (-7d·1e6, -1] contract);
    - ``f_val_7d``:  SUM(value) over the same horizon, accumulated as
      DECIMAL(30,6) (cross-engine double accumulation differs), empty
      horizon -> 0.0;
    - ``f_clicks_1d``: click count in [t-1d, t);
    - ``micros_since_click``: gap to the user's most recent STRICT
      predecessor click (ordered by (epoch, event_id) — deterministic
      under timestamp ties), NULL when no prior click.

    SCALE SHAPE — running prefixes + boundary probes, NOT sliding
    frames.  The obvious plan (RANGE BETWEEN 7d PRECEDING AND 1
    PRECEDING windows) is quadratic on Spark under a hot key: Spark
    has no retractable aggregate buffers, so a SLIDING frame re-scans
    its whole frame whenever the bounds move — the 30%-hot-user skew
    probe ran a ~680k-row frame per label and did not finish (the
    unskewed 100x line takes ~12 s).  Instead every horizon aggregate
    becomes a DIFFERENCE OF RUNNING PREFIXES, which Spark evaluates
    incrementally in O(rows):

    - each event carries deltas (1, value, is_click);
    - each label emits three zero-delta BOUNDARY PROBES keyed at t,
      t-7d and t-1d, sorted BEFORE events at equal epoch (ties
      excluded, matching the strict bound);
    - ONE running-sum window over the (events ∪ probes) union per
      user yields prefix(<t), prefix(<t-7d), prefix(<t-1d);
    - per label: count = prefix(<t) − prefix(<t-7d), etc.; decimal
      differences are exact, so values match the window formulation
      bit-for-bit.

    ``micros_since_click`` stays a running MAX (add-only frame —
    already incremental).  Cost: one user-keyed shuffle over ~1.6n
    rows + one probe-id shuffle of 3 rows per label + one broadcastable
    join back to the labels.  A hot user is now a linear single-pass
    scan, not a quadratic one.  ``ts IS NOT NULL AND user_id IS NOT
    NULL`` is gated on BOTH sides (the ordered-window NULL divergence
    class).

    Round-10 oracle: documented in the pinned test
    (tests/test_extensions.py::test_events_feature_matrix_matches_
    oracle) — the straightforward WINDOW formulation over
    epoch_us(ts); DuckDB's window engine handles sliding frames in
    O(n log n), so the oracle states the SEMANTICS while this plan
    carries the scale."""
    from pyspark.sql import Window

    ev = (
        load_table(spark, "events", sf_dir)
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            "value",
            F.unix_micros("ts").alias("em"),
        )
    )
    # labels with the one already-incremental feature (running MAX of
    # the last click epoch over a strict-predecessor add-only frame)
    wr = (
        Window.partitionBy("user_id")
        .orderBy("em", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    labels = (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            "em",
            F.col("ts").alias("label_ts"),
            (
                F.col("em")
                - F.max(
                    F.when(F.col("event_type") == "click", F.col("em"))
                ).over(wr)
            ).alias("micros_since_click"),
        )
        .where(F.col("event_type") == "purchase")
        .drop("event_type")
    )
    # events as delta rows; probes as zero-delta boundary markers.
    # tie=0 sorts a probe BEFORE events at the same epoch, so a probe
    # at key k reads the prefix of events STRICTLY below k.
    deltas = ev.select(
        "user_id",
        F.col("em").alias("key"),
        F.lit(1).alias("tie"),
        F.lit(1).cast("long").alias("d_n"),
        F.coalesce(F.col("value").cast("decimal(30,6)"), F.lit(0).cast("decimal(30,6)")).alias("d_val"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).cast("long").alias("d_click"),
        F.lit(None).cast("long").alias("probe_id"),
        F.lit(None).cast("string").alias("probe_kind"),
    )
    probe_rows = []
    for kind, off in (("hi", 0), ("lo7", 604_800_000_000), ("lo1", 86_400_000_000)):
        probe_rows.append(
            labels.select(
                "user_id",
                (F.col("em") - F.lit(off)).alias("key"),
                F.lit(0).alias("tie"),
                F.lit(0).cast("long").alias("d_n"),
                F.lit(0).cast("decimal(30,6)").alias("d_val"),
                F.lit(0).cast("long").alias("d_click"),
                F.col("event_id").alias("probe_id"),
                F.lit(kind).alias("probe_kind"),
            )
        )
    unioned = deltas
    for p in probe_rows:
        unioned = unioned.unionByName(p)
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("key", "tie", "probe_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prefixes = (
        unioned.select(
            "probe_id",
            "probe_kind",
            F.sum("d_n").over(wcum).alias("p_n"),
            F.sum("d_val").over(wcum).alias("p_val"),
            F.sum("d_click").over(wcum).alias("p_click"),
        )
        .where(F.col("probe_id").isNotNull())
    )
    feats = prefixes.groupBy("probe_id").agg(
        (
            F.max(F.when(F.col("probe_kind") == "hi", F.col("p_n")))
            - F.max(F.when(F.col("probe_kind") == "lo7", F.col("p_n")))
        )
        .cast("long")
        .alias("f_ev_7d"),
        (
            F.max(F.when(F.col("probe_kind") == "hi", F.col("p_val")))
            - F.max(F.when(F.col("probe_kind") == "lo7", F.col("p_val")))
        )
        .cast("double")
        .alias("f_val_7d"),
        (
            F.max(F.when(F.col("probe_kind") == "hi", F.col("p_click")))
            - F.max(F.when(F.col("probe_kind") == "lo1", F.col("p_click")))
        )
        .cast("long")
        .alias("f_clicks_1d"),
    )
    return labels.join(
        feats, labels.event_id == feats.probe_id
    ).select(
        "user_id",
        "event_id",
        "label_ts",
        "f_ev_7d",
        "f_val_7d",
        "f_clicks_1d",
        "micros_since_click",
    )


def similarity_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit of the ANN index against brute-force ground truth
    — the evaluation harness every approximate-similarity deployment
    runs before trusting its index (and re-runs after re-training): per
    query, how many of the EXACT top-k neighbors the sign-LSH
    candidate path actually returned.

    Composes two independently verified operators on the SAME
    parameters (k=5, n_bits=4, queries = vec_id < 10):
    ``similarity_topk`` (exact) and ``similarity_ann_lsh`` (approx);
    ``recall_at_k`` is ONE int/int division — bit-identical
    cross-engine without rounding (the cume_dist discipline: never
    round a raw single division).

    Round-10 oracle: the two registered oracles nested as CTEs joined
    on (query_id, candidate_id) — documented in the pinned test
    (tests/test_extensions.py::test_similarity_recall_audit_matches_
    oracle).

    Scale shape: ground truth is the expensive side (brute force is
    O(nq·n) by definition — the audit runs on a SAMPLED query set,
    here the nq=10 fixture queries; production samples a few thousand)
    and the comparison is two semi/left joins on (query, candidate),
    both tiny (nq·k rows).  The audit never touches the corpus beyond
    what its two component operators already do."""
    exact = similarity_topk(spark, sf_dir).select("query_id", "candidate_id")
    ann = similarity_ann_lsh(spark, sf_dir).select("query_id", "candidate_id")
    hits = exact.join(ann, ["query_id", "candidate_id"], "left_semi")
    base = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    nh = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    return base.join(nh, "query_id", "left").select(
        "query_id",
        "k",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        (
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.col("k")
        ).alias("recall_at_k"),
    )


def graph_triangle_count(
    spark: SparkSession,
    sf_dir: str,
    max_order_items: int | None = 256,
    cap_observation=None,
) -> DataFrame:
    """Per-node triangle census + local clustering coefficient over the
    part co-purchase graph — the graph-analytics primitive behind
    community detection, spam/bot detection and recommendation
    diversity scoring, and the third leg of this engine's graph family
    next to ``supplier_pagerank`` (centrality) and
    ``connected_components`` (reachability).

    THE SCALE TRICK IS THE ORIENTATION (Cohen 2009 / Suri-Vassilvitskii
    WWW'11 "Counting Triangles and the Curse of the Last Reducer"):
    orient every undirected edge from its lower-(degree, id) endpoint
    to the higher one.  The oriented graph is a DAG in which every
    node's OUT-degree is O(sqrt(m)) regardless of how skewed the raw
    degree distribution is — the celebrity hub keeps its millions of
    IN-edges but fans out almost nothing, so the wedge self-join
    (out-neighbors choose 2) is bounded per node and each triangle is
    generated EXACTLY ONCE at its minimum-rank vertex.  Plan: one
    (order-key) self-join for edges, one node-count aggregate for
    degrees, the wedge self-join keyed on the oriented source, and one
    closure equi-join of wedges against oriented edges — every join an
    equi-join on hashable keys, no all-pairs anywhere.

    Output: one row per node of the co-purchase graph —
    ``(part, degree, n_triangles, clustering_coeff)`` where the
    coefficient is ``2*T / (d*(d-1))`` (ONE int/int double division —
    bit-identical cross-engine unrounded) and NULL when degree < 2.

    PRODUCTION CONFIGURATION — run this operator with
    ``spark.sql.adaptive.enabled=false`` (bench.py LINE_CONFS applies
    it per-line).  Adjudicated by direct A/B in r11 after two rounds
    of unexplained bench variance: AQE re-plans on EVERY execution
    (a warm-up cannot pin it), and its stage-materialization barriers
    around the wedge join both slow the line and destabilize it —
    AQE on: 14.8-19.3 s per run at sf0.1 (1.3-1.4x spread, matching
    the r10 11.96-21.69 s isolated spread); AQE off: 12.6-13.5 s
    (<=1.15x spread across two independent batches).  The plan needs
    no runtime re-planning: both join strategies are statically
    correct (degree-oriented wedge join on uniform keys).

    ``max_order_items`` caps EDGE GENERATION, the one pre-orientation
    stage that is quadratic per order (L² co-purchase pairs from an
    L-item order): TPC-H bounds L at 7, but a real basket stream does
    not, and a single 10k-item order would emit ~50M edge candidates
    from one group.  Orders above the cap are deterministically
    truncated to their ``max_order_items`` lowest part keys
    (oracle-expressible: ``ROW_NUMBER() OVER (PARTITION BY order ORDER
    BY part) <= cap``), and the truncation is metered via an observed
    ``triangle_order_cap`` aggregate (capped_orders / dropped_items —
    visible to QueryExecutionListeners and the Spark UI), the same
    never-silent discipline as the LSH bucket cap and the semantic
    cluster cap.  ``None`` disables the cap (and its window shuffle).

    Round-10 oracle: documented in the pinned test
    (tests/test_extensions.py::test_graph_triangle_count_matches_
    oracle) — the same cap/edge/degree/orientation/wedge/closure CTEs."""
    from pyspark.sql.window import Window

    li = load_table(spark, "lineitem", sf_dir)
    bp = li.select("l_orderkey", "l_partkey").distinct()
    if max_order_items is not None:
        ranked = bp.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("l_orderkey").orderBy("l_partkey")
            ),
        )
        # _rk == cap+1 fires exactly once per over-cap order, so both
        # meters are plain sums — CollectMetrics-safe (no distinct).
        # ``cap_observation``: pass a pyspark.sql.Observation to read the
        # meters driver-side (tests / batch jobs); the default
        # string-named observe serves listeners and the Spark UI.
        ranked = ranked.observe(
            cap_observation if cap_observation is not None else "triangle_order_cap",
            F.sum((F.col("_rk") == max_order_items + 1).cast("long")).alias(
                "capped_orders"
            ),
            F.sum((F.col("_rk") > max_order_items).cast("long")).alias(
                "dropped_items"
            ),
        )
        bp = ranked.where(F.col("_rk") <= max_order_items).drop("_rk")
    a = bp.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = bp.select(F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, (a.o == b.o2) & (F.col("pa") < F.col("pb")))
        .select("pa", "pb")
        .distinct()
    )
    deg = (
        edges.select(F.col("pa").alias("v"))
        .unionAll(edges.select(F.col("pb").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    # size-gated broadcast of the vertex-sized degree frames (r14, guide
    # §3.1): this line runs with AQE OFF (the adjudicated r11 production
    # conf), so a statically-planned SortMergeJoin is never rescued at
    # runtime — and deg is an aggregate with no size stats, so the
    # static planner always picked SMJ, paying two edge-sized exchanges
    # (by pa, then pb) plus two deg-sized ones.  Vertex count is bounded
    # by the part table (nodes are l_partkey values), a cheap
    # metadata-sized count; above ``lsdp.graph.triangle.broadcastMaxNodes``
    # (~16 B/row => the default 4M is a ~64 MB relation) the hint is
    # withheld and the join shape is exactly the pre-r14 one.
    try:
        n_parts = load_table(spark, "part", sf_dir).count()
    except Exception:
        # synthetic fixtures carry only a lineitem table — without the
        # part count the gate cannot prove the vertex side small, so
        # withhold the hints (exactly the pre-r14 join shape)
        n_parts = None
    bcast_max = int(
        spark.conf.get("lsdp.graph.triangle.broadcastMaxNodes", "4000000")
    )

    def _vhint(df: DataFrame) -> DataFrame:
        if n_parts is not None and n_parts <= bcast_max:
            return F.broadcast(df)
        return df

    da = deg.select(F.col("v").alias("_va"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("_vb"), F.col("d").alias("db"))
    with_deg = edges.join(_vhint(da), F.col("pa") == F.col("_va")).join(
        _vhint(db), F.col("pb") == F.col("_vb")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))
    )
    oriented = with_deg.select(
        F.when(a_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
        F.when(a_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dst_d"),
    )
    w1 = oriented.select(
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
        F.col("dst_d").alias("vd"),
    )
    w2 = oriented.select(
        F.col("src").alias("u2"),
        F.col("dst").alias("w"),
        F.col("dst_d").alias("wd"),
    )
    wedges = w1.join(
        w2,
        (F.col("u") == F.col("u2"))
        & (
            (F.col("vd") < F.col("wd"))
            | ((F.col("vd") == F.col("wd")) & (F.col("v") < F.col("w")))
        ),
    ).select("u", "v", "w")
    closure = oriented.select(
        F.col("src").alias("_cs"), F.col("dst").alias("_cd")
    )
    tri = wedges.join(
        closure,
        (F.col("v") == F.col("_cs")) & (F.col("w") == F.col("_cd")),
        "left_semi",
    )
    # one explode instead of a 3-way union of per-column selects (r14,
    # guide §1.2 "the distributed algorithm"): each union branch
    # re-EXECUTED the wedge join + closure semi-join — ReusedExchange
    # shares only the shuffle writes, not the join compute after them —
    # so the most expensive subtree in the census ran three times
    # (plans/r14/graph_triangle_count_before.txt: three SortMergeJoin
    # LeftSemi at ops 64/76/82).  explode(array(u,v,w)) emits the same
    # vertex multiset from ONE derivation of the triangle list; the
    # count per vertex — and the rows out — are identical.  The array
    # here is three already-computed long columns, not an expensive
    # computed array, so the InferFiltersFromGenerate trap
    # (functions/arrays.py::explode_once) does not apply.
    per_node = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    )
    # per_node is vertex-bounded too — same gate as the degree joins
    return deg.join(_vhint(per_node), "v", "left").select(
        F.col("v").alias("part"),
        F.col("d").alias("degree"),
        F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_triangles"),
        F.when(
            F.col("d") >= 2,
            (F.coalesce(F.col("n_tri"), F.lit(0)) * 2).cast("double")
            / (F.col("d") * (F.col("d") - 1)),
        ).alias("clustering_coeff"),
    )


# -- round-11 registration queue ---------------------------------------------
# Built + oracle-documented + pytest-pinned this round; they register at
# the r11 rotation (the r10 head window was fully committed to the 6 r10
# registrations + the 22 at-cap entries + this round's drift).  Kept to
# 4 operators per VERDICT r9 #8 so the r11 window stays dominated by
# staleness rotation (27 r6-green entries reach the cap at r10 close).


def _corpus_fingerprint(spark: SparkSession, sf_dir: str) -> dict:
    """One (row count, max doc_id) aggregate per (session, corpus): the
    staged-table operators need it twice per call (size-based plan
    choice + manifest fingerprint), and bench best-of-N runs would
    otherwise pay a fresh count each run (ADVICE r10 #3)."""
    return stage(
        spark, sf_dir, "corpus_fingerprint",
        lambda: D.corpus_fingerprint(
            load_table(spark, "documents", sf_dir), "doc_id"
        ),
    )


# the bench harness's pre-isolation release, under its historical name
invalidate_corpus_caches = release


def dedup_minhash_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minhash-LSH dedup reading a PERSISTED signature table — the
    cross-session completion of VERDICT r9 #4.  ``dedup_minhash_lsh``
    already amortizes signatures within a session (``_staged_minhash_
    sigs``'s persist cache), but the 1000x probe showed the expensive
    part is the FIRST derivation: 948 s staging signatures over 5M docs
    vs 83 s for the banded join they feed.  At 100 TB that staging pass
    must be paid once per CORPUS, not once per session: this operator
    stages the signature table to parquet on first touch (vectorized
    Arrow stage, bit-identical to the inline HOF path — pinned by
    ``test_minhash_vectorized_signatures_match_inline``), then every
    call — including from a fresh session — reads signatures back at
    scan cost and runs the identical banded join + exact-Jaccard
    verify.  The params manifest written next to the data makes a
    parameter-drifted reader raise instead of silently mining wrong
    candidates (``read_staged_signatures``).

    Output and oracle are IDENTICAL to ``dedup_minhash_lsh`` — that is
    the point: the staged path must be indistinguishable from the
    inline path under the value hash.

    Scale shape: stage once = one scan-bound CPU pass (Arrow-batched
    numpy, ~5-10x the interpreted HOF stage); steady state = one
    parquet scan of (doc_id, shingles, sig) + the banded groupBy +
    two verify joins.  The staging write is per (application, sf_dir)
    here (tests see a cold stage per session); production points
    ``path`` at durable storage and pays it once ever."""
    docs = load_table(spark, "documents", sf_dir)
    path = _scratch(
        "minhash_stage_" + os.path.abspath(sf_dir).replace(os.sep, "_")
    )
    # one fingerprint aggregate per (session, corpus), shared with the
    # prefer_merge size decision (ADVICE r10 #3: no per-call count);
    # reuse is gated on the MANIFEST (the stage's commit marker) plus
    # the fingerprint, so a crashed or corpus-stale stage restages
    # instead of being adopted (ADVICE r10 #2)
    fprint = _corpus_fingerprint(spark, sf_dir)
    if not D.staged_signatures_valid(
        path, "doc_id", "text", k_shingle=3, n_hashes=12, fingerprint=fprint
    ):
        D.stage_minhash_signatures(
            docs, "doc_id", "text", path, k_shingle=3, n_hashes=12,
            fingerprint=fprint,
        )
    sigs = D.read_staged_signatures(
        spark, path, "doc_id", "text", k_shingle=3, n_hashes=12,
        expect_fingerprint=fprint,
    )
    big = fprint["n_rows"] > 100_000
    return D.minhash_near_duplicates(
        docs, "doc_id", "text", k_shingle=3, n_hashes=12, bands=4,
        threshold=0.2, sigs=sigs, prefer_merge=big,
    )


def doc_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality scoring at BIGRAM grain — the CCNet discipline
    (Wenzek et al. 2020 score documents with a reference LM and keep
    the head of the perplexity distribution) with the corpus itself as
    the reference model, one order up from ``doc_unigram_score``:
    unigram scoring cannot see scrambled or template-stitched text
    whose word inventory is normal but whose TRANSITIONS are not.

    Two exact, log-free signals per document (same ulp reasoning as
    ``doc_unigram_score``: every per-term contribution is one double
    division / multiply quantized to DECIMAL(30,12), so sums are
    order-free and cross-engine bit-identical):

    - ``mean_bigram_p``: mean corpus probability of the document's
      bigram occurrences, p(w1 w2) = n_{w1w2} / N_bigrams.
    - ``mean_cond_p``: mean CONDITIONAL probability
      p(w2 | w1) = n_{w1w2} / n_{w1 *} — the bigram-LM transition
      score a perplexity filter thresholds on (monotone in the
      geometric per-token perplexity over the doc).

    Documents with fewer than two words have no bigrams and are
    excluded (inner semantics, mirrored by the oracle).

    Scale shape: one corpus scan; (doc, bigram) pre-aggregation BEFORE
    any join (join inputs are distinct-pair-sized, not
    occurrence-sized); the bigram vocabulary and the first-word
    marginals meet the doc grain through hash equi-joins on uniform
    string keys (broadcastable for small vocabularies, partitioned
    joins at any size); one doc-grain combine.  No window, no
    all-pairs, no Python."""
    docs = load_table(spark, "documents", sf_dir)
    wtab = docs.where(F.col("text").isNotNull()).select(
        "doc_id", _corpus_words().alias("w")
    )
    return _bigram_rank(spark, sf_dir, wtab, "inline")


def _corpus_words():
    """The corpus word tokenization shared by the bigram scorer, the
    DSIR featurizer, and the staged token table (``stage_doc_tokens``)
    — one definition, so a staged-token consumer can never drift from
    its inline twin's tokenizer."""
    return F.filter(
        F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0)),
        lambda w: w != "",
    )


def _bigram_rank(
    spark: SparkSession, sf_dir: str, wtab: DataFrame, variant: str
) -> DataFrame:
    """The bigram-LM scoring pipeline downstream of the token table —
    shared verbatim by ``doc_bigram_score`` (inline tokenize) and
    ``doc_bigram_score_staged`` (parquet-staged tokens), the
    ``_bm25_rank`` discipline applied to the corpus-LM scorer.

    The (doc, bigram) pre-agg and the bigram vocabulary are staged and
    persisted (MEMORY_AND_DISK: spill rather than OOM at corpus scale)
    per (session, corpus): the downstream consumers (vocab, first-word
    marginals, totals, the final join) would otherwise re-derive the
    explode + pre-agg up to 4x — referencing a derived frame twice
    re-derives its subtree, and exchange reuse saved only 2 of the 4
    in the measured plan (column pruning specializes the branches).
    ``variant`` keys the stage tags so the staged and inline paths
    never share a frame (the staged==inline pin must compare
    independent executions)."""
    n = F.size("w")
    bigrams = F.zip_with(
        F.slice("w", 1, n - 1),
        F.slice("w", 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bg = (
        wtab.where(n >= 2)
        .select("doc_id", F.explode(bigrams).alias("bg"))
    )
    mad = StorageLevel.MEMORY_AND_DISK
    doc_bg = stage(
        spark, sf_dir, f"bigram_doc_bg:{variant}",
        lambda: bg.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("cnt")).persist(mad),
    )
    vocab = stage(
        spark, sf_dir, f"bigram_vocab:{variant}",
        lambda: doc_bg.groupBy("bg").agg(F.sum("cnt").alias("n_bg")).persist(mad),
    )
    # the first-word marginals and the global total are corpus-pure
    # aggregates of the persisted vocab, re-derived per run before r15
    # (one full vocab pass each); staged per (session, corpus) like the
    # vocab they read (guide §2.4)
    first = stage(
        spark, sf_dir, f"bigram_first:{variant}",
        lambda: vocab.groupBy(
            F.split(F.col("bg"), " ").getItem(0).alias("w1")
        ).agg(F.sum("n_bg").alias("n_first")).persist(mad),
    )
    totals = stage(
        spark, sf_dir, f"bigram_totals:{variant}",
        lambda: vocab.agg(F.sum("n_bg").alias("_n_total")).persist(mad),
    )
    p_bg = F.col("n_bg").cast("double") / F.col("_n_total").cast("double")
    p_cond = F.col("n_bg").cast("double") / F.col("n_first").cast("double")
    return (
        doc_bg.join(vocab, "bg")
        .join(first, F.split(F.col("bg"), " ").getItem(0) == F.col("w1"))
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_bigrams"),
            (
                F.sum((F.col("cnt") * p_bg).cast("decimal(30,12)")).cast("double")
                / F.sum("cnt").cast("double")
            ).alias("mean_bigram_p"),
            (
                F.sum((F.col("cnt") * p_cond).cast("decimal(30,12)")).cast("double")
                / F.sum("cnt").cast("double")
            ).alias("mean_cond_p"),
        )
    )


def corpus_dsir_weights(
    spark: SparkSession, sf_dir: str, n_buckets: int = 1024
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by how much more likely its hashed n-gram features are under a
    TARGET distribution than under the raw-corpus distribution —
    ``log w(x) = Σ_f c_x(f) · ln(p_target(f) / p_source(f))`` — then a
    trainer resamples the corpus proportional to exp(log w).  Here the
    target is the English slice (``lang = 'en'``, deterministic and
    present at every SF) and the source is the full corpus.

    Features are DSIR's: unigrams AND bigrams of the word tokens,
    hashed into ``n_buckets`` buckets via the engine's md5-prefix
    discipline (cross-engine exact, no murmur divergence).  Both
    distributions are add-one smoothed over the bucket space.  The
    per-bucket log-ratio is anchored by round(ln, 6) — the bm25 idf
    discipline: double products/divisions of exact integers are
    IEEE-deterministic, ln's last-ulp wobble dies at 6dp — and
    per-document contributions (int count × 6dp ratio) are
    DECIMAL(25,10)-summed so the final sum is order-free.

    Scale shape: one corpus scan to features; (doc, bucket)
    pre-aggregation; the two bucket-distribution aggregates are
    ``n_buckets``-sized — broadcast to the doc grain (the side the
    plan broadcasts is a few KiB at ANY corpus size, the
    contamination_check shape); one doc-grain combine.  The
    target/source split rides the same scan (conditional aggregate),
    so the corpus is read once."""
    docs = load_table(spark, "documents", sf_dir).where(
        F.col("text").isNotNull()
    )
    wtab = docs.select("doc_id", "lang", _corpus_words().alias("w"))
    return _dsir_rank(spark, sf_dir, wtab, "inline", n_buckets)


def _dsir_rank(
    spark: SparkSession, sf_dir: str, wtab: DataFrame, variant: str, n_buckets: int
) -> DataFrame:
    """The DSIR weighting pipeline downstream of the token table —
    shared verbatim by ``corpus_dsir_weights`` (inline tokenize) and
    ``corpus_dsir_weights_staged`` (parquet-staged tokens).

    ONE persisted (doc, lang, bucket) pre-agg feeds both the bucket
    distributions and the doc-grain combine (r11: the
    feats-referenced-thrice plan got no exchange reuse — column
    pruning specialized the branches — and re-ran the explode + hash
    per reference; the persisted shared pre-agg cut the 100x warm
    wall 31.7 s -> 3.5 s).  ``c_s``/``c_t`` as SUMs of the pre-agg's
    counts are exactly the occurrence counts the direct aggregation
    produces."""
    n = F.size("w")
    bigrams = F.zip_with(
        F.slice("w", 1, n - 1),
        F.slice("w", 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    # guard the slice: a doc with <2 words has no bigrams (slice with a
    # negative length raises), its unigrams still count as features
    safe_bigrams = F.when(n >= 2, bigrams).otherwise(
        F.array().cast("array<string>")
    )
    feats = (
        wtab.select(
            "doc_id",
            "lang",
            F.explode(F.concat(F.col("w"), safe_bigrams)).alias("feat"),
        )
        .select(
            "doc_id",
            "lang",
            F.pmod(
                F.conv(F.substring(F.md5(F.col("feat")), 1, 7), 16, 10).cast(
                    "long"
                ),
                F.lit(n_buckets),
            ).alias("bucket"),
        )
    )
    doc_bl = stage(
        spark, sf_dir, f"dsir_doc_bl:{variant}:{n_buckets}",
        lambda: feats.groupBy("doc_id", "lang", "bucket").agg(
            F.count(F.lit(1)).alias("cnt")
        ).persist(StorageLevel.MEMORY_AND_DISK),
    )
    def _build_scored() -> DataFrame:
        dist = doc_bl.groupBy("bucket").agg(
            F.sum("cnt").alias("c_s"),
            # CASE-shaped target count, NOT sum of a boolean cast: a
            # bucket whose every occurrence has NULL lang would sum
            # all-NULLs to NULL, poison its log-ratio and silently DROP
            # the bucket from every doc's weight — the oracle's CASE
            # yields 0 and keeps it (caught by tools/null_probe.py at
            # registration, r11)
            F.sum(
                F.when(F.col("lang") == "en", F.col("cnt")).otherwise(F.lit(0))
            ).cast("long").alias("c_t"),
        )
        tot = dist.agg(
            F.sum("c_s").alias("n_s"), F.sum("c_t").alias("n_t")
        )
        ratio = (
            (F.col("c_t") + 1).cast("double")
            * (F.col("n_s") + n_buckets).cast("double")
        ) / (
            (F.col("c_s") + 1).cast("double")
            * (F.col("n_t") + n_buckets).cast("double")
        )
        lr = F.round(F.log(ratio), 6)
        return dist.crossJoin(F.broadcast(tot)).select(
            "bucket", lr.alias("lr")
        )

    # the per-bucket log-ratio table is a <= n_buckets-row AGGREGATE of
    # the persisted pre-agg and a pure function of the corpus, yet the
    # former plan re-derived it per run — one full doc_bl pass + the
    # bucket shuffle each time, HALF of the line's steady-state work
    # (r15, guide §2.4: the distributions side of DSIR is corpus state,
    # staged per (session, corpus) exactly like the pre-agg it reads)
    scored = stage(
        spark, sf_dir, f"dsir_scored:{variant}:{n_buckets}",
        lambda: _build_scored().persist(StorageLevel.MEMORY_AND_DISK),
    )
    return (
        doc_bl.join(F.broadcast(scored), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_feats"),
            F.round(
                F.sum((F.col("cnt") * F.col("lr")).cast("decimal(25,10)"))
                .cast("double"),
                6,
            ).alias("dsir_logweight"),
        )
    )


_DOC_TOKENS_MANIFEST = "doc_tokens_manifest.json"


def _doc_tokens_params() -> dict:
    # the staged token table is valid only for the exact tokenization it
    # was built under: lower() + the _corpus_words [a-z]+ word regex
    return {"tokenizer": "lower+[a-z]+ words", "schema": "doc_id,lang,words"}


def staged_doc_tokens_valid(path: str, fingerprint: dict | None = None) -> bool:
    """Whether a staged token table at ``path`` is safe to reuse — the
    ``staged_signatures_valid`` contract applied to the tokenized
    corpus: the manifest (written last) is the commit marker; params or
    corpus-fingerprint drift means restage, never silent reuse."""
    import json

    try:
        with open(os.path.join(path, _DOC_TOKENS_MANIFEST)) as fh:
            manifest = json.load(fh)
    except (OSError, ValueError):
        return False
    want = _doc_tokens_params()
    if {k: manifest.get(k) for k in want} != want:
        return False
    if fingerprint is not None and manifest.get("corpus") != fingerprint:
        return False
    return True


def stage_doc_tokens(
    docs: DataFrame, path: str, fingerprint: dict | None = None
) -> None:
    """Materialize the tokenized corpus (doc_id, lang, words) once —
    VERDICT r10 #6: at 1000x, ``doc_bigram_score`` (314 s) and
    ``corpus_dsir_weights`` (361 s) each re-tokenize the corpus from
    scratch, as do the quality filters; the tokenize pass is the
    scan-bound CPU cost every downstream corpus op repays.  Staging it
    as parquet with the ``stage_minhash_signatures`` contract (params
    manifest written LAST as the commit marker, corpus fingerprint for
    durable paths) makes tokenization a per-CORPUS cost: every later
    consumer reads word arrays at scan cost.  The token expression is
    ``_corpus_words`` — the SAME column expression the inline twins
    compile, so staged and inline values are identical by
    construction."""
    import json

    wtab = docs.where(F.col("text").isNotNull()).select(
        "doc_id", "lang", _corpus_words().alias("words")
    )
    wtab.write.mode("overwrite").parquet(os.path.join(path, "tokens"))
    manifest = _doc_tokens_params()
    if fingerprint is not None:
        manifest["corpus"] = fingerprint
    D.write_manifest_atomic(os.path.join(path, _DOC_TOKENS_MANIFEST), manifest)


def read_staged_doc_tokens(
    spark: SparkSession, path: str, expect_fingerprint: dict | None = None
) -> DataFrame:
    """Read a staged token table back, validating its manifest —
    missing manifest = uncommitted stage = raise; optional corpus-
    fingerprint pin for durable paths."""
    import json

    with open(os.path.join(path, _DOC_TOKENS_MANIFEST)) as fh:
        manifest = json.load(fh)
    want = _doc_tokens_params()
    got = {k: manifest.get(k) for k in want}
    if got != want:
        raise ValueError(
            f"staged token table at {path} was built with {got}, "
            f"caller expects {want} — restage before use"
        )
    if (
        expect_fingerprint is not None
        and manifest.get("corpus") != expect_fingerprint
    ):
        raise ValueError(
            f"staged token table at {path} covers corpus "
            f"{manifest.get('corpus')}, caller's corpus is "
            f"{expect_fingerprint} — restage before use"
        )
    return spark.read.parquet(os.path.join(path, "tokens"))


def _staged_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged-token read path shared by every ``*_staged`` corpus
    op: fingerprint-gated reuse (stage on first touch per corpus,
    restage on crash/corpus drift), then a manifest-pinned read."""
    docs = load_table(spark, "documents", sf_dir)
    path = _scratch(
        "doc_tokens_" + os.path.abspath(sf_dir).replace(os.sep, "_")
    )
    fprint = _corpus_fingerprint(spark, sf_dir)
    if not staged_doc_tokens_valid(path, fingerprint=fprint):
        stage_doc_tokens(docs, path, fingerprint=fprint)
    return read_staged_doc_tokens(spark, path, expect_fingerprint=fprint)


def doc_bigram_score_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``doc_bigram_score`` reading the PERSISTED token table — the
    corpus tokenize paid once per corpus instead of once per query.
    Output and oracle are IDENTICAL to ``doc_bigram_score`` (the scorer
    is shared verbatim via ``_bigram_rank``); a fresh session pays one
    parquet scan of (doc_id, words) + the (doc, bigram) pre-agg, never
    the regex tokenize.  R12-queue candidate (built + pinned in
    r11)."""
    toks = _staged_doc_tokens(spark, sf_dir)
    return _bigram_rank(
        spark, sf_dir, toks.select("doc_id", F.col("words").alias("w")), "staged"
    )


def corpus_dsir_weights_staged(
    spark: SparkSession, sf_dir: str, n_buckets: int = 1024
) -> DataFrame:
    """``corpus_dsir_weights`` reading the PERSISTED token table —
    same contract as ``doc_bigram_score_staged`` (shared ``_dsir_rank``
    scorer, shared staged table: ONE stage serves both consumers).
    R12-queue candidate (built + pinned in r11)."""
    toks = _staged_doc_tokens(spark, sf_dir)
    return _dsir_rank(
        spark,
        sf_dir,
        toks.select("doc_id", "lang", F.col("words").alias("w")),
        "staged",
        n_buckets,
    )


def _copurchase_undirected(
    spark: SparkSession, sf_dir: str, max_order_items: int | None = 256
) -> tuple[DataFrame, DataFrame]:
    """The part co-purchase graph shared by the graph family: distinct
    (order, part) pairs, the documented per-order item cap (quadratic
    edge-gen guard, see ``graph_triangle_count``), edges a<b, and the
    both-directions view.  Returns (edges a<b, undirected (v, u))."""
    from pyspark.sql.window import Window

    li = load_table(spark, "lineitem", sf_dir)
    bp = li.select("l_orderkey", "l_partkey").distinct()
    if max_order_items is not None:
        bp = (
            bp.withColumn(
                "_rk",
                F.row_number().over(
                    Window.partitionBy("l_orderkey").orderBy("l_partkey")
                ),
            )
            .where(F.col("_rk") <= max_order_items)
            .drop("_rk")
        )
    a = bp.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = bp.select(F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, (F.col("o") == F.col("o2")) & (F.col("pa") < F.col("pb")))
        .select("pa", "pb")
        .distinct()
    )
    und = edges.select(
        F.col("pa").alias("v"), F.col("pb").alias("u")
    ).unionAll(edges.select(F.col("pb").alias("v"), F.col("pa").alias("u")))
    return edges, und


# the h-index rounds run on the driver for graphs with FEWER capped
# edges than this: ~16 B per int64 (pa, pb) pair, so under ~32 MB of
# edges cross to the driver; at or above it the distributed rounds run
_KCORE_DRIVER_MAX_EDGES = 2_000_000


def _kcore_hindex(pa, pb, max_rounds: int, *, probe: bool):
    """The h-index rounds over the undirected edge list ``pa[i] - pb[i]``
    (each edge once, no self loops), in numpy on the driver.

    Returns ``(node, degree, c, converged)``: the sorted node ids, their
    degrees, and the values after ``max_rounds`` rounds from c = degree,
    or after the first round that moves no node (every later round is
    the identity, so the values are the same).  ``converged`` says a
    round moved nothing; with ``probe`` one more round is evaluated after
    ``max_rounds`` ran out to decide it, and its values are dropped.  The
    update is monotone non-increasing, so a round moved nothing iff it
    kept the total Σc."""
    import numpy as np

    # both directions of every edge: src = idx, dst = idx with halves swapped
    node, idx = np.unique(np.concatenate([pa, pb]), return_inverse=True)
    order = np.argsort(idx)
    src = idx[order]
    dst = np.roll(idx, len(pa))[order]
    degree = np.bincount(src, minlength=len(node))
    if not len(node):  # reduceat rejects empty input
        return node, degree, degree, True
    # per node, its neighbor slots [start, start + degree) and their
    # 1-based ranks — fixed, since only the values move between rounds
    start = np.cumsum(degree) - degree
    rank = np.arange(len(src)) - np.repeat(start, degree) + 1
    # ONE flat sort orders the slots by node, then by value descending:
    # key = src * span + (span - 1 - value), with every value <= degree
    span = int(degree.max()) + 1
    base = src * span + (span - 1)

    def one_round(c):
        nbr = span - 1 - np.sort(base - c[dst]) % span
        # h = max(min(rank, value)); tie order among equal values cannot
        # change an h-index
        return np.minimum(c, np.maximum.reduceat(np.minimum(rank, nbr), start))

    c = degree
    for _ in range(max_rounds):
        nxt = one_round(c)
        if nxt.sum() == c.sum():
            return node, degree, nxt, True
        c = nxt
    return node, degree, c, probe and bool(one_round(c).sum() == c.sum())


def _kcore_on_driver(
    spark: SparkSession,
    sf_dir: str,
    max_order_items: int | None,
    max_rounds: int,
    *,
    probe: bool,
) -> tuple[DataFrame, bool] | None:
    """``(part, degree, coreness)`` and the converged flag from
    ``_kcore_hindex`` over the collected capped edge list, or None when
    the graph has ``_KCORE_DRIVER_MAX_EDGES`` edges or more.  The collect
    goes through ``toArrow``, which does not read the session's Arrow
    conf; so does ``createDataFrame`` from an Arrow table."""
    import pyarrow as pa
    from pyspark.sql import types as T

    edges, _ = _copurchase_undirected(spark, sf_dir, max_order_items)
    tbl = edges.limit(_KCORE_DRIVER_MAX_EDGES).toArrow()
    if tbl.num_rows >= _KCORE_DRIVER_MAX_EDGES:
        return None
    node, degree, c, converged = _kcore_hindex(
        tbl.column("pa").to_numpy(),
        tbl.column("pb").to_numpy(),
        max_rounds,
        probe=probe,
    )
    # the distributed path's schema, nullability included
    schema = T.StructType(
        [
            T.StructField("part", edges.schema["pa"].dataType),
            T.StructField("degree", T.LongType(), False),
            T.StructField("coreness", T.LongType()),
        ]
    )
    out = pa.table({"part": node, "degree": degree, "coreness": c})
    return spark.createDataFrame(out, schema), converged


# above this many vertices the per-round c frame is not broadcast (~32
# B/row, so ~128 MB) and AQE plans the join exactly as before hints
_KCORE_BROADCAST_MAX_NODES = 4_000_000


def _kcore_parts(spark: SparkSession, sf_dir: str, max_order_items: int | None):
    """What ``graph_kcore`` and ``graph_kcore_converged`` share: returns
    ``(c0, und, step, coreness)`` — the initial value frame ``(v, c)``
    (c = degree), the cached edge view (the caller unpersists it), the
    h-index round ``step(c) -> c`` and ``coreness(c)``, the
    ``(part, degree, coreness)`` output for a value frame."""
    from pyspark.sql.window import Window

    _edges, und = _copurchase_undirected(spark, sf_dir, max_order_items)
    deg = (
        und.groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .localCheckpoint(eager=True)
    )
    # persist the edge view ALREADY HASH-PARTITIONED on the h-index
    # window's key (r14, guide §2.4 "remove shuffles outright"), WITH a
    # self row per node appended (r15): the round update needs both the
    # neighbor values (for H) and the node's own value (for the
    # least(c, h) cap).  Joining c twice per round — once onto the edge
    # view, once onto the aggregated h — made every round's plan
    # reference the previous round's frame TWICE, so rounds between
    # lineage truncations re-derived each other (the every-4 cadence
    # A/B loss in r13) and each round paid a second vertex join.  With
    # self rows carried in the cached frame, ONE broadcast join
    # attaches c to both edge and self rows, the window ranks only
    # non-self rows (self sorts last and is excluded from the h
    # aggregate), and one aggregate emits least(c, h) directly — c is
    # referenced ONCE per round, so plans between truncations grow
    # linearly instead of doubling and the second join is gone.
    # Cached-plan partitioning is stable under AQE
    # (canChangeCachedPlanOutputPartitioning defaults false).  At
    # scales where c outgrows the broadcast threshold the join
    # re-shuffles und by u and the window re-shuffles by v — the same
    # one edge-sized exchange per round the unpartitioned form pays.
    und = (
        und.select("v", "u", F.lit(0).alias("_self"))
        .unionAll(
            deg.select(
                "v", F.col("v").alias("u"), F.lit(1).alias("_self")
            )
        )
        .repartition(F.col("v"))
        .persist()
    )
    # non-self rows rank exactly as before (self sorts LAST per node, so
    # neighbor ranks are unchanged); tie order among equal cu cannot
    # change an h-index (the r11 determinism argument)
    w = Window.partitionBy("v").orderBy("_self", F.desc("cu"))
    # explicit broadcast of the vertex-sized c frame (r14, guide §3.1):
    # every round's c-frame is a cut LogicalRDD with NO size statistics,
    # so the static planner can't broadcast it and AQE only recovers the
    # strategy after materializing both sides as shuffle stages.
    # SIZE-GATED: above _KCORE_BROADCAST_MAX_NODES the hint is withheld —
    # the 1000x probe graph (18.75M nodes) takes that path.
    n_nodes = deg.count()

    def _vertex_hint(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if n_nodes <= _KCORE_BROADCAST_MAX_NODES else df

    def step(c_frame: DataFrame) -> DataFrame:
        nb = und.join(
            _vertex_hint(
                c_frame.select(F.col("v").alias("u"), F.col("c").alias("cu"))
            ),
            "u",
        ).select("v", "_self", "cu")
        return (
            nb.withColumn("rn", F.row_number().over(w))
            .groupBy("v")
            .agg(
                F.least(
                    # h over neighbors only (self rows rank past the
                    # degree and are excluded here)
                    F.max(
                        F.when(
                            F.col("_self") == 0,
                            F.least(F.col("rn").cast("long"), F.col("cu")),
                        )
                    ),
                    # the node's own value, riding the self row — the
                    # least(c, h) cap without a second join
                    F.max(F.when(F.col("_self") == 1, F.col("cu"))),
                ).alias("c")
            )
        )

    def coreness(c_frame: DataFrame) -> DataFrame:
        # vertex-sized on both sides (two stat-less LogicalRDDs — the
        # static planner would sort-merge): same size-gated hint
        return deg.join(_vertex_hint(c_frame), "v").select(
            F.col("v").alias("part"),
            "degree",
            F.col("c").cast("long").alias("coreness"),
        )

    return deg.select("v", F.col("degree").alias("c")), und, step, coreness


def _same_total(a: DataFrame, b: DataFrame) -> bool:
    """Whether two k-core value frames have the same total Σc — one job.
    The h-index update is monotone non-increasing, so consecutive rounds
    have the same total iff no node moved."""
    t = a.agg(F.sum("c")).union(b.agg(F.sum("c"))).collect()
    return t[0][0] == t[1][0]


def graph_kcore(
    spark: SparkSession,
    sf_dir: str,
    rounds: int = 20,
    max_order_items: int | None = 256,
) -> DataFrame:
    """K-core decomposition (coreness per node) over the part
    co-purchase graph — the graph family's fourth leg next to
    ``supplier_pagerank`` (centrality), ``connected_components``
    (reachability) and ``graph_triangle_count`` (local density).  The
    coreness of a node is the largest k such that it survives k-core
    peeling; it is the standard dense-community / influential-spreader
    signal and the degeneracy ordering behind many graph algorithms.

    THE SCALE TRICK IS THE H-INDEX FIXPOINT (Lu et al. 2016, "The
    H-index of a network node and its relation to degree and
    coreness"): initialize c0(v) = degree(v) and iterate
    c_{t+1}(v) = H({c_t(u) : u in N(v)}) — the h-index of the
    neighbors' current values.  The sequence is monotone
    non-increasing and converges EXACTLY to the coreness, replacing
    the sequential peel-one-vertex-at-a-time algorithm with a
    per-round bulk update every node computes independently — the
    message-passing shape Spark executes well.  H over a neighbor
    group is relational: rank neighbor values descending within the
    node's partition and take MAX(LEAST(rank, value)) — tie order
    among equal values cannot change an h-index, so the window is
    cross-engine deterministic without a composite tie-break.

    Like ``supplier_pagerank`` (iters=2), the REGISTERED form runs a
    FIXED number of rounds so the DuckDB oracle replays it as an
    unrolled CTE chain; ``graph_kcore_converged`` iterates to the true
    fixpoint (the monotone total Σc is unchanged iff no node moved —
    one scalar per round on the driver).  The oracle-gate corpora
    converge within 20 rounds (sf0.001 and sf0.01 — measured 10 and
    ~17-20 respectively), so registered rows are exact corenesses
    there, not approximations; the pinned test checks them against
    ``networkx.core_number``.  Denser corpora need more rounds (sf0.1
    is not yet converged at 20); production uses the converged twin,
    which runs the same rounds on the same path and stops at the first
    round that moves no node.

    The output carries a ``converged`` flag (VERDICT r10 #4: the
    convergence CLAIM needs a hard signal, not just a pytest pin):
    after the fixed rounds, ONE extra probe round is evaluated and
    ``converged`` is true iff the monotone total Σc would not move —
    i.e. the returned corenesses ARE the fixpoint.  It rides every row
    (a literal), so the driver's value hash fails the round a corpus
    stops converging within ``rounds`` — a convergence regression can
    no longer hide behind unchanged corenesses on the converged subset.
    The oracle replays it as one more unrolled round compared by total.

    Scale shape: the per-order item cap bounds edge generation exactly
    as in the triangle census, and the rounds take one of two paths by
    the size of the capped edge list.
    - Under ``_KCORE_DRIVER_MAX_EDGES`` (2M edges, ~32 MB of int64
      pairs) the edge list is collected with ``toArrow`` and the rounds
      run in numpy on the driver (``_kcore_hindex``): degree is a
      bincount, and a round is one flat sort of every node's neighbour
      values plus one ``maximum.reduceat``.  A distributed round costs
      a join, a window, an aggregate and a cut, a few Spark jobs
      whatever the data size; the driver round costs milliseconds on
      the sf0.01 graph and ~0.07 s on the sf0.1 one (1.2M edges, 20k
      parts).  One cold call at sf0.1 on 4 cores took 12 s against
      42 s distributed, most of it building the edge list.
    - At or above the gate (the 1000x probe graph: 18.75M nodes) the
      rounds stay distributed: per round one equi-join (neighbour values
      onto the node-partitioned edge view), one NODE-PARTITIONED window
      (never global) and one aggregate, all keyed on node id, on
      ``fixed_point.iterate`` with a cut every 2 rounds and after the
      last.  Between cuts the plan grows by one linear step; the sf0.1
      A/B (3 reps each, warm scan; r13 bench provenance) measured
      every-round 29.8-30.7 s, every-2 24.0-26.4 s (-19%) and every-4
      39-41 s (the un-truncated plan re-derives rounds per
      materialization).  Without cuts the LOGICAL plan grows per round
      and driver-side analysis OOMs by round 8.
    Both paths return the same rows and schema.

    Output: ``(part, degree, coreness, converged)``.

    Round-11 oracle: ``__spark_entry__._kcore_oracle_sql`` (imported by
    the pinned test in tests/test_extensions.py) — the same
    cap/edge/degree CTEs and the unrolled h-index rounds, replayed with
    one more round and compared by total for the converged flag."""
    small = _kcore_on_driver(spark, sf_dir, max_order_items, rounds, probe=True)
    if small is not None:
        out, converged = small
        return out.withColumn("converged", F.lit(converged))
    c0, und, step, coreness = _kcore_parts(spark, sf_dir, max_order_items)
    try:
        cur, _ = iterate(c0, step, rounds, checkpoint_every=2)
        # convergence probe: one extra round, compared by the monotone
        # total — evaluated HERE while und is persisted
        converged = _same_total(cur, step(cur))
        return coreness(cur).withColumn("converged", F.lit(converged))
    finally:
        und.unpersist()


def graph_kcore_converged(
    spark: SparkSession,
    sf_dir: str,
    max_rounds: int = 50,
    max_order_items: int | None = 256,
) -> DataFrame:
    """The production form of ``graph_kcore``: iterate the h-index
    update until the fixpoint (the monotone non-increasing total Σc is
    unchanged iff no node changed — ONE scalar driver check per round,
    the ``supplier_pagerank_converged`` discipline), bounded by
    ``max_rounds`` as a runaway guard, with a cut every round.  Not
    registered — convergence depth is data-dependent, so there is no
    fixed-depth SQL replay."""
    small = _kcore_on_driver(
        spark, sf_dir, max_order_items, max_rounds, probe=False
    )
    if small is not None:
        return small[0]
    c0, und, step, coreness = _kcore_parts(spark, sf_dir, max_order_items)
    try:
        cur, _ = iterate(c0, step, max_rounds, done=_same_total)
        return coreness(cur)
    finally:
        und.unpersist()
