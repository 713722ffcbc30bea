"""Semantic tests for the pretraining-corpus construction ops added in
round 3: PII scrubbing, train/eval decontamination, mixture sampling,
sequence packing, and watermarked streaming dedup.

Exact cross-engine equivalence runs via tools/check_oracle.py; these pin
the *semantics* (injection targets, split exclusion, conservation laws,
actual duplicate removal) that a hash match alone would not explain.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from logistream_data_pipeline_aws_spark.plans import extensions as X
from tests.conftest import SF_ORACLE, SF_SMALL


def test_pii_scrub_injection_and_redaction(spark):
    out = X.pii_scrub_stats(spark, SF_SMALL).cache()
    # every injection target is found and redacted
    assert out.where((F.col("doc_id") % 7 == 0) & (F.col("n_emails") < 1)).count() == 0
    assert (
        out.where(
            (F.col("doc_id") % 7 != 0)
            & (F.col("doc_id") % 11 == 0)
            & (F.col("n_urls") < 1)
        ).count()
        == 0
    )
    # the synthetic corpus carries no natural PII: untouched docs scrub to
    # their original length and report zero matches
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", F.length("text").cast("long").alias("orig_len")
    )
    untouched = (
        out.join(docs, "doc_id")
        .where((F.col("doc_id") % 7 != 0) & (F.col("doc_id") % 11 != 0))
        .cache()
    )
    assert untouched.where(F.col("n_emails") != 0).count() == 0
    assert untouched.where(F.col("n_urls") != 0).count() == 0
    assert untouched.where(F.col("scrubbed_len") != F.col("orig_len")).count() == 0
    # redaction shortens: '<EMAIL>' is shorter than any injected address
    touched = out.join(docs, "doc_id").where(F.col("doc_id") % 7 == 0)
    assert touched.where(F.col("scrubbed_len") >= F.col("orig_len") + 30).count() == 0
    out.unpersist()


def test_contamination_excludes_eval_split_and_bounds(spark):
    out = X.contamination_check(spark, SF_SMALL).cache()
    # the eval split itself is never scored
    assert out.where(F.col("doc_id") % 10 == 0).count() == 0
    # shared grams are a subset of the doc's grams
    assert out.where(F.col("n_shared") > F.col("n_grams")).count() == 0
    assert out.where(F.col("n_shared") < 0).count() == 0
    # the flag is exactly the thresholded ratio
    assert (
        out.where(
            F.col("contaminated") != (F.col("contamination_ratio") >= 0.5)
        ).count()
        == 0
    )
    out.unpersist()


def test_mixture_sample_flattens_sources(spark):
    out = X.corpus_mixture_sample(spark, SF_SMALL).cache()
    rows = {r.source: (r.n_docs, r.n_sampled) for r in out.collect()}
    assert rows, "sample produced no sources"
    assert all(0 < s <= n for n, s in rows.values())
    # downsampling toward equal share: the spread of sampled counts is no
    # wider than the spread of raw counts
    raw = [n for n, _ in rows.values()]
    samp = [s for _, s in rows.values()]
    assert max(samp) - min(samp) <= max(raw) - min(raw)
    out.unpersist()


def test_sequence_packing_conserves_docs_and_tokens(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    n_docs_total = docs.count()
    out = X.sequence_packing(spark, SF_SMALL).cache()
    agg = out.agg(
        F.sum("n_docs").alias("docs"), F.sum("pack_tokens").alias("toks")
    ).first()
    assert agg.docs == n_docs_total
    # per source: packs are contiguous from 0 and token totals add up
    per_source = (
        out.groupBy("source")
        .agg(
            F.min("pack_id").alias("first_pack"),
            F.countDistinct("pack_id").alias("n_packs"),
            (F.max("pack_id") + 1).alias("max_plus_one"),
        )
        .collect()
    )
    for r in per_source:
        assert r.first_pack == 0, r
        assert r.n_packs == r.max_plus_one, r
    out.unpersist()


def test_stream_dedup_actually_drops_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark on a feed with genuine duplicate ids:
    output = one row per distinct event_id (the oracle-facing identity
    only holds because testdata ids are unique — this pins the dedup)."""
    base_us = 1_600_000_000 * 1_000_000
    ids = [1, 2, 3, 2, 1, 4, 1]  # 1 x3, 2 x2 within the watermark horizon
    table = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(
                [base_us + i * 60_000_000 for i in range(len(ids))],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([7] * len(ids), pa.int64()),
            "event_type": pa.array(["view"] * len(ids)),
            "value": pa.array([1.0] * len(ids), pa.float64()),
            "props": pa.array(["{}"] * len(ids)),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))
    out = X.events_stream_dedup(spark, str(tmp_path))
    got = sorted(r.event_id for r in out.collect())
    assert got == [1, 2, 3, 4]


def test_embedding_quantize_reconstruction_bound(spark):
    """Int8 quantization error is bounded by half a quantization step
    (1e-6 slack: both output columns are display-rounded to 6dp)."""
    out = X.embedding_quantize(spark, SF_SMALL).cache()
    bad = out.where(
        F.col("max_abs_err") > F.col("max_abs") / 127.0 / 2.0 + 1e-6
    ).count()
    assert bad == 0
    assert out.where(F.col("n_dims") != 64).count() == 0
    out.unpersist()


def test_winnow_pairs_ordered_and_bounded(spark):
    """Pairs are canonical (id_a < id_b) and overlap is a valid ratio.
    Overlap never reaches 1.0 here even for exact duplicates: n_fp counts
    the FULL fingerprint set while shared fps exclude the ones whose
    bucket the 64-doc cap dropped (shared-vocabulary stop-grams)."""
    out = X.doc_winnow_pairs(spark, SF_SMALL).cache()
    assert out.count() > 0
    assert out.where(F.col("id_a") >= F.col("id_b")).count() == 0
    assert out.where((F.col("overlap") < 0.2) | (F.col("overlap") > 1.0)).count() == 0
    assert out.where(F.col("n_shared") < 1).count() == 0
    out.unpersist()


def test_events_ts_unit_sniffer_handles_both_eras(spark, tmp_path):
    """catalog.load_table must read BOTH testdata eras correctly: round 3
    regenerated events.ts as TIMESTAMP(MICROS), rounds 1-2 shipped
    TIMESTAMP(NANOS).  The µs path is exercised by every events query;
    this pins the ns branch so a future regeneration flip can't silently
    break it again."""
    import datetime

    from logistream_data_pipeline_aws_spark.catalog import events_ts_unit, load_table

    base_s = 1_600_000_000
    expect = datetime.datetime(2020, 9, 13, 12, 26, 40)
    for unit, factor in (("ns", 1_000_000_000), ("us", 1_000_000)):
        d = tmp_path / unit
        d.mkdir()
        table = pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([base_s * factor], pa.timestamp(unit)),
                "user_id": pa.array([7], pa.int64()),
                "event_type": pa.array(["view"]),
                "value": pa.array([1.0], pa.float64()),
                "props": pa.array(["{}"]),
            }
        )
        pq.write_table(table, str(d / "events.parquet"))
        assert events_ts_unit(str(d)) == unit
        row = load_table(spark, "events", str(d)).first()
        assert row.ts == expect, (unit, row.ts)


def test_pii_scrub_null_text_reports_null_not_minus_one(spark, tmp_path):
    """ADVICE r3: legacy sizeOfNull turns size(NULL) into -1; a NULL text
    row must report NULL counts (the oracle's CASE WHEN t IS NULL arm),
    not -1.  Latent until the driver regenerates testdata with NULL
    text, so pinned on a hand-built fixture."""
    d = tmp_path / "nulltext"
    d.mkdir()
    table = pa.table(
        {
            "doc_id": pa.array([7, 8], pa.int64()),  # 7 hits the email-injection arm
            "text": pa.array([None, "plain body"], pa.string()),
            "lang": pa.array(["en", "en"]),
            "source": pa.array(["web", "web"]),
            "n_chars": pa.array([0, 10], pa.int64()),
        }
    )
    pq.write_table(table, str(d / "documents.parquet"))
    rows = {r.doc_id: r for r in X.pii_scrub_stats(spark, str(d)).collect()}
    assert rows[7].n_emails is None and rows[7].n_urls is None
    assert rows[7].scrubbed_len is None
    assert rows[8].n_emails == 0 and rows[8].n_urls == 0


def test_events_ts_unit_rejects_ms_and_invalidates_on_rewrite(tmp_path):
    """ADVICE r3: the sniffer must use the typed arrow API (tz-annotated
    micros classify as 'us'; ms raises instead of misreading as raw ns)
    and must re-sniff when the file is regenerated in place."""
    import pytest

    from logistream_data_pipeline_aws_spark.catalog import events_ts_unit

    d = tmp_path / "era"
    d.mkdir()

    def write(ts_type):
        table = pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([1_600_000_000_000], ts_type),
            }
        )
        pq.write_table(table, str(d / "events.parquet"))

    write(pa.timestamp("us", tz="UTC"))
    assert events_ts_unit(str(d)) == "us"
    # in-place regeneration with the other era must re-sniff, not reuse
    write(pa.timestamp("ns"))
    assert events_ts_unit(str(d)) == "ns"
    write(pa.timestamp("ms"))
    with pytest.raises(ValueError, match="'ms'"):
        events_ts_unit(str(d))


def test_doc_chunking_covers_text_with_overlap(spark):
    """Every character position of every document falls in >= 1 chunk;
    consecutive chunks overlap by exactly window - stride chars; chunk
    text round-trips against the source substring."""
    chunks = X.doc_chunking(spark, SF_SMALL, window=200, stride=150)
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", F.length("text").alias("n")
    )
    # coverage: per doc, first start is 0, last start + window >= n OR the
    # last chunk ends at n (trailing chunk shorter than window)
    agg = (
        chunks.groupBy("doc_id")
        .agg(
            F.min("chunk_start").alias("first_start"),
            F.max(F.col("chunk_start") + F.col("chunk_chars")).alias("covered_to"),
            F.count(F.lit(1)).alias("n_chunks"),
        )
        .join(docs, "doc_id")
    )
    bad = agg.where((F.col("first_start") != 0) | (F.col("covered_to") < F.col("n")))
    assert bad.count() == 0
    # stride contract: starts are exactly 0, 150, 300, ...
    offgrid = chunks.where(F.col("chunk_start") % 150 != 0)
    assert offgrid.count() == 0
    # length contract: every chunk is exactly min(window, n - start)
    # chars — full windows inside the doc, truncated only at the tail
    wrong_len = (
        chunks.join(docs, "doc_id")
        .where(F.col("chunk_chars") != F.least(F.lit(200), F.col("n") - F.col("chunk_start")))
    )
    assert wrong_len.count() == 0


def test_corpus_split_assignment_hash_contract(spark):
    """The split label is a pure function of doc_id: bucket = first 15
    md5 hex digits of 'split#<id>' mod 100, thresholds 90/95 — verified
    against hashlib, so the engine can never silently change the
    assignment contract (stability under corpus growth is the point)."""
    import hashlib

    import pytest

    from logistream_data_pipeline_aws_spark.plans.extensions import (
        corpus_split_assignment,
    )

    out = corpus_split_assignment(spark, SF_SMALL).collect()
    n_docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    assert len(out) == n_docs
    for r in out:
        b = int(hashlib.md5(f"split#{r.doc_id}".encode()).hexdigest()[:15], 16) % 100
        assert r.bucket == b
        assert r.split == ("train" if b < 90 else "val" if b < 95 else "test")
    counts = {s: sum(1 for r in out if r.split == s) for s in ("train", "val", "test")}
    # hash-uniformity smoke: train dominates, both holdouts non-degenerate
    assert counts["train"] > counts["val"] + counts["test"]
    with pytest.raises(ValueError):
        corpus_split_assignment(spark, SF_SMALL, val_pct=60, test_pct=50)


def test_bpe_merge_candidates_matches_python_reference(spark):
    """The vocabulary-weighted pair mining must equal a direct Python
    BPE first-merge count over the same corpus: per word occurrence,
    every adjacent char pair counts once per position (overlaps
    included — 'aaa' contributes 'aa' twice)."""
    import re
    from collections import Counter

    import duckdb

    from logistream_data_pipeline_aws_spark.plans.extensions import (
        bpe_merge_candidates,
    )

    texts = [
        r[0]
        for r in duckdb.sql(
            f"SELECT text FROM '{SF_SMALL}/documents.parquet' WHERE text IS NOT NULL"
        ).fetchall()
    ]
    word_freq = Counter(
        w for t in texts for w in re.findall(r"[a-z]+", t.lower())
    )
    pair_count: Counter = Counter()
    pair_words: dict[str, set] = {}
    for w, f in word_freq.items():
        for i in range(len(w) - 1):
            p = w[i : i + 2]
            pair_count[p] += f
            pair_words.setdefault(p, set()).add(w)
    expected = sorted(
        ((-c, p) for p, c in pair_count.items())
    )[:30]

    got = sorted(
        bpe_merge_candidates(spark, SF_SMALL).collect(), key=lambda r: r.rank
    )
    assert [(-r.pair_count, r.pair) for r in got] == expected
    for r in got:
        assert r.n_words == len(pair_words[r.pair])


def test_corpus_epoch_shuffle_is_deterministic_permutation(spark):
    """(shard, pos) must be a total permutation — every shard's
    positions contiguous from 1 — and the order must equal the hashlib
    replay of the domain-separated md5 sort key, so the epoch order is
    engine-independent and reproducible from doc_id alone."""
    import hashlib

    from logistream_data_pipeline_aws_spark.plans.extensions import (
        corpus_epoch_shuffle,
    )

    out = corpus_epoch_shuffle(spark, SF_SMALL).collect()
    n_docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    assert len(out) == n_docs

    by_shard: dict[int, list] = {}
    for r in out:
        h = hashlib.md5(f"epoch1#{r.doc_id}".encode()).hexdigest()
        assert r.shard_id == int(h[0], 16)
        by_shard.setdefault(r.shard_id, []).append((r.pos, h, r.doc_id))
    for shard, rows in by_shard.items():
        rows.sort()
        assert [p for p, _, _ in rows] == list(range(1, len(rows) + 1))
        assert [(h, d) for _, h, d in rows] == sorted((h, d) for _, h, d in rows)


def test_corpus_mixture_plan_temperature_math(spark):
    """alpha=0.5 temperature shares: temp_share_i = sqrt(n_i)/sum sqrt,
    shares sum to ~1, minority sources get repeat_factor > 1 and the
    majority < 1 (the upweight-without-flattening property)."""
    import math

    from logistream_data_pipeline_aws_spark.plans.extensions import (
        corpus_mixture_plan,
    )

    rows = corpus_mixture_plan(spark, SF_SMALL).collect()
    n_by_src = {r.source: r.n_docs for r in rows}
    tot = sum(n_by_src.values())
    s_tot = sum(math.sqrt(n) for n in n_by_src.values())
    assert abs(sum(r.temp_share for r in rows) - 1.0) < 1e-12
    assert abs(sum(r.natural_share for r in rows) - 1.0) < 1e-12
    for r in rows:
        assert abs(r.temp_share - math.sqrt(r.n_docs) / s_tot) < 1e-9
        assert abs(r.repeat_factor - r.temp_share / (r.n_docs / tot)) < 1e-9
        if r.n_docs < tot / len(rows):
            assert r.repeat_factor > 1.0
        elif r.n_docs > tot / len(rows):
            assert r.repeat_factor < 1.0


def test_doc_unigram_score_matches_python_reference(spark):
    """mean_token_p must equal the direct Python computation: corpus
    unigram MLE over [a-z]+ words, averaged per token occurrence."""
    from collections import Counter
    import re

    import duckdb

    from logistream_data_pipeline_aws_spark.plans.extensions import (
        doc_unigram_score,
    )

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{SF_SMALL}/documents.parquet' WHERE text IS NOT NULL"
    ).fetchall()
    toks = {d: re.findall(r"[a-z]+", t.lower()) for d, t in rows}
    vocab = Counter(w for ws in toks.values() for w in ws)
    n_total = sum(vocab.values())

    got = {r.doc_id: r for r in doc_unigram_score(spark, SF_SMALL).collect()}
    assert set(got) == {d for d, ws in toks.items() if ws}
    for d, ws in toks.items():
        if not ws:
            continue
        expected = sum(vocab[w] / n_total for w in ws) / len(ws)
        assert got[d].n_tokens == len(ws)
        assert abs(got[d].mean_token_p - expected) < 1e-9


def test_bpe_encode_stats_matches_python_greedy(spark, tmp_path):
    """The closed-form ceil(run/2) merge count must equal a literal
    Python greedy left-to-right single-pass encoder on a corpus with
    overlapping-run edge cases ('aaa', back-to-back merges, 1-char
    words)."""
    import re

    from logistream_data_pipeline_aws_spark.plans.extensions import (
        bpe_encode_stats,
        bpe_merge_candidates,
    )

    texts = [
        (1, "the theme thesis aaa baaab the the the"),
        (2, "a b c ababab thethe xyz"),
        (3, "aa aa aa the rest is unmergeable qz"),
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        [(i, t, "en", "test", len(t)) for i, t in texts],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    merges = {
        r.pair
        for r in bpe_merge_candidates(spark, d).where("rank <= 8").collect()
    }

    def greedy_tokens(w):
        n, i, toks = len(w), 0, 0
        while i < n:
            if i + 1 < n and w[i : i + 2] in merges:
                i += 2
            else:
                i += 1
            toks += 1
        return toks

    expected = {}
    for doc_id, t in texts:
        ws = re.findall(r"[a-z]+", t.lower())
        expected[doc_id] = (
            len(ws),
            sum(len(w) for w in ws),
            sum(greedy_tokens(w) for w in ws),
        )
    got = {
        r.doc_id: (r.n_words, r.n_alpha_chars, r.n_bpe_tokens)
        for r in bpe_encode_stats(spark, d).collect()
    }
    assert got == expected
    for r in bpe_encode_stats(spark, d).collect():
        assert r.chars_per_token == round(
            expected[r.doc_id][1] / expected[r.doc_id][2], 6
        )


def _oracle_rows(name: str, sf: str) -> list[tuple]:
    """The registry's DuckDB oracle for ``name`` over ``sf``'s documents."""
    import duckdb

    import __spark_entry__ as E

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    return sorted(map(tuple, con.execute(E.oracle_sql()[name]).fetchall()))


def _edge_corpus(tmp_path, texts_at: dict[int, str | None], en_at=()) -> str:
    """SF_SMALL's documents with the texts at the given rows replaced
    (and ``lang`` set to 'en' at ``en_at``), written as a one-table
    corpus under ``tmp_path``."""
    base = pq.read_table(f"{SF_SMALL}/documents.parquet")
    for col, edits in (("text", texts_at), ("lang", dict.fromkeys(en_at, "en"))):
        vals = base.column(col).to_pylist()
        for i, v in edits.items():
            vals[i] = v
        base = base.set_column(
            base.schema.get_field_index(col), col, pa.array(vals)
        )
    d = tmp_path / "sf"
    d.mkdir()
    pq.write_table(base, str(d / "documents.parquet"))
    return str(d)


# NULL text, whitespace-only text, tab-led repetitive text (trim strips
# 0x20 only, so the split keeps a leading empty token), a two-token
# document (the 3/4-gram gates pass vacuously), and a vertical tab,
# which Spark's \s splits on and RE2's \s does not
_VT_DOC = "\x0b".join(
    "the quick brown fox jumps over the lazy dog and it is in you".split()
) + " that a of and" * 6
_EDGE_TEXTS = {
    0: None,
    1: "   ",
    2: "\tthe a of and to in is it you that " * 10,
    3: "one two",
    4: _VT_DOC,
}


def test_quality_filter_matches_oracle(spark):
    """The declared quality filter returns its DuckDB oracle's rows,
    quality doubles included, at SF_SMALL and sf0.01, and runs as one
    Arrow kernel: MapInPandas, never row-pickled BatchEvalPython."""
    for sf in (SF_SMALL, SF_ORACLE):
        df = X.corpus_quality_filter(spark, sf)
        got = sorted(tuple(r) for r in df.collect())
        assert got == _oracle_rows("corpus_quality_filter", sf) and got, sf
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_gopher_rules_matches_oracle(spark):
    """The declared Gopher-rule matrix returns its DuckDB oracle's rows
    at SF_SMALL and sf0.01, and runs as one Arrow kernel: MapInPandas,
    no BatchEvalPython, and no aggregation shuffle (the only exchange is
    the CPU-stage round-robin repartition)."""
    for sf in (SF_SMALL, SF_ORACLE):
        df = X.corpus_gopher_rules(spark, sf)
        got = sorted(tuple(r) for r in df.collect())
        assert got == _oracle_rows("corpus_gopher_rules", sf) and got, sf
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "hashpartitioning" not in plan, plan


def test_gopher_rules_null_and_edge_text_matches_oracle(spark, tmp_path):
    """The edge texts (see ``_EDGE_TEXTS``) give the oracle's rows: the
    NULL row is dropped on both sides, and the vertical-tab document
    counts Spark's tokens."""
    sf = _edge_corpus(tmp_path, _EDGE_TEXTS)
    got = sorted(tuple(r) for r in X.corpus_gopher_rules(spark, sf).collect())
    assert got == _oracle_rows("corpus_gopher_rules", sf)
    n_words = {r[0]: r[1] for r in got}
    vt_id = pq.read_table(f"{sf}/documents.parquet").column("doc_id")[4].as_py()
    assert n_words[vt_id] == len(_VT_DOC.split())


def test_quality_filter_null_and_edge_text_matches_oracle(spark, tmp_path):
    """The edge texts (see ``_EDGE_TEXTS``) give the oracle's rows; the
    vertical-tab document is tagged English, so it passes the filter
    with Spark's token count."""
    sf = _edge_corpus(tmp_path, _EDGE_TEXTS, en_at=(4,))
    got = sorted(tuple(r) for r in X.corpus_quality_filter(spark, sf).collect())
    assert got == _oracle_rows("corpus_quality_filter", sf)
    vt_id = pq.read_table(f"{sf}/documents.parquet").column("doc_id")[4].as_py()
    assert [r[3] for r in got if r[0] == vt_id] == [len(_VT_DOC.split())]


def test_quality_filter_and_gopher_rules_with_arrow_disabled(spark):
    """``mapInPandas`` always moves batches as Arrow: with
    ``spark.sql.execution.arrow.pyspark.enabled=false`` (a bare
    session's default) both operators return the oracle's rows at
    SF_SMALL, and the conf is restored."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = {
            name: sorted(tuple(r) for r in op(spark, SF_SMALL).collect())
            for name, op in (
                ("corpus_quality_filter", X.corpus_quality_filter),
                ("corpus_gopher_rules", X.corpus_gopher_rules),
            )
        }
    finally:
        spark.conf.set(key, before)
    for name, rows in got.items():
        assert rows == _oracle_rows(name, SF_SMALL) and rows, name
    assert spark.conf.get(key) == before
