"""Large-scale document deduplication — the LLM-training-data operator set.

Five strategies, all expressed as distributed DataFrame plans (no driver
loops, no UDFs); each notes its 100 TB shape:

- **exact**       hash-groupBy on a content fingerprint.  One shuffle on
                  the md5 key; skew-free (hashes are uniform).
- **minhash-LSH** shingle -> minhash signature -> banded bucket join ->
                  exact-Jaccard verify.  Candidate generation is an
                  explode + shuffle on band hashes (uniformly distributed);
                  the verify join is keyed by doc id.  Cost is
                  O(docs x shingles) map-side + O(candidate pairs) — never
                  O(n²).
- **simhash**     per-token hashes -> bitwise majority -> fingerprint;
                  near-dup pairs via band blocking + hamming check.
- **ngram-Jaccard** exact word-shingle Jaccard within blocking keys
                  (O(block²) — callers must block).
- **embedding**   cosine >= threshold pairs; brute force here, the
                  LSH-bucketed scale path is operators.similarity.

Hashing is md5-based (engine-portable, deterministic) rather than
murmur3 so every operator has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logistream_data_pipeline_aws_spark.functions.text import (
    fingerprint,
    token_hash28,
    tokens,
    word_shingles,
)
from logistream_data_pipeline_aws_spark.functions.vectors import cosine
from logistream_data_pipeline_aws_spark.operators.fixed_point import iterate, release


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup groups: one row per distinct normalized content, with
    the surviving (minimum) id and the duplicate count."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select("content_hash", "keep_id", "n_docs")
    )


def _pairs_from_sorted_ids(ids: Column) -> Column:
    """All (a,b) combinations, a<b, from a sorted id array."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


# Default cap on LSH bucket size during candidate generation.  A degenerate
# bucket (boilerplate that slipped past exact dedup: 10^6 docs sharing a
# band) would otherwise materialize one huge collect_set array in a single
# task and expand O(bucket²) pairs.  Oversized buckets are *dropped* — their
# contents are exact-/near-exact-duplicate territory that the exact-dedup
# pass owns — and counted in an observed metric so the drop is never silent.
DEFAULT_MAX_BUCKET_SIZE = 1024


def capped_bucket_pairs(
    banded: DataFrame,
    band_col: str,
    id_col: str,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    metric_name: str | None = None,
) -> DataFrame:
    """Shared LSH candidate expansion: group exploded band keys into
    buckets, DROP buckets larger than ``max_bucket_size`` (logged via an
    observed ``<metric_name>`` aggregate: dropped_buckets / dropped_docs,
    visible to QueryExecutionListeners and the Spark UI), and expand the
    surviving buckets into sorted (id_a < id_b) candidate pairs.

    The cap bounds both the per-task memory of the collect_set array and
    the O(bucket²) pair expansion — the two failure modes of banded LSH on
    a corpus with a degenerate near-duplicate mass.  The cap is applied
    BEFORE any id array is collected: a plain count per band, then an
    equi-join that keeps only 2..max rows — so a 10⁶-doc bucket never
    materializes in a single task at any point.
    ``max_bucket_size=None`` disables the cap (small-corpus/test use only).

    Duplicate (band, id) rows are legal and count once: the capped path
    shuffles the rows on the band key once and drops duplicates there;
    the per-band count, the keep-join and the collect all reuse that
    partitioning (the count side as a ``ReusedExchange``), where a
    ``countDistinct`` would plan its own (band, id) exchange on top.
    """
    if max_bucket_size is None:
        buckets = banded.groupBy(band_col).agg(
            F.array_sort(F.collect_set(id_col)).alias("ids")
        ).where(F.size("ids") > 1)
    else:
        banded = (
            banded.select(band_col, id_col)
            .where(F.col(band_col).isNotNull())
            .repartition(band_col)
            .dropDuplicates([band_col, id_col])
        )
        counts = banded.groupBy(band_col).agg(
            F.count(F.lit(1)).alias("_n_ids")
        )
        counts = counts.observe(
            metric_name or f"lsh_bucket_cap_{band_col}",
            F.sum((F.col("_n_ids") > max_bucket_size).cast("long")).alias(
                "dropped_buckets"
            ),
            F.sum(
                F.when(F.col("_n_ids") > max_bucket_size, F.col("_n_ids"))
                .otherwise(0)
                .cast("long")
            ).alias("dropped_docs"),
        )
        keep = counts.where(
            (F.col("_n_ids") > 1) & (F.col("_n_ids") <= max_bucket_size)
        ).select(band_col)
        buckets = (
            banded.join(keep, band_col)
            .groupBy(band_col)
            .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
        )
    return (
        buckets.select(F.explode(_pairs_from_sorted_ids(F.col("ids"))).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )


def oversized_buckets(
    banded: DataFrame,
    band_col: str,
    id_col: str,
    max_bucket_size: int = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Diagnostic companion to ``capped_bucket_pairs``: the (band, size)
    rows the cap would drop, for explicit routing to exact dedup or
    threshold tuning.  Counts only — never materializes the id arrays."""
    return (
        banded.groupBy(band_col)
        .agg(F.countDistinct(id_col).alias("n_ids"))
        .where(F.col("n_ids") > max_bucket_size)
    )


# Affine minhash permutation constants: h_s = (A_s * h + B_s) mod P over a
# 40-bit md5-prefix base hash.  A_s < 2^22 keeps A*h < 2^62 (no 64-bit
# overflow); P is the Mersenne prime 2^61-1.  One md5 per shingle total —
# the k 'permutations' are integer ops (the classic universal-hash family).
MINHASH_P = (1 << 61) - 1


def _minhash_coeffs(s: int) -> tuple[int, int]:
    return 2_000_003 + 4_001 * s, 48_611 * s + 11


def _has_exchange_in_lineage(df: DataFrame) -> bool:
    """Whether the analyzed logical plan already contains a row-
    redistributing operator (repartition, join, aggregate, window,
    sort) — if so the scan's physical layout no longer determines the
    row distribution and the hollow-split repartition is unnecessary.

    Node names are matched ANCHORED at the start of each tree line
    (after the ``+-``/``:-`` drawing prefix), not as bare substrings —
    a column alias like ``window_start`` or a string literal containing
    'Sort' rides inside Project/Filter lines and must not fake an
    exchange, which would silently skip the hollow-split repartition
    and reintroduce the 4-straggler-task behavior (ADVICE r12)."""
    try:
        logical = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False
    exchange_nodes = (
        "Repartition",  # also matches RepartitionByExpression
        "Join",
        "Aggregate",
        "Window",
        "Sort",
        "Deduplicate",
    )
    for line in logical.splitlines():
        node = line.lstrip(" +-:|'")
        if node.startswith(exchange_nodes):
            return True
    return False


def parallelize_cpu_stage(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Decouple CPU-bound per-row work (tokenize/shingle/hash) from input
    file layout: a small corpus file scans as ONE partition, which would
    funnel the expensive map stage through a single task.  When the scan's
    parallelism is below the cluster's, pay one narrow shuffle of the
    projected columns up front — amortized immediately by the map stage.
    A no-op when the input is already parallel (the 100 TB case), so no
    extra exchange appears at scale.

    HOLLOW-SPLIT HAZARD (found live in the r12 1000x probe): the
    partition COUNT lies when the input is a few large single-row-group
    parquet files.  Spark splits files into maxPartitionBytes byte
    ranges, but a parquet row group is assigned to the ONE split holding
    its midpoint — so a 5M-doc corpus written as 4 x ~80 MB files (one
    row group each) scans as 32 nominal partitions of which exactly 4
    carry rows, and the whole gram/shingle stage grinds through 4
    straggler tasks (jstack showed tasks 3/10/17/24 — the 4 row-group
    midpoints — burning 20+ CPU-minutes each while 28 tasks finished
    instantly).  The count check above cannot see this, so a second
    check repartitions when the input is FEW files that are each SMALL
    enough to plausibly be single-row-group (<= ~2x the 128 MB default
    row-group size).  At 100 TB any sane layout has file count >> cores
    and the stat loop never runs; genuinely huge files (> 256 MB avg)
    carry many row groups, so their byte splits are not hollow and the
    narrow shuffle is correctly skipped."""
    sc = df.sparkSession.sparkContext
    target = min_parallelism or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    try:
        files = df.inputFiles()
    except Exception:  # non-file source: nothing to adjudicate
        return df
    # only a shuffle-free scan plan can still be hollow: any exchange
    # already in the lineage (explicit repartition, join, aggregate,
    # window) redistributes rows regardless of the scan's layout
    if _has_exchange_in_lineage(df):
        return df
    if files and len(files) < target:
        try:
            # driver-side stat loop, bounded by the guard above to
            # < target files (<= 31 RPCs here) and skipped entirely at
            # real scale where file count >> cores.  VERDICT r12 note:
            # on an object store each getFileStatus is a remote call —
            # if this path ever runs hot there, one listStatus on the
            # common parent directory halves the round trips.
            jvm = sc._jvm
            conf = sc._jsc.hadoopConfiguration()
            total = 0
            for f in files:
                p = jvm.org.apache.hadoop.fs.Path(f)
                total += p.getFileSystem(conf).getFileStatus(p).getLen()
            if total / len(files) <= 256 * 1024 * 1024:
                return df.repartition(target)
        except Exception:  # unstattable paths: keep the scan layout
            return df
    return df


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k_shingle: int = 3, n_hashes: int = 12
) -> DataFrame:
    """(id, shingles, sig): distinct word shingles + minhash signature.

    Base hash = first 10 hex chars of md5(shingle) (engine-portable,
    collision-negligible at 2^40 for corpus-scale shingle sets); the
    signature is min over shingles of affine permutations of that one
    hash.  Docs shorter than k_shingle words are dropped (no shingles).
    """
    sh = word_shingles(tokens(text_col), k_shingle)
    narrow = parallelize_cpu_stage(df.select(F.col(id_col), F.col(text_col)))
    # filter on the CHEAP token count before projecting shingles (same
    # semantics: >= k tokens <=> non-empty shingle set).  Filtering on
    # size(shingles) instead pushes the predicate below the projection and
    # evaluates the expensive (interpreted, non-codegen) shingle build
    # twice per row — measured 4x slower on the fixture corpus.
    base = narrow.where(F.size(tokens(text_col)) >= k_shingle).select(
        F.col(id_col).alias("doc_id"), sh.alias("shingles")
    )
    base = base.withColumn(
        "_h",
        F.transform(
            "shingles",
            lambda x: F.conv(F.substring(F.md5(x), 1, 10), 16, 10).cast("long"),
        ),
    )
    def perm(s: int):
        # single-parameter lambda is REQUIRED: F.transform passes the
        # element index to a two-parameter callable, which would silently
        # shadow a `s=s` default binding (seed -> element index bug)
        a, b = _minhash_coeffs(s)
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)

    sig = F.array(
        *[F.array_min(F.transform("_h", perm(s))) for s in range(n_hashes)]
    )
    return base.withColumn("sig", sig).drop("_h")


def minhash_signatures_vectorized(
    df: DataFrame, id_col: str, text_col: str, k_shingle: int = 3, n_hashes: int = 12
) -> DataFrame:
    """Value-identical twin of ``minhash_signatures`` with the hash stage
    vectorized (the signature-staging bottleneck fix).

    The inline path runs md5-prefix hashing + the ``n_hashes`` affine
    permutations as INTERPRETED higher-order expressions — Catalyst gives
    HOF lambdas no codegen, and the 1000x probe measured the staging pass
    at ~165 docs/s/core (948 s over 5M docs) against an 83 s banded join.
    Here the shingle SET is still built by the exact same JVM expression
    (tokenize/shingle semantics cannot drift), and only the per-shingle
    md5 + permutations move into an Arrow-batched ``mapInPandas``:
    ``hashlib.md5`` (C) per shingle, then one numpy matrix of affine
    permutations with a segmented ``minimum.reduceat`` per document.
    Signature values are bit-identical to the inline path — pinned by
    ``tests/test_extensions.py::test_minhash_vectorized_signatures_match_
    inline`` — so every downstream oracle is unaffected by which stage
    produced the table.
    """
    from pyspark.sql import types as T

    base = minhash_signatures(df, id_col, text_col, k_shingle, n_hashes).drop("sig")
    coeffs = [_minhash_coeffs(s) for s in range(n_hashes)]
    schema = T.StructType(
        list(base.schema.fields)
        + [T.StructField("sig", T.ArrayType(T.LongType(), False), True)]
    )

    def _sig_batches(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        a = np.array([c[0] for c in coeffs], dtype=np.uint64).reshape(-1, 1)
        b = np.array([c[1] for c in coeffs], dtype=np.uint64).reshape(-1, 1)
        p = np.uint64(MINHASH_P)
        for pdf in batches:
            if not len(pdf):
                continue
            lists = pdf["shingles"]
            counts = np.fromiter((len(x) for x in lists), dtype=np.int64)
            # first 10 hex chars of md5 == first 5 digest bytes, big-endian
            flat = np.fromiter(
                (
                    int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:5], "big")
                    for lst in lists
                    for s in lst
                ),
                dtype=np.uint64,
                count=int(counts.sum()),
            )
            # A_s < 2^22, h < 2^40 -> A*h + B < 2^62: uint64-safe
            m = (flat[None, :] * a + b) % p
            starts = np.zeros(len(counts), dtype=np.int64)
            np.cumsum(counts[:-1], out=starts[1:])
            # the >= k_shingle token filter guarantees non-empty segments,
            # which reduceat requires (an empty segment would alias its
            # neighbor's first element)
            sig = np.minimum.reduceat(m, starts, axis=1).astype(np.int64)
            out = pdf.copy()
            out["sig"] = [sig[:, i].tolist() for i in range(sig.shape[1])]
            yield out

    return base.mapInPandas(_sig_batches, schema=schema)


_SIG_MANIFEST = "_minhash_sig_manifest.json"


def write_manifest_atomic(manifest_path: str, obj: dict) -> None:
    """Write a staged-table manifest atomically (temp file +
    ``os.replace``).  A plain ``open(..., 'w')`` truncates first, so a
    crash mid-rewrite leaves a corrupt manifest on an otherwise-good
    table and the next caller restages a table it could have reused
    (ADVICE r11 #1).  ``os.replace`` is atomic on POSIX, so a reader
    sees either the old manifest or the new one, never a torn write.
    Shared by the signature, BM25-postings, and token-table stages."""
    import json
    import os

    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, manifest_path)


def _sig_params(id_col: str, text_col: str, k_shingle: int, n_hashes: int) -> dict:
    return {
        "id_col": id_col,
        "text_col": text_col,
        "k_shingle": k_shingle,
        "n_hashes": n_hashes,
        # lists, not tuples: the manifest round-trips through JSON
        "coeffs": [list(_minhash_coeffs(s)) for s in range(n_hashes)],
    }


def staged_signatures_valid(
    path: str,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
    n_hashes: int = 12,
    fingerprint: dict | None = None,
) -> bool:
    """Whether a staged signature table at ``path`` is safe to reuse.

    The MANIFEST is the commit marker (ADVICE r10 #2): Spark creates the
    data directory at write START but the manifest is written only after
    the write succeeds, so gating reuse on the data dir would adopt a
    crashed, partial stage forever (every later call FileNotFoundErrors
    on the manifest instead of restaging).  A missing/unreadable
    manifest, drifted params, or — when the caller passes the current
    corpus ``fingerprint`` — a corpus that changed since staging all
    mean "restage", not "raise": only ``read_staged_signatures`` raises,
    for readers that cannot restage."""
    import json
    import os

    try:
        with open(os.path.join(path, _SIG_MANIFEST)) as fh:
            manifest = json.load(fh)
    except (OSError, ValueError):
        return False
    want = _sig_params(id_col, text_col, k_shingle, n_hashes)
    if {k: manifest.get(k) for k in want} != want:
        return False
    if fingerprint is not None and manifest.get("corpus") != fingerprint:
        return False
    return True


def stage_minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    k_shingle: int = 3,
    n_hashes: int = 12,
    vectorized: bool = True,
    fingerprint: dict | None = None,
) -> None:
    """Materialize the minhash signature table once per corpus.

    At 100 TB the signature stage (tokenize -> shingle -> hash) is the
    minhash family's real bottleneck — a scan-bound CPU pass over every
    byte of the corpus — while the banded join + verify it feeds is an
    order of magnitude cheaper.  Re-deriving signatures per query (or per
    session) repays that cost every time; staging them as a parquet table
    pays it ONCE, and every later session's dedup reads the staged table
    at scan cost (the FAISS-index / inverted-index discipline applied to
    dedup).  A params manifest rides next to the data so a reader can
    never silently consume signatures computed under different shingle or
    permutation parameters.

    The manifest is written LAST — it doubles as the commit marker a
    reuse check gates on (``staged_signatures_valid``), so a stage that
    dies mid-write leaves no manifest and the next caller restages
    instead of adopting a partial table.  ``fingerprint`` (the corpus
    stats the caller derived, e.g. row count + max id) rides in the
    manifest under ``"corpus"`` so durable-path readers can detect a
    corpus that changed since staging."""
    import json
    import os

    sigs = (minhash_signatures_vectorized if vectorized else minhash_signatures)(
        df, id_col, text_col, k_shingle, n_hashes
    )
    sigs.write.mode("overwrite").parquet(os.path.join(path, "signatures"))
    manifest = _sig_params(id_col, text_col, k_shingle, n_hashes)
    if fingerprint is not None:
        manifest["corpus"] = fingerprint
    write_manifest_atomic(os.path.join(path, _SIG_MANIFEST), manifest)


def append_minhash_signatures(
    df: DataFrame,
    path: str,
    vectorized: bool = True,
) -> None:
    """Incremental maintenance of a staged signature table: compute
    signatures for a NEW batch of documents only and append — the
    per-batch half of the ``dedup_incremental_ingest`` discipline, so a
    growing corpus never recomputes the signatures it already staged.
    Parameters come from the staged manifest (the append cannot drift
    from the table it extends).

    Commit-marker order holds for the append too (ADVICE r11 #1): the
    manifest is REMOVED before the batch append starts and rewritten
    (atomically) only after it lands, so a crash anywhere in the append
    window leaves a manifest-less table — ``staged_signatures_valid``
    then restages instead of silently adopting a grown table that still
    validated under the pre-append fingerprint."""
    import json
    import os

    manifest_path = os.path.join(path, _SIG_MANIFEST)
    with open(manifest_path) as fh:
        params = json.load(fh)
    sigs = (minhash_signatures_vectorized if vectorized else minhash_signatures)(
        df, params["id_col"], params["text_col"],
        params["k_shingle"], params["n_hashes"],
    )
    if "corpus" in params:
        # batch fingerprint BEFORE invalidating: if this job fails the
        # table is untouched and the still-present manifest stays valid
        batch = corpus_fingerprint(df, params["id_col"])
        old = params["corpus"]
        params["corpus"] = {
            "n_rows": old["n_rows"] + batch["n_rows"],
            "max_id": max(
                (x for x in (old["max_id"], batch["max_id"]) if x is not None),
                default=None,
            ),
        }
    os.remove(manifest_path)  # invalidate: crash mid-append => restage
    sigs.write.mode("append").parquet(os.path.join(path, "signatures"))
    write_manifest_atomic(manifest_path, params)


def corpus_fingerprint(df: DataFrame, id_col: str) -> dict:
    """The cheap corpus identity a staged-table manifest records: row
    count + max id.  Catches the durable-path hazard of a corpus that
    grew or was regenerated since staging (ADVICE r10 #2) without
    paying a content hash; an id-stable in-place edit is out of scope —
    that is what ``append_minhash_signatures`` / restaging are for."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.max(id_col).alias("m")
    ).collect()[0]
    return {
        "n_rows": int(row["n"]),
        "max_id": None if row["m"] is None else int(row["m"]),
    }


def read_staged_signatures(
    spark,
    path: str,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
    n_hashes: int = 12,
    expect_fingerprint: dict | None = None,
) -> DataFrame:
    """Read a staged signature table back, validating its manifest against
    the parameters the caller is about to dedup with — a mismatch raises
    instead of silently joining signatures from a different permutation
    family (which would produce plausible-but-wrong candidate sets).
    A missing manifest raises too: the manifest is the stage's commit
    marker, so its absence means a crashed or in-flight write, never a
    readable table.  Passing ``expect_fingerprint`` additionally pins
    the corpus the signatures were derived from."""
    import json
    import os

    with open(os.path.join(path, _SIG_MANIFEST)) as fh:
        manifest = json.load(fh)
    want = _sig_params(id_col, text_col, k_shingle, n_hashes)
    got = {k: manifest.get(k) for k in want}
    if got != want:
        raise ValueError(
            f"staged signature table at {path} was built with {got}, "
            f"caller expects {want} — restage before use"
        )
    if (
        expect_fingerprint is not None
        and manifest.get("corpus") != expect_fingerprint
    ):
        raise ValueError(
            f"staged signature table at {path} covers corpus "
            f"{manifest.get('corpus')}, caller's corpus is "
            f"{expect_fingerprint} — restage before use"
        )
    return spark.read.parquet(os.path.join(path, "signatures"))


def lsh_candidate_pairs(
    sig_df: DataFrame,
    n_hashes: int,
    bands: int,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Banded LSH: docs sharing any band hash become a candidate pair.

    The band index is baked into the hash, so one groupBy(band_hash)
    covers all bands; buckets are md5-uniform -> no shuffle skew.  Buckets
    larger than ``max_bucket_size`` are dropped before any id collection
    (see ``capped_bucket_pairs``) — at corpus scale those are boilerplate
    masses that belong to exact dedup, not O(bucket²) pair mining.
    """
    if n_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide n_hashes ({n_hashes}): trailing "
            "signature positions would be silently excluded from banding"
        )
    r = n_hashes // bands
    band_hashes = F.array(
        *[
            F.concat(F.lit(f"{j}#"), F.concat_ws("_", F.slice("sig", j * r + 1, r)))
            for j in range(bands)
        ]
    )
    banded = sig_df.select("doc_id", F.explode(band_hashes).alias("band_hash"))
    return capped_bucket_pairs(
        banded, "band_hash", "doc_id", max_bucket_size, "minhash_bucket_cap"
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
    n_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    sigs: DataFrame | None = None,
    prefer_merge: bool = True,
) -> DataFrame:
    """Full minhash-LSH dedup: candidates via banding, then *exact*
    shingle-Jaccard verification (no false positives).  Output:
    (id_a, id_b, jaccard) for pairs >= threshold.

    ``sigs``: a caller-owned (ideally persisted) ``minhash_signatures``
    frame; the caller controls its lifecycle.  When omitted, the
    signatures are built inline and not persisted, so candidate
    generation and the verify join each derive them — the reference
    form; every query stages its own frame and passes it.

    ``prefer_merge`` is the same big-big merge-join insurance as
    ``prefix_filter_pairs``: the verify joins carry the corpus's full
    SHINGLE ARRAYS, and at the 100x probe AQE's size estimates let one
    of them ride a ~1 GiB broadcast that OOMed the JVM inside the
    composed dedup pipeline.  The default forces sort-merge on both
    verify joins (hinting the candidate-pair side, the ``h(cand)``
    pattern of the ngram verify); size-aware callers pass ``False``
    below a corpus-size threshold and keep the broadcast on small
    data."""
    if sigs is None:
        sigs = minhash_signatures(df, id_col, text_col, k_shingle, n_hashes)
    cands = lsh_candidate_pairs(sigs, n_hashes, bands)
    sh = sigs.select("doc_id", "shingles")
    a = sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("shingles", "sh_a")
    b = sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("shingles", "sh_b")
    # re-hint the intermediate: the hint does not survive the first join
    h = (lambda d: d.hint("merge")) if prefer_merge else (lambda d: d)
    joined = h(h(cands).join(a, "id_a")).join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    jac = inter / union
    return (
        joined.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str, n_bits: int = 28
) -> DataFrame:
    """SimHash: per-token 28-bit hashes -> bitwise majority vote ->
    fingerprint.  Explode + groupBy keeps it one shuffle on doc id and
    gives an exact SQL mirror; at scale the explode is map-local and the
    aggregation combines map-side."""
    from logistream_data_pipeline_aws_spark.functions.arrays import explode_once

    # explode_once: plain explode's inferred size-filter would sink the
    # tokenize+hash transform into the pre-repartition scan stage
    ex = explode_once(
        parallelize_cpu_stage(df.select(F.col(id_col), F.col(text_col))).select(
            F.col(id_col).alias("doc_id"),
            F.transform(tokens(text_col), token_hash28).alias("_hs"),
        ),
        "_hs",
        "h",
        "doc_id",
    )
    bit_votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_b{j}")
        for j in range(n_bits)
    ]
    voted = ex.groupBy("doc_id").agg(*bit_votes)
    fp: Column = F.lit(0).cast("long")
    for j in range(n_bits):
        fp = fp + F.when(F.col(f"_b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return voted.select("doc_id", fp.alias("simhash"))


def simhash_near_duplicates(
    fp_df: DataFrame,
    n_bits: int = 28,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Near-dup pairs from simhash fingerprints: band blocking (any pair
    within hamming <= bands-1 shares >= 1 exact band) then hamming check.
    Band buckets above ``max_bucket_size`` are dropped pre-collection
    (``capped_bucket_pairs``) — identical-fingerprint masses are exact-dup
    territory, not O(bucket²) pair expansion."""
    width = n_bits // bands
    mask = (1 << width) - 1
    band_keys = F.array(
        *[
            F.concat(
                F.lit(f"{j}#"),
                F.shiftright(F.col("simhash"), j * width).bitwiseAND(F.lit(mask)).cast("string"),
            )
            for j in range(bands)
        ]
    )
    pairs = capped_bucket_pairs(
        fp_df.select("doc_id", F.explode(band_keys).alias("band_key")),
        "band_key",
        "doc_id",
        max_bucket_size,
        "simhash_bucket_cap",
    )
    a = fp_df.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("fp_a"))
    b = fp_df.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("fp_b"))
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def composed_block_key(
    lang_col: str = "lang",
    source_col: str = "source",
    n_chars_col: str = "n_chars",
    length_bucket_width: int = 64,
) -> Column:
    """The scale-safe blocking key for the quadratic (O(block²)) dedup
    operators: language × length-bucket × source.  ``source`` alone has
    FIXED cardinality, so its blocks grow linearly with the corpus and the
    quadratic term is unbounded at 100 TB; composing with the length
    bucket (near-identical docs have near-identical lengths) keeps block
    membership tied to actual near-dup candidates.  Width 64 chars: an
    edit that moves a doc across a bucket boundary is a recall tradeoff
    shared by every length-blocked fuzzy-dedup pipeline (run a second pass
    with offset buckets when that matters)."""
    bucket = F.floor(F.col(n_chars_col) / F.lit(length_bucket_width)).cast("long")
    return F.concat_ws("|", F.col(lang_col), F.col(source_col), bucket.cast("string"))


def bounded_blocks(
    base: DataFrame,
    max_block_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    metric_name: str = "block_cap",
) -> DataFrame:
    """Hard bound for blocked-quadratic operators: count docs per ``block``
    (map-side combinable), keep blocks with 2..max members via an
    equi-join — singleton blocks can't pair and oversized blocks would be
    O(block²), so both are removed BEFORE the self-join.  Dropped blocks
    and the max observed block size are surfaced as an observed metric
    (dropped_blocks / dropped_docs / max_block_docs) so the bound is never
    silent."""
    if max_block_size is None:
        return base
    counts = base.groupBy("block").agg(F.count(F.lit(1)).alias("_n_docs"))
    counts = counts.observe(
        metric_name,
        F.sum((F.col("_n_docs") > max_block_size).cast("long")).alias("dropped_blocks"),
        F.sum(
            F.when(F.col("_n_docs") > max_block_size, F.col("_n_docs"))
            .otherwise(0)
            .cast("long")
        ).alias("dropped_docs"),
        F.max("_n_docs").alias("max_block_docs"),
    )
    keep = counts.where(
        (F.col("_n_docs") > 1) & (F.col("_n_docs") <= max_block_size)
    ).select("block")
    # keep scales with the block-key vocabulary (shingles/bands grow with
    # the corpus), so it must NEVER be a broadcast build side: Catalyst's
    # static size estimate for this aggregated frame is unreliable and
    # the 100x probe watched it pick a multi-GB broadcast and OOM the
    # driver.  A sort-merge join partitions base by block — exactly the
    # partitioning the downstream self-join needs, so the exchange is
    # reused, and AQE keeps it cheap at small scale.
    return base.join(keep.hint("merge"), "block")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str | Column,
    k_shingle: int = 3,
    threshold: float = 0.3,
    max_block_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Exact word-k-gram Jaccard between all doc pairs sharing a blocking
    key (O(block²) — the blocking key bounds the quadratic term; pass
    ``composed_block_key()`` or an equally corpus-scaling Column, not a
    fixed-cardinality column like raw ``source``).  Blocks above
    ``max_block_size`` are dropped pre-join (``bounded_blocks``) with an
    observed drop count."""
    block = F.col(block_col) if isinstance(block_col, str) else block_col
    sh = word_shingles(tokens(text_col), k_shingle)
    base = (
        parallelize_cpu_stage(df.select(F.col(id_col), block.alias("block"), F.col(text_col)))
        # cheap pre-filter, not size(sh) > 0 — see minhash_signatures
        .where(F.size(tokens(text_col)) >= k_shingle)
        .select(F.col(id_col).alias("doc_id"), F.col("block"), sh.alias("sh"))
    )
    base = bounded_blocks(base, max_block_size, "ngram_block_cap")
    a = base.select(F.col("block"), F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = base.select(F.col("block"), F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    joined = a.join(b, "block").where(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        joined.select(
            "block", "id_a", "id_b", F.round(inter / union, 6).alias("jaccard")
        )
        .where(F.col("jaccard") >= threshold)
    )


def build_item_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int | None = 5,
) -> DataFrame:
    """(doc_id, tk) item-set frame for ``prefix_filter_pairs``: distinct
    word k-shingles (or raw distinct tokens with ``k_shingle=None``).
    The raw-token-count pre-filter guarantees a non-empty item set in
    both modes, so no filter touches the computed array (which would
    re-evaluate it — the explode_once trap)."""
    if k_shingle is None:
        items = F.array_distinct(tokens(text_col))
        min_tokens = 1
    else:
        items = word_shingles(tokens(text_col), k_shingle)
        min_tokens = k_shingle
    return (
        parallelize_cpu_stage(df.select(F.col(id_col), F.col(text_col)))
        # cheap pre-filter, not size(items) > 0 — see minhash_signatures
        .where(F.size(tokens(text_col)) >= min_tokens)
        .select(F.col(id_col).alias("doc_id"), items.alias("tk"))
    )


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    k_shingle: int | None = 5,
    max_token_bucket: int | None = DEFAULT_MAX_BUCKET_SIZE,
    base: DataFrame | None = None,
    prefer_merge: bool = True,
) -> DataFrame:
    """Set-similarity join by PREFIX FILTERING (the PPJoin family): two
    token sets with Jaccard >= t MUST share a token among each side's
    (n - ceil(t*n) + 1) rarest tokens, so candidate generation joins
    only on those prefix tokens instead of blocking on a surrogate key.
    Rarity ordering is the global document frequency (ties on the token
    string), which makes prefix buckets intrinsically small — the
    filter selects exactly the tokens that discriminate — and the
    residual hot-prefix-token risk is capped by ``bounded_blocks`` like
    every other blocked-quadratic operator here.

    Pipeline: distinct sorted token sets -> (doc, token) pairs -> df
    counts -> per-doc rarity rank (window partitioned by doc) -> prefix
    cut -> token-bucket self-join -> exact Jaccard verify on the full
    sets.  Compared to ``ngram_jaccard_pairs`` (blocking key) and
    MinHash-LSH (probabilistic), this is the near-exact-recall scale
    path: every qualifying pair shares a prefix token, so recall is
    exact SUBJECT TO the ``max_token_bucket`` cap — a true pair whose
    only shared prefix token exceeds the cap is dropped (the drop is
    observable in the ``prefix_token_cap`` metric, and the rarity
    ordering makes hot prefix tokens rare by construction).  Pass
    ``max_token_bucket=None`` for unconditionally exact recall at the
    cost of unbounded hot-bucket expansion.

    ``k_shingle`` sets the set items: word k-shingles (default 5 — on a
    template-heavy corpus raw tokens and even 3-shingles are shared so
    broadly that the prefix prunes nothing; 5-shingles make the prefix
    near-perfect: candidates ≈ true pairs) or raw distinct tokens with
    ``k_shingle=None`` (the textbook formulation, right for short
    records like names/addresses).

    ``base`` injects a pre-built (doc_id, tk) item-set frame: the frame
    is referenced three times (rarity explode + both verify sides), so
    callers should persist it once (``build_item_sets`` + the staging
    cache in plans.extensions) instead of re-running the CPU-heavy
    shingle build per reference.

    ``prefer_merge`` is the big-big MERGE-JOIN INSURANCE (r5 VERDICT
    #2 clean-box A/B): at corpus scale the shingle vocabulary and the
    candidate frame both grow with the data, static size estimates for
    aggregates are unreliable, and an auto-chosen broadcast of either
    side OOMs (the 100x probe watched a multi-GB dfreq broadcast kill
    the driver) — so the default forces sort-merge on all four
    corpus-sized joins.  On a SMALL corpus those broadcasts are
    definitionally safe and the forced merges pay ~1.7 s of needless
    sort at sf0.1, so size-aware callers (the registered entry) pass
    ``prefer_merge=False`` below a row-count threshold and keep the
    insurance above it.
    """
    from pyspark.sql import Window

    if base is None:
        base = build_item_sets(df, id_col, text_col, k_shingle)

    h = (lambda d: d.hint("merge")) if prefer_merge else (lambda d: d)
    # carry the set size from the (distinct) item array instead of a
    # second count-window pass: tk is array_distinct by construction, so
    # size(tk) == the exploded row count per doc, and the rank window's
    # doc_id exchange no longer pays an extra full aggregation pass
    td = base.select(
        "doc_id", F.size("tk").alias("n"), F.explode("tk").alias("token")
    )
    dfreq = td.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "token")
    # the shingle vocabulary scales with the corpus — dfreq must never be
    # a broadcast build side (static size estimates for this aggregate
    # are unreliable; the 100x probe watched a multi-GB broadcast OOM the
    # driver).  Shuffle-hash on token co-partitions the (doc, token)
    # pairs with their frequencies.
    ranked = (
        td.join(h(dfreq), "token")
        .select(
            "doc_id",
            "token",
            F.row_number().over(w).alias("rn"),
            "n",
        )
    )
    prefix = ranked.where(
        F.col("rn") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    ).select("doc_id", F.col("token").alias("block"))
    prefix = bounded_blocks(prefix, max_token_bucket, "prefix_token_cap")
    # in-bucket pair expansion (the capped_bucket_pairs shape) instead of
    # a prefix-token self-join: the join planned the explode -> dfreq ->
    # rank -> cap subtree independently per side (the pre-exchange
    # projections differ, so no ReusedExchange) and EXECUTED THE WHOLE
    # PREFIX DERIVATION TWICE.  Grouping the capped buckets and exploding
    # sorted-id combinations derives it once; bounded_blocks guarantees
    # 2..max_token_bucket rows per block, so the collected id array and
    # the O(bucket²) expansion stay bounded exactly like the LSH paths.
    buckets = prefix.groupBy("block").agg(
        F.array_sort(F.collect_set("doc_id")).alias("ids")
    )
    cand = (
        buckets.select(
            F.explode(_pairs_from_sorted_ids(F.col("ids"))).alias("p")
        )
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )
    a = base.select(F.col("doc_id").alias("id_a"), F.col("tk").alias("tk_a"))
    b = base.select(F.col("doc_id").alias("id_b"), F.col("tk").alias("tk_b"))
    inter = F.size(F.array_intersect("tk_a", "tk_b")).cast("double")
    union = F.size(F.array_union("tk_a", "tk_b")).cast("double")
    # verify joins: the item-set side carries the full shingle arrays and
    # scales with the corpus — hint the (smaller) candidate-pair side of
    # EACH join so the planner never broadcasts the arrays (the hint does
    # not survive the first join, so the intermediate is re-hinted)
    with_a = h(cand).join(a, "id_a")
    return (
        h(with_a)
        .join(b, "id_b")
        .select("id_a", "id_b", F.round(inter / union, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_iters: int = 20,
    driver_path_max_edges: int | None = 100_000,
) -> DataFrame:
    """Connected components by iterative min-label propagation — turns
    near-duplicate *pairs* into duplicate *clusters* (the step between
    pair mining and choosing one survivor per group).

    ``nodes``: one column ``id``; ``edges``: columns ``id_a``/``id_b``.

    Two strategies behind one contract (cluster_id = min reachable id,
    singletons keep their own id): graphs at or under
    ``driver_path_max_edges`` symmetric edge rows are labeled by a
    driver-side union-find over the collected (gate-bounded, few-MB)
    edge list — the distributed loop pays ~4 Spark jobs per round
    regardless of data size, which dominates wall-clock on the
    duplicate graphs real corpora produce (dupes are a small fraction
    of the corpus); larger graphs run the distributed loop below.

    Each loop round every node adopts the minimum label among itself, its
    neighbors, AND its current label's label (pointer doubling — the
    shortcutting half of classic hook/jump PRAM connectivity, same
    trick as Kiveris et al. "Connected Components in MapReduce and
    Beyond", SoCC'14): the hop count to the component minimum halves
    per round, so convergence is O(log diameter) rounds instead of
    O(diameter).  Long id-chains are exactly what cosine-threshold
    near-dup graphs produce (nearest-neighbor chains), and diameter
    rounds made those hang — ``dedup_semantic`` found this at bench
    scale.  Converged when no label changes.

    The loop runs on ``operators.fixed_point.iterate``: each round ends
    in an eager lineage cut, and the superseded round's blocks are freed
    at the RDD level, so a long-lived session holds at most one round's
    label blocks.  Per round: two joins + one aggregation, all keyed on
    node id; data stays distributed, the driver sees only a change count.
    """
    # persist the symmetric edge list: ``edges`` is usually the OUTPUT of
    # candidate mining (minhash -> banded join -> exact verify), and
    # without the persist every propagation round would re-run that whole
    # mining pipeline from the raw corpus — 2x per round
    sym = (
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist()
    )
    # iterate over EDGE-ENDPOINT nodes only: a node with no near-dup
    # edge keeps label = id forever, so carrying the whole corpus through
    # every round is pure waste — in the realistic regime (duplicates are
    # a small fraction of a 100 TB corpus) this shrinks the per-round
    # frames from corpus-sized to edge-bounded.  Untouched nodes rejoin
    # via the final left join.
    n_sym = sym.count()  # also materializes the (often expensive) mining
    if driver_path_max_edges is not None and n_sym <= driver_path_max_edges:
        # TINY-GRAPH DRIVER PATH (guide §1.2 step 1: pick the algorithm
        # by size — the broadcast-join discipline applied to iteration).
        # The distributed loop costs ~4 driver-visible jobs PER ROUND
        # regardless of data size: measured 10.1 s for a 323-edge graph
        # at sf0.1, while a collected union-find labels it in
        # milliseconds.  The collect is BOUNDED by the gate (<= 100k
        # symmetric edge rows, a few MB); at corpus scale the gate keeps CC
        # on the O(log d) loop, so nothing data-sized ever crosses to
        # the driver.  Labels are identical by construction:
        # union-by-minimum-root + find-to-root yields the minimum
        # reachable id — exactly the loop's fixpoint and the DuckDB
        # oracle's recursive min-reach.  Pass ``driver_path_max_edges=0``
        # or ``None`` to force the distributed loop — the loop-behavior
        # tests (convergence guard, block release) do.
        from pyspark.sql import types as T

        pair_rows = sym.collect()
        sym.unpersist()
        parent: dict = {}

        def _find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # full path compression
                parent[x], x = root, parent[x]
            return root

        for row in pair_rows:
            a, b = row[0], row[1]
            if a is None or b is None:
                continue  # NULL endpoints never equi-join in the loop
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = _find(a), _find(b)
            if ra == rb:
                continue
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra  # roots stay set-minimums inductively
        id_type = sym.schema["src"].dataType
        label_schema = T.StructType(
            [T.StructField("id", id_type), T.StructField("label", id_type)]
        )
        labels_df = nodes.sparkSession.createDataFrame(
            [(v, _find(v)) for v in parent], label_schema
        )
        # labels_df is gate-bounded (<= 2 * driver_path_max_edges rows):
        # broadcast so the corpus-sized node spine never shuffles
        return nodes.join(F.broadcast(labels_df), "id", "left").select(
            F.col("id"),
            F.coalesce(F.col("label"), F.col("id")).alias("cluster_id"),
        )
    seed = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select(F.col("id"), F.col("id").alias("label"))
        .persist()
    )

    def _round(state: DataFrame) -> DataFrame:
        prev = state.select("id", "label")
        neighbor_min = (
            sym.join(prev, sym.dst == prev.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # hook: adopt the neighborhood minimum; carry the pre-round
        # label so the convergence check is a filter over the cut
        # frame, not an extra join against the previous round
        cur = prev.join(
            neighbor_min, prev.id == neighbor_min.src, "left"
        ).select(
            "id",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
            F.col("label").alias("_prev"),
        )
        # pointer doubling, twice per round: follow the current label
        # one hop (labels are always ids INSIDE the component, so
        # label-of-label is a valid, possibly much smaller,
        # in-component bound).  Two jumps shrink the hop distance ~4x
        # per round — the per-round cost is one extra tiny self-join,
        # and every round saved is a full Spark job round-trip.
        for hop_i in range(2):
            hop = cur.select(
                F.col("id").alias(f"_h{hop_i}"),
                F.col("label").alias(f"_hl{hop_i}"),
            )
            cur = cur.join(
                hop, cur.label == F.col(f"_h{hop_i}"), "left"
            ).select(
                "id",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col(f"_hl{hop_i}"), F.col("label")),
                ).alias("label"),
                "_prev",
            )
        return cur

    def _unchanged(_prev: DataFrame, cur: DataFrame) -> bool:
        return cur.where(F.col("label") != F.col("_prev")).count() == 0

    try:
        labels, converged = iterate(seed, _round, max_iters, done=_unchanged)
    finally:
        seed.unpersist()
        sym.unpersist()
    if not converged:
        release(labels)
        raise RuntimeError(
            f"connected_components did not converge within {max_iters} "
            "iterations (component diameter exceeds max_iters); raise "
            "max_iters rather than returning partially-propagated labels"
        )
    return (
        nodes.join(labels, "id", "left")
        .select(
            F.col("id"),
            F.coalesce(F.col("label"), F.col("id")).alias("cluster_id"),
        )
    )


def embedding_near_duplicates(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95
) -> DataFrame:
    """EXACT embedding-cosine near-dup pairs by brute-force all-pairs
    (inequality join -> broadcast nested loop -> O(n²)).

    Small-scale oracle/recall reference ONLY: tests measure the LSH path's
    recall against this.  The production operator is
    ``embedding_near_duplicates_lsh`` — equi-join plan, never all-pairs.
    """
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    cos = cosine(F.col("v_a"), F.col("v_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 6).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def sign_band_keys(vec: Column, band_bits: int, n_bands: int) -> Column:
    """Banded sign-pattern LSH keys over an embedding column: band ``j``
    hashes the signs of dimensions ``[j*band_bits, (j+1)*band_bits)`` into
    one bucket id, prefixed with the band index (so one groupBy covers all
    bands, exactly like the minhash banding).  Deterministic and
    engine-portable — the DuckDB oracle mirrors it bit-for-bit."""
    def band(j: int) -> Column:
        bucket = F.lit(0)
        for i in range(band_bits):
            bucket = bucket + F.when(
                F.element_at(vec, j * band_bits + i + 1) >= 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
        return F.concat(F.lit(f"{j}#"), bucket.cast("string"))

    return F.array(*[band(j) for j in range(n_bands)])


def embedding_near_duplicates_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    band_bits: int = 8,
    n_bands: int = 8,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    withn: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs at scale: banded sign-LSH candidate
    generation (OR-construction over ``n_bands`` dimension groups), then
    *exact* cosine verification of candidates only.

    ``withn`` optionally supplies a pre-staged ``(_id, _v, _n)`` frame
    (id, vector, L2 norm) — the embedding analog of the minhash
    signature staging table.  At warehouse scale the norm pass and the
    parquet scan behind it run ONCE per corpus and every embedding
    consumer reads the persisted frame; when omitted, the frame is
    derived from ``df`` inline (identical values either way — the norm
    expression is the same fold).

    Physical shape mirrors minhash-LSH: explode band keys -> groupBy
    band (one uniform-key shuffle) -> in-bucket pair expansion -> two
    id-keyed equi-joins for the verify — never an all-pairs nested loop.

    Approximate by construction: recall = 1 - (1 - p^band_bits)^n_bands
    with p = 1 - θ/π the per-bit sign-agreement probability.  At the
    near-dup operating point (cos >= 0.9, p ≈ 0.92) the default 8x8
    config gives ~99.7% recall; tests pin measured recall against the
    brute-force reference on the fixture corpus."""
    # NOTE: no up-front repartition here (unlike the shingle paths) — the
    # expensive step is the cosine verify, which runs AFTER the candidate
    # shuffle and is therefore already parallel; measured neutral locally.
    from logistream_data_pipeline_aws_spark.functions.vectors import (
        cosine_with_norms,
        norm,
    )

    if withn is None:
        base = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        # norms once per VECTOR, not per pair: bit-identical cosine, 1/3
        # of the fold work in the verify join
        withn = base.withColumn("_n", norm(F.col("_v")))
    else:
        base = withn.select("_id", "_v")
    banded = base.select(
        "_id", F.explode(sign_band_keys(F.col("_v"), band_bits, n_bands)).alias("band")
    )
    # sign buckets are NOT hash-uniform (embedding mass concentrates in a
    # few orthants), so the pre-collection cap matters even more here than
    # on the md5-keyed shingle paths
    cands = capped_bucket_pairs(
        banded, "band", "_id", max_bucket_size, "embedding_bucket_cap"
    )
    a = withn.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("v_a"), F.col("_n").alias("n_a")
    )
    b = withn.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("v_b"), F.col("_n").alias("n_b")
    )
    cos = cosine_with_norms(F.col("v_a"), F.col("v_b"), F.col("n_a"), F.col("n_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", F.round(cos, 6).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )
