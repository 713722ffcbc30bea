"""Benchmark harness — one JSON line for the driver.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default sf0.1) on
``local[$SPARK_GRAFT_CPUS]``; each query is forced end-to-end with the
noop sink (full pipeline execution, no driver collect).  Prints
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
"sf": ...}``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as E  # noqa: E402
from logistream_data_pipeline_aws_spark.session import get_spark  # noqa: E402

BENCH_QUERIES = [
    "fact_lineitem",
    # bucketed variant: first run pays one-time staging, best-of-N reports
    # the steady-state zero-exchange join cost
    "fact_lineitem_bucketed",
    "q1_pricing_summary",
    "a5_profit_rollup",
    "a6_sales_trend",
    "a7_schedule_adherence",
    "a8_returns_by_nation",
    "top_customers",
    "events_hourly",
    "dim_date",
    "dim_customer",
    # extension surface: sessionization scales with sf; dedup/similarity
    # run on the fixed-size documents/embeddings tables
    "user_sessions",
    "dedup_minhash_lsh",
    "similarity_topk",
    # LLM-pipeline surfaces: the banded-LSH near-dup and the composed
    # pretraining filter chain
    "dedup_embedding",
    "corpus_quality_filter",
    # round-3 additions: eval-set decontamination (broadcast gram set) and
    # two scan-bound TPC-H probes (Q14 conditional agg, Q6 pure pushdown)
    "contamination_check",
    "sql_promo_revenue",
    "sql_forecast_revenue",
    # round-4 continuation: the Q21 triple-probe membership shape, the
    # SCD2 window build (events-scale), the iterative k-means IVF, and
    # the two-phase heavy-hitter pass (Arrow candidate stage)
    "sql_waiting_suppliers",
    "scd2_user_state",
    "similarity_ivf_kmeans",
    "events_heavy_hitters",
    # product-analytics + layout surfaces: the chained-aggregate funnel,
    # the full-outer CDC diff, and the Morton-key clustering profile
    "events_funnel",
    "snapshot_cdc_diff",
    "orders_zorder_clustering",
    # round-4 second-continuation surfaces: the decomposed Pareto cumsum,
    # the prefix-filter join (near-exact recall), and the one-pass gap-fill
    "lineitem_abc_pareto",
    "dedup_prefix_filter",
    "events_gapfill_locf",
    # round-5: the scale-safe approx-cutpoint Pareto twin (result-identical
    # to the exact form; the delta is pure cutpoint-derivation cost)
    "lineitem_abc_pareto_approx",
    # round-6: the sketch-only production twins (r5 VERDICT #7) — the
    # forms without the exact-certification scaffolding riding along.
    # Deregistered from queries() in round 7 (no cross-engine value
    # oracle by construction; pytest-pinned against their checked forms
    # in tests/test_prod_twins.py), so they resolve via EXTRA_BENCH.
    "events_stickiness_hll_prod",
    "customer_rfm_scores_approx_prod",
    # round-7 continuation, REGISTERED at the r8 rotation: the two
    # r8-queue LLM-dedup surfaces (SemDeDup cluster-scoped near-dup and
    # exact-substring span mining) plus incremental IVF — resolve from
    # queries() now; their r7 lines came via EXTRA_BENCH shims.
    "dedup_semantic",
    "doc_substring_spans",
    "similarity_ivf_incremental",
    # round-8 build, REGISTERED at the r9 rotation: the span-mining
    # APPLICATION (per-document coverage + keep/trim/drop), the IVF+PQ
    # composite ANN search, the audio modality leg, and the composed
    # exact->near->substring corpus pass — resolve from queries() now;
    # their r8 lines came via EXTRA_BENCH shims.
    "doc_substring_dedup",
    "similarity_ivf_pq",
    "media_audio_windows",
    "corpus_dedup_pipeline",
    # round-9 build, REGISTERED at the r10 rotation: per-source frequency
    # capping, the Gopher quality-rule matrix, Okapi BM25 retrieval,
    # point-in-time feature assembly, the ANN recall audit, and the
    # degree-oriented triangle census — resolve from queries() now;
    # their r9 lines came via EXTRA_BENCH shims.
    "corpus_domain_cap",
    "corpus_gopher_rules",
    "bm25_topk",
    "events_feature_matrix",
    "similarity_recall_audit",
    "graph_triangle_count",
    # round-10 build, REGISTERED at the r11 rotation: the staged-
    # signature dedup path, bigram-LM quality scores, DSIR importance
    # weights, and h-index k-core decomposition (now with the
    # converged flag) — resolve from queries() now; their r10 lines
    # came via EXTRA_BENCH shims.
    "dedup_minhash_staged",
    "doc_bigram_score",
    "corpus_dsir_weights",
    "graph_kcore",
    # r12 queue: BM25 from the staged parquet postings index (built
    # late-r10) + the staged-token consumers (built r11, VERDICT r10
    # #6 — one token stage serves both)
    "bm25_topk_staged",
    "doc_bigram_score_staged",
    "corpus_dsir_weights_staged",
]

# Measured scale shape for the registered + queued lines
# (tools/scale_probe.py with SCALE_PROBE_ONLY=<these> 1 10 100;
# second-run walls at 1x/10x/100x of the sf0.1 volume).
SCALE_PROBES: dict[str, object] = {
    "mults": [1, 10, 100],
    "basis": (
        "tools/scale_probe.py second-run walls (x of the sf0.1 volume); "
        "r8-era rows ran with a concurrent pytest suite (ceilings); "
        "rows marked r9 ran on a quiet box with the value-dependent "
        "consumer (bit_xor(xxhash64) — per-column count was defeated "
        "by provably-non-null outputs, see BUILDLOG r9)"
    ),
    "walls_s": {
        "events_upsert_delete": [6.23, 7.72, 8.00],
        # r9, adaptive k (the registered line pins k=8 for the oracle;
        # the probe runs the operator default k=ceil(n/256)): at 100x
        # k=196, ZERO of 196 clusters trip the 1024 cap (max 425,
        # median 250) and pair mining executes corpus-wide — the r8
        # fixed-k row measured the cap firing (2.27 s of drops), this
        # measures the algorithm.  First runs (kmeans training
        # included): 12.4 / 33.3 / 143.1 s.
        "dedup_semantic": [8.44, 25.09, 38.85],
        # r12 re-probe on the two-strategy substring path (single
        # cached plan <150k docs, staged shards above; superseded r11
        # rows in brackets).  The 100x rows ran on the DEFAULT 8g heap
        # through the sharded path; "steady" second runs read the
        # committed run table.  [was 4.16, 62.70, 230.71]
        "doc_substring_spans": [2.17, 6.55, 1.69],
        "similarity_ivf_incremental": [1.76, 2.08, 2.44],
        # r9 queue (quiet box): ivf_pq ~flat (training-dominated);
        # substring dedup tracks the shared span miner (10->100
        # exponent 0.48) — measured with the aggregating consumer, a
        # bare count() lets Catalyst eliminate its unique-key left join
        # and skip the whole span subtree (see tools/scale_probe.py)
        "similarity_ivf_pq": [5.39, 6.82, 8.61],
        # post shuffle_hash hint on the gram-keep join (the 3.8 GiB
        # broadcast fix): 10x fell 65.2 -> 14.3 s.  r12: re-probed on
        # the two-strategy path [was 4.38, 14.30, 235.84]; the 100x
        # second run reads the run table the spans line staged
        "doc_substring_dedup": [1.76, 6.62, 0.91],
        # completes at 100x only after BOTH broadcast fixes (gram-keep
        # shuffle_hash + minhash verify-join merge insurance + merge
        # hints on its own corpus-sized stitch joins)
        # r11: the first direct 1000x attempt on the composed pipeline
        # FAILED — Py4JJavaError after ~55 min at 48g driver heap (the
        # probe recorded the error line; root cause not yet isolated —
        # the substring stage is the suspect: it is the composition's
        # only member with no 1000x wall of its own and its 10->100x
        # growth is match-count-bound at exponent 0.86 on the
        # template-dense probe corpus).  Recorded as data, NOT retried
        # silently; isolating the failing stage is the lead r12 scale
        # item (see COVERAGE "Round-12 queue").
        # r12: re-probed on the two-strategy substring path after the
        # r11 1000x failure was root-caused (see walls_1000x_s) —
        # [was 19.43, 27.19, 201.93]
        "corpus_dedup_pipeline": [16.01, 18.54, 20.40],
        # r10 queue (r9, quiet box, value-dependent consumer):
        # domain cap is one window shuffle (exp 0.06); gopher rules are
        # the tagged-gram aggregation (exp 0.79, ~linear); bm25 warm
        # runs amortize the persisted posting list (first runs 3.9 /
        # 6.7 / 18.5 s include the index build).
        "corpus_domain_cap": [0.38, 0.33, 0.49],
        "corpus_gopher_rules": [2.26, 8.51, 84.61],
        "bm25_topk": [2.23, 3.01, 7.61],
        # running-prefix + boundary-probe rewrite (r9): the sliding
        # RANGE formulation was QUADRATIC under a hot key (Spark has no
        # retractable aggregates — a sliding frame re-scans itself per
        # row; the 30%-hot-user probe never finished at 100x where the
        # unskewed line took 12 s).  Rewritten, 100x runs 4.9-7.4 s and
        # the SKEW variant completes in 9.4-14.0 s — linear per key.
        "events_feature_matrix": [1.45, 1.57, 5.58],
        "events_feature_matrix@skew": [1.07, 1.53, 9.39],
        # recall audit: nq=10 sampled queries, so cost is ~flat — the
        # brute-force ground-truth side is nq·n by definition and the
        # comparison joins are nq·k-row tiny
        "similarity_recall_audit": [1.70, 1.26, 2.05],
        # degree-oriented triangle census (15M orders / ~37M lineitems
        # at 100x): the orientation bounds wedge fan-out by out-degree
        # <= O(sqrt(m)) regardless of raw degree skew, so the census
        # stays sub-linear in wall clock across two decades
        "graph_triangle_count": [3.63, 5.86, 18.64],
        # r10, quiet box, value-dependent consumer — the r11 queue.
        # dedup_minhash_staged's row measures the STEADY STATE (the
        # signature table is staged on first touch, second runs read
        # it at scan cost); see staged_signature_probe below for the
        # cross-session stage/read split.  doc_bigram_score and
        # corpus_dsir_weights are scan-bound corpus passes;
        # graph_kcore is 20 h-index rounds over the co-purchase graph
        # (the degree aggregate dominates — rounds shrink as peeling
        # converges, hence the strong sublinearity).
        "dedup_minhash_staged": [7.37, 5.56, 9.96],
        # r11 re-probe after the shared persisted pre-agg landed
        # (_cached_corpus_agg): the r10 rows were 30.53 / 38.21 at
        # 100x — the triple/quadruple subtree re-derivation is gone,
        # steady state reads the persisted (doc, gram/bucket) frame.
        # Cold first runs at 100x: bigram 24.2 s, DSIR 33.8 s.
        "doc_bigram_score": [1.59, 1.31, 4.35],
        "corpus_dsir_weights": [1.77, 1.61, 3.53],
        # r12 queue (staged twins + staged BM25), same probe basis
        "doc_bigram_score_staged": [1.25, 1.41, 7.35],
        "corpus_dsir_weights_staged": [1.77, 1.72, 3.67],
        "bm25_topk_staged": [1.11, 2.12, 6.27],
        "graph_kcore": [10.40, 27.04, 62.19],
        # r12-built r13-queue candidate (pinned, not yet registered):
        # greedy k-center is k map-side scans + k driver scalars, so
        # the wall is broadcast/launch-dominated and ~flat (exp 0.04)
        "corpus_coreset_kcenter": [2.07, 1.96, 2.54],
    },
    # The cross-session staged-signature split (VERDICT r9 #4 "probe
    # line" — measured r10 with TWO processes at 100x/500k docs):
    # process A stages the signature table (vectorized Arrow stage +
    # parquet write); a FRESH JVM then runs the full banded join +
    # verify READING the staged table vs deriving signatures inline.
    # The staged fresh-session wall (14.9 s) is warm-equivalent (the
    # in-session second run at the same mult is 9.96 s; the delta is
    # the signature parquet scan), vs 30.5 s for the inline fresh
    # session — and the one-time stage itself is 29.7 s at this volume
    # (the r9 interpreted-HOF stage measured ~948 s for 10x this
    # corpus; the vectorized stage removed that wall, VERDICT r9 #4).
    "staged_signature_probe": {
        "mult": 100,
        "n_docs": 500_000,
        "stage_once_s": 29.68,
        "inline_signature_derive_s": 23.79,
        "fresh_session_staged_dedup_s": 14.91,
        "fresh_session_inline_dedup_s": 30.49,
        "pairs_equal": True,
    },
    # The same split at 1000x (5M docs — the volume whose r9 probe
    # measured 948 s of interpreted-HOF signature staging): the
    # vectorized stage writes the table once in 374 s, and a FRESH
    # session then runs the complete banded join + exact verify in
    # 32 s reading it — emitting the same 4.67M verified pairs the r9
    # probe recorded, so the staged path is value-identical at every
    # probed volume.
    # The lexical-index twin (r12-queue candidate bm25_topk_staged),
    # same two-process shape at 1000x/5M docs: the parquet postings
    # index builds in 66 s (the r9 in-session first run paid 356 s with
    # the query riding on top), and a FRESH session answers the full
    # top-k from the staged index in 66 s — dominated by re-deriving
    # df/dl over 300M staged term rows at scan cost, never the corpus
    # tokenize.
    "staged_bm25_probe_1000x": {
        "mult": 1000,
        "n_docs": 5_000_000,
        "index_build_s": 66.04,
        "fresh_session_query_s": 65.59,
        "r9_in_session_first_run_s": 356.0,
    },
    "staged_signature_probe_1000x": {
        "mult": 1000,
        "n_docs": 5_000_000,
        "stage_once_s": 373.7,
        "inline_signature_derive_s": 428.85,
        "fresh_session_staged_dedup_s": 32.36,
        "pairs": 4_672_482,
        "r9_interpreted_stage_s": 948.0,
    },
    # r11 (VERDICT r10 #6), same two-process shape at 1000x/5M docs:
    # the (doc_id, lang, words) token table stages in 9.2 s, then a
    # FRESH session runs the bigram scorer in 99.1 s (314.6 inline at
    # r10; 206.3 staged BEFORE the shared pre-agg landed) and DSIR in
    # 221.1 s (361.1 inline) off the SAME staged table; warm re-query
    # 46.2 / 33.0 s.  Two independent effects compound: the staged
    # scan stops re-evaluating the interpreted tokenize expression per
    # reference (no CSE for higher-order exprs — the doc_winnowing
    # lesson), and the persisted (doc, gram/bucket) pre-agg
    # (_cached_corpus_agg) stops the multi-consumer subtree
    # re-derivation that exchange reuse does not rescue.  Remaining
    # fresh-session wall is the one explode + pre-agg pass each scorer
    # inherently costs; DSIR's is bigger (unigrams+bigrams, 425M-row
    # persisted frame spilling to disk).
    # r14 (VERDICT r13 #8): the durable substring twin's cross-session
    # claim, witnessed by tools/cold_twin_probe.py as two SEPARATE
    # processes — `stage` paid the mining at 48 g, then `steady` ran
    # from a genuinely cold 8 g JVM (a DIFFERENT heap, so the row also
    # witnesses the r14 content-vs-layout manifest split: a
    # heap-drifted session must adopt, not restage).  restaged:false is
    # asserted by manifest inode+mtime pinning; the probe exits
    # non-zero on a restage, so a regression cannot produce this row.
    "cold_twin_steady_state": {
        "mult": 1000,
        "n_docs": 5000000,
        "stage_heap_gib": 48.0,
        "steady_heap_gib": 8.0,
        "steady_wall_s": 8.614,
        "value_hash_matches_stage_phase": True,
        "restaged": False,
    },
    "staged_tokens_probe_1000x": {
        "mult": 1000,
        "n_docs": 5_000_000,
        "stage_once_s": 9.2,
        "fresh_session_bigram_staged_s": 99.1,
        "warm_bigram_staged_s": 46.2,
        "fresh_session_dsir_staged_s": 221.1,
        "warm_dsir_staged_s": 33.0,
        "r11_prepersist_staged_bigram_s": 206.3,
        "r11_prepersist_staged_dsir_s": 260.0,
        "r10_inline_bigram_s": 314.62,
        "r10_inline_dsir_s": 361.15,
    },
    # direct 100x-only second-run walls for the registered dedup family
    # (post minhash merge insurance; 500k docs, ~464k verified pairs;
    # zero GC-pressure warnings): the CC loop over a 500k-node near-dup
    # graph runs 20.3 s warm — the pointer-doubled, edge-endpoint
    # -restricted design holding at two orders past bench scale.
    "walls_100x_only_s": {
        "dedup_exact": 2.36,
        "dedup_golden_record": 4.64,
        "dedup_minhash_lsh": 7.40,
        "dedup_clusters": 20.30,
        "dedup_near_survivors": 25.01,
        "corpus_quality_filter": 19.02,
        # similarity family, 200k vectors (dedup_embedding emits 13.0M
        # capped pairs — output-bound, not plan-bound)
        "similarity_topk": 2.03,
        "similarity_ann_lsh": 1.68,
        "similarity_ivf_kmeans": 3.53,
        "similarity_pq_adc": 9.03,
        "dedup_embedding": 27.89,
        # events family, 10M rows (sessions also ran the 30%-hot-key
        # skew variant: 3.84 s — the salting path holds)
        "scd2_user_state": 3.08,
        "user_sessions": 4.01,
        "events_twap": 1.62,
        "events_transition_matrix": 2.71,
        "events_heavy_hitters": 1.81,
        # warehouse family, 15M orders / ~37M lineitems (second runs
        # amortize the session's staged key maps, the production shape)
        "lineitem_column_profile_approx": 8.24,
        "orders_backlog_series": 6.14,
        # r9 re-check with the value-dependent consumer: the r8 row
        # (1.77 s) undercounted — count-time pruning dropped the final
        # grading window; the honest wall is 3.54 s.  scd2_user_state
        # (3.04) and orders_backlog_series (3.24) re-checked within /
        # below their recorded rows, so the r8 numbers stand.
        "lineitem_abc_pareto_approx": 3.54,
        "supplier_pagerank": 5.89,
    },
    # beyond-100x: second-run walls at 1000x of the sf0.1 volume (100M
    # events / 5M docs / 500k vectors — r9, quiet box, value-dependent
    # consumer).  The probe JVM needs its heap sized for the volume:
    # events_feature_matrix's 100M-row window sort OOMed the default-8g
    # single JVM under 32-way task concurrency (GCLocker alloc failure)
    # and completes on the same box with a 48g driver (first run 176 s)
    # — on a real cluster this pressure is spread across per-executor
    # heaps.  bm25's first run (posting-list build over 300M terms) is
    # 356 s, amortized thereafter.  Heap floors are now a TABLE the
    # probe enforces up front (tools/scale_probe.py HEAP_FLOORS_GIB,
    # VERDICT r9 #6): a too-small JVM fails fast with the required
    # SPARK_GRAFT_DRIVER_MEM before any corpus write.
    "heap_floors_gib": {"events_feature_matrix@1000x": 48},
    "walls_1000x_s": {
        "scd2_user_state": 16.06,
        "events_twap": 14.45,
        "events_feature_matrix": 63.0,
        "dedup_exact": 16.46,
        "corpus_domain_cap": 1.41,
        "bm25_topk": 48.30,
        "similarity_topk": 15.93,
        # batch two: heavy_hitters returns 0 rows at this scale (no
        # user crosses the support threshold among 500k users — the
        # two-phase pass still runs end to end); minhash's first run
        # (948 s) stages signatures over 5M docs, then the banded join
        # + verify runs warm in 83 s emitting 4.67M verified pairs;
        # quality_filter and lang_id are scan-bound linear.
        "events_heavy_hitters": 5.15,
        "events_transition_matrix": 21.17,
        "lang_id": 97.04,
        "embedding_stats": 1.76,
        "corpus_quality_filter": 245.82,
        "dedup_minhash_lsh": 82.95,
        # r11 batch: the remaining text-analysis family (second-run
        # walls, 5M docs).  contamination_check's pre-fix walls were
        # 729/773 s — its doc-gram build was referenced 3x with no CSE
        # (the bigram/DSIR re-derivation class); persisting the
        # shingle frame (_cached_corpus_agg) cut the second-run wall
        # to 33.0 s.  Honest cold-run cost: 867 s first run (+19% over
        # pre-fix — the persist write + spill of the 5M-doc gram
        # arrays), paid once per (session, corpus).
        "bpe_encode_stats": 255.10,
        "doc_unigram_score": 99.14,
        "sequence_packing": 12.71,
        "tfidf_top_terms": 131.25,
        "contamination_check": 33.0,
        "text_stats": 142.23,
        # r10: fresh-session wall READING the staged signature table
        # (see staged_signature_probe_1000x); the 948 s staging pass
        # is paid once per corpus and is itself 2.5x cheaper vectorized
        "dedup_minhash_staged": 32.36,
        # r12: the lead scale item CLOSED — 5M docs through the fully
        # sharded substring path (gram-hash shards for mining, doc-pair
        # shards for run assembly, every staging manifest-gated and
        # dropped once its consumer commits).  Stage-everything first
        # run 1610.6 s; steady state (committed run table + coverage
        # join) 2.16 s.  The two r11 failure causes are fixed and
        # documented in _substring_span_frame: hollow byte-range splits
        # (parallelize_cpu_stage file-count check) and gram/pair/run
        # shuffles exceeding per-host disk (sharding + scoped release).
        "doc_substring_dedup@steady": 2.16,
        # r12 batch two (same probe session discipline): the composed
        # pipeline's r11 1000x failure is CLOSED — 208.1 s first run /
        # 99.4 s warm at 5M docs (minhash + exact + CC + stitch; the
        # substring coverage reads the committed run table).  spans'
        # 1000x run emits 0 rows, and that is DATA-real, not a plan
        # defect: the staged run table holds 200M maximal runs whose
        # span lengths are all 34-38 chars — the probe generator's
        # shared-stretch geometry at 5M docs caps runs below the
        # min_span=40 contract (verified by a 7-shard vs single-pass
        # A/B at sf0.1: 259 == 259 rows, value-equal).
        # pipeline: 208.1 s first run (staging), warm below;
        # spans: 1427.0 s stage-everything first run, steady below
        "corpus_dedup_pipeline": 99.35,
        "doc_substring_spans@steady": 6.68,
        "corpus_split_assignment": 1.51,
        "corpus_length_histogram": 94.87,
        # r13-queue candidate (pinned, unregistered): 500k vectors,
        # first run 12.8 s — k scans stay sublinear (100x->1000x
        # exponent ~0.46)
        "corpus_coreset_kcenter": 7.36,
        # r10: the r11-queue text ops at 5M docs — both scan-bound
        # linear from their 100x walls (30.5->315 s, 38.2->361 s for
        # 10x the data)
        "doc_bigram_score": 314.62,
        "corpus_dsir_weights": 361.15,
        # r10: 20 h-index rounds over the 18.75M-node co-purchase graph
        # (150M orders) — sublinear from 100x (62->357 s for 10x the
        # data); needs the 48g probe JVM (HEAP_FLOORS_GIB: the und edge
        # view GCLocker-OOMs 8g under 32-way concurrency — caught by
        # the new fail-fast table's own measurement run)
        "graph_kcore": 356.55,
        # r13 (VERDICT r12 #6): the CC/stitch family at 5M docs / 500k
        # vectors — the last corpus family whose top scale was
        # extrapolated.  dedup_clusters' FIRST run (275.3 s) includes
        # the vectorized signature staging + banded mining the whole
        # family shares; warm label propagation converges in 119.8 s
        # over the 4.67M-pair edge list.  near_survivors (the stitch:
        # mine -> cluster -> keep-one -> semi-join) rides the same
        # staged state: 82.1 s first / 115.3 s second (the spread is
        # cache-eviction variance across the 5M-doc session, both
        # runs green).  dedup_embedding at 500k vectors is 8.8 s warm
        # — the banded sign-LSH candidate join stays candidate-bound,
        # not corpus-bound (its r10 100x wall of 27.9 s predates the
        # vectorized signature path; the family is sublinear even
        # against that anchor).
        "dedup_clusters": 119.85,
        "dedup_near_survivors": 115.32,
        "dedup_embedding": 8.80,
        # r13 (VERDICT r12 #2/#5): the substring staging re-probed at
        # 5M docs under the NEW shared-tail generator geometry (pair
        # volume 3.7x the r12 corpus: 37 GB staged pairs), exercising
        # both new disk/heap adaptations end to end — gram staging ran
        # in 4 disk-sized groups, run assembly in 3 heap-sized
        # sub-splits per pair shard.  doc_substring_spans now emits
        # 10,000,000 rows at 1000x (exactly the 2n family-tail pairs;
        # the r12 zero-row blind spot is closed) in 14.4 s steady.
        # The staged twin's CROSS-SESSION steady state: a fresh
        # process read the committed durable run table in 15.0 s with
        # restaged=False (inode+mtime-pinned) — the staging is a
        # once-per-corpus cost across sessions now, not per session.
        "doc_substring_spans@steady_r13geom": 14.4,
        "doc_substring_dedup_staged@fresh_session_steady": 15.0,
        "doc_substring_dedup_staged@warm": 3.6,
    },
    # r13 (VERDICT r12 #8): graph_kcore lineage-truncation cadence A/B
    # at sf0.1, 3 interleaved reps each, warm scan, local[32].  Every-2
    # ADOPTED as the default (-19%); every-4 rejected — the un-truncated
    # plan doubling re-derives rounds and loses more than the skipped
    # materializations save.  Value-neutrality pinned by
    # test_graph_kcore_checkpoint_cadence_is_value_neutral.
    "graph_kcore_checkpoint_cadence_ab": {
        "every_1_s": [30.69, 29.89, 29.82],
        "every_2_s": [26.37, 24.02, 24.31],
        "every_4_s": [40.91, 39.02, 38.95],
        "adopted": 2,
    },
    # Celebrity-hub skew probe for the graph family (r10): one part
    # co-purchased in 30% of 1.5M orders — hub degree 528k in a
    # 777k-node graph.  The h-index update ranks each node's neighbor
    # values inside ONE window partition, so the hub costs a
    # degree-sized single-task sort per round; measured 46 s warm for
    # all 20 rounds vs 62 s for the UNSKEWED 1.9M-node 100x graph —
    # an absorbed imbalance, not a cliff (the sort is O(d log d) once
    # per round and every other node proceeds in parallel).
    "graph_kcore_skew_probe": {
        "n_orders": 1_500_000,
        "n_nodes": 776_610,
        "hub_degree": 527_974,
        "walls_s": [60.87, 45.91],
    },
    "scaling_exponent_full_range": {
        "events_upsert_delete": 0.05,
        "dedup_semantic": 0.33,
        "doc_substring_spans": 0.87,
        "similarity_ivf_incremental": 0.07,
        "similarity_ivf_pq": 0.10,
        "doc_substring_dedup": 0.86,
        "corpus_dedup_pipeline": 0.51,
        "corpus_domain_cap": 0.06,
        "corpus_gopher_rules": 0.79,
        "bm25_topk": 0.27,
        "events_feature_matrix": 0.35,
        "events_feature_matrix@skew": 0.56,
        "similarity_recall_audit": 0.04,
        "graph_triangle_count": 0.36,
        # r11 queue (r10 probes)
        "dedup_minhash_staged": 0.07,
        "doc_bigram_score": 0.64,
        "corpus_dsir_weights": 0.70,
        "graph_kcore": 0.39,
    },
    "note": (
        "dedup_semantic probes run the operator's corpus-adaptive k "
        "(r9, VERDICT r8 #3) while the registered line pins k=8 for "
        "the static oracle; its walls_s row now measures pair mining "
        "executing at every mult (0/196 clusters tripped the cap at "
        "100x).  doc_substring_spans growth is match-count-bound "
        "(the probe corpus is template-dense; the 200-occurrence gram "
        "cap bounds it), 10->100 exponent 0.57.  Isolated re-runs are "
        "now MEASURED by this harness at end of suite (VERDICT r9 #2), "
        "not recorded testimony — see isolated_reruns in the "
        "provenance output."
    ),
}


def _bench_stickiness_prod(spark, sf_dir: str):
    from logistream_data_pipeline_aws_spark.plans.extensions import (
        events_stickiness_hll_prod,
    )

    return events_stickiness_hll_prod(spark, sf_dir)


def _bench_rfm_prod(spark, sf_dir: str):
    from logistream_data_pipeline_aws_spark.plans.extensions import (
        customer_rfm_scores_approx_prod,
    )

    return customer_rfm_scores_approx_prod(spark, sf_dir)


def _reference_warehouse_fact(spark, sf_dir: str):
    """End-to-end reference-parity pipeline (8 dims + fact assembly) over
    distributed synthetic rawdata sized to the scale factor — the perf
    floor for the flagship surface, not just the TPC-H mapping."""
    from logistream_data_pipeline_aws_spark.plans.extensions import geojson_routes
    from logistream_data_pipeline_aws_spark.plans.reference_pipeline import (
        build_warehouse,
    )
    from logistream_data_pipeline_aws_spark.sources.synthetic import synthetic_rawdata

    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    # Stage rawdata once: the 8 dim builds + fact each embed a rawdata
    # subtree; without the persist the generator re-evaluates ~9 times
    # inside one action.  At 100 TB this is "land the raw extract in the
    # staging zone before building the warehouse" — persist(MEMORY_AND_DISK)
    # is the local analog (spills instead of OOMing).  Cached per bench
    # process so best-of-N reuses the staged frame like the other
    # plan-keyed caches (minhash signatures, staged key maps).
    global _RAW_CACHE, _WH_CACHE
    if _RAW_CACHE is None:
        from pyspark import StorageLevel

        _RAW_CACHE = synthetic_rawdata(
            spark, n_orders=max(1000, int(600_000 * sf))
        ).persist(StorageLevel.MEMORY_AND_DISK)
    # stage_dims: dims persist on first use, so best-of-N's later runs
    # measure the steady-state production shape — incremental fact loads
    # joining against landed dimension tables (the fact still recomputes
    # its own 120k-row joins + keygen every run)
    if _WH_CACHE is None:
        _WH_CACHE = build_warehouse(
            _RAW_CACHE, geojson_routes(spark, sf_dir), stage_dims=True
        )
    return _WH_CACHE["fact_supplychain_events"]


_RAW_CACHE = None
_WH_CACHE = None


EXTRA_BENCH = {
    "reference_warehouse_fact": _reference_warehouse_fact,
    "events_stickiness_hll_prod": _bench_stickiness_prod,
    "customer_rfm_scores_approx_prod": _bench_rfm_prod,
    # (the r12 queue registered at the r12 rotation — bm25_topk_staged
    # and the two staged-token consumers resolve from queries() now)
}


def run_query(df) -> None:
    df.write.format("noop").mode("overwrite").save()


N_RUNS = 3  # best-of-3: two runs were not enough insulation on a shared box

# The 13-query size-stable floor subset BENCH_r01 recorded (16.158 s,
# BASELINE.md) — the cross-round comparison basis, and the gate line's
# truncation fallback when the full per-query dict outgrows the
# driver's tail capture.
FLOOR_SUBSET = [
    "fact_lineitem",
    "q1_pricing_summary",
    "a5_profit_rollup",
    "a6_sales_trend",
    "a7_schedule_adherence",
    "a8_returns_by_nation",
    "top_customers",
    "events_hourly",
    "dim_date",
    "dim_customer",
    "user_sessions",
    "dedup_minhash_lsh",
    "similarity_topk",
]
# Hard budget for the serialized gate line: the driver keeps the LAST
# 2000 bytes of stdout, so a line beyond ~1.9 KB loses its head and
# records parsed:null (the r4 + r11 failure mode).
GATE_LINE_MAX = 1900
VARIANCE_FLAG = 0.30  # max/min - 1 beyond this marks the line load-suspect
VARIANCE_FLOOR_S = 0.3  # ...but only when the absolute spread is material
# (sub-second queries swing 2x on first-run codegen alone; flagging them
# would drown the real signal the sentinel exists for)
# r15 (VERDICT r14 #5): the tiny-line noise floor — sub-second lines
# sit below VARIANCE_FLOOR_S, so a load spike during their 3 runs was
# invisible AND unrepaired, and the r14 PERF geomean (0.796, 39
# "regressions") was effectively a load measurement over them.  Any
# line whose best is sub-second and whose relative spread trips
# VARIANCE_FLAG gets SUB_SECOND_RERUNS extra steady-state runs (all
# runs recorded in provenance; best-of over the larger sample).
# Purely additive: no run is discarded, no existing flag changes.
SUB_SECOND_RERUNS = 2


def _table_rows(sf_dir: str) -> dict[str, int]:
    """Per-table row counts from parquet footers (no Spark job) — makes
    every bench artifact self-describing, so rounds whose testdata
    generation differs (r3 grew documents 10x) are never compared as if
    same-data."""
    import pyarrow.parquet as pq

    rows: dict[str, int] = {}
    for name in sorted(os.listdir(sf_dir)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(sf_dir, name)
        try:
            if os.path.isdir(path):
                rows[name[:-8]] = sum(
                    pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                    for f in os.listdir(path)
                    if f.endswith(".parquet")
                )
            else:
                rows[name[:-8]] = pq.ParquetFile(path).metadata.num_rows
        except Exception:
            continue
    return rows


LOAD_GATE = 2.0     # 1-min loadavg above this at start = contaminated box
LOAD_RETRY_S = 30.0  # bounded sleep-and-retry before giving up
LOAD_RETRIES = 10    # ... up to 5 minutes of waiting for a quiet box


def _await_quiet_box(
    retry_s: float = LOAD_RETRY_S, retries_max: int = LOAD_RETRIES
) -> tuple[int, bool]:
    """Two consecutive official artifacts (r5 loadavg 4.9, r6 9.34) were
    recorded on a loaded box, making their per-query deltas contention
    noise (VERDICT r6 next-round #4).  Gate: wait (bounded) for the
    1-min loadavg to drop under ``LOAD_GATE``; if it never does, run
    anyway but stamp an explicit contamination flag so no one compares
    the numbers as engine signal.  Returns (retries_used, contaminated)."""
    retries = 0
    while os.getloadavg()[0] > LOAD_GATE and retries < retries_max:
        print(
            f"[bench] loadavg {os.getloadavg()[0]:.2f} > {LOAD_GATE} — "
            f"sleeping {retry_s:.0f}s ({retries + 1}/{retries_max})",
            file=sys.stderr,
        )
        time.sleep(retry_s)
        retries += 1
    return retries, os.getloadavg()[0] > LOAD_GATE


# Lines the previous round's verdict called evidence-weak: re-run these
# in isolation at end of suite EVEN IF their in-suite runs agree, so the
# official artifact always carries a quiet-box number for them
# (VERDICT r9 #3: dedup_semantic — two rounds of dirty lines;
# doc_substring_spans — x3.75 at constant input, unexplained).
ALWAYS_ISOLATE = [
    "dedup_semantic",
    "doc_substring_spans",
    # r14 (VERDICT r13 #3): the one unadjudicated r13 regression —
    # its interleaved A/B cleared the raise_error guard (<5% cost,
    # noise-band) but the line stays isolated so a real drift
    # self-identifies in the artifact
    "bm25_topk_staged",
]
ISOLATE_RUNS = 3  # best-of-3, same discipline as the suite lines

# Per-line session-conf overrides, applied around the line's warm-up +
# timed runs and restored after.  graph_triangle_count (r11, VERDICT
# r10 #3 adjudicated by direct A/B): with AQE on, repeated executions
# of the SAME plan in one session spread 1.3-1.4x (14.8-19.3 s) and
# the r10 isolated runs spread 12.0-21.7 s; with AQE off the line runs
# 12.6-13.5 s — faster best AND <=1.15x spread across two independent
# batches.  AQE re-plans per execution (a warm-up cannot pin it), and
# its stage-materialization points destabilize the oriented wedge
# join; the operator needs no runtime re-planning (its join sides are
# statically broadcast/shuffle-correct).  The override IS the
# documented production configuration for this operator, not a bench
# cosmetic — see graph_triangle_count's docstring.
LINE_CONFS: dict[str, dict[str, str]] = {
    "graph_triangle_count": {"spark.sql.adaptive.enabled": "false"},
}


class _line_confs:
    """Apply a line's conf overrides; restore prior values on exit.

    The save uses ``conf.get(k, None)`` (ADVICE r11 #4): a bare
    ``conf.get(k)`` raises for a key with no session value and no
    SQLConf default, which would abort the whole suite before any line
    ran the moment a future LINE_CONFS entry names such a key.  A
    ``None`` save is restored by unsetting the key."""

    def __init__(self, spark, name: str):
        self.spark = spark
        self.overrides = LINE_CONFS.get(name, {})
        self.saved: dict[str, str | None] = {}

    def __enter__(self):
        for k, v in self.overrides.items():
            self.saved[k] = self.spark.conf.get(k, None)
            self.spark.conf.set(k, v)

    def __exit__(self, *exc):
        for k, v in self.saved.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)
        return False
# Isolated re-runs triple every flagged line's cost; a round where many
# lines flag would silently turn the suite into a multi-hour run.  Cap
# the isolated set by a ranked budget — worst in-suite spread first —
# and RECORD what was skipped (the probes' no-silent-caps discipline),
# so the artifact says "not isolated this round" instead of implying
# clean (VERDICT r10 #8).
# r15: raised 5 -> 8 after the r15 baseline run showed five variance-
# flagged lines displacing ALL THREE standing ALWAYS_ISOLATE lines from
# the budget (dedup_semantic's in-suite 6.58 s vs 4.6-4.9 s quiet-box
# went unadjudicated in that artifact).  Eight = the worst observed
# flag count (5) + the standing list (3); additions only.
MAX_ISOLATED = 8


def _heap_pool_beans(spark):
    """The JVM's heap-typed MemoryPoolMXBeans (driver == executor heap
    under local[*]), used for measured per-line peak heap evidence."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    beans = mf.getMemoryPoolMXBeans()
    out = []
    for i in range(beans.size()):
        b = beans.get(i)
        if b.getType().toString() == "Heap memory":
            out.append(b)
    return out


def _reset_heap_peaks(pools) -> None:
    for b in pools:
        b.resetPeakUsage()


def _heap_peak_mb(pools) -> int:
    return int(sum(b.getPeakUsage().getUsed() for b in pools) / (1024 * 1024))


def _storage_mem_mb(spark) -> int:
    """MiB of persisted RDD/DataFrame blocks currently resident in
    storage memory (RDDStorageInfo sum).  Recorded per line so a
    round-over-round wall drift at constant code can be adjudicated
    between cache pressure and an engine regression (VERDICT r11 #4:
    dedup_semantic's isolated best moved 10.8 -> 13.6 s with the new
    session-resident MEMORY_AND_DISK corpus frames the suspect)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() for i in infos) / (1024 * 1024))


def _provenance_path() -> str:
    """BENCH_provenance_r<N>.json next to this file: the driver's
    2000-byte tail capture clips the printed provenance line (VERDICT
    r9 #7), so the full record is committed as a file.  N = the round
    the artifact will be recorded under (max existing BENCH_r*.json
    + 1; SPARK_GRAFT_ROUND overrides)."""
    here = os.path.dirname(os.path.abspath(__file__))
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        n = int(env)
    else:
        import re

        ns = [
            int(m.group(1))
            for f in os.listdir(here)
            if (m := re.match(r"BENCH_r(\d+)\.json$", f))
        ]
        n = (max(ns) + 1) if ns else 1
    return os.path.join(here, f"BENCH_provenance_r{n:02d}.json")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    load_retries, load_contaminated = _await_quiet_box()
    spark = get_spark("logistream-bench")
    qs = E.queries()

    # JVM/codegen warmup on the smallest scale so timings measure the
    # engine, not classloading — include the join+window plan shapes the
    # headline queries compile.
    run_query(qs["q1_pricing_summary"](spark, "/root/testdata/sf0.001"))
    run_query(qs["fact_lineitem"](spark, "/root/testdata/sf0.001"))

    qs = {**qs, **EXTRA_BENCH}
    load_start = os.getloadavg()
    load_max_during = load_start[0]
    load_samples: list[float] = []
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    flagged: list[str] = []
    sub_second_retimed: list[str] = []
    line_loadavg: dict[str, float] = {}
    total = 0.0
    heap_pools = _heap_pool_beans(spark)
    heap_peaks: dict[str, int] = {}
    storage_mb: dict[str, int] = {}
    for name in BENCH_QUERIES + [k for k in EXTRA_BENCH if k not in BENCH_QUERIES]:
        # UNIFORM per-line warm-up (VERDICT r10 #3): one untimed
        # throwaway run absorbs stage codegen, classloading, and
        # one-time staging (bucketed tables, warehouse dims,
        # signature/postings stages) for EVERY line, uniformly.  Note
        # what it CANNOT absorb: AQE re-plans on every execution, so a
        # line destabilized by runtime re-planning needs a LINE_CONFS
        # override, not a warm-up (the graph_triangle_count
        # adjudication — see LINE_CONFS).
        per_run: list[float] = []
        with _line_confs(spark, name):
            run_query(qs[name](spark, sf_dir))
            # per-line JVM heap peak, MEASURED (VERDICT r10 #7): reset
            # the heap pools' peak-usage marks, run, read the summed
            # peak — the artifact shows how close each line comes to
            # the driver-heap ceiling instead of asserting the default
            # suffices.
            _reset_heap_peaks(heap_pools)
            for _ in range(N_RUNS):
                t0 = time.time()
                run_query(qs[name](spark, sf_dir))
                per_run.append(round(time.time() - t0, 3))
        # sub-second noise-floor repair (r15, VERDICT r14 #5): more
        # samples for a tiny line whose runs disagree — see the
        # SUB_SECOND_RERUNS note above
        if (
            min(per_run) < 1.0
            and max(per_run) / max(min(per_run), 1e-9) - 1.0 > VARIANCE_FLAG
        ):
            with _line_confs(spark, name):
                for _ in range(SUB_SECOND_RERUNS):
                    t0 = time.time()
                    run_query(qs[name](spark, sf_dir))
                    per_run.append(round(time.time() - t0, 3))
            sub_second_retimed.append(name)
        heap_peaks[name] = _heap_peak_mb(heap_pools)
        storage_mb[name] = _storage_mem_mb(spark)
        # mid-run load sentinel (VERDICT r9 #2): r9's artifact passed the
        # start-only gate yet was uniformly ~1.36x inflated — external
        # load arriving AFTER t=0 was invisible.  Sampling between lines
        # records the worst 1-min loadavg the suite actually ran under
        # (self-load from local[32] is part of the reading; the signal
        # is the round-over-round delta at identical suite composition).
        load_samples.append(round(os.getloadavg()[0], 2))
        load_max_during = max(load_max_during, load_samples[-1])
        # NAMED per-line load sample (r15, VERDICT r14 #5): the ordered
        # loadavg_samples list could not be joined back to lines without
        # re-deriving suite order, so PERF regressions on tiny lines
        # could not be auto-attributed to load.  Additive.
        line_loadavg[name] = load_samples[-1]
        runs[name] = per_run
        timings[name] = min(per_run)
        total += timings[name]
        # loud load sentinel: best-of hides a contaminated run, so a
        # query whose runs disagree by >30% is flagged in the artifact —
        # the round-3 driver artifact misreported the engine by ~20% and
        # nothing in the JSON said so.  The untimed warm-up run has
        # already absorbed one-time staging/codegen, so ALL timed runs
        # are steady state and all participate in the check.
        steady = per_run
        if (
            max(steady) - min(steady) > VARIANCE_FLOOR_S
            and max(steady) / max(min(steady), 1e-9) - 1.0 > VARIANCE_FLAG
        ):
            flagged.append(name)
            print(
                f"[bench] WARNING {name}: run-to-run variance "
                f"{max(per_run):.3f}s/{min(per_run):.3f}s exceeds "
                f"{VARIANCE_FLAG:.0%} — machine load suspected",
                file=sys.stderr,
            )
    load_end = os.getloadavg()

    # End-of-suite isolated re-runs (VERDICT r9 #2): every line whose
    # in-suite runs disagreed (variance_flagged) plus the standing
    # evidence-weak list is re-measured ALONE — nothing else executing,
    # bounded wait for the 1-min loadavg to decay under the gate before
    # each — and the MEASURED walls land in the artifact.  This replaces
    # the r9 hard-coded isolated_reruns dict (builder testimony compiled
    # into source), which the verdict correctly rejected as evidence.
    isolated: dict[str, dict[str, object]] = {}
    # Evict the session's persisted corpus frames BEFORE the quiet-box
    # block (VERDICT r11 #4): r11's isolated dedup_semantic best moved
    # 10.8 -> 13.6 s at constant code, with the suite's accumulated
    # MEMORY_AND_DISK corpus pre-aggs + the contamination shingle frame
    # resident in the 8g heap by end of suite the plausible mechanism.
    # Residency is recorded before/after the evict so the artifact can
    # separate cache pressure from an engine regression.
    from logistream_data_pipeline_aws_spark.plans.extensions import (
        invalidate_corpus_caches,
    )

    storage_before_evict = _storage_mem_mb(spark)
    invalidate_corpus_caches(spark)
    storage_after_evict = _storage_mem_mb(spark)
    candidates = [n for n in dict.fromkeys(flagged + ALWAYS_ISOLATE) if n in qs]
    # ranked budget (VERDICT r10 #8): flagged lines ordered worst
    # in-suite spread first; the standing ALWAYS_ISOLATE list competes
    # under the same ranking (its spread comes from the same runs dict)
    candidates.sort(
        key=lambda n: max(runs[n]) / max(min(runs[n]), 1e-9),
        reverse=True,
    )
    skipped_isolated = candidates[MAX_ISOLATED:]
    for name in skipped_isolated:
        print(
            f"[bench] isolated-rerun budget ({MAX_ISOLATED}) exhausted: "
            f"{name} NOT re-measured in isolation this run",
            file=sys.stderr,
        )
    for name in candidates[:MAX_ISOLATED]:
        gate_retries, still_loaded = _await_quiet_box(
            retry_s=20.0, retries_max=9
        )
        gate_loadavg = round(os.getloadavg()[0], 2)  # BEFORE the runs
        iso_runs: list[float] = []
        with _line_confs(spark, name):
            for _ in range(ISOLATE_RUNS):
                t0 = time.time()
                run_query(qs[name](spark, sf_dir))
                iso_runs.append(round(time.time() - t0, 3))
        isolated[name] = {
            "runs": iso_runs,
            "best": min(iso_runs),
            "loadavg_at_start": gate_loadavg,
            "gate_retries": gate_retries,
            "gate_timed_out": still_loaded,
        }

    provenance = {
        "detail": "bench_provenance",
        "runs": runs,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in load_end],
        "loadavg_max_during": round(load_max_during, 2),
        "loadavg_samples": load_samples,
        "load_gate_retries": load_retries,
        "load_contaminated": load_contaminated,
        "variance_flagged": flagged,
        "sub_second_retimed": sub_second_retimed,
        "line_loadavg": line_loadavg,
        "isolated_reruns": isolated,
        "skipped_isolated": skipped_isolated,
        # measured per-line JVM heap peaks (MiB) + the configured cap:
        # the fail-fast floor evidence VERDICT r10 #7 asked for — a line
        # whose peak approaches jvm_max_heap_mb needs a HEAP_FLOORS_GIB
        # entry before it GC-thrashes a future suite.  NOTE: the value
        # sums each heap pool's own peak (eden/survivor/old peak at
        # different moments), so it is an UPPER BOUND on simultaneous
        # occupancy and can exceed jvm_max_heap_mb; the signal is the
        # line-to-line ordering and round-over-round drift, not the
        # absolute headroom.
        "jvm_peak_heap_mb": heap_peaks,
        # persisted-block residency after each line + around the
        # pre-isolation evict (VERDICT r11 #4 adjudication evidence)
        "storage_mem_mb": storage_mb,
        "storage_mb_before_isolated_evict": storage_before_evict,
        "storage_mb_after_isolated_evict": storage_after_evict,
        "jvm_max_heap_mb": int(
            spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
            / (1024 * 1024)
        ),
        "scale_probes": SCALE_PROBES,
        "table_rows": _table_rows(sf_dir),
    }
    # The full provenance is COMMITTED as a file (VERDICT r9 #7): the
    # driver's 2000-byte tail capture clipped the printed line two
    # rounds running, losing the load sentinels exactly when they were
    # needed.  The print below stays for interactive runs; the file is
    # the durable record.
    try:
        with open(_provenance_path(), "w") as fh:
            json.dump(provenance, fh, indent=1)
            fh.write("\n")
    except OSError as exc:  # read-only checkout: keep the gate line alive
        print(f"[bench] provenance file not written: {exc}", file=sys.stderr)
    print(json.dumps(provenance))
    # The COMPACT gate line — the ONE artifact the driver parses
    # mechanically, via a 2000-byte tail capture that keeps only the
    # END of stdout.  It outgrew that budget twice (r4 and r11 both
    # recorded parsed:null), so the line is now budgeted: timings at
    # 2dp, per-name isolated bests live ONLY in the provenance file
    # (isolated_reruns), and if the full per-query dict still exceeds
    # the cap the line drops to the 13-query floor subset with an
    # explicit truncation flag — loud in the artifact, never silently
    # unparseable.  The assert makes future growth fail at print time.
    gate = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        # the BASELINE.md comparison basis (BENCH_r01's 16.158 s), so
        # the floor number survives even a truncated line
        "floor_subset_total": round(
            sum(timings[q] for q in FLOOR_SUBSET if q in timings), 3
        ),
        "sf": sf,
        "load_contaminated": load_contaminated,
        "load_gate_retries": load_retries,
        "loadavg_max_during": round(load_max_during, 2),
        "variance_flagged": flagged,
    }
    line = json.dumps(gate)
    if len(line) > GATE_LINE_MAX:
        # degrade gracefully, cheapest information first: the flagged
        # NAMES are already in the provenance file, so swap the list
        # for a count before sacrificing any per-query timing
        gate["variance_flagged"] = len(flagged)
        line = json.dumps(gate)
    if len(line) > GATE_LINE_MAX:
        gate["queries"] = {
            q: round(timings[q], 2) for q in FLOOR_SUBSET if q in timings
        }
        gate["queries_truncated_to_floor_subset"] = True
        line = json.dumps(gate)
    assert len(line) <= GATE_LINE_MAX, (
        f"bench gate line is {len(line)} bytes > GATE_LINE_MAX="
        f"{GATE_LINE_MAX} even after floor-subset truncation — shrink it "
        f"before the driver records an unparseable artifact"
    )
    print(line)


if __name__ == "__main__":
    main()
