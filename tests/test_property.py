"""Property-based tests (hypothesis): parsing and dedup invariants hold
for arbitrary inputs, not just fixtures."""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from logistream_data_pipeline_aws_spark.functions.dates import parse_raw_date
from logistream_data_pipeline_aws_spark.operators.dedup import dedup_first

_slow = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_slow
@given(
    st.lists(
        st.datetimes(
            min_value=datetime.datetime(1990, 1, 1),
            max_value=datetime.datetime(2035, 12, 31),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_parse_raw_date_roundtrip(spark, dts):
    raws = [(f"{d.month}/{d.day}/{d.year} {d.hour}:{d.minute}",) for d in dts]
    df = spark.createDataFrame(raws, ["raw"])
    out = [r.d for r in df.select(parse_raw_date("raw").alias("d")).collect()]
    assert out == [d.date() for d in dts]


@_slow
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # key
            st.integers(min_value=-100, max_value=100),  # tiebreak/payload
        ),
        min_size=1,
        max_size=40,
    )
)
def test_dedup_first_invariants(spark, rows):
    df = spark.createDataFrame(rows, ["k", "v"])
    out = {(r.k, r.v) for r in dedup_first(df, ["k"], ["v"]).collect()}
    expected = {}
    for k, v in rows:
        if k not in expected or v < expected[k]:
            expected[k] = v
    # exactly one survivor per key, and it's the minimum under the tiebreak
    assert out == {(k, v) for k, v in expected.items()}


@_slow
@given(
    st.lists(
        st.integers(min_value=-(10**12), max_value=10**12),
        min_size=1,
        max_size=60,
        unique=True,
    )
)
def test_ranged_keygen_equals_global_rank(spark, keys):
    """with_sequential_key_ranged must assign EXACTLY the global
    1..N rank by key — for arbitrary unique numeric key sets, including
    negatives, extremes, singletons, and heavy range skew."""
    from logistream_data_pipeline_aws_spark.functions.keys import (
        with_sequential_key_ranged,
    )

    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    got = {
        r.k: r.seq for r in with_sequential_key_ranged(df, "seq", "k", n_buckets=7).collect()
    }
    want = {k: i + 1 for i, k in enumerate(sorted(keys))}
    assert got == want


@_slow
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),   # bucket
            st.integers(min_value=0, max_value=25),  # doc id
        ),
        min_size=1,
        max_size=60,
    )
)
@example(rows=[(0, 0), (0, 0), (0, 0), (0, 0), (0, 1)])  # duplicate (band, id) rows
def test_capped_bucket_pairs_equals_uncapped_restricted(spark, rows):
    """capped_bucket_pairs must equal the uncapped pair expansion
    restricted to buckets of size 2..cap — for arbitrary bucket shapes,
    including duplicates, singletons, and every-doc-in-one-bucket."""
    from collections import defaultdict

    from logistream_data_pipeline_aws_spark.operators.dedup_family import (
        capped_bucket_pairs,
    )

    df = spark.createDataFrame([(f"b{b}", i) for b, i in rows], ["band", "doc_id"])
    cap = 4
    got = {
        (r.id_a, r.id_b)
        for r in capped_bucket_pairs(
            df, "band", "doc_id", max_bucket_size=cap
        ).collect()
    }
    buckets = defaultdict(set)
    for b, i in rows:
        buckets[b].add(i)
    want = set()
    for ids in buckets.values():
        if 2 <= len(ids) <= cap:
            s = sorted(ids)
            want.update((s[x], s[y]) for x in range(len(s)) for y in range(x + 1, len(s)))
    assert got == want


@_slow
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),  # user
            st.integers(min_value=0, max_value=50),  # ts offset (seconds)
            st.sampled_from(["A", "B", None]),  # state (NULL is a state)
        ),
        min_size=1,
        max_size=30,
    )
)
def test_scd2_history_invariants(spark, rows):
    """For arbitrary change feeds: per-user intervals chain without gaps
    (effective_to == next effective_from), exactly one open (current)
    interval per user, n_events sums to the feed size, and adjacent
    intervals never share a state (null-safe)."""
    from logistream_data_pipeline_aws_spark.operators.dimensions import scd2_history

    data = [
        (i, datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=off), u, s)
        for i, (u, off, s) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "event_id long, ts timestamp, user_id long, state string"
    )
    out = sorted(
        scd2_history(df, "user_id", "state", "ts", "event_id").collect(),
        key=lambda r: (r.user_id, r.version),
    )
    assert sum(r.n_events for r in out) == len(rows)
    by_user: dict = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    assert set(by_user) == {u for u, _, _ in rows}
    for intervals in by_user.values():
        assert [r.version for r in intervals] == list(range(1, len(intervals) + 1))
        assert sum(1 for r in intervals if r.is_current) == 1
        assert intervals[-1].is_current and intervals[-1].effective_to is None
        for a, b in zip(intervals, intervals[1:]):
            assert a.effective_to == b.effective_from
            assert a.state != b.state or (a.state is None) != (b.state is None)


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=(1 << 16) - 1),
            st.integers(min_value=0, max_value=(1 << 16) - 1),
        ),
        min_size=1,
        max_size=20,
        unique=True,
    )
)
@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_zorder_key_property(spark, pts):
    """zorder_key == the textbook Morton interleave for arbitrary 16-bit
    points, stays within 32 bits, and is injective on distinct points."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from logistream_data_pipeline_aws_spark.functions.keys import zorder_key

    def morton(x: int, y: int) -> int:
        out = 0
        for i in range(16):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    df = spark.createDataFrame([Row(x=x, y=y) for x, y in pts])
    got = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", zorder_key(F.col("x"), F.col("y")).alias("z")).collect()
    }
    for x, y in pts:
        assert got[(x, y)] == morton(x, y)
        assert 0 <= got[(x, y)] < (1 << 32)
    assert len(set(got.values())) == len(pts)


@_slow
@given(
    st.lists(
        # docs drawn from a tiny vocabulary so near-dups actually occur
        st.lists(st.sampled_from("abcdefg"), min_size=0, max_size=12),
        min_size=2,
        max_size=14,
    )
)
def test_prefix_filter_recall_is_exact(spark, wordlists):
    """The PPJoin guarantee, property-tested: for ANY corpus, the
    prefix-filtered join finds exactly the pairs whose shingle-set
    jaccard clears the threshold — no missed pair (the LSH failure
    mode), no phantom pair."""
    from logistream_data_pipeline_aws_spark.operators.dedup_family import (
        prefix_filter_pairs,
    )

    k, t = 2, 0.4
    texts = {i: " ".join(ws) for i, ws in enumerate(wordlists)}
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b)
        for r in prefix_filter_pairs(
            df, "doc_id", "text", threshold=t, k_shingle=k
        ).collect()
    }

    def shingles(s):
        w = s.split()
        return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}

    expect = set()
    for i in texts:
        for j in texts:
            if i < j:
                a, b = shingles(texts[i]), shingles(texts[j])
                if a and b and round(len(a & b) / len(a | b), 6) >= t:
                    expect.add((i, j))
    assert got == expect


@_slow
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=86_399),      # second of day
            st.integers(min_value=0, max_value=30_000),      # value in cents
        ),
        min_size=2,
        max_size=25,
        unique_by=lambda r: r[0],
    )
)
def test_twap_matches_brute_force(spark, ticks):
    """TWAP against an exact-fraction python reference: same intervals,
    same weights, same closing division."""
    import datetime as dt
    from decimal import Decimal

    import logistream_data_pipeline_aws_spark.catalog as C
    from logistream_data_pipeline_aws_spark.plans import extensions as X
    from pyspark.sql import types as T

    base = dt.datetime(2024, 3, 1)
    rows = [
        (i, base + dt.timedelta(seconds=s), 1, "a", c / 100.0)
        for i, (s, c) in enumerate(ticks)
    ]
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
    orig = C.load_table
    try:
        C.load_table = lambda spark, name, sf_dir: events  # noqa: ARG005
        X.load_table = C.load_table
        out = X.events_twap(spark, "unused").collect()
    finally:
        C.load_table = orig
        X.load_table = orig
    assert len(out) == 1
    r = out[0]
    ordered = sorted(ticks)
    ws = Decimal(0)
    sd = 0
    for (s1, c1), (s2, _) in zip(ordered, ordered[1:]):
        dt_us = (s2 - s1) * 1_000_000
        # the engine casts the double value to DECIMAL(18,2); mirror that
        v = Decimal(c1 / 100.0).quantize(Decimal("0.01"))
        ws += v * dt_us
        sd += dt_us
    assert r.n_intervals == len(ordered) - 1
    assert r.span_us == sd
    assert r.twap == float(ws) / sd


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.one_of(
            # merge: list of (key, order, payload)
            st.tuples(
                st.just("merge"),
                st.lists(
                    st.tuples(
                        st.integers(min_value=0, max_value=9),
                        st.integers(min_value=0, max_value=50),
                        st.integers(min_value=-99, max_value=99),
                    ),
                    min_size=1,
                    max_size=6,
                ),
            ),
            # delete: key set
            st.tuples(
                st.just("delete"),
                st.lists(st.integers(min_value=0, max_value=9),
                         min_size=1, max_size=4),
            ),
            st.tuples(st.just("compact"), st.just(None)),
            st.tuples(st.just("vacuum"), st.just(None)),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_upsert_protocol_matches_model(spark, tmp_path_factory, ops):
    """Model-based fuzz of the whole upsert protocol: any interleaving of
    merge / delete / compact / vacuum must keep the committed snapshot
    equal to a dict model (argmax per key by (order, payload)), and every
    retained archived version must replay its historical model state."""
    from logistream_data_pipeline_aws_spark.streaming import pipeline as P

    path = str(tmp_path_factory.mktemp("upsert_model") / "t")
    model: dict[int, tuple[int, int]] = {}
    history: list[dict[int, tuple[int, int]]] = []  # index = version - 1

    def snap(version=None):
        df = P.read_upsert_table(spark, path, version=version)
        if df is None:
            return {}
        return {r.k: (r.o, r.p) for r in df.collect()}

    for op, arg in ops:
        if op == "merge":
            batch = spark.createDataFrame(arg, "k long, o long, p long")
            P.merge_upsert_batch(
                batch, path, key_cols=["k"], order_cols=["o", "p"],
                retention=3,
            )
            for k, o, p in arg:
                if k not in model or (o, p) > model[k]:
                    model[k] = (o, p)
            history.append(dict(model))
        elif op == "delete":
            if not model:
                continue
            keys = spark.createDataFrame([(k,) for k in arg], "k long")
            P.delete_upsert_keys(spark, path, keys, key_cols=["k"])
            before = dict(model)
            for k in arg:
                model.pop(k, None)
            if model != before:  # a no-hit delete publishes nothing
                history.append(dict(model))
        elif op == "compact":
            if P.compact_upsert_table(spark, path) is not None:
                history.append(dict(model))
        elif op == "vacuum":
            P.vacuum_upsert_table(path)
        assert snap() == model
    # retained archived versions replay their historical states
    if history:
        current = len(history)
        retention = 3
        for v in range(max(1, current - retention), current + 1):
            assert snap(version=v) == history[v - 1], f"version {v}"


@_slow
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=24),
            st.integers(min_value=0, max_value=24),
        ),
        min_size=0,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """The pointer-doubling rework must label every random graph exactly
    like a reference union-find: cluster_id = min node id of the
    component, for all nodes 0..24 (guards the hook/jump shortcutting —
    a wrong jump would surface as a cross-component label)."""
    from logistream_data_pipeline_aws_spark.operators.dedup_family import (
        connected_components,
    )

    n = 25
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {}
    for v in range(n):
        root = find(v)
        expected[v] = min(u for u in range(n) if find(u) == root)

    nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    e = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], ["id_a", "id_b"]
    )
    got = {
        r.id: r.cluster_id
        for r in connected_components(nodes, e, max_iters=20).collect()
    }
    assert got == expected
    # both strategies must agree: force the distributed loop too (the
    # default above takes the gate-bounded driver union-find path)
    got_loop = {
        r.id: r.cluster_id
        for r in connected_components(
            nodes, e, max_iters=20, driver_path_max_edges=0
        ).collect()
    }
    assert got_loop == expected


@_slow
@given(
    st.lists(
        st.text(alphabet="ab", min_size=0, max_size=30),
        min_size=2,
        max_size=6,
    )
)
def test_doc_substring_spans_matches_bruteforce(spark, tmp_path_factory, texts):
    """Diagonal-run span assembly equals a brute-force reference: for
    every document pair, group matched k-gram positions by diagonal,
    split runs on position gaps, keep pairs whose longest span clears
    the threshold.  Tiny alphabet forces heavy gram collisions —
    exactly the regime where run assembly can go wrong."""
    import collections

    from pyspark.sql import functions as F

    from logistream_data_pipeline_aws_spark.plans import extensions as X

    k, min_span = 3, 5
    d = tmp_path_factory.mktemp("spanprop")
    docs = [(i, t) for i, t in enumerate(texts)]
    spark.createDataFrame(
        docs, ["doc_id", "text"]
    ).withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("s")
    ).withColumn("n_chars", F.length("text").cast("long")).write.mode(
        "overwrite"
    ).parquet(str(d / "documents.parquet"))

    # brute-force reference (no frequency gates at this scale: set the
    # caps high enough that nothing drops)
    grams = collections.defaultdict(list)
    for i, t in docs:
        for p in range(1, len(t) - k + 2):
            grams[t[p - 1 : p - 1 + k]].append((i, p))
    expected = {}
    matches = collections.defaultdict(list)
    for occ in grams.values():
        for ai in range(len(occ)):
            for bi in range(len(occ)):
                (da, pa), (db, pb) = occ[ai], occ[bi]
                if da < db:
                    matches[(da, db, pa - pb)].append(pa)
    spans = collections.defaultdict(list)
    for (da, db, _diag), pas in matches.items():
        pas.sort()
        start = prev = pas[0]
        for p in pas[1:]:
            if p != prev + 1:
                spans[(da, db)].append(prev + k - 1 - start + 1)
                start = p
            prev = p
        spans[(da, db)].append(prev + k - 1 - start + 1)
    for pair, lens in spans.items():
        if max(lens) >= min_span:
            expected[pair] = (len(lens), max(lens), sum(lens))

    got = {
        (r.doc_a, r.doc_b): (r.n_spans, r.longest_span, r.total_span_chars)
        for r in X.doc_substring_spans(
            spark,
            str(d),
            k=k,
            min_span=min_span,
            max_gram_docs=10_000,
            max_gram_occurrences=100_000,
        ).collect()
    }
    assert got == expected



def _path(n):
    return [(i, i + 1) for i in range(n - 1)]


def _hindex_round_reference(adj, c):
    """One h-index round, the plain loop: each node takes the h-index of
    its neighbours' values, capped by its own value."""
    out = {}
    for v, nbrs in adj.items():
        vals = sorted((c[u] for u in nbrs), reverse=True)
        h = max(min(rank, x) for rank, x in enumerate(vals, 1))
        out[v] = min(c[v], h)
    return out


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-20, max_value=20),
            st.integers(min_value=-20, max_value=20),
        ),
        max_size=80,
    ),
    st.integers(min_value=0, max_value=12),
)
@example(edges=[(1, 2)], rounds=1)  # a single edge
@example(edges=[(0, i) for i in range(1, 8)], rounds=1)  # a star
@example(edges=_path(50), rounds=2)  # 2 rounds are far from the fixpoint
@example(edges=[], rounds=3)  # no edges at all
def test_kcore_hindex_matches_reference_and_core_number(edges, rounds):
    """``graph_kcore``'s driver-side h-index rounds (pure numpy, no Spark
    session): after every round up to ``rounds`` the values equal the
    plain-loop reference, lie between the degree and the true coreness
    and never rise; the probe flag says whether one more round would
    move nothing; run to the fixpoint they give
    ``networkx.core_number``."""
    import networkx as nx
    import numpy as np

    from logistream_data_pipeline_aws_spark.plans.extensions import _kcore_hindex

    pairs = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    pa = np.array([a for a, _ in pairs], dtype=np.int64)
    pb = np.array([b for _, b in pairs], dtype=np.int64)
    g = nx.Graph(pairs)
    core = nx.core_number(g)
    adj = {v: list(g.adj[v]) for v in g}

    node, degree, c, converged = _kcore_hindex(pa, pb, 10_000, probe=False)
    assert converged
    assert dict(zip(node.tolist(), c.tolist())) == core
    assert dict(zip(node.tolist(), degree.tolist())) == dict(g.degree())

    ref = dict(g.degree())
    for r in range(rounds + 1):
        _n, _d, c, converged = _kcore_hindex(pa, pb, r, probe=True)
        got = dict(zip(node.tolist(), c.tolist()))
        assert got == ref
        assert all(g.degree(v) >= x >= core[v] for v, x in got.items())
        nxt = _hindex_round_reference(adj, ref)
        assert converged == (nxt == ref)
        assert all(nxt[v] <= ref[v] for v in ref)
        ref = nxt
    if edges == _path(50):
        assert not converged  # the path needs ~25 rounds
