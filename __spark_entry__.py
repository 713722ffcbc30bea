"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship fact-assembly pipeline at sf0.001;
``queries()`` maps every implemented SURVEY §2 operator to a (spark,
sf_dir) -> DataFrame callable; ``oracle_sql()`` gives the DuckDB-equivalent
ANSI SQL.  Column names and types are aligned on both sides; money sums go
through DECIMAL(18,2) so they are order-independent (see
logistream_data_pipeline_aws_spark.plans.analytics).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# the engine package lives next to this file; make the import robust to
# whatever working directory / import mechanism the driver uses
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from logistream_data_pipeline_aws_spark.plans import analytics as A
from logistream_data_pipeline_aws_spark.plans import extensions as X
from logistream_data_pipeline_aws_spark.plans import sql_views as V
from logistream_data_pipeline_aws_spark.plans import warehouse as W
from logistream_data_pipeline_aws_spark.sources import metadata_dictionary as MDI


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full fact key pipeline (dims built in-plan, 5-way
    broadcast lookup join) on sf0.001."""
    return W.fact_lineitem(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------

_REVENUE_SQL = "l_extendedprice * (1.0 - l_discount)"


def _dsum(expr: str, alias: str, scale: int = 6) -> str:
    # Scale 6 makes the double->decimal cast exact for every derived money
    # measure (2dp x 2dp x 2dp), so Spark and DuckDB sums are bit-identical.
    return f"CAST(SUM(CAST({expr} AS DECIMAL(30,{scale}))) AS DOUBLE) AS {alias}"


# CTE fragments reused by several oracles (must mirror plans/warehouse.py
# exactly: same dedup, same ORDER BY for row_number key assignment).
_BRANDS_CTE = (
    "brands AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY brand_name) AS BIGINT) AS brand_key, brand_name "
    "FROM (SELECT DISTINCT p_brand AS brand_name FROM part))"
)
_TYPES_CTE = (
    # null-safe parent join (IS NOT DISTINCT FROM): a NULL brand is a
    # keyed dim member on both engines, mirroring the Spark side's
    # eqNullSafe hierarchy join
    "types AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY t.type_name, t.brand_name) AS BIGINT) AS type_key, "
    "t.type_name, t.brand_name, b.brand_key "
    "FROM (SELECT DISTINCT p_type AS type_name, p_brand AS brand_name FROM part) t "
    "LEFT JOIN brands b ON t.brand_name IS NOT DISTINCT FROM b.brand_name)"
)
_STATUS_CTE = (
    "status AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY order_status, order_priority, return_flag) AS BIGINT) AS status_key, "
    "order_status, order_priority, return_flag "
    "FROM (SELECT DISTINCT UPPER(TRIM(o.o_orderstatus)) AS order_status, "
    "UPPER(TRIM(o.o_orderpriority)) AS order_priority, UPPER(TRIM(l.l_returnflag)) AS return_flag "
    "FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey))"
)


def _kmeans_oracle(k: int = 4, iters: int = 2) -> str:
    """Unrolled Lloyd-iteration replay of operators.similarity
    .ivf_kmeans_assign: identical left-fold distance order (list_reduce
    == F.aggregate), identical decimal-sum means, identical (d2, cid)
    argmin tie-break — so the iterative index build is hash-exact, not
    rows-only."""

    def d2(v: str, c: str) -> str:
        diffs = (
            f"list_transform(list_zip({v}, {c}), "
            "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
            "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))"
        )
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {diffs}), "
            "(u, v2) -> u + v2)"
        )

    def assign(name: str, cents: str) -> str:
        return (
            f"{name} AS (SELECT vid, vv, cid, d2 FROM ("
            "SELECT vid, vv, cid, d2, "
            "ROW_NUMBER() OVER (PARTITION BY vid ORDER BY d2, cid) AS rn "
            f"FROM (SELECT v.vid, v.vv, c.cid, {d2('v.vv', 'c.cv')} AS d2 "
            f"FROM v CROSS JOIN {cents} c)) WHERE rn = 1)"
        )

    sql = (
        "WITH v AS (SELECT vec_id AS vid, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv "
        "FROM embeddings WHERE embedding IS NOT NULL), "
        f"c0 AS (SELECT CAST(vid AS INT) AS cid, vv AS cv FROM v WHERE vid < {k})"
    )
    prev = "c0"
    for i in range(1, iters + 1):
        sql += ", " + assign(f"a{i}", prev)
        sql += (
            f", m{i} AS (SELECT cid, pos, "
            "CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS m "
            f"FROM (SELECT cid, unnest(vv) AS x, "
            f"unnest(range(1, len(vv) + 1)) AS pos FROM a{i}) GROUP BY cid, pos)"
            f", c{i} AS (SELECT cid, list(m ORDER BY pos) AS cv FROM m{i} GROUP BY cid)"
        )
        prev = f"c{i}"
    sql += ", " + assign("afinal", prev)
    return (
        sql
        + " SELECT vid AS vec_id, list_id, ROUND(d2, 6) AS dist2 "
        "FROM (SELECT vid, CAST(cid AS INT) AS list_id, d2 FROM afinal)"
    )


def _kcenter_oracle(k: int = 8) -> str:
    """Unrolled greedy k-center replay of operators.similarity
    .kcenter_coreset (built + pinned in r12, REGISTERED at the r13
    rotation as corpus_coreset_kcenter): seed = min vec_id, each round argmax of the
    running min-distance with (dmin DESC, vid) tie-break, identical
    left-fold distances, final assignment with (d2, round) argmin —
    hash-exact against the Spark plan."""

    def d2(v: str, c: str) -> str:
        diffs = (
            f"list_transform(list_zip({v}, {c}), "
            "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
            "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))"
        )
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {diffs}), "
            "(u, v2) -> u + v2)"
        )

    sql = (
        "WITH v AS (SELECT vec_id AS vid, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv "
        "FROM embeddings WHERE embedding IS NOT NULL), "
        "c0 AS (SELECT vid, vv FROM v ORDER BY vid LIMIT 1), "
        f"d0 AS (SELECT v.vid, v.vv, {d2('v.vv', 'c.vv')} AS dmin "
        "FROM v CROSS JOIN c0 c)"
    )
    for r in range(1, k):
        sql += (
            f", c{r} AS (SELECT vid, vv FROM d{r-1} "
            "ORDER BY dmin DESC, vid LIMIT 1)"
            f", d{r} AS (SELECT d.vid, d.vv, "
            f"LEAST(d.dmin, {d2('d.vv', 'c.vv')}) AS dmin "
            f"FROM d{r-1} d CROSS JOIN c{r} c)"
        )
    cents = " UNION ALL ".join(
        f"SELECT {r} AS rnd, vid AS cvid, vv AS cv FROM c{r}"
        for r in range(k)
    )
    return (
        sql
        + f", cents AS ({cents}), "
        f"scored AS (SELECT v.vid, c.rnd, c.cvid, {d2('v.vv', 'c.cv')} AS d2 "
        "FROM v CROSS JOIN cents c), "
        "best AS (SELECT vid, rnd, cvid, d2, ROW_NUMBER() OVER "
        "(PARTITION BY vid ORDER BY d2, rnd) AS rn FROM scored) "
        "SELECT vid AS vec_id, cvid AS center_id, "
        "CAST(rnd AS INT) AS center_round, ROUND(d2, 6) AS dist2 "
        "FROM best WHERE rn = 1"
    )


def _pagerank_oracle(iters: int = 2) -> str:
    """Unrolled synchronous-PageRank replay of plans.extensions
    .supplier_pagerank: DECIMAL(38,18) contribution sums (exact,
    order-independent) recombined in double — hash-exact scores."""

    def push(i: int, frm: str, to: str, scores: str, deg: str) -> str:
        return (
            f"r{to}{i} AS (SELECT e.{to} AS {to}, "
            f"0.15 + 0.85 * CAST(SUM(CAST(r.r / d.deg_{frm} AS DECIMAL(38,18))) AS DOUBLE) AS r "
            f"FROM e JOIN {scores} r ON e.{frm} = r.{frm} "
            f"JOIN d{frm} d ON e.{frm} = d.{frm} GROUP BY e.{to})"
        )

    sql = (
        "WITH e AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey), "
        "dc AS (SELECT c, COUNT(*) AS deg_c FROM e GROUP BY c), "
        "ds AS (SELECT s, COUNT(*) AS deg_s FROM e GROUP BY s), "
        "rc0 AS (SELECT c, CAST(1.0 AS DOUBLE) AS r FROM dc), "
        "rs0 AS (SELECT s, CAST(1.0 AS DOUBLE) AS r FROM ds)"
    )
    for i in range(1, iters + 1):
        sql += ", " + push(i, "c", "s", f"rc{i-1}", "dc")
        sql += ", " + push(i, "s", "c", f"rs{i-1}", "ds")
    return (
        sql
        + f" SELECT 'C' AS node_type, c AS node_id, ROUND(r, 6) AS score FROM rc{iters}"
        f" UNION ALL SELECT 'S' AS node_type, s AS node_id, ROUND(r, 6) AS score FROM rs{iters}"
    )


def _pq_oracle(
    m: int = 4, k: int = 8, iters: int = 2, dim: int = 64,
    nq: int = 3, ktop: int = 10, refine: int | None = None,
) -> str:
    """Unrolled replay of operators.similarity.pq_codes + pq_adc_topk:
    per-subspace Lloyd training (the `_kmeans_oracle` machinery with the
    subspace id riding as a grouping key), code assignment, and ADC
    scoring with DECIMAL(30,8) partial-subdistance sums — hash-exact
    including the top-k cut, because the ranking key is the exact
    decimal sum on both engines.  ``refine=k_shortlist`` appends the
    pq_refine_topk stage: shortlist by ADC rank, exact left-fold d2
    against the raw vectors (the similarity_topk fold — bit-identical
    cross-engine), re-rank, top ``ktop``."""
    sub = dim // m

    def d2(v: str, c: str) -> str:
        diffs = (
            f"list_transform(list_zip({v}, {c}), "
            "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
            "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))"
        )
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {diffs}), "
            "(u, v2) -> u + v2)"
        )

    def assign(name: str, cents: str) -> str:
        return (
            f"{name} AS (SELECT vid, sid, sv, cid, d2 FROM ("
            "SELECT vid, sid, sv, cid, d2, "
            "ROW_NUMBER() OVER (PARTITION BY vid, sid ORDER BY d2, cid) AS rn "
            f"FROM (SELECT p.vid, p.sid, p.sv, c.cid, {d2('p.sv', 'c.cv')} AS d2 "
            f"FROM p JOIN {cents} c ON p.sid = c.sid)) WHERE rn = 1)"
        )

    sql = (
        "WITH v AS (SELECT vec_id AS vid, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv "
        "FROM embeddings WHERE embedding IS NOT NULL), "
        "p AS (SELECT vid, CAST(s.sid AS INT) AS sid, "
        f"vv[(s.sid * {sub} + 1):(s.sid * {sub} + {sub})] AS sv "
        f"FROM v CROSS JOIN (SELECT unnest(range(0, {m})) AS sid) s), "
        f"c0 AS (SELECT sid, CAST(vid AS INT) AS cid, sv AS cv FROM p WHERE vid < {k})"
    )
    prev = "c0"
    for i in range(1, iters + 1):
        sql += ", " + assign(f"a{i}", prev)
        sql += (
            f", m{i} AS (SELECT sid, cid, pos, "
            "CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS mu "
            f"FROM (SELECT sid, cid, unnest(sv) AS x, "
            f"unnest(range(1, len(sv) + 1)) AS pos FROM a{i}) GROUP BY sid, cid, pos)"
            f", c{i} AS (SELECT sid, cid, list(mu ORDER BY pos) AS cv FROM m{i} GROUP BY sid, cid)"
        )
        prev = f"c{i}"
    sql += ", " + assign("codes", prev)
    sql += (
        f", q AS (SELECT vid AS qid, sid, sv AS qv FROM p WHERE vid < {nq})"
        f", dtab AS (SELECT q.qid, c.sid, c.cid, "
        f"CAST({d2('q.qv', 'c.cv')} AS DECIMAL(30,8)) AS pd2 "
        f"FROM q JOIN {prev} c ON q.sid = c.sid)"
        ", scored AS (SELECT d.qid, kk.vid, SUM(d.pd2) AS s "
        "FROM codes kk JOIN dtab d ON kk.sid = d.sid AND kk.cid = d.cid "
        "WHERE d.qid <> kk.vid GROUP BY d.qid, kk.vid)"
    )
    if refine is None:
        return (
            sql
            + " SELECT qid AS query_id, vid AS candidate_id, "
            "ROUND(CAST(s AS DOUBLE), 6) AS approx_d2, rank "
            "FROM (SELECT qid, vid, s, CAST(ROW_NUMBER() OVER "
            "(PARTITION BY qid ORDER BY s, vid) AS INT) AS rank FROM scored) "
            f"WHERE rank <= {ktop}"
        )
    return (
        sql
        + f", short AS (SELECT qid, vid FROM (SELECT qid, vid, "
        "ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s, vid) AS arnk "
        f"FROM scored) WHERE arnk <= {refine})"
        f", ex AS (SELECT sh.qid, sh.vid, {d2('qv.vv', 'cv.vv')} AS ed2 "
        "FROM short sh JOIN v qv ON qv.vid = sh.qid "
        "JOIN v cv ON cv.vid = sh.vid)"
        " SELECT qid AS query_id, vid AS candidate_id, "
        "ROUND(ed2, 6) AS exact_d2, rank "
        "FROM (SELECT qid, vid, ed2, CAST(ROW_NUMBER() OVER "
        "(PARTITION BY qid ORDER BY ed2, vid) AS INT) AS rank FROM ex) "
        f"WHERE rank <= {ktop}"
    )


def _ivf_incremental_oracle(k: int = 8, iters: int = 2, split: int = 100) -> str:
    """Unrolled replay of operators.similarity.ivf_incremental_assign:
    the `_kmeans_oracle` machinery with the v CTE split into base
    (training, ``vec_id >= split``) and shard (final assign only,
    ``vec_id < split``), seeds = the k smallest BASE ids by rank —
    centroids train on the existing corpus and the ingest shard is
    assigned without retraining (plans/extensions.py
    similarity_ivf_incremental docstring)."""

    def d2(v: str, c: str) -> str:
        diffs = (
            f"list_transform(list_zip({v}, {c}), "
            "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
            "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))"
        )
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {diffs}), "
            "(u, v2) -> u + v2)"
        )

    def assign(name: str, src: str, cents: str) -> str:
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
        "(SELECT vv, ROW_NUMBER() OVER (ORDER BY vid) AS rn FROM b) "
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
    return (
        sql
        + " SELECT vid AS vec_id, CAST(cid AS INT) AS list_id, "
        "ROUND(d2, 6) AS dist2 FROM afinal"
    )


def _semantic_oracle(k: int = 8, iters: int = 2) -> str:
    """Replay of plans.extensions.dedup_semantic: the `_kmeans_oracle`
    assignment CTEs (cluster = blocking key), the 2..1024 cluster-size
    bound, within-cluster exact-cosine pair mining at round(cos,6) >=
    0.4, then the symmetric-closure / min-reach recursion (the
    `_CLUSTERS_CTE_PREFIX` shape) — min reachable id = semantic group,
    min member keeps."""
    km = _kmeans_oracle(k, iters)
    return (
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
    )


def _ivf_pq_oracle(
    n_lists: int = 8,
    nprobe: int = 2,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    nq: int = 3,
    ktop: int = 10,
) -> str:
    """Replay of plans.extensions.similarity_ivf_pq (operator
    operators/pq.py::ivf_pq_topk): coarse `_kmeans_oracle`-style Lloyd
    over the full corpus (k = n_lists, first-n seeding), a rank<=nprobe
    probe CTE for the query vectors, the `_pq_oracle` train/encode/dtab
    machinery (pc-prefixed), candidates = vectors assigned to probed
    lists, ADC sums as DECIMAL(30,8), top-ktop by (distance, vid).
    Identical to the literal replay pinned in
    tests/test_extensions.py::test_similarity_ivf_pq_matches_oracle."""
    sub = dim // m

    def d2(v: str, c: str) -> str:
        diffs = (
            f"list_transform(list_zip({v}, {c}), "
            "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
            "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))"
        )
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {diffs}), "
            "(u, v2) -> u + v2)"
        )

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
    return sql


def _metadata_dictionary_oracle() -> str:
    """The dictionary literal (sources/metadata_dictionary.py, derived
    from the reference's crawled 58-field data dictionary, MD:2-59) as a
    VALUES relation with the same name-derived profile expressions."""
    rows = ", ".join(
        f"(CAST({ordv} AS BIGINT), '{name}', CAST({wc} AS BIGINT), '{md5}')"
        for ordv, name, wc, md5 in MDI.METADATA_DICTIONARY_ROWS
    )
    return (
        "WITH d(field_ord, field_name, desc_words, desc_md5) AS "
        f"(VALUES {rows}) "
        "SELECT field_ord, field_name, "
        "CAST(len(string_split(field_name, '_')) AS BIGINT) AS name_tokens, "
        "list_contains(string_split(field_name, '_'), 'id') AS is_id_field, "
        "desc_words, desc_md5 FROM d"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT (see COVERAGE.md "driver verification rotation"):
    # the driver's oracle gate records the FIRST ~50 dict entries per
    # round.  Entries most in need of a hard signal go first
    # (never-verified, changed this round, or stalest green row);
    # digest-stable verified entries rotate to the tail, where
    # tests/test_rotation_ledger.py pins their transitive implementation
    # digest to the manifest recorded at their last green round — a
    # changed tail entry fails CI until rotated back into the head.
    return {
    # ==== HEAD WINDOW (the driver records the first ~50) =============
    # 39 slots hold the entries whose digests the fixed-point loop
    # driver drifted (operators/fixed_point.py took over the lineage
    # cuts and block release of operators/dedup_family.py,
    # graph_kcore and supplier_pagerank) together with the
    # with_sequential_key docstring fix.  See COVERAGE.md "Fixed-point
    # driver rotation".  corpus_quality_filter joined group 0 when it
    # and corpus_gopher_rules became Arrow kernels; see COVERAGE.md
    # "Arrow curation kernel rotation".
    # -- group 0: drifted tail entries, entering the head -------------
        "corpus_quality_filter": X.corpus_quality_filter,
        "dim_junk_status": W.dim_junk_status,
        "dim_region": W.dim_region,
        "dim_geography": W.dim_geography,
    # -- group 1: drifted entries already in the head ----------------
        "orders_zorder_clustering": X.orders_zorder_clustering,
        "supplier_pagerank": X.supplier_pagerank,
        "fact_date_slice": X.fact_date_slice,
        "dim_product": W.dim_product,
        "dim_product_type": W.dim_product_type,
        "dim_brand": W.dim_brand,
        "fact_lineitem": W.fact_lineitem,
        "fact_lineitem_bucketed": W.fact_lineitem_bucketed,
        "dedup_minhash_staged": X.dedup_minhash_staged,
        "doc_bigram_score_staged": X.doc_bigram_score_staged,
        "corpus_dsir_weights_staged": X.corpus_dsir_weights_staged,
        "bm25_topk_staged": X.bm25_topk_staged,
        "doc_substring_spans": X.doc_substring_spans,
        "doc_substring_dedup": X.doc_substring_dedup,
        "doc_substring_dedup_staged": X.doc_substring_dedup_staged,
        "corpus_dedup_pipeline": X.corpus_dedup_pipeline,
        "graph_kcore": X.graph_kcore,
        "corpus_gopher_rules": X.corpus_gopher_rules,
        "dedup_semantic": X.dedup_semantic_k8,
        "dedup_exact": X.dedup_exact,
        "dedup_survivors": X.dedup_survivors,
        "dedup_dropped": X.dedup_dropped,
        "dedup_fuzzy_levenshtein": X.dedup_fuzzy_levenshtein,
        "dedup_ngram_jaccard": X.dedup_ngram_jaccard,
        "dedup_prefix_filter": X.dedup_prefix_filter,
        "dedup_simhash": X.dedup_simhash,
        "dedup_simhash_pairs": X.dedup_simhash_pairs,
        "doc_repetition": X.doc_repetition,
        "doc_winnowing": X.doc_winnowing,
        "doc_winnow_pairs": X.doc_winnow_pairs,
        "contamination_check": X.contamination_check,
        "dedup_clusters": X.dedup_clusters,
        "dedup_near_survivors": X.dedup_near_survivors,
        "dedup_incremental_ingest": X.dedup_incremental_ingest,
        "dedup_embedding": X.dedup_embedding,
        "dedup_minhash_lsh": X.dedup_minhash_lsh,
    # -- group 2: unchanged since the staging rotation's green rows ---
        "doc_bigram_score": X.doc_bigram_score,
        "corpus_dsir_weights": X.corpus_dsir_weights,
        "scd2_daily_snapshot": X.scd2_daily_snapshot,
        "warehouse_orc_readback": X.warehouse_orc_readback,
        "scd2_user_state": X.scd2_user_state,
        "dim_customer": W.dim_customer,
        "bm25_topk": X.bm25_topk,
        "fact_write_readback": X.fact_write_readback,
        "events_upsert_delete": X.events_upsert_delete,
        "events_upsert_changes": X.events_upsert_changes,
    # ===== ~50-entry driver window boundary.  Everything below is
    #    tail: digest-pinned since its green row
    #    (tests/test_rotation_ledger.py), stalest first; the unchanged
    #    entries the staging and fixed-point rotations displaced from
    #    the head close the tail.  The two sketch-only prod twins and
    #    sql_profit_by_hierarchy stay deregistered (bench.py +
    #    tests/test_prod_twins.py pins).
    # ==================================================================
        "media_image_features": X.media_image_features,
        "bpe_encode_stats": X.bpe_encode_stats,
        "events_conversion_lag": X.events_conversion_lag,
        "customer_rfm_scores_approx": A.customer_rfm_scores_approx_checked,
        "events_salted_user_stats": X.events_salted_user_stats,
        "sales_forecast_ses": X.sales_forecast_ses,
        "events_stickiness_hll": X.events_stickiness_hll,
        "tfidf_top_terms": X.tfidf_top_terms,
        "doc_fingerprints": X.doc_fingerprints,
        "lang_id": X.lang_id,
        "text_stats": X.text_stats,
        "doc_unigram_score": X.doc_unigram_score,
        "sales_trendline_ols": X.sales_trendline_ols,
        "embedding_outliers": X.embedding_outliers,
        "corpus_split_assignment": X.corpus_split_assignment,
        "lineitem_column_profile": X.lineitem_column_profile,
        "fact_backfill_plan": X.fact_backfill_plan,
        "events_orc_readback": X.events_orc_readback,
        "dev_sample_cap": W.dev_sample_cap,
        "top_customers": A.top_customers,
        "corpus_length_histogram": X.corpus_length_histogram,
        "sql_customer_order_distribution": V.sql_customer_order_distribution,
        "sql_orders_above_customer_avg": V.sql_orders_above_customer_avg,
        "sql_large_volume_orders": V.sql_large_volume_orders,
        "sql_disjunctive_basket": V.sql_disjunctive_basket,
        "a8_returns_by_nation": A.a8_returns_by_nation,
        "corpus_mixture_sample": X.corpus_mixture_sample,
        "dim_date": W.dim_date,
        "embedding_quantize": X.embedding_quantize,
        "events_asof_last_purchase": X.events_asof_last_purchase,
        "events_hourly": A.events_hourly,
        "events_json_kv": X.events_json_kv,
        "events_lookback_count": X.events_lookback_count,
        "events_multigrain_rollup": X.events_multigrain_rollup,
        "events_sketch_profile": X.events_sketch_profile_checked,
        "fact_bucket_profile": W.fact_bucket_profile,
        "geojson_routes": X.geojson_routes,
        "q1_pricing_summary": A.q1_pricing_summary,
        "routes_csv_readback": X.routes_csv_readback,
        "sequence_packing": X.sequence_packing,
        "user_sessions": X.user_sessions,
        "sql_cheapest_supplier": V.sql_cheapest_supplier,
        "sql_excess_suppliers": V.sql_excess_suppliers,
        "sql_forecast_revenue": V.sql_forecast_revenue,
        "sql_important_parts": V.sql_important_parts,
        "sql_priority_shipping_split": V.sql_priority_shipping_split,
        "sql_promo_revenue": V.sql_promo_revenue,
        "sql_prospect_customers": V.sql_prospect_customers,
        "sql_returned_item_losses": V.sql_returned_item_losses,
        "sql_supplier_part_variety": V.sql_supplier_part_variety,
        "sql_top_supplier": V.sql_top_supplier,
        "sql_unshipped_orders": V.sql_unshipped_orders,
        "metadata_dictionary": MDI.metadata_dictionary,
        "dedup_golden_record": X.dedup_golden_record,
        "embedding_centered": X.embedding_centered,
        "embedding_stats": X.embedding_stats,
        "similarity_ivf_kmeans": X.similarity_ivf_kmeans,
        "similarity_pq_adc": X.similarity_pq_adc,
        "similarity_pq_refine": X.similarity_pq_refine,
        "similarity_topk": X.similarity_topk,
        "similarity_ann_lsh": X.similarity_ann_lsh,
        "similarity_ann_multiprobe": X.similarity_ann_multiprobe,
        "similarity_ivf": X.similarity_ivf,
        "events_anomaly_mad": X.events_anomaly_mad,
        "events_ohlc": X.events_ohlc,
        "events_hll_mergeable_rollup": X.events_hll_mergeable_rollup,
        "events_transition_matrix": X.events_transition_matrix,
        "events_gapfill_locf": X.events_gapfill_locf,
        "events_twap": X.events_twap,
        "events_attribution": X.events_attribution,
        "basket_part_pairs": X.basket_part_pairs,
        "events_active_users": X.events_active_users,
        "events_value_binning": X.events_value_binning,
        "doc_chunking": X.doc_chunking,
        "snapshot_cdc_diff": X.snapshot_cdc_diff,
        "corpus_stratified_sample": X.corpus_stratified_sample,
        "warehouse_integrity_audit": X.warehouse_integrity_audit,
        "corpus_shard_manifest": X.corpus_shard_manifest,
        "incremental_agg_maintenance": X.incremental_agg_maintenance,
        "events_heavy_hitters": X.events_heavy_hitters,
        "events_json_readback": X.events_json_readback,
        "corpus_coreset_kcenter": X.corpus_coreset_kcenter,
        "pii_scrub_stats": X.pii_scrub_stats,
        "similarity_ivf_pq": X.similarity_ivf_pq,
        "media_audio_windows": X.media_audio_windows,
        "events_stream_upsert": X.events_stream_upsert,
        "events_stream_jdbc_upsert": X.events_stream_jdbc_upsert,
        "events_stream_jdbc_hourly": X.events_stream_jdbc_hourly,
        "events_stream_hourly": X.events_stream_hourly,
        "events_stream_dedup": X.events_stream_dedup,
        "events_stream_enriched": X.events_stream_enriched,
        "events_stream_order_shipment": X.events_stream_order_shipment,
        "events_stream_sessions": X.events_stream_sessions,
        "events_stream_sessions_flushed": X.events_stream_sessions_flushed,
        "events_stream_sliding": X.events_stream_sliding,
        "warehouse_compaction_audit": X.warehouse_compaction_audit,
        "sql_waiting_suppliers": V.sql_waiting_suppliers,
        "acctbal_window_profile": A.acctbal_window_profile,
        "lineitem_measures_unpivot": A.lineitem_measures_unpivot,
        "daily_sales_moving_avg": A.daily_sales_moving_avg,
        "events_cohort_retention": A.events_cohort_retention,
        "multimodal_meta": X.multimodal_meta,
        "media_frames": X.media_frames,
        "route_geometry_stats": X.route_geometry_stats,
        "orders_backlog_series": A.orders_backlog_series,
        "events_attribution_decayed": X.events_attribution_decayed,
        "events_funnel": A.events_funnel,
        "customer_rfm_scores": A.customer_rfm_scores,
        "events_value_quantiles": X.events_value_quantiles,
        "lineitem_column_profile_approx": X.lineitem_column_profile_approx,
        "bpe_merge_candidates": X.bpe_merge_candidates,
        "corpus_epoch_shuffle": X.corpus_epoch_shuffle,
        "corpus_mixture_plan": X.corpus_mixture_plan,
        "sql_local_supplier_volume": V.sql_local_supplier_volume,
        "sql_product_profit_by_nation_year": V.sql_product_profit_by_nation_year,
        "sql_volume_shipping": V.sql_volume_shipping,
        "sql_market_share": V.sql_market_share,
        "sql_lapsed_big_spenders": V.sql_lapsed_big_spenders,
    # -- displaced from the head by the staging rotation (unchanged) --
        "dim_route_shapes": X.dim_route_shapes,
        "corpus_domain_cap": X.corpus_domain_cap,
        "events_feature_matrix": X.events_feature_matrix,
        "similarity_recall_audit": X.similarity_recall_audit,
        "graph_triangle_count": X.graph_triangle_count,
        "repeat_customers_yoy": A.repeat_customers_yoy,
        "brand_share_within_type": A.brand_share_within_type,
        "daily_sales_range_frame": A.daily_sales_range_frame,
        "sql_small_quantity_revenue": V.sql_small_quantity_revenue,
        "a6_sales_trend_mom": A.a6_sales_trend_mom,
        "a5_profit_rollup": A.a5_profit_rollup,
        "a6_sales_trend": A.a6_sales_trend,
        "a7_schedule_adherence": A.a7_schedule_adherence,
        "cumulative_monthly_sales": A.cumulative_monthly_sales,
        "acctbal_band_join": A.acctbal_band_join,
        "customer_rank_in_nation": A.customer_rank_in_nation,
        "a5_profit_by_hierarchy": A.a5_profit_by_hierarchy,
        "a5_profit_cube": A.a5_profit_cube,
        "segment_region_pivot": A.segment_region_pivot,
        "sql_shipping_priority": V.sql_shipping_priority,
        "similarity_ivf_incremental": X.similarity_ivf_incremental,
    # -- displaced from the head by the fixed-point rotation (unchanged)
        "lineitem_abc_pareto_approx": A.lineitem_abc_pareto_approx,
        "graph_hop_distance": X.graph_hop_distance,
        "lineitem_abc_pareto": A.lineitem_abc_pareto,
    # -- displaced from the head by the Arrow kernel rotation (unchanged)
        "events_upsert_timetravel": X.events_upsert_timetravel,
    }


# -- extension oracle fragments ---------------------------------------------

_TOKENS = "string_split_regex(trim(text), '\\s+')"
# Spark's split class: Java's \s is [ \t\n\x0B\f\r], RE2's leaves out
# the vertical tab, so _TOKENS keeps 'a\x0bb' as one token where Spark
# splits it.  corpus_quality_filter and corpus_gopher_rules split on this
# class; the other _TOKENS consumers still diverge on text holding \x0b.
_TOKENS_SPARK_WS = "string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')"
# composed blocking key for the O(block²) ops — mirrors
# dedup_family.composed_block_key (lang × 64-char length bucket × source)
_BLOCK_KEY = (
    "concat_ws('|', lang, source, CAST(CAST(floor(n_chars / 64) AS BIGINT) AS VARCHAR))"
)
# distinct word 3-shingles (k=3): mirrors functions.text.word_shingles
_SHINGLES = (
    "CASE WHEN len(tk) >= 3 THEN list_distinct(list_transform(range(0, len(tk) - 2), "
    "i -> array_to_string(tk[(i+1):(i+3)], ' '))) ELSE [] END"
)
# left-fold double dot product: mirrors functions.vectors.dot
def _dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (u, v) -> u + v)"
    )


def _cosine(va: str, vb: str) -> str:
    return (
        f"CASE WHEN sqrt({_dot(va, va)}) > 0 AND sqrt({_dot(vb, vb)}) > 0 "
        f"THEN {_dot(va, vb)} / (sqrt({_dot(va, va)}) * sqrt({_dot(vb, vb)})) END"
    )


# one 40-bit md5-prefix base hash per shingle, then affine permutations
# (A_s*h + B_s) mod 2^61-1 — must mirror dedup_family._minhash_coeffs
_MINHASH_P = (1 << 61) - 1
_MINHASH_SIG = "[" + ", ".join(
    f"list_min(list_transform(hs, h -> ({2_000_003 + 4_001 * s} * h + {48_611 * s + 11}) % {_MINHASH_P}))"
    for s in range(12)
) + "]"

_BANDS = "[" + ", ".join(
    f"'{j}#' || array_to_string(sig[{j * 3 + 1}:{j * 3 + 3}], '_')" for j in range(4)
) + "]"

# pairs (a<b) from each multi-doc bucket, as in dedup_family._pairs_from_sorted_ids
_PAIRS_FROM_BUCKETS = (
    "SELECT DISTINCT p[1] AS id_a, p[2] AS id_b FROM ("
    "SELECT unnest(flatten(list_transform(ids, (x, i) -> "
    "list_transform(ids[(i+1):], y -> [x, y])))) AS p FROM buckets)"
)

_TOKEN_HASH = "('0x' || substr(md5(t), 1, 7))::BIGINT"

_SIMHASH_VOTES = ", ".join(
    f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}" for j in range(28)
)
_SIMHASH_FP = " + ".join(f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(28))

_SIMHASH_CTE = (
    "ex AS (SELECT doc_id, unnest(list_transform("
    + _TOKENS
    + f", t -> {_TOKEN_HASH})) AS h FROM documents), "
    f"v AS (SELECT doc_id, {_SIMHASH_VOTES} FROM ex GROUP BY doc_id), "
    f"fp AS (SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash FROM v)"
)

_SW = {
    "en": "['the','a','of','and','to','in','is','it','you','that']",
    "de": "['der','die','das','und','ist','ich','nicht','ein','mit','zu']",
    "es": "['el','la','de','que','y','en','un','por','con','una']",
    "fr": "['le','la','de','et','un','une','est','pour','que','dans']",
}


def _sw_hits(lang: str) -> str:
    return f"CAST(len(list_filter(tk, t -> list_contains({_SW[lang]}, lower(t)))) AS BIGINT)"


# minhash near-dup pairs -> symmetric closure -> per-node min reachable id
# (shared by the dedup_clusters and dedup_near_survivors oracles)
_CLUSTERS_CTE_PREFIX = (
    "WITH RECURSIVE pairs AS ("
    "WITH tok AS (SELECT doc_id, " + _TOKENS + " AS tk FROM documents), "
    f"sh AS (SELECT doc_id, {_SHINGLES} AS sh FROM tok), "
    "base AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0), "
    "hs AS (SELECT doc_id, sh, list_transform(sh, x -> ('0x' || substr(md5(x), 1, 10))::BIGINT) AS hs FROM base), "
    f"sig AS (SELECT doc_id, sh, {_MINHASH_SIG} AS sig FROM hs), "
    f"banded AS (SELECT doc_id, unnest({_BANDS}) AS band_hash FROM sig), "
    "buckets AS (SELECT band_hash, list_sort(list(DISTINCT doc_id)) AS ids "
    "FROM banded GROUP BY band_hash HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 1024), "
    f"cand AS ({_PAIRS_FROM_BUCKETS}) "
    "SELECT c.id_a, c.id_b FROM cand c "
    "JOIN base a ON c.id_a = a.doc_id JOIN base b ON c.id_b = b.doc_id "
    "WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / "
    "CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 6) >= 0.2"
    "), "
    "sym AS (SELECT id_a AS src, id_b AS dst FROM pairs "
    "UNION SELECT id_b, id_a FROM pairs), "
    "reach AS (SELECT src, dst FROM sym "
    "UNION SELECT reach.src, s.dst FROM reach JOIN sym s ON reach.dst = s.src), "
    "reach_min AS (SELECT src, MIN(dst) AS min_reach FROM reach GROUP BY src) "
)


def _bigram_score_oracle(docs_rel: str = "documents") -> str:
    """The doc_bigram_score DuckDB replay (round-11 oracle): same word
    regex, same bigram construction, DECIMAL(30,12)-quantized
    contributions (the doc_unigram_score ulp discipline)."""
    return (
        "WITH d AS (SELECT doc_id, text FROM "
        + docs_rel
        + " WHERE text IS NOT NULL), "
        "w AS (SELECT doc_id, list_filter(regexp_extract_all(lower(text), '[a-z]+'), "
        "t -> t <> '') AS w FROM d), "
        "bgx AS (SELECT doc_id, unnest(list_transform(range(0, len(w) - 1), "
        "i -> w[i+1] || ' ' || w[i+2])) AS bg FROM w WHERE len(w) >= 2), "
        "doc_bg AS (SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS cnt "
        "FROM bgx GROUP BY 1, 2), "
        "vocab AS (SELECT bg, CAST(SUM(cnt) AS BIGINT) AS n_bg FROM doc_bg GROUP BY 1), "
        "fw AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(SUM(n_bg) AS BIGINT) AS n_first "
        "FROM vocab GROUP BY 1), "
        "t AS (SELECT CAST(SUM(n_bg) AS BIGINT) AS n_total FROM vocab) "
        "SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams, "
        "CAST(SUM(CAST(cnt * (CAST(n_bg AS DOUBLE) / CAST(n_total AS DOUBLE)) "
        "AS DECIMAL(30,12))) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS mean_bigram_p, "
        "CAST(SUM(CAST(cnt * (CAST(n_bg AS DOUBLE) / CAST(n_first AS DOUBLE)) "
        "AS DECIMAL(30,12))) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS mean_cond_p "
        "FROM doc_bg JOIN vocab USING (bg) "
        "JOIN fw ON string_split(bg, ' ')[1] = fw.w1 "
        "CROSS JOIN t GROUP BY doc_id"
    )


def _dsir_oracle(docs_rel: str = "documents", n_buckets: int = 1024) -> str:
    """The corpus_dsir_weights DuckDB replay (round-11 oracle):
    md5-prefix bucket hashing, add-one smoothing, round(ln, 6)-anchored
    log-ratios, DECIMAL(25,10)-summed per-doc weights."""
    return (
        "WITH d AS (SELECT doc_id, lang, text FROM "
        + docs_rel
        + " WHERE text IS NOT NULL), "
        "w AS (SELECT doc_id, lang, list_filter(regexp_extract_all(lower(text), '[a-z]+'), "
        "t -> t <> '') AS w FROM d), "
        "f AS (SELECT doc_id, lang, unnest(w || CASE WHEN len(w) >= 2 THEN "
        "list_transform(range(0, len(w) - 1), i -> w[i+1] || ' ' || w[i+2]) "
        "ELSE [] END) AS feat FROM w), "
        f"b AS (SELECT doc_id, lang, ('0x' || substr(md5(feat), 1, 7))::BIGINT % {n_buckets} AS bucket FROM f), "
        "doc_b AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2), "
        "dist AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c_s, "
        "CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_t FROM b GROUP BY 1), "
        "t AS (SELECT CAST(SUM(c_s) AS BIGINT) AS n_s, CAST(SUM(c_t) AS BIGINT) AS n_t FROM dist), "
        "lrs AS (SELECT bucket, ROUND(ln("
        f"(CAST(c_t + 1 AS DOUBLE) * CAST(n_s + {n_buckets} AS DOUBLE)) / "
        f"(CAST(c_s + 1 AS DOUBLE) * CAST(n_t + {n_buckets} AS DOUBLE))"
        "), 6) AS lr FROM dist CROSS JOIN t) "
        "SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_feats, "
        "ROUND(CAST(SUM(CAST(cnt * lr AS DECIMAL(25,10))) AS DOUBLE), 6) AS dsir_logweight "
        "FROM doc_b JOIN lrs USING (bucket) GROUP BY doc_id"
    )


def _kcore_oracle_sql(rounds: int = 20, k_cap: int = 256) -> str:
    """The graph_kcore DuckDB replay (round-11 oracle): the triangle
    census's cap/edge/degree CTEs, then ``rounds`` unrolled h-index
    updates — rank neighbor values descending per node, h = MAX(LEAST
    (rank, value)), next = LEAST(current, h) — plus ONE probe round
    whose total is compared against round ``rounds``'s to replay the
    engine's ``converged`` flag (VERDICT r10 #4)."""
    # MATERIALIZED (DuckDB-side hint): the unrolled rounds reference
    # ``und`` ``rounds`` times — inlined CTEs would re-open the parquet
    # scan per reference and exhaust the process fd limit
    sql = (
        "WITH bp0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), "
        "bp AS (SELECT o, p FROM (SELECT o, p, ROW_NUMBER() OVER "
        f"(PARTITION BY o ORDER BY p) AS rn FROM bp0) WHERE rn <= {k_cap}), "
        "e AS (SELECT DISTINCT a.p AS pa, b.p AS pb FROM bp a "
        "JOIN bp b ON a.o = b.o AND a.p < b.p), "
        "und AS MATERIALIZED (SELECT pa AS v, pb AS u FROM e UNION ALL SELECT pb, pa FROM e), "
        "deg AS MATERIALIZED (SELECT v, CAST(COUNT(*) AS BIGINT) AS degree FROM und GROUP BY 1), "
        "c0 AS (SELECT v, degree AS c FROM deg)"
    )
    # every c{i} is referenced twice (h{i+1} and c{i+1}) — materialize
    # each round or the inlined expansion doubles per round (2^rounds
    # plan nodes), the exact blowup the engine's localCheckpoint avoids.
    # rounds + 1: the last unrolled round is the engine's convergence
    # PROBE — it never contributes corenesses, only its total
    prev = "c0"
    for i in range(1, rounds + 2):
        sql += (
            f", h{i} AS MATERIALIZED (SELECT v, CAST(MAX(LEAST(rn, cu)) AS BIGINT) AS h FROM ("
            f"SELECT und.v, p.c AS cu, CAST(ROW_NUMBER() OVER "
            f"(PARTITION BY und.v ORDER BY p.c DESC) AS BIGINT) AS rn "
            f"FROM und JOIN {prev} p ON und.u = p.v) GROUP BY v)"
            f", c{i} AS MATERIALIZED (SELECT {prev}.v, LEAST({prev}.c, h{i}.h) AS c "
            f"FROM {prev} JOIN h{i} ON {prev}.v = h{i}.v)"
        )
        prev = f"c{i}"
    return (
        sql
        + f" SELECT deg.v AS part, deg.degree, CAST(c{rounds}.c AS BIGINT) AS coreness, "
        f"(SELECT SUM(c) FROM c{rounds}) = (SELECT SUM(c) FROM c{rounds + 1}) AS converged "
        f"FROM deg JOIN c{rounds} ON deg.v = c{rounds}.v"
    )


def _ext_oracles() -> dict[str, str]:
    jaccard = (
        "round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / "
        "CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 6)"
    )
    return {
        "dedup_exact": (
            "SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash, "
            "MIN(doc_id) AS keep_id, COUNT(*) AS n_docs FROM documents "
            "GROUP BY 1"
        ),
        # closed-form OLS: integer moments exact in 64-bit (< 2^53 so the
        # double casts are exact), revenue moments DECIMAL(30,6)-summed,
        # derived stats a fixed dag of double ops, 6dp display rounding
        # SES fold: list(y ORDER BY x) folded with the identical
        # 0.5*v + 0.5*acc multiply-add -> bit-exact cross-engine
        "sales_forecast_ses": (
            "WITH daily AS (SELECT c_mktsegment, "
            "CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT) AS x, "
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS y "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "WHERE o_orderdate IS NOT NULL GROUP BY 1, 2), "
            "s AS (SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_days, "
            "list(y ORDER BY x) AS ys FROM daily GROUP BY 1) "
            "SELECT c_mktsegment, n_days, "
            "ROUND(ys[-1], 6) AS last_actual, "
            "ROUND(list_reduce(ys, (acc, v) -> 0.5 * v + 0.5 * acc), 6) AS ses_level, "
            "ROUND(list_reduce(ys, (acc, v) -> 0.5 * v + 0.5 * acc), 6) AS forecast_next "
            "FROM s"
        ),
        "sales_trendline_ols": (
            "WITH daily AS (SELECT c_mktsegment, "
            "CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT) AS x, "
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS y "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "WHERE o_orderdate IS NOT NULL GROUP BY 1, 2), "
            "m AS (SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_days, "
            "CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx, "
            "CAST(SUM(CAST(y AS DECIMAL(30,6))) AS DOUBLE) AS sy, "
            "CAST(SUM(CAST(x * y AS DECIMAL(30,6))) AS DOUBLE) AS sxy, "
            "CAST(SUM(CAST(y * y AS DECIMAL(30,6))) AS DOUBLE) AS syy FROM daily GROUP BY 1) "
            "SELECT c_mktsegment, n_days, "
            "ROUND(CASE WHEN den_x > 0 THEN num / den_x END, 6) AS slope, "
            "ROUND(CASE WHEN den_x > 0 THEN (sy - (num / den_x) * CAST(sx AS DOUBLE)) / CAST(n_days AS DOUBLE) END, 6) AS intercept, "
            "ROUND(CASE WHEN den_x > 0 AND den_y > 0 THEN (num * num) / (den_x * den_y) END, 6) AS r2 "
            "FROM (SELECT c_mktsegment, n_days, sx, sy, "
            "CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den_x, "
            "CAST(n_days AS DOUBLE) * syy - sy * sy AS den_y, "
            "CAST(n_days AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS num FROM m)"
        ),
        # golden record: modal non-null categorical fields (count desc,
        # value asc), max measure, min id — all per content hash
        "dedup_golden_record": (
            "WITH g AS (SELECT doc_id, "
            "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash, "
            "lang, source, n_chars FROM documents), "
            "base AS (SELECT content_hash, MIN(doc_id) AS golden_id, "
            "CAST(COUNT(*) AS BIGINT) AS n_members, MAX(n_chars) AS max_chars "
            "FROM g GROUP BY content_hash), "
            "ml AS (SELECT content_hash, lang FROM ("
            "SELECT content_hash, lang, ROW_NUMBER() OVER (PARTITION BY content_hash "
            "ORDER BY COUNT(*) DESC, lang) AS rn FROM g WHERE lang IS NOT NULL "
            "GROUP BY content_hash, lang) WHERE rn = 1), "
            "ms AS (SELECT content_hash, source FROM ("
            "SELECT content_hash, source, ROW_NUMBER() OVER (PARTITION BY content_hash "
            "ORDER BY COUNT(*) DESC, source) AS rn FROM g WHERE source IS NOT NULL "
            "GROUP BY content_hash, source) WHERE rn = 1) "
            "SELECT b.content_hash, b.golden_id, b.n_members, ml.lang, ms.source, b.max_chars "
            "FROM base b LEFT JOIN ml ON b.content_hash = ml.content_hash "
            "LEFT JOIN ms ON b.content_hash = ms.content_hash"
        ),
        "dedup_survivors": (
            "WITH keeps AS (SELECT MIN(doc_id) AS doc_id FROM documents "
            "GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) "
            "SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d "
            "WHERE EXISTS (SELECT 1 FROM keeps k WHERE k.doc_id = d.doc_id)"
        ),
        # the LEFT ANTI complement: rows exact dedup removes
        "dedup_dropped": (
            "WITH keeps AS (SELECT MIN(doc_id) AS doc_id FROM documents "
            "GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) "
            "SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d "
            "WHERE NOT EXISTS (SELECT 1 FROM keeps k WHERE k.doc_id = d.doc_id)"
        ),
        # composed blocking key + block bound (see dedup_ngram_jaccard)
        "dedup_fuzzy_levenshtein": (
            "WITH base AS (SELECT doc_id, " + _BLOCK_KEY + " AS block, "
            "substring(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 32) AS prefix "
            "FROM documents), "
            "bk AS (SELECT block FROM base GROUP BY block HAVING COUNT(*) BETWEEN 2 AND 1024), "
            "bb AS (SELECT base.* FROM base JOIN bk USING (block)) "
            "SELECT a.block, a.doc_id AS id_a, b.doc_id AS id_b, "
            "CAST(levenshtein(a.prefix, b.prefix) AS INTEGER) AS edit_distance "
            "FROM bb a JOIN bb b ON a.block = b.block AND a.doc_id < b.doc_id "
            "WHERE levenshtein(a.prefix, b.prefix) <= 8"
        ),
        "events_value_quantiles": (
            "SELECT event_type, "
            "round(CAST(quantile_cont(value, 0.5) AS DOUBLE), 6) AS p50, "
            "round(CAST(quantile_cont(value, 0.9) AS DOUBLE), 6) AS p90, "
            "COUNT(*) AS n_events "
            "FROM events GROUP BY event_type"
        ),
        "sql_product_profit_by_nation_year": (
            "SELECT n.n_name AS nation_name, CAST(year(o.o_orderdate) AS INTEGER) AS order_year, "
            + _dsum("l.l_extendedprice * (1.0 - l.l_discount)", "profit")
            + " FROM lineitem l "
            "JOIN part p ON l.l_partkey = p.p_partkey "
            "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
            "JOIN orders o ON l.l_orderkey = o.o_orderkey "
            "JOIN nation n ON s.s_nationkey = n.n_nationkey "
            "WHERE p.p_name LIKE '%a%' "
            "GROUP BY n.n_name, year(o.o_orderdate)"
        ),
        "dedup_minhash_lsh": (
            "WITH tok AS (SELECT doc_id, " + _TOKENS + " AS tk FROM documents), "
            f"sh AS (SELECT doc_id, {_SHINGLES} AS sh FROM tok), "
            "base AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0), "
            "hs AS (SELECT doc_id, sh, list_transform(sh, x -> ('0x' || substr(md5(x), 1, 10))::BIGINT) AS hs FROM base), "
            f"sig AS (SELECT doc_id, sh, {_MINHASH_SIG} AS sig FROM hs), "
            f"banded AS (SELECT doc_id, unnest({_BANDS}) AS band_hash FROM sig), "
            "buckets AS (SELECT band_hash, list_sort(list(DISTINCT doc_id)) AS ids "
            "FROM banded GROUP BY band_hash HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 1024), "
            f"cand AS ({_PAIRS_FROM_BUCKETS}) "
            f"SELECT c.id_a, c.id_b, {jaccard} AS jaccard "
            "FROM cand c JOIN base a ON c.id_a = a.doc_id JOIN base b ON c.id_b = b.doc_id "
            f"WHERE {jaccard} >= 0.2"
        ),
        "dedup_simhash": (
            f"WITH {_SIMHASH_CTE} SELECT doc_id, simhash FROM fp"
        ),
        # minhash pairs -> symmetric closure via recursive CTE -> cluster
        # id = min reachable doc id (mirrors iterative min-label
        # propagation in operators.dedup_family)
        "dedup_clusters": (
            _CLUSTERS_CTE_PREFIX
            + "SELECT d.doc_id, CAST(LEAST(d.doc_id, COALESCE(m.min_reach, d.doc_id)) AS BIGINT) AS cluster_id "
            "FROM documents d LEFT JOIN reach_min m ON d.doc_id = m.src"
        ),
        # the near-dup APPLICATION: one survivor (min id) per cluster
        "dedup_near_survivors": (
            _CLUSTERS_CTE_PREFIX
            + "SELECT d.doc_id, d.lang, d.source, d.n_chars "
            "FROM documents d LEFT JOIN reach_min m ON d.doc_id = m.src "
            "WHERE COALESCE(m.min_reach, d.doc_id) >= d.doc_id"
        ),
        "dedup_simhash_pairs": (
            f"WITH {_SIMHASH_CTE}, "
            "bk AS (SELECT doc_id, unnest(["
            + ", ".join(
                f"'{j}#' || CAST((simhash >> {7 * j}) & 127 AS VARCHAR)" for j in range(4)
            )
            + "]) AS band_key FROM fp), "
            "buckets AS (SELECT band_key, list_sort(list(DISTINCT doc_id)) AS ids "
            "FROM bk GROUP BY band_key HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 1024), "
            f"cand AS ({_PAIRS_FROM_BUCKETS}) "
            "SELECT c.id_a, c.id_b, CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming "
            "FROM cand c JOIN fp a ON c.id_a = a.doc_id JOIN fp b ON c.id_b = b.doc_id "
            "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"
        ),
        # composed blocking key (lang × 64-char length bucket × source) +
        # the 2..1024 block-size bound, mirroring
        # dedup_family.composed_block_key / bounded_blocks
        "dedup_ngram_jaccard": (
            "WITH tok AS (SELECT doc_id, " + _BLOCK_KEY + " AS block, " + _TOKENS
            + " AS tk FROM documents), "
            f"shx AS (SELECT doc_id, block, {_SHINGLES} AS sh FROM tok), "
            "base AS (SELECT doc_id, block, sh FROM shx WHERE len(sh) > 0), "
            "bk AS (SELECT block FROM base GROUP BY block HAVING COUNT(*) BETWEEN 2 AND 1024), "
            "bb AS (SELECT base.* FROM base JOIN bk USING (block)) "
            f"SELECT a.block, a.doc_id AS id_a, b.doc_id AS id_b, {jaccard} AS jaccard "
            "FROM bb a JOIN bb b ON a.block = b.block AND a.doc_id < b.doc_id "
            f"WHERE {jaccard} >= 0.2"
        ),
        # banded sign-LSH candidates (8 bands x 8 sign bits, mirroring
        # dedup_family.sign_band_keys) -> exact cosine verify
        "dedup_embedding": (
            "WITH b AS (SELECT vec_id, unnest(["
            + ", ".join(
                f"'{j}#' || CAST(("
                + " + ".join(
                    f"CASE WHEN embedding[{j * 8 + i + 1}] >= 0 THEN {1 << i} ELSE 0 END"
                    for i in range(8)
                )
                + ") AS VARCHAR)"
                for j in range(8)
            )
            + "]) AS band_hash FROM embeddings), "
            "buckets AS (SELECT band_hash, list_sort(list(DISTINCT vec_id)) AS ids "
            "FROM b GROUP BY band_hash HAVING COUNT(DISTINCT vec_id) BETWEEN 2 AND 1024), "
            "cand AS (SELECT DISTINCT p[1] AS id_a, p[2] AS id_b FROM ("
            "SELECT unnest(flatten(list_transform(ids, (x, i) -> "
            "list_transform(ids[(i+1):], y -> [x, y])))) AS p FROM buckets)) "
            "SELECT c.id_a, c.id_b, "
            f"round({_cosine('a.embedding', 'b.embedding')}, 6) AS cos_sim "
            "FROM cand c JOIN embeddings a ON c.id_a = a.vec_id "
            "JOIN embeddings b ON c.id_b = b.vec_id "
            f"WHERE round({_cosine('a.embedding', 'b.embedding')}, 6) >= 0.4"
        ),
        "similarity_topk": (
            "WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10), "
            "scored AS (SELECT q.query_id, e.vec_id AS candidate_id, "
            f"round({_cosine('q.qv', 'e.embedding')}, 6) AS cos_sim "
            "FROM q, embeddings e WHERE q.query_id <> e.vec_id), "
            "ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id "
            "ORDER BY cos_sim DESC, candidate_id) AS INTEGER) AS rank FROM scored) "
            "SELECT query_id, candidate_id, cos_sim, rank FROM ranked WHERE rank <= 5"
        ),
        "similarity_ann_lsh": (
            "WITH b AS (SELECT vec_id, embedding, CAST("
            + " + ".join(
                f"CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END"
                for i in range(4)
            )
            + " AS BIGINT) AS bucket FROM embeddings), "
            "q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM b WHERE vec_id < 10), "
            "scored AS (SELECT q.query_id, c.vec_id AS candidate_id, "
            f"round({_cosine('q.qv', 'c.embedding')}, 6) AS cos_sim "
            "FROM q JOIN b c USING (bucket) WHERE q.query_id <> c.vec_id), "
            "ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id "
            "ORDER BY cos_sim DESC, candidate_id) AS INTEGER) AS rank FROM scored) "
            "SELECT query_id, candidate_id, cos_sim, rank FROM ranked WHERE rank <= 5"
        ),
        "similarity_ann_multiprobe": (
            "WITH b AS (SELECT vec_id, embedding, CAST("
            + " + ".join(
                f"CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END"
                for i in range(4)
            )
            + " AS BIGINT) AS bucket FROM embeddings), "
            "q AS (SELECT vec_id AS query_id, embedding AS qv, "
            "unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4), xor(bucket, 8)]) AS bucket "
            "FROM b WHERE vec_id < 10), "
            "scored AS (SELECT q.query_id, c.vec_id AS candidate_id, "
            f"round({_cosine('q.qv', 'c.embedding')}, 6) AS cos_sim "
            "FROM q JOIN b c USING (bucket) WHERE q.query_id <> c.vec_id), "
            "ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id "
            "ORDER BY cos_sim DESC, candidate_id) AS INTEGER) AS rank FROM scored) "
            "SELECT query_id, candidate_id, cos_sim, rank FROM ranked WHERE rank <= 5"
        ),
        # NULL-in -> NULL-out on the fold: DuckDB's list_prepend(0.0, NULL)
        # yields [0.0] (fold = 0.0) where Spark's aggregate(NULL) is NULL —
        # the embeddings NULL-probe axis caught the l2_norm divergence
        "embedding_stats": (
            "SELECT vec_id, label, CAST(len(embedding) AS INTEGER) AS dim, "
            "CASE WHEN embedding IS NULL THEN NULL ELSE "
            f"round(sqrt({_dot('embedding', 'embedding')}), 6) END AS l2_norm, "
            "round(CAST(list_min(embedding) AS DOUBLE), 6) AS min_val, "
            "round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val, "
            "round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            "list_transform(embedding, x -> CAST(x AS DOUBLE))), (u, v) -> u + v) "
            "/ len(embedding), 6) AS mean_val "
            "FROM embeddings"
        ),
        "similarity_ivf": (
            "WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent_vec FROM embeddings WHERE vec_id < 8), "
            "assign_c AS (SELECT e.vec_id AS candidate_id, e.embedding AS c_vec, c.cent_id, "
            f"{_dot('e.embedding', 'c.cent_vec')} AS _sim FROM embeddings e, cents c), "
            "corpus AS (SELECT candidate_id, c_vec, cent_id AS list_id FROM ("
            "SELECT *, ROW_NUMBER() OVER (PARTITION BY candidate_id ORDER BY _sim DESC, cent_id) AS _rn "
            "FROM assign_c) WHERE _rn = 1), "
            "assign_q AS (SELECT e.vec_id AS query_id, e.embedding AS q_vec, c.cent_id, "
            f"{_dot('e.embedding', 'c.cent_vec')} AS _sim FROM embeddings e, cents c WHERE e.vec_id < 10), "
            "queries AS (SELECT query_id, q_vec, cent_id AS list_id FROM ("
            "SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY _sim DESC, cent_id) AS _rn "
            "FROM assign_q) WHERE _rn = 1), "
            "scored AS (SELECT q.query_id, c.candidate_id, "
            f"round({_cosine('q.q_vec', 'c.c_vec')}, 6) AS cos_sim "
            "FROM queries q JOIN corpus c USING (list_id) WHERE q.query_id <> c.candidate_id), "
            "ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id "
            "ORDER BY cos_sim DESC, candidate_id) AS INTEGER) AS rank FROM scored) "
            "SELECT query_id, candidate_id, cos_sim, rank FROM ranked WHERE rank <= 5"
        ),
        "tfidf_top_terms": (
            "WITH terms AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term FROM documents), "
            "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2), "
            "dfx AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1), "
            "idf AS (SELECT term, round(ln((CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) + 1.0) / (df + 1.0)) + 1.0, 6) AS idf FROM dfx), "
            "scored AS (SELECT t.doc_id, t.term, t.tf, round(t.tf * i.idf, 6) AS tfidf FROM tf t JOIN idf i USING (term)), "
            "ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id "
            "ORDER BY tfidf DESC, term) AS INTEGER) AS rank FROM scored) "
            "SELECT doc_id, term, tf AS term_freq, tfidf, rank FROM ranked WHERE rank <= 3"
        ),
        "text_stats": (
            "WITH tok AS (SELECT doc_id, text, " + _TOKENS + " AS tk FROM documents), "
            "m AS (SELECT doc_id, text, tk, CAST(len(tk) AS DOUBLE) AS n_tok, "
            "CAST(len(list_filter(tk, t -> regexp_matches(t, '^[A-Za-z]+$'))) AS DOUBLE) AS n_alpha, "
            f"CAST({_sw_hits('en')} AS DOUBLE) AS sw FROM tok) "
            "SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens, "
            "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_regex_tokens, "
            "CAST(length(text) AS BIGINT) AS n_chars_actual, "
            "CASE WHEN text IS NULL THEN NULL ELSE "
            "round(least(n_tok / 64.0, 1.0) * (0.5 + 0.3 * (CASE WHEN n_tok > 0 THEN n_alpha / n_tok ELSE 0.0 END) "
            "+ 0.2 * least(sw / 4.0, 1.0)), 6) END AS quality "
            "FROM m"
        ),
        "lang_id": (
            "WITH tok AS (SELECT doc_id, lang, " + _TOKENS + " AS tk FROM documents), "
            "h AS (SELECT doc_id, lang, "
            + ", ".join(f"{_sw_hits(lg)} AS hits_{lg}" for lg in ("en", "de", "es", "fr"))
            + " FROM tok) "
            "SELECT doc_id, lang, hits_en, hits_de, hits_es, hits_fr, "
            "CASE WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr THEN 'en' "
            "WHEN hits_de >= hits_es AND hits_de >= hits_fr THEN 'de' "
            "WHEN hits_es >= hits_fr THEN 'es' ELSE 'fr' END AS predicted_lang "
            "FROM h"
        ),
        "corpus_quality_filter": (
            "WITH tok AS (SELECT doc_id, lang, source, text, " + _TOKENS_SPARK_WS + " AS tk FROM documents), "
            "m AS (SELECT doc_id, lang, source, text, tk, CAST(len(tk) AS DOUBLE) AS n_tok, "
            "CAST(len(list_filter(tk, t -> regexp_matches(t, '^[A-Za-z]+$'))) AS DOUBLE) AS n_alpha, "
            + ", ".join(f"{_sw_hits(lg)} AS hits_{lg}" for lg in ("en", "de", "es", "fr"))
            + " FROM tok), "
            "scored AS (SELECT doc_id, lang, source, CAST(n_tok AS BIGINT) AS n_tokens, "
            "CASE WHEN text IS NULL THEN NULL ELSE "
            "round(least(n_tok / 64.0, 1.0) * (0.5 + 0.3 * (CASE WHEN n_tok > 0 THEN n_alpha / n_tok ELSE 0.0 END) "
            "+ 0.2 * least(hits_en / 4.0, 1.0)), 6) END AS quality, "
            "CASE WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr THEN 'en' "
            "WHEN hits_de >= hits_es AND hits_de >= hits_fr THEN 'de' "
            "WHEN hits_es >= hits_fr THEN 'es' ELSE 'fr' END AS predicted_lang FROM m) "
            "SELECT * FROM scored WHERE quality >= 0.5 AND predicted_lang = lang "
            "AND n_tokens BETWEEN 8 AND 512"
        ),
        # non-distinct 3-gram frequency: max share of all 3-grams per doc
        "doc_repetition": (
            "WITH tok AS (SELECT doc_id, " + _TOKENS + " AS tk FROM documents), "
            "g AS (SELECT doc_id, unnest(list_transform(range(0, len(tk) - 2), "
            "i -> array_to_string(tk[(i+1):(i+3)], ' '))) AS gram "
            "FROM tok WHERE len(tk) >= 3), "
            "pg AS (SELECT doc_id, gram, COUNT(*) AS n FROM g GROUP BY 1, 2) "
            "SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_grams, "
            "CAST(MAX(n) AS BIGINT) AS max_gram_freq, "
            "round(CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6) AS repetition_ratio "
            "FROM pg GROUP BY doc_id"
        ),
        "corpus_length_histogram": (
            "WITH m AS (SELECT CAST((len(" + _TOKENS + ") // 32) * 32 AS BIGINT) AS token_bucket, "
            "CASE WHEN text IS NULL THEN NULL ELSE "
            "round(least(CAST(len(" + _TOKENS + ") AS DOUBLE) / 64.0, 1.0) * "
            "(0.5 + 0.3 * (CASE WHEN len(" + _TOKENS + ") > 0 THEN "
            "CAST(len(list_filter(" + _TOKENS + ", t -> regexp_matches(t, '^[A-Za-z]+$'))) AS DOUBLE) / len(" + _TOKENS + ") ELSE 0.0 END) "
            "+ 0.2 * least(CAST(len(list_filter(" + _TOKENS + ", t -> list_contains(" + _SW["en"] + ", lower(t)))) AS DOUBLE) / 4.0, 1.0)), 6) END AS q "
            "FROM documents) "
            "SELECT token_bucket, COUNT(*) AS n_docs, "
            "round(CAST(SUM(CAST(q AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 6) AS mean_quality "
            "FROM m GROUP BY token_bucket"
        ),
        "doc_fingerprints": (
            "SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp "
            "FROM documents"
        ),
        "multimodal_meta": (
            "SELECT doc_id AS media_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
            "md5(text) AS checksum FROM documents"
        ),
        # stream-stream join == batch join when one micro-batch holds both
        # feeds (no watermark eviction inside the batch)
        "events_stream_order_shipment": (
            "WITH e AS (SELECT event_id, user_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s, "
            "event_type, value FROM events), "
            "o AS (SELECT event_id AS order_id, ts_s AS order_ts, value AS amount "
            "FROM e WHERE event_type = 'purchase'), "
            "s AS (SELECT event_id - 1 AS order_id, ts_s AS ship_ts, CAST(user_id AS VARCHAR) AS carrier "
            "FROM e WHERE event_type = 'view') "
            "SELECT o.order_id, o.order_ts, s.ship_ts, o.amount, s.carrier, "
            "CAST(epoch(s.ship_ts) - epoch(o.order_ts) AS BIGINT) AS ship_delay_s "
            "FROM o JOIN s USING (order_id) "
            "WHERE s.ship_ts >= o.order_ts AND s.ship_ts <= o.order_ts + INTERVAL 48 HOUR"
        ),
        "events_stream_hourly": (
            "SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type, "
            "COUNT(*) AS n_events, "
            "CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value "
            "FROM events WHERE ts IS NOT NULL GROUP BY 1, 2"
        ),
        # same aggregate through the Derby round trip: the readback must
        # still equal the batch truth after the RDBMS type mapping
        "events_stream_jdbc_hourly": (
            "SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type, "
            "COUNT(*) AS n_events, "
            "CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value "
            "FROM events WHERE ts IS NOT NULL GROUP BY 1, 2"
        ),
        # CDF diff of two upsert-table snapshots (even-id merge, then the
        # full feed): replayed as batch argmaxes over the same slices —
        # inserts are odd-only users, postimages are moved winners
        "events_upsert_changes": (
            "WITH ev AS (SELECT user_id, event_id, ts, event_type, value "
            "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL), "
            "o AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER ("
            "PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn "
            "FROM ev WHERE event_id % 2 = 0) WHERE rn = 1), "
            "n AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER ("
            "PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn "
            "FROM ev) WHERE rn = 1) "
            "SELECT * FROM (SELECT COALESCE(n.user_id, o.user_id) AS user_id, "
            "n.event_id, n.ts, n.event_type, n.value, "
            "CASE WHEN o.user_id IS NULL THEN 'insert' "
            "WHEN n.user_id IS NULL THEN 'delete' "
            "WHEN (o.event_id IS DISTINCT FROM n.event_id) "
            "OR (o.ts IS DISTINCT FROM n.ts) "
            "OR (o.event_type IS DISTINCT FROM n.event_type) "
            "OR (o.value IS DISTINCT FROM n.value) THEN 'update_postimage' "
            "ELSE 'unchanged' END AS _change_type "
            "FROM o FULL JOIN n ON o.user_id = n.user_id) "
            "WHERE _change_type <> 'unchanged'"
        ),
        # time-travel reads of the same two snapshots the CDF entry
        # builds: each version replayed as the batch argmax over its
        # slice — a leak across snapshots breaks the hash
        "events_upsert_timetravel": (
            "WITH ev AS (SELECT user_id, event_id, ts, event_type, value "
            "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL), "
            "s1 AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER ("
            "PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn "
            "FROM ev WHERE event_id % 2 = 0) WHERE rn = 1), "
            "s2 AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER ("
            "PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn "
            "FROM ev) WHERE rn = 1) "
            "SELECT user_id, event_id, ts, event_type, value, "
            "CAST(1 AS INTEGER) AS snapshot_version FROM s1 "
            "UNION ALL SELECT user_id, event_id, ts, event_type, value, "
            "CAST(2 AS INTEGER) AS snapshot_version FROM s2"
        ),
        # keyed DELETE+INSERT merge lands the same rollup the overwrite
        # sink does; a missed DELETE would double-count and fail the hash
        "events_stream_jdbc_upsert": (
            "SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type, "
            "COUNT(*) AS n_events, "
            "CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value "
            "FROM events WHERE ts IS NOT NULL GROUP BY 1, 2"
        ),
        "events_asof_last_purchase": (
            "WITH base AS (SELECT event_id, user_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s, event_type FROM events "
            "WHERE ts IS NOT NULL AND user_id IS NOT NULL), "
            "p AS (SELECT DISTINCT user_id, ts_s AS purchase_ts FROM base WHERE event_type = 'purchase') "
            "SELECT b.event_id, b.user_id, b.ts_s, p.purchase_ts AS asof_purchase_ts, "
            "CAST(epoch(b.ts_s) - epoch(p.purchase_ts) AS BIGINT) AS secs_since_purchase "
            "FROM base b ASOF LEFT JOIN p "
            "ON b.user_id = p.user_id AND b.ts_s >= p.purchase_ts"
        ),
        # sketch profile: deterministic columns computed exactly; the
        # accuracy verdicts the Spark plan derives from sketch-vs-exact
        # comparison are pinned to literal TRUE (a broken sketch flips a
        # boolean and fails the hash)
        "events_sketch_profile": (
            "SELECT event_type, COUNT(*) AS n_events, "
            "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users, "
            "TRUE AS approx_users_ok, TRUE AS p50_ok, TRUE AS p90_ok "
            "FROM events GROUP BY event_type"
        ),
        "events_multigrain_rollup": (
            "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, "
            "CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, "
            "COUNT(*) AS n_events, "
            "CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value "
            "FROM events GROUP BY ROLLUP(1, 2)"
        ),
        "events_lookback_count": (
            "WITH base AS (SELECT event_id, user_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s FROM events) "
            "SELECT l.event_id, l.user_id, l.ts_s, COUNT(r.event_id) AS n_prior_events_1h "
            "FROM base l LEFT JOIN base r ON l.user_id = r.user_id "
            "AND r.ts_s >= l.ts_s - INTERVAL 1 HOUR AND r.ts_s < l.ts_s "
            "GROUP BY l.event_id, l.user_id, l.ts_s"
        ),
        "user_sessions": (
            # gaps-and-islands mirror of session_window on second-truncated ts
            "WITH e AS (SELECT user_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s, value FROM events "
            "WHERE ts IS NOT NULL), "
            # strictly greater: session_window merges an event at exactly
            # prev + gap (inclusive window end) — verified at sf0.1
            "marked AS (SELECT user_id, ts_s, value, CASE WHEN ts_s - LAG(ts_s) OVER "
            "(PARTITION BY user_id ORDER BY ts_s) > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s FROM e), "
            "islands AS (SELECT user_id, ts_s, value, SUM(new_s) OVER "
            "(PARTITION BY user_id ORDER BY ts_s ROWS UNBOUNDED PRECEDING) AS sid FROM marked) "
            "SELECT user_id, MIN(ts_s) AS session_start, MAX(ts_s) AS session_end, "
            "COUNT(*) AS n_events, "
            "CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value "
            "FROM islands GROUP BY user_id, sid"
        ),
        # DuckDB's native JSON reader over the SAME committed fixture the
        # Spark query parses; numbers rendered with the same trailing-".0"
        # strip as functions.wkt._fmt_num
        "geojson_routes": (
            "WITH raw AS (SELECT unnest(features) AS f FROM read_json("
            f"'{X.ROUTES_GEOJSON_PATH}', columns = {{"
            "\"type\": 'VARCHAR', "
            "\"features\": 'STRUCT(\"type\" VARCHAR, geometry STRUCT(\"type\" VARCHAR, coordinates DOUBLE[][]))[]'})), "
            "c AS (SELECT f.geometry.coordinates AS xy FROM raw) "
            "SELECT xy[1][2] AS origin_lat, xy[1][1] AS origin_long, "
            "xy[-1][2] AS dest_lat, xy[-1][1] AS dest_long, "
            "'LINESTRING(' || array_to_string(list_transform(xy, p -> "
            "regexp_replace(CAST(p[1] AS VARCHAR), '\\.0$', '') || ' ' || "
            "regexp_replace(CAST(p[2] AS VARCHAR), '\\.0$', '')), ', ') || ')' AS shape_wkt "
            "FROM c"
        ),
        # sink round-trip: written+read-back fact == straight-from-raw SQL
        "fact_write_readback": (
            "SELECT CAST(month(l_shipdate) AS INTEGER) AS ship_month, "
            "COUNT(*) AS n_rows, "
            + _dsum(_REVENUE_SQL, "revenue")
            + " FROM lineitem WHERE year(l_shipdate) = 1995 GROUP BY 1"
        ),
        # correlated scalar subquery (decorrelated to agg+join); average
        # written as decimal-sum/count so the threshold is engine-exact
        "sql_orders_above_customer_avg": (
            "SELECT o.o_orderkey, o.o_custkey, o.o_totalprice FROM orders o "
            "WHERE o.o_totalprice > 1.5 * ("
            "SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) "
            "FROM orders o2 WHERE o2.o_custkey = o.o_custkey)"
        ),
        # TPC-H Q19 shape: disjunctive conjunct baskets over one join
        "sql_disjunctive_basket": (
            "SELECT " + _dsum("l.l_extendedprice * (1.0 - l.l_discount)", "revenue")
            + ", COUNT(*) AS n_items FROM lineitem l "
            "JOIN part p ON p.p_partkey = l.l_partkey "
            "WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 20) "
            "OR (p.p_brand = 'Brand#7' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 5 AND 35) "
            "OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 10 AND 50)"
        ),
        # TPC-H Q18 shape: IN over aggregated HAVING subquery
        "sql_large_volume_orders": (
            "SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, "
            + _dsum("l.l_quantity", "total_qty")
            + " FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
            "WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem "
            "GROUP BY l_orderkey HAVING SUM(l_quantity) > 300) "
            "GROUP BY o.o_orderkey, o.o_custkey, o.o_totalprice"
        ),
        # TPC-H Q22 flavor: decorrelated scalar threshold + anti join
        "sql_prospect_customers": (
            "SELECT c.c_nationkey, COUNT(*) AS numcust, "
            "CAST(SUM(CAST(c.c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS total_acctbal "
            "FROM customer c "
            "WHERE c.c_acctbal > ("
            "SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) "
            "FROM customer c2 WHERE c2.c_acctbal > 0.0) "
            "AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= DATE '2000-07-01') "
            "GROUP BY c.c_nationkey"
        ),
        # winnowing (k=8, w=4): rolling gram hashes -> window minima ->
        # distinct fingerprints; mirrors functions.text.char_gram_hashes/
        # winnow_minima exactly (28-bit md5-prefix hashes).  The capped
        # CTE replays the registered form's deterministic md5-rank
        # max_docs=20000 size guard (inactive at test SFs, binding at
        # probe scale)
        "doc_winnowing": (
            "WITH capped AS (SELECT doc_id, text FROM ("
            "SELECT doc_id, text, ROW_NUMBER() OVER ("
            "ORDER BY md5('winnow#' || CAST(doc_id AS VARCHAR)), doc_id) AS rn "
            "FROM documents) WHERE rn <= 20000), "
            "norm AS (SELECT doc_id, "
            "trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s FROM capped), "
            "g AS (SELECT doc_id, list_transform(range(1, len(s) - 6), "
            "i -> ('0x' || substr(md5(substr(s, i, 8)), 1, 7))::BIGINT) AS hs "
            "FROM norm WHERE len(s) >= 11), "
            "m AS (SELECT doc_id, list_distinct(list_transform(range(1, len(hs) - 2), "
            "j -> list_min(hs[j:j+3]))) AS fps FROM g) "
            "SELECT doc_id, unnest(fps) AS fp FROM m"
        ),
        # TPC-H Q4/Q21/Q22 flavor: correlated NOT EXISTS -> left anti join
        "sql_unshipped_orders": (
            "SELECT o.o_orderpriority, COUNT(*) AS n_orders FROM orders o "
            "WHERE o.o_orderdate >= DATE '1995-01-01' "
            "AND o.o_orderdate < DATE '1996-01-01' "
            "AND NOT EXISTS (SELECT 1 FROM lineitem l "
            "WHERE l.l_orderkey = o.o_orderkey "
            "AND l.l_shipdate < o.o_orderdate + INTERVAL 90 DAY) "
            "GROUP BY o.o_orderpriority"
        ),
        # TPC-H Q13 shape: outer join + double aggregation histogram
        "sql_customer_order_distribution": (
            "SELECT c_count, COUNT(*) AS custdist FROM ("
            "SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count "
            "FROM customer c LEFT JOIN orders o "
            "ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT' "
            "GROUP BY c.c_custkey) GROUP BY c_count"
        ),
        # two-stage salted aggregation == plain GROUP BY (decimal sums are
        # order-independent, so salting changes only the shuffle shape)
        "events_salted_user_stats": (
            "SELECT user_id, "
            "CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value, "
            "COUNT(*) AS n_events FROM events GROUP BY user_id"
        ),
        # grouped applyInPandas mean-centering: the mean follows the
        # decimal-sum contract (quantize 8dp -> exact sum -> double / n)
        "embedding_centered": (
            # explicit NULL gates (vector-less rows can't center; a NULL
            # label group would silently fall out of the means join anyway)
            "WITH ex AS (SELECT vec_id, label, "
            "unnest(range(1, len(embedding) + 1)) AS i, embedding FROM embeddings "
            "WHERE embedding IS NOT NULL AND label IS NOT NULL), "
            "flat AS (SELECT vec_id, label, CAST(i AS INTEGER) AS dim_i, "
            "CAST(embedding[i] AS DOUBLE) AS x FROM ex), "
            "means AS (SELECT label, dim_i, "
            "CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS m "
            "FROM flat GROUP BY label, dim_i) "
            "SELECT f.vec_id, f.label, f.dim_i, round(f.x - m.m, 6) AS centered_val "
            "FROM flat f JOIN means m USING (label, dim_i)"
        ),
        # frame sampling: one row per 64-byte offset; frame_idx = offset/64
        "media_frames": (
            "SELECT media_id, CAST(o // 64 AS INTEGER) AS frame_idx, o AS byte_offset "
            "FROM (SELECT doc_id AS media_id, unnest(range(0, "
            "CAST(greatest(octet_length(encode(text)) - 1, 0) AS BIGINT) + 1, 64)) AS o "
            "FROM documents)"
        ),
        # stateful streaming sessionizer: one availableNow batch closes all
        # but each user's final (still-open) session
        "events_stream_sessions": (
            "WITH e AS (SELECT user_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s FROM events "
            "WHERE ts IS NOT NULL), "
            "marked AS (SELECT user_id, ts_s, CASE WHEN ts_s - LAG(ts_s) OVER "
            "(PARTITION BY user_id ORDER BY ts_s) > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s FROM e), "
            "islands AS (SELECT user_id, ts_s, SUM(new_s) OVER "
            "(PARTITION BY user_id ORDER BY ts_s ROWS UNBOUNDED PRECEDING) AS sid FROM marked), "
            "s AS (SELECT user_id, sid, MIN(ts_s) AS session_start, MAX(ts_s) AS session_end, "
            "COUNT(*) AS n_events FROM islands GROUP BY user_id, sid) "
            "SELECT user_id, session_start, session_end, n_events FROM s "
            "QUALIFY sid < MAX(sid) OVER (PARTITION BY user_id)"
        ),
        # flush_idle=True: additionally each user's FINAL session emits iff
        # its event-time timeout (end + 30min, whole-second ms) is strictly
        # below the drain's final watermark floor_ms(max ts) - 2h (strict
        # boundary pinned by test_sessionize_flush_timeout_boundary)
        "events_stream_sessions_flushed": (
            "WITH e AS (SELECT user_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s FROM events "
            "WHERE ts IS NOT NULL), "
            "wm AS (SELECT epoch_ms(max(ts)) - 7200000 AS wm_ms FROM events WHERE ts IS NOT NULL), "
            "marked AS (SELECT user_id, ts_s, CASE WHEN ts_s - LAG(ts_s) OVER "
            "(PARTITION BY user_id ORDER BY ts_s) > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s FROM e), "
            "islands AS (SELECT user_id, ts_s, SUM(new_s) OVER "
            "(PARTITION BY user_id ORDER BY ts_s ROWS UNBOUNDED PRECEDING) AS sid FROM marked), "
            "s AS (SELECT user_id, sid, MIN(ts_s) AS session_start, MAX(ts_s) AS session_end, "
            "COUNT(*) AS n_events FROM islands GROUP BY user_id, sid) "
            "SELECT user_id, session_start, session_end, n_events FROM s, wm "
            "QUALIFY sid < MAX(sid) OVER (PARTITION BY user_id) "
            "OR epoch_ms(session_end) + 1800000 < wm_ms"
        ),
        "dim_route_shapes": (
            "WITH raw AS (SELECT unnest(features) AS f FROM read_json("
            f"'{X.ROUTES_GEOJSON_PATH}', columns = {{"
            "\"type\": 'VARCHAR', "
            "\"features\": 'STRUCT(\"type\" VARCHAR, geometry STRUCT(\"type\" VARCHAR, coordinates DOUBLE[][]))[]'})), "
            "flat AS (SELECT xy[1][2] AS origin_lat, xy[1][1] AS origin_long, "
            "xy[-1][2] AS dest_lat, xy[-1][1] AS dest_long, "
            "'LINESTRING(' || array_to_string(list_transform(xy, p -> "
            "regexp_replace(CAST(p[1] AS VARCHAR), '\\.0$', '') || ' ' || "
            "regexp_replace(CAST(p[2] AS VARCHAR), '\\.0$', '')), ', ') || ')' AS shape_wkt "
            "FROM (SELECT f.geometry.coordinates AS xy FROM raw)), "
            # dedup_first(keys=4 coords, tiebreak=shape_wkt) then keygen by
            # the 4-coordinate natural key — mirrors build_dim_route_shapes
            "dd AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY "
            "origin_lat, origin_long, dest_lat, dest_long ORDER BY shape_wkt) AS _rn "
            "FROM flat) WHERE _rn = 1) "
            "SELECT origin_lat, origin_long, dest_lat, dest_long, shape_wkt, "
            "CAST(ROW_NUMBER() OVER (ORDER BY origin_lat, origin_long, dest_lat, dest_long) "
            "AS BIGINT) AS route_shape_key FROM dd"
        ),
        "events_json_kv": (
            "SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, "
            "COUNT(*) AS n_events, "
            "CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value "
            "FROM events GROUP BY 1"
        ),
        # PII scrub: the deterministic injection is mirrored exactly; the
        # regexes live in the shared Java-regex/RE2 subset; 'g' flag because
        # Spark regexp_replace is replace-all
        "pii_scrub_stats": (
            "WITH e AS (SELECT doc_id, CASE "
            "WHEN doc_id % 7 = 0 THEN text || ' contact user' || doc_id || '@example.com now' "
            "WHEN doc_id % 11 = 0 THEN text || ' see https://example.org/doc/' || doc_id || ' today' "
            "ELSE text END AS t FROM documents) "
            "SELECT doc_id, CASE WHEN t IS NULL THEN NULL ELSE "
            f"CAST(len(regexp_extract_all(t, '{X.PII_EMAIL_RE}')) AS BIGINT) END AS n_emails, "
            "CASE WHEN t IS NULL THEN NULL ELSE "
            f"CAST(len(regexp_extract_all(t, '{X.PII_URL_RE}')) AS BIGINT) END AS n_urls, "
            f"CAST(length(regexp_replace(regexp_replace(t, '{X.PII_EMAIL_RE}', '<EMAIL>', 'g'), "
            f"'{X.PII_URL_RE}', '<URL>', 'g')) AS BIGINT) AS scrubbed_len FROM e"
        ),
        # train/eval 3-gram decontamination; eval split = doc_id % 10 == 0
        "contamination_check": (
            "WITH tok AS (SELECT doc_id, " + _TOKENS + " AS tk FROM documents), "
            f"shx AS (SELECT doc_id, {_SHINGLES} AS sh FROM tok), "
            "train AS (SELECT doc_id, sh FROM shx WHERE doc_id % 10 != 0), "
            "eg AS (SELECT DISTINCT unnest(sh) AS gram FROM shx WHERE doc_id % 10 = 0), "
            "ex AS (SELECT doc_id, unnest(sh) AS gram FROM train), "
            "shared AS (SELECT doc_id, COUNT(*) AS n_shared FROM ex JOIN eg USING (gram) GROUP BY doc_id) "
            "SELECT t.doc_id, CAST(len(t.sh) AS BIGINT) AS n_grams, "
            "CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared, "
            "round(COALESCE(s.n_shared, 0) / greatest(len(t.sh), 1), 6) AS contamination_ratio, "
            "round(COALESCE(s.n_shared, 0) / greatest(len(t.sh), 1), 6) >= 0.5 AS contaminated "
            "FROM train t LEFT JOIN shared s USING (doc_id)"
        ),
        # deterministic mixture balancing: md5-prefix uniform keep decision
        "corpus_mixture_sample": (
            "WITH counts AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source), "
            "tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total, COUNT(*) AS k FROM counts), "
            "rates AS (SELECT source, n_docs, least(1.0, (n_total / k) / n_docs) AS keep_rate "
            "FROM counts, tot), "
            "s AS (SELECT doc_id, source, "
            "('0x' || substr(md5('mix#' || doc_id), 1, 7))::BIGINT / CAST(268435456 AS DOUBLE) AS u "
            "FROM documents), "
            "samp AS (SELECT s.source, COUNT(*) AS n_sampled FROM s JOIN rates r USING (source) "
            "WHERE s.u < r.keep_rate GROUP BY s.source) "
            "SELECT r.source, r.n_docs, samp.n_sampled FROM samp JOIN rates r USING (source)"
        ),
        # per-source running token sum -> fixed-budget pack assignment
        "sequence_packing": (
            "WITH staged AS (SELECT doc_id, source, CASE WHEN text IS NULL THEN NULL "
            "ELSE CAST(len(" + _TOKENS + ") AS BIGINT) END AS n_tokens FROM documents), "
            "packed AS (SELECT *, CAST(floor((SUM(n_tokens) OVER "
            "(PARTITION BY source ORDER BY doc_id) - n_tokens) / 256) AS BIGINT) AS pack_id FROM staged) "
            "SELECT source, pack_id, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens, "
            "MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc "
            "FROM packed GROUP BY source, pack_id"
        ),
        # event_ids are unique, so watermarked streaming dedup == identity
        "events_stream_dedup": (
            "SELECT event_id, user_id, event_type, value FROM events"
        ),
        # JSON-lines round trip: oracle reads the original parquet, so any
        # encode/decode infidelity (ts precision, escaping) breaks the hash
        "events_json_readback": (
            "SELECT event_id, ts, user_id, event_type, value, props FROM events"
        ),
        # sliding-distinct verdict form: exact trailing WAU/MAU via the
        # day-spine range join, stickiness one int/int double division
        # (unrounded), HLL accuracy exits only as TRUE-pinned booleans
        "events_stickiness_hll": (
            "WITH e AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events "
            "WHERE ts IS NOT NULL AND user_id IS NOT NULL), "
            "days AS (SELECT DISTINCT d FROM e), "
            "w7 AS (SELECT days.d, CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS wau_exact "
            "FROM days JOIN e ON e.d BETWEEN days.d - 6 AND days.d GROUP BY days.d), "
            "w30 AS (SELECT days.d, CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS mau_exact "
            "FROM days JOIN e ON e.d BETWEEN days.d - 29 AND days.d GROUP BY days.d) "
            "SELECT w7.d AS day, wau_exact, mau_exact, "
            "CAST(wau_exact AS DOUBLE) / CAST(mau_exact AS DOUBLE) AS stickiness, "
            "TRUE AS wau_ok, TRUE AS mau_ok "
            "FROM w7 JOIN w30 ON w7.d = w30.d"
        ),
        # CEP forward as-of: min over the following-rows frame, the
        # (us, event_id) tie rule mirrored verbatim; integer-microsecond
        # arithmetic end-to-end
        "events_conversion_lag": (
            "WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, "
            "CAST(date_trunc('hour', ts) AS TIMESTAMP) AS click_hour, event_id "
            "FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL "
            "AND event_type IN ('click', 'purchase')), "
            "c AS (SELECT click_hour, us, event_type, "
            "MIN(CASE WHEN event_type = 'purchase' THEN us END) OVER "
            "(PARTITION BY user_id ORDER BY us, event_id "
            "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_us FROM e) "
            "SELECT click_hour, CAST(COUNT(*) AS BIGINT) AS n_clicks, "
            "CAST(SUM(conv) AS BIGINT) AS n_converted, "
            "CAST(SUM(conv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS conversion_rate, "
            "CAST(SUM(lag_us) AS DOUBLE) / CAST(SUM(conv) AS DOUBLE) / 1000000.0 AS avg_lag_s "
            "FROM (SELECT click_hour, "
            "CASE WHEN next_us IS NOT NULL AND next_us - us <= 3600000000 THEN 1 ELSE 0 END AS conv, "
            "CASE WHEN next_us IS NOT NULL AND next_us - us <= 3600000000 THEN next_us - us END AS lag_us "
            "FROM c WHERE event_type = 'click') GROUP BY click_hour"
        ),
        # Arrow fake-codec replay: hex-pair byte extraction; integer
        # byte sum exact, mean one double division, empty payload -> 0.0
        "media_image_features": (
            "WITH m AS (SELECT doc_id AS media_id, encode(text) AS payload "
            "FROM documents WHERE text IS NOT NULL), "
            "sums AS (SELECT media_id, CAST(SUM(('0x' || substr(h, CAST(i * 2 + 1 AS INT), 2))::BIGINT) AS BIGINT) AS total "
            "FROM (SELECT media_id, hex(payload) AS h, "
            "unnest(range(0, octet_length(payload))) AS i FROM m) GROUP BY media_id) "
            "SELECT m.media_id, "
            "CAST(1 + octet_length(m.payload) % 64 AS INT) AS width, "
            "CAST(1 + (octet_length(m.payload) // 64) % 64 AS INT) AS height, "
            "CAST(octet_length(m.payload) AS BIGINT) AS n_bytes, "
            "CASE WHEN octet_length(m.payload) > 0 "
            "THEN CAST(s.total AS DOUBLE) / CAST(octet_length(m.payload) AS DOUBLE) "
            "ELSE 0.0 END AS mean_byte "
            "FROM m LEFT JOIN sums s ON m.media_id = s.media_id"
        ),
        # ORC round trip: the oracle reads the ORIGINAL parquet — any
        # ORC encode/decode infidelity breaks the hash
        "events_orc_readback": (
            "SELECT event_id, ts, user_id, event_type, value, props FROM events"
        ),
        # time-partitioned fact readback: band recomputed from raw tables,
        # so a row landing in the wrong month directory breaks the hash
        "fact_date_slice": (
            "SELECT CAST(year(o.o_orderdate) * 100 + month(o.o_orderdate) AS INTEGER) AS order_month, "
            "CAST(COUNT(*) AS BIGINT) AS n_rows, "
            + _dsum(_REVENUE_SQL, "revenue")
            + " FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey "
            "WHERE year(o.o_orderdate) * 100 + month(o.o_orderdate) BETWEEN 199501 AND 199506 "
            "GROUP BY 1"
        ),
        # foreachBatch MERGE: landed table == batch argmax per user,
        # independent of micro-batch slicing
        "events_stream_upsert": (
            "SELECT user_id, event_id AS last_event_id, ts AS last_ts, "
            "event_type AS last_event_type, value AS last_value "
            "FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id "
            "ORDER BY ts DESC, event_id DESC) AS rn FROM events) WHERE rn = 1"
        ),
        # compaction audit: the oracle pins the per-month / per-table
        # content signatures exactly and the compaction verdicts as
        # literal TRUE — a lost or duplicated row, a broken manifest
        # swap, or a skipped rewrite flips a value or a boolean
        "warehouse_compaction_audit": (
            "SELECT 'month:' || strftime(o_orderdate, '%Y-%m') AS check_name, "
            "COUNT(*) AS n_rows, "
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS measure, "
            "TRUE AS compacted, TRUE AS content_preserved "
            "FROM orders WHERE year(o_orderdate) = "
            "(SELECT year(max(o_orderdate)) - 1 FROM orders) "
            "GROUP BY 1 "
            "UNION ALL "
            "SELECT 'upsert_events' AS check_name, COUNT(*) AS n_rows, "
            "CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS measure, "
            "TRUE AS compacted, TRUE AS content_preserved "
            "FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id "
            "ORDER BY ts DESC, event_id DESC) AS rn FROM events "
            "WHERE user_id IS NOT NULL AND ts IS NOT NULL) WHERE rn = 1"
        ),
        # TPC-H Q14 shape: conditional promo-revenue split
        "sql_promo_revenue": (
            "SELECT CAST(month(l.l_shipdate) AS INTEGER) AS ship_month, "
            + _dsum(
                "CASE WHEN p.p_type LIKE 'PROMO%' THEN l.l_extendedprice * (1.0 - l.l_discount) "
                "ELSE 0.0 END",
                "promo_revenue",
            )
            + ", "
            + _dsum("l.l_extendedprice * (1.0 - l.l_discount)", "total_revenue")
            + ", COUNT(*) AS n_items FROM lineitem l "
            "JOIN part p ON p.p_partkey = l.l_partkey "
            "WHERE l.l_shipdate >= DATE '1996-01-01' AND l.l_shipdate < DATE '1997-01-01' "
            "GROUP BY 1"
        ),
        # TPC-H Q15 shape: revenue == scalar MAX over the same grouped frame
        "sql_top_supplier": (
            "WITH v AS (SELECT l_suppkey AS supplier_no, "
            + _dsum(_REVENUE_SQL, "total_revenue")
            + " FROM lineitem WHERE l_shipdate >= DATE '1996-01-01' "
            "AND l_shipdate < DATE '1996-04-01' GROUP BY l_suppkey) "
            "SELECT s.s_suppkey, s.s_name, r.total_revenue FROM supplier s "
            "JOIN v r ON s.s_suppkey = r.supplier_no "
            "WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM v)"
        ),
        # TPC-H Q6 shape: pure pushed-filter scan aggregate
        "sql_forecast_revenue": (
            "SELECT " + _dsum("l_extendedprice * l_discount", "revenue_delta")
            + ", COUNT(*) AS n_items FROM lineitem "
            "WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01' "
            "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24.0"
        ),
        # TPC-H Q2 shape: per-part minimum realized unit cost membership
        "sql_cheapest_supplier": (
            "WITH cost AS (SELECT l_partkey AS part_key, l_suppkey AS supp_key, "
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / "
            "CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS unit_cost "
            "FROM lineitem GROUP BY 1, 2) "
            "SELECT c.part_key, c.supp_key, c.unit_cost "
            "FROM cost c WHERE c.unit_cost = "
            "(SELECT MIN(c2.unit_cost) FROM cost c2 WHERE c2.part_key = c.part_key)"
        ),
        # TPC-H Q11 shape: per-nation scalar cut (3x average per-part value)
        "sql_important_parts": (
            "WITH v AS (SELECT s.s_nationkey AS nation_key, l.l_partkey AS part_key, "
            "CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS part_value "
            "FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey GROUP BY 1, 2), "
            "tot AS (SELECT nation_key, COUNT(*) AS n_parts FROM v GROUP BY 1), "
            "ntot AS (SELECT s.s_nationkey AS nation_key, "
            "CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS nation_total "
            "FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey GROUP BY 1) "
            "SELECT v.nation_key, v.part_key, v.part_value "
            "FROM v JOIN tot ON v.nation_key = tot.nation_key "
            "JOIN ntot ON v.nation_key = ntot.nation_key "
            "WHERE v.part_value > 3.0 * (ntot.nation_total / tot.n_parts)"
        ),
        # TPC-H Q16 shape: NOT IN exclusion + count-distinct per group
        "sql_supplier_part_variety": (
            "SELECT p.p_brand, p.p_size, COUNT(DISTINCT l.l_suppkey) AS supplier_cnt "
            "FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey "
            "WHERE p.p_brand <> 'Brand#1' "
            "AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0) "
            "GROUP BY 1, 2"
        ),
        # TPC-H Q20 shape: nested IN membership with decimal HAVING bound
        "sql_excess_suppliers": (
            "SELECT s.s_suppkey, s.s_name FROM supplier s "
            "WHERE s.s_suppkey IN ("
            "SELECT l.l_suppkey FROM lineitem l "
            "WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%a%') "
            "AND l.l_shipdate >= DATE '1997-01-01' AND l.l_shipdate < DATE '1998-01-01' "
            "GROUP BY l.l_suppkey "
            "HAVING CAST(SUM(CAST(l.l_quantity AS DECIMAL(30,6))) AS DOUBLE) > 100.0) "
            "AND s.s_acctbal > 0.0"
        ),
        # TPC-H Q10 shape: returned-item revenue losses per customer
        "sql_returned_item_losses": (
            "SELECT c.c_custkey, c.c_name, "
            + _dsum("l.l_extendedprice * (1.0 - l.l_discount)", "revenue")
            + ", c.c_acctbal, n.n_name AS nation_name "
            "FROM customer c "
            "JOIN orders o ON c.c_custkey = o.o_custkey "
            "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey "
            "WHERE o.o_orderdate >= DATE '1995-10-01' "
            "AND o.o_orderdate < DATE '1996-01-01' AND l.l_returnflag = 'R' "
            "GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name"
        ),
        # TPC-H Q12 shape: conditional priority counts for late shipments
        "sql_priority_shipping_split": (
            "SELECT l.l_returnflag, "
            "CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') "
            "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
            "CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') "
            "THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count "
            "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
            "WHERE l.l_shipdate >= DATE '1996-01-01' AND l.l_shipdate < DATE '1997-01-01' "
            "AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY "
            "GROUP BY l.l_returnflag"
        ),
        # bipartite PageRank: unrolled synchronous rounds
        "supplier_pagerank": _pagerank_oracle(iters=2),
        # frame-pinned window profile (whole-partition frame, total order)
        "acctbal_window_profile": (
            "SELECT c_custkey, c_nationkey, c_acctbal, "
            "PERCENT_RANK() OVER w AS pct_rank, "
            "CUME_DIST() OVER w AS cum_dist, "
            "FIRST_VALUE(c_acctbal) OVER wf AS nation_min_bal, "
            "LAST_VALUE(c_acctbal) OVER wf AS nation_max_bal, "
            "NTH_VALUE(c_acctbal, 2) OVER wf AS nation_2nd_bal "
            "FROM customer "
            "WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey), "
            "wf AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
        ),
        # UNPIVOT as UNION ALL over the measure columns
        "lineitem_measures_unpivot": (
            "WITH s AS (SELECT * FROM lineitem "
            "WHERE year(l_shipdate) = 1996 AND month(l_shipdate) = 1) "
            "SELECT l_orderkey, l_linenumber, 'quantity' AS measure, "
            "CAST(l_quantity AS DOUBLE) AS val FROM s "
            "UNION ALL SELECT l_orderkey, l_linenumber, 'extendedprice', "
            "CAST(l_extendedprice AS DOUBLE) FROM s "
            "UNION ALL SELECT l_orderkey, l_linenumber, 'discount', "
            "CAST(l_discount AS DOUBLE) FROM s"
        ),
        # heavy hitters: exact recount makes the MG pass invisible to the
        # result — the oracle is the plain GROUP BY ... HAVING
        "events_heavy_hitters": (
            "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows "
            "FROM events WHERE user_id IS NOT NULL GROUP BY user_id "
            "HAVING COUNT(*) > (SELECT COUNT(*) FROM events "
            "WHERE user_id IS NOT NULL) / 2000.0"
        ),
        # merged monthly partials must equal the single-pass GROUP BY
        "incremental_agg_maintenance": (
            "SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS month, "
            "CAST(COUNT(*) AS BIGINT) AS n_orders, "
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS revenue, "
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS avg_price "
            "FROM orders GROUP BY 1"
        ),
        # k-means IVF: unrolled Lloyd-iteration replay (see _kmeans_oracle)
        "similarity_ivf_kmeans": _kmeans_oracle(k=4, iters=2),
        "similarity_pq_adc": _pq_oracle(m=4, k=8, iters=2, dim=64, nq=3, ktop=10),
        "similarity_pq_refine": _pq_oracle(
            m=4, k=8, iters=2, dim=64, nq=3, ktop=10, refine=50
        ),
        # shard manifest: md5-prefix mod 16 assignment, per-shard stats
        "corpus_shard_manifest": (
            "SELECT CAST((('0x' || substr(md5('shard#' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 16) AS INT) AS shard_id, "
            "CAST(COUNT(*) AS BIGINT) AS n_docs, "
            "CAST(SUM(n_chars) AS BIGINT) AS total_chars, "
            "MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id, "
            "CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources "
            "FROM documents GROUP BY 1"
        ),
        # staging DQ report: orphan-FK + null-rate checks, one row each
        "warehouse_integrity_audit": (
            "SELECT 'lineitem_orphan_orderkey' AS check_name, CAST(COUNT(*) AS BIGINT) AS n_scanned, "
            "CAST(SUM(CASE WHEN l.l_orderkey IS NOT NULL AND p._k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bad "
            "FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey AS _k FROM orders) p ON l.l_orderkey = p._k "
            "UNION ALL SELECT 'lineitem_orphan_partkey', CAST(COUNT(*) AS BIGINT), "
            "CAST(SUM(CASE WHEN l.l_partkey IS NOT NULL AND p._k IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
            "FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey AS _k FROM part) p ON l.l_partkey = p._k "
            "UNION ALL SELECT 'lineitem_orphan_suppkey', CAST(COUNT(*) AS BIGINT), "
            "CAST(SUM(CASE WHEN l.l_suppkey IS NOT NULL AND p._k IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
            "FROM lineitem l LEFT JOIN (SELECT DISTINCT s_suppkey AS _k FROM supplier) p ON l.l_suppkey = p._k "
            "UNION ALL SELECT 'orders_orphan_custkey', CAST(COUNT(*) AS BIGINT), "
            "CAST(SUM(CASE WHEN o.o_custkey IS NOT NULL AND p._k IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
            "FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey AS _k FROM customer) p ON o.o_custkey = p._k "
            "UNION ALL SELECT 'customer_orphan_nationkey', CAST(COUNT(*) AS BIGINT), "
            "CAST(SUM(CASE WHEN c.c_nationkey IS NOT NULL AND p._k IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
            "FROM customer c LEFT JOIN (SELECT DISTINCT CAST(n_nationkey AS BIGINT) AS _k FROM nation) p ON c.c_nationkey = p._k "
            "UNION ALL SELECT 'supplier_orphan_nationkey', CAST(COUNT(*) AS BIGINT), "
            "CAST(SUM(CASE WHEN s.s_nationkey IS NOT NULL AND p._k IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
            "FROM supplier s LEFT JOIN (SELECT DISTINCT CAST(n_nationkey AS BIGINT) AS _k FROM nation) p ON s.s_nationkey = p._k "
            "UNION ALL SELECT 'nation_orphan_regionkey', CAST(COUNT(*) AS BIGINT), "
            "CAST(SUM(CASE WHEN n.n_regionkey IS NOT NULL AND p._k IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
            "FROM nation n LEFT JOIN (SELECT DISTINCT CAST(r_regionkey AS BIGINT) AS _k FROM region) p ON n.n_regionkey = p._k "
            "UNION ALL SELECT 'orders_null_orderdate', CAST(COUNT(*) AS BIGINT), "
            "CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders "
            "UNION ALL SELECT 'documents_null_text', CAST(COUNT(*) AS BIGINT), "
            "CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM documents "
            "UNION ALL SELECT 'events_null_user', CAST(COUNT(*) AS BIGINT), "
            "CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events"
        ),
        # stratified sample: md5-ranked top-k per language stratum (the
        # salted two-stage Spark plan reduces to this single window)
        "corpus_stratified_sample": (
            "SELECT doc_id, lang, source, n_chars, sample_rank FROM ("
            "SELECT doc_id, lang, source, n_chars, "
            "CAST(ROW_NUMBER() OVER (PARTITION BY lang "
            "ORDER BY md5('strat#' || CAST(doc_id AS VARCHAR)), doc_id) AS INT) "
            "AS sample_rank FROM documents) WHERE sample_rank <= 20"
        ),
        # SCD2 gaps-and-islands: runs of identical event_type per user
        # (null-safe state compare; first row per key opens a run)
        "scd2_user_state": (
            "WITH ordered AS (SELECT user_id, event_type, ts, event_id, "
            "CASE WHEN ROW_NUMBER() OVER w = 1 THEN 1 "
            "WHEN event_type IS NOT DISTINCT FROM LAG(event_type) OVER w THEN 0 "
            "ELSE 1 END AS is_change FROM events "
            "WHERE ts IS NOT NULL AND user_id IS NOT NULL "
            "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
            "runs AS (SELECT user_id, event_type, ts, "
            "CAST(SUM(is_change) OVER (PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS UNBOUNDED PRECEDING) AS INT) AS version FROM ordered), "
            "collapsed AS (SELECT user_id, version, MIN(event_type) AS state, "
            "MIN(ts) AS effective_from, CAST(COUNT(*) AS BIGINT) AS n_events "
            "FROM runs GROUP BY user_id, version) "
            "SELECT user_id, version, state, effective_from, "
            "LEAD(effective_from) OVER wv AS effective_to, n_events, "
            "(LEAD(effective_from) OVER wv IS NULL) AS is_current "
            "FROM collapsed WINDOW wv AS (PARTITION BY user_id ORDER BY version)"
        ),
        # point-in-time daily snapshot: per (user, day-from-first-sighting)
        # the history version valid at day end; effective_from ties keep the
        # max version (mirrors the as-of tie reduction)
        "scd2_daily_snapshot": (
            "WITH ordered AS (SELECT user_id, event_type, ts, event_id, "
            "CASE WHEN ROW_NUMBER() OVER w = 1 THEN 1 "
            "WHEN event_type IS NOT DISTINCT FROM LAG(event_type) OVER w THEN 0 "
            "ELSE 1 END AS is_change FROM events "
            "WHERE ts IS NOT NULL AND user_id IS NOT NULL "
            "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
            "runs AS (SELECT user_id, event_type, ts, "
            "CAST(SUM(is_change) OVER (PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS UNBOUNDED PRECEDING) AS INT) AS version FROM ordered), "
            "collapsed AS (SELECT user_id, version, MIN(event_type) AS state, "
            "MIN(ts) AS effective_from FROM runs GROUP BY user_id, version), "
            "hist AS (SELECT * FROM collapsed QUALIFY ROW_NUMBER() OVER "
            "(PARTITION BY user_id, effective_from ORDER BY version DESC) = 1), "
            "bounds AS (SELECT CAST(max(ts) AS DATE) AS max_day FROM events "
            "WHERE ts IS NOT NULL AND user_id IS NOT NULL), "
            "firstd AS (SELECT user_id, CAST(min(ts) AS DATE) AS first_day "
            "FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL GROUP BY user_id), "
            "spine AS (SELECT user_id, CAST(unnest(generate_series(CAST(first_day AS TIMESTAMP), "
            "CAST(max_day AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS snapshot_date "
            "FROM firstd, bounds), "
            "j AS (SELECT s.user_id, s.snapshot_date, h.state, h.version, h.effective_from "
            "FROM spine s JOIN hist h ON h.user_id = s.user_id "
            "AND h.effective_from < CAST(s.snapshot_date + INTERVAL 1 DAY AS TIMESTAMP)) "
            "SELECT user_id, snapshot_date, state, version FROM j "
            "QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, snapshot_date "
            "ORDER BY effective_from DESC, version DESC) = 1"
        ),
        # asymmetric ingest dedup: incoming (doc_id % 10 = 0) vs corpus,
        # same signature/banding/threshold as dedup_minhash_lsh but with
        # the bucket cap on the corpus side only (floor 1, not 2)
        "dedup_incremental_ingest": (
            "WITH tok AS (SELECT doc_id, " + _TOKENS + " AS tk FROM documents), "
            f"sh AS (SELECT doc_id, {_SHINGLES} AS sh FROM tok), "
            "base AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0), "
            "hs AS (SELECT doc_id, sh, list_transform(sh, x -> ('0x' || substr(md5(x), 1, 10))::BIGINT) AS hs FROM base), "
            f"sig AS (SELECT doc_id, {_MINHASH_SIG} AS sig FROM hs), "
            f"banded AS (SELECT doc_id, unnest({_BANDS}) AS band_hash FROM sig), "
            "corp AS (SELECT doc_id, band_hash FROM banded WHERE doc_id % 10 != 0), "
            "inc AS (SELECT doc_id, band_hash FROM banded WHERE doc_id % 10 = 0), "
            "keep AS (SELECT band_hash FROM corp GROUP BY band_hash "
            "HAVING COUNT(DISTINCT doc_id) <= 1024), "
            "cand AS (SELECT DISTINCT i.doc_id AS in_id, c.doc_id AS corp_id FROM inc i "
            "JOIN keep k ON i.band_hash = k.band_hash JOIN corp c ON i.band_hash = c.band_hash), "
            "ver AS (SELECT cand.in_id, cand.corp_id, "
            "round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / "
            "CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 6) AS jac "
            "FROM cand JOIN base a ON cand.in_id = a.doc_id JOIN base b ON cand.corp_id = b.doc_id), "
            "m AS (SELECT in_id, CAST(COUNT(*) AS BIGINT) AS n_corpus_dups, MAX(jac) AS best_jaccard "
            "FROM ver WHERE jac >= 0.2 GROUP BY in_id) "
            "SELECT d.doc_id, COALESCE(m.n_corpus_dups, CAST(0 AS BIGINT)) AS n_corpus_dups, "
            "m.best_jaccard, m.in_id IS NULL AS accepted "
            "FROM documents d LEFT JOIN m ON d.doc_id = m.in_id WHERE d.doc_id % 10 = 0"
        ),
        # deterministic hash split: bucket = first 15 hex digits of the
        # domain-separated md5, mod 100 (nonneg, so % == pmod)
        "corpus_split_assignment": (
            "SELECT doc_id, lang, source, "
            "CAST(('0x' || substr(md5('split#' || doc_id), 1, 15))::BIGINT % 100 AS INT) AS bucket, "
            "CASE WHEN ('0x' || substr(md5('split#' || doc_id), 1, 15))::BIGINT % 100 < 90 THEN 'train' "
            "WHEN ('0x' || substr(md5('split#' || doc_id), 1, 15))::BIGINT % 100 < 95 THEN 'val' "
            "ELSE 'test' END AS split FROM documents"
        ),
        # per-column profile: one aggregate per column UNION'd — counts
        # are representation-invariant, so DuckDB counts native values
        # while Spark counts the stringified unpivot; null_frac is a
        # single int/int division (bit-identical cross-engine)
        "lineitem_column_profile": " UNION ALL ".join(
            f"SELECT '{c}' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows, "
            f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, "
            f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct, "
            f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / "
            f"CAST(COUNT(*) AS DOUBLE) AS null_frac FROM lineitem"
            for c in (
                "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                "l_returnflag", "l_linestatus", "l_shipdate",
            )
        ),
        # verdict form (events_sketch_profile_checked pattern): exact
        # columns computed by the oracle, the HLL accuracy boolean pinned
        # TRUE — counting is over the same stringified representation as
        # the Spark stack unpivot, but COUNT semantics are
        # representation-invariant so raw columns serve verbatim
        "lineitem_column_profile_approx": " UNION ALL ".join(
            f"SELECT '{c}' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows, "
            f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, "
            f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / "
            f"CAST(COUNT(*) AS DOUBLE) AS null_frac, "
            f"TRUE AS approx_distinct_ok FROM lineitem"
            for c in (
                "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                "l_returnflag", "l_linestatus", "l_shipdate",
            )
        ),
        # corpus-LM unigram scoring: p(w)=n_w/N one double division,
        # cnt*p quantized DECIMAL(30,12) exact sum, one more division —
        # no logs anywhere (ln is not IEEE-exact cross-engine)
        "doc_unigram_score": (
            "WITH words AS (SELECT doc_id, word FROM ("
            "SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word "
            "FROM documents WHERE text IS NOT NULL) WHERE word <> ''), "
            "dw AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS cnt "
            "FROM words GROUP BY doc_id, word), "
            "v AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_w FROM words GROUP BY word), "
            "t AS (SELECT CAST(SUM(n_w) AS BIGINT) AS n_total FROM v) "
            "SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens, "
            "CAST(SUM(CAST(cnt * (CAST(n_w AS DOUBLE) / CAST(n_total AS DOUBLE)) "
            "AS DECIMAL(30,12))) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS mean_token_p "
            "FROM dw JOIN v USING (word) CROSS JOIN t GROUP BY doc_id"
        ),
        # embedding QC: decimal-exact centroid + d2 moment sums, z-scored
        # top-k cut on the UNROUNDED z (display rounding only)
        "embedding_outliers": (
            "WITH v AS (SELECT vec_id, label, "
            "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv FROM embeddings), "
            "cm AS (SELECT pos, CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS mu "
            "FROM (SELECT unnest(vv) AS x, unnest(range(1, len(vv) + 1)) AS pos FROM v) "
            "GROUP BY pos), "
            "c AS (SELECT list(mu ORDER BY pos) AS cv FROM cm), "
            "sc AS (SELECT vec_id, label, "
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            "list_transform(list_zip(vv, cv), p -> "
            "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
            "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), (u, v2) -> u + v2) AS d2 "
            "FROM v CROSS JOIN c), "
            "st AS (SELECT CAST(SUM(CAST(d2 AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS m1, "
            "CAST(SUM(CAST(d2 * d2 AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS m2 FROM sc), "
            "zz AS (SELECT vec_id, label, d2, "
            "CASE WHEN sqrt(m2 - m1 * m1) > 0 THEN (d2 - m1) / sqrt(m2 - m1 * m1) END AS z "
            "FROM sc CROSS JOIN st) "
            "SELECT vec_id, label, ROUND(d2, 6) AS dist2, ROUND(z, 6) AS zscore, rank "
            "FROM (SELECT vec_id, label, d2, z, "
            "CAST(ROW_NUMBER() OVER (ORDER BY z DESC, vec_id) AS INT) AS rank FROM zz) "
            "WHERE rank <= 20"
        ),
        # temperature mixture plan: sqrt is IEEE-exact (unlike pow), the
        # cross-source total is a DECIMAL(30,12) exact sum, every ratio a
        # single double division — no rounding anywhere
        "corpus_mixture_plan": (
            "WITH per_src AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
            "CAST(SUM(n_chars) AS BIGINT) AS total_chars, "
            "CAST(sqrt(CAST(COUNT(*) AS DOUBLE)) AS DECIMAL(30,12)) AS s "
            "FROM documents GROUP BY source), "
            "tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n, SUM(s) AS ss FROM per_src) "
            "SELECT source, n_docs, total_chars, "
            "CAST(n_docs AS DOUBLE) / CAST(n AS DOUBLE) AS natural_share, "
            "CAST(s AS DOUBLE) / CAST(ss AS DOUBLE) AS temp_share, "
            "(CAST(s AS DOUBLE) / CAST(ss AS DOUBLE)) / "
            "(CAST(n_docs AS DOUBLE) / CAST(n AS DOUBLE)) AS repeat_factor "
            "FROM per_src CROSS JOIN tot"
        ),
        # deterministic epoch permutation: first-nibble range shard +
        # per-shard rank over the full hash (doc_id formal tiebreak)
        "corpus_epoch_shuffle": (
            "SELECT doc_id, "
            "CAST(('0x' || substr(md5('epoch1#' || doc_id), 1, 1))::BIGINT AS INT) AS shard_id, "
            "CAST(ROW_NUMBER() OVER (PARTITION BY ('0x' || substr(md5('epoch1#' || doc_id), 1, 1))::BIGINT "
            "ORDER BY md5('epoch1#' || doc_id), doc_id) AS BIGINT) AS pos "
            "FROM documents"
        ),
        # BPE merge mining: vocabulary from lowercase letter runs, pair
        # explode over distinct words only (mirrors the Spark
        # vocabulary-sized decomposition), HUGEINT sum cast back
        "bpe_merge_candidates": (
            "WITH vocab AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq "
            "FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word "
            "FROM documents WHERE text IS NOT NULL) WHERE word <> '' GROUP BY word), "
            "pairs AS (SELECT substring(word, CAST(i AS INT), 2) AS pair, word, freq "
            "FROM (SELECT word, freq, unnest(range(1, length(word))) AS i "
            "FROM vocab WHERE length(word) >= 2)) "
            "SELECT pair, n_words, pair_count, rank FROM ("
            "SELECT pair, n_words, pair_count, "
            "CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS INT) AS rank "
            "FROM (SELECT pair, CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words, "
            "CAST(SUM(freq) AS BIGINT) AS pair_count FROM pairs GROUP BY pair)) "
            "WHERE rank <= 30"
        ),
        # BPE encode: replay the miner's top-8 cut, mark mergeable
        # adjacent positions per word, and count greedy merges as
        # ceil(run/2) over the '0'-split runs of the mark string —
        # closed form, no fold, identical semantics both engines
        "bpe_encode_stats": (
            "WITH vocab AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq "
            "FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word "
            "FROM documents WHERE text IS NOT NULL) WHERE word <> '' GROUP BY word), "
            "vpairs AS (SELECT substring(word, CAST(i AS INT), 2) AS pair, word, freq "
            "FROM (SELECT word, freq, unnest(range(1, length(word))) AS i "
            "FROM vocab WHERE length(word) >= 2)), "
            "ranked AS (SELECT pair, ROW_NUMBER() OVER ("
            "ORDER BY pair_count DESC, pair) AS rank "
            "FROM (SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count "
            "FROM vpairs GROUP BY pair)), "
            "ms AS (SELECT list(pair ORDER BY rank) AS ml FROM ranked WHERE rank <= 8), "
            "words AS (SELECT doc_id, w FROM (SELECT doc_id, "
            "unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w "
            "FROM documents WHERE text IS NOT NULL) WHERE w <> ''), "
            "marked AS (SELECT doc_id, w, CASE WHEN length(w) < 2 THEN '' ELSE "
            "array_to_string(list_transform(range(1, length(w)), "
            "i -> CASE WHEN list_contains(ml, substring(w, CAST(i AS INT), 2)) "
            "THEN '1' ELSE '0' END), '') END AS bits FROM words, ms), "
            "counted AS (SELECT doc_id, CAST(length(w) AS BIGINT) AS n_chars, "
            "CAST(length(w) AS BIGINT) - CAST(list_sum(list_transform("
            "string_split(bits, '0'), f -> (length(f) + 1) // 2)) AS BIGINT) AS n_tokens "
            "FROM marked) "
            "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words, "
            "CAST(SUM(n_chars) AS BIGINT) AS n_alpha_chars, "
            "CAST(SUM(n_tokens) AS BIGINT) AS n_bpe_tokens, "
            "ROUND(CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE), 6) "
            "AS chars_per_token "
            "FROM counted GROUP BY doc_id"
        ),
        # TPC-H Q21 shape: only-late supplier on finalized multi-supplier
        # orders (late = shipped > 60 days after order date)
        "sql_waiting_suppliers": (
            "SELECT n.n_name AS nation, s.s_name AS s_name, COUNT(*) AS numwait "
            "FROM supplier s "
            "JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey "
            "JOIN orders o ON o.o_orderkey = l1.l_orderkey "
            "JOIN nation n ON n.n_nationkey = s.s_nationkey "
            "WHERE o.o_orderstatus = 'F' "
            "AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY "
            "AND EXISTS (SELECT 1 FROM lineitem l2 "
            "WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey) "
            "AND NOT EXISTS (SELECT 1 FROM lineitem l3 "
            "WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey "
            "AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) "
            "GROUP BY n.n_name, s.s_name"
        ),
        # winnowing fingerprint overlap pairs (capped buckets, 20% of the
        # smaller side's fingerprint set)
        "doc_winnow_pairs": (
            "WITH norm AS (SELECT doc_id, "
            "trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s FROM documents), "
            "g AS (SELECT doc_id, list_transform(range(1, len(s) - 6), "
            "i -> ('0x' || substr(md5(substr(s, i, 8)), 1, 7))::BIGINT) AS hs "
            "FROM norm WHERE len(s) >= 11), "
            "m AS (SELECT doc_id, list_distinct(list_transform(range(1, len(hs) - 2), "
            "j -> list_min(hs[j:j+3]))) AS fps FROM g), "
            "fpx AS (SELECT doc_id, unnest(fps) AS fp FROM m), "
            "sizes AS (SELECT doc_id, COUNT(*) AS n_fp FROM fpx GROUP BY 1), "
            "buckets AS (SELECT fp, list_sort(list(DISTINCT doc_id)) AS ids "
            "FROM fpx GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND 64), "
            "pr AS (SELECT unnest(flatten(list_transform(ids, (x, i) -> "
            "list_transform(ids[(i+1):], y -> [x, y])))) AS p FROM buckets), "
            "shared AS (SELECT p[1] AS id_a, p[2] AS id_b, COUNT(*) AS n_shared "
            "FROM pr GROUP BY 1, 2) "
            "SELECT s.id_a, s.id_b, s.n_shared, "
            "round(s.n_shared / least(a.n_fp, b.n_fp), 6) AS overlap "
            "FROM shared s JOIN sizes a ON s.id_a = a.doc_id "
            "JOIN sizes b ON s.id_b = b.doc_id "
            "WHERE round(s.n_shared / least(a.n_fp, b.n_fp), 6) >= 0.2"
        ),
        # int8 scalar quantization diagnostics — identical double math
        # (floor(x/s + 0.5)) on both engines, so no tolerances needed
        "embedding_quantize": (
            "WITH staged AS (SELECT vec_id, "
            "list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x FROM embeddings), "
            "s2 AS (SELECT vec_id, x, list_max(list_transform(x, v -> abs(v))) AS maxabs FROM staged), "
            "q AS (SELECT vec_id, x, maxabs, list_transform(x, v -> CASE WHEN maxabs > 0 "
            "THEN CAST(floor(v / (maxabs / 127.0) + 0.5) AS BIGINT) ELSE 0 END) AS qs FROM s2) "
            "SELECT vec_id, CAST(len(x) AS BIGINT) AS n_dims, round(maxabs, 6) AS max_abs, "
            "CAST(len(list_filter(qs, v -> v != 0)) AS BIGINT) AS n_nonzero, "
            "round(list_max(list_transform(list_zip(x, qs), p -> "
            "abs(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * (maxabs / 127.0)))), 6) AS max_abs_err "
            "FROM q"
        ),
    }


def _zorder_terms(xcol: str, ycol: str, bits: int = 16) -> str:
    # mirror of functions.keys.zorder_key: sum of interleaved bit terms,
    # fully parenthesized (DuckDB's >>/& precedence differs from Python)
    terms: list[str] = []
    for i in range(bits):
        terms.append(f"((({xcol} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ycol} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def oracle_sql() -> dict[str, str]:
    out = _ext_oracles()
    out.update({
        "orders_backlog_series": (
            # +1 at order date, -1 at last ship date, running net
            "WITH opened AS (SELECT CAST(o_orderdate AS DATE) AS day, 1 AS delta FROM orders "
            "WHERE o_orderdate IS NOT NULL), "
            "closed AS (SELECT day, delta FROM (SELECT MAX(CAST(l_shipdate AS DATE)) AS day, -1 AS delta "
            "FROM lineitem GROUP BY l_orderkey) WHERE day IS NOT NULL), "
            "daily AS (SELECT day, "
            "CAST(SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_opened, "
            "CAST(SUM(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_closed, "
            "SUM(delta) AS net FROM (SELECT * FROM opened UNION ALL SELECT * FROM closed) GROUP BY 1) "
            "SELECT day, n_opened, n_closed, "
            "CAST(SUM(net) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS backlog "
            "FROM daily"
        ),
        "events_hll_mergeable_rollup": (
            # deterministic columns + literal TRUE verdict — a broken
            # sketch union flips the boolean and fails the value hash
            "SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week, "
            "COUNT(DISTINCT CAST(ts AS DATE)) AS n_days, "
            "COUNT(DISTINCT user_id) AS exact_users, "
            "TRUE AS merged_estimate_ok "
            "FROM events WHERE ts IS NOT NULL GROUP BY 1, 2"
        ),
        "dedup_prefix_filter": (
            # prefix filter over word 5-shingles: rarity rank (df,
            # shingle) per doc, prefix cut n - ceil(t*n) + 1, bucket cap
            # 2..1024, exact-jaccard verify on the full shingle sets
            "WITH tok AS (SELECT doc_id, " + _TOKENS + " AS tk FROM documents), "
            "shx AS (SELECT doc_id, "
            "CASE WHEN len(tk) >= 5 THEN list_distinct(list_transform(range(0, len(tk) - 4), "
            "i -> array_to_string(tk[(i+1):(i+5)], ' '))) ELSE [] END AS sh FROM tok), "
            "base AS (SELECT doc_id, sh FROM shx WHERE len(sh) > 0), "
            "td AS (SELECT doc_id, unnest(sh) AS token FROM base), "
            "dfreq AS (SELECT token, COUNT(*) AS df FROM td GROUP BY 1), "
            "ranked AS (SELECT td.doc_id, td.token, "
            "row_number() OVER (PARTITION BY td.doc_id ORDER BY df, token) AS rn, "
            "COUNT(*) OVER (PARTITION BY td.doc_id) AS n FROM td JOIN dfreq USING (token)), "
            "pref AS (SELECT doc_id, token FROM ranked "
            "WHERE rn <= n - CAST(ceil(0.5 * n) AS BIGINT) + 1), "
            "pb AS (SELECT token FROM pref GROUP BY token HAVING COUNT(*) BETWEEN 2 AND 1024), "
            "pp AS (SELECT pref.* FROM pref JOIN pb USING (token)), "
            "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
            "FROM pp a JOIN pp b ON a.token = b.token AND a.doc_id < b.doc_id) "
            "SELECT id_a, id_b, "
            "round(CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE) / len(list_distinct(ta.sh || tb.sh)), 6) AS jaccard "
            "FROM cand JOIN base ta ON ta.doc_id = cand.id_a JOIN base tb ON tb.doc_id = cand.id_b "
            "WHERE round(CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE) / len(list_distinct(ta.sh || tb.sh)), 6) >= 0.5"
        ),
        "events_stream_sliding": (
            # scatter each event to its four 15-min-aligned hour windows
            "WITH k AS (SELECT unnest(generate_series(0, 3)) AS k), "
            "s AS (SELECT e.event_type, e.value, "
            "time_bucket(INTERVAL '15 minutes', e.ts) - (k.k * INTERVAL '15 minutes') AS window_start "
            "FROM events e, k WHERE e.ts IS NOT NULL) "
            "SELECT CAST(window_start AS TIMESTAMP) AS window_start, event_type, "
            "COUNT(*) AS n_events, "
            "CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value "
            "FROM s GROUP BY 1, 2"
        ),
        "events_ohlc": (
            # row_number first/last: neither engine's argmin takes a
            # composite tie-break, but rank semantics match everywhere
            "WITH e AS (SELECT event_type, CAST(ts AS DATE) AS d, ts, event_id, value "
            "FROM events WHERE value IS NOT NULL), "
            "r AS (SELECT event_type, d, value, "
            "row_number() OVER (PARTITION BY event_type, d ORDER BY ts, event_id) AS rn, "
            "COUNT(*) OVER (PARTITION BY event_type, d) AS n FROM e) "
            "SELECT event_type, d, "
            "MAX(CASE WHEN rn = 1 THEN value END) AS open, "
            "MAX(value) AS high, MIN(value) AS low, "
            "MAX(CASE WHEN rn = n THEN value END) AS close, "
            "COUNT(*) AS n_ticks FROM r GROUP BY 1, 2"
        ),
        "events_anomaly_mad": (
            # median + MAD as whole-partition quantile windows; 6dp
            # rounding on both percentiles; identical arithmetic order
            "WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, "
            "CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS daily_total, COUNT(*) AS n_events "
            "FROM events GROUP BY 1, 2), "
            "m AS (SELECT *, round(quantile_cont(daily_total, 0.5) OVER (PARTITION BY event_type), 6) AS med FROM daily), "
            "dv AS (SELECT *, round(quantile_cont(abs(daily_total - med), 0.5) OVER (PARTITION BY event_type), 6) AS mad FROM m) "
            "SELECT event_type, d, daily_total, n_events, "
            "CASE WHEN mad > 0 THEN (0.6745 * (daily_total - med)) / mad END AS robust_z, "
            "COALESCE(abs(CASE WHEN mad > 0 THEN (0.6745 * (daily_total - med)) / mad END) > 2.5, FALSE) AS is_anomaly "
            "FROM dv"
        ),
        "graph_hop_distance": (
            # directed doubled-edge table keeps the recursive join
            # hashable; UNION dedup + hops < 4 bound termination; MIN
            # collapses revisits at higher hops
            "WITH RECURSIVE e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), "
            "seed AS (SELECT MIN(s) AS s FROM e), "
            "d AS (SELECT 'S' AS ft, s AS fi, 'C' AS tt, c AS ti FROM e "
            "UNION ALL SELECT 'C', c, 'S', s FROM e), "
            "walk(node_type, node_id, hops) AS ("
            "SELECT 'S', s, 0 FROM seed "
            "UNION "
            "SELECT d.tt, d.ti, w.hops + 1 FROM walk w "
            "JOIN d ON d.ft = w.node_type AND d.fi = w.node_id WHERE w.hops < 4) "
            "SELECT node_type, node_id, CAST(MIN(hops) AS INTEGER) AS hops "
            "FROM walk GROUP BY 1, 2"
        ),
        "events_transition_matrix": (
            # LAG per user, counts collapsed before the normalizing
            # window; BIGINT cast keeps the division on the IEEE path
            "WITH e AS (SELECT user_id, ts, event_id, event_type FROM events "
            "WHERE user_id IS NOT NULL AND ts IS NOT NULL), "
            "p AS (SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type, "
            "event_type AS next_type FROM e) "
            "SELECT prev_type, next_type, COUNT(*) AS n_transitions, "
            "COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY prev_type) AS BIGINT) AS p_transition "
            "FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2"
        ),
        "customer_rfm_scores": (
            # quintile cutpoints rounded to 6dp (the proven percentile
            # surface); R counts cutpoints above (small days = recent),
            # F/M below; scores are row-local threshold sums
            "WITH pc AS (SELECT o_custkey, "
            "CAST(datediff('day', MAX(CAST(o_orderdate AS DATE)), DATE '2002-01-01') AS BIGINT) AS recency_days, "
            "COUNT(*) AS frequency, CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS monetary "
            "FROM orders GROUP BY 1), "
            "st AS (SELECT "
            + ", ".join(
                f"round(quantile_cont({m}, {q}), 6) AS {m[0]}p{i}"
                for m in ("recency_days", "frequency", "monetary")
                for i, q in enumerate((0.2, 0.4, 0.6, 0.8), start=1)
            )
            + " FROM pc), "
            "sc AS (SELECT o_custkey, recency_days, frequency, monetary, "
            "CAST(1 + "
            + " + ".join(f"(CASE WHEN rp{i} > recency_days THEN 1 ELSE 0 END)" for i in range(1, 5))
            + " AS INTEGER) AS r_score, "
            "CAST(1 + "
            + " + ".join(f"(CASE WHEN frequency > fp{i} THEN 1 ELSE 0 END)" for i in range(1, 5))
            + " AS INTEGER) AS f_score, "
            "CAST(1 + "
            + " + ".join(f"(CASE WHEN monetary > mp{i} THEN 1 ELSE 0 END)" for i in range(1, 5))
            + " AS INTEGER) AS m_score FROM pc, st) "
            "SELECT *, CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS rfm_segment FROM sc"
        ),
        "lineitem_abc_pareto": (
            # the oracle runs the plain global cumulative window; the
            # Spark side's decile decomposition must sum the identical
            # decimal addends, so the doubles match bit-for-bit
            "WITH r AS (SELECT l_partkey, "
            "SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS rev "
            "FROM lineitem GROUP BY 1), "
            "t AS (SELECT SUM(rev) AS total FROM r), "
            "c AS (SELECT l_partkey, CAST(rev AS DOUBLE) AS revenue, "
            "CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum FROM r) "
            "SELECT l_partkey, revenue, cum / CAST(t.total AS DOUBLE) AS cum_share, "
            "CASE WHEN cum / CAST(t.total AS DOUBLE) <= 0.80 THEN 'A' "
            "WHEN cum / CAST(t.total AS DOUBLE) <= 0.95 THEN 'B' ELSE 'C' END AS abc_class "
            "FROM c, t"
        ),
        # the approx twin shares the EXACT oracle: its approx_percentile
        # cutpoints are only a partitioning device (row-local strict->
        # binning + per-bin windows + triangular offsets reconstruct the
        # identical global cumulative order for ANY threshold set), so
        # the output is provably byte-identical to the exact form
        "lineitem_abc_pareto_approx": (
            "WITH r AS (SELECT l_partkey, "
            "SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS rev "
            "FROM lineitem GROUP BY 1), "
            "t AS (SELECT SUM(rev) AS total FROM r), "
            "c AS (SELECT l_partkey, CAST(rev AS DOUBLE) AS revenue, "
            "CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum FROM r) "
            "SELECT l_partkey, revenue, cum / CAST(t.total AS DOUBLE) AS cum_share, "
            "CASE WHEN cum / CAST(t.total AS DOUBLE) <= 0.80 THEN 'A' "
            "WHEN cum / CAST(t.total AS DOUBLE) <= 0.95 THEN 'B' ELSE 'C' END AS abc_class "
            "FROM c, t"
        ),
        # approx RFM: deterministic base columns computed exactly; the
        # +/-1 approx-vs-exact score verdicts the Spark plan derives are
        # pinned to literal TRUE (the events_sketch_profile discipline)
        "customer_rfm_scores_approx": (
            "SELECT o_custkey, "
            "CAST(datediff('day', MAX(CAST(o_orderdate AS DATE)), DATE '2002-01-01') AS BIGINT) AS recency_days, "
            "COUNT(*) AS frequency, CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS monetary, "
            "TRUE AS r_score_ok, TRUE AS f_score_ok, TRUE AS m_score_ok "
            "FROM orders GROUP BY 1"
        ),
        "events_gapfill_locf": (
            # per-type hourly spine via generate_series; decimal-sum
            # average; IGNORE NULLS running last_value carries it forward
            "WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS n, "
            "SUM(CAST(value AS DECIMAL(30,6))) AS sv, COUNT(value) AS nv FROM events "
            "WHERE ts IS NOT NULL GROUP BY 1, 2), "
            "b AS (SELECT event_type, MIN(hr) AS mn, MAX(hr) AS mx FROM h GROUP BY 1), "
            "s AS (SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr FROM b), "
            "j AS (SELECT s.event_type, s.hr, h.n, "
            "CASE WHEN h.nv > 0 THEN CAST(h.sv AS DOUBLE) / h.nv END AS avg_v, "
            # null-safe type match: a NULL-event_type series is still a
            # series, and the Spark side's scatter keeps it
            "h.n IS NULL AS is_gap FROM s LEFT JOIN h ON s.event_type IS NOT DISTINCT FROM h.event_type AND s.hr = h.hr) "
            "SELECT event_type, CAST(hr AS TIMESTAMP) AS hr, CAST(COALESCE(n, 0) AS BIGINT) AS n_events, is_gap, "
            "last_value(avg_v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY hr "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf FROM j"
        ),
        "events_twap": (
            # LEAD inside the (type, day) partition, integer-microsecond
            # weights, decimal weighted sum, one closing double division
            "WITH e AS (SELECT event_type, CAST(ts AS DATE) AS d, ts, event_id, value "
            "FROM events WHERE value IS NOT NULL), "
            "p AS (SELECT event_type, d, value, "
            "epoch_us(lead(ts) OVER (PARTITION BY event_type, d ORDER BY ts, event_id)) - epoch_us(ts) AS dt_us FROM e) "
            "SELECT event_type, d, COUNT(*) AS n_intervals, CAST(SUM(dt_us) AS BIGINT) AS span_us, "
            # scale 2 (the value grain): keeps the summed unscaled int
            # under 2^53 so DuckDB's decimal->double cast rounds once;
            # width 30 because DuckDB's multiply keeps the wider OPERAND
            # width and 18 overflows on sparse days; divisor cast to
            # BIGINT because DOUBLE / DECIMAL(38,0) is a non-IEEE path
            "CAST(SUM(CAST(value AS DECIMAL(30,2)) * CAST(dt_us AS DECIMAL(14,0))) AS DOUBLE) / CAST(SUM(dt_us) AS BIGINT) AS twap "
            "FROM p WHERE dt_us IS NOT NULL GROUP BY 1, 2"
        ),
        "events_attribution_decayed": (
            # exact exponential decay: integer-scaled decimal sum, one
            # closing division by 2^20 — no transcendental executes
            "WITH e AS (SELECT user_id, ts, event_id, event_type, value FROM events "
            "WHERE user_id IS NOT NULL AND ts IS NOT NULL), "
            "a AS (SELECT event_type, value, CAST(ts AS DATE) AS p_day, "
            "last_value(CASE WHEN event_type <> 'purchase' THEN "
            "struct_pack(d := CAST(ts AS DATE), t := event_type) END IGNORE NULLS) OVER w AS lt "
            "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), "
            "b AS (SELECT lt.t AS channel, value, datediff('day', lt.d, p_day) AS age_days "
            "FROM a WHERE event_type = 'purchase'), "
            "c AS (SELECT channel, value, age_days FROM b "
            "WHERE channel IS NOT NULL AND age_days <= 20 AND value IS NOT NULL) "
            "SELECT channel, COUNT(*) AS n_purchases, "
            "CAST(SUM(CAST(value AS DECIMAL(18,2)) * "
            "CAST((CAST(1 AS BIGINT) << (20 - age_days)) AS DECIMAL(12,0))) AS DOUBLE) / 1048576.0 AS decayed_value "
            "FROM c GROUP BY 1"
        ),
        "sql_small_quantity_revenue": (
            # Q17: decorrelated per-part AVG threshold; decimal-exact
            # average, one 0.2x scaling, closing /7.0 annualization
            "WITH pa AS (SELECT l_partkey, "
            "0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) / COUNT(l_quantity)) AS qty_cut "
            "FROM lineitem GROUP BY l_partkey) "
            "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) / 7.0 AS avg_yearly, "
            "COUNT(*) AS n_small "
            "FROM lineitem JOIN part ON p_partkey = l_partkey "
            "JOIN pa ON pa.l_partkey = lineitem.l_partkey "
            "WHERE p_brand = 'Brand#4' AND p_size <= 10 AND l_quantity < qty_cut"
        ),
        "daily_sales_range_frame": (
            # RANGE frame over epoch days: last 7 CALENDAR days, so a
            # gapped series shrinks the window instead of reaching back
            "WITH d AS (SELECT CAST(o_orderdate AS DATE) AS order_day, "
            "SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS _d, COUNT(*) AS n_orders "
            "FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1), "
            "n AS (SELECT *, datediff('day', DATE '1970-01-01', order_day) AS _day_n FROM d) "
            "SELECT order_day, CAST(_d AS DOUBLE) AS daily_sales, n_orders, "
            "COUNT(*) OVER w AS days_in_window, "
            "CAST(SUM(_d) OVER w AS DOUBLE) / (COUNT(*) OVER w) AS range7_avg "
            "FROM n WINDOW w AS (ORDER BY _day_n RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)"
        ),
        "brand_share_within_type": (
            # percent-of-parent via a whole-partition window over the
            # (type x brand) aggregate; decimal until the one division
            "WITH r AS (SELECT l_partkey, "
            "SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS _rev, "
            "COUNT(*) AS _n FROM lineitem GROUP BY 1), "
            "b AS (SELECT p_type, p_brand, SUM(_rev) AS br, CAST(SUM(_n) AS BIGINT) AS n_items "
            "FROM r LEFT JOIN part ON l_partkey = p_partkey GROUP BY 1, 2) "
            "SELECT p_type, p_brand, CAST(br AS DOUBLE) AS brand_revenue, n_items, "
            "CAST(br AS DOUBLE) / CAST(SUM(br) OVER (PARTITION BY p_type) AS DOUBLE) AS share_of_type "
            "FROM b"
        ),
        "events_attribution": (
            # strictly-preceding frame: a purchase never attributes to
            # itself; opening purchases land in the (NULL, NULL) bucket
            "WITH e AS (SELECT user_id, ts, event_id, event_type, value FROM events "
            "WHERE user_id IS NOT NULL AND ts IS NOT NULL), "
            "a AS (SELECT event_type, value, "
            "first_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS) OVER w AS first_touch, "
            "last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS) OVER w AS last_touch "
            "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) "
            "SELECT first_touch, last_touch, COUNT(*) AS n_purchases, "
            "CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS attributed_value "
            "FROM a WHERE event_type = 'purchase' GROUP BY 1, 2"
        ),
        "basket_part_pairs": (
            "WITH bp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) "
            "SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders "
            "FROM bp a JOIN bp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
            "GROUP BY 1, 2 HAVING COUNT(*) >= 2"
        ),
        "events_active_users": (
            # rolling distinct via the same 7-anchor scatter decomposition
            "WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events "
            "WHERE user_id IS NOT NULL), "
            "dau AS (SELECT d, COUNT(DISTINCT user_id) AS dau FROM du GROUP BY 1), "
            "offs AS (SELECT unnest(generate_series(0, 6)) AS off), "
            "anchored AS (SELECT du.d + CAST(offs.off AS INTEGER) AS anchor, du.user_id FROM du, offs), "
            "wau AS (SELECT anchor, COUNT(DISTINCT user_id) AS wau FROM anchored GROUP BY 1) "
            "SELECT dau.d, dau.dau, wau.wau, dau.dau / wau.wau AS stickiness "
            "FROM dau JOIN wau ON dau.d = wau.anchor"
        ),
        "events_value_binning": (
            # quantile_cont mirrors Spark percentile at 6dp (proven by
            # events_value_quantiles); NULL values excluded on both sides
            "WITH e AS (SELECT event_type, value FROM events WHERE value IS NOT NULL), "
            "cuts AS (SELECT event_type, round(quantile_cont(value, 0.1), 6) AS p1, round(quantile_cont(value, 0.2), 6) AS p2, round(quantile_cont(value, 0.3), 6) AS p3, round(quantile_cont(value, 0.4), 6) AS p4, round(quantile_cont(value, 0.5), 6) AS p5, round(quantile_cont(value, 0.6), 6) AS p6, round(quantile_cont(value, 0.7), 6) AS p7, round(quantile_cont(value, 0.8), 6) AS p8, round(quantile_cont(value, 0.9), 6) AS p9 FROM e GROUP BY 1), "
            "b AS (SELECT e.event_type, CAST(CASE WHEN e.value > c.p1 THEN 1 ELSE 0 END + CASE WHEN e.value > c.p2 THEN 1 ELSE 0 END + CASE WHEN e.value > c.p3 THEN 1 ELSE 0 END + CASE WHEN e.value > c.p4 THEN 1 ELSE 0 END + CASE WHEN e.value > c.p5 THEN 1 ELSE 0 END + CASE WHEN e.value > c.p6 THEN 1 ELSE 0 END + CASE WHEN e.value > c.p7 THEN 1 ELSE 0 END + CASE WHEN e.value > c.p8 THEN 1 ELSE 0 END + CASE WHEN e.value > c.p9 THEN 1 ELSE 0 END AS INTEGER) AS bin, e.value "
            "FROM e JOIN cuts c ON e.event_type = c.event_type) "
            "SELECT event_type, bin, COUNT(*) AS n_events, "
            "MIN(value) AS lo, MAX(value) AS hi FROM b GROUP BY 1, 2"
        ),
        "events_stream_enriched": (
            "SELECT e.event_id, e.user_id, UPPER(TRIM(c.c_mktsegment)) AS segment, e.value "
            "FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey"
        ),
        "doc_chunking": (
            # list-form generate_series + unnest mirrors Spark's sequence
            # stride (the table-function form cannot take column params)
            "WITH g AS (SELECT doc_id, text, "
            "unnest(generate_series(0, CAST(length(text) AS BIGINT) - 1, 150)) AS s "
            "FROM documents WHERE text IS NOT NULL AND length(text) > 0) "
            "SELECT doc_id, CAST(s / 150 AS INTEGER) AS chunk_id, "
            "CAST(s AS INTEGER) AS chunk_start, "
            "substr(text, CAST(s AS INTEGER) + 1, 200) AS chunk_text, "
            "CAST(length(substr(text, CAST(s AS INTEGER) + 1, 200)) AS INTEGER) AS chunk_chars "
            "FROM g"
        ),
        "daily_sales_moving_avg": (
            # decimal inside the window frame; single double division
            "WITH d AS (SELECT CAST(o_orderdate AS DATE) AS order_day, "
            "SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS _d, COUNT(*) AS n_orders "
            "FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1) "
            "SELECT order_day, CAST(_d AS DOUBLE) AS daily_sales, n_orders, "
            "CAST(SUM(_d) OVER w AS DOUBLE) / (COUNT(*) OVER w) AS mov7_avg "
            "FROM d WINDOW w AS (ORDER BY order_day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"
        ),
        "events_funnel": (
            # strictly-sequential funnel: each step joins the previous
            # step's per-user entry time and keeps events at-or-after it
            "WITH e AS (SELECT user_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s, event_type FROM events WHERE user_id IS NOT NULL), "
            "v AS (SELECT user_id, MIN(ts_s) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1), "
            "c AS (SELECT e.user_id, MIN(e.ts_s) AS t2 FROM e JOIN v ON e.user_id = v.user_id "
            "AND e.ts_s >= v.t1 WHERE e.event_type = 'click' GROUP BY 1), "
            "p AS (SELECT e.user_id, MIN(e.ts_s) AS t3 FROM e JOIN c ON e.user_id = c.user_id "
            "AND e.ts_s >= c.t2 WHERE e.event_type = 'purchase' GROUP BY 1), "
            "f AS (SELECT CAST(1 AS INTEGER) AS step, 'view' AS step_name, (SELECT COUNT(*) FROM v) AS n_users "
            "UNION ALL SELECT CAST(2 AS INTEGER), 'click', (SELECT COUNT(*) FROM c) "
            "UNION ALL SELECT CAST(3 AS INTEGER), 'purchase', (SELECT COUNT(*) FROM p)) "
            "SELECT a.step, a.step_name, a.n_users, a.n_users / b.n_users AS conv_from_prev "
            "FROM f a LEFT JOIN f b ON a.step = b.step + 1"
        ),
        "events_cohort_retention": (
            # integer date subtraction mirrors Spark's datediff exactly
            "WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events), "
            "f AS (SELECT user_id, MIN(d) AS d0 FROM e GROUP BY 1), "
            "cell AS (SELECT e.user_id, f.d0 AS cohort_day, "
            "CAST(e.d - f.d0 AS INTEGER) AS day_offset "
            "FROM e JOIN f ON e.user_id = f.user_id), "
            "r AS (SELECT cohort_day, day_offset, COUNT(DISTINCT user_id) AS n_active FROM cell GROUP BY 1, 2), "
            "s AS (SELECT cohort_day, n_active AS cohort_size FROM r WHERE day_offset = 0) "
            "SELECT r.cohort_day, r.day_offset, r.n_active, s.cohort_size, "
            "r.n_active / s.cohort_size AS retention "
            "FROM r JOIN s ON r.cohort_day = s.cohort_day"
        ),
        "snapshot_cdc_diff": (
            # same deterministic snapshot carve as the Spark plan
            "WITH base AS (SELECT o_orderkey, o_totalprice FROM orders), "
            "snap_old AS (SELECT o_orderkey, CASE WHEN o_orderkey % 10 = 7 "
            "THEN o_totalprice - 10.0 ELSE o_totalprice END AS old_totalprice "
            "FROM base WHERE o_orderkey % 10 <> 3), "
            "snap_new AS (SELECT o_orderkey, o_totalprice AS new_totalprice "
            "FROM base WHERE o_orderkey % 10 <> 5) "
            "SELECT COALESCE(snap_old.o_orderkey, snap_new.o_orderkey) AS o_orderkey, "
            "CASE WHEN snap_old.o_orderkey IS NULL THEN 'insert' "
            "WHEN snap_new.o_orderkey IS NULL THEN 'delete' ELSE 'update' END AS change_type, "
            "old_totalprice, new_totalprice "
            "FROM snap_old FULL OUTER JOIN snap_new ON snap_old.o_orderkey = snap_new.o_orderkey "
            "WHERE snap_old.o_orderkey IS NULL OR snap_new.o_orderkey IS NULL "
            "OR old_totalprice IS DISTINCT FROM new_totalprice"
        ),
        # backfill planner: the same carve, changed keys joined back for
        # their month, two month-grain aggs; NULL-date changed rows drop
        # from BOTH engines' inner month join (unplannable partitions)
        "fact_backfill_plan": (
            "WITH base AS (SELECT o_orderkey, o_totalprice FROM orders), "
            "snap_old AS (SELECT o_orderkey, CASE WHEN o_orderkey % 10 = 7 "
            "THEN o_totalprice - 10.0 ELSE o_totalprice END AS old_totalprice "
            "FROM base WHERE o_orderkey % 10 <> 3), "
            "snap_new AS (SELECT o_orderkey, o_totalprice AS new_totalprice "
            "FROM base WHERE o_orderkey % 10 <> 5), "
            "diff AS (SELECT COALESCE(snap_old.o_orderkey, snap_new.o_orderkey) AS o_orderkey, "
            "CASE WHEN snap_old.o_orderkey IS NULL THEN 'insert' "
            "WHEN snap_new.o_orderkey IS NULL THEN 'delete' ELSE 'update' END AS change_type "
            "FROM snap_old FULL OUTER JOIN snap_new ON snap_old.o_orderkey = snap_new.o_orderkey "
            "WHERE snap_old.o_orderkey IS NULL OR snap_new.o_orderkey IS NULL "
            "OR old_totalprice IS DISTINCT FROM new_totalprice), "
            "m AS (SELECT o_orderkey, CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS month "
            "FROM orders), "
            "changed AS (SELECT month, CAST(COUNT(*) AS BIGINT) AS n_changed, "
            "CAST(SUM(CASE WHEN change_type = 'insert' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserts, "
            "CAST(SUM(CASE WHEN change_type = 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes, "
            "CAST(SUM(CASE WHEN change_type = 'update' THEN 1 ELSE 0 END) AS BIGINT) AS n_updates "
            "FROM diff JOIN m USING (o_orderkey) GROUP BY month), "
            "tot AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS month, "
            "CAST(COUNT(*) AS BIGINT) AS n_total FROM orders GROUP BY 1) "
            "SELECT month, n_changed, n_inserts, n_deletes, n_updates, n_total, "
            "CAST(n_changed AS DOUBLE) / CAST(n_total AS DOUBLE) AS change_frac, "
            "CASE WHEN CAST(n_changed AS DOUBLE) / CAST(n_total AS DOUBLE) > 0.2 "
            "THEN 'rewrite_partition' ELSE 'merge_rows' END AS action "
            "FROM changed JOIN tot USING (month)"
        ),
        "orders_zorder_clustering": (
            # bit-for-bit mirror of functions.keys.zorder_key(day, custkey)
            "WITH d AS (SELECT "
            "CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT) & 65535 AS day_m, "
            "o_custkey & 65535 AS cust_m, "
            "CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT) AS day_nr, "
            "CAST(o_custkey AS BIGINT) AS custkey FROM orders), "
            "z AS (SELECT CAST(" + _zorder_terms("day_m", "cust_m") + " AS BIGINT) AS z_key, "
            "day_nr, custkey FROM d) "
            "SELECT CAST(z_key >> 18 AS INTEGER) AS z_range, COUNT(*) AS n_rows, "
            "MIN(z_key) AS z_min, MAX(z_key) AS z_max, "
            "MIN(day_nr) AS day_min, MAX(day_nr) AS day_max, "
            "MIN(custkey) AS cust_min, MAX(custkey) AS cust_max "
            "FROM z GROUP BY 1"
        ),
        "dim_region": (
            "SELECT CAST(ROW_NUMBER() OVER (ORDER BY r_regionkey) AS BIGINT) AS region_key, "
            "r_regionkey, r_name FROM region"
        ),
        "dim_geography": (
            "SELECT CAST(ROW_NUMBER() OVER (ORDER BY n.n_nationkey) AS BIGINT) AS geo_key, "
            "n.n_nationkey, n.n_name AS nation_name, r.r_name AS region_name "
            "FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey"
        ),
        "dim_brand": f"WITH {_BRANDS_CTE} SELECT brand_key, brand_name FROM brands",
        "dim_product_type": (
            f"WITH {_BRANDS_CTE}, {_TYPES_CTE} "
            "SELECT type_key, type_name, brand_name, brand_key FROM types"
        ),
        "dim_product": (
            f"WITH {_BRANDS_CTE}, {_TYPES_CTE} "
            "SELECT CAST(ROW_NUMBER() OVER (ORDER BY p.p_partkey) AS BIGINT) AS product_key, "
            "p.p_partkey, p.p_name AS product_name, p.p_brand AS brand_name, "
            "p.p_type AS type_name, p.p_retailprice AS product_price, t.type_key "
            "FROM part p LEFT JOIN types t "
            "ON p.p_type IS NOT DISTINCT FROM t.type_name "
            "AND p.p_brand IS NOT DISTINCT FROM t.brand_name"
        ),
        "dim_customer": (
            "SELECT CAST(ROW_NUMBER() OVER (ORDER BY c.c_custkey) AS BIGINT) AS customer_key, "
            "c.c_custkey, c.c_name AS customer_name, UPPER(TRIM(c.c_mktsegment)) AS segment, "
            "n.n_name AS nation_name, r.r_name AS region_name, c.c_acctbal "
            "FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey "
            "LEFT JOIN region r ON n.n_regionkey = r.r_regionkey"
        ),
        "dim_junk_status": (
            f"WITH {_STATUS_CTE} "
            "SELECT status_key, order_status, order_priority, return_flag FROM status"
        ),
        "dim_date": (
            "WITH d AS (SELECT CAST(o_orderdate AS DATE) AS date_actual FROM orders "
            "UNION SELECT CAST(l_shipdate AS DATE) FROM lineitem) "
            "SELECT CAST(strftime(date_actual, '%Y%m%d') AS INTEGER) AS date_key, date_actual, "
            "CAST(year(date_actual) AS INTEGER) AS year, CAST(month(date_actual) AS INTEGER) AS month, "
            "monthname(date_actual) AS month_name, dayname(date_actual) AS day_of_week, "
            "CAST(quarter(date_actual) AS INTEGER) AS quarter "
            "FROM d WHERE date_actual IS NOT NULL"
        ),
        "fact_lineitem": (
            "WITH products AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY p_partkey) AS BIGINT) AS product_key, p_partkey FROM part), "
            "customers AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY c_custkey) AS BIGINT) AS customer_key, c_custkey FROM customer), "
            f"{_STATUS_CTE} "
            "SELECT l.l_orderkey, l.l_linenumber, p.product_key, c.customer_key, s.status_key, "
            "CAST(strftime(CAST(o.o_orderdate AS DATE), '%Y%m%d') AS INTEGER) AS order_date_key, "
            "CAST(strftime(CAST(l.l_shipdate AS DATE), '%Y%m%d') AS INTEGER) AS ship_date_key, "
            "CAST(l.l_partkey AS VARCHAR) || '_' || CAST(l.l_suppkey AS VARCHAR) AS part_supp_key, "
            "l.l_quantity AS quantity, l.l_extendedprice AS sales, l.l_discount AS discount_rate, "
            f"{_REVENUE_SQL.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')} AS revenue "
            "FROM lineitem l "
            "LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey "
            "LEFT JOIN products p ON l.l_partkey = p.p_partkey "
            "LEFT JOIN customers c ON o.o_custkey = c.c_custkey "
            "LEFT JOIN status s ON UPPER(TRIM(o.o_orderstatus)) = s.order_status "
            "AND UPPER(TRIM(o.o_orderpriority)) = s.order_priority "
            "AND UPPER(TRIM(l.l_returnflag)) = s.return_flag"
        ),
        "dev_sample_cap": (
            "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice "
            "FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 500"
        ),
        "fact_bucket_profile": (
            "SELECT CAST(l_orderkey % 20 AS INTEGER) AS bucket, COUNT(*) AS n_rows, "
            f"{_dsum(_REVENUE_SQL, 'revenue')} "
            "FROM lineitem GROUP BY 1"
        ),
        "a5_profit_by_hierarchy": (
            "SELECT p.p_brand, p.p_type, "
            + _dsum("l.l_extendedprice * (1.0 - l.l_discount)", "total_revenue")
            + ", COUNT(*) AS n_items "
            "FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey "
            "GROUP BY p.p_brand, p.p_type"
        ),
        "a5_profit_rollup": (
            "SELECT p.p_brand, p.p_type, "
            + _dsum("l.l_extendedprice * (1.0 - l.l_discount)", "total_revenue")
            + ", COUNT(*) AS n_items "
            "FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey "
            "GROUP BY ROLLUP(p.p_brand, p.p_type)"
        ),
        "a5_profit_cube": (
            "SELECT p.p_brand, p.p_type, "
            + _dsum("l.l_extendedprice * (1.0 - l.l_discount)", "total_revenue")
            + ", COUNT(*) AS n_items "
            "FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey "
            "GROUP BY CUBE(p.p_brand, p.p_type)"
        ),
        "segment_region_pivot": (
            "SELECT r.r_name AS region_name, "
            + ", ".join(
                f"COUNT(*) FILTER (WHERE c.c_mktsegment = '{s}') AS {s}"
                for s in ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )
            + " FROM customer c "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey "
            "JOIN region r ON n.n_regionkey = r.r_regionkey "
            "GROUP BY r.r_name"
        ),
        "a6_sales_trend": (
            "SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year, "
            "CAST(month(o_orderdate) AS INTEGER) AS order_month, "
            + _dsum("o_totalprice", "total_sales")
            + ", COUNT(*) AS n_orders FROM orders GROUP BY 1, 2"
        ),
        "a6_sales_trend_mom": (
            "WITH m AS (SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year, "
            "CAST(month(o_orderdate) AS INTEGER) AS order_month, "
            + _dsum("o_totalprice", "total_sales")
            + ", COUNT(*) AS n_orders FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2) "
            "SELECT order_year, order_month, total_sales, "
            "total_sales - LAG(total_sales) OVER (ORDER BY order_year, order_month) AS mom_delta "
            "FROM m"
        ),
        "cumulative_monthly_sales": (
            "WITH m AS (SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year, "
            "CAST(month(o_orderdate) AS INTEGER) AS order_month, "
            + _dsum("o_totalprice", "total_sales")
            + ", COUNT(*) AS n_orders FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2) "
            "SELECT order_year, order_month, total_sales, "
            "CAST(SUM(CAST(total_sales AS DECIMAL(30,6))) OVER (ORDER BY order_year, order_month "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cumulative_sales "
            "FROM m"
        ),
        "customer_rank_in_nation": (
            "WITH rev AS (SELECT o.o_custkey, "
            + _dsum("l.l_extendedprice * (1.0 - l.l_discount)", "total_revenue")
            + " FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey GROUP BY o.o_custkey), "
            "e AS (SELECT n.n_name AS nation_name, c.c_custkey, r.total_revenue "
            "FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey), "
            "ranked AS (SELECT nation_name, c_custkey, total_revenue, "
            "CAST(RANK() OVER w AS INTEGER) AS rev_rank, "
            "CAST(DENSE_RANK() OVER w AS INTEGER) AS rev_dense_rank, "
            "CAST(NTILE(10) OVER w AS INTEGER) AS rev_decile "
            "FROM e WINDOW w AS (PARTITION BY nation_name ORDER BY total_revenue DESC, c_custkey)) "
            "SELECT * FROM ranked WHERE rev_rank <= 20"
        ),
        "repeat_customers_yoy": (
            "WITH y95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995), "
            "y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996) "
            "SELECT 'retained' AS cohort, COUNT(*) AS n_customers FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96) "
            "UNION ALL "
            "SELECT 'churned', COUNT(*) FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y96) "
            "UNION ALL "
            "SELECT 'new', COUNT(*) FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y95)"
        ),
        "acctbal_band_join": (
            "WITH c AS (SELECT c_nationkey AS nk, CASE WHEN c_acctbal < 0 THEN NULL "
            "ELSE CAST(floor(c_acctbal / 1000) AS BIGINT) END AS band FROM customer), "
            "s AS (SELECT s_nationkey AS nk, CASE WHEN s_acctbal < 0 THEN NULL "
            "ELSE CAST(floor(s_acctbal / 1000) AS BIGINT) END AS band FROM supplier) "
            "SELECT c.nk AS nationkey, c.band AS acct_band, COUNT(*) AS n_matches "
            "FROM c JOIN s ON c.nk = s.nk AND c.band IS NOT DISTINCT FROM s.band "
            "GROUP BY c.nk, c.band"
        ),
        "a7_schedule_adherence": (
            "SELECT l.l_linestatus, "
            "CAST(SUM(CASE WHEN l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY THEN 1 ELSE 0 END) AS BIGINT) AS n_on_time, "
            "COUNT(*) AS n_total, "
            "ROUND(CAST(SUM(CASE WHEN l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS adherence_rate "
            "FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey "
            "GROUP BY l.l_linestatus"
        ),
        "a8_returns_by_nation": (
            "SELECT n.n_name AS nation_name, COUNT(*) AS n_returned_items, "
            + _dsum("l.l_extendedprice * (1.0 - l.l_discount)", "returned_revenue")
            + " FROM lineitem l "
            "JOIN orders o ON l.l_orderkey = o.o_orderkey "
            "JOIN customer c ON o.o_custkey = c.c_custkey "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey "
            "WHERE l.l_returnflag = 'R' GROUP BY n.n_name"
        ),
        "q1_pricing_summary": (
            "SELECT l_returnflag, l_linestatus, "
            + _dsum("l_quantity", "sum_qty", scale=6)
            + ", " + _dsum("l_extendedprice", "sum_base_price")
            + ", " + _dsum("l_extendedprice * (1.0 - l_discount)", "sum_disc_price")
            + ", " + _dsum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", "sum_charge")
            + ", COUNT(*) AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        # sql_profit_by_hierarchy's oracle moved with its deregistration
        # to tests/test_prod_twins.py (oracle-replay pin)
        "sql_shipping_priority": (
            "SELECT l.l_orderkey, "
            + _dsum("l.l_extendedprice * (1.0 - l.l_discount)", "revenue")
            + ", CAST(strftime(CAST(o.o_orderdate AS DATE), '%Y%m%d') AS INTEGER) AS order_date_key, "
            "o.o_orderpriority "
            "FROM customer c "
            "JOIN orders o ON c.c_custkey = o.o_custkey "
            "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
            "WHERE c.c_mktsegment = 'BUILDING' "
            "AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00' "
            "AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00' "
            "GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority "
            "ORDER BY revenue DESC, l.l_orderkey LIMIT 10"
        ),
        "sql_volume_shipping": (
            "SELECT supp_nation, cust_nation, l_year, "
            + _dsum("volume", "revenue")
            + " FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
            "CAST(year(l.l_shipdate) AS INTEGER) AS l_year, "
            "l.l_extendedprice * (1.0 - l.l_discount) AS volume "
            "FROM supplier s "
            "JOIN lineitem l ON s.s_suppkey = l.l_suppkey "
            "JOIN orders o ON o.o_orderkey = l.l_orderkey "
            "JOIN customer c ON c.c_custkey = o.o_custkey "
            "JOIN nation n1 ON s.s_nationkey = n1.n_nationkey "
            "JOIN nation n2 ON c.c_nationkey = n2.n_nationkey "
            "WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7') "
            "OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')) shipping "
            "GROUP BY supp_nation, cust_nation, l_year"
        ),
        "sql_market_share": (
            "SELECT o_year, CAST(ROUND("
            "CAST(SUM(CAST(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0.0 END AS DECIMAL(30,6))) AS DOUBLE) "
            "/ CAST(SUM(CAST(volume AS DECIMAL(30,6))) AS DOUBLE), 6) AS DOUBLE) AS mkt_share "
            "FROM (SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year, "
            "l.l_extendedprice * (1.0 - l.l_discount) AS volume, n1.n_name AS nation "
            "FROM lineitem l "
            "JOIN supplier s ON s.s_suppkey = l.l_suppkey "
            "JOIN orders o ON o.o_orderkey = l.l_orderkey "
            "JOIN customer c ON c.c_custkey = o.o_custkey "
            "JOIN nation n1 ON s.s_nationkey = n1.n_nationkey "
            "JOIN nation n2 ON c.c_nationkey = n2.n_nationkey "
            "JOIN region r ON n2.n_regionkey = r.r_regionkey "
            "WHERE r.r_name = 'AMERICA') all_nations GROUP BY o_year"
        ),
        "sql_lapsed_big_spenders": (
            "SELECT c.c_custkey, c.c_name AS customer_name FROM customer c "
            "WHERE EXISTS (SELECT 1 FROM orders o "
            "WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0) "
            "AND NOT EXISTS (SELECT 1 FROM orders o "
            "WHERE o.o_custkey = c.c_custkey "
            "AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')"
        ),
        "sql_local_supplier_volume": (
            "SELECT n.n_name AS nation_name, "
            + _dsum("l.l_extendedprice * (1.0 - l.l_discount)", "revenue")
            + " FROM customer c "
            "JOIN orders o ON c.c_custkey = o.o_custkey "
            "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
            "JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey "
            "JOIN nation n ON s.s_nationkey = n.n_nationkey "
            "JOIN region r ON n.n_regionkey = r.r_regionkey "
            "WHERE r.r_name = 'ASIA' GROUP BY n.n_name"
        ),
        "top_customers": (
            "WITH rev AS (SELECT o.o_custkey, "
            + _dsum("l.l_extendedprice * (1.0 - l.l_discount)", "total_revenue")
            + ", COUNT(*) AS n_items "
            "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey GROUP BY o.o_custkey) "
            "SELECT c.c_custkey, c.c_name AS customer_name, r.total_revenue, r.n_items "
            "FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey "
            "ORDER BY r.total_revenue DESC, c.c_custkey LIMIT 10"
        ),
        "events_hourly": (
            "SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type, "
            "COUNT(*) AS n_events, "
            + _dsum("value", "total_value", scale=4)
            + ", COUNT(DISTINCT user_id) AS n_users "
            "FROM events GROUP BY 1, 2"
        ),
    })
    # bucketed staging changes the physical plan, not the result
    out["fact_lineitem_bucketed"] = out["fact_lineitem"]
    # the CSV round-trip must carry the same values as the direct flatten
    out["routes_csv_readback"] = out["geojson_routes"]
    # geometry stats compose on the routes oracle: parse the WKT back
    # (decimal-string -> double is correctly rounded in both engines) and
    # use only IEEE ops in fixed order — left-fold path sum like _dot
    out["route_geometry_stats"] = (
        "WITH r AS (" + out["geojson_routes"] + "), "
        "p AS (SELECT origin_lat, origin_long, dest_lat, dest_long, "
        "string_split(regexp_replace(shape_wkt, '^LINESTRING\\(|\\)$', '', 'g'), ', ') AS pts FROM r), "
        "w AS (SELECT origin_lat, origin_long, dest_lat, dest_long, "
        "list_transform(pts, q -> CAST(string_split(q, ' ')[1] AS DOUBLE)) AS xs, "
        "list_transform(pts, q -> CAST(string_split(q, ' ')[2] AS DOUBLE)) AS ys, "
        "CAST(len(pts) AS INTEGER) AS n_points FROM p), "
        "s AS (SELECT origin_lat, origin_long, dest_lat, dest_long, n_points, "
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, n_points), i -> "
        "sqrt((xs[i+1]-xs[i])*(xs[i+1]-xs[i]) + (ys[i+1]-ys[i])*(ys[i+1]-ys[i])))), (a, b) -> a + b) AS path_deg, "
        "sqrt((xs[n_points]-xs[1])*(xs[n_points]-xs[1]) + (ys[n_points]-ys[1])*(ys[n_points]-ys[1])) AS straight_deg "
        "FROM w) "
        "SELECT origin_lat, origin_long, dest_lat, dest_long, n_points, path_deg, straight_deg, "
        "CASE WHEN straight_deg > 0 THEN path_deg / straight_deg END AS sinuosity FROM s"
    )
    # the ORC round-trip must carry the same values as the dimension build
    out["warehouse_orc_readback"] = out["dim_geography"]
    # -- round-8 registrations (oracles documented in the operator
    #    docstrings and pinned by literal replays in
    #    tests/test_extensions.py since r7) ------------------------------
    out["events_upsert_delete"] = (
        # keyed DELETE + CDC of the erasure: batch argmax per user split
        # on the user_id % 10 == 3 predicate (extensions.py docstring)
        "WITH ev AS (SELECT user_id, event_id, ts, event_type, value "
        "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL), "
        "w AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY "
        "user_id ORDER BY ts DESC, event_id DESC) AS rn FROM ev) "
        "WHERE rn = 1) "
        "SELECT 'survivor' AS row_kind, user_id, event_id, ts, "
        "event_type, value FROM w WHERE user_id % 10 <> 3 "
        "UNION ALL SELECT 'deleted', user_id, CAST(NULL AS BIGINT), "
        "CAST(NULL AS TIMESTAMP), CAST(NULL AS VARCHAR), "
        "CAST(NULL AS DOUBLE) FROM w WHERE user_id % 10 = 3"
    )
    out["dedup_semantic"] = _semantic_oracle(8, 2)
    out["similarity_ivf_incremental"] = _ivf_incremental_oracle(8, 2, 100)
    out["doc_substring_spans"] = (
        # md5 20-gram anchors, the <=50-docs/<=200-occurrences frequency
        # gates, gaps-and-islands diagonal run assembly, spans >= 40
        "WITH grams AS (SELECT doc_id, pos, md5(substr(text, pos, 20)) AS g "
        "FROM documents, "
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
    )
    out["metadata_dictionary"] = _metadata_dictionary_oracle()
    # -- round-9 registrations (oracles documented in the operator
    #    docstrings and pinned by literal replays in
    #    tests/test_extensions.py since r8) ------------------------------
    _SUBSTRING_COV_CTES = (
        # shared by doc_substring_dedup and corpus_dedup_pipeline: the
        # span miner's CTEs (doc_substring_spans oracle) narrowed to the
        # b-side per-document interval union — strictly-overlap-merged
        # via gaps-and-islands, >= 40-char intervals only
        "{p}grams AS (SELECT doc_id, pos, md5(substr(text, pos, 20)) AS g "
        "FROM documents, UNNEST(range(1, length(text) - 20 + 2)) AS t(pos) "
        "WHERE text IS NOT NULL AND length(text) >= 20), "
        "{p}keep AS (SELECT g FROM {p}grams GROUP BY g "
        "HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 50 AND COUNT(*) <= 200), "
        "{p}gg AS (SELECT {p}grams.* FROM {p}grams JOIN {p}keep USING (g)), "
        "{p}m AS (SELECT a.doc_id doc_a, b.doc_id doc_b, a.pos pa, b.pos pb "
        "FROM {p}gg a JOIN {p}gg b ON a.g = b.g AND a.doc_id < b.doc_id), "
        "{p}runs AS (SELECT doc_a, doc_b, pa - pb AS diag, "
        "pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb "
        "ORDER BY pa) AS grp, pa FROM {p}m), "
        "{p}spans AS (SELECT doc_a, doc_b, diag, MIN(pa) s, MAX(pa) + 19 AS e "
        "FROM {p}runs GROUP BY doc_a, doc_b, diag, grp), "
        "{p}ivals AS (SELECT DISTINCT doc_b AS doc_id, s - diag AS ps, "
        "e - diag AS pe FROM {p}spans WHERE e - s + 1 >= 40), "
        "{p}marked AS (SELECT doc_id, ps, pe, "
        "CASE WHEN MAX(pe) OVER w IS NULL OR ps > MAX(pe) OVER w "
        "THEN 1 ELSE 0 END AS new_region FROM {p}ivals "
        "WINDOW w AS (PARTITION BY doc_id ORDER BY ps, pe "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), "
        "{p}regions AS (SELECT doc_id, MIN(ps) rs, MAX(pe) re FROM "
        "(SELECT *, SUM(new_region) OVER (PARTITION BY doc_id "
        "ORDER BY ps, pe ROWS UNBOUNDED PRECEDING) AS region FROM {p}marked) "
        "GROUP BY doc_id, region)"
    )
    out["doc_substring_dedup"] = (
        # per-document duplicated-character coverage with integer-exact
        # keep/trim/drop thresholds (2*dup >= n -> drop, 20*dup >= n ->
        # trim); dup_ratio is one int/int division, no rounding
        "WITH " + _SUBSTRING_COV_CTES.format(p="") + ", "
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
        "FROM documents d LEFT JOIN cov c ON d.doc_id = c.doc_id "
        "WHERE d.text IS NOT NULL"
    )
    out["corpus_dedup_pipeline"] = (
        # exact -> near -> substring with per-stage drop attribution:
        # keeps = min doc per normalized-text md5; near survivor = min
        # EXACT-SURVIVING member of the minhash cluster; substring
        # status from the coverage CTEs; stitched by the precedence CASE
        _CLUSTERS_CTE_PREFIX.rstrip()
        + ", keeps AS (SELECT MIN(doc_id) AS doc_id FROM documents "
        "GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))), "
        "cl AS (SELECT d.doc_id, CAST(LEAST(d.doc_id, COALESCE(m.min_reach, d.doc_id)) AS BIGINT) AS cluster_id "
        "FROM documents d LEFT JOIN reach_min m ON d.doc_id = m.src), "
        "sm AS (SELECT c.cluster_id, MIN(c.doc_id) AS surv_min FROM cl c "
        "JOIN keeps k ON c.doc_id = k.doc_id GROUP BY c.cluster_id), "
        + _SUBSTRING_COV_CTES.format(p="s_") + ", "
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
    out["similarity_ivf_pq"] = _ivf_pq_oracle(
        n_lists=8, nprobe=2, m=4, k=8, iters=2, dim=64, nq=3, ktop=10
    )
    out["media_audio_windows"] = (
        # stub codec: payload bytes ARE the u8 samples; 64-byte windows,
        # exact mean via hex-pair extraction (the media_image_features
        # byte-extraction discipline)
        "WITH m AS (SELECT doc_id AS media_id, encode(text) AS payload "
        "FROM documents WHERE text IS NOT NULL), "
        "b AS (SELECT media_id, "
        "('0x' || substr(h, CAST(i * 2 + 1 AS INT), 2))::BIGINT AS amp, "
        "CAST(i // 64 AS INT) AS window_idx FROM (SELECT media_id, "
        "hex(payload) AS h, unnest(range(0, octet_length(payload))) "
        "AS i FROM m)) "
        "SELECT media_id, window_idx, CAST(COUNT(*) AS BIGINT) AS n_samples, "
        "CAST(SUM(amp) AS DOUBLE) / CAST(COUNT(*) AS BIGINT) AS mean_amp, "
        "CAST(MAX(amp) AS INT) AS peak_amp "
        "FROM b GROUP BY media_id, window_idx"
    )
    # ---- round-10 registrations ------------------------------------------
    out["corpus_domain_cap"] = (
        # RefinedWeb-style per-source frequency cap: deterministic doc_id
        # priority, cap 12, audit columns (plans/extensions.py docstring)
        "SELECT d.doc_id, d.source, "
        "CAST(ROW_NUMBER() OVER (PARTITION BY d.source ORDER BY d.doc_id) AS BIGINT) AS src_rank, "
        "CAST(COUNT(*) OVER (PARTITION BY d.source) AS BIGINT) AS src_total, "
        "CASE WHEN ROW_NUMBER() OVER (PARTITION BY d.source ORDER BY d.doc_id) <= 12 "
        "THEN 'keep' ELSE 'drop_capped' END AS status "
        "FROM documents d WHERE d.source IS NOT NULL"
    )
    _gopher_sw = (
        "CASE lang "
        "WHEN 'de' THEN list_contains(['der','die','das','und','ist','ich','nicht','ein','mit','zu'], t) "
        "WHEN 'en' THEN list_contains(['the','a','of','and','to','in','is','it','you','that'], t) "
        "WHEN 'es' THEN list_contains(['el','la','de','que','y','en','un','por','con','una'], t) "
        "WHEN 'fr' THEN list_contains(['le','la','de','et','un','une','est','pour','que','dans'], t) "
        "ELSE FALSE END"
    )

    def _gopher_gram_leg(n: int) -> str:
        return (
            f"SELECT doc_id, {n} AS n, "
            f"unnest(list_transform(range(0, len(tk) - {n - 1}), "
            f"i -> array_to_string(tk[(i+1):(i+{n})], ' '))) AS g "
            f"FROM tok WHERE len(tk) >= {n}"
        )

    out["corpus_gopher_rules"] = (
        # Gopher quality-rule boolean matrix: every gate in EXACT integer
        # arithmetic (cross-multiplied rationals); one tagged gram relation
        "WITH d AS (SELECT doc_id, lang, text FROM documents WHERE text IS NOT NULL), "
        "tok AS (SELECT doc_id, lang, " + _TOKENS_SPARK_WS + " AS tk FROM d), "
        "facts AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_words, "
        "CAST(list_reduce(list_prepend(0, list_transform(tk, t -> length(t))), (a, b) -> a + b) AS BIGINT) AS word_chars, "
        f"CAST(len(list_distinct(list_filter(list_transform(tk, t -> lower(t)), t -> {_gopher_sw}))) AS BIGINT) AS sw_hits "
        "FROM tok), "
        "g AS (" + _gopher_gram_leg(2) + " UNION ALL " + _gopher_gram_leg(3)
        + " UNION ALL " + _gopher_gram_leg(4) + "), "
        "pg AS (SELECT doc_id, n, g, COUNT(*) AS c FROM g GROUP BY 1, 2, 3), "
        "gs AS (SELECT doc_id, n, MAX(c) AS top, SUM(c) AS total FROM pg GROUP BY 1, 2), "
        "pv AS (SELECT doc_id, "
        "COALESCE(MAX(CASE WHEN n = 2 THEN top END), 0) AS t2, COALESCE(MAX(CASE WHEN n = 2 THEN total END), 0) AS s2, "
        "COALESCE(MAX(CASE WHEN n = 3 THEN top END), 0) AS t3, COALESCE(MAX(CASE WHEN n = 3 THEN total END), 0) AS s3, "
        "COALESCE(MAX(CASE WHEN n = 4 THEN top END), 0) AS t4, COALESCE(MAX(CASE WHEN n = 4 THEN total END), 0) AS s4 "
        "FROM gs GROUP BY doc_id) "
        "SELECT d.doc_id, COALESCE(f.n_words, 0) AS n_words, "
        "(COALESCE(f.n_words, 0) >= 40 AND COALESCE(f.n_words, 0) <= 100000) AS g_word_count, "
        "(3 * COALESCE(f.n_words, 0) <= COALESCE(f.word_chars, 0) AND COALESCE(f.word_chars, 0) <= 10 * COALESCE(f.n_words, 0)) AS g_mean_word_len, "
        "(CASE WHEN d.lang IN ('de','en','es','fr') THEN COALESCE(f.sw_hits, 0) >= 2 ELSE TRUE END) AS g_stopwords, "
        "(COALESCE(p.t2, 0) * 5 <= COALESCE(p.s2, 0) * 1) AS g_dup_2gram, "
        "(COALESCE(p.t3, 0) * 100 <= COALESCE(p.s3, 0) * 18) AS g_dup_3gram, "
        "(COALESCE(p.t4, 0) * 100 <= COALESCE(p.s4, 0) * 16) AS g_dup_4gram, "
        "((COALESCE(f.n_words, 0) >= 40 AND COALESCE(f.n_words, 0) <= 100000) "
        "AND (3 * COALESCE(f.n_words, 0) <= COALESCE(f.word_chars, 0) AND COALESCE(f.word_chars, 0) <= 10 * COALESCE(f.n_words, 0)) "
        "AND (CASE WHEN d.lang IN ('de','en','es','fr') THEN COALESCE(f.sw_hits, 0) >= 2 ELSE TRUE END) "
        "AND (COALESCE(p.t2, 0) * 5 <= COALESCE(p.s2, 0) * 1) "
        "AND (COALESCE(p.t3, 0) * 100 <= COALESCE(p.s3, 0) * 18) "
        "AND (COALESCE(p.t4, 0) * 100 <= COALESCE(p.s4, 0) * 16)) AS passes "
        "FROM d LEFT JOIN facts f ON d.doc_id = f.doc_id "
        "LEFT JOIN pv p ON d.doc_id = p.doc_id"
    )
    _bm25_contrib = (
        "idf * (tf * CAST(2.2 AS DOUBLE)) / "
        "(tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + "
        "CAST(0.75 AS DOUBLE) * dl / avgdl))"
    )
    out["bm25_topk"] = (
        # Okapi BM25 (k1=1.2, b=0.75): idf anchored by round(ln, 6),
        # per-term contributions DECIMAL(25,10)-summed (order-free)
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
        f"CAST({_bm25_contrib} AS DECIMAL(25,10)) AS c "
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
    out["events_feature_matrix"] = (
        # point-in-time features: strict-predecessor RANGE frames on epoch
        # micros (no same-microsecond leakage), decimal-summed values
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
    out["similarity_recall_audit"] = (
        # recall@k of the sign-LSH ANN vs brute-force ground truth: the two
        # REGISTERED oracles nested as CTEs (component drift shows up here)
        f"WITH exact_q AS ({out['similarity_topk']}), "
        f"ann_q AS ({out['similarity_ann_lsh']}), "
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
    out["graph_triangle_count"] = (
        # Suri-Vassilvitskii degree orientation over the part co-purchase
        # graph; per-order item cap 256 mirrored from the engine
        "WITH bp0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), "
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
    # r11 registrations.  dedup_minhash_staged shares dedup_minhash_lsh's
    # oracle VERBATIM — that is the claim under test: the staged path
    # must be indistinguishable from the inline one under the value hash.
    out["dedup_minhash_staged"] = out["dedup_minhash_lsh"]
    out["doc_bigram_score"] = _bigram_score_oracle()
    out["corpus_dsir_weights"] = _dsir_oracle()
    out["graph_kcore"] = _kcore_oracle_sql()
    # r12 registrations: each staged twin shares its inline op's oracle
    # VERBATIM — same claim as dedup_minhash_staged (the parquet-staged
    # path must be indistinguishable under the value hash; the scorers
    # are shared by construction: _bm25_rank / _bigram_rank / _dsir_rank).
    out["bm25_topk_staged"] = out["bm25_topk"]
    out["doc_bigram_score_staged"] = out["doc_bigram_score"]
    out["corpus_dsir_weights_staged"] = out["corpus_dsir_weights"]
    # r13 registrations: the greedy k-center coreset (unrolled greedy-
    # rounds replay, pinned at 2 SFs since r12) and the cross-session
    # substring steady-state twin — the latter shares doc_substring_
    # dedup's oracle VERBATIM (the staged-twin claim again: a
    # pre-committed run table must be indistinguishable from inline
    # mining under the value hash; the coverage step is shared by
    # construction via _substring_coverage).
    out["corpus_coreset_kcenter"] = _kcenter_oracle()
    out["doc_substring_dedup_staged"] = out["doc_substring_dedup"]
    return out
