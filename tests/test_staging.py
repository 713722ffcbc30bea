"""The session staging registry (``staging.stage`` / ``release``): staged
state follows its source files, and ``staging.py`` stays the only holder
of session-staged state in ``plans/`` and ``operators/``."""

from __future__ import annotations

import ast
import os

import duckdb
import pyarrow.parquet as pq

import __spark_entry__ as E
import logistream_data_pipeline_aws_spark as PKG
from logistream_data_pipeline_aws_spark.plans import analytics as A
from logistream_data_pipeline_aws_spark.plans import extensions as X
from tests.conftest import SF_SMALL
from tools.check_oracle import compare

PKG_DIR = os.path.dirname(PKG.__file__)

# every call of the registry, as module:top-level function — a new cached
# intermediate is added here on purpose, never by an inline line
STAGE_CALL_SITES = {
    "plans.analytics:_staged_part_revenue",
    "plans.extensions:_staged_minhash_sigs",
    "plans.extensions:_staged_near_dup_comps",
    "plans.extensions:_staged_embedding_norms",
    "plans.extensions:contamination_check",
    "plans.extensions:doc_winnow_pairs",
    "plans.extensions:_staged_cust_supp_edges",
    "plans.extensions:dedup_prefix_filter",
    "plans.extensions:_ensure_upsert_cdc_table",
    "plans.extensions:events_upsert_delete",
    "plans.extensions:dedup_semantic",
    "plans.extensions:_embeddings_n",
    "plans.extensions:_docs_is_big",
    "plans.extensions:_substring_span_frame",
    "plans.extensions:bm25_topk",
    "plans.extensions:bm25_topk_staged",
    "plans.extensions:_corpus_fingerprint",
    "plans.extensions:_bigram_rank",
    "plans.extensions:_dsir_rank",
    "plans.warehouse:_staged_hierarchy",
    "plans.warehouse:_staged_keymap",
    "plans.warehouse:_assemble_fact_lineitem",
}


def _modules(*prefixes):
    """(dotted name inside the package, AST) of every module whose name
    starts with one of ``prefixes`` (all modules when none is given)."""
    for dirpath, _dirs, names in os.walk(PKG_DIR):
        for name in sorted(names):
            path = os.path.join(dirpath, name)
            mod = os.path.relpath(path, PKG_DIR)[:-3].replace(os.sep, ".")
            if name.endswith(".py") and mod.startswith(prefixes or ("",)):
                with open(path) as fh:
                    yield mod, ast.parse(fh.read())


def _is_empty_container(node) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, ast.List):
        return not node.elts
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in {"dict", "set", "list"}
        and not node.args
        and not node.keywords
    )


def test_no_module_level_containers_in_plans_or_operators():
    """Session-staged state lives in ``staging.py`` only: no module of
    ``plans/`` or ``operators/`` binds a module-level name to an empty
    dict/set/list (the shape every per-module cache started as)."""
    found = []
    for mod, tree in _modules("plans.", "operators."):
        for node in tree.body:
            if isinstance(node, (ast.Assign, ast.AnnAssign)) and node.value is not None:
                if _is_empty_container(node.value):
                    found.append(f"{mod}:{node.lineno}")
    assert not found, found


def test_global_only_for_scratch_dir_and_substring_digest():
    used = {
        name
        for _mod, tree in _modules("plans.", "operators.")
        for node in ast.walk(tree)
        if isinstance(node, ast.Global)
        for name in node.names
    }
    assert used == {"_SCRATCH_DIR", "_SUBSTRING_IMPL_DIGEST"}


def test_stage_call_sites_are_pinned():
    sites = set()
    for mod, tree in _modules():
        imports_stage = any(
            isinstance(node, ast.ImportFrom)
            and node.module == f"{PKG.__name__}.staging"
            and any(a.name == "stage" for a in node.names)
            for node in ast.walk(tree)
        )
        for top in tree.body:
            for node in ast.walk(top):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                if (isinstance(f, ast.Name) and f.id == "stage" and imports_stage) or (
                    isinstance(f, ast.Attribute)
                    and f.attr == "stage"
                    and isinstance(f.value, ast.Name)
                    and f.value.id == "staging"
                ):
                    sites.add(f"{mod}:{getattr(top, 'name', '<module>')}")
    assert sites == STAGE_CALL_SITES


def _write_slice(src_dir, dst_dir, table, start, stop):
    t = pq.read_table(os.path.join(src_dir, f"{table}.parquet"))
    # written in place: same path (and inode), new rows
    pq.write_table(t.slice(start, stop - start), os.path.join(dst_dir, f"{table}.parquet"))


def _oracle_problems(spark, sf_dir, name, fn):
    con = duckdb.connect()
    for t in ("documents", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
        )
    ddf = con.execute(E.oracle_sql()[name]).fetchdf()
    sdf = fn(spark, sf_dir).toPandas()
    return [p for p in compare(name, sdf, ddf) if "WARNING" not in p]


def test_staged_state_follows_sources_rewritten_in_place(spark, tmp_path):
    """A corpus rewritten in place mid-session is re-staged, not served
    stale: with no ``release`` call, each query's second run equals the
    session-free DuckDB recomputation over the new rows."""
    sf_dir = str(tmp_path)
    queries = {
        "dedup_clusters": X.dedup_clusters,
        "doc_bigram_score": X.doc_bigram_score,
        "lineitem_abc_pareto": A.lineitem_abc_pareto,
    }
    clean = {name: [] for name in queries}
    _write_slice(SF_SMALL, sf_dir, "documents", 0, 300)
    _write_slice(SF_SMALL, sf_dir, "lineitem", 0, 3000)
    assert {n: _oracle_problems(spark, sf_dir, n, fn) for n, fn in queries.items()} == clean
    _write_slice(SF_SMALL, sf_dir, "documents", 200, 500)
    _write_slice(SF_SMALL, sf_dir, "lineitem", 3000, 6000)
    assert {n: _oracle_problems(spark, sf_dir, n, fn) for n, fn in queries.items()} == clean
