"""One whitespace class in every text oracle.

Spark splits and collapses text on Java's ``\\s`` (``[ \\t\\n\\x0b\\f\\r]``);
DuckDB's RE2 ``\\s`` leaves out the vertical tab.  Every oracle that reads
``documents`` spells whitespace as ``__spark_entry__._SPARK_WS``, so on a
copy of the small corpus where every fifth document has ``\\x0b`` for its
spaces (``tools/vt_corpus.py``) each such entry still returns its oracle's
rows — the comparison ``tools/check_oracle.py`` makes.
"""

from __future__ import annotations

import re

import duckdb
import pytest

import __spark_entry__ as E
from tests.conftest import SF_SMALL
from tools.check_oracle import compare, duck_connect
from tools.vt_corpus import make_vt_corpus


def _text_entries() -> list[str]:
    oracles = E.oracle_sql()
    return [
        name
        for name in E.queries()
        if name in oracles and re.search(r"\bdocuments\b", oracles[name])
    ]


@pytest.fixture(scope="module")
def vt_dir(tmp_path_factory):
    return make_vt_corpus(SF_SMALL, str(tmp_path_factory.mktemp("vt_corpus")))


def test_vt_corpus_replaces_spaces_in_every_fifth_document(vt_dir):
    n_vt, n_space = duckdb.sql(
        f"SELECT count(*) FILTER (WHERE text LIKE '%' || chr(11) || '%'), "
        f"count(*) FILTER (WHERE doc_id % 5 = 0 AND text LIKE '% %') "
        f"FROM read_parquet('{vt_dir}/documents.parquet')"
    ).fetchone()
    assert n_vt > 0 and n_space == 0


@pytest.mark.parametrize("name", _text_entries())
def test_text_entry_matches_oracle_on_vt_corpus(spark, vt_dir, name):
    got = E.queries()[name](spark, vt_dir).toPandas()
    want = duck_connect(vt_dir).execute(E.oracle_sql()[name]).fetchdf()
    assert compare(name, got, want) == []
