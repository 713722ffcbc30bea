"""A vertical-tab copy of a corpus: Spark's whitespace class, exercised.

Java's ``\\s`` (Spark) matches the vertical tab ``\\x0b``; RE2's (DuckDB)
does not.  An oracle that splits or collapses text on RE2's ``\\s`` agrees
with Spark on every corpus without a ``\\x0b`` and diverges on one with it.
This tool writes a copy of a scale-factor directory in which every fifth
document (``doc_id % 5 = 0``) has each space replaced by ``\\x0b``; every
other table is a symlink to the source.

Usage:
    python tools/vt_corpus.py SRC_SF_DIR DST_DIR
    python tools/check_oracle.py DST_DIR [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb

TEXT_ENTRY_TABLE = "documents"


def make_vt_corpus(src: str, dst: str) -> str:
    """Write the ``\\x0b`` copy of ``src`` to ``dst`` (created if absent)
    and return ``dst``."""
    os.makedirs(dst, exist_ok=True)
    for name in os.listdir(src):
        if name.endswith(".parquet") and name != f"{TEXT_ENTRY_TABLE}.parquet":
            link = os.path.join(dst, name)
            if not os.path.lexists(link):
                os.symlink(os.path.join(os.path.abspath(src), name), link)
    out = os.path.join(dst, f"{TEXT_ENTRY_TABLE}.parquet")
    duckdb.connect().execute(
        f"COPY (SELECT doc_id, CASE WHEN doc_id % 5 = 0 "
        f"THEN replace(text, ' ', chr(11)) ELSE text END AS text, "
        f"lang, source, n_chars "
        f"FROM read_parquet('{os.path.join(src, TEXT_ENTRY_TABLE)}.parquet')) "
        f"TO '{out}' (FORMAT PARQUET)"
    )
    return dst


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    print(make_vt_corpus(sys.argv[1], sys.argv[2]))
