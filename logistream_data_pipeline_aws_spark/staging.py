"""Session staging registry: the one home of per-session staged state.

A query that reuses an expensive intermediate across calls (a persisted
signature frame, a corpus pre-aggregate, a row count, a scratch table it
built) stages it here instead of in a module dict:

    sigs = stage(spark, sf_dir, "minhash_sigs", lambda: build().persist())

``stage`` returns ``build()``'s value and keeps it under
``(applicationId, tag)`` together with ``abspath(sf_dir)`` and a source
fingerprint — ``(relpath, size, mtime_ns, inode)`` of every file under
``sf_dir``, from ``os.walk``: file stats only, no Spark job.  A later call
hits only while both still match, so a corpus rewritten in place
mid-session is rebuilt, never served stale.  A tag holds one source at a
time; its parameters belong in the tag (``semantic_tag:k=8:iters=2``).

On a miss, every entry staged from an older state of the same directory
is evicted along with the tag's own entry, and each cached ``DataFrame``
in an evicted value (a frame, or a tuple holding frames) is unpersisted.
The wider sweep is needed for correctness: Spark's cache manager matches
cached plans by path, not by file content, so a stale persisted frame
would otherwise be substituted into any fresh plan with the same subtree.
A query that never calls ``stage`` does not trigger the sweep; a process
that rewrites sources in place and also runs such queries calls
``release(spark, sf_dir)``.  Entries of other applications are dropped on
every call — their blocks died with them.

``build`` chooses its own storage level.  In-process entries carry no
implementation digest: code cannot change under a running process.  The
durable on-disk stages (signature / posting / token tables) keep the
manifests and digests they write themselves.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession

# (applicationId, tag) -> (abspath(sf_dir), source fingerprint, value)
_ENTRIES: dict[tuple[str, str], tuple[str, tuple, object]] = {}
# re-entrant: a build may stage the intermediates it reads
_LOCK = threading.RLock()


def _fingerprint(sf_dir: str) -> tuple:
    """(relpath, size, mtime_ns, inode) per file under ``sf_dir``; a
    missing directory fingerprints as ``()``."""
    files = []
    for root, _dirs, names in os.walk(sf_dir):
        for name in names:
            path = os.path.join(root, name)
            st = os.stat(path)
            files.append(
                (os.path.relpath(path, sf_dir), st.st_size, st.st_mtime_ns, st.st_ino)
            )
    return tuple(sorted(files))


def _evict(keys) -> None:
    for key in keys:
        value = _ENTRIES.pop(key)[2]
        for frame in value if isinstance(value, tuple) else (value,):
            if isinstance(frame, DataFrame):
                try:
                    frame.unpersist()
                except Exception:  # the owning application is gone
                    pass


def stage(spark: SparkSession, sf_dir: str, tag: str, build):
    """``build()``'s value, built once per (application, tag) and source
    state of ``sf_dir`` (see the module docstring)."""
    app = spark.sparkContext.applicationId
    key = (app, tag)
    src = (os.path.abspath(sf_dir), _fingerprint(sf_dir))
    with _LOCK:
        _evict([k for k in _ENTRIES if k[0] != app])
        entry = _ENTRIES.get(key)
        if entry is not None and entry[:2] == src:
            return entry[2]
        _evict([
            k for k, (d, fp, _v) in _ENTRIES.items()
            if k == key or (d == src[0] and fp != src[1])
        ])
        value = build()
        _ENTRIES[key] = (*src, value)
        return value


def release(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Evict this session's entries: all of them, or those of ``sf_dir``."""
    app = spark.sparkContext.applicationId
    where = None if sf_dir is None else os.path.abspath(sf_dir)
    with _LOCK:
        _evict([
            k for k, (d, _fp, _v) in _ENTRIES.items()
            if k[0] == app and where in (None, d)
        ])
