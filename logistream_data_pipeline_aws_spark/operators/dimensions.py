"""Generic dimension builders (SURVEY §7 phase 2).

Every dimension in the reference follows one shape
(etl_jobs/glue_master_etl.py GE:109-241): ``select/alias -> dropDuplicates
-> [left join parent dim for its key] -> write``, with the surrogate key
assigned by the warehouse.  Here the whole shape is one function and the
key is generated in-plan.

Specializations:
- ``build_junk_dimension`` — all distinct combos of low-cardinality flags
  (dim_execution_status, GE:166-172 / DS:63-68).
- ``build_date_dimension`` — union of date columns, distinct, yyyymmdd int
  key + the full DS:55-59 calendar attributes the reference declared but
  never populated (GE:183-198; SURVEY §1.5).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logistream_data_pipeline_aws_spark.functions.dates import with_calendar, date_key
from logistream_data_pipeline_aws_spark.functions.keys import with_sequential_key
from logistream_data_pipeline_aws_spark.operators.dedup import dedup_first


def build_dimension(
    df: DataFrame,
    attrs: Mapping[str, Column | str],
    natural_key: Sequence[str],
    key_name: str,
    parent: DataFrame | None = None,
    parent_on: Sequence[str] | None = None,
) -> DataFrame:
    """Project+rename -> deterministic dedup -> optional parent-key join ->
    sequential surrogate key.

    ``attrs`` maps output column name -> source column/expression (the
    GE select/alias block).  ``natural_key`` columns must exist in the
    *output* names and uniquely identify a dimension row; they double as
    the key-assignment ordering, so keys are reproducible run-over-run.
    The parent join (hierarchy chaining, GE:123/GE:135) broadcasts the
    parent side — dims are small by construction.  The key is
    ``with_sequential_key``'s triangular rank join, O(d²) in the dim's
    row count.
    """
    cols = [
        (F.col(v) if isinstance(v, str) else v).alias(k) for k, v in attrs.items()
    ]
    dim = df.select(*cols)
    dim = dedup_first(dim, keys=list(natural_key), tiebreak=list(natural_key))
    if parent is not None:
        if not parent_on:
            raise ValueError(
                "parent requires parent_on join columns (an empty list "
                "would silently cross-join the parent dimension)"
            )
        dim = dim.join(F.broadcast(parent), on=list(parent_on), how="left")
    return with_sequential_key(dim, key_name, order_by=list(natural_key))


def build_junk_dimension(
    df: DataFrame,
    flags: Mapping[str, Column | str],
    key_name: str = "status_key",
    normalize: bool = True,
) -> DataFrame:
    """Distinct combinations of low-cardinality flag columns.

    ``normalize=True`` applies the reference's upper/trim key hygiene
    (GE:166-172 normalizes via later joins, GE:305-307) *inside* the
    dimension so the fact lookup is a plain equi-join.
    """
    cols = []
    for out, src in flags.items():
        c = F.col(src) if isinstance(src, str) else src
        if normalize:
            c = F.upper(F.trim(c))
        cols.append(c.alias(out))
    names = list(flags.keys())
    dim = df.select(*cols).dropDuplicates()
    return with_sequential_key(dim, key_name, order_by=names)


def build_date_dimension(
    dfs_and_cols: Sequence[tuple[DataFrame, Column | str]],
    key_name: str = "date_key",
) -> DataFrame:
    """Union the date domains of several columns -> one calendar dimension.

    Matches GE:180-198 (order-date ∪ ship-date, distinct, yyyymmdd key)
    plus the DS:55-59 calendar columns.  The union/distinct shuffle is over
    *dates only* — tiny at any fact scale.
    """
    parts = []
    for df, col in dfs_and_cols:
        c = F.col(col) if isinstance(col, str) else col
        parts.append(df.select(F.to_date(c).alias("date_actual")))
    dates = parts[0]
    for p in parts[1:]:
        dates = dates.union(p)
    dates = dates.where(F.col("date_actual").isNotNull()).distinct()
    dates = dates.withColumn(key_name, date_key(F.col("date_actual")))
    return with_calendar(dates, "date_actual")


def scd2_history(
    df: DataFrame,
    key_col: str,
    state_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Slowly-changing-dimension Type 2 history build from a change feed:
    collapse consecutive rows with the same ``state_col`` value per key
    into validity intervals ``[effective_from, effective_to)`` with an
    ``is_current`` flag and a per-key ``version`` counter.

    The reference's warehouse is Type 1 (TRUNCATE+reload, GE:46-59);
    this is the Type 2 cousin every production dimension load eventually
    needs.  Gaps-and-islands via windows: a run starts where the
    null-safe ``<=>`` comparison with the previous state fails (the
    first row per key always starts one — detected by row position, not
    by ``lag IS NULL``, so a genuinely NULL state still forms runs).

    Scale shape: all three windows partition by the dimension key —
    uniform fan-out, no global window; the run collapse is one
    map-side-combinable aggregation on (key, version).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    marked = df.select(key_col, state_col, ts_col, tiebreak_col).withColumn(
        "_is_change",
        F.when(F.row_number().over(w) == 1, F.lit(1)).otherwise(
            F.when(
                F.col(state_col).eqNullSafe(F.lag(state_col).over(w)), F.lit(0)
            ).otherwise(F.lit(1))
        ),
    )
    runs = marked.withColumn(
        "version",
        F.sum("_is_change").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
    )
    collapsed = runs.groupBy(key_col, "version").agg(
        F.first(state_col).alias("state"),
        F.min(ts_col).alias("effective_from"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    wv = Window.partitionBy(key_col).orderBy("version")
    return collapsed.select(
        key_col,
        "version",
        "state",
        "effective_from",
        F.lead("effective_from").over(wv).alias("effective_to"),
        "n_events",
    ).withColumn("is_current", F.col("effective_to").isNull())
