"""End-to-end reference-parity pipeline test: rawdata + routes GeoJSON
-> 8 dims + fact (GE:88-364 semantics, Spark-first plan)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logistream_data_pipeline_aws_spark.plans import reference_pipeline as RP
from logistream_data_pipeline_aws_spark.sources.geojson import (
    flatten_geojson_routes,
    read_geojson,
)
from tests.fixtures import make_rawdata, write_routes_geojson


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    raw = make_rawdata(spark).cache()
    routes = flatten_geojson_routes(
        read_geojson(spark, write_routes_geojson(tmp_path_factory.mktemp("geo")))
    )
    return raw, RP.build_warehouse(raw, routes)


def test_dim_department_dedup(warehouse):
    raw, wh = warehouse
    dims = wh["dim_department"].collect()
    assert len(dims) == raw.select("department_id").distinct().count()
    assert {r.dept_key for r in dims} == set(range(1, len(dims) + 1))  # 1..N


def test_hierarchy_chain_resolves(warehouse):
    _, wh = warehouse
    cats = wh["dim_category"]
    assert cats.where(F.col("dept_key").isNull()).count() == 0
    prods = wh["dim_product"]
    assert prods.where(F.col("cat_key").isNull()).count() == 0
    assert prods.count() == 15
    # GE never loads product_image (DS:22) — we do
    assert prods.where(F.col("product_image").isNull()).count() == 0


def test_junk_status_normalized(warehouse):
    _, wh = warehouse
    st = wh["dim_execution_status"].collect()
    modes = {r.shipping_mode for r in st}
    assert modes <= {"STANDARD CLASS", "FIRST CLASS", "SECOND CLASS", "SAME DAY"}


def test_geography_case_insensitive_dedup(warehouse):
    _, wh = warehouse
    geo = wh["dim_geography"]
    # "Miami" and "miami" fold to one row
    assert geo.where(F.col("g_city") == "MIAMI").count() == 1


def test_dim_date_parsed_and_calendared(warehouse):
    _, wh = warehouse
    dd = wh["dim_date"]
    rows = {r.date_key: r for r in dd.collect()}
    assert 20171231 in rows
    assert rows[20171231].day_of_week == "Sunday"
    assert rows[20171231].quarter == 4
    assert None not in rows


def test_fact_grain_and_keys(warehouse):
    raw, wh = warehouse
    fact = wh["fact_supplychain_events"].cache()
    assert fact.count() == raw.count()  # one row per order line item
    # every lookup that must hit, hits
    assert fact.where(F.col("product_key").isNull()).count() == 0
    assert fact.where(F.col("customer_key").isNull()).count() == 0
    assert fact.where(F.col("status_key").isNull()).count() == 0
    assert fact.where(F.col("order_geo_key").isNull()).count() == 0
    # DS:100 gap closed: customer geography resolves too (same city domain)
    assert fact.where(F.col("customer_geo_key").isNull()).count() == 0
    # null order dates propagate to null date keys, not dropped rows (GE:184)
    assert fact.where(F.col("order_date_key").isNull()).count() > 0
    # fact ids unique
    assert fact.select("fact_id").distinct().count() == fact.count()


def test_route_join_hits_with_bug_fixed(warehouse):
    _, wh = warehouse
    fact = wh["fact_supplychain_events"]
    # routes 1+2 of the fixture are reachable from fact rows; with the
    # reference's LJ:40 bug (dest_long=dest_lat) these would ALL miss
    assert fact.where(F.col("route_shape_key").isNotNull()).count() > 0
    # and the orphan route never appears
    orphan = wh["dim_route_shapes"].where(
        (F.col("origin_lat") == 0.0) & (F.col("dest_lat") == 1.0)
    )
    assert orphan.count() == 1


def _plan_nodes(df) -> list[str]:
    """Node names of ``df``'s physical plan.  A cached relation is one
    ``InMemoryTableScan`` leaf: the plan that filled it is not descended."""
    nodes, stack = [], [df._jdf.queryExecution().sparkPlan()]
    while stack:
        node = stack.pop()
        nodes.append(node.nodeName())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return nodes


def test_fact_plan_is_all_broadcast(warehouse):
    _, wh = warehouse
    plan = wh["fact_supplychain_events"]._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # the fact side must never shuffle


def test_fact_plan_reads_staged_dims(spark, tmp_path):
    """The fact's five lookups read the staged dims from their caches, so
    no dim dedup or keygen is re-derived inside the fact plan.
    Unstaged, the fact embeds the keyed dims' driver-ranked snapshots
    (one local relation each), never a keygen join."""
    routes = flatten_geojson_routes(read_geojson(spark, write_routes_geojson(tmp_path)))
    # 50 orders: a frame whose plan no other test's cached frames share
    raw = make_rawdata(spark, n_orders=50)
    wh = RP.build_warehouse(raw, routes)
    staged = _plan_nodes(wh["fact_supplychain_events"])
    for df in wh.values():
        df.unpersist()
    assert staged.count("InMemoryTableScan") >= 5
    assert "BroadcastNestedLoopJoin" not in staged
    assert "BroadcastHashJoin" in staged and "SortMergeJoin" not in staged
    embedded = RP.build_warehouse(raw, routes, stage_dims=False)
    assert _plan_nodes(embedded["fact_supplychain_events"]).count("LocalTableScan") >= 5


def _write_csv(frame, path: str, scratch) -> None:
    """Land ``frame`` as ONE csv file at ``path``, replacing any file there."""
    import glob
    import shutil

    frame.coalesce(1).write.mode("overwrite").csv(str(scratch), header=True)
    shutil.copyfile(glob.glob(f"{scratch}/part-*.csv")[0], path)


def test_write_warehouse_releases_staged_dims(spark, tmp_path):
    """Spark matches cached data by plan, and a CSV rewritten in place
    keeps its plan: a staged dim that outlived its load would serve the
    old rows to the next load.  After a full-dict write nothing of the
    load stays cached, and the second load sees the new customers."""
    from pyspark import StorageLevel

    from logistream_data_pipeline_aws_spark.catalog import RAWDATA_SCHEMA
    from logistream_data_pipeline_aws_spark.sources.io import read_csv

    routes = flatten_geojson_routes(read_geojson(spark, write_routes_geojson(tmp_path)))
    csv, out = str(tmp_path / "rawdata.csv"), str(tmp_path / "wh")
    raw = make_rawdata(spark)
    moved = raw.withColumn("customer_id", F.col("customer_id") + 1000).withColumn(
        "order_customer_id", F.col("order_customer_id") + 1000
    )
    counts = []
    for frame in (raw, raw.unionByName(moved)):  # 20 customers, then 40
        _write_csv(frame, csv, tmp_path / "csv_out")
        wh = RP.build_warehouse(read_csv(spark, csv, RAWDATA_SCHEMA), routes)
        RP.write_warehouse(wh, out)
        for name, df in wh.items():
            assert not df.is_cached, name
            assert df.storageLevel == StorageLevel.NONE, name
        counts.append(spark.read.parquet(f"{out}/dim_customer").count())
    assert counts == [20, 40]


def test_write_warehouse_lands_one_file_per_month(spark, tmp_path):
    """The fact lands as one parquet file per ``order_month`` directory
    and each staged dim as one file."""
    import glob

    routes = flatten_geojson_routes(read_geojson(spark, write_routes_geojson(tmp_path)))
    out = str(tmp_path / "wh")
    # 60 orders: a frame whose plan no other test's staged dims share
    wh = RP.build_warehouse(make_rawdata(spark, n_orders=60), routes)
    RP.write_warehouse(wh, out)
    months = glob.glob(f"{out}/fact_supplychain_events/order_month=*")
    assert len(months) > 1
    for month in months:
        assert len(glob.glob(f"{month}/*.parquet")) <= 1, month
    for name in wh:
        if name.startswith("dim_"):
            assert len(glob.glob(f"{out}/{name}/*.parquet")) == 1, name


def test_synthetic_rawdata_schema_and_build(spark):
    """The distributed generator must match RAWDATA_SCHEMA exactly and
    drive the full warehouse build (the bench's perf-floor surface)."""
    from logistream_data_pipeline_aws_spark.catalog import RAWDATA_SCHEMA
    from logistream_data_pipeline_aws_spark.plans.extensions import geojson_routes
    from logistream_data_pipeline_aws_spark.plans.reference_pipeline import build_warehouse
    from logistream_data_pipeline_aws_spark.sources.synthetic import synthetic_rawdata

    raw = synthetic_rawdata(spark, n_orders=200)
    assert [(f.name, f.dataType) for f in raw.schema.fields] == [
        (f.name, f.dataType) for f in RAWDATA_SCHEMA.fields
    ]
    n = raw.count()
    assert 200 <= n <= 600  # 1..3 items per order
    wh = build_warehouse(raw, geojson_routes(spark, "unused"))
    fact = wh["fact_supplychain_events"]
    assert fact.count() == n
    assert wh["dim_department"].count() == 8
    # null-date stripe survives into the date dim filter (GE:184)
    assert wh["dim_date"].where("date_actual IS NULL").count() == 0
