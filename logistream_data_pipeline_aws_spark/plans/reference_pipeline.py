"""The reference-parity warehouse build: rawdata + routes -> 9 tables.

This is the full ETL of ``etl_jobs/glue_master_etl.py`` (GE:88-364)
re-expressed Spark-first: one DataFrame DAG instead of 12 sequential
Glue jobs with TRUNCATE/JDBC round trips.  Differences by design:

- Surrogate keys generated in-plan (functions.keys) — no IDENTITY
  write→read-back (GE:117-128 disappears).
- The full DDL intent is populated, closing the reference's gaps
  (SURVEY §1.5): dim_date calendar attrs (DS:55-59), dim_customer
  email/city/state (DS:32-34), dim_product product_image (DS:22), and
  the fact's ``customer_geo_key`` (DS:100, never computed in GE).
- The LJ:40 dest_long bug is *not* replicated (sources.geojson), so
  route lookups actually hit.
- Dims land first and the fact joins the landed keys, as in the
  reference's job order: ``build_warehouse`` stages each dimension
  (one cached partition each) so one load derives every dim once, and
  ``write_warehouse`` releases the staged frames after the fact write.
- The 20/50-bucket sequential write loops (GE:150-162, GE:352-362)
  disappear: the dims are single-file overwrites, and the fact is one
  write partitioned on ``order_month``, rebalanced so each month lands
  as one file (AQE splits a month only when it outgrows the advisory
  partition size).

Every lookup side is dimension-sized -> broadcast; the fact table never
shuffles for a lookup (SURVEY §4.4) — the plan that still works at
100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logistream_data_pipeline_aws_spark.functions.dates import (
    date_key,
    parse_raw_date,
)
from logistream_data_pipeline_aws_spark.functions.keys import (
    with_sequential_key,
    with_surrogate_key,
)
from logistream_data_pipeline_aws_spark.functions.normalize import norm_key
from logistream_data_pipeline_aws_spark.operators.dedup import dedup_first
from logistream_data_pipeline_aws_spark.operators.dimensions import (
    build_date_dimension,
    build_dimension,
    build_junk_dimension,
)
from logistream_data_pipeline_aws_spark.operators.fact import KeyLookup, assemble_fact


def build_dim_department(rawdata: DataFrame) -> DataFrame:
    """GE:109-114: dept projection -> dedup -> key."""
    return build_dimension(
        rawdata,
        {"dept_id": "department_id", "dept_name": "department_name"},
        natural_key=["dept_id"],
        key_name="dept_key",
    ).select("dept_key", "dept_id", "dept_name")


def build_dim_category(rawdata: DataFrame, dim_department: DataFrame) -> DataFrame:
    """GE:118-124: category dedup + parent-key chain (J1)."""
    return build_dimension(
        rawdata,
        {"cat_id": "category_id", "cat_name": "category_name", "dept_id": "department_id"},
        natural_key=["cat_id"],
        key_name="cat_key",
        parent=dim_department.select("dept_id", "dept_key"),
        parent_on=["dept_id"],
    ).select("cat_key", "cat_id", "cat_name", "dept_key")


def build_dim_product(rawdata: DataFrame, dim_category: DataFrame) -> DataFrame:
    """GE:129-138 (+ product_image per DS:22, which GE never loads)."""
    return build_dimension(
        rawdata,
        {
            "product_card_id": "product_card_id",
            "product_name": "product_name",
            "product_price": "order_item_product_price",
            "product_image": "product_image",
            "cat_id": "category_id",
        },
        natural_key=["product_card_id"],
        key_name="product_key",
        parent=dim_category.select("cat_id", "cat_key"),
        parent_on=["cat_id"],
    ).select(
        "product_key", "product_card_id", "product_name", "product_price",
        "product_image", "cat_key",
    )


def build_dim_customer(rawdata: DataFrame) -> DataFrame:
    """GE:141-162 + the DS:32-34 columns (email/city/state) GE skips."""
    return build_dimension(
        rawdata,
        {
            "customer_id": "customer_id",
            "first_name": "customer_fname",
            "last_name": "customer_lname",
            "email": "customer_email",
            "city": "customer_city",
            "state": "customer_state",
            "country": "customer_country",
            "segment": "customer_segment",
        },
        natural_key=["customer_id"],
        key_name="customer_key",
    ).select(
        "customer_key", "customer_id", "first_name", "last_name", "email",
        "city", "state", "country", "segment",
    )


def build_dim_geography(rawdata: DataFrame) -> DataFrame:
    """GE:222-241: unified location dim, deduped on the normalized
    (city, state, country) triple the fact joins on (GE:308-310)."""
    geo = rawdata.select(
        F.col("order_city").alias("city"),
        F.col("order_state").alias("state"),
        F.col("order_country").alias("country"),
        F.col("order_region").alias("region"),
        F.col("market").alias("market"),
        F.col("latitude_src").alias("latitude"),
        F.col("longitude_src").alias("longitude"),
        norm_key("order_city").alias("g_city"),
        norm_key("order_state").alias("g_state"),
        norm_key("order_country").alias("g_country"),
    )
    geo = dedup_first(
        geo,
        keys=["g_city", "g_state", "g_country"],
        tiebreak=["city", "state", "country", "latitude", "longitude"],
    )
    return with_sequential_key(geo, "geo_key", ["g_city", "g_state", "g_country"])


def build_dim_execution_status(rawdata: DataFrame) -> DataFrame:
    """GE:166-172 / DS:63-68: the junk dimension, keys normalized."""
    return build_junk_dimension(
        rawdata,
        flags={
            "shipping_mode": "shipping_mode",
            "delivery_status": "delivery_status",
            "order_status": "order_status",
        },
        key_name="status_key",
    ).select("status_key", "shipping_mode", "delivery_status", "order_status")


def build_dim_date(rawdata: DataFrame) -> DataFrame:
    """GE:180-198: order-date ∪ ship-date under "M/d/yyyy H:m" parsing,
    plus DS:55-59 calendar attrs."""
    parsed = rawdata.select(
        parse_raw_date("order_date_dateorders").alias("order_date"),
        parse_raw_date("shipping_date_dateorders").alias("shipping_date"),
    )
    return build_date_dimension(
        [(parsed, "order_date"), (parsed, "shipping_date")], key_name="date_key"
    ).select(
        "date_key", "date_actual", "year", "month", "month_name",
        "day_of_week", "quarter",
    )


def build_dim_route_shapes(processed_routes: DataFrame) -> DataFrame:
    """GE:211-217: dedup flattened routes on the 4-coord natural key."""
    routes = dedup_first(
        processed_routes.select(
            "origin_lat", "origin_long", "dest_lat", "dest_long", "shape_wkt"
        ),
        keys=["origin_lat", "origin_long", "dest_lat", "dest_long"],
        tiebreak=["shape_wkt"],
    )
    return with_sequential_key(
        routes, "route_shape_key",
        ["origin_lat", "origin_long", "dest_lat", "dest_long"],
    )


def build_fact(
    rawdata: DataFrame,
    dim_product: DataFrame,
    dim_customer: DataFrame,
    dim_execution_status: DataFrame,
    dim_geography: DataFrame,
    dim_route_shapes: DataFrame,
) -> DataFrame:
    """GE:294-348: derivations + the key pipeline, all broadcast joins.

    17 non-identity DDL columns (DS:81-102) including the two the
    reference never populates: customer_geo_key and (hit-capable)
    route_shape_key.
    """
    derived = {
        "order_date_key": date_key(parse_raw_date("order_date_dateorders")),
        "shipping_date_key": date_key(parse_raw_date("shipping_date_dateorders")),
        "sm": norm_key("shipping_mode"),
        "ds": norm_key("delivery_status"),
        "os": norm_key("order_status"),
        "o_city": norm_key("order_city"),
        "o_state": norm_key("order_state"),
        "o_country": norm_key("order_country"),
        "c_city": norm_key("customer_city"),
        "c_state": norm_key("customer_state"),
        "c_country": norm_key("customer_country"),
    }
    geo_keys = dim_geography.select("geo_key", "g_city", "g_state", "g_country")
    lookups = [
        # J3: product lookup
        KeyLookup(dim_product.select("product_key", "product_card_id"),
                  ["product_card_id"], ["product_card_id"], ["product_key"]),
        # J4: customer lookup on differing column names
        KeyLookup(dim_customer.select("customer_key", "customer_id"),
                  ["order_customer_id"], ["customer_id"], ["customer_key"]),
        # J6: 3-column normalized junk-status lookup
        KeyLookup(dim_execution_status,
                  ["sm", "ds", "os"],
                  ["shipping_mode", "delivery_status", "order_status"],
                  ["status_key"]),
        # J7: order geography
        KeyLookup(geo_keys.withColumnRenamed("geo_key", "order_geo_key"),
                  ["o_city", "o_state", "o_country"],
                  ["g_city", "g_state", "g_country"], ["order_geo_key"]),
        # DS:100 gap closed: customer geography
        KeyLookup(geo_keys.withColumnRenamed("geo_key", "customer_geo_key"),
                  ["c_city", "c_state", "c_country"],
                  ["g_city", "g_state", "g_country"], ["customer_geo_key"]),
        # J5: route lookup on the 4-coordinate natural key
        KeyLookup(dim_route_shapes.select(
                      "route_shape_key", "origin_lat", "origin_long",
                      "dest_lat", "dest_long"),
                  ["latitude_src", "longitude_src", "latitude_dest", "longitude_dest"],
                  ["origin_lat", "origin_long", "dest_lat", "dest_long"],
                  ["route_shape_key"]),
    ]
    fact = assemble_fact(
        rawdata,
        lookups,
        derived=derived,
        project=[
            "order_id",
            "order_item_id",
            "sales",
            F.col("order_item_quantity").alias("quantity"),
            F.col("order_item_discount_rate").alias("discount_rate"),
            F.col("order_profit_per_order").alias("profit"),
            F.col("days_for_shipping_real").alias("days_real"),
            F.col("days_for_shipment_scheduled").alias("days_scheduled"),
            F.col("late_delivery_risk").alias("late_risk"),
            "product_key",
            "customer_key",
            "status_key",
            "order_date_key",
            "shipping_date_key",
            "order_geo_key",
            "customer_geo_key",
            "route_shape_key",
        ],
    )
    return with_surrogate_key(fact, "fact_id")


def build_warehouse(
    rawdata: DataFrame, processed_routes: DataFrame, stage_dims: bool = True
) -> dict[str, DataFrame]:
    """The whole DAG: 8 dims + fact, as one lazy plan dictionary.

    By default each dimension is staged — ``coalesce(1)`` then
    ``persist(MEMORY_AND_DISK)`` — before the fact references it: the
    shape of the reference's load (dims land first, the fact joins the
    landed keys).  Every keyed dim is ranked on the driver by
    ``with_sequential_key`` when this is called (one Spark job each, at
    most ``_KEYGEN_MAX_ROWS`` rows); the first action on a dim fills its
    cache and every later reader (a child dim, the fact's broadcast
    lookups) scans it.  Dims are small by construction, so one partition
    each is the layout AQE would coalesce them to anyway; without the
    ``coalesce(1)`` a persisted plan keeps its 32 shuffle partitions
    (AQE does not coalesce a cached plan's output) and each dim writes
    32 files.

    The staged frames stay cached until ``write_warehouse`` writes the
    fact, or until the caller unpersists them; Spark matches cached data
    by plan, so a staged dim outliving its load would serve old rows to
    a later load of a rewritten file at the same path.
    ``stage_dims=False`` returns the unstaged plans: the fact then
    embeds the five dims' keyed snapshots as local relations.
    Results are identical either way.
    """

    def stage(df: DataFrame) -> DataFrame:
        if not stage_dims:
            return df
        from pyspark import StorageLevel

        return df.coalesce(1).persist(StorageLevel.MEMORY_AND_DISK)

    dim_department = stage(build_dim_department(rawdata))
    dim_category = stage(build_dim_category(rawdata, dim_department))
    dim_product = stage(build_dim_product(rawdata, dim_category))
    dim_customer = stage(build_dim_customer(rawdata))
    dim_geography = stage(build_dim_geography(rawdata))
    dim_execution_status = stage(build_dim_execution_status(rawdata))
    dim_date = stage(build_dim_date(rawdata))
    dim_route_shapes = stage(build_dim_route_shapes(processed_routes))
    fact = build_fact(
        rawdata, dim_product, dim_customer, dim_execution_status,
        dim_geography, dim_route_shapes,
    )
    return {
        "dim_department": dim_department,
        "dim_category": dim_category,
        "dim_product": dim_product,
        "dim_customer": dim_customer,
        "dim_geography": dim_geography,
        "dim_execution_status": dim_execution_status,
        "dim_date": dim_date,
        "dim_route_shapes": dim_route_shapes,
        "fact_supplychain_events": fact,
    }


def write_warehouse(warehouse: dict[str, DataFrame], base_path: str) -> None:
    """Persist the warehouse under ``base_path``, one directory per table.

    The dims are written first, in dict order, as single overwrite tables
    (replacing the reference's TRUNCATE+append, GE:46-59); a staged dim
    fills its cache on that write, so the fact write reads it from
    memory.  The fact is then written in ONE job (replacing the 20
    sequential bucket-filtered loads, GE:352-362), directory-partitioned
    on the order month and rebalanced on it, so each month lands as one
    file.  AQE's rebalance splits a month only when it outgrows the
    advisory partition size, so the file count follows the data with no
    bucket-count knob.

    The time axis is the dominant filter of every dashboard query
    (A5-A8 all slice by date); hive partitioning on ``order_month``
    (yyyymm, derived from the yyyymmdd ``order_date_key``) means a
    date-band query prunes whole directories via ``PartitionFilters`` —
    at 100x scale the difference between scanning a month and scanning
    the table.  Unparseable dates land in the hive default partition,
    still queryable, never silently dropped.  The reference can't show
    this layer (Redshift owns its storage); it is what the DDL's
    date-keyed fact implies.

    After the fact is written, every cached frame of ``warehouse`` is
    unpersisted, so no staged dim outlives its load.  A dict without the
    fact releases nothing; a caller that writes the tables one dict at a
    time unpersists the staged dims itself."""
    import os

    from logistream_data_pipeline_aws_spark.sources.io import write_table

    fact_name = "fact_supplychain_events"
    for name, df in warehouse.items():
        if name != fact_name:
            write_table(df, os.path.join(base_path, name))
    if fact_name not in warehouse:
        return
    fact = warehouse[fact_name].withColumn(
        "order_month", F.expr("order_date_key div 100").cast("int")
    )
    write_table(
        fact.hint("rebalance", F.col("order_month")),
        os.path.join(base_path, fact_name),
        partition_by=["order_month"],
    )
    for df in warehouse.values():
        if df.is_cached:
            df.unpersist()
