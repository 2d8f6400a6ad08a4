"""Flagship pipeline: product demand → material demand.

The reference's entire raison d'être (reference: README.md:60-82;
pandas dialect mnt/dags/02datalake_to_datawarehouse.py:59-95; SQL
dialect mnt/dags/unused_pipeline_sourcecode.py:36-97):

    product_demand(date, shop_id, product_name, demand)
      → derive 3 material-gram columns (CASE WHEN recipe)
      → groupBy(date, shop_id).sum(3 materials)
      → unpivot → (date, shop_id, raw_material, demand_g)
      → demand_kg = demand_g / 1000 ; drop demand_g
      → orderBy(date, shop_id, raw_material)

The reference runs this as 6 eager single-threaded pandas passes with
CSV disk round-trips between tasks; here it is ONE lazy plan — Catalyst
fuses the derivations into the scan projection, aggregates map-side
before the single shuffle, and the unpivot/scalar steps are narrow.
Agg-before-reshape ordering is preserved deliberately (3× fewer rows
enter the unpivot — SURVEY.md §4).

On driver testdata, ``product_demand`` is a view over ``events``
(FIXTURES.md F5): shop from user_id, date from ts, product bucket from
event_type, demand from value. The bucket uses ``ascii(event_type) % 3``
— deterministic and engine-portable (both Spark and DuckDB return the
first character's codepoint), unlike engine-specific hash().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.aggregate import group_sum
from ..operators.reshape import unpivot_melt
from ..operators.transform import MATERIALS, derive_material_grams

# DuckDB-runnable ANSI SQL for the same view (oracle side).
PRODUCT_DEMAND_VIEW_SQL = """
    SELECT
        'shop_' || CAST(user_id % 20 AS VARCHAR)        AS shop_id,
        CAST(ts AS DATE)                                 AS date,
        CASE ascii(event_type) % 3
            WHEN 0 THEN 'cheap'
            WHEN 1 THEN 'medium'
            ELSE 'expensive'
        END                                              AS product_name,
        value                                            AS demand
    FROM events
"""


def product_demand_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the product_demand relation from the events table."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.concat(F.lit("shop_"), (F.col("user_id") % 20).cast("string")).alias(
            "shop_id"
        ),
        F.to_date("ts").alias("date"),
        F.when(F.ascii("event_type") % 3 == 0, "cheap")
        .when(F.ascii("event_type") % 3 == 1, "medium")
        .otherwise("expensive")
        .alias("product_name"),
        F.col("value").alias("demand"),
    )


MATERIAL_DEMAND_ORDER = ("date", "shop_id", "raw_material")


def material_demand_rows(product_demand: DataFrame) -> DataFrame:
    """Pandas-dialect (live DAG) variant: emits ``demand_kg``
    (reference: mnt/dags/02datalake_to_datawarehouse.py:59-95), in no
    particular order.

    The unordered form is what writers and streams consume: a
    ``partitionBy("date")`` write needs no global order, and on a
    stream a global sort makes Spark run the stateful aggregation
    twice per micro-batch (a range-sampling job, then the real one)."""
    grams = derive_material_grams(product_demand)
    agg = group_sum(
        grams,
        ["date", "shop_id"],
        {f"{m}_g": m for m in MATERIALS},
    )
    long = unpivot_melt(agg, ["date", "shop_id"], list(MATERIALS), "raw_material", "demand")
    return long.withColumn("demand_kg", F.col("demand") / F.lit(1000.0)).drop(
        "demand"
    )


def material_demand(product_demand: DataFrame) -> DataFrame:
    """``material_demand_rows`` in the reference's presentation order
    ``(date, shop_id, raw_material)``."""
    return material_demand_rows(product_demand).orderBy(*MATERIAL_DEMAND_ORDER)


def material_demand_grams(product_demand: DataFrame) -> DataFrame:
    """SQL-dialect variant: unpivot-then-aggregate, emits ``quantity_g``
    (reference: mnt/dags/unused_pipeline_sourcecode.py:36-97 — the
    UNION-ALL-unpivot + GROUP BY shape, SUM at :65)."""
    grams = derive_material_grams(product_demand)
    long = unpivot_melt(
        grams,
        ["date", "shop_id"],
        [f"{m}_g" for m in MATERIALS],
        "material_name",
        "quantity",
    )
    long = long.withColumn(
        "material_name", F.regexp_replace("material_name", "_g$", "")
    )
    return (
        long.groupBy("date", "shop_id", "material_name")
        .agg(F.sum(F.col("quantity").cast("decimal(18,2)")).cast("double").alias("quantity_g"))
        .orderBy("date", "shop_id", "material_name")
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end flagship query on a scale-factor directory."""
    return material_demand(product_demand_view(spark, sf_dir))
