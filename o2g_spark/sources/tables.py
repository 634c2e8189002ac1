"""Table loaders: driver testdata parquet + synthetic fixture → DataFrame.

The production source is an Iceberg `pages` table (BASELINE.json B1);
no Iceberg jar exists offline (SURVEY.md §8), so the scan layer reads
parquet with the identical schema and the Iceberg path is gated behind
a capability probe — swapping in `spark.read.table("pages")` is a
one-line change where noted.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TPCH_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

_POINT = T.StructType(
    [T.StructField("lon", T.DoubleType(), False), T.StructField("lat", T.DoubleType(), False)]
)
ZONES_SCHEMA = T.StructType(
    [
        T.StructField("zone_id", T.LongType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("ring", T.ArrayType(_POINT), False),
        T.StructField("holes", T.ArrayType(T.ArrayType(_POINT)), False),
    ]
)

GAZETTEER_SCHEMA = T.StructType(
    [
        T.StructField("place", T.StringType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("lon", T.DoubleType(), False),
    ]
)

STOPS_SCHEMA = T.StructType(
    [
        T.StructField("stop_id", T.LongType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("lon", T.DoubleType(), False),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), False),
    ]
)

ROUTES_SCHEMA = T.StructType(
    [
        T.StructField("route_id", T.LongType(), False),
        T.StructField("route_type", T.StringType(), False),
        T.StructField(
            "members",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("ref", T.LongType(), False),
                        T.StructField("role", T.StringType(), False),
                    ]
                )
            ),
            False,
        ),
    ]
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-provided parquet table (column-pruned, pushdown-able)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def pages_df(spark: SparkSession, pages_pdf: pd.DataFrame) -> DataFrame:
    return spark.createDataFrame(pages_pdf, schema=PAGES_SCHEMA)


def zones_df(spark: SparkSession, zones_pdf: pd.DataFrame) -> DataFrame:
    rows = [
        (
            int(r.zone_id),
            r.name,
            [(p["lon"], p["lat"]) for p in r.ring],
            [[(p["lon"], p["lat"]) for p in h] for h in r.holes],
        )
        for r in zones_pdf.itertuples()
    ]
    return spark.createDataFrame(rows, schema=ZONES_SCHEMA)


def gazetteer_df(spark: SparkSession, gaz_pdf: pd.DataFrame) -> DataFrame:
    return spark.createDataFrame(gaz_pdf, schema=GAZETTEER_SCHEMA)


def stops_df(spark: SparkSession, stops_pdf: pd.DataFrame) -> DataFrame:
    rows = [
        (int(r.stop_id), float(r.lat), float(r.lon), dict(r.tags))
        for r in stops_pdf.itertuples()
    ]
    return spark.createDataFrame(rows, schema=STOPS_SCHEMA)


def routes_df(spark: SparkSession, routes_pdf: pd.DataFrame) -> DataFrame:
    rows = [
        (int(r.route_id), r.route_type, [(int(m["ref"]), m["role"]) for m in r.members])
        for r in routes_pdf.itertuples()
    ]
    return spark.createDataFrame(rows, schema=ROUTES_SCHEMA)
