"""Column-function tests: JVM cell encode / tile math vs numpy + DuckDB."""

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from o2g_spark.functions import cellfns, geo
from o2g_spark.kernels import cells

rng = np.random.default_rng(11)


def _pts_df(spark, n=4000):
    pdf = pd.DataFrame(
        {
            "id": np.arange(n),
            "lat": rng.uniform(-89, 89, n),
            "lon": rng.uniform(-179, 179, n),
        }
    )
    return spark.createDataFrame(pdf), pdf


def test_cell_encode_column_matches_numpy_and_sql(spark):
    df, pdf = _pts_df(spark)
    for res in (3, 9, 12, 20, 29):
        got = (
            df.select("id", cellfns.cell_encode("lat", "lon", res).alias("c"))
            .orderBy("id")
            .toPandas()["c"]
            .to_numpy()
        )
        expect = cells.encode(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), res)
        assert (got == expect).all()
        con = duckdb.connect()
        con.register("pts", pdf)
        sql = con.execute(
            f"SELECT {cells.encode_sql('lat', 'lon', res)} c FROM pts ORDER BY id"
        ).fetchnumpy()["c"]
        assert (sql == expect).all()


def test_cell_encode_jvm_plan_is_codegen(spark):
    """The encode must not introduce a Python/Arrow eval node."""
    df, _ = _pts_df(spark, 10)
    plan = df.select(
        cellfns.cell_encode("lat", "lon", 9)
    )._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_cell_encode_expression_is_linear(spark):
    """The Morton spread reads each grid index once per byte (a table
    lookup), not twice per shift round: the analysed cell_encode holds at
    most 4 FLOOR per coordinate (the shift rounds held 32). cell_from_ixiy
    shares the spread and still equals the numpy encode at res 29."""
    df, _ = _pts_df(spark, 10)
    for res in (14, 29):
        analysed = df.select(
            cellfns.cell_encode("lat", "lon", res)
        )._jdf.queryExecution().analyzed().toString()
        assert 0 < analysed.count("FLOOR(") <= 8, res
    ix, iy = rng.integers(0, 1 << 29, (2, 500))
    pdf = pd.DataFrame({"id": np.arange(500), "ix": ix, "iy": iy})
    got = (
        spark.createDataFrame(pdf)
        .select("id", cellfns.cell_from_ixiy(F.col("ix"), F.col("iy"), 29).alias("c"))
        .orderBy("id").toPandas()["c"].to_numpy()
    )
    assert (got == cells.ixiy_to_cell(ix, iy, 29)).all()


def test_cell_parent_column(spark):
    df, pdf = _pts_df(spark)
    out = df.select(
        cellfns.cell_parent(cellfns.cell_encode("lat", "lon", 12), 12, 7).alias("p"),
        "id",
    ).orderBy("id").toPandas()["p"].to_numpy()
    expect = cells.encode(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), 7)
    assert (out == expect).all()


def test_cell_encode_pandas_udf_agrees(spark):
    df, pdf = _pts_df(spark, 1000)
    got = (
        df.select("id", cellfns.cell_encode_pandas(9)("lat", "lon").alias("c"))
        .orderBy("id")
        .toPandas()["c"]
        .to_numpy()
    )
    assert (got == cells.encode(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), 9)).all()


def test_tile_xy_matches_closed_form(spark):
    df, pdf = _pts_df(spark)
    for zoom in (8, 12):
        out = (
            df.select(
                "id",
                geo.tile_x("lon", zoom).alias("tx"),
                geo.tile_y("lat", zoom).alias("ty"),
            )
            .orderBy("id")
            .toPandas()
        )
        n = 1 << zoom
        ex = np.floor((pdf["lon"].to_numpy() + 180) / 360 * n).astype(np.int64)
        la = np.clip(pdf["lat"].to_numpy(), -geo.MERCATOR_LAT_MAX, geo.MERCATOR_LAT_MAX)
        mer = np.arcsinh(np.tan(np.deg2rad(la)))
        ey = np.floor((1 - mer / np.pi) / 2 * n).astype(np.int64)
        assert (out["tx"].to_numpy() == np.clip(ex, 0, n - 1)).all()
        assert (out["ty"].to_numpy() == np.clip(ey, 0, n - 1)).all()
        # DuckDB replica
        con = duckdb.connect()
        con.register("pts", pdf)
        o = con.execute(
            f"SELECT {geo.tile_x_sql('lon', zoom)} tx, {geo.tile_y_sql('lat', zoom)} ty "
            "FROM pts ORDER BY id"
        ).df()
        assert (o["tx"].to_numpy() == out["tx"].to_numpy()).all()
        assert (o["ty"].to_numpy() == out["ty"].to_numpy()).all()


def test_planar_dist2_bit_exact(spark):
    df, pdf = _pts_df(spark, 500)
    got = (
        df.select("id", geo.planar_dist2("lat", "lon", F.lit(10.5), F.lit(-3.25)).alias("d"))
        .orderBy("id")
        .toPandas()["d"]
        .to_numpy()
    )
    ex = (pdf["lat"].to_numpy() - 10.5) ** 2 + (pdf["lon"].to_numpy() + 3.25) ** 2
    assert (got == ex).all()  # bitwise equality, no tolerance


def test_haversine_column_close_to_kernel(spark):
    from o2g_spark.kernels import geometry as gk

    df, pdf = _pts_df(spark, 500)
    got = (
        df.select("id", geo.haversine_km("lat", "lon", F.lit(48.85), F.lit(2.35)).alias("d"))
        .orderBy("id")
        .toPandas()["d"]
        .to_numpy()
    )
    ex = gk.haversine_km(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), 48.85, 2.35)
    assert np.allclose(got, ex, rtol=1e-12, atol=1e-9)
