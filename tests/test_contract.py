"""Guard the driver gate: Spark queries() vs DuckDB oracle_sql() at sf0.001.

The round driver runs the full comparison at sf0.01; this keeps a fast
always-on subset in the pytest suite (TESTDATA.md smoke tier).
"""

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

SUBSET = [
    "dedup_last_wins", "asof_state_label", "turn_gaps", "sessionize",
    "user_aggregate", "burst_membership", "pivot_role_counts",
    "lineitem_pricing", "customer_meta_agg",
    # synthetic inputs (MEDIA_N rows), independent of the sf data
    "media_features", "media_resize", "media_frames", "media_frames_real",
    "media_png_real", "media_jpeg_real", "media_mp4_real",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, duck, name):
    sdf = _norm(entrymod.queries()[name](spark, SF_DIR).toPandas())
    odf = _norm(duck.sql(entrymod.oracle_sql()[name]).df())
    assert len(sdf) == len(odf)
    assert list(sdf.columns) == list(odf.columns)
    for c in sdf.columns:
        a, b = sdf[c], odf[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            np.testing.assert_allclose(
                pd.to_numeric(a).to_numpy("float64"),
                pd.to_numeric(b).to_numpy("float64"),
                rtol=0, atol=0, equal_nan=True, err_msg=f"{name}.{c}",
            )
        else:
            ae = a.where(pd.notna(a), None)
            be = b.where(pd.notna(b), None)
            assert list(ae) == list(be), f"{name}.{c}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert {"conv_id", "turn_idx", "text", "label", "session_id"}.issubset(set(df.columns))
