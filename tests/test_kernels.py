import numpy as np
import pytest
import pandas as pd

from mpower_feature_analysis_spark import oracle
from mpower_feature_analysis_spark.operators import windowed_summary_features

SORT = ["conv_id", "window_idx"]


def _run(df, **kw):
    return (
        windowed_summary_features(df, **kw).orderBy(*SORT).toPandas()
    )


def _assert_matches_oracle(got, pdf):
    want = oracle.window_features(pdf, window=8, overlap=0.5)
    want = want.sort_values(SORT, kind="mergesort").reset_index(drop=True)
    assert len(got) == len(want)
    for c in ["conv_id", "window_idx", "n", "start_turn_idx", "end_turn_idx"]:
        np.testing.assert_array_equal(got[c].to_numpy(), want[c].to_numpy())
    for c in ["mean_gap_ms", "median_gap_ms", "iqr_gap_ms", "entropy_gap"]:
        np.testing.assert_allclose(
            got[c].to_numpy(dtype="float64"),
            want[c].to_numpy(dtype="float64"),
            rtol=1e-9, equal_nan=True, err_msg=c,
        )


def test_matches_pandas_oracle(spark, dedup_df, dedup_pdf):
    _assert_matches_oracle(_run(dedup_df, window=8, overlap=0.5), dedup_pdf)


@pytest.mark.parametrize("shuffle_key", [None, "user_key"])
def test_matches_oracle_across_batch_boundaries(
    spark, dedup_df, dedup_pdf, batches_of_32, shuffle_key
):
    """32-row Arrow batches split most conversations (~50 turns each)
    across batches, so the harness must carry them whole. ``user_key``
    maps several conversations to one key: the (key, conv_id) sort keeps
    each conversation contiguous."""
    from pyspark.sql import functions as F

    df = dedup_df.withColumn("user_key", F.abs(F.hash("conv_id")) % 3)
    got = _run(df, window=8, overlap=0.5, shuffle_key=shuffle_key)
    _assert_matches_oracle(got, dedup_pdf)


def test_null_ts_or_turn_idx_gives_error_row(spark):
    """A NULL ts or turn_idx used to be cast to int64 as a garbage value
    (a 2.3e18 ms gap); now the conversation is one F5 error row."""
    import pyarrow as pa

    from mpower_feature_analysis_spark.operators.kernels import _window_kernel
    from mpower_feature_analysis_spark.utils import ts_ms

    # "a": 7 turns, the last ts NULL; "b": one turn_idx NULL; "c": clean
    rows = [("a", i, None if i == 6 else f"2024-01-01 00:00:{i * 7:02d}")
            for i in range(7)]
    rows += [("b", None if i == 2 else i, f"2024-01-01 00:01:{i:02d}")
             for i in range(9)]
    rows += [("c", i, f"2024-01-01 00:02:{i * i:02d}") for i in range(6)]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts_s string"
    ).selectExpr("conv_id", "turn_idx", "cast(ts_s as timestamp) as ts")
    out = _run(t, window=4)
    errs = dict(zip(out["conv_id"], out["error"]))
    assert (out["conv_id"] == "a").sum() == 1
    assert (out["conv_id"] == "b").sum() == 1
    assert errs["a"] == "null ts or turn_idx in 1 of 7 turns"
    assert errs["b"] == "null ts or turn_idx in 1 of 9 turns"
    c = out[out["conv_id"] == "c"]
    assert c["error"].isna().all() and len(c) == 1
    assert c["mean_gap_ms"].iloc[0] == 4000.0  # gaps 1, 3, 5, 7 s

    pdf = t.select("conv_id", "turn_idx", ts_ms("ts").alias("ts_ms")).toPandas()
    kernel = _window_kernel(window=4, overlap=0.5)
    for conv, msg in (("a", errs["a"]), ("b", errs["b"])):
        g = pdf[pdf["conv_id"] == conv].sort_values(
            ["turn_idx", "ts_ms"], kind="mergesort")
        got = kernel(pa.Table.from_pandas(g, preserve_index=False))
        assert list(got["error"]) == [msg]
        assert np.isnan(got["mean_gap_ms"]).all()


def _operators():
    from mpower_feature_analysis_spark.operators import (
        freq_domain_features,
        freq_domain_features_skew_split,
        signal_summary_features,
        signal_summary_features_skew_split,
        windowed_summary_features,
        windowed_summary_features_skew_split,
    )
    return {
        "window": lambda df: windowed_summary_features(df, window=4),
        "window_skew_split": lambda df: windowed_summary_features_skew_split(
            df, window=4, split_turns=8),
        "signal": lambda df: signal_summary_features(df, window=16),
        "signal_skew_split": lambda df: signal_summary_features_skew_split(
            df, window=16, split_size=32),
        "freq": lambda df: freq_domain_features(df, window=16),
        "freq_skew_split": lambda df: freq_domain_features_skew_split(
            df, window=16, split_size=32),
    }


@pytest.mark.parametrize("op", sorted(_operators()))
def test_error_rows_carry_null_not_nan(spark, op):
    """F5 error rows hold NULL, not NaN, in every float feature column, on
    every path. Checked Spark-side: ``toPandas`` maps both to NaN."""
    from pyspark.sql import functions as F

    rows = [("tiny", 0, "2024-01-01 00:00:00", 1.0)]
    rows += [("ok", i, f"2024-01-01 00:01:{i:02d}", float(i % 5))
             for i in range(40)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts_s string, value double"
    ).selectExpr("conv_id", "turn_idx", "cast(ts_s as timestamp) as ts", "value")
    out = _operators()[op](df)
    floats = [f.name for f in out.schema.fields
              if f.dataType.typeName() == "double"]
    errs = out.filter(F.col("error").isNotNull())
    assert errs.count() == 1
    bad = errs.filter(
        F.greatest(*[F.col(c).isNotNull().cast("int") for c in floats]) > 0)
    assert bad.count() == 0
    assert out.filter(F.col("error").isNull()).count() > 0


def test_skew_split_identical(spark, dedup_df, request):
    """Hot-conversation range-splitting with boundary overlap reproduces the
    unsplit output exactly — SURVEY.md §4 skew handling for kernels. The
    second pass runs under 32-row Arrow batches, so (conversation, chunk)
    groups span batches and are carried."""
    from mpower_feature_analysis_spark.operators import (
        windowed_summary_features_skew_split,
    )
    a = _run(dedup_df, window=8, overlap=0.5)
    for batches in (None, "batches_of_32"):
        if batches:
            request.getfixturevalue(batches)
        for split in (16, 64):
            b = (
                windowed_summary_features_skew_split(
                    dedup_df, window=8, overlap=0.5, split_turns=split
                )
                .orderBy(*SORT)
                .toPandas()
            )
            pd.testing.assert_frame_equal(a, b)


def test_skew_split_null_ts_past_chunk_zero(spark):
    """A NULL ts past chunk 0 still yields the unsplit operator's one error
    row for the whole conversation, not the other chunks' windows."""
    from mpower_feature_analysis_spark.operators import (
        windowed_summary_features_skew_split,
    )
    ts = pd.Series(pd.to_datetime(
        1_700_000_000_000 + np.arange(100) * 1000, unit="ms"))
    ts[40] = pd.NaT
    t = pd.DataFrame({"conv_id": "c", "turn_idx": np.arange(100, dtype="int32"),
                      "ts": ts})
    tdf = spark.createDataFrame(t, "conv_id string, turn_idx int, ts timestamp")
    want = _run(tdf, window=8, overlap=0.5)
    assert list(want["error"]) == ["null ts or turn_idx in 1 of 100 turns"]
    got = (windowed_summary_features_skew_split(
        tdf, window=8, overlap=0.5, split_turns=16).orderBy(*SORT).toPandas())
    pd.testing.assert_frame_equal(want, got)


def test_skew_split_rejects_misaligned_chunk(spark, dedup_df):
    from mpower_feature_analysis_spark.operators import (
        windowed_summary_features_skew_split,
    )
    with pytest.raises(ValueError):
        windowed_summary_features_skew_split(dedup_df, window=8, overlap=0.5, split_turns=33)


def test_type7_quantile_parity(spark):
    """Exact type-7 (R default / np linear) quantiles inside kernels."""
    ts0 = 1_700_000_000_000
    gaps = [1000, 3000, 2000, 10000, 4000, 8000, 6000, 5000, 7000]
    ts = np.cumsum([0] + gaps) + ts0
    t = pd.DataFrame({
        "conv_id": "c",
        "turn_idx": np.arange(len(ts), dtype="int32"),
        "ts": pd.to_datetime(ts, unit="ms"),
    })
    tdf = spark.createDataFrame(t, "conv_id string, turn_idx int, ts timestamp")
    got = _run(tdf, window=9, overlap=0.5)
    v = np.array(gaps, dtype="float64")
    q1, md, q3 = np.percentile(v, [25, 50, 75], method="linear")
    assert got.loc[0, "median_gap_ms"] == md
    assert got.loc[0, "iqr_gap_ms"] == q3 - q1


def test_error_channel_for_tiny_groups(spark):
    t = spark.createDataFrame(
        [("solo", 0, "2024-01-01 00:00:00")],
        "conv_id string, turn_idx int, ts_s string",
    ).selectExpr("conv_id", "turn_idx", "cast(ts_s as timestamp) as ts")
    out = _run(t)
    assert len(out) == 1
    assert out.loc[0, "error"] == "group too small: 1 turns"
    assert np.isnan(out.loc[0, "mean_gap_ms"])


def test_constant_gaps_zero_entropy(spark):
    ts0 = 1_700_000_000_000
    ts = ts0 + np.arange(12) * 1000
    t = pd.DataFrame({
        "conv_id": "c",
        "turn_idx": np.arange(12, dtype="int32"),
        "ts": pd.to_datetime(ts, unit="ms"),
    })
    tdf = spark.createDataFrame(t, "conv_id string, turn_idx int, ts timestamp")
    got = _run(tdf, window=8, overlap=0.5)
    assert (got["entropy_gap"] == 0.0).all()
    assert (got["iqr_gap_ms"] == 0.0).all()


def test_skew_split_rejects_chunk_smaller_than_window(spark, dedup_df):
    from mpower_feature_analysis_spark.operators import (
        windowed_summary_features_skew_split,
    )
    with pytest.raises(ValueError, match=">= window"):
        windowed_summary_features_skew_split(
            dedup_df, window=8, overlap=0.5, split_turns=4
        )


def test_presorted_layout_equals_default(spark, dedup_df, tmp_path):
    """The shuffle-free presorted path over a bucketed, sorted
    parquet layout (what write_stable_parquet produces) reproduces the
    default repartition+sort path exactly — the scaling bench relies on it."""
    from mpower_feature_analysis_spark.sources.io import write_stable_parquet

    path = str(tmp_path / "sorted_transcripts")
    write_stable_parquet(
        dedup_df, path, key_col="conv_id",
        order_cols=("conv_id", "turn_idx", "ts"), n_partitions=4,
    )
    back = spark.read.parquet(path)
    a = (
        windowed_summary_features(back, window=8, overlap=0.5, presorted=True)
        .orderBy(*SORT).toPandas()
    )
    b = (
        windowed_summary_features(back, window=8, overlap=0.5)
        .orderBy(*SORT).toPandas()
    )
    pd.testing.assert_frame_equal(a, b)
    # and no exchange in the presorted plan
    import io as _io
    from contextlib import redirect_stdout
    buf = _io.StringIO()
    with redirect_stdout(buf):
        windowed_summary_features(back, window=8, presorted=True).explain()
    assert "Exchange" not in buf.getvalue()


def test_arrow_shuffle_key_variant_identical(spark):
    """Shuffling the kernel on a 1:1 precursor key (user_id) instead
    of the derived conv_id string reproduces the default output exactly —
    and plans with a single exchange end-to-end from events."""
    from mpower_feature_analysis_spark.transcripts import (
        events_df, transcripts_from_events,
    )
    sf = "/root/testdata/sf0.001"
    t_keyed = transcripts_from_events(events_df(spark, sf), keep_key=True)
    t_plain = transcripts_from_events(events_df(spark, sf))
    a = (
        windowed_summary_features(t_keyed, window=8, shuffle_key="user_id")
        .orderBy(*SORT).toPandas()
    )
    b = (
        windowed_summary_features(t_plain, window=8)
        .orderBy(*SORT).toPandas()
    )
    pd.testing.assert_frame_equal(a, b)
    import io as _io
    import re as _re
    from contextlib import redirect_stdout
    buf = _io.StringIO()
    with redirect_stdout(buf):
        windowed_summary_features(
            t_keyed, window=8, shuffle_key="user_id"
        ).explain("formatted")
    assert len(_re.findall(r"\(\d+\) Exchange", buf.getvalue())) == 1


def test_run_starts_treats_null_as_one_key():
    import pyarrow as pa

    from mpower_feature_analysis_spark.operators.kernels import run_starts

    col = pa.chunked_array([pa.array([None, None, "a"]), pa.array(["a", None, "b", "b"])])
    assert list(run_starts(col)) == [0, 2, 4, 5]
    assert list(run_starts(pa.array(["x"]))) == [0]
    assert len(run_starts(pa.array([], pa.string()))) == 0


def test_window_kernel_failure_is_per_conversation_error_row(monkeypatch):
    """F5: when the vectorized pass raises, each conversation is retried
    alone; one that still fails becomes an error row, never a failed task."""
    import pyarrow as pa

    from mpower_feature_analysis_spark.operators import kernels

    def boom(sw):
        raise ValueError("boom")

    monkeypatch.setattr(kernels, "_entropy_rows", boom)
    tbl = pa.table({"conv_id": ["a", "a", "a", "b"],
                    "turn_idx": [0, 1, 2, 0],
                    "ts_ms": [0, 10, 30, 0]})
    out = kernels._window_kernel(8, 0.5)(tbl)
    assert list(out["conv_id"]) == ["a", "b"]
    assert list(out["error"]) == ["ValueError: boom", "group too small: 1 turns"]
    assert np.isnan(out["mean_gap_ms"]).all()
