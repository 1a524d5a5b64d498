from __future__ import annotations

import pandas as pd
import pytest

from mpower_feature_analysis_spark.session import get_spark
from mpower_feature_analysis_spark.transcripts import (
    generate_state_events,
    generate_transcripts,
    spark_transcripts,
)

STATE_SCHEMA = "conv_id string, state_ts timestamp, label string, state_seq long"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("local[4]", app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def batches_of_32(spark):
    """32-row Arrow batches, so grouped kernels see groups split across
    batch boundaries."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "32")
    yield
    spark.conf.set(key, prev)


@pytest.fixture(scope="session")
def transcripts_pdf() -> pd.DataFrame:
    return generate_transcripts(n_turns=1500, n_convs=30, seed=42)


@pytest.fixture(scope="session")
def states_pdf(transcripts_pdf) -> pd.DataFrame:
    return generate_state_events(transcripts_pdf, seed=42)


@pytest.fixture(scope="session")
def transcripts_df(spark, transcripts_pdf):
    return spark_transcripts(spark, transcripts_pdf).cache()


@pytest.fixture(scope="session")
def dedup_pdf(transcripts_pdf) -> pd.DataFrame:
    from mpower_feature_analysis_spark import oracle
    return oracle.dedup_last_wins(transcripts_pdf)


@pytest.fixture(scope="session")
def dedup_df(spark, dedup_pdf):
    return spark_transcripts(spark, dedup_pdf).cache()


@pytest.fixture(scope="session")
def states_df(spark, states_pdf):
    return spark.createDataFrame(states_pdf, schema=STATE_SCHEMA).cache()
