"""Shared fixtures (reference analog: ``wallaby2caom2/tests/conftest.py``)."""

from __future__ import annotations

import pytest

from wallaby2caom2_spark import datagen, oracle


@pytest.fixture(scope="session")
def spark():
    from wallaby2caom2_spark.session import get_spark

    s = get_spark(app_name="w2c2s-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def clips_rows():
    """Deterministic e2e fixture rows (seed pinned — the committed golden
    file tests/data/golden_labels.jsonl was produced from these)."""
    return list(datagen.generate_rows(1000, seed=7))


@pytest.fixture(scope="session")
def oracle_labels(clips_rows):
    return oracle.label_rows(clips_rows)


@pytest.fixture(scope="session")
def clips_df(spark, clips_rows):
    df = spark.createDataFrame(
        datagen.generate_table(1000, seed=7).to_pandas(),
        schema="clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    )
    df.persist()
    df.count()
    return df
