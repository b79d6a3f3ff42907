"""Shared fixtures: one local SparkSession per test session, one
deterministic generated dataset per session (seed=42), and a pure
pandas "oracle" view of that dataset computed WITHOUT Spark — the
independent recompute the reference's golden byte-equality tests use
(log_collector_test.go:157-167)."""

from __future__ import annotations

import contextlib
import os

import numpy as np
import pandas as pd
import pytest

from llogtail_spark.generate import (
    LEVEL_NUMS,
    LEVELS,
    build_vocab,
    generate_sequences,
    write_fixture,
)

N_ROWS = 1500
N_FILES = 6
SEED = 42


@pytest.fixture(scope="session")
def spark():
    from llogtail_spark.session import get_spark

    s = get_spark("llogtail_spark-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture
def jobs_in(spark):
    """jobs_in(group): a context manager that runs its block in the
    Spark job group `group` and then appends the number of jobs the
    block started to the list it yields."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def count(group: str):
        counted: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield counted
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
            counted.append(len(sc.statusTracker().getJobIdsForGroup(group)))

    return count


@pytest.fixture(scope="session")
def data_dir(tmp_path_factory) -> str:
    d = str(tmp_path_factory.mktemp("fixture"))
    write_fixture(d, N_ROWS, seed=SEED, n_files=N_FILES)
    return d


@pytest.fixture(scope="session")
def oracle_pdf() -> pd.DataFrame:
    """Independently recomputed expected parse results in pure
    pandas/numpy: doc_id, source, n_tok, level, level_num, component,
    plus the raw token arrays for equality checks."""
    table = generate_sequences(N_ROWS, seed=SEED)
    pdf = table.to_pandas()
    vocab = build_vocab()
    lvl = {w: n for w, n in zip(LEVELS, LEVEL_NUMS)}
    first = np.array([a[0] for a in pdf["tokens"]])
    second = np.array([a[1] for a in pdf["tokens"]])
    pdf["level"] = vocab[first]
    pdf["level_num"] = pdf["level"].map(lvl).astype("int64")
    pdf["component"] = vocab[second]
    return pdf


def assert_same_rows(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]):
    g = got.sort_values(keys).reset_index(drop=True)
    w = want.sort_values(keys).reset_index(drop=True)
    pd.testing.assert_frame_equal(g[w.columns], w, check_dtype=False)
