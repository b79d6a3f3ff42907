"""Parse stage vs the pure-pandas oracle (golden equality, the
tabular analog of per-file byte equality, log_collector_test.go:157-167)."""

import os

from pyspark.sql import functions as F

from llogtail_spark.operators.parse import parse_stage
from tests.conftest import assert_same_rows


def test_parse_matches_oracle(spark, data_dir, oracle_pdf):
    df = spark.read.parquet(os.path.join(data_dir, "sequences"))
    got = (
        parse_stage(df)
        .select("doc_id", "source", "n_tok", "level", "level_num", "component", "msg_ntok")
        .toPandas()
    )
    want = oracle_pdf[["doc_id", "source", "n_tok", "level", "level_num", "component"]].copy()
    assert_same_rows(got, want, keys=["doc_id"])
    # msg spans everything after "<LEVEL> <component> "
    assert (
        got.sort_values("doc_id")["msg_ntok"].to_numpy()
        == (want.sort_values("doc_id")["n_tok"].to_numpy() - 2)
    ).all()


def test_parse_no_row_dropped_or_duplicated(spark, data_dir):
    df = spark.read.parquet(os.path.join(data_dir, "sequences"))
    p = parse_stage(df)
    assert p.count() == df.count()
    assert p.select("doc_id").distinct().count() == df.count()


def test_unparseable_rows_yield_nulls(spark):
    # tokens that do not start with a level word -> no grok match
    df = spark.createDataFrame(
        [("x:1", [9999, 9998, 9997], 3, "x.log")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    row = parse_stage(df).select("level", "level_num", "component").first()
    assert row["level"] is None and row["level_num"] is None


def test_code_extraction(spark):
    # code=7 is vocab id 1007
    df = spark.createDataFrame(
        [("x:1", [4, 6, 1007, 30], 4, "x.log")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    assert parse_stage(df).select("code").first()[0] == 7


def test_parse_plan_is_single_arrow_pass(spark, data_dir):
    """The parse stage must cross the Arrow boundary exactly once:
    one ArrowEvalPython node, no row-at-a-time BatchEvalPython."""
    df = spark.read.parquet(os.path.join(data_dir, "sequences"))
    plan = parse_stage(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan
