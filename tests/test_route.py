"""Routing rule truth table + fan-out semantics."""

import pytest
from pyspark.sql import functions as F

from llogtail_spark.operators.route import (
    SinkRule,
    assign_sinks,
    explode_routed,
    load_rules,
)

RULES = [
    SinkRule("errors", "level_num >= 40", "/tmp/x/errors"),
    SinkRule("warnings", "level_num >= 30 AND level_num < 40", "/tmp/x/warnings"),
    SinkRule("firehose", "true", "/tmp/x/firehose"),
]


@pytest.fixture()
def parsed(spark):
    rows = [
        ("a", 50, "app.log"),   # errors + firehose
        ("b", 40, "app.log"),   # errors + firehose
        ("c", 30, "warn.log"),  # warnings + firehose
        ("d", 20, "info.log"),  # firehose only
        ("e", None, "x.log"),   # unparsed -> firehose only
    ]
    return spark.createDataFrame(rows, "doc_id string, level_num int, source string")


def test_assign_sinks_truth_table(parsed):
    got = {r["doc_id"]: sorted(r["sinks"]) for r in assign_sinks(parsed, RULES).collect()}
    assert got == {
        "a": ["errors", "firehose"],
        "b": ["errors", "firehose"],
        "c": ["firehose", "warnings"],
        "d": ["firehose"],
        "e": ["firehose"],
    }


def test_explode_routed_row_count(parsed):
    routed = explode_routed(parsed, RULES)
    assert routed.count() == 5 + 2 + 1  # firehose(5) + errors(2) + warnings(1)
    assert routed.filter(F.col("sink") == "errors").count() == 2


def test_load_rules_roundtrip(tmp_path):
    import json

    p = tmp_path / "rules.json"
    p.write_text(json.dumps([r.__dict__ for r in RULES], default=dict))
    rules = load_rules(str(p))
    assert rules == RULES


def test_duplicate_sink_names_rejected():
    with pytest.raises(ValueError):
        load_rules([{"name": "a", "predicate": "true", "path": "/p"},
                    {"name": "a", "predicate": "false", "path": "/q"}])


def test_routing_stays_in_codegen(parsed):
    """Sink assignment is a pure Catalyst expression — no Python eval
    node may appear in the plan."""
    plan = assign_sinks(parsed, RULES)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
