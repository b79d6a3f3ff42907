"""Grok compiler units (no Spark)."""

import re

import pytest

from llogtail_spark.functions.grok import BASE_PATTERNS, compile_grok


def test_simple_named_groups():
    rx = compile_grok(r"^%{LOGLEVEL:level} %{WORD:component} %{GREEDYDATA:msg}$")
    m = rx.match("ERROR auth connection failed code=42")
    assert m.group("level") == "ERROR"
    assert m.group("component") == "auth"
    assert m.group("msg") == "connection failed code=42"


def test_unnamed_refs_do_not_capture():
    rx = compile_grok(r"%{LOGLEVEL} %{WORD:c}")
    m = rx.match("WARN db rest")
    assert m.groupdict() == {"c": "db"}


def test_unknown_pattern_raises():
    with pytest.raises(KeyError):
        compile_grok(r"%{NOPE:x}")


def test_number_and_ip():
    assert re.fullmatch(BASE_PATTERNS["NUMBER"], "-3.25")
    assert re.fullmatch(BASE_PATTERNS["IP"], "10.0.0.255")
