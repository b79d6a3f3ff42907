"""Named-sink routing.

The reference has exactly one named sink selected by config type
(sink.go:3-13, log_collector.go:99-104) and funnels every file's
bytes through one fd under a mutex (file_sink.go:60-61). The rebuild
generalizes to K named sinks with SQL predicates — the config-file
shape mirrors example/collector.json:1-13 — and removes the global
lock: each sink is a parallel partitioned write.

Rules may overlap (a row can route to several sinks), mirroring how
the single llogtail sink receives everything keyed by file.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# sink names and partition ids become literal path segments
# (sink=<name>/part=<id>) that are later re-joined with os.path —
# Spark's partition-value escaping (%20 etc.) would silently break
# that round trip, so restrict to characters that never get escaped.
SAFE_NAME = re.compile(r"^[A-Za-z0-9._-]+$")


@dataclass(frozen=True)
class SinkRule:
    """One named sink: rows matching `predicate` (a SQL boolean
    expression over the parsed/enriched columns) land at `path`."""

    name: str
    predicate: str
    path: str
    format: str = "parquet"
    options: dict[str, str] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if not SAFE_NAME.match(self.name):
            raise ValueError(
                f"sink name {self.name!r} must match {SAFE_NAME.pattern} "
                "(it becomes a partition path segment)"
            )


def load_rules(conf: str | list[dict]) -> list[SinkRule]:
    """Load sink rules from a JSON file path or an in-memory list."""
    if isinstance(conf, str):
        with open(conf) as f:
            conf = json.load(f)
    rules = [SinkRule(**r) for r in conf]
    names = [r.name for r in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate sink names: {names}")
    return rules


def assign_sinks(df: DataFrame, rules: list[SinkRule]) -> DataFrame:
    """Add a `sinks: array<string>` column of every matching sink name.

    Pure Catalyst expression (CASE WHEN chain inside an array) — the
    whole routing decision stays in whole-stage codegen.
    """
    arr = F.array(
        *[F.when(F.expr(r.predicate), F.lit(r.name)) for r in rules]
    )
    return df.withColumn("sinks", F.array_compact(arr))


def explode_routed(df: DataFrame, rules: list[SinkRule]) -> DataFrame:
    """Routed view: one output row per (input row, matched sink) —
    what the pipeline's staged write partitions by (sink, part), and
    what single-pass per-sink aggregation groups by."""
    # explode_outer + null filter, NOT plain explode: non-outer explode
    # makes the optimizer synthesize a `size(sinks) > 0` filter below
    # the projection, re-inlining the sinks expression — which
    # references parse-UDF fields — into a SECOND ArrowEvalPython node
    # (measured: the whole parse ran twice per row in the pipeline
    # heavy pass). The null filter on the GENERATED column cannot be
    # pushed below the Generate, so the UDF evaluates exactly once
    # (pinned in tests/test_plans.py).
    return (
        assign_sinks(df, rules)
        .withColumn("sink", F.explode_outer("sinks"))
        .filter(F.col("sink").isNotNull())
        .drop("sinks")
    )

