"""Broadcast-lookup enrichment keyed on `source`.

The reference resolves metadata per path at registration time
(genLogMeta, log_watcher.go:318-348) and errors on unknown paths
(log_watcher.go:288-291). The batch analog: a broadcast hash join
against a small lookup table — no shuffle of the big side, which is
what makes this free at 100 TB (the lookup rides to executors once).

Unknown sources do not fail the run: the join is a LEFT join, and the
conf's `enrich_defaults` fill the lookup columns where it missed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_stage(
    df: DataFrame,
    lookup: DataFrame,
    defaults: dict[str, object] | None = None,
) -> DataFrame:
    """Left broadcast join df with lookup on `source`.

    defaults: {column: value} applied where the lookup missed.
    """
    out = df.join(F.broadcast(lookup), on="source", how="left")
    if defaults:
        out = out.fillna(defaults)
    return out
