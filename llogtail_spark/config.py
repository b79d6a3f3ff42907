"""Pipeline configuration — the LogConf analog.

llogtail is driven end-to-end by one JSON config (LogConf,
log_collector.go:22-28; example/collector.json) naming the watched
dir/pattern, line separator, sink, and watcher intervals. The rebuild
keeps the config-file-drives-everything shape:

{
  "input_path":  ".../sequences",        # was dir+pattern
  "lookup_path": ".../lookup_sources.parquet",
  "workdir":     ".../work",             # manifest lives here (was offset/)
  "grok":        "^%{LOGLEVEL:level} %{WORD:component} %{GREEDYDATA:msg}$",
  "sinks": [ {"name": "...", "predicate": "...", "path": "...",
              "format": "parquet"}, ... ],
  "enrich_defaults": {"facility": "unknown", "team": "unassigned",
                      "min_level": 0},
  "ship_mode":   "rename"                # or "iceberg" (table sinks)
}

A run stages every pending (sink, part), reconciles the staged
readback against the write's own observation, ships, then commits the
manifest under `workdir`, holding `workdir`'s lease throughout
(`manifest.py`).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from llogtail_spark.operators.parse import DEFAULT_GROK
from llogtail_spark.operators.route import SinkRule, load_rules


@dataclass
class PipelineConf:
    input_path: str
    lookup_path: str | None
    workdir: str
    sinks: list[SinkRule]
    grok: str = DEFAULT_GROK
    enrich_defaults: dict = field(
        default_factory=lambda: {"facility": "unknown", "team": "unassigned", "min_level": 0}
    )
    committed_at: str = "1970-01-01T00:00:00Z"  # injected, deterministic tests
    validate_on_start: bool = False
    # ship_mode:
    #   "rename"  — stage + per-part directory rename (default; local /
    #               HDFS-style filesystems)
    #   "iceberg" — stage + ONE atomic Iceberg overwritePartitions
    #               commit per sink (sink paths are table identifiers;
    #               requires the iceberg-spark-runtime jar). The
    #               cluster-scale answer to 10^6 serial driver renames.
    ship_mode: str = "rename"

    @property
    def manifest_dir(self) -> str:
        # resolve 'file:' URIs to the local path BEFORE joining: the
        # manifest module does raw os-level I/O, and joining onto the
        # raw URI string would silently read/write a literal
        # 'file:/...' directory relative to the cwd (observed: a test
        # run left a ./file:/tmp/... tree in the repo root)
        from llogtail_spark.sources.reader import local_path

        wd = local_path(self.workdir)
        return os.path.join(wd if wd is not None else self.workdir, "manifest")


def load_config(path: str) -> PipelineConf:
    with open(path) as f:
        raw = json.load(f)
    raw["sinks"] = load_rules(raw["sinks"])
    return PipelineConf(**raw)
