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
  "sinks": [ {"name": "...", "predicate": "...", "path": "..."}, ... ],
  "enrich_defaults": {"facility": "unknown", "team": "unassigned",
                      "min_level": 0}
}

`input_path` is a flat local dir of *.parquet parts (or one file),
listed on the driver by `reader.list_parts`. A run stages every
pending (sink, part), reconciles the staged readback against the
write's own observation, ships, then commits the manifest under
`workdir`, holding `workdir`'s lease throughout (`manifest.py`). A
run does not re-check committed parts against their inputs; that is
`pipeline.validate_manifest`, run first by `cli --validate`. Every
sink holds parquet `part=<id>` dirs in one layout
(`pipeline.STAGE_OPTS`). The grok must capture `level`, `component`
and `msg` and compile under RE2, or the conf refuses to build.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from llogtail_spark.operators.parse import DEFAULT_GROK, check_grok
from llogtail_spark.operators.route import SinkRule, check_unique_names, load_rules


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

    def __post_init__(self) -> None:
        check_unique_names(self.sinks)
        check_grok(self.grok)

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
