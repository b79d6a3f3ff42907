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

Every path is resolved once, when the conf is built (`resolve_path`):
a 'file:' URI becomes its absolute path, and a remote URI raises
`NotImplementedError` naming the field.
`input_path` is a flat local dir of *.parquet parts (or one file),
listed on the driver by `reader.list_parts`; `lookup_path` is one
parquet file. A run stages every
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
from dataclasses import dataclass, field, replace

from llogtail_spark.operators.parse import DEFAULT_GROK, check_grok
from llogtail_spark.operators.route import SinkRule, check_unique_names, load_rules
from llogtail_spark.sources.reader import local_path


def resolve_path(what: str, path: str) -> str:
    """`path` as the absolute local path (symlinks resolved) that every
    caller joins onto, renames and compares. A remote URI is refused,
    naming `what`: on it the local staging, ship and manifest calls
    would silently see nothing."""
    local = local_path(path)
    if local is None:
        raise NotImplementedError(
            f"{what} must be a local path (got {path!r}); the pipelines list, "
            "stage, rename and commit with local filesystem calls")
    return os.path.realpath(local)


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
    manifest_dir: str = field(init=False)  # <workdir>/manifest

    def __post_init__(self) -> None:
        check_unique_names(self.sinks)
        check_grok(self.grok)
        self.input_path = resolve_path("input_path", self.input_path)
        if self.lookup_path:
            self.lookup_path = resolve_path("lookup_path", self.lookup_path)
        self.workdir = resolve_path("workdir", self.workdir)
        self.sinks = [replace(r, path=resolve_path(f"sink {r.name!r} path", r.path))
                      for r in self.sinks]
        self.manifest_dir = os.path.join(self.workdir, "manifest")


def load_config(path: str) -> PipelineConf:
    with open(path) as f:
        raw = json.load(f)
    raw["sinks"] = load_rules(raw["sinks"])
    return PipelineConf(**raw)
