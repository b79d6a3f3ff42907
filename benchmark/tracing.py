"""Per-layer tracing for the benchmark's traced run.

Three sources, all driven from the benchmark's own files (nothing
inside `llogtail_spark` is edited):

- driver-side spans: `Tracer.wrap` replaces a module or class
  attribute with a wrapper that records a span (name, start, end,
  parent) per call. `pipeline.py` and `corpus_pipeline.py` reach
  `reader`, `manifest` and the DataFrame API through module and class
  attributes, so wrapping the attribute catches every call;
- lazy Spark layers: `prefix_times` materializes growing prefixes of
  the log pipeline's DAG to the `noop` sink; a layer's self time is the
  difference from the previous prefix;
- engine counters and job spans: `read_event_log` parses the Spark
  event log (per-task metrics, job start/end).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

from procfs import tree_read_bytes


class Tracer:
    """In-memory span recorder. Spans are dicts with a `parent` index
    into `spans` (None at the top), so a span's self time is its
    duration minus its children's."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object, bool]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Record a span around every call of `owner.attr` until
        `unwrap_all`."""
        orig = getattr(owner, attr)
        own = attr in vars(owner)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig, own))

    def unwrap_all(self) -> None:
        for owner, attr, orig, own in reversed(self._undo):
            if own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._undo.clear()

    def named(self, name: str, within: dict | None = None) -> list[dict]:
        """Closed spans called `name`, optionally only those inside the
        time window of span `within`."""
        out = [s for s in self.spans if s["name"] == name and s["end"]]
        if within is not None:
            out = [s for s in out
                   if s["start"] >= within["start"] and s["end"] <= within["end"]]
        return out

    def total(self, name: str, within: dict | None = None) -> float:
        return union_seconds(
            [(s["start"], s["end"]) for s in self.named(name, within)])

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals (nested or
    overlapping spans count once)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def install_layer_wraps(tracer: Tracer, spark) -> None:
    """Wrap the public entry points of each traced layer."""
    from llogtail_spark import corpus_pipeline, manifest, pipeline
    from llogtail_spark.sources import reader

    tracer.wrap(reader, "list_parts", "reader.list_parts")
    tracer.wrap(reader, "files_identity", "reader.files_identity")
    tracer.wrap(manifest, "read_all", "manifest.read_all")
    tracer.wrap(manifest, "commit", "manifest.commit")
    tracer.wrap(pipeline, "run_pipeline", "pipeline.run_pipeline")
    tracer.wrap(corpus_pipeline, "run_corpus_pipeline",
                "corpus_pipeline.run_corpus_pipeline")
    tracer.wrap(corpus_pipeline, "commit_stage", "corpus_pipeline.commit_stage")
    # Spark actions the pipelines run: staged / stage-output writes
    # and the readback collects that reconcile them
    probe = spark.range(1)
    tracer.wrap(type(probe.write), "save", "spark.write")
    tracer.wrap(type(probe.write), "parquet", "spark.write")
    tracer.wrap(type(probe), "collect", "spark.collect")


# ------------------------------------------------------------ prefixes


def log_prefixes(spark, files: list[str], lookup_path: str, sinks) -> list:
    """The log pipeline's lazy DAG as growing prefixes: scan, +parse,
    +enrich, +route — exactly `pipeline._prepare` + `explode_routed`."""
    from llogtail_spark.config import DEFAULT_GROK, PipelineConf
    from llogtail_spark.operators.enrich import enrich_stage
    from llogtail_spark.operators.parse import parse_stage
    from llogtail_spark.operators.route import explode_routed
    from llogtail_spark.sources import reader

    defaults = PipelineConf("", None, "", []).enrich_defaults
    scan = reader.with_partition_id(reader.read_files(spark, files))
    parsed = parse_stage(scan, DEFAULT_GROK)
    enriched = enrich_stage(parsed, spark.read.parquet(lookup_path),
                            defaults=defaults)
    routed = explode_routed(enriched, sinks)
    return [("scan", scan), ("parse", parsed), ("enrich", enriched),
            ("route", routed)]


def prefix_times(tracer: Tracer, prefixes: list, reps: int) -> dict[str, float]:
    """min-of-`reps` wall seconds to materialize each prefix to the
    noop sink; each materialization is a `prefix.<layer>` span that also
    records the bytes the process tree read meanwhile (`read_bytes`)."""
    out = {}
    for layer, df in prefixes:
        best = None
        for _ in range(reps):
            r0 = tree_read_bytes()
            with tracer.span(f"prefix.{layer}") as s:
                df.write.format("noop").mode("overwrite").save()
            s["read_bytes"] = tree_read_bytes() - r0
            dt = s["end"] - s["start"]
            best = dt if best is None else min(best, dt)
        out[layer] = best
    return out


def log_ratios(spark, files: list[str], lookup_path: str) -> tuple[int, int, int]:
    """(rows, rows with a parsed level, rows that matched a lookup
    source) over `files` — enrich without fill defaults, so a miss
    stays NULL."""
    from pyspark.sql import functions as F

    from llogtail_spark.config import DEFAULT_GROK
    from llogtail_spark.operators.enrich import enrich_stage
    from llogtail_spark.operators.parse import parse_stage
    from llogtail_spark.sources import reader

    lookup = spark.read.parquet(lookup_path)
    probe = next(c for c in lookup.columns if c != "source")
    df = enrich_stage(parse_stage(reader.read_files(spark, files), DEFAULT_GROK),
                      lookup)
    r = df.agg(F.count(F.lit(1)).alias("rows"),
               F.count("level").alias("parsed"),
               F.count(probe).alias("hit")).collect()[0]
    return int(r["rows"]), int(r["parsed"]), int(r["hit"])


# ----------------------------------------------------------- event log


def read_event_log(log_dir: str) -> tuple[list[tuple[float, float]], list[dict]]:
    """(job intervals, task records) from the Spark event log(s) under
    `log_dir`, times in epoch seconds."""
    starts: dict[int, float] = {}
    jobs: list[tuple[float, float]] = []
    tasks: list[dict] = []
    # Spark 4 writes a directory per application (eventlog_v2_<app>/
    # events_<n>_<app>); older layouts are one file per application
    paths = [os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
             if not f.startswith((".", "appstatus_"))]
    for path in sorted(paths, key=_event_file_order):
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    starts[ev["Job ID"]] = ev["Submission Time"] / 1000
                elif kind == "SparkListenerJobEnd":
                    s = starts.pop(ev["Job ID"], None)
                    if s is not None:
                        jobs.append((s, ev["Completion Time"] / 1000))
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    tasks.append({
                        "launch": info.get("Launch Time", 0) / 1000,
                        "finish": info.get("Finish Time", 0) / 1000,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000,
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "input_bytes": (m.get("Input Metrics") or {})
                        .get("Bytes Read", 0),
                        "output_bytes": (m.get("Output Metrics") or {})
                        .get("Bytes Written", 0),
                        "shuffle_bytes": (m.get("Shuffle Write Metrics") or {})
                        .get("Shuffle Bytes Written", 0),
                    })
    return jobs, tasks


def _event_file_order(path: str) -> tuple:
    name = os.path.basename(path)
    parts = name.split("_")
    index = int(parts[1]) if name.startswith("events_") and parts[1].isdigit() else 0
    return (os.path.dirname(path), index, name)


def in_window(items: list, window: dict, key) -> list:
    return [x for x in items if window["start"] <= key(x) <= window["end"]]


def engine_metrics(tasks: list[dict], window: dict, cores: int) -> dict[str, float]:
    """Spark engine counters over the tasks launched inside `window`."""
    ts = in_window(tasks, window, lambda t: t["launch"])
    wall = window["end"] - window["start"]
    busy = sum(t["finish"] - t["launch"] for t in ts)
    return {
        "spark.tasks": len(ts),
        "spark.task_cpu_s": sum(t["cpu_s"] for t in ts),
        "spark.gc_s": sum(t["gc_s"] for t in ts),
        "spark.shuffle_bytes": sum(t["shuffle_bytes"] for t in ts),
        "spark.spill_bytes": sum(t["spill_bytes"] for t in ts),
        "spark.output_bytes": sum(t["output_bytes"] for t in ts),
        "spark.slot_busy_ratio": busy / (wall * cores) if wall > 0 else 0.0,
    }
