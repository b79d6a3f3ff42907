"""llogtail_spark — a PySpark-native batch log/telemetry pipeline.

A from-scratch reimagination of the semantics of noneback/llogtail
(a Go inotify log tailer) as an idiomatic Spark batch engine:

    tail   -> scan of a dir of parquet parts of pre-tokenized
              sequences (doc_id, tokens, n_tok, source), listed on
              the driver (`reader.list_parts`)
    frame  -> rows are pre-framed; the line-framing contract of
              buffer.go:87-116 becomes per-row token-array atomicity
    parse  -> vectorized grok extraction in one Arrow UDF
              (`arrow_udf`, no per-row Python); a token-aligned grok
              such as the default runs on the token ids and decodes
              no text, any other grok decodes the spans and runs RE2
    enrich -> broadcast hash join on `source` against lookup tables
    route  -> named-sink fan-out driven by JSON rules
              (example/collector.json analog)
    ship   -> one staged, partitioned parquet write, renamed into
              each sink's `part=<id>` dirs, idempotent per partition
    cpt    -> per-partition lineage manifest (kCheckpoint analog,
              log_collector.go:35-40) written AFTER the sink commit
              (ordering per log_collector.go:208-215); resume drops
              the committed parts from the driver-side listing
              before any Spark job (see `pipeline`)

The rest of the log pipeline is DataFrame/SQL and built-in functions.
"""

from llogtail_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
