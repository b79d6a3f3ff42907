"""spark-submit entry point — the cmd/main.go analog.

    spark-submit --py-files llogtail_spark.zip \
        -m llogtail_spark.cli --conf pipeline.json

Reads the pipeline config (LogConf analog), runs one batch pass with
skip-committed resume, prints per-sink metrics, exits. Re-running the
same command after a crash resumes exactly, and re-ships the parts
rewritten in place since their commit. The reference's poller
(log_watcher.go:167-212) is `pipeline.follow`: this run, on an
interval.
"""

from __future__ import annotations

import argparse
import json
import sys

from llogtail_spark.config import load_config
from llogtail_spark.pipeline import run_pipeline
from llogtail_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--conf", help="pipeline config JSON")
    ap.add_argument("--corpus-conf",
                    help="corpus-pipeline config JSON (CorpusConf fields; "
                         "runs dedup->decontaminate->quality->sample->"
                         "pack->ship with per-stage resume instead of the "
                         "log pipeline)")
    args = ap.parse_args(argv)
    if bool(args.conf) == bool(args.corpus_conf):
        ap.error("exactly one of --conf / --corpus-conf is required")

    if args.corpus_conf:
        from llogtail_spark.corpus_pipeline import (
            CorpusConf,
            run_corpus_pipeline,
        )

        with open(args.corpus_conf) as f:
            cc = CorpusConf(**json.load(f))
        spark = get_spark("llogtail_spark.cli")
        res = run_corpus_pipeline(spark, cc)
        print(json.dumps({
            "stages_run": res.stages_run,
            "stages_skipped": res.stages_skipped,
            "shards_committed": res.shards_committed,
            "shards_skipped": res.shards_skipped,
            "funnel": res.funnel,
            "stage_timings_sec": res.stage_timings,
            "metrics": [r.asDict() for r in res.metrics.collect()],
        }, default=str))
        return 0

    conf = load_config(args.conf)
    spark = get_spark("llogtail_spark.cli")
    result = run_pipeline(spark, conf)
    report = {
        "processed": {k: len(v) for k, v in result.processed.items()},
        "skipped": {k: len(v) for k, v in result.skipped.items()},
        "metrics": [r.asDict() for r in result.metrics.collect()],
    }
    print(json.dumps(report, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
