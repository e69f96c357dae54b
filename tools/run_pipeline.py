"""spark-submit driver for the transcript near-dup pipeline.

Cluster launch (ship the engine to executors via --py-files, see
tools/make_pyfiles.py):

    spark-submit --master <cluster> --deploy-mode client \
        --py-files dist/pcompress_spark.zip \
        tools/run_pipeline.py \
        --input /warehouse/transcripts --work-dir /warehouse/dedup_ckpt \
        --output /warehouse/dedup_out

Local smoke (no cluster; same code path):

    python tools/run_pipeline.py --input <parquet> --work-dir /tmp/wd \
        --master 'local[8]'

Input: parquet or Iceberg table with columns
(conv_id string, turn_idx int, role string, text string, tool string,
 ts timestamp). Stages checkpoint under --work-dir and resume idempotently
(rerun after a kill picks up at the first incomplete stage). Outputs
clusters/pairs/signatures as parquet under --output when given, else only
the work-dir checkpoints + metrics.json + lineage.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="transcripts: parquet path or catalog table name")
    ap.add_argument("--format", default="parquet",
                    choices=["parquet", "iceberg", "table"],
                    help="'iceberg'/'table' read via spark.read.table(name)")
    ap.add_argument("--work-dir", required=True, help="checkpoint/resume dir")
    ap.add_argument("--output", default=None, help="optional final output dir")
    ap.add_argument("--master", default="inherit",
                    help="override master; default 'inherit' leaves spark.master "
                         "to spark-submit (use --master 'local[8]' for direct "
                         "python runs)")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--config-json", default=None,
                    help="JSON dict of DedupConfig field overrides")
    ap.add_argument("--tiers", action="store_true",
                    help="also materialize the per-conversation tier table "
                         "(exact/near/substring/kept + removed_by) and log "
                         "per-tier counts to metrics.json")
    args = ap.parse_args(argv)

    from pcompress_spark.config import DedupConfig
    from pcompress_spark.pipeline import DedupPipeline
    from pcompress_spark.session import get_spark

    spark = get_spark(
        app_name="pcompress-spark-dedup",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    cfg = DedupConfig(**(json.loads(args.config_json) if args.config_json else {}))

    if args.format == "parquet":
        transcripts = spark.read.parquet(args.input)
    else:
        transcripts = spark.read.table(args.input)

    result = DedupPipeline(spark, cfg, work_dir=args.work_dir).run(
        transcripts, with_tiers=args.tiers)

    if args.output:
        names = ["clusters", "pairs", "signatures"]
        if "tiers" in result.tables:
            names.append("tiers")
        for name in names:
            result.tables[name].write.mode("overwrite").parquet(
                os.path.join(args.output, name))

    for s in result.stages:
        print(f"stage={s.name} rows={s.rows} sec={s.seconds:.2f} resumed={s.resumed}",
              file=sys.stderr)
    n = result.tables["clusters"].count()
    print(json.dumps({"clusters_rows": n, "work_dir": args.work_dir}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
