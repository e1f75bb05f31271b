#!/usr/bin/env python
"""spark-submit entrypoint: transcripts -> knowledge-graph tables.

Cluster usage (north_rule deployment shape):

    zip -r text2nkg_spark.zip text2nkg_spark
    spark-submit --py-files text2nkg_spark.zip \
        jobs/run_extraction.py \
        --input  s3://bucket/transcripts/   \
        --output s3://bucket/nkg/           \
        --scorer hash --format parquet

Local smoke, from any cwd (the session puts this checkout on the Python
workers' path):

    python jobs/run_extraction.py --synthetic 2000 --output /tmp/nkg_out

The job is resumable: rerunning with the same --output resumes from the
last complete stage manifest (exactly-once per stage).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcripts table path (parquet/Iceberg)")
    ap.add_argument("--output", required=True, help="output root directory")
    # no 'gold': the gold scorer needs a gold table, which the job cannot
    # take (run_pipeline(..., gold=...) from Python)
    ap.add_argument("--scorer", default="hash", choices=["hash", "model"])
    ap.add_argument("--tokenizer", default="identity",
                    choices=["identity", "wordpiece"],
                    help="candidate-pruning tokenizer (subword bounds)")
    ap.add_argument("--model-checkpoint", default="mini",
                    help="'mini' (numpy encoder) or a HF checkpoint dir "
                         "(torch binds at weight load; see TorchEncoderAdapter)")
    ap.add_argument("--model-variant", default="bertsub",
                    choices=["bertsub", "bertnonersub", "albertsub"],
                    help="reference model registry (run_re.py:68-72); "
                         "bertnonersub has no NER head and requires "
                         "--use-ner-results")
    ap.add_argument("--use-ner-results", action="store_true",
                    help="input-NER mode (run_re.py --use_ner_results); "
                         "default = model-argmax NER (the mention_ner "
                         "stage; cannot change extracted facts either way)")
    ap.add_argument("--format", default="parquet")
    ap.add_argument("--master", default=None)
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic turns instead of --input")
    args = ap.parse_args()

    from text2nkg_spark.config import DataGenConfig, PipelineConfig
    from text2nkg_spark.plans.manifest import StageManifest
    from text2nkg_spark.plans.pipeline import run_pipeline
    from text2nkg_spark.session import get_spark

    spark = get_spark("text2nkg-extract", master=args.master)

    if args.synthetic:
        from text2nkg_spark.datagen import gen_transcripts_df

        gen = DataGenConfig(n_convs=max(1, args.synthetic // 8),
                            turns_per_conv=8, seed=42)
        transcripts = gen_transcripts_df(spark, gen)
    elif args.input:
        from text2nkg_spark.sources.io import read_table

        transcripts = read_table(spark, args.input, args.format)
    else:
        ap.error("one of --input / --synthetic is required")

    t0 = time.perf_counter()
    out = run_pipeline(
        spark, transcripts, args.output,
        PipelineConfig(scorer=args.scorer, tokenizer=args.tokenizer,
                       model_checkpoint=args.model_checkpoint,
                       model_variant=args.model_variant,
                       use_ner_results=args.use_ner_results))
    # each stage's row count is in its manifest (footer row counts): no
    # scan job per stage
    man = StageManifest(args.output)
    stats = {name: man.read_meta(name)["rows_out"] for name in out}
    stats["wall_s"] = round(time.perf_counter() - t0, 2)
    # deploy-shape witness: under spark-submit this must be the launcher's
    # --master, not a factory-forced local[N]
    stats["master"] = spark.sparkContext.master
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
