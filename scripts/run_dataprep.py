"""spark-submit entry point for the training-data curation lifecycle —
the 100 TB corpus-prep recipe as one CLI:

    spark-submit --master <master> \
      --py-files dist/ie_spark.zip \
      scripts/run_dataprep.py \
      --input docs.parquet --save-dir /path/out \
      [--dedup pipeline|exact|none] [--n-bands 4] [--rows-per-band 2] \
      [--max-bucket 10000] \
      [--decontaminate eval.parquet] [--decontam-ngram 13] \
      [--min-quality 0.3] [--scrub-pii] \
      [--sample en=0.25,zh=1.0] [--strata-col lang] [--default-fraction 0.0] \
      [--coalesce]

Stage order is the scale argument: dedup first (exact pre-pass inside
``dedup_pipeline`` collapses identical texts before banding), then
decontamination (broadcast eval n-grams), then quality filtering and
PII scrubbing (pure Catalyst projections), then stratified sampling
(md5 keep decisions — deterministic at any cluster size). Emits one
JSON line of per-stage survivor counts + dropped-bucket metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _parse_fractions(spec: str) -> dict:
    out = {}
    for part in spec.split(","):
        k, _, v = part.partition("=")
        if not _ or not k:
            raise SystemExit(f"bad --sample entry {part!r}; use stratum=frac")
        out[k] = float(v)
    return out


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet path")
    ap.add_argument("--save-dir", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--dedup", choices=("pipeline", "exact", "none"),
                    default="pipeline")
    ap.add_argument("--n-bands", type=int, default=4)
    ap.add_argument("--rows-per-band", type=int, default=2)
    ap.add_argument("--max-bucket", type=int, default=10_000,
                    help="degenerate-cluster cap for LSH banding; -1 = no cap")
    ap.add_argument("--decontaminate", default=None,
                    help="eval-corpus parquet; drop docs sharing any n-gram")
    ap.add_argument("--decontam-ngram", type=int, default=13)
    ap.add_argument("--min-quality", type=float, default=None,
                    help="drop docs with quality_score below this")
    ap.add_argument("--scrub-pii", action="store_true",
                    help="redact emails/IDs/phones in the output text")
    ap.add_argument("--line-dedup-min-df", type=int, default=None,
                    help="remove lines appearing in >= this many distinct "
                         "docs (CCNet/C4 boilerplate rule) BEFORE dedup; "
                         "passenger columns ride through, but a literal "
                         "'text' column alongside --text-col != text must "
                         "be renamed first")
    ap.add_argument("--sample", default=None,
                    help="stratified keep fractions, e.g. en=0.25,zh=1.0")
    ap.add_argument("--strata-col", default="lang")
    ap.add_argument("--default-fraction", type=float, default=0.0)
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--coalesce", action="store_true")
    args = ap.parse_args(argv)

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark.operators.convert import (
        sample_stratified,
    )
    from information_extraction_for_chinese_nlp_spark.operators.dedup import (
        decontaminate,
        dedup_exact,
        dedup_pipeline,
        line_dedup_rewrite,
    )
    from information_extraction_for_chinese_nlp_spark.operators.textstats import (
        quality_features,
        scrub_pii,
    )
    from information_extraction_for_chinese_nlp_spark.session import get_spark

    spark = get_spark("ie-dataprep")
    docs = spark.read.parquet(args.input)
    metrics: dict = {"n_in": docs.count()}
    id_col, text_col = args.id_col, args.text_col

    if args.line_dedup_min_df is not None:
        docs, ld = line_dedup_rewrite(
            docs, args.line_dedup_min_df, id_col=id_col, text_col=text_col
        )
        metrics["n_hot_lines_dropped"] = int(
            ld.agg(F.sum("n_dropped")).first()[0] or 0
        )

    obs = None
    if args.dedup == "pipeline":
        obs = Observation("dedup-drops")
        docs = dedup_pipeline(
            docs, n_bands=args.n_bands, rows_per_band=args.rows_per_band,
            id_col=id_col, text_col=text_col,
            max_bucket=None if args.max_bucket < 0 else args.max_bucket,
            observation=obs,
        )
    elif args.dedup == "exact":
        keep = dedup_exact(docs, id_col, text_col).select(
            F.col("keep_id").alias(id_col)
        )
        docs = docs.join(keep, on=id_col, how="left_semi")
    if args.dedup != "none":
        docs = docs.cache()
        metrics["n_after_dedup"] = docs.count()
        if obs is not None:
            metrics["dedup_dropped_buckets"] = int(obs.get["dropped_buckets"])
            metrics["dedup_max_bucket_size"] = int(obs.get["max_bucket_size"])

    if args.decontaminate:
        eval_docs = spark.read.parquet(args.decontaminate)
        flags = decontaminate(docs, eval_docs, n=args.decontam_ngram,
                              id_col=id_col, text_col=text_col)
        clean_ids = flags.filter(~F.col("contaminated")).select(
            F.col("doc_id").alias(id_col)
        )
        docs = docs.join(clean_ids, on=id_col, how="left_semi")
        metrics["n_after_decontam"] = docs.count()

    if args.min_quality is not None:
        q = quality_features(docs, id_col, text_col).filter(
            F.col("quality_score") >= args.min_quality
        ).select(F.col("doc_id").alias(id_col))
        docs = docs.join(q, on=id_col, how="left_semi")
        metrics["n_after_quality"] = docs.count()

    if args.scrub_pii:
        # rename scrub_pii's fixed 'text' output to text_col BEFORE the
        # join: with --text-col != 'text' on an input that also carries
        # a literal 'text' column, joining first would produce two
        # ambiguous 'text' columns
        red = (
            scrub_pii(docs, id_col, text_col)
            .withColumnRenamed("doc_id", id_col)
            .withColumnRenamed("text", text_col)
        )
        docs = docs.drop(text_col).join(red, on=id_col)
        metrics["n_redactions"] = int(
            docs.agg(F.sum("n_redactions")).first()[0] or 0
        )
        docs = docs.drop("n_redactions")

    if args.sample:
        docs = sample_stratified(
            docs, _parse_fractions(args.sample), strata_col=args.strata_col,
            key_cols=(id_col,), seed=args.seed,
            default_fraction=args.default_fraction,
        )
        metrics["n_after_sample"] = docs.count()

    if args.coalesce:
        docs = docs.coalesce(1)
    docs.write.mode("overwrite").parquet(os.path.join(args.save_dir, "docs"))
    metrics["n_out"] = spark.read.parquet(
        os.path.join(args.save_dir, "docs")
    ).count()
    metrics["save_dir"] = args.save_dir
    print(json.dumps(metrics, ensure_ascii=False))
    return metrics


if __name__ == "__main__":
    # failures surface as exceptions (non-zero exit via the traceback);
    # a completed run is success — the old `0 if main() else 1` branch
    # was dead because main() always returns a non-empty metrics dict
    main()
    sys.exit(0)
