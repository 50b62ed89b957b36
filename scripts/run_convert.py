"""spark-submit entry point for the training-data conversion lifecycle
(E2) — the distributed analog of the reference's run_convert.py CLI
(reference run_convert.py:100-127, ConvertArguments in
config/base_config.py):

    spark-submit --py-files dist/ie_spark.zip scripts/run_convert.py \
      --labelstudio-file label_data/export.json \
      --save-dir /path/out \
      [--split-ratio 0.8 0.1 0.1] [--seed 1000] [--no-shuffle] \
      [--no-regularize] [--max-seq-len 512] [--prompts 醫療費用 ...] \
      [--hash-split] [--coalesce]

Flow: Label Studio export -> parse + quarantine (invalid annotation
types never abort the run, reference raises at
utils/json_utils.py:54-58) -> optional span-preserving regularize ->
prompt-expanded chunked model input -> deterministic 80/10/10 split ->
JSONL per split (train/dev/test directories of part files; pass
--coalesce for single-file output on small exports). --hash-split uses
the shuffle-free bucket split (the 10⁹-row scale path) instead of the
reference's exact-count cut. Emits one JSON line of counts on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--labelstudio-file", required=True)
    ap.add_argument("--save-dir", required=True)
    ap.add_argument("--split-ratio", type=float, nargs=3, default=(0.8, 0.1, 0.1))
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--no-shuffle", action="store_true",
                    help="keep input order instead of the seeded shuffle")
    ap.add_argument("--no-regularize", action="store_true",
                    help="skip the span-preserving scrub")
    ap.add_argument("--max-seq-len", type=int, default=512)
    ap.add_argument("--prompts", nargs="+", default=None)
    ap.add_argument("--hash-split", action="store_true",
                    help="shuffle-free hash-bucket split (scale path)")
    ap.add_argument("--coalesce", action="store_true",
                    help="one output file per split (small exports only)")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark import ENTITY_TYPES
    from information_extraction_for_chinese_nlp_spark.operators.convert import (
        parse_labelstudio,
        regularize_documents,
        shuffle_rows,
        split_dataset,
        split_hash,
        to_model_input,
    )
    from information_extraction_for_chinese_nlp_spark.session import get_spark
    from information_extraction_for_chinese_nlp_spark.sources.catalog import (
        read_json_arrays,
        write_jsonl,
    )

    spark = get_spark("ie-convert")
    prompts = args.prompts or list(ENTITY_TYPES)

    raw = read_json_arrays(spark, args.labelstudio_file)
    docs, quarantine = parse_labelstudio(raw)
    if not args.no_regularize:
        docs = regularize_documents(docs)
    # Split at DOCUMENT granularity, BEFORE chunk fan-out — the
    # reference's do_split partitions raw documents before
    # convert_format (run_convert.py:100-127); splitting the expanded
    # records would let chunks of one document straddle train/test,
    # leaking identical source text across splits.
    if args.hash_split:
        docs = split_hash(docs, ratios=tuple(args.split_ratio), seed=args.seed,
                          cols=("doc_id",))
    else:
        docs = split_dataset(docs, ratios=tuple(args.split_ratio), seed=args.seed,
                             order_cols=("doc_id",))
    split = to_model_input(docs, prompts, max_seq_len=args.max_seq_len,
                           extra_cols=("split",))
    if not args.no_shuffle and not args.hash_split:
        split = shuffle_rows(split, seed=args.seed)
    split = split.cache()

    # counts in ONE aggregation over the cached frame; the per-split
    # writes below reuse the cache instead of re-running the pipeline
    counts = {
        r["split"]: r["count"] for r in split.groupBy("split").count().collect()
    }
    for name in ("train", "dev", "test"):
        counts.setdefault(name, 0)
        part = split.filter(F.col("split") == name).drop("split")
        if args.coalesce:
            part = part.coalesce(1)
        write_jsonl(part, os.path.join(args.save_dir, name))

    quarantine = quarantine.cache()
    n_bad = quarantine.count()
    if n_bad:
        write_jsonl(quarantine, os.path.join(args.save_dir, "quarantine"))
    quarantine.unpersist()
    out = {"counts": counts, "quarantined": n_bad,
           "total": sum(counts.values()), "save_dir": args.save_dir}
    print(json.dumps(out, ensure_ascii=False))
    return out


if __name__ == "__main__":
    sys.exit(0 if main() else 1)
