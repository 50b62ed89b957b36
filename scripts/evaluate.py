"""Evaluation harness — the reference's run_eval.py analog.

Runs the Spark pipeline and the serial reference-style oracle on the
same synthetic transcripts, then computes SpanEvaluator-style
exact-match P/R/F1 per entity class and total via the A2/A3 join
harness. Prints one JSON line; exits nonzero if any class misses the
north_rule target (P/R >= 0.95).

    python scripts/evaluate.py [--n-convs 200] [--max-seq-len 512]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-convs", type=int, default=200)
    ap.add_argument("--max-seq-len", type=int, default=512)
    ap.add_argument("--target", type=float, default=0.95)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark import ENTITY_TYPES
    from information_extraction_for_chinese_nlp_spark.functions.chunking import (
        chunk_content,
    )
    from information_extraction_for_chinese_nlp_spark.functions.text import scrub_text
    from information_extraction_for_chinese_nlp_spark.inference.scorer import (
        StubEncoder,
    )
    from information_extraction_for_chinese_nlp_spark.operators.assembly import (
        assemble_turns,
    )
    from information_extraction_for_chinese_nlp_spark.operators.evaluation import (
        span_f1,
    )
    from information_extraction_for_chinese_nlp_spark.plans.pipeline import (
        extract_triples,
    )
    from information_extraction_for_chinese_nlp_spark.session import (
        default_parallelism,
        get_spark,
    )
    from information_extraction_for_chinese_nlp_spark.sources.transcripts import (
        synth_transcripts,
    )

    spark = get_spark("evaluate", master=f"local[{default_parallelism()}]")
    transcripts = synth_transcripts(spark, n_convs=args.n_convs).cache()

    pred = extract_triples(transcripts, max_seq_len=args.max_seq_len).select(
        F.col("subj").alias("doc_id"), F.col("pred").alias("prompt"), "start", "end"
    )

    # serial oracle (reference E1 architecture: per-document loop)
    encoder = StubEncoder(ENTITY_TYPES)
    gold_rows = []
    for row in assemble_turns(transcripts).select("doc_id", "text").toLocalIterator():
        text = scrub_text(row.text)
        for prompt in ENTITY_TYPES:
            for cs, piece, _ in chunk_content(text, prompt, args.max_seq_len):
                for s, e_excl, p in encoder.extract(piece, prompt):
                    if p > 0.5:
                        gold_rows.append((row.doc_id, prompt, cs + s, cs + e_excl))
    gold = spark.createDataFrame(
        gold_rows, "doc_id string, prompt string, start int, end int"
    )

    per_class = span_f1(pred, gold).toPandas().set_index("prompt")
    total = span_f1(pred, gold, group_col=None).toPandas().iloc[0]

    report = {
        "classes": {
            p: {
                "precision": float(per_class.loc[p, "precision_"]),
                "recall": float(per_class.loc[p, "recall_"]),
                "f1": float(per_class.loc[p, "f1"]),
            }
            for p in per_class.index
        },
        "total": {
            "precision": float(total.precision_),
            "recall": float(total.recall_),
            "f1": float(total.f1),
            "num_correct": int(total.num_correct),
            "num_infer": int(total.num_infer),
            "num_label": int(total.num_label),
        },
        "target": args.target,
    }
    print(json.dumps(report))
    spark.stop()
    ok = all(
        c["precision"] >= args.target and c["recall"] >= args.target
        for c in report["classes"].values()
    )
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
