"""spark-submit entry point for the full KG-construction pipeline.

    spark-submit --master <master> \
      --py-files dist/ie_spark.zip \
      scripts/run_pipeline.py \
      --input <transcripts parquet> | --synth-convs N \
      --warehouse /path/to/warehouse \
      [--resume] [--n-buckets 64] [--max-seq-len 512]

Runs: transcripts -> extract_triples -> edges snapshot(s) (resumable
via bucket watermarks when --resume) -> build_graph -> vertices +
canonical_edges. Emits one JSON line of run metrics on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# spark-submit/py puts scripts/ on sys.path, not the repo root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcripts parquet path")
    ap.add_argument("--synth-convs", type=int, default=0,
                    help="generate N synthetic conversations instead of --input")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--resume", action="store_true",
                    help="bucket-watermark resumable execution")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--max-seq-len", type=int, default=512)
    ap.add_argument("--threshold", type=float, default=0.5)
    args = ap.parse_args()

    from information_extraction_for_chinese_nlp_spark.plans.graph import build_graph
    from information_extraction_for_chinese_nlp_spark.plans.pipeline import (
        extract_triples,
    )
    from information_extraction_for_chinese_nlp_spark.session import get_spark
    from information_extraction_for_chinese_nlp_spark.sources.catalog import TableIO
    from information_extraction_for_chinese_nlp_spark.sources.checkpoint import (
        ResumableRunner,
    )
    from information_extraction_for_chinese_nlp_spark.sources.transcripts import (
        synth_transcripts,
    )

    # spark-submit owns master/executor topology; get_spark adds engine conf
    spark = get_spark("ie-kg-pipeline")

    if args.synth_convs:
        transcripts = synth_transcripts(spark, n_convs=args.synth_convs)
    elif args.input:
        transcripts = spark.read.parquet(args.input)
    else:
        raise SystemExit("need --input or --synth-convs")

    io = TableIO(spark, args.warehouse)
    t0 = time.time()

    def process(df):
        return extract_triples(df, max_seq_len=args.max_seq_len,
                               threshold=args.threshold)

    runner = ResumableRunner(spark, io, "edges", n_buckets=args.n_buckets)
    if args.resume:
        n_edges = runner.run(transcripts, process,
                             buckets_per_batch=max(args.n_buckets // 8, 1))
        edges = io.read("edges")
        edges_total = edges.count()
    else:
        edges = process(transcripts)
        io.write(edges, "edges", mode="overwrite")
        # the overwrite invalidated any previous resume lineage: stale
        # acks would make the NEXT --resume run prune this fresh
        # snapshot as an orphan and skip every bucket
        runner.reset()
        edges = io.read("edges")
        n_edges = edges.count()
        edges_total = n_edges  # table was just overwritten: total == written

    vertices, canonical_edges = build_graph(edges)
    io.write(vertices, "vertices", mode="overwrite")
    io.write(canonical_edges, "canonical_edges", mode="overwrite")

    print(json.dumps({
        "edges": n_edges,  # rows written by THIS run (0 on a no-op resume)
        "edges_total": edges_total,
        "vertices": io.read("vertices").count(),
        "canonical_edges": io.read("canonical_edges").count(),
        "wall_sec": round(time.time() - t0, 2),
        "resume_metrics": runner.metrics() if args.resume else None,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
