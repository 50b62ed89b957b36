"""spark-submit entry point for the COMPLETE KG-construction lifecycle —
transcripts in, a queryable knowledge graph out, as one CLI:

    spark-submit --master <master> \
      --py-files dist/ie_spark.zip \
      scripts/run_kg.py \
      --input transcripts.parquet | --synth-convs N \
      --save-dir /path/out \
      [--max-seq-len 512] [--threshold 0.5] \
      [--link-threshold 0.6] [--link-max-bucket 10000] \
      [--constraints constraints.parquet] \
      [--resolve-functional] [--topk K] [--pagerank N_ITER]

Stage order is the scale argument: extraction (one fused Arrow pass per
partition) -> ``plans.graph.build_kg`` (banded similarity linking + CC
canonicalization + per-canonical-fact noisy-or fusion, with a
checkpoint under the shared subtree so both outputs run the linker
once) -> optional post-stages that all operate on the already-fused
fact table, orders smaller than the mention stream:

- ``--constraints``: ontology validation (``validate_facts``) —
  ``facts_valid/`` and ``facts_quarantine/`` split by status;
- ``--resolve-functional``: one object per (subj, pred) with margin
  diagnostics -> ``resolved/``;
- ``--topk K``: slot-filling candidates -> ``topk/``;
- ``--pagerank N``: global entity importance over the bidirectional
  subject<->entity graph -> ``entity_ranks/``.

Emits one JSON line of per-table row counts + wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcripts parquet path")
    ap.add_argument("--synth-convs", type=int, default=0,
                    help="generate N synthetic conversations instead of --input")
    ap.add_argument("--save-dir", required=True)
    ap.add_argument("--max-seq-len", type=int, default=512)
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument("--link-threshold", type=float, default=0.6)
    ap.add_argument("--link-max-bucket", type=int, default=10_000)
    ap.add_argument("--constraints", default=None,
                    help="parquet with (pred, obj_pattern, min_prob, min_docs)")
    ap.add_argument("--resolve-functional", action="store_true")
    ap.add_argument("--topk", type=int, default=0)
    ap.add_argument("--pagerank", type=int, default=0,
                    help="PageRank iterations over the subject<->entity graph")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from information_extraction_for_chinese_nlp_spark.operators.fusion import (
        resolve_functional,
        top_k_objects,
        validate_facts,
    )
    from information_extraction_for_chinese_nlp_spark.plans.graph import build_kg
    from information_extraction_for_chinese_nlp_spark.plans.pipeline import (
        extract_triples,
    )
    from information_extraction_for_chinese_nlp_spark.session import get_spark
    from information_extraction_for_chinese_nlp_spark.sources.transcripts import (
        synth_transcripts,
    )

    spark = get_spark("ie-kg-construct")
    if args.synth_convs:
        transcripts = synth_transcripts(spark, n_convs=args.synth_convs)
    elif args.input:
        transcripts = spark.read.parquet(args.input)
    else:
        raise SystemExit("need --input or --synth-convs")

    out = args.save_dir
    t0 = time.time()
    metrics: dict = {}

    edges = extract_triples(
        transcripts, max_seq_len=args.max_seq_len, threshold=args.threshold
    ).localCheckpoint(eager=False)
    vertices, fused = build_kg(
        edges,
        link_threshold=args.link_threshold,
        link_max_bucket=(
            None if args.link_max_bucket < 0 else args.link_max_bucket
        ),
    )
    # both post-stage consumers read fused repeatedly: one materialization
    fused = fused.localCheckpoint(eager=False)
    vertices.write.mode("overwrite").parquet(os.path.join(out, "vertices"))
    fused.write.mode("overwrite").parquet(os.path.join(out, "fused_edges"))
    metrics["vertices"] = spark.read.parquet(
        os.path.join(out, "vertices")
    ).count()
    metrics["fused_edges"] = spark.read.parquet(
        os.path.join(out, "fused_edges")
    ).count()

    if args.constraints:
        constraints = spark.read.parquet(args.constraints)
        # patterns constrain the human-readable canonical surface, not
        # the opaque entity hash
        checked = validate_facts(fused, constraints, obj_col="canonical_text")
        checked.filter(F.col("status") == "ok").drop("status").write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "facts_valid"))
        checked.filter(F.col("status") != "ok").write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "facts_quarantine"))
        metrics["facts_valid"] = spark.read.parquet(
            os.path.join(out, "facts_valid")
        ).count()
        metrics["facts_quarantine"] = spark.read.parquet(
            os.path.join(out, "facts_quarantine")
        ).count()

    if args.resolve_functional:
        resolve_functional(fused, obj_col="entity_id").write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "resolved"))
        metrics["resolved"] = spark.read.parquet(
            os.path.join(out, "resolved")
        ).count()

    if args.topk:
        top_k_objects(fused, k=args.topk, obj_col="entity_id").write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "topk"))
        metrics["topk"] = spark.read.parquet(os.path.join(out, "topk")).count()

    if args.pagerank:
        from information_extraction_for_chinese_nlp_spark.operators.centrality import (
            pagerank,
        )

        # bidirectional subject<->entity graph; prefixes keep the id
        # spaces disjoint
        pr_edges = fused.select(
            F.concat(F.lit("s:"), F.col("subj")).alias("src"),
            F.concat(F.lit("e:"), F.col("entity_id")).alias("dst"),
        )
        pr_edges = pr_edges.unionByName(
            pr_edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        pagerank(pr_edges, max_iter=args.pagerank).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "entity_ranks"))
        metrics["entity_ranks"] = spark.read.parquet(
            os.path.join(out, "entity_ranks")
        ).count()

    metrics["wall_sec"] = round(time.time() - t0, 2)
    metrics["save_dir"] = out
    print(json.dumps(metrics, ensure_ascii=False))
    return metrics


if __name__ == "__main__":
    main()
    sys.exit(0)
