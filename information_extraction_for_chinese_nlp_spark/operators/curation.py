"""Composed corpus curation as ONE scale-safe job.

The individual operators (dedup_pipeline, decontaminate,
quality_features, scrub_pii, sample_stratified) are each linear, but
composing them naively — "compute a skinny verdict frame from the
corpus, join it back as a filter" per stage — makes Spark re-execute
the whole upstream subtree for every extra reference (exchanges and
scans are not reused across plan aliases; measured, and caught by the
round-5 q8_dataprep plan audit: 60 parquet scans of the corpus in one
count).

``curate`` composes the same stages with the two tools that keep the
plan linear:

- stages whose verdict is a pure row-local expression (quality filter,
  PII scrub) run INLINE — a ``filter``/``withColumn`` over the carried
  text column, no join-back (``quality_feature_cols`` /
  ``pii_scrub_col``);
- the two stages that genuinely consume their input twice (dedup's
  canonical set: signature pipeline + anti-join spine; decontaminate's
  corpus: n-gram probe + id spine) get a LAZY ``localCheckpoint``
  boundary, so the subtree materializes once at first action and every
  further reference reads blocks instead of recomputing.
  (scripts/run_dataprep.py does not call ``curate``: it runs the stages
  one by one with join-backs, ``.cache()``s the dedup result and runs a
  ``count()`` per stage for its survivor metrics; it writes no snapshot
  between stages.)

Result: the composed job scans the source exactly twice (both inside
dedup: the exact-keep aggregation and the canonical build) regardless
of how many curation stages are enabled — the plan-shape test pins
this.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .convert import sample_stratified
from .dedup import decontaminate, dedup_pipeline, line_dedup_rewrite
from .textstats import pii_scrub_col, quality_feature_cols


def curate(
    docs: DataFrame,
    *,
    line_dedup_min_df: int | None = None,
    eval_docs: DataFrame | None = None,
    eval_text_col: str | None = None,
    decontam_n: int = 8,
    min_quality: float | None = None,
    scrub: bool = True,
    sample_fractions: dict | None = None,
    strata_col: str = "lang",
    default_fraction: float = 1.0,
    seed: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 4,
    rows_per_band: int = 2,
    max_bucket: int | None = 10_000,
    observation=None,
) -> DataFrame:
    """(line-level boilerplate removal) -> dedup -> (decontaminate) ->
    (quality filter) -> (PII scrub) -> (stratified sample); returns the
    surviving rows of ``docs`` with ``text_col`` rewritten/scrubbed.
    Optional stages are skipped when their argument is None/False. One
    lazy plan — EXCEPT when ``line_dedup_min_df`` is set, whose hot-set
    discovery (a full corpus pass into an eager checkpoint + a count)
    runs at CALL time, before any action on the returned frame; see
    the module docstring for the scan-count contract.

    ``line_dedup_min_df`` enables CCNet/C4-style hot-line removal FIRST
    — boilerplate inflates near-dup similarity, so stripping it before
    banding is the principled order. Scan accounting: the stage adds
    its own hot-set pass over the source plus the rewrite
    materialization (a lazy checkpoint boundary — dedup consumes the
    rewritten text twice), so the composed job reads the SOURCE twice
    and every later stage reads checkpoint blocks; passenger columns
    (strata etc.) ride through ``line_dedup(keep=...)``, never a
    join-back."""
    if line_dedup_min_df is not None:
        docs, _ = line_dedup_rewrite(
            docs, line_dedup_min_df, id_col=id_col, text_col=text_col
        )
    out = dedup_pipeline(
        docs, n_bands, rows_per_band, id_col, text_col,
        max_bucket=max_bucket, observation=observation,
        checkpoint=True,
    )
    if eval_docs is not None:
        # boundary: the dedup result feeds decontaminate's n-gram probe
        # AND survives as the row spine — materialize it once
        out = out.localCheckpoint(eager=False)
        flags = decontaminate(
            out, eval_docs, n=decontam_n, id_col=id_col, text_col=text_col,
            # default: an eval frame usually shares the corpus schema,
            # so its text column follows text_col unless named explicitly
            eval_text_col=eval_text_col or text_col,
        )
        out = out.join(
            flags.filter(~F.col("contaminated")).select(
                F.col("doc_id").alias(id_col)
            ),
            on=id_col,
            how="left_semi",
        )
    if min_quality is not None:
        out = out.filter(
            quality_feature_cols(F.col(text_col))["quality_score"]
            >= min_quality
        )
    if scrub:
        out = out.withColumn(text_col, pii_scrub_col(F.col(text_col)))
    if sample_fractions is not None or default_fraction < 1.0:
        out = sample_stratified(
            out, sample_fractions or {}, strata_col=strata_col,
            key_cols=(id_col,), seed=seed,
            default_fraction=default_fraction,
        )
    return out
