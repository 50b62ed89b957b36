"""The benchmark's workloads: the jobs this engine's users run, composed
from the package's public functions exactly as its CLIs compose them.

Each workload knows how to make its inputs from a seed (``materialize``),
read them into Spark (``load``), run its job once (``job``), check an
output, and which package functions bound its layers in a traced run
(``patches``).
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager, nullcontext

import pyarrow.parquet as pq

import checks
import gen
from measure import counters, sql_sum

# Spark topology of every run: the box has 4 cores; 8 shuffle partitions
# is what get_spark picks for 4 cores and what the test suite uses.
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 8
# driver heap for a 15 GB box shared with other jobs (get_spark's own
# default is 24g); read by get_spark through SPARK_DRIVER_MEM
DRIVER_MEM = "3g"


def start_spark(work: str, master: str = MASTER, event_log: str | None = None):
    """A session whose every scratch file lands under ``work``."""
    from information_extraction_for_chinese_nlp_spark.session import get_spark

    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # every JIT compiler thread lives as long as the JVM, so the
        # job's CPU time can leave out what JIT compilation cost
        "spark.driver.extraJavaOptions":
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")
            + " -XX:-UseDynamicNumberOfCompilerThreads",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            # scan nodes name their files in full, so layers can tell
            # the corpus scan from the eval scan in the plan metrics
            "spark.sql.maxMetadataStringLength": "100000",
        })
    spark = get_spark("perfbench", master=master,
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def materialize_df(df):
    """Persist ``df`` and run one action over all of it -> (df, rows)."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return df, df.count()


def read_rows(path: str):
    return pq.read_table(path).to_pylist()


@contextmanager
def patched(spans, patches):
    """Bound the given package functions with layer spans for the
    duration of a traced run: each wrapped call runs under its layer's
    job group and its output is materialized at the boundary, so the
    layer's work happens inside its span. Originals are restored on
    exit."""
    from pyspark.sql import Observation

    saved = []

    def wrap(fn, layer, observe, input_layer):
        def traced(*args, **kwargs):
            if input_layer is not None:
                with spans.layer(input_layer):
                    first, n = materialize_df(args[0])
                spans.rows.setdefault(input_layer, []).append(n)
                spans.frames.setdefault(input_layer, []).append(first)
                args = (first,) + args[1:]
            obs = None
            if observe and kwargs.get("observation") is None:
                obs = kwargs["observation"] = Observation(layer)
            with spans.layer(layer):
                out, n = materialize_df(fn(*args, **kwargs))
            spans.rows.setdefault(layer, []).append(n)
            spans.frames.setdefault(layer, []).append(out)
            if obs is not None:
                spans.observed.setdefault(layer, []).append(obs.get)
            return out
        return traced

    for module, name, layer, observe, input_layer in patches:
        fn = getattr(module, name)
        saved.append((module, name, fn))
        setattr(module, name, wrap(fn, layer, observe, input_layer))
    try:
        yield
    finally:
        for module, name, fn in saved:
            setattr(module, name, fn)


def cc_rounds(row) -> int:
    """Label-propagation rounds of connected_components: one
    localCheckpoint per round, after the two that cut the symmetric edge
    table and the initial labels."""
    stages = (row or {}).get("stage_names", [])
    return max(sum(1 for s in stages if s.startswith("localCheckpoint")) - 2, 0)


class KgBatch:
    """Transcripts -> extract_triples -> localCheckpoint -> build_kg ->
    vertices and fused edges written (the scripts/run_kg.py composition)."""

    name = "kg_batch"
    n_convs = 400

    def materialize(self, seed: int, d: str):
        table, planted = gen.transcripts(seed, self.n_convs)
        self.mentions = checks.expected_mentions(planted)
        self.path = os.path.join(d, "transcripts.parquet")
        pq.write_table(table, self.path)
        self.n_rows = table.num_rows

    def load(self, spark):
        self.transcripts = spark.read.parquet(self.path)
        self.transcripts.count()

    def job(self, spark, out: str, spans=None):
        from information_extraction_for_chinese_nlp_spark.plans.graph import build_kg
        from information_extraction_for_chinese_nlp_spark.plans.pipeline import (
            extract_triples,
        )

        edges = extract_triples(self.transcripts).localCheckpoint(eager=False)
        vertices, fused = build_kg(edges)
        with spans.layer("write") if spans else nullcontext():
            vertices.write.mode("overwrite").parquet(os.path.join(out, "vertices"))
            fused.write.mode("overwrite").parquet(os.path.join(out, "fused_edges"))
        return edges

    def outputs(self, out: str):
        return (read_rows(os.path.join(out, "vertices")),
                read_rows(os.path.join(out, "fused_edges")))

    def digest(self, out: str) -> str:
        v, f = self.outputs(out)
        return (checks.rows_digest(v, ("entity_id",))
                + checks.rows_digest(f, ("subj", "pred", "entity_id")))

    def check(self, out: str):
        return checks.check_kg(*self.outputs(out), self.mentions)

    def patches(self):
        import information_extraction_for_chinese_nlp_spark.operators.fusion as fusion
        import information_extraction_for_chinese_nlp_spark.plans.graph as graph
        import information_extraction_for_chinese_nlp_spark.plans.pipeline as pipeline

        return [
            (pipeline, "assemble_turns", "assembly", False, None),
            # the raw scorer output is materialized (and counted) before the
            # threshold strategy filters it, inside the extract_spans span
            (pipeline, "apply_strategy", "scorer", False, "scorer"),
            (pipeline, "extract_spans", "scorer", False, None),
            (graph, "normalize_objects", "normalize", False, None),
            (graph, "raw_match_pairs", "link", True, None),
            (graph, "connected_components", "components", False, None),
            # build_graph's canonical join is materialized as "graph"
            (fusion, "fuse_triples", "fusion", False, "graph"),
        ]

    def trace_counts(self, spans):
        """Row counts over the traced run's materialized layer outputs
        (cached, so each is a cheap job outside every layer)."""
        from pyspark.sql import functions as F

        raw = spans.frames["scorer"][0]
        normed = spans.frames["normalize"][0]
        return {
            "quarantined": raw.filter(F.col("probability").isNull()).count(),
            "nan_mentions": normed.filter(F.col("obj_norm") == "nan").count(),
        }

    def layer_metrics(self, profile, spans, job_profile, counts):
        rows = spans.rows
        raw, kept = rows["scorer"][0], rows["scorer"][1]
        n_edges = rows["normalize"][0]
        cand = sql_sum(profile.get("link"), "number of output rows",
                       "Generate", "explode(", "posexplode")
        py = profile.get("scorer")
        task_ms = sorted((profile.get("assembly") or {}).get("task_ms", [0]))
        return {
            "assembly.wall_s": spans.self_s("assembly"),
            "assembly.task_skew": task_ms[-1] / max(statistics.median(task_ms), 1),
            "assembly.docs_out": rows["assembly"][0],
            "scorer.wall_s": spans.self_s("scorer"),
            "scorer.python_s": sql_sum(py, "time to run Python workers") / 1e3,
            "scorer.spans_kept_ratio": kept / raw if raw else 0.0,
            "scorer.quarantined": counts["quarantined"],
            "normalize.wall_s": spans.self_s("normalize"),
            "normalize.udf_rows_per_mention": sql_sum(
                job_profile, "number of output rows", "ArrowEvalPython"
            ) / n_edges,
            "normalize.nan_share": counts["nan_mentions"] / n_edges,
            "link.wall_s": spans.self_s("link"),
            "link.candidates": cand,
            "link.verified_ratio": rows["link"][0] / cand if cand else 0.0,
            "link.dropped_buckets": sum(
                o["dropped_buckets"] for o in spans.observed.get("link", [])),
            "components.wall_s": spans.self_s("components"),
            "components.rounds": cc_rounds(profile.get("components")),
            "components.edges_in": rows["link"][0],
            "graph.wall_s": spans.self_s("graph"),
            "fusion.wall_s": spans.self_s("fusion"),
            "fusion.facts_per_mention": rows["fusion"][0] / rows["graph"][0],
            "write.wall_s": spans.self_s("write"),
        }


class Curate:
    """Seeded corpus -> operators.curation.curate (dedup -> decontaminate
    -> quality -> PII -> sample) -> survivors written."""

    name = "curate"
    n_docs = 1500
    min_quality = 0.2

    def materialize(self, seed: int, d: str):
        docs, eval_docs, self.truth = gen.corpus(seed, self.n_docs)
        self.path = os.path.join(d, "corpus.parquet")
        self.eval_path = os.path.join(d, "eval.parquet")
        pq.write_table(docs, self.path)
        pq.write_table(eval_docs, self.eval_path)
        self.n_rows = docs.num_rows

    def load(self, spark):
        # the corpus stays a plain parquet scan: curate's scan-count
        # contract is about how often the job reads its source
        self.docs = spark.read.parquet(self.path)
        self.eval_docs = spark.read.parquet(self.eval_path)
        self.docs.count()

    def job(self, spark, out: str, spans=None):
        from information_extraction_for_chinese_nlp_spark.operators.curation import curate

        survivors = curate(
            self.docs, eval_docs=self.eval_docs, decontam_n=8,
            min_quality=self.min_quality, scrub=True,
            sample_fractions={"en": 0.9}, strata_col="lang",
        )
        if spans:
            with spans.layer("textstats"):
                survivors, n = materialize_df(survivors)
            spans.rows["textstats"] = [n]
        with spans.layer("write") if spans else nullcontext():
            survivors.write.mode("overwrite").parquet(os.path.join(out, "survivors"))

    def digest(self, out: str) -> str:
        return checks.rows_digest(read_rows(os.path.join(out, "survivors")), ("doc_id",))

    def check(self, out: str):
        return checks.check_curate(read_rows(os.path.join(out, "survivors")),
                                   self.truth), {}

    def patches(self):
        import information_extraction_for_chinese_nlp_spark.operators.components as comp
        import information_extraction_for_chinese_nlp_spark.operators.curation as curation
        import information_extraction_for_chinese_nlp_spark.operators.dedup as dedup

        return [
            (dedup, "dedup_exact", "dedup", False, None),
            (dedup, "minhash_lsh_pairs", "dedup", True, None),
            (comp, "connected_components", "components", False, None),
            (curation, "decontaminate", "dedup", False, None),
        ]

    def trace_counts(self, spans):
        return {}

    def layer_metrics(self, profile, spans, job_profile, counts):
        obs = spans.observed.get("dedup", [])
        scanned = sql_sum(job_profile, "number of output rows", "Scan parquet",
                          os.path.basename(self.path))
        pairs = spans.rows["dedup"][1]
        return {
            "dedup.wall_s": spans.self_s("dedup"),
            "dedup.candidates": pairs,
            "dedup.max_bucket": max((o["max_bucket_size"] for o in obs), default=0),
            "dedup.dropped_buckets": sum(o["dropped_buckets"] for o in obs),
            "components.wall_s": spans.self_s("components"),
            "components.rounds": cc_rounds(profile.get("components")),
            "components.edges_in": pairs,
            "textstats.wall_s": spans.self_s("textstats"),
            "write.wall_s": spans.self_s("write"),
            "curation.source_scans": scanned / self.n_rows,
            # the curation layer is the whole composition: its counters
            # are the untraced job's
            **{f"curation.{k}": v for k, v in counters(job_profile).items()},
        }


# the stream leg of the kg_batch traced run: two micro-batches, the
# second one compacting the state
STREAM_FILES, STREAM_COMPACT_EVERY = 2, 1
EDGE_DDL = ("subj string, pred string, obj string, prob double, "
            "doc_id string, start int, end int")


def write_edge_files(edges_df, d: str) -> int:
    """Collect an extraction edge table and split it, in conversation
    order, into STREAM_FILES parquet files (the stream's micro-batches)."""
    table = edges_df.toArrow().sort_by([("subj", "ascending"), ("start", "ascending"),
                                       ("pred", "ascending"), ("obj", "ascending")])
    os.makedirs(d, exist_ok=True)
    step = -(-table.num_rows // STREAM_FILES)
    for i in range(STREAM_FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(d, f"part-{i:04d}.parquet"))
    return table.num_rows


def run_stream(spark, src: str, out: str):
    """streaming.stream.stream_build_kg over the files in ``src``, one
    file per micro-batch, until they are all consumed -> per-batch
    durations in seconds, in batch order."""
    from pyspark.sql.streaming import StreamingQueryListener

    from information_extraction_for_chinese_nlp_spark.streaming.stream import (
        stream_build_kg,
    )

    durations = {}

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            durations[p.batchId] = p.durationMs["triggerExecution"] / 1000.0

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    n_files = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    listener = Progress()
    spark.streams.addListener(listener)
    try:
        query = stream_build_kg(
            spark.readStream.schema(EDGE_DDL).option("maxFilesPerTrigger", 1)
            .parquet(src),
            os.path.join(out, "kg"), os.path.join(out, "checkpoint"),
            compact_every=STREAM_COMPACT_EVERY,
        )
        query.awaitTermination()
        # progress events are delivered asynchronously
        deadline = time.time() + 30
        while len(durations) < n_files and time.time() < deadline:
            time.sleep(0.05)
    finally:
        spark.streams.removeListener(listener)
    return [durations[b] for b in sorted(durations)]


def latest_snapshot(root: str):
    ids = [int(d.split("=", 1)[1]) for d in os.listdir(root) if d.startswith("batch_id=")]
    return read_rows(os.path.join(root, f"batch_id={max(ids)}"))


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / (1024.0 * 1024.0)


def stream_metrics(durations, out: str) -> dict:
    """The stream layer's metrics from one run_stream call."""
    kg = os.path.join(out, "kg")
    return {
        "stream.batch_s": statistics.median(durations),
        "stream.state_mb": sum(dir_mb(os.path.join(kg, d))
                               for d in ("_surfaces", "_fstate", "_labels")),
        "stream.files_written": sum(len(f) for _, _, f in os.walk(kg)),
    }


def stream_outputs(out: str):
    """The stream's final vertices and fused snapshot."""
    kg = os.path.join(out, "kg")
    return (latest_snapshot(os.path.join(kg, "vertices")),
            latest_snapshot(os.path.join(kg, "fused")))


WORKLOADS = {w.name: w for w in (KgBatch, Curate)}
