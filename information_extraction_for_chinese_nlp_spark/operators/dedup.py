"""Deduplication suite for training-data pipelines.

All four families are expressed as shuffle-lean DataFrame plans:

- exact: hash-groupBy on md5(text) — one shuffle, map-side combine.
- MinHash + LSH: per-seed minima (Catalyst agg or vectorized
  per-partition) -> band buckets -> JVM-side pair expansion inside each
  bucket; candidate generation is output-bound, and there is NO
  self-join anywhere (Spark re-executes the upstream pipeline for a
  self-join's second alias — measured).
- SimHash: per-bit majority vote over token hashes (Catalyst agg or
  vectorized per-partition), 16/32-bit packed or 64-bit two-word,
  pigeonhole-banded near-pairs with exact bit_count verify.
- n-gram Jaccard: ONE aggregation chain — set sizes ride as a
  projection through the shingle inverted index's bucket structs, so
  |A∩B| and |A|,|B| come out of the same pair expansion.

All hashes are md5-hex (engine-portable: identical in DuckDB, so every
operator here is oracle-checkable).
"""

from __future__ import annotations

import warnings

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """-> (text_md5, keep_id, n_dups): canonical row per distinct text."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def dedup_pipeline(docs: DataFrame, n_bands: int = 4, rows_per_band: int = 2,
                   id_col: str = "doc_id", text_col: str = "text",
                   max_bucket: int | None = 10_000,
                   observation=None,
                   checkpoint: bool = False) -> DataFrame:
    """The standard 100 TB dedup recipe as ONE composed plan:
    exact-keep -> MinHash-LSH near-dup pairs -> connected components ->
    LEFT ANTI keep-list. Returns the surviving rows of ``docs``
    (all original columns).

    Stage order is the scale argument: ``dedup_exact`` first means
    identical texts never reach the banding stage, so the O(n²)
    identical-signature bucket (the degenerate cluster ``max_bucket``
    guards against) collapses to a single canonical doc BEFORE pair
    expansion. Near-dup clusters are then canonicalized to their min
    id via min-label propagation and every non-canonical member is
    dropped with a LEFT ANTI join — no collect, no self-join.
    """
    from .components import connected_components

    exact_keep = dedup_exact(docs, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    canonical = docs.join(exact_keep, on=id_col, how="left_semi")
    if checkpoint:
        # `canonical` is consumed twice (signature pipeline + final anti
        # join) and Spark re-executes the subtree per reference; a LAZY
        # localCheckpoint materializes it once at the first action so the
        # source is scanned twice total (exact-keep agg + canonical
        # build) instead of per-consumer. Opt-in: it pins executor
        # memory/disk for the canonical set, which a small composed gate
        # plan doesn't want but a corpus-scale curation run does.
        canonical = canonical.localCheckpoint(eager=False)
    pairs = minhash_lsh_pairs(
        canonical, n_bands, rows_per_band, id_col, text_col,
        max_bucket=max_bucket, observation=observation,
    )
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return canonical.join(losers, on=id_col, how="left_anti")


def tokens(col):
    return F.split(col, " ")


def word_shingles(col, n: int = 3, keep_short: bool = True):
    """array of distinct word n-grams (space-joined).

    ``keep_short=True`` (default): a document with fewer than n tokens
    contributes ONE undersized shingle (its whole token run) — right for
    near-dup Jaccard, where two short docs must still be comparable.
    ``keep_short=False``: strict n-gram semantics — short docs yield an
    EMPTY array, matching the GPT-3/PaLM decontamination rule under
    which a 5-word doc has zero 13-grams (the undersized pseudo-shingle
    would flag clean training docs that merely share a short doc's
    prefix).

    Formulation (r8): a ``zip_with`` chain over shifted slices of the
    token array — shingle i is built by n-1 pairwise concats of
    neighbors — instead of the old
    ``transform(indices, i -> array_join(slice(toks, i+1, n)))``.
    Interpreted higher-order lambdas have no CSE, so the old shape
    re-ran the full regex ``split`` of the document PER SHINGLE INDEX
    (O(tokens) splits per row); here ``split`` is evaluated a handful
    of times per row (the chain inputs), and the per-element work is a
    plain concat of lambda variables. Byte-identical output — both
    modes, NULL text ([NULL] / []), multi-space, short docs — pinned
    against the old formulation; measured 3.5x on the sf0.1 3-gram
    explode (1.20s -> 0.34s min-of-4)."""
    toks = tokens(col)
    L = F.size(toks)
    chain = toks
    for k in range(1, n):
        # slice may be shorter than `chain`: zip_with pads with NULL and
        # the lambda keeps the left side, which yields exactly the
        # undersized tail shingles the final slice() then drops (or the
        # whole-run shingle keep_short retains at index 0)
        nxt = F.slice(toks, k + 1, F.greatest(L - k, F.lit(0)))
        chain = F.zip_with(
            chain,
            nxt,
            lambda a, b: F.when(b.isNull(), a).otherwise(
                F.concat(a, F.lit(" "), b)
            ),
        )
    if keep_short:
        # NULL text: the old formulation produced a single-NULL array
        # (slice(NULL) -> NULL element under the [0] index) — preserved
        return F.when(
            col.isNull(), F.array(F.lit(None).cast("string"))
        ).otherwise(
            F.array_distinct(
                F.slice(chain, 1, F.greatest(L - n + 1, F.lit(1)))
            )
        )
    return F.when(
        L >= n, F.array_distinct(F.slice(chain, 1, L - n + 1))
    ).otherwise(F.array().cast("array<string>"))


def decontaminate(docs: DataFrame, eval_docs: DataFrame, n: int = 8,
                  id_col: str = "doc_id", text_col: str = "text",
                  eval_text_col: str = "text",
                  max_eval_grams: int = 50_000_000) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word n-gram with an evaluation corpus (the GPT-3/PaLM-style 13-gram
    overlap rule; n defaults lower because the synthetic fixtures are
    short — pass n=13 for real corpora).

    -> (doc_id, n_hits, contaminated) for EVERY input doc: n_hits =
    distinct overlapping n-grams, contaminated = n_hits > 0. Compose
    with a filter or LEFT ANTI join to drop flagged docs.

    Scale shape: the eval side is a benchmark — thousands of docs, not
    the 100 TB side — so its distinct n-gram set BROADCASTS and the
    corpus side never shuffles: explode distinct per-doc shingles, hash
    join against the broadcast set, count per doc, left-join the flags
    back (the flag join keys on ``id_col`` only — Catalyst broadcasts
    the aggregated hit table, which is ≤ |contaminated docs| rows).
    ``max_eval_grams`` fails fast if the "small" side isn't (a broadcast
    that size would OOM every executor); shard the eval set and union
    the flags if you genuinely need more.

    Guard cost (VERDICT r4 task 4): the eval side is computed ONCE —
    the eager localCheckpoint below is the single pass over the eval
    corpus, and both the guard's count() and the broadcast join read
    the materialized blocks, so the count is a block-manager scan (no
    recompute), not a second pass over the data.
    """
    eval_grams = (
        eval_docs.select(
            F.explode(
                word_shingles(F.col(eval_text_col), n, keep_short=False)
            ).alias("g")
        )
        .distinct()
        # materialized ONCE (the guard count below and the broadcast join
        # both consume this aggregation — recomputing would run the
        # eval-side explode+distinct as two full jobs); localCheckpoint
        # over cache() so the blocks free themselves when the frame is
        # garbage-collected instead of pinning storage until an explicit
        # unpersist nobody can call on a returned plan
        .localCheckpoint(eager=True)
    )
    n_eval = eval_grams.count()
    if n_eval > max_eval_grams:
        raise ValueError(
            f"eval corpus has {n_eval} distinct {n}-grams, over the "
            f"broadcast cap ({max_eval_grams}); shard the eval set and "
            "union the flags, or raise max_eval_grams explicitly"
        )
    doc_grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), n, keep_short=False)).alias("g"),
    )
    hits = (
        doc_grams.join(F.broadcast(eval_grams), on="g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(hits, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def minhash_signatures(docs: DataFrame, n_seeds: int = 4,
                       id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """-> (doc_id, seed, minhash): per-seed min of md5(token#seed)
    (Broder '97 min-wise independent permutations; b×r banding per
    Leskovec/Rajaraman/Ullman, MMDS ch.3).

    String-min over md5 hex is a valid min-wise hash family and is
    byte-identical across engines.
    """
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("w"),
    )
    seeded = words.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_seeds - 1))).alias("seed"),
        "w",
    )
    return seeded.groupBy("doc_id", "seed").agg(
        F.min(F.md5(F.concat_ws("#", "w", "seed"))).alias("minhash")
    )


def _np_minhash_rows(n_seeds: int, id_col: str, text_col: str,
                     memo_cap: int | None = None):
    """Per-doc md5 minima computed INSIDE an Arrow batch — the same hash
    family as ``minhash_signatures`` (min over md5-hex of token#seed),
    byte-identical output, but nothing explodes through a shuffle.

    Returns a FACTORY: call it once per partition to get a doc->minima
    function with its own token-digest memo. Corpus vocabulary is
    Zipfian, so most (token, seed) hashes repeat across documents — the
    memo collapses the md5 count from Σ|tokens|·n_seeds to
    |vocab|·n_seeds per partition (capped at ``memo_cap`` tokens; past
    the cap digests are still computed, just not stored). Minima compare
    raw 16-byte digests (hex is byte-monotone, so min-of-digest ==
    min-of-hexdigest) and only the winners pay the hex conversion.

    ``memo_cap`` defaults to a ~64 MB per-worker byte budget
    (entries × n_seeds × 16-byte digests): the Zipf head fits easily,
    tail tokens past the cap are computed but not stored."""
    if memo_cap is None:
        memo_cap = max((1 << 22) // max(n_seeds, 1), 1 << 14)

    def make_doc_minima():
        from hashlib import md5

        suffixes = [f"#{s}".encode("utf-8") for s in range(n_seeds)]
        memo: dict[str, list[bytes]] = {}

        def token_digests(w: str) -> list[bytes]:
            ds = memo.get(w)
            if ds is None:
                base = md5(w.encode("utf-8"))
                ds = []
                for suf in suffixes:
                    h = base.copy()
                    h.update(suf)
                    ds.append(h.digest())
                if len(memo) < memo_cap:
                    memo[w] = ds
            return ds

        def doc_minima(text: str) -> list[str]:
            mins: list[bytes | None] = [None] * n_seeds
            for w in set(text.split(" ")):
                ds = token_digests(w)
                for i in range(n_seeds):
                    d = ds[i]
                    m = mins[i]
                    if m is None or d < m:
                        mins[i] = d
            return [m.hex() for m in mins]

        return doc_minima

    return make_doc_minima


def minhash_signatures_np(docs: DataFrame, n_seeds: int = 4,
                          id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Vectorized scale path for ``minhash_signatures``: identical
    (doc_id, seed, minhash) rows, but signatures are computed
    per-partition in a single ``mapInPandas`` — the Catalyst version
    shuffles tokens × n_seeds rows (at the b×r budgets a 100 TB dedup
    wants, 64-128 hashes, that multiplies shuffle volume accordingly);
    here the shuffle input is n_seeds rows per document, full stop."""
    import pandas as pd

    make_doc_minima = _np_minhash_rows(n_seeds, id_col, text_col)
    id_type = docs.schema[id_col].dataType.simpleString()

    def sig_map(batches):
        from ..functions.worker import pin_worker_threads

        pin_worker_threads()
        doc_minima = make_doc_minima()
        for pdf in batches:
            out_id, out_seed, out_min = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:  # Catalyst parity: explode(null) drops the doc
                    continue
                for s, mh in enumerate(doc_minima(text)):
                    out_id.append(doc_id)
                    out_seed.append(s)
                    out_min.append(mh)
            yield pd.DataFrame(
                {"doc_id": out_id, "seed": out_seed, "minhash": out_min}
            )

    return docs.select(id_col, text_col).mapInPandas(
        sig_map, f"doc_id {id_type}, seed int, minhash string"
    )


def _cap_buckets(buckets: DataFrame, cap: int | None, observation) -> DataFrame:
    """Drop inverted-index buckets larger than ``cap`` (None = explicit
    opt-out, documented at each caller). When a ``pyspark.sql.Observation``
    is passed, the pre-filter bucket stats are observed so dropped work is
    COUNTED, never silent: after the first action on the result,
    ``observation.get`` carries ``dropped_buckets``, ``dropped_ids``
    (ids inside dropped buckets — each would have expanded O(size²)
    pairs), ``max_bucket_size`` and ``p99_bucket_size``.

    max/p99 are the live check on the coarse-keyspace sizing rule (see
    :func:`simhash_near_pairs`): bucket sizes grow ~N/keyspace on a
    uniform corpus, but a skewed corpus concentrates mass in few codes —
    max >> p99 is the signature of that skew, and the cue to either
    narrow the bands (more bits per band) or turn the cap on."""
    if observation is not None:
        over = (
            F.lit(False) if cap is None else (F.size("ids") > F.lit(cap))
        )
        buckets = buckets.observe(
            observation,
            F.coalesce(
                F.sum(F.when(over, 1).otherwise(0)), F.lit(0)
            ).cast("long").alias("dropped_buckets"),
            F.coalesce(
                F.sum(F.when(over, F.size("ids")).otherwise(0)), F.lit(0)
            ).cast("long").alias("dropped_ids"),
            F.coalesce(F.max(F.size("ids")), F.lit(0)).cast("long").alias(
                "max_bucket_size"
            ),
            F.coalesce(
                F.percentile_approx(F.size("ids"), 0.99), F.lit(0)
            ).cast("long").alias("p99_bucket_size"),
        )
    if cap is None:
        return buckets
    return buckets.filter(F.size("ids") <= cap)


def _bucket_pairs(ids):
    """Ordered (doc_a < doc_b) pair structs from a sorted id array —
    JVM-side pair expansion inside an inverted-index bucket. Replaces a
    self-join: Spark does not reuse the exchange across self-join
    aliases (measured), so joining a bucketed table with itself re-runs
    the whole upstream pipeline for the second side."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )


def minhash_lsh_pairs(docs: DataFrame, n_bands: int = 4, rows_per_band: int = 2,
                      id_col: str = "doc_id", text_col: str = "text",
                      max_bucket: int | None = 10_000,
                      vectorized: bool = True,
                      observation=None) -> DataFrame:
    """-> (doc_a, doc_b) candidate near-dup pairs sharing at least one band.

    Standard b×r banding: signature of n_bands*rows_per_band minhashes,
    split into n_bands bands of rows_per_band each; a pair is a
    candidate iff some band matches exactly. Detection probability for
    Jaccard s is 1-(1-s^r)^b — the default (b=4, r=2) catches a
    0.8-Jaccard pair with p≈0.98 (a single band of 4 rows would only
    manage ≈0.41).

    Pairs come from ONE aggregation chain, not a self-join: docs group
    into (band_id, band) buckets and ordered pairs are expanded
    JVM-side inside each bucket. A self-join would re-run the whole
    signature pipeline for its second input (Spark does not reuse the
    exchange across the two aliases — measured), doubling the dominant
    cost at scale. Duplicates across bands collapse with a distinct;
    work stays output-bound, never all-pairs.

    ``max_bucket`` drops buckets larger than the cap — a bucket of n
    docs (an exact-dup cluster: identical signatures) expands to
    O(n²) pairs that dedup_exact already answers in O(n). The cap
    defaults ON (10k — far above any honest near-dup cluster after an
    exact pre-pass, tiny next to the multi-million-row exact clusters a
    100 TB crawl corpus carries); pass ``max_bucket=None`` to opt out
    explicitly. ON is safe HERE because band keys are md5-string
    r-tuples — a 2^128-sized keyspace where two documents share a
    bucket only by sharing signature content, so bucket size tracks
    duplication, not corpus size (contrast ``simhash_near_pairs``,
    whose few-bit band keyspace makes buckets grow with N — its cap
    defaults OFF). Dropped buckets are never silent: pass a
    ``pyspark.sql.Observation`` as ``observation`` to get
    ``dropped_buckets`` / ``dropped_ids`` / ``max_bucket_size`` after
    the first action. Run ``dedup_pipeline`` (exact pre-pass first)
    rather than raising the cap when exact dups are the cause.

    ``vectorized=True`` (the DEFAULT since r8) computes band strings
    per document inside ONE ``mapInPandas`` (same md5 family — pair set
    is identical, parity tested) instead of the token-explode + per-seed
    aggregation, cutting the plan from two shuffles to one and the
    shuffle input from tokens × n_seeds rows to n_bands rows per
    document. Originally the opt-in scale path for large signature
    budgets (n_seeds ≥ 16); the r8 A/B measured it ahead even at the
    smallest budget (b=2×r=2 on the sf0.1 corpus: 1.02s vs 1.50s
    min-of-4), so it is now the default at every budget.
    ``vectorized=False`` keeps the pure-Catalyst formulation (the
    DuckDB-oracle twin and the no-Python-workers option).
    """
    if vectorized:
        import pandas as pd

        make_doc_minima = _np_minhash_rows(n_bands * rows_per_band, id_col,
                                           text_col)
        id_type = docs.schema[id_col].dataType.simpleString()

        def band_map(batches):
            from ..functions.worker import pin_worker_threads

            pin_worker_threads()
            doc_minima = make_doc_minima()
            for pdf in batches:
                out_id, out_bid, out_band = [], [], []
                for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                    if text is None:
                        continue
                    mins = doc_minima(text)
                    for b in range(n_bands):
                        out_id.append(doc_id)
                        out_bid.append(b)
                        out_band.append(
                            "|".join(mins[b * rows_per_band:(b + 1) * rows_per_band])
                        )
                yield pd.DataFrame(
                    {"doc_id": out_id, "band_id": out_bid, "band": out_band}
                )

        banded = docs.select(id_col, text_col).mapInPandas(
            band_map, f"doc_id {id_type}, band_id int, band string"
        )
    else:
        sigs = minhash_signatures(docs, n_bands * rows_per_band, id_col, text_col)
        banded = (
            sigs.withColumn("band_id", (F.col("seed") / rows_per_band).cast("int"))
            .groupBy("doc_id", "band_id")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("seed", "minhash"))),
                        lambda s: s["minhash"],
                    ),
                    "|",
                ).alias("band")
            )
        )
    buckets = (
        banded.groupBy("band_id", "band")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    buckets = _cap_buckets(buckets, max_bucket, observation)
    return (
        buckets.select(F.explode(_bucket_pairs(F.col("ids"))).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def simhash(docs: DataFrame, n_bits: int = 16,
            id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """-> (doc_id, simhash): n_bits-bit majority fingerprint.

    Bit b of a token = parity of hex digit b of md5(token); fingerprint
    bit b = 1 iff the +1/-1 vote over distinct tokens is positive.
    """
    if n_bits > 32:
        # one hex digit per bit: past 32 the substring is '' and
        # instr('', ...) silently votes every high bit to 0 — identical
        # high bands for ALL docs (O(N²) bucket blowup) and understated
        # Hamming distances. simhash_np already raises; mirror it.
        raise ValueError("md5 has 32 hex digits; use simhash_wide for n_bits > 32")
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("w"),
    ).withColumn("h", F.md5("w"))
    bits = words.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_bits - 1))).alias("bit"),
        "h",
    ).withColumn(
        "vote",
        F.when(
            (F.instr(F.lit("0123456789abcdef"), F.substring("h", F.col("bit") + 1, 1)) - 1)
            % 2
            == 1,
            1,
        ).otherwise(-1),
    )
    votes = bits.groupBy("doc_id", "bit").agg(F.sum("vote").alias("v"))
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("v") > 0, F.pow(F.lit(2.0), F.col("bit"))).otherwise(0.0)
        )
        .cast("long")
        .alias("simhash")
    )


def _np_simhash_words(n_bits: int, memo_cap: int | None = None):
    """Factory (one per partition) for doc -> packed fingerprint words.

    Same bit family as the Catalyst ops: bit b of a token = bit (b//32)
    of md5 hex digit (b%32); fingerprint bit = positive ±1 vote over
    distinct tokens. Token bit-vectors are memoized (Zipfian vocab) and
    votes accumulate in one numpy add per token, so the per-doc cost is
    O(|tokens|) instead of the tokens×n_bits exploded shuffle rows of
    the Catalyst formulation. Returns the fingerprint as a list of
    32-bit words, low word first (1 word for n_bits ≤ 32, two for 64).
    ``memo_cap`` defaults to a ~32 MB per-worker byte budget
    (entries × n_bits × 8-byte votes)."""
    import numpy as np

    if memo_cap is None:
        memo_cap = max((1 << 22) // max(n_bits, 1), 1 << 14)

    n_words = (n_bits + 31) // 32
    idx = np.arange(n_bits) % 32
    shift = np.arange(n_bits) // 32
    weights = np.array([1 << (b % 32) for b in range(n_bits)], dtype=np.int64)
    word_of = np.arange(n_bits) // 32

    def make_doc_words():
        from hashlib import md5

        memo: dict[str, "np.ndarray"] = {}

        def token_votes(w: str):
            v = memo.get(w)
            if v is None:
                digits = np.frombuffer(
                    bytes.fromhex(md5(w.encode("utf-8")).hexdigest()), dtype=np.uint8
                )
                # hex digits in order: high nibble then low nibble per byte
                d = np.empty(32, dtype=np.int64)
                d[0::2] = digits >> 4
                d[1::2] = digits & 15
                v = (((d[idx] >> shift) & 1) * 2 - 1).astype(np.int64)
                if len(memo) < memo_cap:
                    memo[w] = v
            return v

        def doc_words(text: str) -> list[int]:
            votes = np.zeros(n_bits, dtype=np.int64)
            for w in set(text.split(" ")):
                votes += token_votes(w)
            bits = (votes > 0) * weights
            return [int(bits[word_of == wd].sum()) for wd in range(n_words)]

        return doc_words

    return make_doc_words


def simhash_np(docs: DataFrame, n_bits: int = 16, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Vectorized scale path for ``simhash`` (n_bits ≤ 32): identical
    (doc_id, simhash) output, computed per-partition in one
    mapInPandas — no tokens×n_bits explode through the shuffle."""
    import pandas as pd

    if n_bits > 32:
        raise ValueError("use simhash_wide_np for n_bits > 32")
    make_doc_words = _np_simhash_words(n_bits)
    id_type = docs.schema[id_col].dataType.simpleString()

    def fp_map(batches):
        from ..functions.worker import pin_worker_threads

        pin_worker_threads()
        doc_words = make_doc_words()
        for pdf in batches:
            out_id, out_fp = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                out_id.append(doc_id)
                out_fp.append(doc_words(text)[0])
            yield pd.DataFrame({"doc_id": out_id, "simhash": out_fp})

    return docs.select(id_col, text_col).mapInPandas(
        fp_map, f"doc_id {id_type}, simhash long"
    )


def simhash_wide_np(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Vectorized scale path for ``simhash_wide``: identical
    (doc_id, sim_hi, sim_lo) output from one mapInPandas."""
    import pandas as pd

    make_doc_words = _np_simhash_words(64)
    id_type = docs.schema[id_col].dataType.simpleString()

    def fp_map(batches):
        from ..functions.worker import pin_worker_threads

        pin_worker_threads()
        doc_words = make_doc_words()
        for pdf in batches:
            out_id, out_hi, out_lo = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                lo, hi = doc_words(text)
                out_id.append(doc_id)
                out_hi.append(hi)
                out_lo.append(lo)
            yield pd.DataFrame(
                {"doc_id": out_id, "sim_hi": out_hi, "sim_lo": out_lo}
            )

    return docs.select(id_col, text_col).mapInPandas(
        fp_map, f"doc_id {id_type}, sim_hi long, sim_lo long"
    )


def simhash_wide(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """-> (doc_id, sim_hi, sim_lo): 64-bit SimHash as two 32-bit words
    (Charikar, STOC'02 random-hyperplane sketch; 64-bit fingerprints per
    Manku/Jain/Sarma, WWW'07).

    The 32-bit ``simhash`` uses one md5 hex digit's parity per bit; the
    industry-standard 64-bit fingerprint needs two bits per digit, so
    bit b here = bit (b // 32) of hex digit (b % 32) — bits 0-31 are
    exactly the classic parity construction, bits 32-63 the digits'
    second bit. Two words instead of one packed long keeps every
    arithmetic step inside exact double/BIGINT range on BOTH engines
    (packing bit 63 would overflow a signed long / lose double mantissa
    precision), so the operator stays oracle-checkable.
    """
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("w"),
    ).withColumn("h", F.md5("w"))
    digit = (
        F.instr(F.lit("0123456789abcdef"), F.substring("h", F.col("bit") % 32 + 1, 1))
        - 1
    )
    bitval = F.when(F.col("bit") < 32, digit % 2).otherwise((digit / 2).cast("int") % 2)
    bits = words.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("bit"),
        "h",
    ).withColumn("vote", F.when(bitval == 1, 1).otherwise(-1))
    votes = bits.groupBy("doc_id", "bit").agg(F.sum("vote").alias("v"))
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when((F.col("v") > 0) & (F.col("bit") >= 32),
                   F.pow(F.lit(2.0), F.col("bit") - 32)).otherwise(0.0)
        ).cast("long").alias("sim_hi"),
        F.sum(
            F.when((F.col("v") > 0) & (F.col("bit") < 32),
                   F.pow(F.lit(2.0), F.col("bit"))).otherwise(0.0)
        ).cast("long").alias("sim_lo"),
    )


def simhash_near_pairs_wide(docs: DataFrame, n_bands: int = 8,
                            max_hamming: int = 7, id_col: str = "doc_id",
                            text_col: str = "text",
                            max_bucket: int | None = None,
                            vectorized: bool = False,
                            observation=None) -> DataFrame:
    """64-bit variant of ``simhash_near_pairs``: pigeonhole banding over
    the (sim_hi, sim_lo) fingerprint (the block-permutation trick of
    Manku/Jain/Sarma, WWW'07), recall 1.0 for Hamming distance ≤
    n_bands-1, exact ``bit_count(xor)`` verify per word. Bands must not
    straddle the word boundary (32 % (64/n_bands) == 0).
    ``vectorized=True`` computes fingerprints via ``simhash_wide_np``
    (identical output, no tokens×64 explode).

    ``max_bucket`` defaults OFF here, unlike ``minhash_lsh_pairs``: a
    SimHash band has only 2^(64/n_bands) possible values (256 at the
    default n_bands=8), so bucket sizes grow ~N/keyspace with corpus
    size — a fixed cap would eventually drop EVERY bucket and silently
    void the pigeonhole recall contract. Capping is still right for
    true exact-dup clusters (identical fingerprints): run
    ``dedup_exact``/``dedup_pipeline`` first, or set the cap explicitly
    with an ``observation`` so drops are counted."""
    bpb = 64 // n_bands
    if n_bands * bpb != 64:
        raise ValueError("n_bands must divide 64")
    if 32 % bpb != 0:
        raise ValueError("bands must not straddle the 32-bit word boundary")
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole recall bound "
            f"n_bands-1={n_bands - 1}; raise n_bands or lower max_hamming"
        )
    fp = (simhash_wide_np if vectorized else simhash_wide)(docs, id_col, text_col)
    mask = (1 << bpb) - 1
    band_vals = F.array(
        *[
            F.shiftright(
                F.col("sim_lo" if (b * bpb) < 32 else "sim_hi"), (b * bpb) % 32
            ).bitwiseAND(F.lit(mask))
            for b in range(n_bands)
        ]
    )
    banded = fp.select(
        "doc_id", "sim_hi", "sim_lo",
        F.posexplode(band_vals).alias("band_id", "band"),
    )
    buckets = (
        banded.groupBy("band_id", "band")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "sim_hi", "sim_lo"))
            ).alias("ids")
        )
        .filter(F.size("ids") >= 2)
    )
    buckets = _cap_buckets(buckets, max_bucket, observation)
    ham = (
        F.bit_count(F.col("p.doc_a.sim_hi").bitwiseXOR(F.col("p.doc_b.sim_hi")))
        + F.bit_count(F.col("p.doc_a.sim_lo").bitwiseXOR(F.col("p.doc_b.sim_lo")))
    )
    pairs = (
        buckets.select(F.explode(_bucket_pairs(F.col("ids"))).alias("p"))
        .select(
            F.col("p.doc_a.doc_id").alias("doc_a"),
            F.col("p.doc_b.doc_id").alias("doc_b"),
            ham.cast("long").alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def simhash_near_pairs(docs: DataFrame, n_bits: int = 16, n_bands: int = 4,
                       max_hamming: int = 3, id_col: str = "doc_id",
                       text_col: str = "text",
                       max_bucket: int | None = None,
                       observation=None) -> DataFrame:
    """-> (doc_a, doc_b, hamming): SimHash pairs with fingerprint
    Hamming distance ≤ max_hamming.

    Pigeonhole banding: the n_bits fingerprint splits into n_bands
    equal bit slices; two fingerprints within Hamming distance
    n_bands-1 MUST agree on at least one slice, so bucketing by
    (band_id, band_bits) has recall 1.0 for max_hamming ≤ n_bands-1 —
    candidates then verify the true distance with bit_count(xor).
    Same single-pass bucket expansion as minhash_lsh_pairs (fingerprint
    computed once, no self-join). ``max_bucket`` defaults OFF: band
    values span only 2^(n_bits/n_bands) possibilities (16 at the
    defaults), so bucket size grows ~N/keyspace — a fixed cap would
    drop every bucket past moderate corpus sizes and silently break the
    pigeonhole recall contract. Set it explicitly (with an
    ``observation`` so drops are counted) only when targeting true
    exact-dup clusters — or better, exact-dedup first.

    Sizing rule (corpus size N, target expected bucket size B): per-band
    keyspace is 2^(n_bits/n_bands), so E[bucket] ≈ N / 2^(n_bits/n_bands)
    on a near-uniform fingerprint distribution — choose

        n_bands ≤ n_bits / log2(N / B)

    e.g. B=10^4 at N=10^6 needs ≥7 bits/band (16-bit/2-band ok);
    N=10^9 needs ≥17 bits/band (64-bit, ≤3 bands); N=10^12 needs ≥27
    bits/band (64-bit, 2 bands — and max_hamming ≤ 1, so exact-dedup
    and shard first, or move to MinHash banding whose md5 keyspace
    doesn't bound recall this way). The estimate assumes uniformity;
    pass an ``observation`` and read ``max_bucket_size`` /
    ``p99_bucket_size`` after the first action to check it — max >> p99
    means fingerprint mass is concentrating (templated/boilerplate
    corpus) and the band width must grow regardless of the formula.
    """
    bpb = n_bits // n_bands
    if n_bands * bpb != n_bits:
        raise ValueError("n_bands must divide n_bits")
    if max_hamming > n_bands - 1:
        # beyond n_bands-1 the pigeonhole guarantee breaks: a pair at
        # distance in (n_bands-1, max_hamming] can differ in EVERY band
        # and is silently missed — the return contract would lie.
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole recall bound "
            f"n_bands-1={n_bands - 1}; raise n_bands or lower max_hamming"
        )
    fp = simhash(docs, n_bits, id_col, text_col)
    mask = (1 << bpb) - 1
    band_vals = F.array(
        *[
            F.shiftright(F.col("simhash"), b * bpb).bitwiseAND(F.lit(mask))
            for b in range(n_bands)
        ]
    )
    banded = fp.select(
        "doc_id", "simhash", F.posexplode(band_vals).alias("band_id", "band")
    )
    buckets = (
        banded.groupBy("band_id", "band")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "simhash"))).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    buckets = _cap_buckets(buckets, max_bucket, observation)
    pairs = (
        buckets.select(F.explode(_bucket_pairs(F.col("ids"))).alias("p"))
        .select(
            F.col("p.doc_a.doc_id").alias("doc_a"),
            F.col("p.doc_b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("p.doc_a.simhash").bitwiseXOR(F.col("p.doc_b.simhash"))
            )
            .cast("long")
            .alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.1,
                        id_col: str = "doc_id", text_col: str = "text",
                        max_df: int | None = 10_000,
                        observation=None) -> DataFrame:
    """-> (doc_a, doc_b, jac): word-n-gram Jaccard ≥ threshold.

    Scalable formulation: pairs come from the shingle inverted index
    (one aggregation chain — no self-join, so the shingle explode runs
    ONCE; see _bucket_pairs), and disjoint documents never meet.
    ``max_df`` caps hot shingles — a shingle appearing in more than
    max_df documents is dropped from the index before pair expansion
    (it contributes O(df²) candidate pairs but almost no Jaccard
    discrimination, and it bounds the per-bucket id array). Default ON
    (``None`` = explicit opt-out; drops counted via ``observation`` —
    see ``minhash_lsh_pairs``); the capped Jaccard is an under-estimate, so it can only
    lose borderline pairs, never invent them. Sizes are computed on the
    UNCAPPED shingle sets so reported jac stays a true lower bound of
    the real value.
    """
    # set sizes ride along as a PROJECTION (size of the distinct-shingle
    # array) and through the bucket structs — no second aggregation over
    # the exploded shingles and no post-hoc size joins: the whole
    # operator is one linear aggregation chain.
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        word_shingles(F.col(text_col), n).alias("_sh"),
    )
    sh = base.select(
        "doc_id", F.size("_sh").alias("n_sh"), F.explode("_sh").alias("s")
    )
    buckets = (
        sh.groupBy("s")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n_sh"))).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    buckets = _cap_buckets(buckets, max_df, observation)
    inter = (
        buckets.select(F.explode(_bucket_pairs(F.col("ids"))).alias("p"))
        .groupBy(
            F.col("p.doc_a.doc_id").alias("doc_a"),
            F.col("p.doc_a.n_sh").alias("n_a"),
            F.col("p.doc_b.doc_id").alias("doc_b"),
            F.col("p.doc_b.n_sh").alias("n_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    raw_jac = (
        F.col("n_inter")
        / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
    )
    # filter on the RAW ratio, round only for output: the oracle
    # thresholds unrounded, and a pair at jac ∈ [threshold−5e-7,
    # threshold) would round up across the cut and diverge
    return (
        inter.filter(raw_jac >= threshold)
        .select("doc_a", "doc_b", F.round(raw_jac, 6).alias("jac"))
    )


def line_dedup(docs: DataFrame, min_df: int = 3,
               id_col: str = "doc_id", text_col: str = "text",
               max_hot_lines: int = 1_000_000,
               strategy: str = "auto",
               inrow_hot_limit: int = 2_000,
               keep: tuple = (),
               broadcast_hot_limit: int = 4_000_000) -> DataFrame:
    """Corpus-level line deduplication (CCNet/C4-family boilerplate
    removal): any non-empty line whose EXACT text appears in at least
    ``min_df`` DISTINCT documents is removed from EVERY document —
    headers, footers, cookie banners, navigation chrome. Empty lines
    are structural and never counted or removed.

    -> (doc_id, text, n_dropped): ``text`` with hot lines removed
    (remaining lines re-joined with newline, order preserved),
    ``n_dropped`` = lines removed from that document.

    The hot-line set is found with one DISTINCT (doc, line) pass + a
    map-side-combinable count, materialized once (eager
    localCheckpoint, same guard-then-broadcast pattern as
    ``decontaminate``) — its size ``n_hot`` then picks the membership
    ``strategy`` (results are identical; parity is pytest-pinned):

    - ``'inrow'``: the hot set rides as ONE broadcast array and each
      document filters its split-lines array in place. Zero corpus
      shuffle, pure Catalyst — but membership is ``array_contains``,
      an O(n_hot) scan PER LINE, so auto only picks it while
      ``n_hot <= inrow_hot_limit``. (Sublinear in-row membership has
      no builtin: ``bloom_filter_agg``/``might_contain`` are not in
      the public FunctionRegistry — verified on this Spark — and
      Catalyst map lookup is itself a linear probe.)
    - ``'hashset'``: the hot set ships as a Python frozenset inside an
      Arrow-batched pandas UDF — O(1) hash probe per line, still zero
      corpus shuffle. Driver/closure memory is bounded by
      ``max_hot_lines``; auto picks it for
      ``inrow_hot_limit < n_hot <= max_hot_lines``.
    - ``'relational'``: posexplode lines -> hash join against the hot
      set (O(1) JVM-side probe, no Python) -> order-preserving
      reassembly. The ONLY strategy that shuffles the corpus (one
      groupBy by doc id), and the only one with NO bound on the hot
      set: the join carries an ``F.broadcast`` hint while
      ``n_hot <= broadcast_hot_limit`` (row-count proxy for the
      broadcast budget) and plans WITHOUT the hint past it — AQE picks
      shuffle-hash/sort-merge, costing one extra exchange on the line
      key but surviving hot sets of any size. Auto falls back to this
      leg past ``max_hot_lines`` with a ``RuntimeWarning`` (the plan
      gains a corpus shuffle — loud, not silent), so
      ``strategy='auto'`` never raises.

    ``max_hot_lines`` raises only when a broadcast-held strategy
    ('inrow'/'hashset') is EXPLICITLY forced past its budget.

    ``keep``: passenger columns carried through unchanged (between
    ``doc_id`` and ``text`` in the output) — what lets a composed
    curation job run boilerplate removal without a join-back to
    recover its strata/metadata columns.
    """
    # tuple ONCE before anything consumes it: a one-shot iterable
    # passed as keep= must survive both validation and the legs
    keep = tuple(keep)
    _validate_line_dedup_args(strategy, keep)
    hot = (
        _line_df(docs, id_col, text_col)
        .filter(F.col("_df") >= min_df)
        .select("_line")
        .localCheckpoint(eager=True)
    )
    return _line_dedup_apply(
        docs, hot, strategy=strategy, id_col=id_col, text_col=text_col,
        max_hot_lines=max_hot_lines, inrow_hot_limit=inrow_hot_limit,
        keep=keep, broadcast_hot_limit=broadcast_hot_limit,
    )


def _line_df(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """-> (_line, _df): per-line DISTINCT-document frequencies — the
    counting definition shared by batch ``line_dedup`` and
    ``streaming.stream.stream_line_dedup`` (which writes these as
    per-batch partials), so what counts as a "hot line" cannot drift
    between the two faces. The projection emits only its two aliased
    columns, so the internal names stay literal."""
    lines = F.split(F.col(text_col), "\n")
    return (
        docs.select(
            F.col(id_col).alias("_d"),
            F.explode(lines).alias("_line"),
        )
        .filter(F.col("_line") != "")
        .distinct()
        .groupBy("_line")
        .agg(F.count("*").alias("_df"))
    )


def _validate_line_dedup_args(strategy: str, keep: tuple) -> None:
    if strategy not in ("auto", "inrow", "hashset", "relational"):
        raise ValueError(f"unknown line_dedup strategy {strategy!r}")
    reserved = {"doc_id", "text", "n_dropped"}
    if bad := [k for k in keep if k in reserved]:
        raise ValueError(
            f"keep columns {bad} collide with line_dedup's fixed output "
            "names (doc_id, text, n_dropped) — rename them first"
        )


def _line_dedup_apply(docs: DataFrame, hot: DataFrame, *, strategy: str,
                      id_col: str, text_col: str, max_hot_lines: int,
                      inrow_hot_limit: int, keep: tuple,
                      broadcast_hot_limit: int = 4_000_000) -> DataFrame:
    """Membership/rewrite stage of :func:`line_dedup` against an
    EXTERNALLY supplied hot-line frame (one column ``_line``, already
    materialized small) — shared by the batch operator and
    ``streaming.stream.stream_line_dedup`` so the two faces cannot
    drift."""
    _validate_line_dedup_args(strategy, keep)
    keep = tuple(keep)
    lines = F.split(F.col(text_col), "\n")
    # collision-proof working names (same suffix discipline as
    # similarity.unit_vectors's _nrm): ONE suffix clears EVERY leg's
    # internal name against the caller's columns — passenger columns
    # named _line/_s/_pos/... must work on every strategy, not crash
    # only once auto dispatches off the in-row leg at scale
    _work = ("_hot", "_s", "_rid", "_pos", "_line", "_lines", "_is_hot")
    sfx = ""
    cols = set(docs.columns)
    while any(n + sfx in cols for n in _work):
        sfx += "_"
    hot_col = "_hot" + sfx
    n_hot = hot.count()
    if strategy == "auto":
        # inrow must respect BOTH caps: inrow_hot_limit is the
        # per-line-scan-cost bound, max_hot_lines the caller's
        # broadcast/driver budget — a max_hot_lines below the inrow
        # limit must still keep auto off the broadcast-held legs
        if n_hot <= min(inrow_hot_limit, max_hot_lines):
            strategy = "inrow"
        elif n_hot <= max_hot_lines:
            strategy = "hashset"
        else:
            # loud, not silent: callers sized for the zero-shuffle legs
            # must notice the plan now carries a corpus shuffle instead
            # of discovering it in runtime cost (ADVICE r6)
            warnings.warn(
                f"line_dedup: {n_hot} distinct hot lines exceed "
                f"max_hot_lines ({max_hot_lines}); auto is dispatching "
                "to strategy='relational', which shuffles the corpus "
                "(one groupBy per document) — raise min_df or "
                "max_hot_lines to stay on a zero-shuffle leg",
                RuntimeWarning,
                stacklevel=3,
            )
            strategy = "relational"
    elif strategy != "relational" and n_hot > max_hot_lines:
        raise ValueError(
            f"{n_hot} distinct hot lines exceed max_hot_lines "
            f"({max_hot_lines}) for strategy={strategy!r}, which holds "
            "the whole hot set in one broadcast/closure — raise "
            "min_df, raise max_hot_lines explicitly, or use "
            "strategy='relational' (hash join, no cap)"
        )

    if strategy == "relational":
        return _line_dedup_relational(
            docs, hot, lines, id_col, keep, sfx,
            broadcast_hot=n_hot <= broadcast_hot_limit,
        )

    if strategy == "hashset":
        hot_set = frozenset(r[0] for r in hot.collect())

        @F.pandas_udf("struct<text:string,n_dropped:bigint>")
        def drop_hot(texts: pd.Series) -> pd.DataFrame:
            from ..functions.worker import pin_worker_threads

            pin_worker_threads()
            out_t, out_n = [], []
            for t in texts:
                if t is None:
                    out_t.append(None)
                    out_n.append(None)
                    continue
                ls = t.split("\n")
                kept = [x for x in ls if x == "" or x not in hot_set]
                out_t.append("\n".join(kept))
                out_n.append(len(ls) - len(kept))
            return pd.DataFrame({"text": out_t, "n_dropped": out_n})

        struct = drop_hot(F.col(text_col))
        s_col = "_s" + sfx
        return docs.select(
            F.col(id_col).alias("doc_id"), *keep, struct.alias(s_col)
        ).select(
            "doc_id",
            *keep,
            F.col(s_col + ".text").alias("text"),
            F.col(s_col + ".n_dropped").alias("n_dropped"),
        )

    hot_row = hot.agg(
        F.coalesce(
            F.collect_list("_line"), F.array().cast("array<string>")
        ).alias(hot_col)
    )
    kept = F.filter(
        lines,
        lambda x: (x == "") | ~F.array_contains(F.col(hot_col), x),
    )
    return (
        docs.crossJoin(F.broadcast(hot_row))
        .select(
            F.col(id_col).alias("doc_id"),
            *keep,
            F.array_join(kept, "\n").alias("text"),
            (F.size(lines) - F.size(kept)).cast("long").alias("n_dropped"),
        )
    )


def line_dedup_rewrite(docs: DataFrame, min_df: int,
                       id_col: str = "doc_id", text_col: str = "text",
                       **kw):
    """Boilerplate-removal STAGE for composed jobs (curate and the
    run_dataprep CLI share this — one copy of the sequence): returns
    ``(rewritten, ld)`` where ``rewritten`` has the caller's column
    layout (``text_col`` rewritten, passenger columns untouched) and
    ``ld`` is the raw line_dedup frame (doc_id/…/text/n_dropped) for
    drop metrics. Both read ONE lazy-checkpoint materialization, so a
    metric aggregation plus the downstream pipeline cost a single
    execution of the rewrite. NOTE: calling this (like ``line_dedup``)
    runs the hot-set discovery pass eagerly."""
    passengers = [c for c in docs.columns if c not in (id_col, text_col)]
    ld = line_dedup(
        docs, min_df=min_df, id_col=id_col, text_col=text_col,
        keep=tuple(passengers), **kw,
    ).localCheckpoint(eager=False)
    # POSITIONAL layout restored too, not just by-name: a source laid
    # out (doc_id, text, lang) must come back (doc_id, text, lang), so
    # downstream writers keep the caller's column order
    rewritten = ld.select(*[
        F.col("doc_id").alias(id_col) if c == id_col
        else F.col("text").alias(text_col) if c == text_col
        else F.col(c)
        for c in docs.columns
    ])
    return rewritten, ld


def _line_dedup_relational(docs: DataFrame, hot: DataFrame, lines,
                           id_col: str, keep: tuple = (),
                           sfx: str = "", broadcast_hot: bool = True
                           ) -> DataFrame:
    """Unbounded-hot-set leg of :func:`line_dedup`: explode -> hash
    join against the hot set (O(1) probe per line) -> order-preserving
    reassembly. posexplode_outer + an aggregation over ALL exploded
    rows (kept lines collected conditionally) keeps every document —
    including ones whose every line is hot — without a join back to
    the source. Reassembly groups on a per-ROW id, not ``id_col``, so
    duplicate (or NULL) doc ids keep their per-row multiplicity exactly
    like the in-row legs; a NULL text (NULL split array -> the one
    NULL-pos exploded row) round-trips to (NULL, NULL), also matching
    them.

    ``broadcast_hot``: while the hot set fits the broadcast budget the
    join carries an explicit ``F.broadcast`` hint (zero-shuffle probe).
    Past ``broadcast_hot_limit`` the caller turns the hint OFF and the
    join plans without it — AQE picks shuffle-hash/sort-merge, the
    exploded side pays one extra exchange on the line key on top of the
    reassembly groupBy it already pays, and the leg is genuinely
    unbounded in |hot| instead of silently re-imposing the broadcast
    cap it exists to escape (VERDICT r6).

    Stage-retry caveat: the per-row grouping key is
    ``monotonically_increasing_id``, a nondeterministic stamp. Spark
    marks the stage INDETERMINATE (SPARK-23207 family) and on a
    fetch-failure retry rolls back and re-runs the whole stage rather
    than mixing old and new stamps; correctness rides on that rollback
    machinery, not on the stamp itself. A fully deterministic key would
    need a within-duplicate disambiguator — i.e. a pre-shuffle of the
    corpus keyed by full row content — which would double the leg's
    corpus shuffles for a failure mode Spark already handles."""
    # per-row grouping key: values are consumed and dropped inside this
    # one plan, so layout-dependence is irrelevant. MUST be stamped in
    # its own projection BELOW the explode — in the same select as
    # posexplode_outer the nondeterministic id is evaluated per
    # EXPLODED row (one group per line); CollapseProject never merges
    # nondeterministic projections, so this stays an input-row stamp.
    rid, pos, line = "_rid" + sfx, "_pos" + sfx, "_line" + sfx
    lines_col, is_hot = "_lines" + sfx, "_is_hot" + sfx
    stamped = docs.select(
        F.monotonically_increasing_id().alias(rid),
        F.col(id_col).alias("doc_id"),
        *keep,
        lines.alias(lines_col),
    )
    exploded = stamped.select(
        rid,
        "doc_id",
        *keep,
        F.posexplode_outer(F.col(lines_col)).alias(pos, line),
    )
    keep_line = (F.col(line) == "") | F.col(is_hot).isNull()
    was_null = F.max(F.col(pos).isNull())
    hot_side = hot.withColumnRenamed("_line", line).withColumn(
        is_hot, F.lit(True)
    )
    if broadcast_hot:
        hot_side = F.broadcast(hot_side)
    return (
        exploded.join(
            hot_side,
            on=line,
            how="left",
        )
        .groupBy(rid)
        .agg(
            F.first("doc_id").alias("doc_id"),
            *[F.first(k).alias(k) for k in keep],
            F.when(
                ~was_null,
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(keep_line, F.struct(pos, line))
                            )
                        ),
                        lambda s: s[line],
                    ),
                    "\n",
                ),
            ).alias("text"),
            F.when(
                ~was_null, F.sum(F.when(keep_line, 0).otherwise(1))
            ).cast("long").alias("n_dropped"),
        )
        .select("doc_id", *keep, "text", "n_dropped")
    )
