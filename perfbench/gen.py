"""Seeded input generators for the benchmark, with the planted truth the
output checks need.

Everything here is pure Python driven by ``random.Random``: the same seed
gives byte-identical tables on any machine, and generation needs no Spark
session, so the program under test sees only the materialized parquet
files. Nothing in this module reads a file.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

import pyarrow as pa

# The program's prompt schema (ENTITY_TYPES); restated so the generator
# does not import the package it feeds.
PREDICATES = ["精神慰撫金額", "醫療費用", "薪資收入"]

_FILLER = [
    "原告起訴主張被告應賠償其損失",
    "被告答辯稱其行為並無過失",
    "本院依職權調查相關證據",
    "兩造就事故經過均無爭執",
    "證人到庭結證屬實",
    "經核閱診斷證明書所載內容",
    "爰依侵權行為法律關係請求",
    "查 原告所受傷勢尚屬輕微",
    "次按\\n不法侵害他人之身體者",
    "審酌兩造之身分地位及經濟狀況",
]

# money surface -> the value it must normalize to; several spellings
# per value so canonicalization has value merges to do
MONEY = {
    "98,532元": 98532, "98532元": 98532, "九萬八千五百三十二元": 98532,
    "1,680元": 1680, "一千六百八十元": 1680,
    "八萬元": 80000, "80,000元": 80000,
    "三千500元": 3500, "3,500元": 3500,
    "一萬五千元": 15000, "15000元": 15000,
    "六百二十五元": 625, "2,954元": 2954, "五萬三千元": 53000,
    "10000元": 10000, "一萬元": 10000, "七百元": 700,
}

_UNITS = "十百千萬億"
# CJK-numeral surfaces the money normalizer cannot parse ("nan"): runs of
# repeated unit characters. They reach the similarity linker, whose
# bigram-Jaccard clusters are the truth for them (see junk_clusters).
JUNK = sorted(
    [u * k + "元" for u in _UNITS for k in (2, 3, 4)]
    + [a * 2 + b * j + "元" for a in _UNITS for b in _UNITS if a != b
       for j in (2, 3)]
    + [a * 2 + b * 2 + c * j + "元" for a in _UNITS for b in _UNITS
       for c in _UNITS if a != b and b != c for j in (2, 3)]
)

# conversation lengths: every LONG_EVERY-th conversation is the skew case
SHORT_TURNS, LONG_EVERY, LONG_TURNS = 12, 100, 500
# build_kg's link_threshold default: the bigram Jaccard at which the
# linker merges two surfaces
LINK_THRESHOLD = 0.6
# eval documents the corpus is decontaminated against
N_EVAL = 40

_ROLES = ["user", "assistant", "tool"]
_EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def _bigrams(s: str) -> frozenset:
    return frozenset(s[i:i + 2] for i in range(len(s) - 1))


def junk_clusters(surfaces) -> dict:
    """surface -> cluster representative: connected components of the
    exact all-pairs bigram-Jaccard >= LINK_THRESHOLD graph. An independent
    reference for what the linker plus connected components must merge."""
    items = sorted(set(surfaces))
    parent = {s: s for s in items}

    def find(s):
        while parent[s] != s:
            parent[s] = parent[parent[s]]
            s = parent[s]
        return s

    grams = {s: _bigrams(s) for s in items}
    for i, a in enumerate(items):
        for b in items[i + 1:]:
            ga, gb = grams[a], grams[b]
            if len(ga & gb) >= LINK_THRESHOLD * len(ga | gb):
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    return {s: find(s) for s in items}


def transcripts(seed: int, n_convs: int):
    """-> (table, mentions). Every LONG_EVERY-th conversation has
    LONG_TURNS turns (the skew case), the others SHORT_TURNS. About one turn in 3 carries a
    money mention and one in 10 a junk CJK-numeral mention, each written
    as ``<predicate><surface>``; ``mentions`` lists the planted
    (conv_id, pred, surface) triples in turn order."""
    rng = random.Random(seed)
    cols = {name: [] for name in TRANSCRIPT_SCHEMA.names}
    mentions = []
    money = sorted(MONEY)
    for c in range(n_convs):
        conv = f"conv-{seed:05d}-{c:07d}"
        n_turns = LONG_TURNS if c % LONG_EVERY == 0 else SHORT_TURNS
        for t in range(n_turns):
            r = rng.random()
            if r < 1 / 3:
                pred, surface = rng.choice(PREDICATES), rng.choice(money)
            elif r < 1 / 3 + 1 / 10:
                pred, surface = rng.choice(PREDICATES), rng.choice(JUNK)
            else:
                pred = surface = ""
            if surface:
                mentions.append((conv, pred, surface))
            role = rng.choice(_ROLES)
            cols["conv_id"].append(conv)
            cols["turn_idx"].append(t)
            cols["role"].append(role)
            cols["text"].append(
                rng.choice(_FILLER) + "\n" + pred + surface + " "
                + rng.choice(_FILLER) + "　"
            )
            cols["tool"].append(f"tool_{rng.randrange(5)}" if role == "tool" else None)
            cols["ts"].append(_EPOCH + timedelta(seconds=c * 3600 + t * 7))
    return pa.table(cols, schema=TRANSCRIPT_SCHEMA), mentions


def truth_facts(mentions) -> tuple:
    """-> (facts, clusters): the planted (subj, pred, key) facts, where a
    money surface's key is its value and a junk surface's key is its
    linker cluster within its predicate (``clusters``: pred -> surface ->
    representative)."""
    by_pred: dict = {}
    for _, pred, surface in mentions:
        if surface in JUNK:
            by_pred.setdefault(pred, set()).add(surface)
    clusters = {p: junk_clusters(s) for p, s in by_pred.items()}
    return {(conv, pred, surface_key(pred, surface, clusters))
            for conv, pred, surface in mentions}, clusters


def surface_key(pred: str, surface: str, clusters: dict):
    if surface in MONEY:
        return f"v:{MONEY[surface]}"
    rep = clusters.get(pred, {}).get(surface)
    return None if rep is None else f"j:{rep}"


# Word vocabularies far larger than any document: MinHash in the dedup
# layer compares DISTINCT-token sets, so a small shared vocabulary would
# make every pair of documents a near duplicate.
_SYLLABLES = [c + v for c in "bdfghklmnprstvz" for v in "aeiou"]
_HAN = [chr(0x4E00 + 37 * i) for i in range(200)]


def _word(rng, lang):
    if lang == "en":
        return "".join(rng.choice(_SYLLABLES) for _ in range(3))
    return rng.choice(_HAN) + rng.choice(_HAN)


CORPUS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])


def corpus(seed: int, n_docs: int):
    """-> (docs, eval_docs, truth). ``n_docs`` clean documents in the
    shape of the sf0.1 ``documents`` table (word vocabulary, mixed
    lengths, lang and source columns), then planted rows with ids above
    every clean id: exact copies, near copies (one word appended to a
    long document), documents carrying a 10-word run of an eval
    document, punctuation junk below the quality bar, and PII strings
    inside clean documents."""
    rng = random.Random(seed)

    def words(lang, n):
        return " ".join(_word(rng, lang) for _ in range(n))

    rows = []
    for i in range(n_docs):
        lang = "en" if rng.random() < 0.6 else "zh"
        rows.append([i, words(lang, rng.randint(30, 120)), lang, f"src{i % 5}"])
    eval_rows = [[i, words("en", 60), "en", "eval"] for i in range(N_EVAL)]

    ids = list(range(n_docs))
    rng.shuffle(ids)
    k = max(1, n_docs // 50)
    contaminated, pii_docs, rest = ids[:k], ids[k:2 * k], ids[2 * k:]
    for i in contaminated:
        src = rng.choice(eval_rows)[1].split(" ")
        at = rng.randrange(len(src) - 10)
        toks = rows[i][1].split(" ")
        pos = rng.randrange(len(toks))
        rows[i][1] = " ".join(toks[:pos] + src[at:at + 10] + toks[pos:])
    pii = []
    for j, i in enumerate(pii_docs):
        s = (f"user{seed}x{j}@example.com" if j % 2 == 0
             else f"+886 9{rng.randrange(10**7, 10**8)}")
        pii.append(s)
        rows[i][1] = rows[i][1] + " contact " + s

    next_id = n_docs
    planted = {"exact_dup": [], "near_dup": [], "low_quality": []}
    long_docs = [i for i in rest if len(rows[i][1].split(" ")) >= 60]
    for i in rest[: 2 * k]:
        planted["exact_dup"].append(next_id)
        rows.append([next_id, rows[i][1], rows[i][2], rows[i][3]])
        next_id += 1
    for i in long_docs[-2 * k:]:
        planted["near_dup"].append(next_id)
        extra = _word(rng, rows[i][2])
        rows.append([next_id, rows[i][1] + " " + extra, rows[i][2], rows[i][3]])
        next_id += 1
    for _ in range(k):
        planted["low_quality"].append(next_id)
        junk = " ".join(rng.choice(["!!!", "???", "###", "...", "$$"])
                        for _ in range(rng.randint(3, 8)))
        rows.append([next_id, junk, "en", "src9"])
        next_id += 1

    def table(rs):
        return pa.table(
            {"doc_id": [r[0] for r in rs], "text": [r[1] for r in rs],
             "lang": [r[2] for r in rs], "source": [r[3] for r in rs],
             "n_chars": [len(r[1]) for r in rs]},
            schema=CORPUS_SCHEMA,
        )

    removed = set(contaminated) | {i for v in planted.values() for i in v}
    truth = {
        "contaminated": sorted(contaminated),
        **{name: sorted(v) for name, v in planted.items()},
        "pii": pii,
        "clean": sorted(set(range(n_docs)) - removed),
    }
    return table(rows), table(eval_rows), truth
