"""Output checks of the benchmark. They take plain rows (lists of dicts,
as ``pyarrow.Table.to_pylist`` gives them), run outside every timed
window, and return ``(name, ok, detail)`` tuples; a failed check counts as
a failed operation."""

from __future__ import annotations

import hashlib
import json
import os

from gen import MONEY, truth_facts

MIN_PR = 0.95
RECOGNIZED = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "recognized_pairs.json")


def rows_digest(rows, key) -> str:
    """Order-independent digest of rows; floats are rounded to 9
    significant digits so a change in summation order does not count as
    a different output."""
    h = hashlib.md5()
    for r in sorted(rows, key=lambda r: tuple(str(r[k]) for k in key)):
        h.update(repr(tuple(
            (k, f"{v:.9g}" if isinstance(v, float) else v)
            for k, v in sorted(r.items())
        )).encode("utf-8"))
    return h.hexdigest()


def fact_scores(fused_rows, mentions):
    """Triple precision and recall of fused facts against the planted
    mentions. A fact is (subj, pred, key of its canonical text); a key
    produced twice (an entity the linker failed to merge) counts once as
    correct and then as wrong."""
    truth, clusters = truth_facts(mentions)
    seen, correct = set(), 0
    for r in fused_rows:
        text = r["canonical_text"]
        if text in MONEY:
            key = f"v:{MONEY[text]}"
        else:
            rep = clusters.get(r["pred"], {}).get(text)
            key = None if rep is None else f"j:{rep}"
        fact = (r["subj"], r["pred"], key)
        if fact in truth and fact not in seen:
            correct += 1
        seen.add(fact)
    precision = correct / len(fused_rows) if fused_rows else 0.0
    recall = correct / len(truth) if truth else 0.0
    return precision, recall


def recognized_pairs() -> set:
    """The (predicate, surface) pairs, out of every pair the generator can
    plant, that the package's stand-in encoder scores above 0.5 when each
    is scored on its own, frozen in RECOGNIZED. Its probabilities hash
    the pair, so it is blind to some surfaces in every context. The list
    is data, not a call into the program, so a scorer that loses a pair
    fails the recall check instead of shrinking the truth; a test checks
    the list against the encoder."""
    with open(RECOGNIZED, encoding="utf-8") as fh:
        return {(p, s) for p, surfaces in json.load(fh).items() for s in surfaces}


def expected_mentions(mentions):
    """The planted mentions the pipeline must find wherever they sit."""
    kept = recognized_pairs()
    return [m for m in mentions if (m[1], m[2]) in kept]


def check_kg(vertex_rows, fused_rows, mentions):
    """-> (checks, diagnostics) for a knowledge graph built from
    ``mentions``, the mentions the extractor is expected to find."""
    precision, recall = fact_scores(fused_rows, mentions)
    vertex_ids = {r["entity_id"] for r in vertex_rows}
    n_vertex = sum(r["n_mentions"] for r in vertex_rows)
    checks = [
        ("triple_precision", precision >= MIN_PR, f"{precision:.4f} >= {MIN_PR}"),
        ("triple_recall", recall >= MIN_PR, f"{recall:.4f} >= {MIN_PR}"),
        ("fused_entities_have_vertices",
         all(r["entity_id"] in vertex_ids for r in fused_rows),
         f"{len(fused_rows)} facts over {len(vertex_ids)} vertices"),
        ("mentions_conserved",
         n_vertex == sum(r["n_mentions"] for r in fused_rows)
         and n_vertex >= MIN_PR * len(mentions),
         f"{n_vertex} in vertices and facts, {len(mentions)} expected"),
    ]
    return checks, {"triple_precision": precision, "triple_recall": recall}


def check_curate(survivor_rows, truth):
    """Planted duplicates, contaminated and low-quality documents are gone,
    no planted PII string survives, and most clean documents do."""
    ids = {r["doc_id"] for r in survivor_rows}
    checks = []
    for name in ("exact_dup", "near_dup", "contaminated", "low_quality"):
        left = ids & set(truth[name])
        checks.append((f"{name}_removed", not left,
                       f"{len(left)} of {len(truth[name])} left"))
    leaked = [s for s in truth["pii"]
              if any(s in r["text"] for r in survivor_rows)]
    checks.append(("pii_scrubbed", not leaked, f"{len(leaked)} leaked"))
    kept = len(ids & set(truth["clean"])) / len(truth["clean"])
    checks.append(("clean_docs_kept", kept >= 0.85, f"{kept:.3f} >= 0.85"))
    return checks


def check_same_kg(got_v, got_f, want_v, want_f):
    """The streaming snapshot equals the batch graph over the same edges
    (the contract the streaming parity test pins)."""
    def index(rows, key):
        return {tuple(r[k] for k in key): r for r in rows}

    gv, wv = index(got_v, ("entity_id",)), index(want_v, ("entity_id",))
    v_ok = gv.keys() == wv.keys() and all(
        (gv[k]["canonical_text"], gv[k]["type"], gv[k]["n_mentions"])
        == (w["canonical_text"], w["type"], w["n_mentions"])
        for k, w in wv.items()
    )
    fkey = ("subj", "pred", "entity_id")
    gf, wf = index(got_f, fkey), index(want_f, fkey)
    f_ok = gf.keys() == wf.keys() and all(
        abs(gf[k]["fused_prob"] - w["fused_prob"]) < 1e-9
        and all(gf[k][c] == w[c] for c in (
            "n_mentions", "n_docs", "max_prob", "first_doc", "canonical_text"))
        for k, w in wf.items()
    )
    return [
        ("stream_vertices_equal_batch", v_ok, f"{len(gv)} vs {len(wv)} vertices"),
        ("stream_fused_equal_batch", f_ok, f"{len(gf)} vs {len(wf)} facts"),
    ]
