"""Tests of the benchmark itself: seeded inputs, the tail-percentile rule,
metric names, the event-log attribution, and that each output check
rejects a deliberately corrupted output.

    python -m pytest perfbench/tests -q

None of them starts Spark.
"""

import hashlib
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_same_seed_same_inputs():
    a, ma = gen.transcripts(5, 120)
    b, mb = gen.transcripts(5, 120)
    c, _ = gen.transcripts(6, 120)
    key = ("conv_id", "turn_idx")
    assert a.equals(b) and ma == mb
    assert checks.rows_digest(a.to_pylist(), key) == checks.rows_digest(b.to_pylist(), key)
    assert checks.rows_digest(a.to_pylist(), key) != checks.rows_digest(c.to_pylist(), key)

    d1, e1, t1 = gen.corpus(5, 400)
    d2, e2, t2 = gen.corpus(5, 400)
    d3, _, _ = gen.corpus(6, 400)
    assert d1.equals(d2) and e1.equals(e2) and t1 == t2
    assert checks.rows_digest(d1.to_pylist(), ("doc_id",)) != checks.rows_digest(
        d3.to_pylist(), ("doc_id",))


def test_transcript_shape():
    table, mentions = gen.transcripts(1, 300)
    turns = table.column("conv_id").to_pylist()
    # every 100th conversation is the 500-turn skew case
    assert turns.count("conv-00001-0000000") == 500
    assert turns.count("conv-00001-0000001") == 12
    share = len(mentions) / table.num_rows
    assert 0.38 < share < 0.48  # ~1/3 money + ~1/10 junk
    junk = sum(1 for m in mentions if m[2] in gen.JUNK) / table.num_rows
    assert 0.07 < junk < 0.13


def test_generator_surfaces_normalize_as_planted():
    from information_extraction_for_chinese_nlp_spark.functions.money import (
        normalize_money,
    )

    assert all(normalize_money(s) == "nan" for s in gen.JUNK)
    assert all(normalize_money(s) == str(v) for s, v in gen.MONEY.items())


def test_tail_percentile_rule():
    assert measure.tail_percentile(list(range(19))) is None
    assert measure.tail_percentile(list(range(20))) == (50, 9, 10)
    p, value, beyond = measure.tail_percentile([float(i) for i in range(100)])
    assert (p, beyond) == (90, 10) and value == 89.0
    p, _, beyond = measure.tail_percentile(list(range(1000)))
    assert (p, beyond) == (99, 10)
    p, _, beyond = measure.tail_percentile(list(range(10000)))
    assert (p, beyond) == (99.9, 10)
    # order of the samples does not matter
    assert measure.tail_percentile(list(range(99, -1, -1)))[1] == 89


def test_jit_threads_are_told_apart(tmp_path):
    assert measure.is_jit_thread("C2 CompilerThre")
    assert measure.is_jit_thread("C1 CompilerThre")
    for comm in ("GC Thread#0", "VM Thread", "Executor task l", "java"):
        assert not measure.is_jit_thread(comm)
    # a name with spaces and ')' still splits from the fields after it
    stat = tmp_path / "stat"
    stat.write_text("41 (a) b (c)) S 7 41 41 0 -1 0 0 0 0 0 120 30 5 1 20 0\n")
    comm, fields = measure._read_stat(str(stat))
    assert comm == "a) b (c)"
    assert fields[1] == "7" and fields[11:15] == ["120", "30", "5", "1"]
    assert measure._read_stat(str(tmp_path / "gone")) is None


def test_metric_names_and_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == dict(run.END_TO_END)
    assert layer == dict(run.PER_LAYER)
    assert len(run.PER_LAYER) == len(layer) <= 128
    for name, unit in list(e2e.items()) + list(layer.items()):
        assert NAME.match(name), name
        assert UNIT.match(unit), unit
    assert not set(e2e) & set(layer)


def test_event_log_attribution():
    sc = type("FakeContext", (), {"setJobGroup": lambda self, g, d: None})()
    spans = measure.Spans(sc)
    spans.spans = [("link", 1000.0, 2000.0, 0), ("counts", 1500.0, 1600.0, 1),
                   ("fusion", 3000.0, 4000.0, 0)]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1100,
         "Stage IDs": [0], "Properties": {}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1550,
         "Stage IDs": [1], "Properties": {}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 3500,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 9000,
         "Stage IDs": [3], "Properties": {}},
    ] + [
        {"Event": "SparkListenerTaskEnd", "Stage ID": s,
         "Task Info": {"Launch Time": 0, "Finish Time": 10 * (s + 1),
                       "Accumulables": [{"ID": 7, "Update": 5}]},
         "Task Metrics": {"Executor CPU Time": 2e9, "JVM GC Time": 500,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 1048576},
                          "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0}}
        for s in (0, 1, 2, 2, 3)
    ] + [{
        "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
        "sparkPlanInfo": {"nodeName": "Generate", "simpleString": "Generate explode(x)",
                          "metrics": [{"name": "number of output rows",
                                       "accumulatorId": 7}], "children": []},
    }]
    profile = measure.EventLog(events).profile(spans)
    assert set(profile) == {"link", "counts", "fusion"}
    assert profile["link"]["jobs"] == 1 and profile["link"]["tasks"] == 1
    assert profile["fusion"]["tasks"] == 2
    assert measure.counters(profile["fusion"])["executor_cpu_s"] == 4.0
    assert measure.counters(profile["fusion"])["shuffle_write_mb"] == 2.0
    assert measure.sql_sum(profile["fusion"], "number of output rows",
                           "Generate", "explode(") == 10.0
    # self time excludes the nested span
    assert spans.self_s("link") == pytest.approx(0.9)
    assert spans.self_s(exclude=("counts",)) == pytest.approx(1.9)


def perfect_kg(mentions):
    """The knowledge graph the checks expect for ``mentions``, built
    directly from the planted truth."""
    _, clusters = gen.truth_facts(mentions)
    text_of = {}
    for surface, value in sorted(gen.MONEY.items()):
        text_of.setdefault(f"v:{value}", surface)
    facts, vertices = {}, {}
    for conv, pred, surface in mentions:
        key = gen.surface_key(pred, surface, clusters)
        text = text_of.get(key) or key[2:]
        eid = hashlib.md5(f"{pred}#{key}".encode()).hexdigest()
        v = vertices.setdefault(eid, {"entity_id": eid, "canonical_text": text,
                                      "type": pred, "n_mentions": 0})
        v["n_mentions"] += 1
        f = facts.setdefault((conv, pred, eid), {
            "subj": conv, "pred": pred, "entity_id": eid, "canonical_text": text,
            "fused_prob": 0.9, "n_mentions": 0, "n_docs": 1, "max_prob": 0.9,
            "first_doc": conv})
        f["n_mentions"] += 1
    return list(vertices.values()), list(facts.values())


@pytest.fixture(scope="module")
def kg_case():
    _, mentions = gen.transcripts(3, 200)
    v, f = perfect_kg(mentions)
    return mentions, v, f


def failed(results):
    return {name for name, ok, _ in results if not ok}


def test_kg_checks_pass_on_the_perfect_graph(kg_case):
    mentions, v, f = kg_case
    results, diags = checks.check_kg(v, f, mentions)
    assert failed(results) == set()
    assert diags == {"triple_precision": 1.0, "triple_recall": 1.0}


def test_kg_checks_reject_corrupted_graphs(kg_case):
    mentions, v, f = kg_case
    assert "triple_recall" in failed(checks.check_kg(v, f[: len(f) // 2], mentions)[0])
    bogus = [dict(r, subj=r["subj"] + "x") for r in f[: len(f) // 5]]
    assert "triple_precision" in failed(checks.check_kg(v, f + bogus, mentions)[0])
    orphan = [dict(f[0], entity_id="missing")] + f[1:]
    assert "fused_entities_have_vertices" in failed(checks.check_kg(v, orphan, mentions)[0])
    lost = [dict(r, n_mentions=r["n_mentions"] - 1) for r in v]
    assert "mentions_conserved" in failed(checks.check_kg(lost, f, mentions)[0])


def test_kg_checks_reject_an_unmerged_junk_entity(kg_case):
    mentions, v, f = kg_case
    # a junk fact split over two surfaces of one cluster counts once
    junk = next(r for r in f if r["canonical_text"] not in gen.MONEY)
    _, clusters = gen.truth_facts(mentions)
    other = next(s for s, rep in clusters[junk["pred"]].items()
                 if rep == junk["canonical_text"] and s != rep)
    split = f + [dict(junk, entity_id="split", canonical_text=other)]
    p, r = checks.fact_scores(split, mentions)
    assert r == 1.0 and p == (len(f)) / len(split)


def test_recognized_pairs_match_the_stand_in_encoder():
    from information_extraction_for_chinese_nlp_spark.inference.scorer import (
        StubEncoder,
    )

    encoder = StubEncoder(gen.PREDICATES)
    found = set()
    for pred in gen.PREDICATES:
        for surface in set(gen.MONEY) | set(gen.JUNK):
            text = pred + surface
            if any(text[s:e] == surface and p > 0.5
                   for s, e, p in encoder.extract(text, pred)):
                found.add((pred, surface))
    assert checks.recognized_pairs() == found


def test_expected_mentions_drop_only_unrecognized_surfaces():
    _, mentions = gen.transcripts(2, 100)
    kept = checks.expected_mentions(mentions)
    assert 0 < len(kept) < len(mentions)
    pairs = checks.recognized_pairs()
    assert kept == [m for m in mentions if (m[1], m[2]) in pairs]


@pytest.fixture(scope="module")
def corpus_case():
    docs, _, truth = gen.corpus(4, 500)
    clean = [r for r in docs.to_pylist() if r["doc_id"] in set(truth["clean"])]
    for r in clean:
        for s in truth["pii"]:
            r["text"] = r["text"].replace(s, "<PII>")
    return docs.to_pylist(), clean, truth


def test_curate_checks_pass_on_clean_survivors(corpus_case):
    _, clean, truth = corpus_case
    assert failed(checks.check_curate(clean, truth)) == set()


@pytest.mark.parametrize("planted", ["exact_dup", "near_dup", "contaminated",
                                     "low_quality"])
def test_curate_checks_reject_a_planted_survivor(corpus_case, planted):
    docs, clean, truth = corpus_case
    extra = [r for r in docs if r["doc_id"] == truth[planted][0]]
    assert failed(checks.check_curate(clean + extra, truth)) == {f"{planted}_removed"}


def test_curate_checks_reject_leaks_and_losses(corpus_case):
    docs, clean, truth = corpus_case
    leak = [dict(clean[0], text=clean[0]["text"] + " " + truth["pii"][0])]
    assert failed(checks.check_curate(leak + clean[1:], truth)) == {"pii_scrubbed"}
    assert failed(checks.check_curate(clean[: len(clean) // 2], truth)) == {
        "clean_docs_kept"}


def test_planted_rows_are_what_they_claim(corpus_case):
    docs, _, truth = corpus_case
    by_id = {r["doc_id"]: r for r in docs}
    texts = [by_id[i]["text"] for i in range(min(truth["exact_dup"]))]
    assert all(by_id[i]["text"] in texts for i in truth["exact_dup"])
    assert all(any(t in by_id[i]["text"] for t in texts) for i in truth["near_dup"])
    assert all(s in " ".join(r["text"] for r in docs) for s in truth["pii"])


def test_stream_parity_check_rejects_a_changed_snapshot(kg_case):
    _, v, f = kg_case
    assert failed(checks.check_same_kg(v, f, v, f)) == set()
    bumped = [dict(f[0], fused_prob=f[0]["fused_prob"] + 1e-6)] + f[1:]
    assert failed(checks.check_same_kg(v, bumped, v, f)) == {"stream_fused_equal_batch"}
    assert failed(checks.check_same_kg(v[1:], f, v, f)) == {"stream_vertices_equal_batch"}


def test_rows_digest_is_order_free_and_value_sensitive(kg_case):
    _, v, _ = kg_case
    key = ("entity_id",)
    assert checks.rows_digest(v, key) == checks.rows_digest(v[::-1], key)
    changed = [dict(v[0], n_mentions=v[0]["n_mentions"] + 1)] + v[1:]
    assert checks.rows_digest(v, key) != checks.rows_digest(changed, key)
