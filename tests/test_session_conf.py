"""One conf owner: ``session.get_spark`` sets the engine's session confs,
and operators never set or unset them — a session conf changed mid-run
is session-global and leaks into any query another thread plans on the
same session."""

import os
import re

import pytest
from pyspark.sql.conf import RuntimeConfig

from information_extraction_for_chinese_nlp_spark.operators.components import (
    connected_components,
    merge_components,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "information_extraction_for_chinese_nlp_spark")
SCRIPTS = os.path.join(REPO, "scripts")

WATCHED = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize",
)

EDGES = [
    ("a", "b"), ("b", "c"), ("c", "a"),
    ("d", "e"), ("e", "f"),
    ("x", "y"), ("y", "z"),
]


def _cc_hinted(spark):
    return connected_components(
        spark.createDataFrame(EDGES, "src string, dst string")
    )


def _cc_unhinted(spark):
    return connected_components(
        spark.createDataFrame(EDGES, "src string, dst string"),
        broadcast_label_limit=0,
    )


def _merge_distributed(spark):
    prev = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("d", "d"), ("e", "d")],
        "node string, component string",
    )
    new = spark.createDataFrame(
        [("b", "e"), ("x", "y")], "src string, dst string"
    )
    return merge_components(prev, new, local_fold_threshold=None)


@pytest.mark.parametrize(
    "run", [_cc_hinted, _cc_unhinted, _merge_distributed],
    ids=["cc_broadcast_hint", "cc_no_broadcast", "merge_distributed"],
)
def test_operators_never_touch_session_conf(spark, monkeypatch, run):
    calls = []
    real_set, real_unset = RuntimeConfig.set, RuntimeConfig.unset

    def spy_set(self, key, value):
        calls.append(("set", key, value))
        return real_set(self, key, value)

    def spy_unset(self, key):
        calls.append(("unset", key))
        return real_unset(self, key)

    before = {k: spark.conf.get(k, None) for k in WATCHED}
    monkeypatch.setattr(RuntimeConfig, "set", spy_set)
    monkeypatch.setattr(RuntimeConfig, "unset", spy_unset)
    rows = run(spark).collect()
    monkeypatch.undo()

    assert rows
    assert calls == []
    assert {k: spark.conf.get(k, None) for k in WATCHED} == before


def test_loop_partitions_derived_from_edge_count(spark):
    """|sym| = 14 rows, far under the per-partition row constant: the
    labels come back in one partition while the session keeps 8."""
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) > 1
    labels = _cc_hinted(spark)
    assert labels.rdd.getNumPartitions() == 1
    assert labels.count() == 9


def _py_sources(root):
    for dirpath, _, files in os.walk(root):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    yield os.path.relpath(path, REPO), f.read()


def test_no_session_conf_writes_outside_get_spark():
    conf_write = re.compile(r"conf\.(set|unset)\(|scoped_conf")
    offenders = [
        path for path, src in _py_sources(PACKAGE) if conf_write.search(src)
    ]
    assert offenders == []
    builders = [
        path for path, src in _py_sources(SCRIPTS)
        if "SparkSession.builder" in src
    ]
    assert builders == []
