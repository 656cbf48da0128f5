"""Index build + prefix-fallback scoring, checked against a pure-Python
re-implementation of the reference trie semantics (src/inference_trie.py:
60-98): exact key hit -> leaf value; miss -> aggregate over the values of
all keys under the deepest matching prefix; no match at all -> global."""

from collections import Counter

import pytest

from inferdb_spark.operators.binning import BinSpec
from inferdb_spark.operators.index import build_index, index_size_info
from inferdb_spark.operators.scoring import index_score, translate


def _python_trie_predict(groups: dict[str, list[float]], key: str, task: str, agg_mode: str = "keys"):
    """`groups` maps each stored key to its training targets.  Exact hit ->
    the key's own mean/majority; miss -> the deepest prefix shared with a
    stored key, aggregated over the values of the keys under it ("keys") or
    over their training rows ("rows"); the empty prefix is the global value."""

    def reduce(values: list[float]) -> float:
        if task == "regression":
            return sum(values) / len(values)
        c = Counter(values)
        return max(c.items(), key=lambda t: (t[1], -t[0]))[0]

    parts = key.split(".")
    for depth in range(len(parts), -1, -1):
        under = [ys for k, ys in groups.items() if k.split(".")[:depth] == parts[:depth]]
        if under:
            if agg_mode == "keys":
                under = [[reduce(ys)] for ys in under]
            return reduce([y for ys in under for y in ys])
    raise AssertionError("no stored keys")


def _mk_train(spark):
    rows = []
    for a in range(4):
        for b in range(3):
            if (a, b) == (3, 2):
                continue  # unseen combination -> fallback path in test
            for i in range(5):
                rows.append((float(a * 10 + 1), float(b * 100 + 1), float(a * 2 + b * 3 + i)))
    return spark.createDataFrame(rows, "x double, z double, y double")


SPECS = [
    BinSpec(column="x", splits=[5.0, 15.0, 25.0]),
    BinSpec(column="z", splits=[50.0, 150.0]),
]


def test_regression_index_matches_python_trie(spark):
    train = _mk_train(spark)
    idx = build_index(train, SPECS, "y", task="regression", agg_mode="keys")
    kv = {r.key: r.value for r in idx.kv.collect()}
    test = spark.createDataFrame(
        [(31.0, 201.0), (1.0, 1.0), (31.0, 999.0)], "x double, z double"
    )
    scored = {
        (r.x, r.z): r.prediction for r in index_score(test, idx).collect()
    }
    t = translate(test, idx).select("x", "z", "key").collect()
    for r in t:
        expected = _python_trie_predict({k: [v] for k, v in kv.items()}, r.key, "regression")
        assert abs(scored[(r.x, r.z)] - expected) < 1e-9, r.key


def test_classification_index_majority_and_tiebreak(spark):
    rows = []
    # key (0): classes 1,1,2 -> majority 1 ; key (1): tie 1/2 -> lowest=1
    for y in [1, 1, 2]:
        rows.append((1.0, float(y)))
    for y in [1, 2]:
        rows.append((10.0, float(y)))
    train = spark.createDataFrame(rows, "x double, y double")
    spec = [BinSpec(column="x", splits=[5.0])]
    idx = build_index(train, spec, "y", task="classification")
    kv = {r.key: r.value for r in idx.kv.collect()}
    assert kv == {"0": 1.0, "1": 1.0}


def test_unseen_key_falls_back_to_prefix_then_global(spark):
    train = _mk_train(spark)
    idx = build_index(train, SPECS, "y", task="regression", agg_mode="keys")
    # (3,2) unseen -> prefix '3' exists -> avg of kv values under '3'
    test = spark.createDataFrame([(31.0, 201.0)], "x double, z double")
    pred = index_score(test, idx).first().prediction
    kv = {r.key: r.value for r in idx.kv.collect()}
    under3 = [v for k, v in kv.items() if k.startswith("3.")]
    assert abs(pred - sum(under3) / len(under3)) < 1e-9


def test_index_size_info(spark):
    train = _mk_train(spark)
    idx = build_index(train, SPECS, "y", task="regression")
    info = index_size_info(idx, spark)
    assert info["possible_paths"] == 4 * 3
    assert info["stored_paths"] == 11  # one combination held out
    assert 0 < info["filling_degree"] < 1


def test_index_score_plan_is_broadcast_only(spark):
    """Scale check: the scoring plan must contain no sort-merge join — every
    probe is a broadcast hash join so the big side streams map-only."""
    train = _mk_train(spark)
    idx = build_index(train, SPECS, "y", task="regression")
    test = spark.createDataFrame([(31.0, 201.0)], "x double, z double")
    plan = index_score(test, idx)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize("agg_mode", ["keys", "rows"])
@pytest.mark.parametrize("task", ["regression", "classification"])
def test_index_score_matches_python_trie(spark, task, agg_mode):
    """Every fallback level, both tasks, both aggregation modes.  Keys hold
    unequal row counts so "keys" and "rows" give different prefix and
    global values; (2, 2) is never stored (prefix fallback) and x bin 3
    never occurs (global fallback)."""
    xs, zs = [1.0, 11.0, 21.0, 31.0], [1.0, 101.0, 201.0]
    rows = []
    for a in range(3):
        for b in range(3):
            if (a, b) == (2, 2):
                continue
            for i in range(1 + (a * 3 + b) % 4):
                y = a * 2.0 + b * 3.0 + i * 0.5 if task == "regression" else float((a + i) % 3)
                rows.append((xs[a], zs[b], y))
    train = spark.createDataFrame(rows, "x double, z double, y double")
    groups: dict[str, list[float]] = {}
    for x, z, y in rows:
        groups.setdefault(f"{xs.index(x)}.{zs.index(z)}", []).append(y)

    idx = build_index(train, SPECS, "y", task=task, agg_mode=agg_mode)
    test = spark.createDataFrame([(x, z) for x in xs for z in zs], "x double, z double")
    scored = index_score(test, idx).collect()
    assert len(scored) == len(xs) * len(zs)
    for r in scored:
        key = f"{xs.index(r.x)}.{zs.index(r.z)}"
        expected = _python_trie_predict(groups, key, task, agg_mode)
        assert abs(r.prediction - expected) < 1e-9, (key, r.prediction, expected)


def test_build_index_leaves_no_cached_relation_behind(spark):
    """Unpersisting the returned kv and prefix relations must return the
    session to the cached relations it held before the build: the per-key
    stats the build caches for its rollups are released by the build."""
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    train = _mk_train(spark)
    before = len(persisted())
    idx = build_index(train, SPECS, "y", task="regression")
    idx.kv.unpersist()
    for pa in idx.prefix_aggs.values():
        pa.unpersist()
    assert len(persisted()) <= before
