"""Tests of the benchmark's reference checker (reference.py).

    python3 -m pytest perfbench/tests -q

The first group needs only numpy/pandas.  The second runs the engine on a
~6,000-row line-item table (the sf0.001 size) and requires the checker to
agree with it, and to reject a corrupted answer.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]

import data  # noqa: E402
import reference as ref  # noqa: E402
import workloads  # noqa: E402

SPECS = [ref.Spec("a", [1.0, 2.0]), ref.Spec("b", [10.0], null_bin=1)]


def test_bins_follow_binspec_semantics():
    pdf = pd.DataFrame({"a": [0.5, 1.0, 1.5, 2.0, 3.0, np.nan], "b": [5.0, 10.0, 11.0, np.nan, 0.0, 20.0]})
    bins = ref.bin_matrix(pdf, SPECS)
    # bin = #{s : x > s}; NULL -> null_bin
    assert bins[:, 0].tolist() == [0, 0, 1, 1, 2, 0]
    assert bins[:, 1].tolist() == [0, 0, 1, 1, 0, 1]


def test_trie_tries_exact_then_longest_prefix_then_global():
    tables = ref.IndexTables(SPECS, kv={"0.0": 1.0, "2.1": 5.0}, prefix={1: {"0": 7.0, "1": 8.0}}, global_value=9.0)
    pdf = pd.DataFrame({"a": [0.0, 0.0, 1.5, 3.0, 3.0], "b": [0.0, 20.0, 0.0, 20.0, 0.0]})
    pred, exact = ref.trie_predict(tables, pdf)
    assert pred.tolist() == [1.0, 7.0, 8.0, 5.0, 9.0]
    assert exact.tolist() == [True, False, False, True, False]


def test_classification_rebuild_breaks_ties_to_lowest_class():
    train = pd.DataFrame({"a": [0.0, 0.0, 1.5, 1.5, 1.5], "b": [0.0] * 5, "y": [1, 0, 1, 1, 0]})
    tables = ref.rebuild_index(train, SPECS, "y", "classification")
    assert tables.kv == {"0.0": 0.0, "1.0": 1.0}
    assert tables.prefix == {1: {"0": 0.0, "1": 1.0}}
    assert tables.global_value == 0.0  # one key votes 0, one votes 1


def test_regression_prefix_is_unweighted_mean_over_keys():
    train = pd.DataFrame({"a": [0.0, 0.0, 0.0, 0.0], "b": [0.0, 0.0, 0.0, 20.0], "y": [1.0, 2.0, 3.0, 10.0]})
    tables = ref.rebuild_index(train, SPECS, "y", "regression")
    assert tables.kv == {"0.0": 2.0, "0.1": 10.0}
    assert tables.prefix == {1: {"0": 6.0}}
    assert tables.global_value == 6.0


def test_check_predictions_rejects_one_wrong_row():
    expected = pd.Series([1.0, 2.0, 3.0], index=[10, 11, 12])
    ref.check_predictions(np.array([12, 10, 11]), np.array([3.0, 1.0, 2.0]), expected)
    with pytest.raises(ref.CheckFailed):
        ref.check_predictions(np.array([12, 10, 11]), np.array([3.0, 1.0, 2.5]), expected)


def test_cosine_topk_check():
    rng = np.random.default_rng(0)
    m = rng.normal(size=(50, 8)).astype(np.float32)
    ids = np.arange(50) + 100
    q = rng.normal(size=8)
    sims = (m.astype(np.float64) @ q) / (np.linalg.norm(m.astype(np.float64), axis=1) * np.linalg.norm(q))
    ranked = [(int(ids[i]), float(sims[i])) for i in np.argsort(-sims)]
    ref.cosine_topk_check(ranked[:5], ids, m, q, 5)
    with pytest.raises(ref.CheckFailed):  # the 11th best in place of the 5th
        ref.cosine_topk_check(ranked[:4] + [ranked[10]], ids, m, q, 5)


# --------------------------------------------------------------------------
# against the engine, at sf0.001 size
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("spark"))
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_DRIVER_MEM", "1g")
        mp.setenv("SPARK_LOCAL_DIRS", tmp)
        from inferdb_spark.session import get_spark

        session = get_spark(
            app_name="perfbench-test",
            master="local[2]",
            extra_conf={"spark.ui.showConsoleProgress": "false", "spark.sql.warehouse.dir": tmp},
        )
        yield session
        session.stop()


@pytest.fixture(scope="module")
def lineitem(spark):
    table = data.lineitem_table(np.random.default_rng(7), n=6_000)
    pdf = workloads.feature_pandas(table)
    df = workloads.feature_frame(spark.createDataFrame(table.to_pandas()))
    return df, pdf


@pytest.mark.parametrize("task,target", [("regression", "l_extendedprice"), ("classification", "returned")])
def test_checker_agrees_with_engine_index(lineitem, task, target):
    from inferdb_spark.operators.binning import BinSpec
    from inferdb_spark.operators.index import build_index
    from inferdb_spark.operators.scoring import index_score

    df, pdf = lineitem
    is_train = workloads.split_bucket(pdf["l_orderkey"].to_numpy(), 5) < 80
    train = df.filter(workloads.split_bucket_sql(5) < 80)
    specs = [BinSpec(column=c, splits=s) for c, s in workloads.PINNED_SPLITS.items()]
    index = build_index(train, specs, target, task=task)
    tables = ref.IndexTables.collect(index)
    ref.check_index(tables, ref.rebuild_index(pdf[is_train], tables.specs, target, task))

    out = index_score(df.select("row_id", *workloads.FEATURES), index).toPandas()
    pred, exact = ref.trie_predict(tables, pdf)
    expected = pd.Series(pred, index=pdf["row_id"].to_numpy())
    ref.check_predictions(out["row_id"].to_numpy(), out["prediction"].to_numpy(), expected)
    assert 0.0 < exact.mean() < 1.0  # both the exact and the fallback paths ran

    corrupted = dict(tables.kv)
    key = next(iter(corrupted))
    corrupted[key] += 1.0
    with pytest.raises(ref.CheckFailed):
        ref.check_index(ref.IndexTables(tables.specs, corrupted, tables.prefix, tables.global_value), tables)


def test_checker_agrees_with_engine_topk(spark):
    from inferdb_spark.operators.similarity import cosine_topk

    table = data.embeddings_table(np.random.default_rng(3), n=300, dim=16)
    pdf = table.to_pandas()
    m = np.stack(pdf["embedding"].to_numpy())
    q = np.random.default_rng(4).normal(size=16)
    top = cosine_topk(spark.createDataFrame(pdf), "embedding", q.tolist(), k=10).collect()
    ref.cosine_topk_check([(r["vec_id"], r["cosine"]) for r in top], pdf["vec_id"].to_numpy(), m, q, 10)
