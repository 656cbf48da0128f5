"""The benchmark's workloads.

Each workload builds its inputs from the workload seed, calls the engine's
public functions through their modules (so the traced run's wrappers see
every call), and checks each operation's output against reference.py.

- batch:         one cold batch job in a fresh session: curate the corpus
                 (minhash LSH pairs + simhash fingerprints over documents,
                 cosine top-k over embeddings), then `api.fit_index_pipeline`
                 on the seed's train split.
- online_score:  one closed-loop client; each request is 1,000 test-split
                 rows, pandas -> createDataFrame -> index_score -> toPandas,
                 against an index built once from pinned bin specs.

`Fit` and `Curate` are the two halves of `batch`; they are not run alone.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from inferdb_spark import api, catalog
from inferdb_spark.operators import binning, dedup, index as index_mod, metrics, scoring, similarity

import data
import reference as ref
from reference import CheckFailed

HERE = os.path.dirname(os.path.abspath(__file__))

FEATURES = ["l_quantity", "l_discount", "l_tax", "pk97", "l_linenumber", "sk50"]
# the seeded split: bucket = ((l_orderkey * A + (seed mod P) * B) mod P) mod 100,
# computed identically in Spark and numpy (exact in int64 for keys below 2^31)
HASH_A, HASH_B, HASH_P = 2_654_435_761, 40_503, 4_294_967_291
SCORE_TRAIN_BUCKETS = 80  # pinned index: buckets < 80 train, the rest test
FIT_TRAIN_BUCKETS, FIT_TEST_BUCKETS = 16, 20  # fit: < 16 train, 16..19 test

# the pinned regression index on l_extendedprice: 6 features x 8 bins
PINNED_SPLITS = {
    "l_quantity": [7.0, 13.0, 19.0, 25.0, 32.0, 38.0, 44.0],
    "l_discount": [0.01, 0.02, 0.04, 0.05, 0.06, 0.08, 0.09],
    "l_tax": [0.01, 0.02, 0.03, 0.04, 0.05, 0.06, 0.07],
    "pk97": [12.0, 24.0, 36.0, 48.0, 60.0, 72.0, 84.0],
    "l_linenumber": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0],
    "sk50": [6.0, 12.0, 18.0, 25.0, 31.0, 37.0, 43.0],
}
REQUEST_ROWS = 1_000
MINHASH = dict(n_hashes=32, bands=4, hash_fn="xxhash64")
TOPK = 20


def split_bucket_sql(seed: int):
    return F.pmod(F.col("l_orderkey") * F.lit(HASH_A) + F.lit(seed % HASH_P * HASH_B), F.lit(HASH_P)) % 100


def split_bucket(orderkey: np.ndarray, seed: int) -> np.ndarray:
    return ((orderkey.astype(np.int64) * HASH_A + seed % HASH_P * HASH_B) % HASH_P) % 100


def feature_frame(df):
    """Spark side: the six features, the regression and class targets."""
    return df.select(
        "row_id",
        "l_orderkey",
        "l_quantity",
        "l_discount",
        "l_tax",
        (F.col("l_partkey") % 97).alias("pk97"),
        "l_linenumber",
        (F.col("l_suppkey") % 50).alias("sk50"),
        "l_extendedprice",
        (F.col("l_returnflag") == "R").cast("int").alias("returned"),
    )


def feature_pandas(table) -> pd.DataFrame:
    """Reference side: the same columns from the generated table (NaN = NULL)."""
    t = table.to_pandas()
    return pd.DataFrame(
        {
            "row_id": t["row_id"],
            "l_orderkey": t["l_orderkey"],
            "l_quantity": t["l_quantity"],
            "l_discount": t["l_discount"],
            "l_tax": t["l_tax"].astype(np.float64),
            "pk97": t["l_partkey"] % 97,
            "l_linenumber": t["l_linenumber"],
            "sk50": t["l_suppkey"] % 50,
            "l_extendedprice": t["l_extendedprice"],
            "returned": (t["l_returnflag"] == "R").astype(np.int64),
        }
    )


class Workload:
    name = ""
    warmup_ops = 1  # untimed operations before measuring (counted in setup_s)
    max_timed_ops: int | None = None  # None: as many as --seconds allows

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int, tracer):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.tracer = tracer

    def load(self, name: str, cache: bool = True):
        """catalog.load_table, cached and materialised unless `cache` is off."""
        with self.tracer.span("catalog.load"):
            df = catalog.load_table(self.spark, self.data_dir, name)
            if cache:
                df = df.cache()
                df.count()
        return df

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int):
        """One operation; returns its output for `check`."""
        raise NotImplementedError

    def check(self, output) -> None:
        """Untimed: raise CheckFailed if `output` differs from the reference."""

    def verify(self) -> None:
        """A last checked operation after the timed ones, for workloads whose
        timed output cannot be checked in place."""

    def describe(self) -> dict:
        return {}


class OnlineScore(Workload):
    """The pinned index is built once in set-up from the seed's train split
    and checked against the pandas rebuild; requests are test-split rows in
    a seeded order."""

    name = "online_score"
    # request latency halves over the first 10-15 requests of a session
    # (JIT and code generation) and still drifts down for ten more
    warmup_ops = 25
    schema = (
        "row_id long, l_quantity double, l_discount double, l_tax double, "
        "pk97 long, l_linenumber int, sk50 long"
    )

    def setup(self) -> None:
        rows = feature_frame(self.load("lineitem", cache=False))
        train = rows.filter(split_bucket_sql(self.seed) < SCORE_TRAIN_BUCKETS)
        specs = [binning.BinSpec(column=c, splits=s) for c, s in PINNED_SPLITS.items()]
        self.index = index_mod.build_index(train, specs, "l_extendedprice", task="regression")
        with self.tracer.span("index.cache"):
            self.index.kv.cache().count()
            for prefix in self.index.prefix_aggs.values():
                prefix.cache().count()

        self.tables = ref.IndexTables.collect(self.index)
        pdf = feature_pandas(data.read_table(self.data_dir, "lineitem"))
        is_train = split_bucket(pdf["l_orderkey"].to_numpy(), self.seed) < SCORE_TRAIN_BUCKETS
        ref.check_index(
            self.tables, ref.rebuild_index(pdf[is_train], self.tables.specs, "l_extendedprice", "regression")
        )
        test = pdf.loc[~is_train, ["row_id", *FEATURES]]
        test = test.iloc[np.random.default_rng(self.seed).permutation(len(test))]
        self.requests = [
            test.iloc[i : i + REQUEST_ROWS] for i in range(0, len(test) - REQUEST_ROWS + 1, REQUEST_ROWS)
        ]
        pred, exact = ref.trie_predict(self.tables, test)
        self.expected = pd.Series(pred, index=test["row_id"].to_numpy())
        self.exact_share = float(exact.mean())
        self.rows_per_op = REQUEST_ROWS
        self.tracer.note("index.kv_rows", len(self.tables.kv))
        self.tracer.note("index.prefix_rows", self.tables.prefix_rows())
        self.tracer.note("scoring.exact_hit_share", self.exact_share)

    def op(self, i: int):
        request = self.requests[i % len(self.requests)]
        with self.tracer.span("ingest.create"):
            df = self.spark.createDataFrame(request, self.schema)
        scored = scoring.index_score(df, self.index)
        with self.tracer.span("scoring.exec"):
            return request, scored.toPandas()

    def check(self, output) -> None:
        request, out = output
        if sorted(out["row_id"]) != sorted(request["row_id"]):
            raise CheckFailed(f"request returned {len(out)} rows, not the {len(request)} sent")
        ref.check_predictions(out["row_id"].to_numpy(), out["prediction"].to_numpy(), self.expected)

    def describe(self) -> dict:
        return {
            "rows_per_op": self.rows_per_op,
            "distinct_requests": len(self.requests),
            "index_depth": self.tables.depth,
            "index.kv_rows": len(self.tables.kv),
            "index.prefix_rows": self.tables.prefix_rows(),
            "filling_degree": round(self.tables.filling_degree(), 4),
            "scoring.exact_hit_share": round(self.exact_share, 4),
        }


class Fit(Workload):
    """The index-fitting half of `batch`."""

    def setup(self) -> None:
        rows = feature_frame(self.load("lineitem", cache=False))
        bucket = split_bucket_sql(self.seed)
        with self.tracer.span("catalog.load"):
            self.train = rows.filter(bucket < FIT_TRAIN_BUCKETS).cache()
            self.test = rows.filter((bucket >= FIT_TRAIN_BUCKETS) & (bucket < FIT_TEST_BUCKETS)).cache()
            self.rows_per_op = self.train.count()
            self.test.count()
        pdf = feature_pandas(data.read_table(self.data_dir, "lineitem"))
        b = split_bucket(pdf["l_orderkey"].to_numpy(), self.seed)
        self.train_pdf = pdf[b < FIT_TRAIN_BUCKETS]
        self.test_pdf = pdf[(b >= FIT_TRAIN_BUCKETS) & (b < FIT_TEST_BUCKETS)]
        self.pipe = None
        self.tables = None
        self.verified: dict = {}

    def op(self, i: int):
        if self.pipe is not None:  # release the previous fit's cached index
            self.pipe.index.kv.unpersist()
            for prefix in self.pipe.index.prefix_aggs.values():
                prefix.unpersist()
        self.pipe = api.fit_index_pipeline(self.train, FEATURES, "returned", task="classification")
        return self.pipe

    def check(self, output) -> None:
        self.tables = ref.IndexTables.collect(output.index)
        ref.check_index(
            self.tables, ref.rebuild_index(self.train_pdf, self.tables.specs, "returned", "classification")
        )

    def verify(self) -> None:
        """Score the held-out split with the last fit: every prediction must
        match the trie, the engine's F1 must match numpy's."""
        scored = self.pipe.score(self.test).withColumn("label", F.col("returned"))
        f1 = float(metrics.binary_classification_report(scored).first()["f1"])
        out = scored.select("row_id", "prediction").toPandas()
        pred, exact = ref.trie_predict(self.tables, self.test_pdf)
        expected = pd.Series(pred, index=self.test_pdf["row_id"].to_numpy())
        ref.check_predictions(out["row_id"].to_numpy(), out["prediction"].to_numpy(), expected)
        ref.check_close("F1", f1, ref.f1_score(pred, self.test_pdf["returned"].to_numpy()))
        path = os.path.join(self.work_dir, "fitted-index")
        saved = index_mod.save_index(self.pipe.index, path)["bytes"]
        shutil.rmtree(path, ignore_errors=True)
        self.verified = {
            "scoring.exact_hit_share": round(float(exact.mean()), 4),
            "fit_f1": round(f1, 4),
            "index_bytes": saved,
        }
        self.tracer.note("metrics.fit_f1", f1)
        self.tracer.note("index.saved_bytes", saved)
        self.tracer.note("index.kv_rows", len(self.tables.kv))
        self.tracer.note("index.prefix_rows", self.tables.prefix_rows())
        self.tracer.note("iv.kept_share", self.tables.depth / len(FEATURES))
        self.tracer.note("scoring.exact_hit_share", exact.mean())

    def describe(self) -> dict:
        facts = {"rows_per_op": self.rows_per_op, "test_rows": len(self.test_pdf)}
        if self.tables is not None:
            facts.update(
                {
                    "index_depth": self.tables.depth,
                    "index.kv_rows": len(self.tables.kv),
                    "filling_degree": round(self.tables.filling_degree(), 4),
                }
            )
        return {**facts, **self.verified}


class Curate(Workload):
    """The corpus-curating half of `batch`."""

    def setup(self) -> None:
        self.docs = self.load("documents")
        self.emb = self.load("embeddings")
        emb = data.read_table(self.data_dir, "embeddings").to_pandas()
        self.emb_ids = emb["vec_id"].to_numpy()
        self.emb_matrix = np.stack(emb["embedding"].to_numpy())
        rng = np.random.default_rng(self.seed)
        anchor = self.emb_matrix[rng.integers(len(self.emb_matrix))].astype(np.float64)
        self.query = (anchor + rng.normal(0.0, 0.02, anchor.shape)).tolist()
        self.rows_per_op = data.read_table(self.data_dir, "documents").num_rows
        with open(os.path.join(HERE, "fingerprints.json")) as f:
            self.expected = json.load(f)[f"data-v{data.DATA_VERSION}"]

    def op(self, i: int):
        with self.tracer.span("dedup.minhash"):
            pairs = dedup.minhash_lsh_pairs(self.docs, "doc_id", "text", **MINHASH).collect()
        with self.tracer.span("dedup.simhash"):
            fps = self.docs.select("doc_id", F.expr(dedup.simhash_sql("text")).alias("fp")).collect()
        with self.tracer.span("similarity.topk"):
            top = similarity.cosine_topk(self.emb, "embedding", self.query, k=TOPK).collect()
        return pairs, fps, top

    def check(self, output) -> None:
        pairs, fps, top = output
        if ref.fingerprint(pairs) != self.expected["minhash_pairs_sha256"]:
            raise CheckFailed(f"minhash pair set differs ({len(pairs)} pairs)")
        if ref.fingerprint(fps) != self.expected["simhash_sha256"]:
            raise CheckFailed("simhash fingerprints differ")
        ref.cosine_topk_check(
            [(r["vec_id"], r["cosine"]) for r in top], self.emb_ids, self.emb_matrix, np.array(self.query), TOPK
        )
        self.tracer.note("dedup.minhash_pairs", len(pairs))

    def describe(self) -> dict:
        return {
            "rows_per_op": self.rows_per_op,
            "embeddings": len(self.emb_ids),
            "minhash_pairs": self.expected["minhash_pairs"],
            "topk": TOPK,
        }


class Batch(Workload):
    """No warm-up: a batch job pays a fresh session's JIT and code
    generation every time it runs, so the one timed operation is the
    session's first.  Curating first, then fitting, is one operation."""

    name = "batch"
    warmup_ops = 0
    max_timed_ops = 1

    def __init__(self, *args):
        super().__init__(*args)
        self.curate = Curate(*args)
        self.fit = Fit(*args)

    def setup(self) -> None:
        self.curate.setup()
        self.fit.setup()

    def op(self, i: int):
        return self.curate.op(i), self.fit.op(i)

    def check(self, output) -> None:
        self.curate.check(output[0])
        self.fit.check(output[1])

    def verify(self) -> None:
        self.fit.verify()

    def describe(self) -> dict:
        curate = {f"curate.{k}": v for k, v in self.curate.describe().items()}
        return {**self.fit.describe(), **curate}


WORKLOADS = {w.name: w for w in (Batch, OnlineScore)}
