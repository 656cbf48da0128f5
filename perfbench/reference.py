"""Independent reference checks for the benchmark's outputs.

Nothing here calls the engine: every check recomputes the expected
answer with numpy/pandas from the generated inputs (or from the index
relations the engine built, collected to the driver) and compares.

- `IndexTables` + `trie_predict`: the kv / prefix / global lookup the
  engine's `index_score` must reproduce.  A row's bin is
  `searchsorted(splits, x, side="left")` (= #{s : x > s}); a NULL goes to
  `null_bin`.  The exact key is tried first, then prefixes from longest to
  shortest, then the global value.
- `rebuild_index`: a pandas groupby rebuild of what `build_index` stores
  (regression: per-key means and unweighted prefix means over keys;
  classification: per-key majority and majority over key values, ties to
  the lowest class).
- `cosine_topk_check`: numpy brute-force cosine top-k.
- `fingerprint`: order-free digest of a row set (minhash pairs, simhash
  fingerprints), compared against the values recorded in
  fingerprints.json.

Input frames use NaN for NULL: the generated tables hold no real NaN, and
Spark maps NaN to NULL when it ingests a pandas frame through Arrow.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

REL_TOL = 1e-9


class CheckFailed(AssertionError):
    """An engine output differs from the reference."""


@dataclass
class Spec:
    """Plain copy of a numeric BinSpec (column, splits, null_bin)."""

    column: str
    splits: list[float]
    null_bin: int = 0

    @property
    def n_bins(self) -> int:
        return len(self.splits) + 1

    @classmethod
    def of(cls, bin_spec) -> "Spec":
        if bin_spec.kind != "numeric":
            raise ValueError(f"reference handles numeric specs only: {bin_spec}")
        return cls(bin_spec.column, [float(s) for s in bin_spec.splits], bin_spec.null_bin)


def bin_matrix(pdf: pd.DataFrame, specs: list[Spec]) -> np.ndarray:
    """(rows, len(specs)) int64 bin ids."""
    out = np.empty((len(pdf), len(specs)), dtype=np.int64)
    for j, s in enumerate(specs):
        x = pdf[s.column].to_numpy(dtype=np.float64)
        b = np.searchsorted(np.asarray(s.splits, dtype=np.float64), x, side="left")
        b[np.isnan(x)] = s.null_bin
        out[:, j] = b
    return out


def _codes(bins: np.ndarray, radix: list[int]) -> np.ndarray:
    """Mixed-radix integer code of each row of `bins` (one digit per column)."""
    code = np.zeros(len(bins), dtype=np.int64)
    for j, r in enumerate(radix):
        code = code * r + bins[:, j]
    return code


def _parse_keys(keys: list[str], width: int) -> np.ndarray:
    if not keys:
        return np.empty((0, width), dtype=np.int64)
    return np.array([k.split(".") for k in keys], dtype=np.int64).reshape(len(keys), width)


@dataclass
class IndexTables:
    """An index as plain driver-side tables: key strings -> value."""

    specs: list[Spec]
    kv: dict[str, float]
    prefix: dict[int, dict[str, float]]  # L -> prefix string -> value
    global_value: float

    @classmethod
    def collect(cls, index) -> "IndexTables":
        """Collect a KVIndex's relations (the engine's stored values)."""
        def as_dict(df, key: str) -> dict[str, float]:
            pdf = df.toPandas()
            values = pdf["value"].astype(object).where(pdf["value"].notna(), None)
            return dict(zip(pdf[key], values))

        kv = as_dict(index.kv, "key")
        prefix = {L: as_dict(df, f"prefix_{L}") for L, df in index.prefix_aggs.items()}
        return cls([Spec.of(s) for s in index.specs], kv, prefix, float(index.global_value))

    @property
    def depth(self) -> int:
        return len(self.specs)

    def prefix_rows(self) -> int:
        return sum(len(p) for p in self.prefix.values())

    def filling_degree(self) -> float:
        possible = int(np.prod([s.n_bins for s in self.specs]))
        return len(self.kv) / possible


def _lookup(table: dict[str, float], bins: np.ndarray, radix: list[int]):
    """(found mask, values) for each row's code in `table`; a NULL stored
    value counts as not found, as it does in the engine's coalesce."""
    keys = [k for k, v in table.items() if v is not None]
    if not keys:
        return np.zeros(len(bins), dtype=bool), np.full(len(bins), np.nan)
    codes = _codes(_parse_keys(keys, bins.shape[1]), radix)
    vals = np.array([table[k] for k in keys], dtype=np.float64)
    order = np.argsort(codes)
    codes, vals = codes[order], vals[order]
    want = _codes(bins, radix)
    pos = np.minimum(np.searchsorted(codes, want), len(codes) - 1)
    found = codes[pos] == want
    return found, np.where(found, vals[pos], np.nan)


def trie_predict(tables: IndexTables, pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(predictions, exact-hit mask) for every row of `pdf`."""
    bins = bin_matrix(pdf, tables.specs)
    radix = [s.n_bins for s in tables.specs]
    pred = np.full(len(pdf), tables.global_value, dtype=np.float64)
    for L in range(1, tables.depth):  # shortest first; longer prefixes overwrite
        found, vals = _lookup(tables.prefix.get(L, {}), bins[:, :L], radix[:L])
        pred[found] = vals[found]
    exact, vals = _lookup(tables.kv, bins, radix)
    pred[exact] = vals[exact]
    return pred, exact


def _majority(df: pd.DataFrame, group_cols: list[str], value: str, count: str) -> pd.DataFrame:
    """Per group, the value with the largest count; ties go to the lowest value."""
    ordered = df.sort_values(group_cols + [count, value], ascending=[True] * len(group_cols) + [False, True])
    return ordered.drop_duplicates(group_cols, keep="first")[group_cols + [value]]


def rebuild_index(train: pd.DataFrame, specs: list[Spec], target: str, task: str) -> IndexTables:
    """pandas rebuild of `build_index(..., agg_mode="keys")`."""
    bins = bin_matrix(train, specs)
    cols = [f"b{j}" for j in range(len(specs))]
    enc = pd.DataFrame(bins, columns=cols)
    y = train[target].to_numpy(dtype=np.float64)

    def key_of(frame: pd.DataFrame, use: list[str]) -> list[str]:
        key = frame[use[0]].astype(str)
        for c in use[1:]:
            key = key + "." + frame[c].astype(str)
        return key.tolist()

    if task == "regression":
        enc["y"] = y
        per_key = enc.groupby(cols, as_index=False)["y"].mean()
        kv = dict(zip(key_of(per_key, cols), per_key["y"]))
        prefix = {}
        for L in range(1, len(specs)):
            agg = per_key.groupby(cols[:L], as_index=False)["y"].mean()
            prefix[L] = dict(zip(key_of(agg, cols[:L]), agg["y"]))
        global_value = float(per_key["y"].mean())
    elif task == "classification":
        enc["y"] = y.astype(np.int64)
        counted = enc.groupby(cols + ["y"], as_index=False).size()
        per_key = _majority(counted, cols, "y", "size")
        kv = dict(zip(key_of(per_key, cols), per_key["y"].astype(np.float64)))
        prefix = {}
        for L in range(1, len(specs)):
            votes = per_key.groupby(cols[:L] + ["y"], as_index=False).size()
            agg = _majority(votes, cols[:L], "y", "size")
            prefix[L] = dict(zip(key_of(agg, cols[:L]), agg["y"].astype(np.float64)))
        votes = per_key.groupby("y", as_index=False).size()
        votes["_"] = 0
        global_value = float(_majority(votes, ["_"], "y", "size")["y"].iloc[0])
    else:
        raise ValueError(f"unknown task {task!r}")
    return IndexTables(specs, kv, prefix, global_value)


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def _compare_map(what: str, got: dict[str, float], want: dict[str, float]) -> None:
    if got.keys() != want.keys():
        extra = sorted(got.keys() - want.keys())[:3]
        missing = sorted(want.keys() - got.keys())[:3]
        raise CheckFailed(f"{what}: key sets differ (extra {extra}, missing {missing})")
    for k, v in want.items():
        if got[k] is None or not _close(got[k], v):
            raise CheckFailed(f"{what}[{k}] = {got[k]}, reference {v}")


def check_index(got: IndexTables, want: IndexTables) -> None:
    """The engine's stored relations equal the pandas rebuild."""
    _compare_map("kv", got.kv, want.kv)
    if got.prefix.keys() != want.prefix.keys():
        raise CheckFailed(f"prefix lengths {sorted(got.prefix)} != {sorted(want.prefix)}")
    for L in want.prefix:
        _compare_map(f"prefix_{L}", got.prefix[L], want.prefix[L])
    if not _close(got.global_value, want.global_value):
        raise CheckFailed(f"global {got.global_value} != reference {want.global_value}")


def check_predictions(row_ids: np.ndarray, got: np.ndarray, expected: pd.Series) -> None:
    """Every scored row's prediction equals the trie lookup (exact: both
    sides read the same stored values)."""
    want = expected.reindex(row_ids).to_numpy(dtype=np.float64)
    if len(np.unique(row_ids)) != len(row_ids):
        raise CheckFailed("duplicate rows in the scored output")
    bad = ~((got == want) | (np.isnan(got) & np.isnan(want)))
    if bad.any():
        i = int(np.flatnonzero(bad)[0])
        raise CheckFailed(
            f"{int(bad.sum())} of {len(got)} predictions differ; row {row_ids[i]}: "
            f"{got[i]} vs reference {want[i]}"
        )


def f1_score(pred: np.ndarray, label: np.ndarray) -> float:
    """F1 of round(pred) against a 0/1 label; 0 when undefined."""
    p = np.round(pred).astype(np.int64)
    t = label.astype(np.int64)
    tp = int(((p == 1) & (t == 1)).sum())
    fp = int(((p == 1) & (t == 0)).sum())
    fn = int(((p == 0) & (t == 1)).sum())
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    return 2 * precision * recall / (precision + recall) if precision + recall else 0.0


def check_close(what: str, got: float, want: float) -> None:
    if not _close(got, want):
        raise CheckFailed(f"{what} = {got}, reference {want}")


def cosine_topk_check(
    got: list[tuple[int, float]], ids: np.ndarray, matrix: np.ndarray, query: np.ndarray, k: int
) -> None:
    """`got` is the engine's [(id, cosine)] best-first.  Ids whose cosine
    ties the k-th value within REL_TOL may be swapped."""
    m = matrix.astype(np.float64)
    q = np.asarray(query, dtype=np.float64)
    norms = np.linalg.norm(m, axis=1) * np.linalg.norm(q)
    sims = np.where(norms > 0, (m @ q) / np.where(norms > 0, norms, 1.0), 0.0)
    by_id = dict(zip(ids.tolist(), sims.tolist()))
    if len(got) != min(k, len(ids)):
        raise CheckFailed(f"top-k returned {len(got)} rows, expected {min(k, len(ids))}")
    kth = np.sort(sims)[::-1][len(got) - 1]
    for i, c in got:
        if not _close(c, by_id[i]):
            raise CheckFailed(f"cosine of {i} = {c}, reference {by_id[i]}")
        if by_id[i] < kth - REL_TOL:
            raise CheckFailed(f"id {i} (cosine {by_id[i]}) is below the k-th best {kth}")
    returned = {i for i, _ in got}
    missing = [i for i, s in by_id.items() if s > kth + REL_TOL and i not in returned]
    if missing:
        raise CheckFailed(f"top-k misses ids {missing[:3]}")
    cos = [c for _, c in got]
    if any(a < b for a, b in zip(cos, cos[1:])):
        raise CheckFailed("top-k is not ordered best-first")


def fingerprint(rows) -> str:
    """sha256 over the sorted rows (tuples of ints): order-free digest."""
    h = hashlib.sha256()
    for r in sorted(tuple(int(v) for v in row) for row in rows):
        h.update((",".join(map(str, r)) + "\n").encode())
    return h.hexdigest()
