"""Coarse-quantizer cell selection and the one-stage serving kernel.

A quantizer is driver-resident data: a `Flat` (seed cells) or a
`TwoLevel` (representatives over grouped cells) value of numpy arrays
with one ``topk(E, k)`` selection. Every assignment and probe hands the
value to `cells_udf` / `cell_udf` or to `cell_scores_udf`, so it travels
in the UDF closure and the plan stays independent of the quantizer width.

Selection is bit-identical to the oracles' SQL replay:

- a dot is the left fold ``acc += e[d] * c[d]`` over ascending d from
  0.0 in binary64, replayed column by column over all rows at once;
- ``sqrt`` is correctly rounded on both sides, and a cosine is
  ``dot / (ne * nc + EPS)`` with that association;
- cells rank cos DESC, ties to the smaller id, by comparing integer keys
  that replicate Spark's double comparator (`_spark_double_keys`).
"""

from __future__ import annotations

import math
from typing import Callable, Iterator, NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _ship() -> None:
    """Workers unpickle these UDFs by module reference — ship the
    package once per session (no-op when already shipped)."""
    from cqu_bigdata_recommender_system_for_movies_spark.shipping import (
        ensure_shipped,
    )

    spark = SparkSession.getActiveSession()
    if spark is not None:
        ensure_shipped(spark)

# Sentinel key for already-selected cells in the top-k loop: below every
# real cosine's total-order key (the minimum reachable key for a non-NaN
# double is the one for -inf, 0x800fffffffffffff > int64 min; cosines
# here are never NaN — the denominator is >= EPS > 0).
_KEY_SENTINEL = -(2**63)

# must equal operators.vectors.EPS (cosine denominator) — pinned by
# tests/test_functions.py::test_nearcell_eps_matches_vectors; a
# module-level import of operators.vectors here would drag the whole
# registry into every worker's UDF import
EPS = 1e-8


def _spark_double_keys(cos):
    """int64 sort keys replicating Spark's double comparator
    (SQLOrderingUtil.compareDoubles: primitive ``==`` first, so
    -0.0 == +0.0; Double.compare otherwise): normalize signed zeros,
    then take the IEEE total-order key. NaN never occurs here
    (denominator >= EPS)."""
    cos = np.where(cos == 0.0, 0.0, cos)  # -0.0 -> +0.0
    bits = cos.view(np.int64)
    return np.where(bits < 0, bits ^ np.int64(0x7FFFFFFFFFFFFFFF), bits)


def _fold_dot(a, b) -> float:
    """Left-to-right fold — the engines' evaluation order of
    aggregate/list_dot_product, so driver-side seed arithmetic lands on
    the same bits."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _row_norms(M):
    """sqrt of the left fold ``acc += m[d] * m[d]`` per row (d ascending,
    from 0.0) — the JVM's ``sqrt(dot(v, v))``, bit for bit."""
    acc = np.zeros(M.shape[0])
    for d in range(M.shape[1]):
        col = M[:, d]
        acc += col * col
    return np.sqrt(acc)


def _cosines(E, ne, cmat, ncs):
    """(rows of E, cells) cosines ``dot / (ne * nc + EPS)``, each dot a
    left fold over ascending d."""
    dots = np.zeros((E.shape[0], cmat.shape[0]))
    for d in range(E.shape[1]):
        dots += E[:, d, None] * cmat[None, :, d]
    return dots / (ne[:, None] * ncs[None, :] + EPS)


def _select(key, ids, k):
    """Per row, the ``ids`` of its ``k`` largest keys in rank order; of
    equal keys the first column (the smaller id) wins. Slots past a row's
    real keys hold -1. Consumes ``key``."""
    n, m = key.shape
    out = np.full((n, min(k, m)), -1, dtype=np.int64)
    rows = np.arange(n)
    for j in range(out.shape[1]):
        sel = np.argmax(key, axis=1)
        filled = key[rows, sel] != _KEY_SENTINEL
        out[filled, j] = ids[sel[filled]]
        key[rows, sel] = _KEY_SENTINEL
    return out


def _stack(s: pd.Series, dim: int):
    """The vectors of a non-null Series as an (n, dim) float matrix."""
    return np.vstack(s.to_numpy()) if len(s) else np.zeros((0, dim))


class Flat(NamedTuple):
    """A flat quantizer: cell ids ascending, their seed vectors and norms."""

    cids: np.ndarray
    cmat: np.ndarray
    ncs: np.ndarray

    @classmethod
    def of(cls, rows) -> "Flat":
        """From (cid, vector, norm) rows in any order."""
        rows = sorted(rows, key=lambda r: r[0])
        return cls(
            np.array([r[0] for r in rows], dtype=np.int64),
            np.array([r[1] for r in rows], dtype=np.float64),
            np.array([r[2] for r in rows], dtype=np.float64),
        )

    @property
    def dim(self) -> int:
        return self.cmat.shape[1]

    def topk(self, E, k):
        """(n, min(k, cells)) int64: each row's nearest cells, cos DESC,
        ties to the smaller cid."""
        key = _spark_double_keys(_cosines(E, _row_norms(E), self.cmat, self.ncs))
        return _select(key, self.cids, k)


class TwoLevel(NamedTuple):
    """A hierarchical quantizer: level 1 picks each row's ``probe``
    nearest representatives (cos DESC, rid ASC), level 2 ranks the cells
    of those groups (cos DESC, cid ASC across their union). ``gids[i]``
    is the representative id grouping cell ``cells.cids[i]``."""

    reps: Flat
    cells: Flat
    gids: np.ndarray
    probe: int

    @property
    def dim(self) -> int:
        return self.cells.dim

    def topk(self, E, k):
        """(n, min(k, cells)) int64, -1 in the slots past a row's probed
        cells. Level 2 scores each group over only the rows that probed
        it, so a row costs O((1 + probe) * sqrt(cells)) dots."""
        n, ne = len(E), _row_norms(E)
        reps = self.reps
        rkey = _spark_double_keys(_cosines(E, ne, reps.cmat, reps.ncs))
        probed = np.zeros(rkey.shape, dtype=bool)
        pos = _select(rkey, np.arange(rkey.shape[1]), self.probe)
        probed[np.arange(n)[:, None], pos] = True
        key = np.full((n, len(self.cells.cids)), _KEY_SENTINEL, dtype=np.int64)
        for gi, rid in enumerate(reps.cids):
            rows_g, cells_g = probed[:, gi], self.gids == rid
            if rows_g.any() and cells_g.any():
                key[np.ix_(rows_g, cells_g)] = _spark_double_keys(
                    _cosines(
                        E[rows_g],
                        ne[rows_g],
                        self.cells.cmat[cells_g],
                        self.cells.ncs[cells_g],
                    )
                )
        return _select(key, self.cells.cids, k)


def seed_quantizer(df: DataFrame, id_col: str, vec_col: str, n_cells: int) -> Flat:
    """The flat quantizer seeded by ``df``'s rows with ``id_col <
    n_cells``: a collect bounded by the width, each norm the JVM's
    ``sqrt(dot(v, v))``."""
    rows = df.filter(F.col(id_col) < n_cells).select(id_col, vec_col).collect()
    return Flat.of(
        (int(i), [float(x) for x in v], math.sqrt(_fold_dot(v, v))) for i, v in rows
    )


def cells_udf(quant, k: int) -> Callable[..., Column]:
    """Pandas UDF: a vector column to its ``quant.topk`` cells
    (`array<int>`, rank order, unfilled slots dropped). A null vector
    maps to NULL."""
    _ship()
    kk = int(k)

    def _topk(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            valid = s.notna().to_numpy()
            top = quant.topk(_stack(s[valid], quant.dim), kk)
            vals = np.empty(len(s), dtype=object)
            for i, row in zip(np.flatnonzero(valid), top):
                vals[i] = row[row >= 0].tolist()
            yield pd.Series(vals)

    return F.pandas_udf(_topk, "array<int>")


def cell_udf(quant) -> Callable[..., Column]:
    """Pandas UDF: a vector column to its single nearest cell (`int`).
    A null vector, or a row whose probed groups own no cell, maps to
    NULL."""
    _ship()

    def _top1(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            valid = s.notna().to_numpy()
            cells = np.full(len(s), -1, dtype=np.int64)
            cells[valid] = quant.topk(_stack(s[valid], quant.dim), 1)[:, 0]
            yield pd.Series(cells).astype("Int32").mask(cells < 0)

    return F.pandas_udf(_top1, "int")


class IndexArrays(NamedTuple):
    """A collected index, cell-sorted: ``ids``, ``cells``, vectors ``V``
    and their ``norms`` (the JVM's ``sqrt(dot(v, v))`` replayed by
    `_row_norms`), with ``id_type``, the Spark type of the id column."""

    ids: np.ndarray
    cells: np.ndarray
    V: np.ndarray
    norms: np.ndarray
    id_type: str


def index_arrays(table, id_type: str) -> IndexArrays:
    """A collected index (`pyarrow.Table` with ``id``, ``cell`` and the
    vector column ``vec``) as `IndexArrays`. A row without a cell joins
    no probe, so it is left out."""
    import pyarrow.compute as pc

    table = table.filter(pc.is_valid(table.column("cell")))
    ids = table.column("id").to_numpy().astype(np.int64)
    cells = table.column("cell").to_numpy().astype(np.int64)
    vecs = table.column("vec").combine_chunks()
    flat = vecs.flatten().to_numpy().astype(np.float64)
    V = flat.reshape(len(vecs), -1) if len(vecs) else flat.reshape(0, 0)
    order = np.argsort(cells, kind="stable")
    V = V[order]
    return IndexArrays(ids[order], cells[order], V, _row_norms(V), id_type)


def _probe_pairs(E, quant, nprobe, cells):
    """(rows, pos): one pair per (row of E, index row whose cell is among
    that row's ``nprobe`` nearest), rows ascending. ``cells`` is the
    cell-sorted column of `IndexArrays`; a -1 slot matches no row."""
    top = quant.topk(E, nprobe)
    lo = np.searchsorted(cells, top, "left").ravel()
    lens = np.searchsorted(cells, top, "right").ravel() - lo
    rows = np.repeat(np.repeat(np.arange(len(E)), top.shape[1]), lens)
    pos = np.arange(lens.sum()) + np.repeat(lo - (np.cumsum(lens) - lens), lens)
    return rows, pos


def _pair_cosines(E, rows, V, norms, pos):
    """``dot / (qn * nn + EPS)`` per pair, the dot a left fold over
    ascending d from 0.0 — the JVM's cosine, bit for bit."""
    dots = np.zeros(len(rows))
    if len(rows):
        for d in range(E.shape[1]):
            dots += E[rows, d] * V[pos, d]
    return dots / (_row_norms(E)[rows] * norms[pos] + EPS)


def cell_scores_udf(quant, index: IndexArrays, nprobe: int):
    """Pandas UDF mapping a vector column to the row's candidate set,
    ``array<struct<id, cos>>``: the rows of ``index`` in its ``nprobe``
    nearest cells with their cosines, unranked, so Spark's own ``round``
    and comparator decide ties. A null vector maps to NULL."""
    _ship()
    pp = int(nprobe)
    ids, cells, V, norms, id_type = index

    def _scores(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            valid = s.notna().to_numpy()
            E = _stack(s[valid], quant.dim)
            rows, pos = _probe_pairs(E, quant, pp, cells)
            refs, cos = ids[pos], _pair_cosines(E, rows, V, norms, pos)
            bounds = np.searchsorted(rows, np.arange(int(valid.sum()) + 1))
            vals = np.empty(len(s), dtype=object)
            for i, a, b in zip(np.flatnonzero(valid), bounds[:-1], bounds[1:]):
                vals[i] = [
                    {"id": r, "cos": c}
                    for r, c in zip(refs[a:b].tolist(), cos[a:b].tolist())
                ]
            yield pd.Series(vals)

    return F.pandas_udf(_scores, f"array<struct<id:{id_type},cos:double>>")
