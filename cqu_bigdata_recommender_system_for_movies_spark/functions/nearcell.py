"""Arrow-vectorized nearest-quantizer-cell assignment and serving kernels.

The flat coarse-quantizer assignment used to run as an interpreted
higher-order fold per row (`_nearest_cells` — a `transform` over the
broadcast cell structs, each scoring a `zip_with`+`aggregate` dot):
higher-order functions never codegen, so the measured per-cosine cost is
~15-30 µs and assignment throughput is LINEAR in quantizer width (33k /
1.5k / 147 rows/s at 16 / 256 / 2048 cells on the 2M replica — the wall
that forced ANN_DERIVED_CELLS_CAP). Guide §4.2: hand whole Arrow batches
to vectorized native code instead. This module computes the SAME
assignment in numpy at ~10 ns per cosine — three orders of magnitude —
while staying BIT-IDENTICAL to the JVM fold, which the driver's
bit-sensitive result hash requires:

- The JVM fold is ``acc := acc + e[d]*c[d]`` left-to-right in binary64.
  numpy replays the identical op sequence elementwise-over-rows
  (``acc += E[:, d] * C[c, d]`` for d ascending), so every intermediate
  double is the same IEEE-754 value.
- ``sqrt`` is correctly rounded in both (Math.sqrt / hardware sqrtsd).
- The cosine expression ``dot / (ne * nc + EPS)`` is replayed with the
  same association: ``(ne * nc) + EPS`` then the divide.
- Cell selection replicates ``reverse(array_sort((cos, -cid)))[:k]`` —
  cos DESC, ties to the smaller cid — by comparing the IEEE
  total-order integer key of each cosine rather than the float itself.
  Spark orders doubles with SQLOrderingUtil.compareDoubles, which
  checks primitive ``==`` FIRST (so -0.0 and +0.0 compare EQUAL and
  the tie falls through to cid; NaN sorts greatest via the
  Double.compare fallback — unreachable here, the denominator is
  >= EPS > 0), so signed zeros are normalized to +0.0 BEFORE the key
  is built (ADVICE r16: the raw total-order key would rank
  -0.0 < +0.0 and could diverge from Spark when a +0.0 cosine sits on
  the larger cid — itself unreachable for these non-negative-seeded
  folds, but the key now matches Spark's comparator by construction
  instead of by reachability argument). Ascending-cid argmax keeps the
  first of equal keys, which IS the smaller-cid tie-break.

The closure captures the bounded seed arrays by value (cloudpickle), so
the physical plan stays independent of quantizer width — the same
property the single-row broadcast `__cents` relation pinned
(test_ivf_assign_plan_size_independent_of_cells), now without the
per-row interpreted fold.

The two serving kernels (`candidate_scores_udf`, `ann_topk_udf`) apply
the same replay to a whole request batch against a broadcast-sized
index the driver holds as numpy arrays (`index_arrays`): probe the
nearest cells, gather those cells' index rows, and fold the cosine
``dot / (qn * nn + EPS)`` per (row, candidate) pair with the identical
op order. The batch then needs no join, exchange or window: one
narrow stage replaces the cell-key join and the per-key ranking.
"""

from __future__ import annotations

from typing import Callable, Iterator, Tuple

import pandas as pd

from pyspark.sql import Column, SparkSession
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
    then take the IEEE total-order key. ``cos`` is modified in place
    only via the returned array; NaN never occurs here (denominator
    >= EPS)."""
    import numpy as np

    cos = np.where(cos == 0.0, 0.0, cos)  # -0.0 -> +0.0 (ADVICE r16)
    bits = cos.view(np.int64)
    return np.where(bits < 0, bits ^ np.int64(0x7FFFFFFFFFFFFFFF), bits)


def _row_norms(M):
    """sqrt of the left fold ``acc += m[d] * m[d]`` per row (d ascending,
    from 0.0) — the JVM's ``sqrt(dot(v, v))``, bit for bit."""
    import numpy as np

    acc = np.zeros(M.shape[0])
    for d in range(M.shape[1]):
        col = M[:, d]
        acc += col * col
    return np.sqrt(acc)


def _stack(s: pd.Series, dim: int):
    """The vectors of a non-null Series as an (n, dim) float matrix."""
    import numpy as np

    return np.vstack(s.to_numpy()) if len(s) else np.zeros((0, dim))


def _seed_arrays(seeds):
    import numpy as np

    srt = sorted(seeds, key=lambda s: s[0])
    cids = np.array([s[0] for s in srt], dtype=np.int64)
    cmat = np.array([s[1] for s in srt], dtype=np.float64)  # (m, dim)
    ncs = np.array([s[2] for s in srt], dtype=np.float64)
    return cids, cmat, ncs


def topk_cells_np(E, cids, cmat, ncs, k):
    """Top-k cells for a (n, dim) float64 matrix of row vectors — the
    numpy replay of `_nearest_cells` (see module docstring for the
    bit-exactness argument). Returns an (n, k) int64 array, columns in
    rank order (cos DESC, cid ASC)."""
    import numpy as np

    n, dim = E.shape
    m = cmat.shape[0]
    ne = _row_norms(E)
    # dots: acc += e[d] * c[d] per (row, cell), d ascending
    dots = np.zeros((n, m))
    for d in range(dim):
        dots += E[:, d, None] * cmat[None, :, d]
    cos = dots / (ne[:, None] * ncs[None, :] + EPS)
    # Spark's double comparator as an int64 key (signed zeros unified)
    key = _spark_double_keys(cos)
    keff = min(k, m)
    out = np.empty((n, keff), dtype=np.int64)
    rows = np.arange(n)
    for j in range(keff):
        sel = np.argmax(key, axis=1)  # first max = smaller cid on ties
        out[:, j] = cids[sel]
        key[rows, sel] = _KEY_SENTINEL
    return out


def nearest_cells_udf(seeds, k: int) -> Callable[..., Column]:
    """Vectorized twin of `_nearest_cells(vec_col, k)`: a pandas UDF
    mapping a vector column to its top-k quantizer cells
    (`array<int>`, cos DESC / cid ASC — the oracles' exact order).

    ``seeds``: bounded list of (cid, ce: list[float], nc) — the same
    rows the `__cents` broadcast relation carries, sorted by cid."""
    _ship()
    cids, cmat, ncs = _seed_arrays(seeds)
    kk = int(k)

    def _topk(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np

        for s in it:
            if len(s) == 0:
                yield pd.Series([], dtype=object)
                continue
            valid = s.notna()
            E = _stack(s[valid], cmat.shape[1])
            top = topk_cells_np(E, cids, cmat, ncs, kk)
            vals = np.empty(len(s), dtype=object)
            vals[:] = None
            for i, row in zip(np.flatnonzero(np.asarray(valid)), top):
                vals[i] = row.tolist()
            yield pd.Series(vals)

    return F.pandas_udf(_topk, "array<int>")


def nearest_cell_udf(seeds) -> Callable[..., Column]:
    """Scalar (k=1) twin of ``element_at(_nearest_cells(vec_col, 1), 1)``:
    maps a vector column straight to its single nearest cell (`int`)."""
    _ship()
    cids, cmat, ncs = _seed_arrays(seeds)

    def _top1(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np

        for s in it:
            if len(s) == 0:
                yield pd.Series([], dtype="Int32")
                continue
            valid = s.notna()
            E = _stack(s[valid], cmat.shape[1])
            top = topk_cells_np(E, cids, cmat, ncs, 1)
            out = pd.Series([None] * len(s), dtype="Int32")
            out[np.asarray(valid)] = top[:, 0].astype("int32")
            yield out

    return F.pandas_udf(_top1, "int")


def index_arrays(table, id_col: str, vec_col: str):
    """A collected index (`pyarrow.Table` with ``id_col``, ``cell`` and
    the vector column ``vec_col``) as cell-sorted numpy arrays
    ``(ids, cells, V, norms)``; ``norms`` is the JVM's
    ``sqrt(dot(v, v))`` replayed by `_row_norms`."""
    import numpy as np

    ids = table.column(id_col).to_numpy().astype(np.int64)
    cells = table.column("cell").to_numpy().astype(np.int64)
    vecs = table.column(vec_col).combine_chunks()
    flat = vecs.flatten().to_numpy().astype(np.float64)
    V = flat.reshape(len(vecs), -1) if len(vecs) else flat.reshape(0, 0)
    order = np.argsort(cells, kind="stable")
    V = V[order]
    return ids[order], cells[order], V, _row_norms(V)


def _probe_pairs(E, seed_arrays, nprobe, cells):
    """(rows, pos): one pair per (row of E, index row whose cell is among
    that row's ``nprobe`` nearest), rows ascending. ``cells`` is the
    cell-sorted column of `index_arrays`."""
    import numpy as np

    top = topk_cells_np(E, *seed_arrays, nprobe)
    lo = np.searchsorted(cells, top, "left").ravel()
    lens = np.searchsorted(cells, top, "right").ravel() - lo
    rows = np.repeat(np.repeat(np.arange(len(E)), top.shape[1]), lens)
    pos = np.arange(lens.sum()) + np.repeat(lo - (np.cumsum(lens) - lens), lens)
    return rows, pos


def _pair_cosines(E, rows, V, norms, pos):
    """``dot / (qn * nn + EPS)`` per pair, the dot a left fold over
    ascending d from 0.0 — the JVM's cosine, bit for bit."""
    import numpy as np

    dots = np.zeros(len(rows))
    if len(rows):
        for d in range(E.shape[1]):
            dots += E[rows, d] * V[pos, d]
    return dots / (_row_norms(E)[rows] * norms[pos] + EPS)


def candidate_scores_np(E, seed_arrays, index, nprobe):
    """(rows, item ids, cosines) of every candidate of every row of E:
    the items of its ``nprobe`` nearest cells, unranked."""
    ids, cells, V, norms = index
    rows, pos = _probe_pairs(E, seed_arrays, nprobe, cells)
    return rows, ids[pos], _pair_cosines(E, rows, V, norms, pos)


def candidate_scores_udf(seeds, index, nprobe: int, id_type: str):
    """Pandas UDF mapping an interest-vector column to the row's candidate
    set, ``array<struct<item_ref, cos>>``: the probe, cell fetch and
    cosine of the cell-key join, with the JVM's fold order. Ranking is
    left to the caller so Spark's own ``round`` decides score ties.

    ``seeds``: the quantizer rows `nearest_cells_udf` takes; ``index``:
    `index_arrays` of the candidate index. A null vector maps to NULL."""
    _ship()
    seed_arrays = _seed_arrays(seeds)
    dim = seed_arrays[1].shape[1]
    pp = int(nprobe)

    def _scores(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np

        for s in it:
            valid = s.notna().to_numpy()
            rows, refs, cos = candidate_scores_np(
                _stack(s[valid], dim), seed_arrays, index, pp
            )
            bounds = np.searchsorted(rows, np.arange(int(valid.sum()) + 1))
            vals = np.empty(len(s), dtype=object)
            for i, a, b in zip(np.flatnonzero(valid), bounds[:-1], bounds[1:]):
                vals[i] = [
                    {"item_ref": r, "cos": c}
                    for r, c in zip(refs[a:b].tolist(), cos[a:b].tolist())
                ]
            yield pd.Series(vals)

    return F.pandas_udf(
        _scores, f"array<struct<item_ref:{id_type},cos:double>>"
    )


def ann_topk_np(E, qids, seed_arrays, index, nprobe, k):
    """Per row of E, the ids of its top-``k`` index rows among the
    ``nprobe`` nearest cells, its own id (``qids``) excluded: cosine
    DESC by Spark's double comparator (`_spark_double_keys`), ties to
    the smaller id. Returns a list of int64 arrays, one per row."""
    import numpy as np

    ids, cells, V, norms = index
    rows, pos = _probe_pairs(E, seed_arrays, nprobe, cells)
    keep = ids[pos] != qids[rows]
    rows, pos = rows[keep], pos[keep]
    key = _spark_double_keys(_pair_cosines(E, rows, V, norms, pos))
    # ~key reverses the order without the overflow of -key
    order = np.lexsort((ids[pos], ~key, rows))
    rows, pos = rows[order], pos[order]
    starts = np.searchsorted(rows, np.arange(len(E) + 1))
    top = np.arange(len(rows)) - starts[rows] < k
    return np.split(ids[pos[top]], np.searchsorted(rows[top], np.arange(1, len(E))))


def ann_topk_udf(seeds, index, nprobe: int, k: int, id_type: str):
    """Pandas UDF over (query id, query vector) columns returning the
    ``array<id>`` of `ann_topk_np`: the probe, cell fetch, cosine and
    per-query top-k of the cell-key join + window, in one call. A null
    id or vector maps to NULL."""
    _ship()
    seed_arrays = _seed_arrays(seeds)
    dim = seed_arrays[1].shape[1]
    pp, kk = int(nprobe), int(k)

    def _topk(it: Iterator[Tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        import numpy as np

        for qid, s in it:
            valid = (qid.notna() & s.notna()).to_numpy()
            top = ann_topk_np(
                _stack(s[valid], dim),
                qid[valid].to_numpy().astype(np.int64),
                seed_arrays,
                index,
                pp,
                kk,
            )
            vals = np.empty(len(s), dtype=object)
            for i, ids in zip(np.flatnonzero(valid), top):
                vals[i] = ids.tolist()
            yield pd.Series(vals)

    return F.pandas_udf(_topk, f"array<{id_type}>")


def two_level_topk_np(E, rep_arrays, cell_arrays, probe, k):
    """Hierarchical top-k cells for a (n, dim) float64 matrix — the
    numpy replay of `_two_level_cells`: level 1 selects each row's top
    ``probe`` representatives (cos DESC, rid ASC), level 2 ranks the
    probed groups' member cells (cos DESC, cid ASC across their union).
    Work stays O((1 + probe) * sqrt(n_cells)) dots per row — the
    level-2 dot loop runs per GROUP over only the rows that probed it —
    so the hierarchical scaling argument survives vectorization.
    Returns (n, k) int64; unfilled slots (fewer candidate cells than k)
    hold -1, which callers must slice away before k > reachable cells
    (the registered paths never request that)."""
    import numpy as np

    rids, rmat, nrs = rep_arrays
    cids, cmat, ncs, gid_of_cell = cell_arrays
    n, dim = E.shape
    n_reps = rmat.shape[0]
    m = cmat.shape[0]
    ne = _row_norms(E)
    # level 1: full (n, n_reps) scoring — the sqrt-width term
    rdots = np.zeros((n, n_reps))
    for d in range(dim):
        rdots += E[:, d, None] * rmat[None, :, d]
    rcos = rdots / (ne[:, None] * nrs[None, :] + EPS)
    rkey = _spark_double_keys(rcos)
    probed = np.zeros((n, n_reps), dtype=bool)
    rows = np.arange(n)
    for _ in range(min(probe, n_reps)):
        sel = np.argmax(rkey, axis=1)  # first max = smaller rid on ties
        probed[rows, sel] = True
        rkey[rows, sel] = _KEY_SENTINEL
    # level 2: per-group scoring over only the rows that probed the
    # group — scattered into a sentinel-initialized key matrix so the
    # final selection ranks the probed-union exactly like the
    # filter + sort expression (cos DESC, cid ASC).
    key = np.full((n, m), _KEY_SENTINEL, dtype=np.int64)
    for gi, rid in enumerate(rids):
        rows_g = probed[:, gi]
        if not rows_g.any():
            continue
        cells_g = gid_of_cell == rid
        if not cells_g.any():
            continue
        Eg = E[rows_g]
        Cg = cmat[cells_g]
        dg = np.zeros((Eg.shape[0], Cg.shape[0]))
        for d in range(dim):
            dg += Eg[:, d, None] * Cg[None, :, d]
        cg = dg / (ne[rows_g, None] * ncs[None, cells_g] + EPS)
        key[np.ix_(rows_g, cells_g)] = _spark_double_keys(cg)
    keff = min(k, m)
    out = np.full((n, keff), -1, dtype=np.int64)
    for j in range(keff):
        sel = np.argmax(key, axis=1)
        filled = key[rows, sel] != _KEY_SENTINEL
        out[filled, j] = cids[sel[filled]]
        key[rows, sel] = _KEY_SENTINEL
    return out


def _two_level_arrays(rep_rows, cell_rows):
    import numpy as np

    reps = sorted(rep_rows, key=lambda r: r[0])
    cells = sorted(cell_rows, key=lambda c: c[0])
    rep_arrays = (
        np.array([r[0] for r in reps], dtype=np.int64),
        np.array([r[1] for r in reps], dtype=np.float64),
        np.array([r[2] for r in reps], dtype=np.float64),
    )
    cell_arrays = (
        np.array([c[0] for c in cells], dtype=np.int64),
        np.array([c[1] for c in cells], dtype=np.float64),
        np.array([c[2] for c in cells], dtype=np.float64),
        np.array([c[3] for c in cells], dtype=np.int64),
    )
    return rep_arrays, cell_arrays


def two_level_cells_udf(rep_rows, cell_rows, probe: int, k: int):
    """Vectorized twin of `_two_level_cells(vec_col, k)` under
    ANN_GROUP_PROBE=``probe``: a pandas UDF mapping a vector column to
    its hierarchically-selected top-k cells (`array<int>`).

    ``rep_rows``: [(rid, re, nr)] — the `__reps` relation's structs;
    ``cell_rows``: [(cid, ce, nc, gid)] — the `__gcents` structs."""
    _ship()
    rep_arrays, cell_arrays = _two_level_arrays(rep_rows, cell_rows)
    pp, kk = int(probe), int(k)

    def _topk(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np

        for s in it:
            if len(s) == 0:
                yield pd.Series([], dtype=object)
                continue
            valid = s.notna()
            E = _stack(s[valid], cell_arrays[1].shape[1])
            top = two_level_topk_np(E, rep_arrays, cell_arrays, pp, kk)
            vals = np.empty(len(s), dtype=object)
            vals[:] = None
            for i, row in zip(np.flatnonzero(np.asarray(valid)), top):
                vals[i] = [int(c) for c in row if c >= 0]
            yield pd.Series(vals)

    return F.pandas_udf(_topk, "array<int>")


def two_level_cell_udf(rep_rows, cell_rows, probe: int):
    """Scalar (k=1) twin of `_two_level_cell(vec_col)`: the single
    hierarchically-selected cell (`int`)."""
    _ship()
    rep_arrays, cell_arrays = _two_level_arrays(rep_rows, cell_rows)
    pp = int(probe)

    def _top1(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np

        for s in it:
            if len(s) == 0:
                yield pd.Series([], dtype="Int32")
                continue
            valid = s.notna()
            E = _stack(s[valid], cell_arrays[1].shape[1])
            top = two_level_topk_np(E, rep_arrays, cell_arrays, pp, 1)
            out = pd.Series([None] * len(s), dtype="Int32")
            # ADVICE r16: the -1 unfilled sentinel (a vector whose probed
            # groups own zero cells) must surface as NULL — matching the
            # array variant's c >= 0 filter — not as a real cell id -1
            cells = pd.array(top[:, 0], dtype="Int32")
            cells[top[:, 0] == -1] = pd.NA
            out[np.asarray(valid)] = cells
            yield out

    return F.pandas_udf(_top1, "int")
