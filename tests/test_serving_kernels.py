"""The one-stage serving kernel of `cell_topk` (operators/vectors.py)
against the cell-key join + row_number window it replaces on a
broadcast-sized index. The join path stays in the engine as the
reference: past the broadcast ceiling it is the only path. Every
comparison is exact: rows, ranks, and scores by ``float.hex()``.

The inputs are adversarial on purpose: duplicate vectors (exact cosine
ties must fall to the smaller id), near-duplicates whose scores round to
the same 6-dp value (the tie must fall to item_ref, not to the raw
cosine), a zero vector, negative components (a small negative cosine
rounds to zero and keeps Spark's sign), a duplicated quantizer seed
(its cell owns no items), fewer candidates than k, and queries whose own
id sits in their probed cells.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

import numpy as np
import pytest
from pyspark.sql import functions as F

from cqu_bigdata_recommender_system_for_movies_spark.functions.nearcell import (
    Flat,
    IndexArrays,
)
from cqu_bigdata_recommender_system_for_movies_spark import session
from cqu_bigdata_recommender_system_for_movies_spark.operators import vectors
from cqu_bigdata_recommender_system_for_movies_spark.operators.vectors import (
    cell_topk,
    collect_index,
    serving_index,
)
from cqu_bigdata_recommender_system_for_movies_spark.streaming import (
    ann_index as ai,
)
from cqu_bigdata_recommender_system_for_movies_spark.streaming import (
    ann_search as asrch,
)
from cqu_bigdata_recommender_system_for_movies_spark.streaming import (
    candidates as cand,
)

N_CELLS = 4  # seeds = ids 0..3; ids 0 and 1 are equal, so cell 1 is empty


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _vectors(rng, n: int, dim: int) -> list[list[float]]:
    """Adversarial rows 0..n-1 (n >= 16): 0 and 1 equal, 10-12 equal,
    13 zero, 14/15 near-duplicates (1e-12 apart), the rest uniform in
    [-1, 1] (negative components included)."""
    v = rng.uniform(-1.0, 1.0, size=(n, dim))
    v[1] = v[0]
    v[11] = v[10]
    v[12] = v[10]
    v[13] = 0.0
    v[15] = v[14]
    v[15, 0] += 1e-12
    return [[float(x) for x in row] for row in v]


def _catalog(rng) -> list[list[float]]:
    """40 five-dim item profiles over `_vectors`, with fixed seeds so the
    rounding cases below land in probed cells: user 3 ([1, 0, 0, 0, 0])
    and user 4 both probe cell 3 (item 3's), where
    - items 14 and 15 score about 0.90000003 and 0.90000007 for user 3:
      the same rounded score, item 15 ahead on the raw cosine;
    - item 3 scores about -3.6e-10 for user 4, which rounds to zero."""
    v = _vectors(rng, 40, 5)
    v[0] = v[1] = [-0.2, 0.3, -0.5, 0.1, 0.4]
    v[2] = [0.1, 0.4, -0.3, 0.2, 0.0]
    v[3] = [1.0, 1.0 + 1e-9, 0.0, 0.0, 0.0]
    v[14] = [0.9, 0.4358898, 0.0, 0.0, 0.0]
    v[15] = [0.9, 0.4358897, 0.0, 0.0, 0.0]
    return v


def _users(rng, profiles: list[list[float]], n_random: int) -> list:
    rows = [
        (0, [0.0] * 5),  # zero interest vector
        (1, profiles[0]),  # probes the duplicated seed's empty cell
        (2, profiles[10]),  # exact ties among items 10-12
        (3, [1.0, 0.0, 0.0, 0.0, 0.0]),  # rounded tie of items 14/15
        (4, [0.5, -0.5, 0.6, 0.0, 0.0]),  # negative cosine rounds to 0
        (5, [-x for x in profiles[2]]),  # mostly negative cosines
        (6, None),  # no vector: no rows on either path
    ]
    rows += [
        (100 + i, [float(x) for x in rng.uniform(-1.0, 1.0, size=5)])
        for i in range(n_random)
    ]
    return rows


def _cand_rows(df) -> list[tuple]:
    return sorted(
        (int(r.user_id), int(r.rnk), int(r.item_ref), r.score.hex())
        for r in df.collect()
    )


def _bucketed_dim(monkeypatch, profiles, n_cells=None):
    """The candidate index past the collect ceiling: the bucketed table
    `cell_topk` serves by the cell-key join + window."""
    with monkeypatch.context() as m:
        m.setattr(cand, "REC_BROADCAST_MAX_ITEMS", 0)
        return cand.build_candidate_index(profiles, n_cells)[1]


@pytest.mark.parametrize("seed", [7, 8, 9])
def test_candidate_kernel_matches_join_path(spark, monkeypatch, seed):
    rng = np.random.default_rng(seed)
    profiles = _catalog(rng)
    catalog = spark.createDataFrame(
        list(enumerate(profiles)), "item_ref int, profile array<double>"
    )
    users = spark.createDataFrame(
        _users(rng, profiles, 40), "user_id long, interest array<double>"
    )
    cents, item_dim, _ = cand.build_candidate_index(catalog, N_CELLS)
    assert isinstance(item_dim, IndexArrays)
    reference_dim = _bucketed_dim(monkeypatch, catalog, N_CELLS)
    for k in (3, 10, 50):  # k = 50 exceeds every user's candidate count
        got = cand.score_candidates_batch(users, cents, item_dim, k)
        want = cand.score_candidates_batch(users, cents, reference_dim, k)
        assert "Window" not in _plan(got) and "Window" in _plan(want)
        rows = _cand_rows(got)
        assert rows == _cand_rows(want), f"k={k}"
        per_user: dict[int, int] = {}
        for u, *_ in rows:
            per_user[u] = per_user.get(u, 0) + 1
        assert 6 not in per_user and 0 in per_user
        if k == 50:
            assert max(per_user.values()) < k
        else:
            assert max(per_user.values()) == k
    # the fixture reaches the cases it claims
    ranked = {(u, i): (rk, sc) for u, rk, i, sc in rows}
    (rank_a, score_a), (rank_b, score_b) = ranked[3, 14], ranked[3, 15]
    assert score_a == score_b and rank_a + 1 == rank_b
    assert ranked[4, 3][1] == (0.0).hex()
    assert 1 not in set(item_dim.cells.tolist())


def test_candidate_kernel_on_reference_catalog(spark, monkeypatch, sf_dir):
    """The reference item profiles at the derived quantizer width, every
    item's profile also serving as a user's interest vector."""
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
        item_profiles,
    )

    profiles = item_profiles(spark, sf_dir).localCheckpoint(eager=True)
    cents, item_dim, _ = cand.build_candidate_index(profiles)
    users = profiles.select(
        F.col("item_ref").cast("long").alias("user_id"),
        F.col("profile").alias("interest"),
    )
    got = cand.score_candidates_batch(users, cents, item_dim)
    want = cand.score_candidates_batch(
        users, cents, _bucketed_dim(monkeypatch, profiles)
    )
    assert _cand_rows(got) == _cand_rows(want)


def _ann_index(spark, corpus: list[list[float]], n_cells: int, path: str,
               two_level: bool = False):
    """(queries, quantizer, index): the index is a parquet file, so the
    planner knows its size, as it knows the served table's."""
    emb = spark.createDataFrame(
        list(enumerate(corpus)), "vec_id long, e array<double>"
    )
    cents = ai._quantizer(emb, n_cells, two_level)
    ai.assign_batch(emb, cents, carry=("e",)).select(
        F.col("vec_id").alias("neighbor_id"), "cell", F.col("e").alias("ne")
    ).write.parquet(path)
    return emb, cents, spark.read.parquet(path)


def _ann_rows(df) -> list[tuple]:
    return sorted((int(r.query_id), int(r["rank"]), int(r.neighbor_id))
                  for r in df.collect())


def _join_path(spark, fn):
    """Run ``fn`` with both broadcast thresholds at -1: the index is no
    longer broadcast-sized, so score_query_batch takes the join path."""
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")
    prev = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        return fn()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.parametrize(
    "n, n_cells, two_level",
    [
        pytest.param(16, 8, False, id="16-8"),
        pytest.param(120, N_CELLS, False, id="120-4"),
        pytest.param(16, 8, True, id="16-8-two_level"),
        pytest.param(120, N_CELLS, True, id="120-4-two_level"),
        # 8 representatives, 4 probed: level 1 prunes
        pytest.param(120, 32, True, id="120-32-two_level"),
    ],
)
def test_ann_kernel_matches_join_path(spark, tmp_path, n, n_cells, two_level):
    """16 vectors over 8 cells leave some queries fewer than SEARCH_TOPK
    candidates. The two-level cases serve through `two_level_quantizer`."""
    rng = np.random.default_rng(n)
    corpus = _vectors(rng, n, 6)
    emb, cents, index_df = _ann_index(
        spark, corpus, n_cells, str(tmp_path / "index"), two_level
    )
    assert isinstance(cents, ai.TwoLevel) == two_level
    # every corpus vector as a query (its own id sits in its probed
    # cells), plus outside ids: a zero vector, a duplicate, negatives
    extra = spark.createDataFrame(
        [(1000, [0.0] * 6), (1001, corpus[10]), (1002, [-x for x in corpus[2]]),
         (1003, None)],
        "vec_id long, e array<double>",
    )
    queries = emb.unionByName(extra)
    got = asrch.score_query_batch(queries, cents, index_df)
    assert "Join" not in _plan(got) and "Window" not in _plan(got)
    rows = _ann_rows(got)

    def reference():
        want = asrch.score_query_batch(queries, cents, index_df)
        assert "Window" in _plan(want)
        return _ann_rows(want)

    assert rows == _join_path(spark, reference)
    assert all(q != nb for q, _, nb in rows)
    assert not any(q == 1003 for q, *_ in rows)
    counts: dict[int, int] = {}
    for q, *_ in rows:
        counts[q] = counts.get(q, 0) + 1
    assert max(counts.values()) == ai.SEARCH_TOPK
    if n == 16:
        assert min(counts.values()) < ai.SEARCH_TOPK


def test_ann_kernel_skips_rows_without_a_cell(spark, tmp_path):
    """A two-level quantizer leaves a vector whose probed groups own no
    cell unassigned (NULL cell). Such index rows join no probe, and
    queries with no probed cell get no rows, on both paths."""
    # two representatives, every cell grouped under rep 0, one group
    # probed: vectors nearer rep 1 have no cell
    reps = Flat.of([(0, [1.0, 0.0], 1.0), (1, [0.0, 1.0], 1.0)])
    cells = Flat.of([(0, [1.0, 0.0], 1.0), (2, [1.0, 0.5], 1.25 ** 0.5)])
    quant = ai.TwoLevel(reps, cells, np.array([0, 0]), 1)
    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.uniform(0.0, 1.0, 2)]) for i in range(60)],
        "vec_id long, e array<double>",
    )
    path = str(tmp_path / "index")
    ai.assign_batch(emb, quant, carry=("e",)).select(
        F.col("vec_id").alias("neighbor_id"), "cell", F.col("e").alias("ne")
    ).write.parquet(path)
    index_df = spark.read.parquet(path)
    unassigned = {r.neighbor_id for r in index_df.filter("cell IS NULL").collect()}
    assert unassigned and len(unassigned) < 60

    got = asrch.score_query_batch(emb, quant, index_df)
    assert "Window" not in _plan(got)
    rows = _ann_rows(got)
    assert rows == _join_path(
        spark, lambda: _ann_rows(asrch.score_query_batch(emb, quant, index_df))
    )
    assert rows and not {q for q, *_ in rows} & unassigned
    assert not {nb for *_, nb in rows} & unassigned


def test_ann_kernel_ranks_exact_ties_by_id(spark):
    """Equal vectors score bit-equal cosines: the smaller id ranks first,
    whatever order the index holds them in; so do two zero cosines."""
    seeds = Flat.of([(0, [1.0, 0.0], 1.0)])
    ids = np.array([9, 4, 7, 2, 5], dtype=np.int64)
    V = np.array([[1.0, 1.0], [1.0, 1.0], [0.0, 1.0], [0.0, -1.0], [1.0, 1.0]])
    index = IndexArrays(
        ids, np.zeros(5, dtype=np.int64), V, np.sqrt((V * V).sum(axis=1)), "bigint"
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0]), (4, [1.0, 1.0])], "qid long, vec array<double>"
    )
    top: dict[int, list[int]] = {}
    for r in sorted(
        cell_topk(queries, seeds, index, 1, 5, rounded=False, exclude_self=True)
        .collect(),
        key=lambda r: (r.qid, r["rank"]),
    ):
        top.setdefault(r.qid, []).append(r.id)
    assert top[100] == [4, 5, 9, 2, 7]
    assert top[4] == [5, 9, 7, 2]  # self (4) excluded


def _topk_rows(df) -> list[tuple]:
    return sorted(
        (int(r.qid), int(r["rank"]), int(r.id), r.score.hex()) for r in df.collect()
    )


@pytest.mark.parametrize(
    "nprobe, two_level",
    [
        pytest.param(1, False, id="ivf-nprobe1"),
        pytest.param(2, False, id="ivf-nprobe2"),
        pytest.param(2, True, id="ivf-two_level"),
    ],
)
def test_cell_topk_kernel_matches_join_path(spark, tmp_path, nprobe, two_level):
    """The IVF queries' combination, rounded scores with self excluded,
    in both regimes of `cell_topk` on the adversarial corpus, scores
    compared by ``float.hex()``: the collected index against the same
    index passed as a DataFrame. The candidate and ANN combinations are
    compared through their own entry points above."""
    rng = np.random.default_rng(11)
    corpus = _vectors(rng, 120, 6)
    emb, quant, index_df = _ann_index(
        spark, corpus, 8, str(tmp_path / "index"), two_level
    )
    extra = spark.createDataFrame(
        [(1000, [0.0] * 6), (1001, corpus[14]), (1002, [-x for x in corpus[2]]),
         (1003, None)],
        "vec_id long, e array<double>",
    )
    queries = emb.unionByName(extra)

    def topk(index):
        return cell_topk(
            queries, quant, index, nprobe, 5, rounded=True, exclude_self=True,
            qid="vec_id", vec="e",
        )

    got = topk(collect_index(index_df, "neighbor_id", "ne"))
    want = topk(
        index_df.select(
            F.col("neighbor_id").alias("id"), "cell", F.col("ne").alias("vec")
        )
    )
    assert "Window" not in _plan(got) and "Window" in _plan(want)
    rows = _topk_rows(got)
    assert rows == _topk_rows(want)
    assert not any(q == 1003 for q, *_ in rows)
    assert not any(q == i for q, _, i, _ in rows)
    # items 14 and 15 are 1e-12 apart: rounding ties them, 14 ranks first
    near = {i: (rk, sc) for q, rk, i, sc in rows if q == 1001 and i in (14, 15)}
    assert len(near) == 2
    assert near[14][1] == near[15][1] and near[14][0] < near[15][0]


# ---------------------------------------------------------------------------
# The collected index kept per file list (`serving_index`)
# ---------------------------------------------------------------------------

KEPT_TABLE = "spark_graft_kept_index_test"


def _count_collects(monkeypatch) -> list:
    """The DataFrames `serving_index` collects from, appended per call."""
    calls = []
    real = vectors.collect_index

    def counted(df, *args):
        calls.append(df)
        return real(df, *args)

    monkeypatch.setattr(vectors, "collect_index", counted)
    return calls


def _kept_entries(location: str = "") -> list:
    """Keys of the kept index entries whose scan location names ``location``."""
    return [
        k for k in session._SESSION_CACHE if k[1] == "serving_index" and location in k[2]
    ]


@pytest.fixture
def kept_table(spark, tmp_path):
    """(emb, quantizer, append): 160 adversarial vectors, the first 120
    written into a catalog index table by the maintenance append;
    ``append(df, batch_id)`` appends one more batch. Dropped afterwards."""
    rng = np.random.default_rng(21)
    corpus = _vectors(rng, 160, 6)
    emb = spark.createDataFrame(
        list(enumerate(corpus)), "vec_id long, e array<double>"
    )
    cents = ai._quantizer(emb.filter("vec_id < 120"), 8, False)
    loc = str(tmp_path / "kept")
    spark.sql(f"DROP TABLE IF EXISTS {KEPT_TABLE}")

    def append(df, batch_id):
        ai.apply_index_batch(spark, KEPT_TABLE, loc, df, cents, batch_id, 4, carry=("e",))

    append(emb.filter("vec_id < 120"), 0)
    try:
        yield emb, cents, append
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {KEPT_TABLE}")
        shutil.rmtree(loc, ignore_errors=True)


def _kept_index(spark):
    return spark.table(KEPT_TABLE).select(
        F.col("vec_id").alias("neighbor_id"), "cell", F.col("e").alias("ne")
    )


def _served(queries, cents, index_df) -> list[tuple]:
    return _ann_rows(asrch.score_query_batch(queries, cents, index_df))


def test_repeat_batch_on_unchanged_table_runs_no_collect(
    spark, kept_table, monkeypatch, tmp_path
):
    emb, cents, _ = kept_table
    calls = _count_collects(monkeypatch)
    index_df = _kept_index(spark)
    queries = emb.filter("vec_id % 7 = 3")
    first = _served(queries, cents, index_df)
    assert len(calls) == 1
    # the next batch, and a new DataFrame over the same table, are served
    # from the kept arrays
    assert _served(queries, cents, index_df) == first
    assert _served(queries, cents, _kept_index(spark)) == first
    assert len(calls) == 1
    assert len(_kept_entries(str(tmp_path / "kept"))) == 1


def test_append_between_serves_shows_in_the_next_batch(spark, kept_table, monkeypatch):
    """A table read after the append lists the new files and collects
    again. A DataFrame read before it keeps the file listing Spark
    resolved it with (the append swaps the table's cached relation), and
    is served exactly what its own scan reads."""
    emb, cents, append = kept_table
    calls = _count_collects(monkeypatch)
    index_df = _kept_index(spark)
    queries = emb.filter("vec_id % 5 = 1")
    before = _served(queries, cents, index_df)
    assert not {nb for *_, nb in before} & set(range(120, 160))
    append(emb.filter("vec_id >= 120"), 1)
    appended = _kept_index(spark)
    after = _served(queries, cents, appended)
    assert len(calls) == 2
    assert {nb for *_, nb in after} & set(range(120, 160))
    assert after == _join_path(spark, lambda: _served(queries, cents, appended))
    assert _served(queries, cents, index_df) == _join_path(
        spark, lambda: _served(queries, cents, index_df)
    )


def test_drop_and_rebuild_at_the_same_location_misses(
    spark, kept_table, monkeypatch, tmp_path
):
    emb, cents, append = kept_table
    calls = _count_collects(monkeypatch)
    queries = emb.filter("vec_id % 5 = 2")
    before = _served(queries, cents, _kept_index(spark))
    assert len(_kept_entries(str(tmp_path / "kept"))) == 1
    spark.sql(f"DROP TABLE {KEPT_TABLE}")
    shutil.rmtree(tmp_path / "kept")
    # the same ids and location, other vectors: only a collect can see them
    append(emb.filter("vec_id >= 40").withColumn("vec_id", F.col("vec_id") - 40), 0)
    index_df = _kept_index(spark)
    after = _served(queries, cents, index_df)
    assert len(calls) == 2 and after != before
    assert len(_kept_entries(str(tmp_path / "kept"))) == 1  # replaced
    assert after == _join_path(spark, lambda: _served(queries, cents, index_df))


def test_compaction_evicts_the_retired_generation(spark, kept_table, tmp_path):
    """A compaction moves the table to a new generation directory, and
    the arrays kept for the retired location go with it."""
    emb, cents, _ = kept_table

    def kept_for(root):
        return [k for k in session._SESSION_CACHE if k[1:] == ("serving_index", root)]

    _served(emb.filter("vec_id % 5 = 3"), cents, _kept_index(spark))
    old_root = vectors._file_scan(spark.table(KEPT_TABLE))[0]
    assert kept_for(old_root)
    ai.compact_index_table(spark, KEPT_TABLE, 4, str(tmp_path / "kept_gen1"))
    assert vectors._file_scan(spark.table(KEPT_TABLE))[0] != old_root
    assert not kept_for(old_root)


@pytest.mark.parametrize("plan", ["filter", "sample", "computed", "checkpoint"])
def test_non_file_plan_collects_every_call_and_keeps_nothing(
    spark, kept_table, monkeypatch, plan
):
    emb, cents, _ = kept_table
    table = _kept_index(spark)
    index_df = {
        "filter": lambda: table.filter("neighbor_id % 2 = 0"),
        "computed": lambda: table.withColumn("ne", F.transform("ne", lambda x: x * 2.0)),
        "checkpoint": lambda: table.localCheckpoint(eager=True),
        "sample": lambda: table.sample(fraction=0.5, seed=3),
    }[plan]()
    calls = _count_collects(monkeypatch)
    kept = set(_kept_entries())
    queries = emb.filter("vec_id % 9 = 4")
    first = _served(queries, cents, index_df)
    assert _served(queries, cents, index_df) == first
    assert len(calls) == 2
    assert set(_kept_entries()) == kept


def test_kept_arrays_serve_bit_identical_rows(spark, kept_table, monkeypatch):
    """Scores by ``float.hex()``: a fresh collect, the call that keeps
    the arrays, and a call served from them give the same rows."""
    emb, cents, _ = kept_table
    calls = _count_collects(monkeypatch)
    index_df = _kept_index(spark)
    queries = emb.unionByName(
        spark.createDataFrame([(1000, [0.0] * 6)], "vec_id long, e array<double>")
    )

    def topk(index):
        return _topk_rows(cell_topk(
            queries, cents, index, 2, 5, rounded=False, exclude_self=True,
            qid="vec_id", vec="e",
        ))

    fresh = topk(collect_index(index_df, "neighbor_id", "ne"))
    keeping = topk(serving_index(index_df, "neighbor_id", "ne"))
    kept = topk(serving_index(index_df, "neighbor_id", "ne"))
    assert len(calls) == 1
    assert fresh == keeping == kept


def test_query_that_drops_its_served_table_leaves_no_entry(spark, sf_dir, monkeypatch):
    """streaming_ann_search serves its query batches from one kept
    collect, and the entry goes with the table the query drops."""
    calls = _count_collects(monkeypatch)
    kept = set(_kept_entries())
    assert asrch.streaming_ann_search(spark, sf_dir).count() > 0
    assert len(calls) == 1 and asrch.N_SEARCH_SLICES > 1
    assert set(_kept_entries()) == kept


RESTART_SCRIPT = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, {repo!r})
    from cqu_bigdata_recommender_system_for_movies_spark import session
    from cqu_bigdata_recommender_system_for_movies_spark.operators import vectors

    calls = []
    real = vectors.collect_index
    vectors.collect_index = lambda df, *a: calls.append(1) or real(df, *a)
    apps = []
    for context in range(2):
        spark = session.get_spark("kept-index-restart-test")
        if context == 0:
            spark.createDataFrame(
                [(i, i % 3, [float(i), 1.0]) for i in range(30)],
                "id long, cell int, vec array<double>",
            ).write.parquet({path!r})
        for _ in range(2):
            ids = vectors.serving_index(spark.read.parquet({path!r}), "id", "vec").ids
        apps.append(spark.sparkContext.applicationId)
        keys = [list(k) for k in session._SESSION_CACHE]
        spark.stop()
    print(json.dumps(dict(calls=len(calls), apps=apps, keys=keys, n=len(ids))))
    """
)


def test_context_restart_misses_the_kept_index(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    script = RESTART_SCRIPT.format(repo=repo, path=str(tmp_path / "index"))
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    # one collect per context: the second context's first call misses
    assert res["calls"] == 2 and res["n"] == 30
    assert res["apps"][0] != res["apps"][1]
    assert [k[0] for k in res["keys"]] == [res["apps"][1]]
