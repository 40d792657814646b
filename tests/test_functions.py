"""Column-expression function library (F6-F8, F10) against numpy."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cqu_bigdata_recommender_system_for_movies_spark.functions import (
    cosine_similarity,
    dot_product,
    parse_vector,
    serialize_vector,
)
from cqu_bigdata_recommender_system_for_movies_spark.functions.vector_ops import (
    interest_update,
)


@pytest.fixture(scope="module")
def vec_df(spark):
    return spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "a array<double>, b array<double>"
    )


def test_dot_product(vec_df):
    got = vec_df.select(dot_product("a", "b").alias("d")).collect()[0].d
    assert got == pytest.approx(32.0)


def test_cosine_epsilon_matches_reference(vec_df):
    # np.dot(a,b)/(||a||*||b|| + 1e-8) — reference streaming_rec.py:111
    a, b = np.array([1.0, 2.0, 3.0]), np.array([4.0, 5.0, 6.0])
    exp = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b) + 1e-8))
    got = vec_df.select(cosine_similarity("a", "b").alias("c")).collect()[0].c
    assert got == pytest.approx(exp, rel=1e-12)


def test_serialize_parse_roundtrip(vec_df):
    out = vec_df.select(
        parse_vector(serialize_vector("a")).alias("back")
    ).collect()[0].back
    assert out == [1.0, 2.0, 3.0]


def test_interest_update_rule(spark):
    # U := U*(1-λr) + T*(λr) with λ=0.05, r=4 (reference streaming_rec.py:99)
    df = spark.createDataFrame(
        [([0.5, 0.5], [1.0, 0.0], 4.0)], "u array<double>, t array<double>, r double"
    )
    got = df.select(interest_update("u", "t", F.col("r")).alias("o")).collect()[0].o
    lam_r = 0.05 * 4.0
    exp = [0.5 * (1 - lam_r) + 1.0 * lam_r, 0.5 * (1 - lam_r)]
    assert got == pytest.approx(exp)


def test_near_dup_pairs_nontrivial(spark, sf_dir):
    """The injected perturbed twins must actually surface: a green oracle
    match on 0-1 rows verifies nothing (round-1 verdict)."""
    from cqu_bigdata_recommender_system_for_movies_spark.operators.vectors import (
        embedding_near_dup_pairs,
    )

    rows = embedding_near_dup_pairs(spark, sf_dir).collect()
    assert len(rows) >= 5
    for r in rows:
        assert r.cosine >= 0.99
        assert r.vec_b == r.vec_a + 1000000  # only twin pairs clear 0.99


def test_set_ops_except_nontrivial(spark, sf_dir):
    from cqu_bigdata_recommender_system_for_movies_spark.operators.relational import (
        set_ops_except,
    )

    assert set_ops_except(spark, sf_dir).count() > 0


def test_embedding_pca_top_component(spark, sf_dir):
    from cqu_bigdata_recommender_system_for_movies_spark.operators.vectors import (
        embedding_pca_top_component,
        embedding_pca_top_component_detail,
    )

    rows = embedding_pca_top_component_detail(spark, sf_dir).collect()
    assert len(rows) == 64  # one weight per embedding dimension
    assert rows[0].position == 0 and rows[-1].position == 63
    norm = sum(r.weight**2 for r in rows) ** 0.5
    assert abs(norm - 1.0) < 1e-4  # unit eigenvector
    assert rows[0].weight >= 0  # sign convention
    assert rows[0].eigenvalue > 0  # top covariance eigenvalue is positive
    # the registered invariant row must agree with this independent check
    inv = embedding_pca_top_component(spark, sf_dir).collect()[0]
    assert inv.n_components == 64
    assert inv.unit_norm and inv.sign_fixed and inv.eigenvalue_positive


def test_salted_topk_rejects_reserved_columns(spark, sf_dir):
    """ADVICE r6: withColumn silently overwrites same-named input columns,
    so salted_topk must refuse inputs carrying its temp/output names."""
    import pytest

    from cqu_bigdata_recommender_system_for_movies_spark.operators.topk import (
        salted_topk,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.tables import ratings

    r = ratings(spark, sf_dir).withColumn("rnk", F.lit(1))
    with pytest.raises(ValueError, match="rnk"):
        salted_topk(r, ["item_id"], [F.desc("rating")], 5, F.col("user_id"))


def test_shuffle_partitions_helper_handles_non_numeric_conf(spark):
    """ADVICE r9: managed runtimes set spark.sql.shuffle.partitions to
    "auto" under AQE auto-tuning; the shared helper must fall back to
    defaultParallelism instead of raising ValueError."""
    from cqu_bigdata_recommender_system_for_movies_spark.session import shuffle_partitions

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    assert shuffle_partitions(spark) == int(prev)

    # OSS Spark type-checks this conf as int, so "auto" can only appear on
    # managed runtimes — simulate one with a stub that mirrors the API.
    class _Conf:
        def get(self, key, default=None):
            return "auto"

    class _Ctx:
        defaultParallelism = 7

    class _FakeSpark:
        conf = _Conf()
        sparkContext = _Ctx()

    assert shuffle_partitions(_FakeSpark()) == 7

    class _NoCtx:
        conf = _Conf()

        @property
        def sparkContext(self):
            raise RuntimeError("no context")

    assert shuffle_partitions(_NoCtx(), default=13) == 13


def _scored_cells(arr, vec_col, vecf, normf, idf, ne):
    """(cos, -id) structs of ``vec_col`` against every struct of ``arr``."""
    from cqu_bigdata_recommender_system_for_movies_spark.operators.vectors import (
        EPS,
        dot,
    )

    return F.transform(
        arr,
        lambda c: F.struct(
            (dot(F.col(vec_col), c[vecf]) / (ne * c[normf] + F.lit(EPS))).alias("cos"),
            (-c[idf]).alias("negid"),
        ),
    )


def _ranked_ids(scored, k):
    """The ids of the top-k (cos DESC, id ASC) structs of ``scored``."""
    return F.transform(
        F.slice(F.reverse(F.array_sort(scored)), 1, k), lambda s: -s["negid"]
    )


def _let_norm(vec_col, body):
    """``body(ne)`` with the row norm let-bound once (higher-order
    functions have no CSE)."""
    from cqu_bigdata_recommender_system_for_movies_spark.operators.vectors import dot

    return F.element_at(F.transform(F.array(F.sqrt(dot(vec_col, vec_col))), body), 1)


def _nearest_cells(vec_col: str, k: int):
    """Reference: the interpreted fold over the single-row `__cents`
    relation (cid, ce, nc) — top-k cells, cos DESC, ties to the smaller
    cid."""
    return _let_norm(
        vec_col,
        lambda ne: _ranked_ids(
            _scored_cells(F.col("__cents"), vec_col, "ce", "nc", "cid", ne), k
        ),
    )


def _two_level_cells(vec_col: str, k: int, probe: int):
    """Reference: the interpreted two-level selection over the single-row
    `__reps` (rid, re, nr) and `__gcents` (cid, ce, nc, gid) relations —
    the top-``probe`` representatives, then the top-k cells of their
    groups."""

    def body(ne):
        return F.element_at(
            F.transform(
                F.array(
                    _ranked_ids(
                        _scored_cells(F.col("__reps"), vec_col, "re", "nr", "rid", ne),
                        probe,
                    )
                ),
                lambda gids: _ranked_ids(
                    _scored_cells(
                        F.filter(
                            F.col("__gcents"),
                            lambda c: F.array_contains(gids, c["gid"]),
                        ),
                        vec_col,
                        "ce",
                        "nc",
                        "cid",
                        ne,
                    ),
                    k,
                ),
            ),
            1,
        )

    return _let_norm(vec_col, body)


def _rows(flat):
    return [
        (int(c), v.tolist(), float(n)) for c, v, n in zip(flat.cids, flat.cmat, flat.ncs)
    ]


def _flat_relation(spark, quant):
    return spark.createDataFrame(
        [(_rows(quant),)],
        "__cents array<struct<cid:int,ce:array<double>,nc:double>>",
    )


def _two_level_relations(spark, quant):
    reps = spark.createDataFrame(
        [(_rows(quant.reps),)],
        "__reps array<struct<rid:int,re:array<double>,nr:double>>",
    )
    gcents = spark.createDataFrame(
        [([r + (int(g),) for r, g in zip(_rows(quant.cells), quant.gids)],)],
        "__gcents array<struct<cid:int,ce:array<double>,nc:double,gid:int>>",
    )
    return reps.crossJoin(gcents)


def test_nearest_cells_udf_matches_interpreted_fold(spark, sf_dir):
    """The Arrow-vectorized flat selection (functions/nearcell.py) must
    be BIT-identical to the interpreted fold the oracles mirror — same
    IEEE op order, same comparator, same smaller-cid tie-break — at
    k = 1 (scalar and array forms) and the probe ks, on the real corpus
    against the real derived quantizer."""
    from cqu_bigdata_recommender_system_for_movies_spark.functions.nearcell import (
        cell_udf,
        cells_udf,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
        _ann_cents_relation,
        derive_ann_cells,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.tables import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    quant = _ann_cents_relation(emb, derive_ann_cells(sf_dir))
    with_cents = emb.crossJoin(F.broadcast(_flat_relation(spark, quant)))

    for k in (1, 2, 4):
        ref = {
            r.vec_id: list(r.cells)
            for r in with_cents.select(
                "vec_id", _nearest_cells("e", k).alias("cells")
            ).collect()
        }
        got = {
            r.vec_id: list(r.cells)
            for r in emb.select(
                "vec_id", cells_udf(quant, k)(F.col("e")).alias("cells")
            ).collect()
        }
        assert got == ref, f"k={k}: vectorized top-k diverged from the fold"

    ref1 = {
        r.vec_id: r.cell
        for r in with_cents.select(
            "vec_id", F.element_at(_nearest_cells("e", 1), 1).alias("cell")
        ).collect()
    }
    got1 = {
        r.vec_id: r.cell
        for r in emb.select("vec_id", cell_udf(quant)(F.col("e")).alias("cell")).collect()
    }
    assert got1 == ref1


def test_nearest_cells_udf_null_and_tie_semantics():
    """An exact cosine tie selects the smaller cid — including the
    -0.0 vs +0.0 edge: Spark orders doubles with
    SQLOrderingUtil.compareDoubles, whose primitive ``==`` check makes
    -0.0 and +0.0 EQUAL (java.lang.Double.compare would rank
    -0.0 < +0.0; the key normalizes signed zeros so both configurations
    fall through to the cid tie-break, matching Spark's comparator by
    construction)."""
    from cqu_bigdata_recommender_system_for_movies_spark.functions.nearcell import (
        Flat,
    )

    # seeds y and -y; query along x gives dot +0.0 with one seed and
    # -0.0 with the other. Under Spark's ==-based comparator the two
    # cosines TIE, so the smaller cid wins in BOTH sign placements —
    # the second is exactly the configuration where the raw total-order
    # key would diverge (+0.0 on the larger cid).
    E = np.array([[1.0, 0.0]])
    seeds = [(3, [0.0, 1.0], 1.0), (7, [0.0, -1.0], 1.0)]
    assert Flat.of(seeds).topk(E, 2).tolist() == [[3, 7]]
    seeds_flipped = [(3, [0.0, -1.0], 1.0), (7, [0.0, 1.0], 1.0)]
    assert Flat.of(seeds_flipped).topk(E, 2).tolist() == [[3, 7]]
    # a true bitwise tie falls to the smaller cid
    seeds_tie = [(5, [0.0, 1.0], 1.0), (9, [0.0, 1.0], 1.0)]
    top = Flat.of(seeds_tie).topk(np.array([[0.5, 0.5]]), 2)
    assert top.tolist() == [[5, 9]]


def test_nearcell_eps_matches_vectors():
    """nearcell.EPS is a by-value copy of operators.vectors.EPS (a
    module-level import would pull the whole registry into every UDF
    worker import); silent drift would break the bit-exactness contract
    of every vectorized twin — pin the equality."""
    from cqu_bigdata_recommender_system_for_movies_spark.functions import nearcell
    from cqu_bigdata_recommender_system_for_movies_spark.operators import vectors

    assert nearcell.EPS == vectors.EPS


def test_two_level_cell_udf_masks_unfilled_sentinel(spark):
    """A vector whose probed level-1 groups own ZERO member cells gets
    the -1 unfilled sentinel from TwoLevel.topk; the scalar UDF must
    surface that as NULL (the array form drops the slot), never as a
    real cell id -1."""
    from cqu_bigdata_recommender_system_for_movies_spark.functions.nearcell import (
        Flat,
        TwoLevel,
        cell_udf,
        cells_udf,
    )

    # two reps; every cell grouped under rep 0; probe=1 — a query much
    # closer to rep 1 probes only the cell-less group
    reps = Flat.of([(0, [1.0, 0.0], 1.0), (1, [0.0, 1.0], 1.0)])
    cells = Flat.of([(0, [1.0, 0.0], 1.0), (2, [0.9, 0.1], 0.905538)])
    quant = TwoLevel(reps, cells, np.array([0, 0]), 1)
    assert quant.topk(np.array([[0.0, 1.0]]), 1).tolist() == [[-1]]
    # the real UDFs end to end: the sentinel row comes back as NULL / []
    df = spark.createDataFrame(
        [([0.0, 1.0],), ([1.0, 0.0],)], "e array<double>"
    )
    got = df.select(
        cell_udf(quant)(F.col("e")).alias("cell"),
        cells_udf(quant, 2)(F.col("e")).alias("cells"),
    ).collect()
    rows = sorted((r.cell is None, r.cell, list(r.cells)) for r in got)
    assert rows == [(False, 0, [0, 2]), (True, None, [])]


def test_two_level_cells_udf_matches_interpreted_expression(spark, sf_dir):
    """The Arrow-vectorized hierarchical selection (TwoLevel.topk) must
    be BIT-identical to the interpreted two-level expression at the
    assignment (k=1, scalar and array) and serving (k=SEARCH_NPROBE)
    shapes, on the real corpus against the real derived two-level
    quantizer."""
    import cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index as ai
    from cqu_bigdata_recommender_system_for_movies_spark.functions.nearcell import (
        cell_udf,
        cells_udf,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.tables import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    quant = ai.two_level_quantizer(emb, ai.derive_ann_cells(sf_dir))
    with_seeds = emb.crossJoin(F.broadcast(_two_level_relations(spark, quant)))
    for k in (1, ai.SEARCH_NPROBE):
        ref = {
            r.vec_id: list(r.cells)
            for r in with_seeds.select(
                "vec_id", _two_level_cells("e", k, quant.probe).alias("cells")
            ).collect()
        }
        got = {
            r.vec_id: list(r.cells)
            for r in emb.select(
                "vec_id", cells_udf(quant, k)(F.col("e")).alias("cells")
            ).collect()
        }
        assert got == ref, f"k={k}: vectorized hierarchical selection diverged"
    ref1 = {
        r.vec_id: r.cell
        for r in with_seeds.select(
            "vec_id",
            F.element_at(_two_level_cells("e", 1, quant.probe), 1).alias("cell"),
        ).collect()
    }
    got1 = {
        r.vec_id: r.cell
        for r in emb.select("vec_id", cell_udf(quant)(F.col("e")).alias("cell")).collect()
    }
    assert got1 == ref1
