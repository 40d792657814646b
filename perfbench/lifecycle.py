"""recommender_lifecycle: the product path, run as timed phases.

ratings -> seeded split -> ALS fit + RMSE -> fold-in of held-out users ->
streaming interest fold -> candidate index -> ANN index -> ANN index
maintenance -> serving. Each phase calls the engine's module functions
directly, below the registry's per-session caches, so every pass pays
the full retrain a user pays. The maintenance phase runs the index's
write path (`maintain_index` with versioned upserts, tombstones and
purging compactions) on its own table; serving reads the index the ANN
phase built. Serving then answers SERVE_WARM untimed and SERVE_BATCHES
timed request batches; one request batch is a candidate top-k for
SERVE_USERS users plus an ANN top-k for SERVE_QUERIES query vectors.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import functions as F

import harness

HOLDOUT_MOD = 20  # 1 in 20 users is held out of the fit and folded in
STREAM_SLICES = 2  # a few large interest batches: per-row work dominates
SERVE_BATCHES = 10
# untimed request batches first: a serving plan's first call compiles its
# generated code, which would otherwise make the first timed batch the tail
SERVE_WARM = 2
SERVE_USERS = 50
SERVE_QUERIES = 4
TOP_K = 10
RMSE_BAND = (0.0, 25.0)  # ratings 1..50: a broken fit sits near their std
ANN_SLICES = 5  # maintain_index's upsert schedule plus one tombstone slice
ANN_COMPACT_EVERY = 2

EVENTS_SCHEMA = ("event_id LONG, ts TIMESTAMP_NTZ, user_id LONG, event_type STRING, "
                 "value DOUBLE, props STRING")


def stage_event_slices(events_path: str, out_dir: str, n: int, rng: random.Random) -> None:
    """Write the events as `n` files of consecutive event time, oldest
    first by modification time, so a file stream reads them in time order
    and the streamed fold equals the one-shot fold. The seed draws the cut
    points: slice sizes vary between half and one and a half times the
    mean. Untimed input preparation (pyarrow, no Spark job)."""
    t = pq.read_table(events_path).sort_by([("ts", "ascending"), ("event_id", "ascending")])
    weights = [rng.uniform(0.5, 1.5) for _ in range(n)]
    total, acc, cuts = sum(weights), 0.0, [0]
    for w in weights:
        acc += w
        cuts.append(round(t.num_rows * acc / total))
    os.makedirs(out_dir)
    base = time.time() - 10 * n
    for i, (a, b) in enumerate(zip(cuts, cuts[1:])):
        path = os.path.join(out_dir, f"slice-{i:03d}.parquet")
        pq.write_table(t.slice(a, b - a), path)
        os.utime(path, (base + 2 * i, base + 2 * i))


def run_interest_stream(spark, stage_dir: str, sink: str):
    """Drain the staged events through the interest fold, one file per
    trigger, into a memory sink; returns the latest row per user."""
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.interest import (
        interest_fold_stream,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
        derive_state_partitions,
    )
    from pyspark.sql import Window

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    # State partitions are fixed at a stream's first start from the
    # shuffle width; size them the way the engine's own streams do.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(derive_state_partitions(spark)))
    try:
        q = (
            interest_fold_stream(stream)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    try:
        q.awaitTermination()
    finally:
        q.stop()
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        spark.table(sink)
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
    )


def rebuild_cells(emb_path: str, n_cells: int) -> dict[int, np.ndarray]:
    """vec_id -> cosine of its final version against each quantizer cell,
    for every id alive at the end of maintain_index's schedule. With
    mod = ANN_SLICES - 1, ids with vec_id % mod == 2 are tombstoned,
    ids with vec_id % mod < mod - 2 are re-embedded as their negation,
    and the quantizer cells are the original vectors with vec_id < n_cells.
    """
    t = pq.read_table(emb_path, columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    vecs = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    mod = ANN_SLICES - 1
    cents = vecs[ids < n_cells][np.argsort(ids[ids < n_cells])]
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    out = {}
    for vid, v in zip(ids, vecs):
        if vid % mod == 2:
            continue
        final = -v if vid % mod < mod - 2 else v
        out[int(vid)] = cents @ (final / np.linalg.norm(final))
    return out


def oracle_by_key(data_dir: str, query: str, key: str, rank: str, value: str) -> dict:
    """key -> [(rank, value), ...] in rank order, from a registered query's
    DuckDB oracle: the served answers the engine must return."""
    from analytics import duck_connection
    from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import all_oracles

    con = duck_connection(data_dir)
    try:
        res = con.execute(f"SELECT {key}, {rank}, {value} FROM ({all_oracles()[query]})")
        rows = res.fetchall()
    finally:
        con.close()
    out: dict[int, list] = {}
    for k, r, v in rows:
        out.setdefault(int(k), []).append((int(r), v))
    return {k: sorted(v) for k, v in out.items()}


class RecommenderLifecycle:
    name = "recommender_lifecycle"
    warm_passes = 0  # one pass is most of a run; the budget leaves no room for another
    min_passes = 1

    def __init__(self, ctx):
        self.ctx = ctx
        # what serving must return: the registered serving queries' oracles
        # over the same inputs (the fold consumes every event)
        self.recs_expected = oracle_by_key(
            ctx.data_dir, "streaming_recommend_candidates", "user_id", "rnk",
            "struct_pack(item_ref, score)")
        self.ann_expected = oracle_by_key(
            ctx.data_dir, "streaming_ann_search", "query_id", "rank", "neighbor_id")
        from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
            derive_ann_cells,
        )

        self.cell_cos = rebuild_cells(os.path.join(ctx.data_dir, "embeddings.parquet"),
                                      derive_ann_cells(ctx.data_dir))
        self.passes = 0

    def run_pass(self, rng: random.Random) -> dict:
        from cqu_bigdata_recommender_system_for_movies_spark import tables
        from cqu_bigdata_recommender_system_for_movies_spark.ml.als import fit_als
        from cqu_bigdata_recommender_system_for_movies_spark.ml.foldin import (
            fold_in_user_factors,
        )
        from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_index import (
            ANN_MAX_BUCKETS,
            _ann_cents_relation,
            apply_index_batch,
            derive_ann_cells,
            derive_fold_parts,
            maintain_index,
        )
        from cqu_bigdata_recommender_system_for_movies_spark.streaming.ann_search import (
            score_query_batch,
        )
        from cqu_bigdata_recommender_system_for_movies_spark.streaming.candidates import (
            build_candidate_index,
            score_candidates_batch,
        )
        from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
            item_profiles,
        )
        from pyspark.ml.evaluation import RegressionEvaluator

        ctx, spark, data_dir = self.ctx, self.ctx.spark, self.ctx.data_dir
        seed = rng.randrange(2**31)
        self.passes += 1
        tag = f"p{self.passes}_{os.getpid()}"
        phase_s: dict[str, float] = {}
        phase_cpu_s: dict[str, float] = {}
        layer: dict[str, float] = {}
        ops: list[dict] = []
        groups: list[str] = []  # job groups of this pass's ops
        mem = StorageLevel.MEMORY_AND_DISK

        def tag_jobs(label: str) -> str | None:
            if not ctx.counters:
                return None
            groups.append(ctx.counters.new_group(label))
            return groups[-1]

        def timed(phase: str, span_layer: str, fn, verify=None):
            """Run one phase as one op: time it, tag its jobs, check it."""
            nonlocal untimed
            group = tag_jobs(phase)
            with harness.OpClock() as clock, ctx.tracer.span(phase, span_layer):
                out = fn()
            phase_s[phase] = clock.s
            phase_cpu_s[phase] = clock.cpu_s
            if group:
                layer[f"{phase}_jobs"] = ctx.counters.count([group])["jobs"]
            t0 = time.perf_counter()
            why = verify(out) if verify else None
            untimed += time.perf_counter() - t0
            if why:
                ctx.log(f"{phase}: {why}")
            ops.append({"name": phase, "s": clock.s, "cpu_s": clock.cpu_s, "jit_s": clock.jit_s,
                        "steal": clock.steal, "ok": why is None})
            return out

        def in_band(x: float) -> bool:
            return RMSE_BAND[0] < x < RMSE_BAND[1]

        # inputs the phases consume; built untimed
        stage = os.path.join(ctx.scratch, f"interest_{tag}")
        stage_event_slices(os.path.join(data_dir, "events.parquet"), stage, STREAM_SLICES, rng)
        emb = tables.load(spark, data_dir, "embeddings").select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e"))
        ann_table = f"perfbench_ann_{tag}"
        ann_loc = os.path.join(ctx.scratch, ann_table)

        def load_ratings():
            df = (tables.ratings(spark, data_dir).select("user_id", "item_id", "rating")
                  .localCheckpoint(eager=True, storageLevel=mem))
            layer["ratings_rows"] = df.count()
            return df

        held = F.pmod(F.xxhash64("user_id", F.lit(seed)), F.lit(HOLDOUT_MOD)) == 0

        def split():
            train, test = ratings.filter(~held).randomSplit([0.8, 0.2], seed=seed)
            return (train.localCheckpoint(eager=True, storageLevel=mem),
                    test.localCheckpoint(eager=True, storageLevel=mem))

        def rmse_of(model, test):
            return RegressionEvaluator(
                metricName="rmse", labelCol="rating", predictionCol="prediction"
            ).evaluate(model.transform(test))

        def foldin():
            factors = model.itemFactors.select(
                F.col("id").alias("item_id"),
                F.transform("features", lambda v: v.cast("double")).alias("f"),
            )
            joined = (
                ratings.filter(held)
                .select("user_id", "item_id", F.col("rating").cast("double").alias("rating"))
                .join(factors, "item_id")
                .localCheckpoint(eager=True)
            )
            solved = fold_in_user_factors(joined)
            dot = F.aggregate(F.zip_with("x", "f", lambda a, b: a * b), F.lit(0.0),
                              lambda acc, v: acc + v)
            return (
                joined.join(solved, "user_id")
                .agg(F.count_distinct("user_id").alias("users"),
                     F.sqrt(F.avg((dot - F.col("rating")) ** 2)).alias("rmse"))
                .first()
            )

        def candidates_build():
            profiles = item_profiles(spark, data_dir).localCheckpoint(eager=True)
            return build_candidate_index(profiles)

        def ann_build():
            n_cells = derive_ann_cells(data_dir)
            quantizer = _ann_cents_relation(emb, n_cells)
            apply_index_batch(
                spark, ann_table, ann_loc, emb, quantizer, 0, min(ANN_MAX_BUCKETS, n_cells),
                check_ledger=False, carry=("e",),
                fold_parts=derive_fold_parts(spark, tables.table_row_count(data_dir, "embeddings")),
            )
            return quantizer

        audit: list[dict] = []

        def ann_maintain():
            return maintain_index(
                spark, data_dir, f"perfbench_maint_{tag}", ANN_SLICES,
                compact_every=ANN_COMPACT_EVERY, audit=audit, upsert=True, deletes=True,
            ).collect()

        untimed = 0.0  # time the pass spends checking outputs and drawing requests
        t_pass = time.perf_counter()
        ratings = timed("ratings", "tables", load_ratings)
        train, test = timed("split", "ml.als", split)
        model = timed("als_fit", "ml.als", lambda: fit_als(train))
        rmse = timed("als_eval", "ml.als", lambda: rmse_of(model, test),
                     lambda r: None if in_band(r) else f"RMSE {r} outside {RMSE_BAND}")
        timed("foldin", "ml.foldin", foldin,
              lambda r: None if r["users"] > 0 and in_band(r["rmse"])
              else f"{r['users']} users, RMSE {r['rmse']}")
        mark_interest = ctx.listener.mark()
        users = timed("interest", "streaming.interest", lambda: run_interest_stream(
            spark, stage, f"interest_{tag}").localCheckpoint(eager=True))
        cents, item_dim, _ = timed("candidates_build", "streaming.candidates",
                                   candidates_build)
        ann_cents = timed("ann_build", "streaming.ann_search", ann_build)
        mark_maintain = ctx.listener.mark()
        snap = timed("ann_maintain", "streaming.ann_index", ann_maintain, self.check_index)
        index_df = spark.table(ann_table).select(
            F.col("vec_id").alias("neighbor_id"), "cell", F.col("e").alias("ne"))

        # serving requests, drawn by the seed
        t_setup = time.perf_counter()
        user_ids = sorted(r.user_id for r in users.select("user_id").collect())
        query_ids = sorted(self.ann_expected)
        untimed += time.perf_counter() - t_setup
        cand_s, ann_s, cand_cpu_s, ann_cpu_s = [], [], [], []
        for i in range(SERVE_WARM + SERVE_BATCHES):
            batch_users = rng.sample(user_ids, min(SERVE_USERS, len(user_ids)))
            batch_queries = rng.sample(query_ids, min(SERVE_QUERIES, len(query_ids)))
            warm = i < SERVE_WARM
            # a warm-up batch is untimed and untraced, in a job group of its own
            if warm and ctx.counters:
                ctx.counters.new_group("serve_warm")
            elif not warm:
                tag_jobs("serve_batch")
            tracer = harness.Tracer(False) if warm else ctx.tracer
            t0 = time.perf_counter()
            with harness.OpClock() as cand, tracer.span("serve_candidates", "streaming.candidates"):
                recs = score_candidates_batch(
                    users.filter(F.col("user_id").isin(batch_users)), cents, item_dim, TOP_K
                ).collect()
            with harness.OpClock() as ann, tracer.span("serve_ann", "streaming.ann_search"):
                hits = score_query_batch(
                    emb.filter(F.col("vec_id").isin(batch_queries)), ann_cents, index_df
                ).collect()
            t1 = time.perf_counter()
            why = self.check_recs(recs, batch_users) or self.check_ann(hits, batch_queries)
            untimed += time.perf_counter() - (t0 if warm else t1)
            if why:
                ctx.log(f"serve: {why}")
            if not warm:
                cand_s.append(cand.s)
                ann_s.append(ann.s)
                cand_cpu_s.append(cand.cpu_s)
                ann_cpu_s.append(ann.cpu_s)
            ops.append({"name": "serve_warm" if warm else "serve_batch", "s": cand.s + ann.s,
                        "cpu_s": cand.cpu_s + ann.cpu_s, "jit_s": cand.jit_s + ann.jit_s,
                        "steal": max(cand.steal, ann.steal), "ok": why is None})
        phase_s["serve"] = sum(cand_s) + sum(ann_s)
        pass_s = time.perf_counter() - t_pass - untimed
        progress, runs = ctx.listener.since(mark_interest)
        ann_progress, ann_runs = ctx.listener.since(mark_maintain)
        counts = ctx.counters.count(groups + runs) if ctx.counters else {}

        spark.sql(f"DROP TABLE IF EXISTS {ann_table}")
        spark.catalog.dropTempView(f"interest_{tag}")
        shutil.rmtree(ann_loc, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)
        return {
            "pass_s": pass_s,
            "pass_cpu_s": sum(o["cpu_s"] for o in ops if o["name"] != "serve_warm"),
            "pass_jit_s": sum(o["jit_s"] for o in ops if o["name"] != "serve_warm"),
            "ops": ops,
            "phase_s": phase_s,
            "layer": layer,
            "phase_cpu_s": phase_cpu_s,
            "cand_s": cand_s,
            "ann_s": ann_s,
            "cand_cpu_s": cand_cpu_s,
            "ann_cpu_s": ann_cpu_s,
            "stream_progress": [e for e in progress if e["run_id"] not in ann_runs],
            "ann_progress": ann_progress,
            "audit": audit,
            "live_rows": len(snap),
            "counts": counts,
            "rmse": rmse,
        }

    def check_recs(self, recs, users) -> str | None:
        """Each served user's top-k equals the oracle's, ranked 1..n with
        scores that do not increase with rank."""
        got: dict[int, list] = {}
        for r in recs:
            got.setdefault(int(r.user_id), []).append((int(r.rnk), (int(r.item_ref), r.score)))
        for u in users:
            rows = sorted(got.get(u, []))
            want = [(k, (int(v["item_ref"]), v["score"])) for k, v in self.recs_expected.get(u, [])]
            if rows != want:
                return f"candidates for user {u} differ from the oracle"
            scores = [s for _, (_, s) in rows]
            if any(b > a for a, b in zip(scores, scores[1:])):
                return f"user {u}: scores increase with rank"
        return None

    def check_index(self, snap) -> str | None:
        """The maintained index's final snapshot equals a rebuild from the
        final versions: one row per live id, no tombstoned id, each id in
        its nearest cell (a cell within 1e-12 of the best cosine counts as
        a tie)."""
        ids = [int(r.vec_id) for r in snap]
        if len(ids) != len(set(ids)):
            return "duplicate ids in the final snapshot"
        if set(ids) != set(self.cell_cos):
            return f"{len(set(ids) ^ set(self.cell_cos))} ids differ from the rebuild"
        for r in snap:
            cos = self.cell_cos[int(r.vec_id)]
            if r.cell is None or not 0 <= r.cell < len(cos) or cos[r.cell] < cos.max() - 1e-12:
                return f"id {r.vec_id} is in cell {r.cell}, not its nearest"
        return None

    def check_ann(self, hits, queries) -> str | None:
        got: dict[int, list] = {}
        for r in hits:
            got.setdefault(int(r.query_id), []).append((int(r["rank"]), int(r.neighbor_id)))
        for q in queries:
            if sorted(got.get(q, [])) != self.ann_expected[q]:
                return f"ANN answer for query {q} differs from the oracle"
        return None
