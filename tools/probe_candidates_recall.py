"""Recall of the candidate-pruned recommender vs the exhaustive loop.

The r12/r13 scale rows measured the pruned loop's COST (O(sqrt(catalog))
per user vs the full loop's O(catalog)); this probe measures what the
pruning COSTS IN QUALITY: recall@10 of the cell-pruned top-10 against
the exhaustive users x catalog top-10, at the same final interest
vectors — the streaming twin of tools/probe_ivf_multiprobe.py's offline
recall curve.

Both sides are computed BATCH-side for the comparison (the streaming
loop's final emission per user carries the full-fold vector, so the
batch fold is the exact same state the last micro-batch scores with —
the determinism argument the registered oracles already rely on):

  1. fold every user's complete event history into their final interest
     vector (fold_events, the pytest-twin recurrence), 6-dp rounded;
  2. inflate the catalog by --catalog-mult (probe_streaming_scale's
     deterministic jittered replication);
  3. pruned top-10: derive_rec_cells width, REC_NPROBE nearest cells,
     cell-local cosine — the shipped `cell_topk` ranking that
     score_candidates_batch runs;
  4. exhaustive top-10: users x full catalog cosine;
  5. recall@10 = |pruned  exhaustive| / |exhaustive| averaged over
     users (ties broken identically on both sides: score DESC, item_ref
     ASC).

Usage: python tools/probe_candidates_recall.py [SF_DIR] [--catalog-mult=N]
       [--cells=N] [--nprobe=N] [--users=N]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from cqu_bigdata_recommender_system_for_movies_spark.functions.nearcell import (
    seed_quantizer,
)
from cqu_bigdata_recommender_system_for_movies_spark.operators.vectors import (
    cell_topk,
    cosine,
    serving_index,
)
from cqu_bigdata_recommender_system_for_movies_spark.session import get_spark
from cqu_bigdata_recommender_system_for_movies_spark.streaming.candidates import (
    REC_NPROBE,
    derive_rec_cells,
    item_cell_assignments,
)
from cqu_bigdata_recommender_system_for_movies_spark.tables import load


def _folded_users(spark, sf_dir, limit_users):
    """Final per-user interest vectors via the pytest-twin recurrence
    (grouped-map pandas fold — one group per user, the offline batch
    equivalent of the streaming fold's final emission)."""
    from cqu_bigdata_recommender_system_for_movies_spark.shipping import (
        ensure_shipped,
    )
    from cqu_bigdata_recommender_system_for_movies_spark.streaming.interest import (
        DIM,
    )

    ensure_shipped(spark)
    events = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    if limit_users:
        events = events.filter(F.col("user_id") % 100 < limit_users)

    def fold(pdf):
        import numpy as np
        import pandas as pd

        from cqu_bigdata_recommender_system_for_movies_spark.streaming.interest import (
            fold_events,
        )

        out_u, out_v = [], []
        for uid, grp in pdf.groupby("user_id", sort=False):
            vec = fold_events(np.zeros(DIM), grp)
            out_u.append(int(uid))
            out_v.append([round(float(x), 6) for x in vec])
        return pd.DataFrame({"user_id": out_u, "interest": out_v})

    return events.groupBy(F.pmod("user_id", F.lit(256))).applyInPandas(
        fold, schema="user_id long, interest array<double>"
    )


def main() -> None:
    catalog_mult, n_cells, nprobe, limit_users = 1, 0, REC_NPROBE, 0
    args = []
    for a in sys.argv[1:]:
        if a.startswith("--catalog-mult="):
            catalog_mult = int(a.split("=", 1)[1])
        elif a.startswith("--cells="):
            n_cells = int(a.split("=", 1)[1])
        elif a.startswith("--nprobe="):
            nprobe = int(a.split("=", 1)[1])
        elif a.startswith("--users="):
            limit_users = int(a.split("=", 1)[1])
        else:
            args.append(a)
    sf_dir = args[0] if args else "/root/testdata/sf0.1"

    spark = get_spark("candidates-recall-probe")
    sys.path.insert(0, "tools")
    from probe_streaming_scale import _inflate_catalog

    from cqu_bigdata_recommender_system_for_movies_spark.streaming.queries import (
        item_profiles,
    )

    profiles = _inflate_catalog(
        spark, item_profiles(spark, sf_dir).localCheckpoint(eager=True), catalog_mult
    )
    n_items = profiles.count()
    width = n_cells or derive_rec_cells(n_items)
    cents = seed_quantizer(profiles, "item_ref", "profile", width)
    item_cells = item_cell_assignments(profiles, cents).localCheckpoint(eager=True)
    users = _folded_users(spark, sf_dir, limit_users).localCheckpoint(eager=True)
    n_users = users.count()

    w = Window.partitionBy("user_id").orderBy(F.desc("score"), F.asc("item_ref"))

    t0 = time.perf_counter()
    index = serving_index(item_cells, "item_ref", "profile")
    pruned = (
        cell_topk(
            users,
            cents,
            index,
            nprobe,
            10,
            rounded=True,
            exclude_self=False,
            qid="user_id",
            vec="interest",
            out=("user_id", None, "item_ref", None),
        ).localCheckpoint(eager=True)
    )
    pruned_sec = round(time.perf_counter() - t0, 1)

    t0 = time.perf_counter()
    exhaustive = (
        users.crossJoin(F.broadcast(profiles))
        .select(
            "user_id",
            "item_ref",
            F.round(cosine("interest", "profile"), 6).alias("score"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("user_id", "item_ref")
        .localCheckpoint(eager=True)
    )
    exhaustive_sec = round(time.perf_counter() - t0, 1)

    hits = pruned.join(exhaustive, ["user_id", "item_ref"]).count()
    denom = exhaustive.count()
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "n_users": n_users,
                "n_items": n_items,
                "n_cells": width,
                "nprobe": nprobe,
                "pruned_sec": pruned_sec,
                "exhaustive_sec": exhaustive_sec,
                "recall_at_10": round(hits / denom, 4) if denom else None,
                "hits": hits,
                "denom": denom,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
