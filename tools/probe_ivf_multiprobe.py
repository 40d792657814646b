"""Recall-vs-nprobe probe for ann_ivf_multiprobe_topk (VERDICT r11 #7).

The registered query fixes nprobe=2 and its pytest asserts recall
DOMINANCE over single-probe at sf0.1; this probe measures the actual
recall/cost curve at the 2M-vector replica — the evidence that the
broadcast-centroid assignment holds its ~34 s class at 2M with
multiprobe fan-out, and that nprobe buys recall at linear candidate
cost (the production tuning story: probing is a query-side choice, no
index rebuild).

Ground truth is brute-force cosine top-3 for the same 50 query vectors
(one corpus scan scoring all 50 queries per row — the 50-query twin of
cosine_topk's broadcast shape). recall@3 = |ANN top3 ∩ true top3| / 3
averaged over queries; ties broken (cosine DESC, neighbor_id ASC) on
both sides, exactly the registered plan's order.

Usage:
    python tools/scale_testdata.py /root/testdata/sf0.1 /tmp/sf100x_emb 1000 embeddings
    python tools/probe_ivf_multiprobe.py /tmp/sf100x_emb [nprobe ...]
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from cqu_bigdata_recommender_system_for_movies_spark.operators.vectors import (
    IVF_TOPK,
    N_IVF_QUERIES,
    _ivf_topk,
    cosine,
)
from cqu_bigdata_recommender_system_for_movies_spark.session import get_spark
from cqu_bigdata_recommender_system_for_movies_spark.tables import load


def _top3(pairs):
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= IVF_TOPK)
        .select("vec_id", "neighbor_id")
    )


def _collect_sets(df) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in df.collect():
        out.setdefault(int(r.vec_id), set()).add(int(r.neighbor_id))
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf100x_emb"
    nprobes = [int(a) for a in sys.argv[2:]] or [1, 2, 4]

    spark = get_spark("ivf-multiprobe-probe")
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )

    # brute-force ground truth: one corpus scan scores all 50 queries
    t0 = time.perf_counter()
    q = emb.filter(F.col("vec_id") < N_IVF_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("e_q")
    )
    truth_pairs = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            F.col("qid").alias("vec_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine("e_q", "e"), 6).alias("cosine"),
        )
    )
    truth = _collect_sets(_top3(truth_pairs))
    print(
        json.dumps(
            {"ground_truth_sec": round(time.perf_counter() - t0, 1), "queries": len(truth)}
        ),
        flush=True,
    )

    for nprobe in nprobes:
        t0 = time.perf_counter()
        # the registered ann_ivf_multiprobe_topk plan, nprobe-parameterized
        got = _collect_sets(_ivf_topk(emb, nprobe))
        wall = round(time.perf_counter() - t0, 1)
        recall = sum(
            len(got.get(qid, set()) & t) / len(t) for qid, t in truth.items()
        ) / len(truth)
        print(
            json.dumps(
                {"nprobe": nprobe, "wall_sec": wall, "recall_at_3": round(recall, 4)}
            ),
            flush=True,
        )
        del got
        gc.collect()


if __name__ == "__main__":
    main()
