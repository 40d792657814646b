"""Online SimHash near-duplicate detection over a document stream.

The batch query (operators/dedup.py ``simhash_near_dup_pairs``) finds
the near-duplicate pairs of a static corpus. The online form checks each
arriving document against everything ingested before it, with the
fingerprint index kept in sharded streaming state (streaming/state.py).

Invariants:
- ``fingerprint_col`` computes each row's 64-bit SimHash with column
  expressions only, bit for bit the batch side's majority rule, so a
  stream needs no aggregation state to fingerprint.
- A document lands in Manku's 4 disjoint 16-bit band buckets
  (operators/dedup.py ``SIMHASH_BANDS``); every pair within hamming
  distance <= 3 shares a bucket, so comparing within buckets loses no
  pair.
- State holds one row per (bucket, distinct fingerprint) group:
  ``(fp, min_id, cnt)``. It grows with distinct fingerprints, not
  documents, and exact duplicates add only a count.
- The answer is exact with no member lists, because under the final
  ``min`` only two facts about a group matter: an arriving doc d's best
  partner in a matching group is the group min (the direct row
  ``(d, min)``), and every member above d, present or future, gains d
  as a partner (the correction row ``(grp=f, of_id=d)``, which the
  caller joins back to docs on ``fp == f`` and filters to
  ``of_id < doc_id``). ``min`` over both kinds per doc equals the batch
  left-join-min answer however the stream is split into batches: of
  any qualifying pair, the later arrival finds the other's group in
  state. Each shard's batch slice is processed in ascending doc_id.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cqu_bigdata_recommender_system_for_movies_spark.operators.dedup import (
    HAMMING_MAX,
    SIMHASH_BANDS,
    SIMHASH_BLOCK_BITS,
)
from cqu_bigdata_recommender_system_for_movies_spark.streaming.state import sharded_fold
from cqu_bigdata_recommender_system_for_movies_spark.tables import md5_long, tokens

# dup_id set -> direct pair row; grp set (dup_id null) -> group
# correction row "every doc with fp == grp and doc_id > of_id has
# partner of_id" (module docstring)
OUTPUT_SCHEMA = "dup_id BIGINT, of_id BIGINT, grp STRING"


def fingerprint_col() -> Column:
    """64-char bit-0-first SimHash fingerprint from the ``__hvs``
    distinct-token-hash array, computable per row (streaming-safe, no
    shuffle): identical output to operators/dedup.py:simhash_fingerprint
    for every doc with >= 1 token (docs with no tokens have NO
    fingerprint there; filter on token presence before using this).

    ONE ``aggregate`` expression carrying (n, per-bit counts) in a
    struct accumulator and rendering the majority-rule bit string in the
    FINISH lambda. The counts MUST NOT live in a separate projected
    column: Catalyst's project collapse inlines a referenced column's
    expression into every use site, and a ``__counts[b]`` reference
    inside the 64-element transform re-ran the whole popcount fold 64x
    per document (~10 ms/doc interpreted — higher-order functions don't
    codegen), which made the streaming query 50 s at sf0.1. Single
    expression = single fold."""
    return F.expr(
        """
        aggregate(
            __hvs,
            named_struct(
                'n', CAST(0 AS BIGINT),
                'c', array_repeat(CAST(0 AS BIGINT), 64)),
            (acc, x) -> named_struct(
                'n', acc.n + 1,
                'c', zip_with(
                    acc.c,
                    transform(sequence(0, 63), b ->
                        CASE WHEN b < 32
                             THEN shiftright(x.hv1, CAST(b AS INT)) & 1
                             ELSE shiftright(x.hv2, CAST(b - 32 AS INT)) & 1
                        END),
                    (a, c) -> a + c)),
            acc -> concat_ws('', transform(sequence(0, 63), b ->
                CASE WHEN 2 * acc.c[b] >= acc.n THEN '1' ELSE '0' END)))
        """
    )


def token_hash_structs() -> Column:
    """array<struct<hv1,hv2>> of DISTINCT md5 token-hash pairs — the
    row-local twin of operators/dedup.py:_token_hashes_df (hash first,
    distinct on the fixed-width pair)."""
    return F.array_distinct(
        F.transform(
            tokens(),
            lambda w: F.struct(md5_long(w).alias("hv1"), md5_long(w, 9).alias("hv2")),
        )
    )


def with_fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fp): per-row fingerprints for docs with >= 1 token. The
    whole popcount fold + bit render is ONE ``aggregate`` expression
    (see fingerprint_col for why it must not be split across projected
    columns) — all JVM expression evaluation, usable under a streaming
    plan because nothing aggregates across rows. The token-presence
    filter tests the raw token array (no md5), so the hashed ``__hvs``
    array is referenced exactly once."""
    has_tokens = F.size(tokens()) > 0
    return (
        docs.filter(has_tokens)
        .withColumn("__hvs", token_hash_structs())
        .select("doc_id", fingerprint_col().alias("fp"))
    )


def banded(fps: DataFrame) -> DataFrame:
    """Explode each (doc_id, fp) into its 4 (band, key) bucket rows."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.substring(
                    "fp", b * SIMHASH_BLOCK_BITS + 1, SIMHASH_BLOCK_BITS
                ).alias("key"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    return fps.select("doc_id", "fp", F.explode(bands).alias("bk")).select(
        "doc_id", "fp", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def _fp_int(fp: str) -> int:
    return int(fp[::-1], 2)  # bit-0-first string -> unsigned 64-bit int


def detect_bucket_dups(
    batch: pd.DataFrame, table: pd.DataFrame | None
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Check one shard's batch slice against its (bk, fp, min_id, cnt)
    group table, bucket by bucket, in ascending doc_id. Per arriving doc
    d it emits one direct row ``(d, best)``, best being the smallest
    matching-group min below d, and one correction row ``(grp=f,
    of_id=d)`` per matching group f (module docstring)."""
    # bucket -> fp -> [min_id, cnt]
    buckets: dict[str, dict[str, list[int]]] = {}
    if table is not None:
        for bk, f, mn, c in zip(
            table["bk"].tolist(),
            table["fp"].tolist(),
            table["min_id"].tolist(),
            table["cnt"].tolist(),
        ):
            buckets.setdefault(bk, {})[f] = [mn, c]
    fp_ints: dict[str, int] = {}
    out_dup, out_of, out_grp = [], [], []
    batch = batch.sort_values("doc_id")
    for bk, doc_id, fp in zip(
        batch["bk"].tolist(), batch["doc_id"].tolist(), batch["fp"].tolist()
    ):
        v = fp_ints.get(fp)
        if v is None:
            v = fp_ints[fp] = _fp_int(fp)
        by_fp = buckets.setdefault(bk, {})
        best = None
        for f, group in by_fp.items():
            w = fp_ints.get(f)
            if w is None:
                w = fp_ints[f] = _fp_int(f)
            if bin((w ^ v) & 0xFFFFFFFFFFFFFFFF).count("1") > HAMMING_MAX:
                continue
            if group[0] < doc_id and (best is None or group[0] < best):
                best = group[0]
            out_dup.append(None)
            out_of.append(doc_id)
            out_grp.append(f)
        if best is not None:
            out_dup.append(doc_id)
            out_of.append(best)
            out_grp.append(None)
        group = by_fp.get(fp)
        if group is None:
            by_fp[fp] = [doc_id, 1]
        else:
            group[0] = min(group[0], doc_id)
            group[1] += 1
    table = pd.DataFrame(
        [(bk, f, mn, c) for bk, by_fp in buckets.items() for f, (mn, c) in by_fp.items()],
        columns=["bk", "fp", "min_id", "cnt"],
    )
    out = pd.DataFrame(
        {
            "dup_id": pd.array(out_dup, dtype="Int64"),
            "of_id": out_of,
            "grp": out_grp,
        }
    )
    return table, out


def dedup_stream(stream_docs: DataFrame) -> DataFrame:
    """Fingerprint, band and fold a streaming documents DataFrame into
    sharded bucket state; returns the emission stream (direct pair rows
    and group corrections, module docstring).

    The fingerprint fold costs about 1 ms/doc of interpreted
    higher-order-function CPU and must run before the shard exchange,
    whose key derives from the fingerprint. Without the repartition
    ahead of it, it runs at the source stage's parallelism: one task
    per file under maxFilesPerTrigger=1."""
    from cqu_bigdata_recommender_system_for_movies_spark.session import (
        shuffle_partitions,
    )

    spark = stream_docs.sparkSession
    # full machine width, NOT the (deliberately small) state-partition
    # pin that _stream_state_partitions puts in shuffle.partitions while
    # this plan is built — the fold is pure map work and wants every core
    n_fold = max(shuffle_partitions(spark), spark.sparkContext.defaultParallelism)
    keyed = banded(with_fingerprint(stream_docs.repartition(n_fold))).select(
        F.concat_ws(":", F.col("band").cast("string"), "key").alias("bk"),
        "doc_id",
        "fp",
    )
    return sharded_fold(keyed, ["bk"], detect_bucket_dups, OUTPUT_SCHEMA)
