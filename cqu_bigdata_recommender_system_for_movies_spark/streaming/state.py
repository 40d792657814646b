"""One sharded-state fold for every keyed stream.

The interest fold, the online ridge and SimHash dedup each keep a keyed
table (user -> accumulator, bucket -> fingerprint groups) in streaming
state. Keeping one state group per key costs one Python call and one
state round trip per key per micro-batch; here the keys hash into
``STATE_SHARDS`` groups instead, and each group holds its keys' rows as
one table, so the per-batch crossings are bounded by the shard count.

:func:`sharded_fold` owns every shared decision: the shard column, the
one ``applyInPandasWithState`` call (update mode, no timeout), the
concatenation of a shard's Arrow chunks into one batch slice, and the
state codec (one BINARY column holding the shard's table as an Arrow IPC
stream, so every value round-trips bit for bit). A caller supplies only
``fold(batch, table) -> (table, out)``: ``batch`` is the shard's whole
slice of the micro-batch, ``table`` its keyed table so far (``None`` for
a new shard), and ``out`` the rows to emit.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import BinaryType, StructField, StructType

# The state-store parallelism ceiling of every sharded stream.
STATE_SHARDS = 256

STATE_SCHEMA = StructType([StructField("table", BinaryType())])


def encode(table: pd.DataFrame) -> bytes:
    """A shard's keyed table as one Arrow IPC stream. Columns go through
    numpy rather than ``Table.from_pandas``, which costs twice as much
    per shard for its pandas metadata; the index is not kept."""
    arrow = pa.table({c: table[c].to_numpy() for c in table.columns})
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, arrow.schema) as writer:
        writer.write_table(arrow)
    return sink.getvalue().to_pybytes()


def decode(buf: bytes) -> pd.DataFrame:
    arrow = pa.ipc.open_stream(pa.py_buffer(buf)).read_all()
    return pd.DataFrame({c: arrow[c].to_numpy() for c in arrow.column_names})


def shard_step(
    fold: Callable[[pd.DataFrame, pd.DataFrame | None], tuple[pd.DataFrame, pd.DataFrame]],
):
    """The per-group ``applyInPandasWithState`` callback around ``fold``.

    A key's rows may straddle Arrow chunks that arrive in any order, so
    the fold sees the shard's whole batch slice at once."""

    def step(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        chunks = list(pdfs)
        batch = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        table, out = fold(batch, decode(state.get[0]) if state.exists else None)
        state.update((encode(table),))
        if len(out):
            yield out

    return step


def sharded_fold(df: DataFrame, keys: list[str], fold: Callable, output_schema) -> DataFrame:
    """Fold ``df`` into keyed state sharded on ``keys``; returns the stream
    of ``fold``'s emitted rows (``output_schema``)."""
    from cqu_bigdata_recommender_system_for_movies_spark.shipping import ensure_shipped

    ensure_shipped(df.sparkSession)
    return (
        df.withColumn("shard", F.pmod(F.xxhash64(*keys), F.lit(STATE_SHARDS)))
        .groupBy("shard")
        .applyInPandasWithState(
            shard_step(fold),
            output_schema,
            STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
