"""Local replay of the driver's correctness gate: every registered query
with a DuckDB oracle must match on row count, column names, and
order-insensitive values at sf0.001 (the driver runs sf0.01).
"""

from __future__ import annotations

import math

import duckdb
import pytest

from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import (
    all_oracles,
    all_queries,
)
from cqu_bigdata_recommender_system_for_movies_spark.tables import TABLE_NAMES

_QUERIES = all_queries()
_ORACLES = all_oracles()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    yield con
    con.close()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # BIT-exact comparison (round 6, was round(v, 6)): every float
        # column in the registry is produced by deliberately engine-stable
        # arithmetic and verified bit-identical across Spark and DuckDB at
        # sf0.001/0.01/0.1 — a 6-dp comparison masked a -0.0 vs +0.0 bit
        # difference in weighted_reservoir_sample that a bit-sensitive
        # driver hash would have failed. hex() distinguishes exactly the
        # bit patterns (and -0.0 from +0.0).
        return v.hex()
    if hasattr(v, "isoformat"):  # datetime/date: compare on the wire format
        return v.isoformat()
    return v


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(row[i]) for i in order) for row in rows)


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_query_matches_oracle(name, query_df, duck):
    sdf = query_df(name)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(_ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    assert _canon(spark_rows, spark_cols) == _canon(duck_rows, duck_cols), (
        f"{name}: value mismatch"
    )


def test_all_oracle_keys_have_queries():
    assert set(_ORACLES) <= set(_QUERIES)


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_output_types_driver_safe(name, duck):
    """The driver hashes arrow values: a DuckDB HUGEINT (SUM over BIGINT)
    arrives as decimal128 and hash-mismatches Spark's int64 even when the
    values are equal — the exact round-1 failure mode. Python-level
    comparison masks it (int == int), so assert on the arrow schema: every
    oracle column must resolve to a non-decimal type (CAST ... AS BIGINT
    at the source).

    Second blind spot (CORRECTNESS_r05, embedding_quantize_int8): the
    driver canonicalizes via a pandas lexsort, which raises
    ``TypeError: unhashable type: 'list'`` on nested columns — while the
    local tuple-sort comparison above handles lists fine. So also forbid
    list/struct/map output columns registry-wide: serialize nested values
    (array_to_string / to_json) on BOTH sides before returning."""
    import pyarrow as pa

    schema = duck.execute(
        f"SELECT * FROM ({_ORACLES[name]}) q LIMIT 0"
    ).fetch_arrow_table().schema
    for field in schema:
        assert not pa.types.is_decimal(field.type), (
            f"{name}.{field.name} is {field.type}: wrap in CAST(... AS "
            "BIGINT) in the oracle SQL or it will hash-fail on the driver"
        )
        assert not pa.types.is_nested(field.type), (
            f"{name}.{field.name} is nested ({field.type}): the driver's "
            "pandas lexsort cannot sort list/struct/map values — serialize "
            "to a string (array_to_string / to_json) on both sides"
        )


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_spark_output_types_driver_safe(name, query_df):
    """Spark-side twin of the nested-type guard: the driver sorts the SPARK
    result with the same pandas lexsort, so a nested Spark output column
    fails even if the oracle serialized its side. Iterates ALL registered
    queries, not just oracle-bearing ones (ADVICE r6) — the driver's
    rows-only path still materializes the result, so a nested column in a
    rows-only query breaks the real driver too."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    schema = query_df(name).schema
    for field in schema.fields:
        assert not isinstance(field.dataType, (ArrayType, MapType, StructType)), (
            f"{name}.{field.name} is nested ({field.dataType.simpleString()}): "
            "serialize to a string before returning — the driver's pandas "
            "lexsort cannot sort list/struct/map values"
        )


def _spark_type_class(dt) -> str:
    s = dt.simpleString()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if s in ("float", "double"):
        return "float"
    if s == "boolean":
        return "bool"
    if s == "string":
        return "str"
    if s == "date":
        return "date"
    if s.startswith("timestamp"):
        return "ts"
    return s


def _arrow_type_class(t) -> str:
    import pyarrow as pa

    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "ts"
    return str(t)


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_output_dtype_classes_match(name, query_df, duck):
    """The driver's value hash is dtype-sensitive (round 1: a DuckDB
    HUGEINT/decimal128 hash-failed against Spark's int64 on EQUAL values),
    so a float column on one side paired with an int column on the other
    (e.g. DuckDB floor() returns DOUBLE while Spark F.floor returns LONG)
    is a latent driver failure the value comparison above cannot see.
    Assert every output column resolves to the same type CLASS on both
    engines; integer widths are allowed to differ (both canonicalize to
    the same 64-bit value), float-vs-int is not."""
    sschema = {
        f.name: _spark_type_class(f.dataType)
        for f in query_df(name).schema.fields
    }
    aschema = {
        f.name: _arrow_type_class(f.type)
        for f in duck.execute(f"SELECT * FROM ({_ORACLES[name]}) q LIMIT 0")
        .fetch_arrow_table()
        .schema
    }
    diffs = [
        (c, sschema.get(c), aschema.get(c))
        for c in set(sschema) | set(aschema)
        if sschema.get(c) != aschema.get(c)
    ]
    assert not diffs, (
        f"{name}: output dtype class mismatch (column, spark, oracle): "
        f"{diffs} — equal values will still hash-fail on the driver"
    )


# text -> the tokens both `tables.tokens()` and `tables.TOKS_SQL` must give:
# split on single spaces, empty strings dropped, no other whitespace splits
TOKENIZER_CASES = [
    ("", []),
    ("   ", []),
    ("spark  join", ["spark", "join"]),
    ("  leading", ["leading"]),
    ("trailing  ", ["trailing"]),
    (" a  b   c ", ["a", "b", "c"]),
    ("tab\tstays", ["tab\tstays"]),
    ("new\nline stays", ["new\nline", "stays"]),
    ("nb\u00a0sp stays", ["nb\u00a0sp", "stays"]),
    ("naïve café 数据  ß", ["naïve", "café", "数据", "ß"]),
]


def test_tokenizer_is_one_rule_on_both_engines(spark):
    """`tokens()` and its DuckDB twin `TOKS_SQL` tokenize the same
    strings into the same lists, and into the expected ones, so a change
    to either definition alone fails here."""
    import pandas as pd

    from cqu_bigdata_recommender_system_for_movies_spark.tables import TOKS_SQL, tokens

    texts = [t for t, _ in TOKENIZER_CASES]
    got_spark = [
        list(r.toks)
        for r in spark.createDataFrame(list(enumerate(texts)), "i int, text string")
        .select("i", tokens().alias("toks"))
        .orderBy("i")
        .collect()
    ]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"i": range(len(texts)), "text": texts}))
    got_duck = [
        list(toks)
        for (toks,) in con.execute(
            f"SELECT {TOKS_SQL} AS toks FROM documents ORDER BY i"
        ).fetchall()
    ]
    con.close()
    expected = [toks for _, toks in TOKENIZER_CASES]
    assert got_spark == expected
    assert got_duck == expected
