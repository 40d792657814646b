"""analytics_mix: registered batch queries from the operator families,
one closed-loop client, each result checked against its DuckDB oracle.

Each query's rows are brought back to the client as one Arrow table
(`toArrow`): that is what a user of the query receives, and it is what
the oracle check needs.
"""

from __future__ import annotations

import random

import pyarrow as pa

import harness

# The mix: every operator family, each query cleared by `screen.py` (no
# in-process cache serves a repeat call; the screen's result is in
# README.md).
QUERIES = (
    "cold_start_popular_items",
    "join_star_2hop",
    "cohort_retention",
    "correlation_matrix",
    "sessionize_events",
    "topk_per_user_window",
    "bm25_topk",
    "dedup_exact",
    "hll_distinct_rollup",
    "cosine_topk",
    "pagerank_bipartite",
    "chi_square_independence",
    "stratified_sample_counts",
    "file_metadata_columns",
    "rank_normalize_features",
)


def family(fn) -> str:
    """The operator family of a registered query: its module's name."""
    return fn.__module__.rsplit(".", 1)[-1]


def _plain_type(t: pa.DataType) -> pa.DataType:
    """One type per value class, so the two engines' results compare by
    value: the registry pins dtype classes, not exact widths or zones."""
    if pa.types.is_integer(t):
        return pa.int64()
    if pa.types.is_floating(t) or pa.types.is_decimal(t):
        return pa.float64()
    if pa.types.is_timestamp(t):
        return pa.timestamp("us")
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return pa.string()
    return t


def canonical(table: pa.Table) -> pa.Table:
    """A result with its columns in name order, plain types and its rows
    sorted on every column: equal results give equal tables."""
    cols = sorted(table.column_names)
    t = table.select(cols)
    t = t.cast(pa.schema([(c, _plain_type(t.schema.field(c).type)) for c in cols]))
    return t.sort_by([(c, "ascending") for c in cols]).combine_chunks()


def duck_connection(data_dir: str):
    import duckdb

    from cqu_bigdata_recommender_system_for_movies_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data_dir}/{name}.parquet')"
        )
    return con


def expected_results(data_dir: str, names) -> dict[str, pa.Table]:
    """Each query's oracle answer, canonicalized; computed once, untimed."""
    from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import all_oracles

    oracles = all_oracles()
    con = duck_connection(data_dir)
    try:
        out = {}
        for name in names:
            out[name] = canonical(con.execute(oracles[name]).arrow())
        return out
    finally:
        con.close()


class AnalyticsMix:
    name = "analytics_mix"
    # Untimed passes before the measured window. A query's first call in
    # a session plans it and compiles its generated code; at sf0.01 that
    # adds about two thirds to the query's warm time, and it swings with
    # host noise.
    warm_passes = 1
    # Measured passes at the least: two give 30 samples, enough for the
    # tail to be a percentile rather than the slowest query.
    min_passes = 2

    def __init__(self, ctx):
        from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import all_queries

        registry = all_queries()
        self.ctx = ctx
        self.fns = {n: registry[n] for n in QUERIES}
        self.expected = expected_results(ctx.data_dir, QUERIES)

    def run_pass(self, rng: random.Random) -> dict:
        ctx = self.ctx
        order = list(QUERIES)
        rng.shuffle(order)
        ops = []
        for name in order:
            fam = family(self.fns[name])
            group = ctx.counters.new_group(name) if ctx.counters else None
            ok = True
            with harness.OpClock() as clock, ctx.tracer.span(name, f"operators.{fam}"):
                try:
                    result = self.fns[name](ctx.spark, ctx.data_dir).toArrow()
                except Exception as e:  # a failed query is counted, not fatal
                    ctx.log(f"{name} failed: {e!r:.300}")
                    ok, result = False, None
            if ok and not canonical(result).equals(self.expected[name]):
                ctx.log(f"{name}: result differs from its oracle")
                ok = False
            op = {"name": name, "family": fam, "s": clock.s, "cpu_s": clock.cpu_s,
                  "jit_s": clock.jit_s, "steal": clock.steal, "ok": ok}
            if group:
                op.update(ctx.counters.count([group]))
            ops.append(op)
        return {"pass_s": sum(o["s"] for o in ops), "pass_cpu_s": sum(o["cpu_s"] for o in ops),
                "pass_jit_s": sum(o["jit_s"] for o in ops), "ops": ops}
