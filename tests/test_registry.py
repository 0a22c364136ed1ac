"""Registry integrity + smoke execution of every query at sf0.001.

The full DuckDB-oracle comparison runs via ``tools/check_oracle.py`` (and the
driver at sf0.01); here we assert the contract shape and that every plan
executes.
"""

import pytest

from projet_data_infrastructure_spark.plans import all_specs, oracle_sql_map, queries_map

SF = "/root/testdata/sf0.001"


def test_registry_shape():
    specs = all_specs()
    names = [s.name for s in specs]
    assert len(names) == len(set(names))
    assert len(specs) >= 55
    # every oracle references only pre-registered views (cheap sanity check)
    for s in specs:
        if s.oracle:
            assert "read_parquet" not in s.oracle


def test_driver_priority_names_resolve():
    """Every _DRIVER_PRIORITY name must be a registered spec (ADVICE r13).

    The sort key ignores unknown names, so a typo during a window rotation
    would silently drop a spec out of the 50-slot driver window and defeat
    the staleness-rotation guarantee. Duplicates would shrink the effective
    window the same way.
    """
    from projet_data_infrastructure_spark.plans.registry import _DRIVER_PRIORITY

    registered = {s.name for s in all_specs()}
    unknown = [n for n in _DRIVER_PRIORITY if n not in registered]
    assert not unknown, f"_DRIVER_PRIORITY names not in registry: {unknown}"
    assert len(_DRIVER_PRIORITY) == len(set(_DRIVER_PRIORITY)), "duplicate priority names"
    # The driver window is hash-checked, so rows-only specs must never
    # occupy a priority slot.
    oracled = set(oracle_sql_map())
    rows_only = [n for n in _DRIVER_PRIORITY[:50] if n not in oracled]
    assert not rows_only, f"rows-only specs in the driver window: {rows_only}"


def test_maps_align():
    qs, os_ = queries_map(), oracle_sql_map()
    assert set(os_) <= set(qs)


def test_bench_core_is_stable():
    """The frozen bench core (bench.py:BENCH_CORE) must all stay
    bench-tagged: BENCH_r{N}.json needs a never-rotating subset so
    vs-prior-round deltas are always attributable (VERDICT r7 item 5).
    Adding headliners is fine; dropping a core name is not."""
    import bench

    tagged = {s.name for s in all_specs() if "bench" in s.tags}
    missing = set(bench.BENCH_CORE) - tagged
    assert not missing, f"bench core specs lost their tag: {sorted(missing)}"


def test_headliner_pin_is_valid():
    """BENCH_HEADLINERS.json (the per-round frozen bench composition,
    VERDICT r13 item 3) must resolve entirely against the registry and
    contain the never-rotating BENCH_CORE, or same-round bench runs drift
    back to comparing different spec sets. bench.py has no fallback, so a
    missing pin fails here."""
    import bench

    names = bench.headliners()
    assert len(names) == len(set(names))
    registered = {s.name for s in all_specs()}
    unknown = [n for n in names if n not in registered]
    assert not unknown, f"pinned headliners not in registry: {unknown}"
    missing_core = set(bench.BENCH_CORE) - set(names)
    assert not missing_core, f"pin lost bench-core names: {sorted(missing_core)}"


@pytest.mark.parametrize("spec", all_specs(), ids=lambda s: s.name)
def test_query_executes(spark, spec):
    df = spec.fn(spark, SF)
    rows = df.collect()
    assert rows is not None
    assert len(df.columns) > 0
    # Mirror of the oracle-side dtype guard: no decimal output columns on
    # the Spark side either (they'd stringify with scale suffixes and break
    # the driver's value hash).
    decimals = [f.name for f in df.schema.fields
                if f.dataType.typeName().startswith("decimal")]
    assert not decimals, f"decimal output columns: {decimals}"


#: DuckDB output types every oracle may emit. HUGEINT and DECIMAL are BANNED:
#: DuckDB silently promotes sum(BIGINT) / windowed integer sums / `//` chains
#: to HUGEINT, which its Arrow export renders as decimal128 — the driver's
#: fetch path then canonicalizes it differently from Spark's bigint and the
#: spec hash-fails even when every value fits int64 (all 17 round-7 driver
#: reds were exactly this). Wrap such outputs in CAST(... AS BIGINT).
_ALLOWED_ORACLE_TYPES = ("BOOLEAN", "INTEGER", "BIGINT", "DOUBLE", "VARCHAR",
                         "DATE", "TIMESTAMP")


def test_oracle_output_types_are_driver_safe():
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    offenders = {}
    for s in all_specs():
        if not s.oracle:
            continue
        desc = con.sql(f"DESCRIBE ({s.oracle})").fetchall()
        bad = [(c, ty) for c, ty, *_ in desc
               if not ty.startswith(_ALLOWED_ORACLE_TYPES)]
        if bad:
            offenders[s.name] = bad
    assert not offenders, (
        f"oracles with driver-unsafe output types (HUGEINT/DECIMAL/...): "
        f"{offenders} — CAST the offending outputs to BIGINT/DOUBLE"
    )




def test_no_round_named_plan_modules():
    """Round 11 consolidated the build-history modules into domain modules
    (VERDICT r10 item 6); a round-named module creeping back means a spec
    landed outside the user-facing structure."""
    import os

    import projet_data_infrastructure_spark.plans as plans

    mods = os.listdir(os.path.dirname(plans.__file__))
    offenders = [m for m in mods if m.startswith("round")]
    assert not offenders, offenders
