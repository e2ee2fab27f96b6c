"""Registry ordering contract: the driver's oracle harness checks exactly
the first 50 ``queries()`` entries in insertion order, so PRIORITY must
stay a valid, fully-oracled, 50-long prefix covering every operator family.
"""

from __future__ import annotations

from oracle_to_snowflake_etl_spark import queries as R


def test_priority_is_50_and_prefix():
    qs = list(R.queries())
    assert len(R.PRIORITY) == 50
    assert qs[:50] == R.PRIORITY
    assert len(set(R.PRIORITY)) == 50


def test_priority_all_registered_with_oracles():
    oracles = R.oracle_sql()
    for name in R.PRIORITY:
        assert name in R._REGISTRY, name
        assert name in oracles, f"{name} has no oracle SQL"


def test_registry_complete():
    qs = R.queries()
    oracles = R.oracle_sql()
    # Every query except explicitly rows-only ones has an oracle.
    rows_only = {"approx_order_stats"}
    assert set(qs) - set(oracles) == rows_only
    # No dangling oracle without a query.
    assert set(oracles) <= set(qs)


def test_bench_json_line_fits_driver_tail_buffer():
    import json
    line = json.dumps({
        "metric": "total_query_seconds", "value": 9999.9999, "unit": "sec",
        "queries": {k: 99.999 for k in R.PRIORITY}, "sf": 0.1,
        "n_queries": len(R.queries()),
    })
    # Driver keeps only the last 2000 chars of stdout; leave headroom.
    assert len(line) < 1900


def test_dump_plans_headliners_registered():
    """tools/dump_plans.py renders one PLANS.md section per HEADLINERS
    name through ``queries()[name]``: a retired query left in that list
    fails only when the (Spark-heavy) tool runs, with a KeyError."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "dump_plans.py")
    spec = importlib.util.spec_from_file_location("dump_plans", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    missing = [name for name, _ in mod.HEADLINERS
               if name not in R._REGISTRY]
    assert not missing, missing
