"""Guards on the two driver-facing registries: every bench.py entry must
resolve to a registered query (a typo would crash the driver's per-round
bench run), and the driver-gate window invariants must hold."""

import pytest


def test_bench_queries_all_registered():
    import bench
    from mit_spark.queries import QUERIES

    missing = [n for n in bench.BENCH_QUERIES if n not in QUERIES]
    assert not missing, f"bench.py names not in the registry: {missing}"


def test_every_query_has_oracle_or_is_rows_only():
    import __spark_entry__ as E

    q, o = E.queries(), E.oracle_sql()
    # oracle_sql keys must be a subset of queries (dangling oracles would
    # make the driver compare against a missing Spark side)
    dangling = [n for n in o if n not in q]
    assert not dangling, f"oracle_sql entries without a query: {dangling}"


def test_driver_window_is_exactly_50():
    import __spark_entry__ as E

    names = list(E.queries().keys())
    from mit_spark.queries import _WINDOW_BACK

    front = [n for n in names if n not in _WINDOW_BACK]
    assert len(front) == 50
    assert names[:50] == front


def test_window_rotation_rule_vs_recorded_driver_rows():
    """The standing rotation rule, mechanically enforced: every entry in
    _WINDOW_BACK must have at least one green driver row on record
    (CORRECTNESS_r*.json), and no entry still waiting for its first driver
    row may sit outside the first-50 window. Guards against a future
    @register silently displacing an unproven entry."""
    import glob
    import json
    import os

    import __spark_entry__ as E
    from mit_spark.queries import _WINDOW_BACK

    repo = os.path.dirname(os.path.abspath(E.__file__))
    records = sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))
    if not records:  # fresh checkout without driver artifacts
        pytest.skip("no driver correctness records")
    green = set()
    for path in records:
        with open(path) as f:
            rows = json.load(f)
        for name, v in rows.items():
            if (
                v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match", True)
                and not v.get("err")
            ):
                green.add(name)
    never_green_in_back = [n for n in _WINDOW_BACK if n not in green]
    assert not never_green_in_back, (
        "entries without any recorded driver-green row were rotated out of "
        f"the gated window: {never_green_in_back}"
    )
    names = list(E.queries().keys())
    ever_green_in_front = [n for n in names[:50] if n in green]
    waiting = [n for n in names if n not in green]
    # Only flag a wasted slot if an unproven entry was displaced by it.
    assert len(waiting) <= 50 or not ever_green_in_front, (
        f"window slots hold already-green entries {ever_green_in_front} "
        f"while {len(waiting)} entries still await their first driver row"
    )
