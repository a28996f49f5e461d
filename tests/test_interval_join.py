"""Properties of the bin-expansion range join (interval_overlap_join).

The bin plan must be semantically invisible: the result is identical for
any bin width (each overlapping pair shares >= 1 bin at every W; the
exact overlap filter + distinct do the rest), and the executed plan must
realize the range join as hash equi-joins — no nested loop, no cartesian.
"""

import contextlib
import io

import pytest

SF = "/root/testdata/sf0.001"


def _run(spark, width):
    import mit_spark.queries.events as QE

    old = QE._BIN_W
    QE._BIN_W = width
    try:
        df = QE.interval_overlap_join(spark, SF)
        return sorted(map(tuple, df.collect()))
    finally:
        QE._BIN_W = old


@pytest.mark.parametrize("width", [600, 7200])
def test_result_invariant_to_bin_width(spark, width):
    assert _run(spark, width) == _run(spark, 1800)


def test_plan_is_equi_join_no_nested_loop(spark):
    import mit_spark.queries as Q

    df = Q.interval_overlap_join(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)
