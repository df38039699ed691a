"""The r11 pre-aggregation-below-the-join rewrites of TPC-H Q3/Q5
(VERDICT r10 item 2) must be RESULT-IDENTICAL to the retained r10
shapes — the rewrite is a physical-plan change, not a semantics
change. Checked value-for-value at two SFs (the sorted collected rows,
not a hash, so a divergence prints the first differing row)."""

from __future__ import annotations

import pytest


def _rows(df):
    return sorted(
        [tuple(r) for r in df.collect()],
        key=lambda t: tuple(str(x) for x in t),
    )


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
@pytest.mark.parametrize("pair", ["q3", "q5"])
def test_rewrite_matches_r10_shape(spark, sf, pair):
    from pandas_reporter_spark.operators import relational as R

    new, old = {
        "q3": (R.q_tpch_q3, R._q_tpch_q3_r10),
        "q5": (R.q_tpch_q5, R._q_tpch_q5_r10),
    }[pair]
    got, want = _rows(new(spark, sf)), _rows(old(spark, sf))
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g == w, f"{pair}@{sf}: {g} != {w}"


def test_q3_atrest_semi_sortagg_shape_and_values(spark):
    """The layout-adaptive Q3 extras only fire at rest, and change
    nothing but the plan: with the co-bucketed sorted layout active,
    Q3 semi-filters lineitem bucket-locally (SMJ LeftSemi, no sort)
    and pre-aggregates with a streaming SortAggregate (zero Sort
    nodes, zero HashAggregate below the orders join) — and its rows
    equal the stock-layout rows exactly. Also pins that
    use_bucketed_layout's two planner confs restore cleanly here so
    the session stays hermetic for other tests."""
    import io
    from contextlib import redirect_stdout

    from pandas_reporter_spark import artifacts, tables
    from pandas_reporter_spark.operators import relational as R

    sf = "/root/testdata/sf0.001"
    stock_q3 = _rows(R.q_tpch_q3(spark, sf))
    stock_q5 = _rows(R.q_tpch_q5(spark, sf))
    try:
        assert tables.use_bucketed_layout(spark, sf)
        df = R.q_tpch_q3(spark, sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        p = buf.getvalue()
        tree = p.split("(1) Scan")[0]
        assert "LeftSemi" in tree
        assert "SortAggregate" in tree
        assert "Sort (" not in tree.replace("SortAggregate (", "")
        assert _rows(df) == stock_q3
        # q5's at-rest semi-filter is value-neutral too
        assert _rows(R.q_tpch_q5(spark, sf)) == stock_q5
    finally:
        for name in tables.BUCKETED:
            artifacts.drop(spark, sf, name)
        spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
        spark.conf.unset("spark.sql.execution.replaceHashWithSortAgg")
