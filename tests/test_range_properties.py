"""Property-based tests (SURVEY.md section 5.4) for the classification
kernels: remap totality over contiguous ranges, the emitted remap SQL
agreeing across Spark, DuckDB and a Python model, and equal-interval bins
partitioning [min, max+1). Hypothesis drives value generation; each
property evaluates the real expressions on a Spark DataFrame."""

from __future__ import annotations

import math

import duckdb
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from weighted_raster_overlay_service_toolbox_spark.functions.ranges import (
    equal_interval_bounds,
    remap_case_sql,
)

finite = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


@given(
    bounds=st.lists(finite, min_size=2, max_size=6, unique=True),
    values=st.lists(finite, min_size=1, max_size=10),
)
@settings(max_examples=25, deadline=None)
def test_remap_totality_over_contiguous_ranges(spark, bounds, values):
    """With contiguous ranges covering [b0, bn), a value maps to a non-null
    suitability IFF it lies inside [b0, bn) -- totality within coverage,
    null outside (the reference's half-open semantics,
    UpdateWROClassification.pyt.xml)."""
    bs = sorted(bounds)
    ranges = [(bs[i], bs[i + 1], i % 10) for i in range(len(bs) - 1)]
    df = spark.createDataFrame([(float(v),) for v in values], "v double")
    got = df.select("v", F.expr(remap_case_sql("v", ranges)).alias("out")).collect()
    for r in got:
        inside = bs[0] <= r["v"] < bs[-1]
        if inside:
            expected = next(
                out for lo, hi, out in ranges if lo <= r["v"] < hi
            )
            assert r["out"] == expected, (r, ranges)
        else:
            assert r["out"] is None, (r, ranges)


#: bounds and values: the doubles without a plain SQL literal (+-inf,
#: NaN, -0.0), small integers that land exactly on one another, and
#: arbitrary finite floats.
_edge = st.sampled_from([math.inf, -math.inf, math.nan, -0.0, 0.0, 5e-324])
_double = st.one_of(_edge, st.integers(-3, 3).map(float), finite)


@st.composite
def _classifications(draw):
    ranges = draw(
        st.lists(st.tuples(_double, _double, st.integers(0, 9)), min_size=1, max_size=6)
    )
    on_bounds = st.sampled_from([b for lo, hi, _ in ranges for b in (lo, hi)])
    values = draw(
        st.lists(st.one_of(on_bounds, _double, st.none()), min_size=1, max_size=12)
    )
    return ranges, values


def _order_key(x: float):
    """Both engines' double order: NaN above +inf and equal to itself,
    -0.0 equal to 0.0."""
    return (1, 0.0) if math.isnan(x) else (0, x)


def _model_remap(v, ranges):
    """The first range with ``lo <= v < hi``; NULL when none matches."""
    if v is None:
        return None
    for lo, hi, out in ranges:
        if _order_key(lo) <= _order_key(v) < _order_key(hi):
            return out
    return None


@given(case=_classifications())
@settings(max_examples=30, deadline=None)
def test_emitted_remap_agrees_across_spark_duckdb_and_python(spark, case):
    """One emitted CASE text, three evaluations that must agree: Spark's
    ``F.expr`` over a DataFrame, DuckDB over an Arrow table, and the
    Python model of the half-open first-match rule. Bounds include the
    doubles with no plain literal, so an emitter that writes ``str()``
    bounds (``inf``, ``nan``) fails here."""
    ranges, values = case
    sql = remap_case_sql("v", ranges)
    rows = list(enumerate(values))
    spark_out = dict(
        spark.createDataFrame(rows, "i int, v double")
        .select("i", F.expr(sql).alias("out"))
        .collect()
    )
    con = duckdb.connect()
    con.register("t", pa.table({"i": [i for i, _ in rows], "v": values}))
    duck_out = dict(con.execute(f"SELECT i, {sql} FROM t").fetchall())
    con.close()
    want = {i: _model_remap(v, ranges) for i, v in rows}
    assert spark_out == want, (sql, values)
    assert duck_out == want, (sql, values)


@given(
    lo=finite,
    width=st.floats(min_value=1e-3, max_value=1e6, allow_nan=False),
    values=st.lists(st.floats(0, 1), min_size=1, max_size=10),
)
@settings(max_examples=25, deadline=None)
def test_equal_interval_partitions_min_to_max(spark, lo, width, values):
    """Every value in [min, max] lands in exactly one of the n classes,
    the data max in the last class (the reference's max+1 bound,
    .pyt:934-936)."""
    hi = lo + width
    bin_expr, bounds = equal_interval_bounds(5)
    vals = [lo + f * width for f in values] + [lo, hi]
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    got = df.select(
        "v", bin_expr(F.col("v"), F.lit(lo), F.lit(hi)).alias("idx")
    ).collect()
    for r in got:
        assert 0 <= r["idx"] <= 4, r
        # exact equality: isclose's relative tolerance wrongly matches
        # mid-bin values when width is tiny relative to the magnitude
        if r["v"] == hi:
            assert r["idx"] == 4, f"data max must land in last class: {r}"
