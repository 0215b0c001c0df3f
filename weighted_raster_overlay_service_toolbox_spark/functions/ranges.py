"""Range / remap / classification expression builders -- the WRO core.

The reference stores a classification as parallel lists: N half-open
ranges ``[min_i, max_i)``, N suitability outputs 0-9, N labels
(``WROS/Weighted Raster Overlay Service.pyt:1119-1138``), with the last
bound bumped one past the data max (``.pyt:934-936``) so the max value
itself falls in the final range. Remap semantics
(``UpdateWROClassification.pyt.xml:2``): cell value v in ``[min_i, max_i)``
-> ``out_i``; suitability domain 0-9, default 5 (``.pyt:86-87, 969-972``).

A classification becomes an expression in one way: the ``*_sql``
emitters below write it as SQL text, which Spark callers parse with
``F.expr``/``selectExpr`` into one Catalyst expression and the DuckDB
oracles embed verbatim. Bounds and weights are ``CAST('<repr>' AS
DOUBLE)`` literals, read bit-identically by both engines. The rest builds
column expressions (bins, struct arrays). No UDFs, no driver-side loops
over data; literal range lists are classification metadata (handfuls of
rows), never data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: (lo, hi, out) triple: value in [lo, hi) -> out.
RangeTriple = tuple[float, float, int]


def sql_double(v: float) -> str:
    """A DOUBLE literal that Spark and DuckDB both read bit-exactly.

    Spark parses a bare ``20.0`` as DECIMAL(3,1), and neither engine has
    a literal for +-inf or NaN, so every bound and weight is the string
    cast of Python's shortest round-trip ``repr``: ``inf``, ``-inf``,
    ``nan``, ``-0.0`` and ``5e-324`` all read back as the same double."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def sql_string(s: str) -> str:
    """A Spark SQL string literal. Spark reads backslash escapes inside
    string literals, so ``\\`` is doubled along with ``'``; DuckDB does
    not, so this quoting is exact in DuckDB only for text without a
    backslash."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def remap_case_sql(value_expr: str, ranges: list[RangeTriple]) -> str:
    """R39: min-inclusive/max-exclusive CASE chain, the first matching
    range wins; unmatched (or a NULL value) -> NULL INT. The one emitter
    of a classification: Spark parses the text, DuckDB oracles embed it."""
    whens = " ".join(
        f"WHEN {value_expr} >= {sql_double(lo)} AND {value_expr} < {sql_double(hi)} "
        f"THEN {int(out)}"
        for lo, hi, out in ranges
    )
    return f"CASE {whens} ELSE NULL END" if ranges else "CAST(NULL AS INT)"


def in_any_range_sql(value_expr: str, ranges: list[tuple[float, float]]) -> str:
    """R41 NoData test: true when the value falls in any ``[lo, hi)``."""
    tests = [
        f"({value_expr} >= {sql_double(lo)} AND {value_expr} < {sql_double(hi)})"
        for lo, hi in ranges
    ]
    return " OR ".join(tests) if tests else "FALSE"


def layer_remap_sql(ranges_by_layer: dict[str, list[RangeTriple]]) -> str:
    """Each ``layer`` row's ``value`` through that layer's CASE chain;
    NULL for a layer not in the map."""
    whens = " ".join(
        f"WHEN layer = {sql_string(name)} THEN {remap_case_sql('value', ranges)}"
        for name, ranges in ranges_by_layer.items()
    )
    return f"CASE {whens} ELSE NULL END" if whens else "CAST(NULL AS INT)"


def equal_interval_bounds(n_classes: int = 5):
    """R16 (``.pyt:895-938``): expression factory for np.linspace-style
    bounds. Returns (bin_expr_fn, bounds_fn):

    - ``bin_expr_fn(v, mn, mx)``: class index 0..n-1; the data max clamps
      into the last class (the reference's max+1 exclusive bound).
    - ``bounds_fn(i, mn, mx)``: (lo, hi) columns of class i, with
      ``hi = mx + 1`` for the last class (``.pyt:934-936``).

    Degenerate min==max (``.pyt:913-926``): one range ``[v, v+1)``; the
    bin expr yields 0 for every value, which matches.
    """

    def bin_expr(v: Column, mn: Column, mx: Column) -> Column:
        width = (mx - mn) / F.lit(n_classes)
        raw = F.floor((v - mn) / width).cast("int")
        return F.when(mx == mn, F.lit(0)).otherwise(
            F.least(raw, F.lit(n_classes - 1))
        )

    def bounds(i: int, mn: Column, mx: Column) -> tuple[Column, Column]:
        width = (mx - mn) / F.lit(n_classes)
        lo = mn + F.lit(i) * width
        hi = (mx + F.lit(1.0)) if i == n_classes - 1 else mn + F.lit(i + 1) * width
        return lo, hi

    return bin_expr, bounds


def unique_value_ranges(df: DataFrame, value_col: str) -> DataFrame:
    """R18/R19 (``.pyt:1012-1114``): distinct values -> consecutive
    half-open ranges ``[v_i, v_{i+1})``, final ``[v_n, v_n + 1)``.

    One shuffle for the distinct, one window over the (small) distinct
    set -- the distinct value count is classification cardinality, so the
    window's single partition is fine at any data scale.
    """
    from pyspark.sql import Window

    w = Window.orderBy(F.col("lo"))
    return (
        df.select(F.col(value_col).cast("double").alias("lo"))
        .distinct()
        .select(
            "lo",
            F.coalesce(F.lead("lo").over(w), F.col("lo") + 1).alias("hi"),
        )
    )


def contiguity_errors(ranges_df: DataFrame, lo: str = "lo", hi: str = "hi") -> DataFrame:
    """R25 (``.pyt:199-217``): each range's max must equal the next
    range's min; returns the offending rows (empty == valid)."""
    from pyspark.sql import Window

    w = Window.orderBy(F.col(lo))
    return (
        ranges_df.select(
            F.col(lo), F.col(hi), F.lead(lo).over(w).alias("next_lo"),
        )
        .filter(F.col("next_lo").isNotNull() & (F.col(hi) != F.col("next_lo")))
    )


# --- R17/R19 kernels + R38 defaults (column-expression form) --------------

#: R38 hardcoded fallback classification (``.pyt:1268, 1279-1280``) used
#: when range derivation fails entirely.
DEFAULT_INPUT_RANGES = "1.0,50.0,50.0,100.0,100.0,150.0,150.0,200.0,200.0,256.0"
DEFAULT_OUTPUT_VALUES = "1,3,5,7,9"
DEFAULT_RANGE_LABELS = "Very Low,Low,Medium,High,Very High"


def consecutive_pair_ranges(bounds: Column) -> Column:
    """R19 pairing (``.pyt:1119-1138``): an ordered bounds array
    ``[b0..bn]`` becomes structs ``[(b0,b1), (b1,b2), ..., (b_{n-1},b_n)]``
    -- min-inclusive/max-exclusive consecutive pairs. Callers prepare the
    array (prepend dataset min for class breaks R17; bump or append the
    +1 terminal bound per their rule)."""
    n = F.size(bounds)
    return F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.struct(
            F.element_at(bounds, i + 1).alias("lo"),
            F.element_at(bounds, i + 2).alias("hi"),
        ),
    )


def class_break_ranges(dataset_min: Column, upper_bounds: Column) -> Column:
    """R17 (``.pyt:941-1008``): classify-colorizer breaks -> ranges.
    Bounds are ``[min, u1..uk]`` with the FINAL upper bound bumped +1
    (``.pyt:985-988``); yields k ranges ``[min,u1) ... [u_{k-1}, u_k+1)``."""
    k = F.size(upper_bounds)
    bumped = F.transform(
        upper_bounds,
        lambda u, i: F.when(i == k - 1, u + 1).otherwise(u),
    )
    bounds = F.concat(F.array(dataset_min), bumped)
    return consecutive_pair_ranges(bounds)


def unique_value_ranges_expr(values: Column) -> Column:
    """R18 (``.pyt:1012-1114``) as an array expression: sorted distinct
    values ``[v1..vn]`` -> n ranges ``[v_i, v_{i+1})`` with the final
    ``[v_n, v_n+1)`` (terminal +1 appended, ``.pyt:1104-1108``)."""
    vs = F.array_sort(F.array_distinct(values))
    terminal = F.element_at(vs, -1) + 1
    return consecutive_pair_ranges(F.concat(vs, F.array(terminal)))


def ranges_to_csv(ranges: Column) -> Column:
    """Serialize range structs to the reference's flat CSV string form
    (``lo1,hi1,lo2,hi2,...``, ``.pyt:1132``)."""
    return F.array_join(
        F.transform(
            ranges,
            lambda p: F.concat_ws(
                ",", p["lo"].cast("string"), p["hi"].cast("string")
            ),
        ),
        ",",
    )


def ranges_to_labels(ranges: Column) -> Column:
    """R17 label form ``"a to b"`` per range (``.pyt:994-1002``)."""
    return F.array_join(
        F.transform(
            ranges,
            lambda p: F.format_string(
                "%s to %s", p["lo"].cast("string"), p["hi"].cast("string")
            ),
        ),
        ",",
    )
