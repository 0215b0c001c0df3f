"""The weighted-overlay execution the catalog parameterizes -- the
reference's downstream service computation as a library call.

The reference toolbox only PREPARES the catalog; the overlay itself runs
in Esri's image server (``README.md:9-11, 22-26``): each layer's cell
values remap through its half-open ranges to suitability 0-9, the user
weights the layers, and NoData ranges knock cells out
(``UpdateWROClassification.pyt.xml:2``, ``UpdateWROLayerInfo.pyt.xml:2``).
:func:`run_overlay` executes exactly that from a catalog DataFrame:

1. decode each catalog row's CSV classification (InputRanges /
   OutputValues / NoDataRanges, ``.pyt:161-175``) -- catalog rows are
   classification METADATA (a handful), so the collect is driver-side
   by design, never data-sized;
2. emit the per-layer remap CASE chains, the NoData tests, the pivot
   aggregates and the weighted sum as SQL text (``functions/ranges.py``'s
   emitters, the same text the DuckDB oracles embed), which Spark parses
   into a handful of Catalyst expressions -- a few py4j calls per
   request, not a few per range (JVM-side, codegen);
3. one shuffle on cell_id pivots remapped layers wide (conditional max,
   not a generic pivot, :func:`overlay_pivot`) and applies
   sum(w_i * suit_i) with the knockout guard (:func:`overlay_score`).
   The fixture WRO queries (``queries/wro.py``) call the same two
   functions.

Scale: the only data-sized move is the cell_id shuffle; at 100 TB the
cell table is bucketed by cell_id and the shuffle disappears. Weights and
classifications ride along as literals inside codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.ranges import (
    RangeTriple,
    in_any_range_sql,
    layer_remap_sql,
    sql_double,
    sql_string,
)

#: a layer's decoded classification: remap ranges plus NoData ranges.
Layer = tuple[list[RangeTriple], list[tuple[float, float]]]


def decode_catalog_row(row) -> Layer:
    """Parse one catalog row's CSV classification (``.pyt:161-175``):
    flat bound pairs + parallel outputs -> (lo, hi, out) triples, plus
    NoData (lo, hi) pairs."""
    bounds = [float(x) for x in row["InputRanges"].split(",")]
    outs = [int(x) for x in row["OutputValues"].split(",")]
    ranges = [
        (bounds[2 * i], bounds[2 * i + 1], outs[i]) for i in range(len(outs))
    ]
    nodata: list[tuple[float, float]] = []
    if row["NoDataRanges"]:
        nd = [float(x) for x in row["NoDataRanges"].split(",")]
        nodata = [(nd[2 * i], nd[2 * i + 1]) for i in range(len(nd) // 2)]
    return ranges, nodata


def overlay_pivot(cells_df: DataFrame, layers: dict[str, Layer]) -> DataFrame:
    """Remap the long cell table (``layer, cell_id, value``) and pivot it
    wide: ``cell_id, s_0 .. s_{n-1}, any_knockout``, where ``s_i`` is the
    suitability of the i-th layer of ``layers`` and ``any_knockout`` is 1
    when any layer's value of the cell falls in that layer's NoData
    ranges (R39 + R41)."""
    names = list(layers)
    knocked = " OR ".join(
        f"(layer = {sql_string(name)} AND ({in_any_range_sql('value', nodata)}))"
        for name, (_, nodata) in layers.items()
        if nodata
    )
    scored = cells_df.filter(F.col("layer").isin(*names)).selectExpr(
        "cell_id",
        "layer",
        f"{layer_remap_sql({n: r for n, (r, _) in layers.items()})} AS suit",
        f"{knocked or 'FALSE'} AS knocked",
    )
    return scored.groupBy("cell_id").agg(
        *[
            F.expr(f"MAX(CASE WHEN layer = {sql_string(name)} THEN suit END) AS s_{i}")
            for i, name in enumerate(names)
        ],
        F.expr("MAX(CASE WHEN knocked THEN 1 ELSE 0 END) AS any_knockout"),
    )


def weighted_sum_sql(weights: list[float]) -> str:
    """``w_0 * s_0 + w_1 * s_1 + ...`` over :func:`overlay_pivot`'s
    columns (R40)."""
    terms = [f"{sql_double(w)} * s_{i}" for i, w in enumerate(weights)]
    return " + ".join(terms) or "CAST(NULL AS DOUBLE)"


def overlay_score(wide: DataFrame, weights: list[float]) -> DataFrame:
    """``cell_id, score`` from :func:`overlay_pivot`'s frame: the weighted
    sum, NULL for a knocked-out cell."""
    return wide.selectExpr(
        "cell_id",
        f"CASE WHEN any_knockout = 1 THEN NULL ELSE {weighted_sum_sql(weights)} END"
        " AS score",
    )


def run_overlay(
    cells_df: DataFrame,
    catalog_df: DataFrame,
    weights: dict[str, float],
) -> DataFrame:
    """Execute the weighted overlay: ``cells_df`` is the long cell table
    (``layer, cell_id, value``), ``catalog_df`` carries the CSV-encoded
    classifications keyed by ``Name``, ``weights`` maps layer name ->
    weight. Returns ``cell_id, score`` with NULL score for knocked-out
    cells (R39 + R40 + R41)."""
    meta = {
        r["Name"]: decode_catalog_row(r)
        for r in catalog_df.select(
            "Name", "InputRanges", "OutputValues", "NoDataRanges"
        ).collect()
        if r["Name"] in weights
    }
    missing = set(weights) - set(meta)
    if missing:
        raise KeyError(f"weights reference unknown catalog layers: {sorted(missing)}")
    return overlay_score(overlay_pivot(cells_df, meta), [weights[n] for n in meta])
