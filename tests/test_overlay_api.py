"""End-to-end overlay API test: the catalog-driven run_overlay must agree
with the independently-declared q_wro_nodata query (same fixture catalog
and weights), and compose with the toolbox create/update lifecycle."""

from __future__ import annotations

from pyspark.sql import functions as F

from weighted_raster_overlay_service_toolbox_spark.plans.overlay import run_overlay
from weighted_raster_overlay_service_toolbox_spark.plans.wro import (
    LAYER_WEIGHTS,
    wro_catalog,
    wro_cells,
)
from weighted_raster_overlay_service_toolbox_spark.queries import QUERIES
from weighted_raster_overlay_service_toolbox_spark.toolbox import (
    create_wro_catalog,
    update_classification,
)

from .conftest import SF_SMOKE


def test_overlay_matches_declared_query(spark):
    """run_overlay(catalog fixture) == q_wro_nodata row for row,
    including the NoData knockouts (NULL scores)."""
    got = {
        r["cell_id"]: r["score"]
        for r in run_overlay(
            wro_cells(spark, SF_SMOKE), wro_catalog(spark), LAYER_WEIGHTS
        ).collect()
    }
    want = {
        r["cell_id"]: r["score"]
        for r in QUERIES["q_wro_nodata"](spark, SF_SMOKE).collect()
    }
    assert got == want
    assert any(v is None for v in got.values()), "no knockout exercised"


def test_overlay_rejects_unknown_weight_layer(spark):
    import pytest

    with pytest.raises(KeyError, match="unknown catalog layers"):
        run_overlay(
            wro_cells(spark, SF_SMOKE), wro_catalog(spark), {"bogus": 1.0}
        )


def test_full_lifecycle_create_update_overlay(spark):
    """The three-tool lifecycle end to end: create a catalog from cells,
    re-classify a layer, run the overlay -- scores reflect the update."""
    cells = spark.createDataFrame(
        [("elev", i, float(v)) for i, v in enumerate([0, 25, 50, 75, 100])],
        "layer string, cell_id long, value double",
    )
    layers = spark.createDataFrame([("elev", "Elevation")], "name string, title string")
    catalog, _ = create_wro_catalog(layers, cells)

    before = {
        r["cell_id"]: r["score"]
        for r in run_overlay(cells, catalog, {"elev": 1.0}).collect()
    }
    # default equal-interval outputs 1,3,5,7,9 over [0,101)
    assert before[0] == 1.0 and before[4] == 9.0

    flat = spark.createDataFrame(
        [("all", 0.0, 101.0, 7)], "label string, lo double, hi double, out int"
    )
    updated, errors = update_classification(catalog, "elev", flat)
    assert errors.filter("severity = 'error'").count() == 0
    after = {
        r["cell_id"]: r["score"]
        for r in run_overlay(cells, updated, {"elev": 1.0}).collect()
    }
    assert set(after.values()) == {7.0}


def test_overlay_quotes_layer_names(spark):
    """Layer names become SQL string literals: a name with a quote or a
    backslash scores exactly like the same catalog with plain names."""
    from weighted_raster_overlay_service_toolbox_spark.plans.wro import CATALOG_SCHEMA

    def catalog(a, b):
        return spark.createDataFrame(
            [
                (a, "A", "0.0,10.0,10.0,20.0", "2,8", "lo,hi", None,
                 None, None, None, None, None),
                (b, "B", "0.0,5.0,5.0,20.0", "1,9", "lo,hi", "15.0,16.0",
                 None, None, None, None, None),
            ],
            CATALOG_SCHEMA,
        )

    def cells(a, b):
        vals = [(0, 3.0, 15.5), (1, 12.0, 4.0), (2, 9.999, 16.0), (3, 10.0, 5.0)]
        return spark.createDataFrame(
            [(a, c, x) for c, x, _ in vals] + [(b, c, y) for c, _, y in vals],
            "layer string, cell_id long, value double",
        )

    def scores(a, b):
        df = run_overlay(cells(a, b), catalog(a, b), {a: 0.75, b: 0.25})
        return {r["cell_id"]: r["score"] for r in df.collect()}

    odd = scores("O'Neil", "a\\b")
    assert odd == scores("plain_a", "plain_b")
    # cell 0 is knocked out by b's NoData range; the rest are scored
    assert odd == {0: None, 1: 0.75 * 8 + 0.25 * 1, 2: 0.75 * 2 + 0.25 * 9,
                   3: 0.75 * 8 + 0.25 * 9}
