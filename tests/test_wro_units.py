"""Unit tests for the WRO expression builders -- edge cases lifted from the
reference (SURVEY.md section 5.3):

- degenerate min==max single range (``WROS/Weighted Raster Overlay
  Service.pyt:913-926``)
- max+1 exclusive last bound (``.pyt:934-936``)
- remap half-open [min, max) semantics (``UpdateWROClassification.pyt.xml:2``)
- contiguity failure detection (``.pyt:207-217``)
- blank->null coercion direction (``.pyt:278-279``; the :542-543 url/metadata
  bug is documented, NOT replicated)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from weighted_raster_overlay_service_toolbox_spark.functions.ranges import (
    contiguity_errors,
    equal_interval_bounds,
    in_any_range_sql,
    remap_case_sql,
    unique_value_ranges,
)


def test_remap_half_open(spark):
    """v in [lo, hi) -> out: lo inclusive, hi exclusive (.pyt xml docs)."""
    df = spark.createDataFrame(
        [(0.0,), (1.0,), (10.999,), (11.0,), (50.999,), (51.0,)], "v double"
    )
    ranges = [(1.0, 11.0, 1), (11.0, 51.0, 9)]
    got = [
        r["out"]
        for r in df.select(F.expr(remap_case_sql("v", ranges)).alias("out"))
        .orderBy("v")
        .collect()
    ]
    # 0.0 below all ranges -> NULL; 1.0 in first; 10.999 in first;
    # 11.0 flips to second (max-exclusive); 51.0 above all -> NULL.
    assert got == [None, 1, 1, 9, 9, None]


def test_equal_interval_degenerate_min_eq_max(spark):
    """min==max collapses to a single class (``.pyt:913-926``)."""
    bin_expr, bounds = equal_interval_bounds(5)
    df = spark.createDataFrame([(7.0,)], "v double")
    row = df.select(
        bin_expr(F.col("v"), F.lit(7.0), F.lit(7.0)).alias("idx")
    ).first()
    assert row["idx"] == 0


def test_equal_interval_max_plus_one(spark):
    """Last class hi bound is data max + 1 (``.pyt:934-936``) and the data
    max itself lands in the last class, not out of range."""
    bin_expr, bounds = equal_interval_bounds(5)
    df = spark.createDataFrame([(100.0,), (0.0,), (99.999,)], "v double")
    got = [
        r["idx"]
        for r in df.select(
            bin_expr(F.col("v"), F.lit(0.0), F.lit(100.0)).alias("idx")
        )
        .orderBy("v")
        .collect()
    ]
    assert got == [0, 4, 4]  # 0.0 -> class 0; 99.999 and 100.0 -> class 4
    lo, hi = bounds(4, F.lit(0.0), F.lit(100.0))
    row = spark.range(1).select(lo.alias("lo"), hi.alias("hi")).first()
    assert row["lo"] == 80.0 and row["hi"] == 101.0


def test_unique_value_ranges_consecutive(spark):
    """R18: distinct values -> [v_i, v_{i+1}), last [v_n, v_n+1)
    (``.pyt:1012-1114``)."""
    df = spark.createDataFrame([(3.0,), (1.0,), (3.0,), (7.0,)], "v double")
    rows = unique_value_ranges(df, "v").orderBy("lo").collect()
    assert [(r["lo"], r["hi"]) for r in rows] == [(1.0, 3.0), (3.0, 7.0), (7.0, 8.0)]


def test_contiguity_detects_gap(spark):
    """R25: max != next min is an error row (``.pyt:207-217``)."""
    ok = spark.createDataFrame([(1.0, 5.0), (5.0, 9.0)], "lo double, hi double")
    assert contiguity_errors(ok).count() == 0
    gap = spark.createDataFrame([(1.0, 5.0), (6.0, 9.0)], "lo double, hi double")
    bad = gap.collect() and contiguity_errors(gap).collect()
    assert len(bad) == 1 and bad[0]["hi"] == 5.0 and bad[0]["next_lo"] == 6.0


def test_in_any_range_nodata(spark):
    """R41 knockout test is half-open per range."""
    df = spark.createDataFrame([(9.999,), (10.0,), (10.999,), (11.0,)], "v double")
    got = [
        r["nd"]
        for r in df.select(
            F.expr(in_any_range_sql("v", [(10.0, 11.0)])).alias("nd")
        )
        .orderBy("v")
        .collect()
    ]
    assert got == [False, True, True, False]


def test_blank_to_null_direction(spark):
    """R29: '' -> NULL before write (``.pyt:278-279``). The reference's
    :542-543 bug (blank metadata nulling url) is NOT replicated: each
    column is coerced independently."""
    df = spark.createDataFrame([("", "https://x")], "metadata string, url string")
    row = df.select(
        F.nullif("metadata", F.lit("")).alias("metadata"),
        F.nullif("url", F.lit("")).alias("url"),
    ).first()
    assert row["metadata"] is None
    assert row["url"] == "https://x"  # bug would have nulled this too


def test_pyt_542_bug_divergence_pinned_through_update_layer_info(spark):
    """VERDICT r10 #6: the documented-not-replicated reference bug gets
    a DIVERGENCE pin through the real API, not just the nullif
    primitive. ``.pyt:542-543`` reads ``if metadata == "": url = None``
    -- a blank metadata parameter clobbers the URL column even when the
    caller never touched url. Our update_layer_info coerces each column
    independently (SURVEY section 1.2 'documented, not replicated'), so
    a metadata-only blank update must leave a previously-set Url
    standing."""
    from weighted_raster_overlay_service_toolbox_spark.toolbox import (
        create_wro_catalog,
        update_layer_info,
    )

    layers = spark.createDataFrame([("elev", "Elevation")], "name string, title string")
    cells = spark.createDataFrame(
        [("elev", 1, 0.0), ("elev", 2, 100.0)],
        "layer string, cell_id long, value double",
    )
    catalog, _ = create_wro_catalog(layers, cells)
    seeded, errs = update_layer_info(
        catalog, "elev", url="https://keep.example", metadata="stale"
    )
    assert errs.count() == 0

    # the reference's bug window: metadata blanked, url NOT in the call
    updated, errs2 = update_layer_info(seeded, "elev", metadata="")
    assert errs2.count() == 0
    row = updated.filter("Name = 'elev'").first()
    assert row["Metadata"] is None  # blank -> NULL (R29)
    assert row["Url"] == "https://keep.example"  # .pyt:542-543 would null this


def test_layer_info_surface_follows_shipped_pyt_not_stale_xml():
    """SURVEY section 1.2 schema-drift note, pinned (VERDICT r10 #6):
    ``UpdateWROLayerInfo.pyt.xml:2`` still declares two NoData params
    (``wroLayerNoDataRanges`` double, ``wroLayerNoDataRangeLabels``
    string) that the shipped tool no longer exposes (``.pyt:351,
    410-411`` -- the parameter list ends at the info URL). The engine
    follows the SHIPPED surface: update_layer_info takes exactly the
    four descriptive columns; NoData ranges are owned by the
    classification path (update_classification / R41), never by the
    layer-info update."""
    import inspect

    from weighted_raster_overlay_service_toolbox_spark.toolbox import (
        update_layer_info,
    )

    params = list(inspect.signature(update_layer_info).parameters)
    assert params == [
        "catalog_df", "name", "title", "description", "url", "metadata",
    ], params
    assert not any("nodata" in p.lower() for p in params)
