"""Tests for the three-tool library API (toolbox.py) -- the surface a user
of the reference would actually switch to. Edge cases cite the reference
(SURVEY.md section 5.3)."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from weighted_raster_overlay_service_toolbox_spark import toolbox
from weighted_raster_overlay_service_toolbox_spark.session import local_frame
from weighted_raster_overlay_service_toolbox_spark.sources import catalog_store
from weighted_raster_overlay_service_toolbox_spark.toolbox import (
    create_wro_catalog,
    filter_layers,
    match_uv_labels,
    update_classification,
    update_layer_info,
)


def _layers(spark, rows):
    return spark.createDataFrame(rows, "name string, title string")


def _cells(spark, rows):
    return spark.createDataFrame(rows, "layer string, cell_id long, value double")


def test_create_catalog_equal_interval(spark):
    layers = _layers(spark, [("elev", "Elevation")])
    cells = _cells(spark, [("elev", i, float(v)) for i, v in enumerate([0, 25, 50, 75, 100])])
    catalog, errors = create_wro_catalog(layers, cells)
    assert errors.count() == 0
    row = catalog.first()
    assert row["Name"] == "elev"
    # 5 classes over [0, 100]: bounds 0,20,20,40,...,80,101 (max+1 last)
    assert row["InputRanges"] == "0.0,20.0,20.0,40.0,40.0,60.0,60.0,80.0,80.0,101.0"
    assert row["OutputValues"] == "1,3,5,7,9"
    assert row["RangeLabels"].startswith("0.0 to 20.0,")


def test_create_catalog_degenerate_single_range(spark):
    """min==max -> one range [v, v+1) (``.pyt:913-926``)."""
    layers = _layers(spark, [("flat", "Flat")])
    cells = _cells(spark, [("flat", 1, 7.0), ("flat", 2, 7.0)])
    catalog, errors = create_wro_catalog(layers, cells)
    row = catalog.first()
    assert row["InputRanges"] == "7.0,8.0"
    assert row["OutputValues"] == "5"  # default suitability 5 (.pyt:86-87)


def test_create_catalog_rejects_dup_and_bad_names(spark):
    layers = _layers(
        spark, [("a", "A"), ("a", "A again"), ("bad name", "spacey")]
    )
    cells = _cells(spark, [("a", 1, 1.0), ("bad name", 1, 1.0)])
    catalog, errors = create_wro_catalog(layers, cells)
    codes = {r["code"] for r in errors.collect()}
    assert codes == {"duplicate_name", "invalid_name"}
    assert catalog.count() == 0  # both names dropped


def test_update_classification_happy_path(spark):
    layers = _layers(spark, [("elev", "Elevation")])
    cells = _cells(spark, [("elev", 1, 0.0), ("elev", 2, 100.0)])
    catalog, _ = create_wro_catalog(layers, cells)
    ranges = spark.createDataFrame(
        [("low", 0.0, 50.0, 2), ("high", 50.0, 101.0, 8)],
        "label string, lo double, hi double, out int",
    )
    stats = spark.createDataFrame([(0.0, 100.0)], "mn double, mx double")
    updated, errors = update_classification(catalog, "elev", ranges, stats)
    assert errors.filter("severity = 'error'").count() == 0
    row = updated.filter("Name = 'elev'").first()
    assert row["InputRanges"] == "0.0,50.0,50.0,101.0"
    assert row["OutputValues"] == "2,8"
    assert row["RangeLabels"] == "low,high"


def test_update_classification_contiguity_error(spark):
    """Gap between ranges aborts the edit (``.pyt:199-217``)."""
    layers = _layers(spark, [("elev", "Elevation")])
    cells = _cells(spark, [("elev", 1, 0.0), ("elev", 2, 100.0)])
    catalog, _ = create_wro_catalog(layers, cells)
    before = catalog.first()["InputRanges"]
    ranges = spark.createDataFrame(
        [("low", 0.0, 40.0, 2), ("high", 50.0, 101.0, 8)],
        "label string, lo double, hi double, out int",
    )
    updated, errors = update_classification(catalog, "elev", ranges)
    assert errors.filter("code = 'contiguity'").count() == 1
    assert updated.first()["InputRanges"] == before  # unchanged


def test_update_classification_min_snap_and_max_error(spark):
    """Min snaps with a warning (``.pyt:309-311``); last max <= dataset max
    is a hard error (``.pyt:312-314``)."""
    layers = _layers(spark, [("elev", "Elevation")])
    cells = _cells(spark, [("elev", 1, 0.0), ("elev", 2, 100.0)])
    catalog, _ = create_wro_catalog(layers, cells)
    stats = spark.createDataFrame([(0.0, 100.0)], "mn double, mx double")

    snap = spark.createDataFrame(
        [("low", 10.0, 50.0, 2), ("high", 50.0, 101.0, 8)],
        "label string, lo double, hi double, out int",
    )
    updated, errors = update_classification(catalog, "elev", snap, stats)
    assert errors.filter("code = 'min_snapped'").count() == 1
    assert updated.filter("Name = 'elev'").first()["InputRanges"].startswith("0.0,")

    short = spark.createDataFrame(
        [("low", 0.0, 50.0, 2), ("high", 50.0, 100.0, 8)],  # 100.0 == max
        "label string, lo double, hi double, out int",
    )
    updated2, errors2 = update_classification(catalog, "elev", short, stats)
    assert errors2.filter("code = 'max_not_covered'").count() == 1
    assert updated2.first()["InputRanges"] == catalog.first()["InputRanges"]


def test_update_classification_snap_skips_max_check(spark):
    """The reference's ``elif`` (``.pyt:312-314``): when the min snaps,
    the strict-max check is SKIPPED -- a snapped-and-short table goes
    through with only the warning."""
    layers = _layers(spark, [("elev", "Elevation")])
    cells = _cells(spark, [("elev", 1, 0.0), ("elev", 2, 100.0)])
    catalog, _ = create_wro_catalog(layers, cells)
    stats = spark.createDataFrame([(0.0, 100.0)], "mn double, mx double")

    both = spark.createDataFrame(
        [("low", 10.0, 50.0, 2), ("high", 50.0, 100.0, 8)],  # snap AND short
        "label string, lo double, hi double, out int",
    )
    updated, errors = update_classification(catalog, "elev", both, stats)
    assert errors.filter("code = 'min_snapped'").count() == 1
    assert errors.filter("code = 'max_not_covered'").count() == 0
    # warning-only -> the edit applies, with the snapped min
    assert updated.filter("Name = 'elev'").first()["InputRanges"] == (
        "0.0,50.0,50.0,100.0"
    )


def test_update_classification_suitability_domain(spark):
    """Outputs constrained to 0-9 (``.pyt:86-87``)."""
    layers = _layers(spark, [("elev", "Elevation")])
    cells = _cells(spark, [("elev", 1, 0.0), ("elev", 2, 100.0)])
    catalog, _ = create_wro_catalog(layers, cells)
    ranges = spark.createDataFrame(
        [("x", 0.0, 101.0, 12)], "label string, lo double, hi double, out int"
    )
    _, errors = update_classification(catalog, "elev", ranges)
    assert errors.filter("code = 'suitability_domain'").count() == 1


def test_update_layer_info_url_validation_and_blank_null(spark):
    layers = _layers(spark, [("elev", "Elevation")])
    cells = _cells(spark, [("elev", 1, 0.0), ("elev", 2, 100.0)])
    catalog, _ = create_wro_catalog(layers, cells)

    _, errors = update_layer_info(catalog, "elev", url="ftp://nope")
    assert errors.filter("code = 'invalid_url'").count() == 1

    updated, errors2 = update_layer_info(
        catalog, "elev", title="New", url="https://ok.example", metadata=""
    )
    assert errors2.count() == 0
    row = updated.filter("Name = 'elev'").first()
    assert row["Title"] == "New"
    assert row["Url"] == "https://ok.example"
    assert row["Metadata"] is None  # blank -> NULL (R29), url untouched


def test_update_layer_info_csv_quoted_label_roundtrip(spark):
    """RFC-4180 quoting survives a classification update with a comma in
    a label (``.pyt:1319-1323``)."""
    layers = _layers(spark, [("elev", "Elevation")])
    cells = _cells(spark, [("elev", 1, 0.0), ("elev", 2, 100.0)])
    catalog, _ = create_wro_catalog(layers, cells)
    ranges = spark.createDataFrame(
        [("lowest, really", 0.0, 101.0, 5)],
        "label string, lo double, hi double, out int",
    )
    updated, _ = update_classification(catalog, "elev", ranges)
    assert updated.first()["RangeLabels"] == '"lowest, really"'


def test_create_catalog_class_break_dispatch(spark):
    """R17 (``.pyt:941-1008``): breaks [min,u1..uk] with last bound +1,
    all-5 outputs, 'a to b' labels."""
    layers = spark.createDataFrame(
        [("cls", "Classified", [25.0, 50.0, 100.0])],
        "name string, title string, breaks array<double>",
    )
    cells = spark.createDataFrame(
        [("cls", 1, 0.0), ("cls", 2, 100.0)],
        "layer string, cell_id long, value double",
    )
    catalog, errors = create_wro_catalog(layers, cells)
    row = catalog.first()
    assert row["InputRanges"] == "0.0,25.0,25.0,50.0,50.0,101.0"
    assert row["OutputValues"] == "5,5,5"
    assert row["RangeLabels"] == "0.0 to 25.0,25.0 to 50.0,50.0 to 101.0"


def test_create_catalog_unique_values_dispatch(spark):
    """R18 (``.pyt:1012-1114``): distinct values -> consecutive ranges,
    terminal +1."""
    layers = spark.createDataFrame(
        [("uv", "Thematic", [7.0, 1.0, 3.0])],
        "name string, title string, unique_values array<double>",
    )
    cells = spark.createDataFrame(
        [("uv", 1, 1.0)], "layer string, cell_id long, value double"
    )
    catalog, errors = create_wro_catalog(layers, cells)
    row = catalog.first()
    assert row["InputRanges"] == "1.0,3.0,3.0,7.0,7.0,8.0"
    assert row["OutputValues"] == "5,5,5"


def test_create_catalog_skips_vector_source_types(spark):
    """R15 (``.pyt:1246-1249``): VECTOR_UV/MAGDIR layers skipped with a
    warning."""
    layers = spark.createDataFrame(
        [("wind", "Wind", "VECTOR_UV"), ("elev", "Elevation", "GENERIC")],
        "name string, title string, source_type string",
    )
    cells = spark.createDataFrame(
        [("elev", 1, 0.0), ("elev", 2, 100.0), ("wind", 1, 5.0)],
        "layer string, cell_id long, value double",
    )
    catalog, errors = create_wro_catalog(layers, cells)
    assert [r["Name"] for r in catalog.collect()] == ["elev"]
    assert errors.filter("code = 'skipped_source_type'").count() == 1


def test_create_catalog_default_fallback_when_no_cells(spark):
    """R38 (``.pyt:1268, 1279-1280``): a layer with no cells gets the
    hardcoded default classification and a warning."""
    layers = spark.createDataFrame(
        [("ghost", "No Data Layer")], "name string, title string"
    )
    cells = spark.createDataFrame(
        [], "layer string, cell_id long, value double"
    )
    catalog, errors = create_wro_catalog(layers, cells)
    row = catalog.first()
    assert row["InputRanges"] == "1.0,50.0,50.0,100.0,100.0,150.0,150.0,200.0,200.0,256.0"
    assert row["OutputValues"] == "1,3,5,7,9"
    assert row["RangeLabels"] == "Very Low,Low,Medium,High,Very High"
    assert errors.filter("code = 'default_classification'").count() == 1


_LAYER_SCHEMA = (
    "name string, long_name string, is_raster boolean, visible boolean, "
    "dataset_type string, is_web boolean, has_datasource boolean, position long"
)


def test_filter_layers_one_drop_per_stage(spark):
    """R23 (``.pyt:710-745``): each of the six stages plus the duplicate
    check drops exactly its target layer; precedence matches the
    reference's cascading addLayer flags."""
    rows = [
        ("vec",   "group\\vec",            False, True,  "FeatureClass",  False, True,  1),
        ("hid",   "group\\hid",            True,  False, "RasterDataset", False, True,  2),
        ("mos",   "group\\mos",            True,  True,  "MosaicDataset", False, True,  3),
        ("web",   "group\\web",            True,  True,  "RasterDataset", True,  True,  4),
        ("nods",  "group\\nods",           True,  True,  "RasterDataset", False, False, 5),
        ("bnd",   "mos\\Boundary\\bnd",    True,  True,  "RasterDataset", False, True,  6),
        ("ok",    "group\\ok",             True,  True,  "RasterDataset", False, True,  7),
        ("ok",    "group\\ok2",            True,  True,  "RasterDataset", False, True,  8),
    ]
    layers = spark.createDataFrame(rows, _LAYER_SCHEMA)
    kept, dropped = filter_layers(layers, visible_only=True)
    assert [(r["name"], r["position"]) for r in kept.collect()] == [("ok", 7)]
    reasons = {r["position"]: r["reason"] for r in dropped.collect()}
    assert reasons == {
        1: "not_raster", 2: "not_visible", 3: "mosaic_dataset",
        4: "web_layer", 5: "no_datasource", 6: "service_sublayer",
        8: "duplicate_name",
    }


def test_filter_layers_visibility_off_and_defaults(spark):
    """visible_only=False keeps invisible layers (``.pyt:718-719`` only
    applies when the parameter is set); missing optional columns default
    to keep; a \\Boundary PREFIX is not a sublayer (find > 0)."""
    layers = spark.createDataFrame(
        [("a",), ("b",)], "name string"
    )  # only name: all defaults
    kept, dropped = filter_layers(layers)
    assert kept.count() == 2 and dropped.count() == 0

    lyr = spark.createDataFrame(
        [("hid", "group\\hid", True, False, None, False, True, 1),
         ("pfx", "\\Boundary\\pfx", True, True, None, False, True, 2)],
        _LAYER_SCHEMA,
    )
    kept2, _ = filter_layers(lyr, visible_only=False)
    # invisible kept; \Boundary at position 1 (find==0 in the reference)
    # is NOT a sublayer match
    assert {r["name"] for r in kept2.collect()} == {"hid", "pfx"}


def test_match_uv_labels_case_insensitive(spark):
    """R20 (``.pyt:1059-1068``): match is on LOWERCASED values; unmatched
    rows keep a NULL label (documented deviation from the reference's
    silent list misalignment)."""
    attr = spark.createDataFrame(
        [(1.0, "FOREST"), (2.0, "Water"), (3.0, "unknown")],
        "value double, field_value string",
    )
    colorizer = spark.createDataFrame(
        [("forest", "Dense forest"), ("WATER", "Open water"), ("urban", "Built")],
        "match_value string, label string",
    )
    matched, errors = match_uv_labels(attr, colorizer)
    assert errors.count() == 0
    rows = {r["value"]: (r["label"], r["out"]) for r in matched.collect()}
    assert rows == {
        1.0: ("Dense forest", 5),
        2.0: ("Open water", 5),
        3.0: (None, 5),
    }


def test_match_uv_labels_cardinality_mismatch(spark):
    """R21 (``.pyt:1052-1055``): count mismatch -> warning + empty match."""
    attr = spark.createDataFrame(
        [(1.0, "forest"), (2.0, "water")], "value double, field_value string"
    )
    colorizer = spark.createDataFrame(
        [("forest", "Dense forest")], "match_value string, label string"
    )
    matched, errors = match_uv_labels(attr, colorizer)
    assert matched.count() == 0
    assert errors.filter("code = 'uv_cardinality'").count() == 1


def test_create_catalog_colorizer_label_dispatch(spark):
    """R20 wired into the unique-value dispatch: labels come from the
    colorizer through the case fold; R21 mismatch skips the layer."""
    schema = (
        "name string, title string, unique_values array<double>, "
        "uv_field_values array<string>, colorizer_values array<string>, "
        "colorizer_labels array<string>"
    )
    layers = spark.createDataFrame(
        [
            ("uv", "Thematic", [1.0, 3.0], ["FOREST", "WATER"],
             ["forest", "water"], ["Dense forest", "Open water"]),
            ("bad", "Mismatch", [1.0, 3.0], ["FOREST", "WATER"],
             ["forest"], ["Dense forest"]),
        ],
        schema,
    )
    cells = spark.createDataFrame(
        [("uv", 1, 1.0)], "layer string, cell_id long, value double"
    )
    catalog, errors = create_wro_catalog(layers, cells)
    rows = {r["Name"]: r for r in catalog.collect()}
    assert set(rows) == {"uv"}  # mismatch layer dropped (R21)
    assert rows["uv"]["RangeLabels"] == "Dense forest,Open water"
    assert rows["uv"]["InputRanges"] == "1.0,3.0,3.0,4.0"
    assert rows["uv"]["OutputValues"] == "5,5"
    assert errors.filter("code = 'uv_cardinality'").count() == 1


def test_create_catalog_strips_colorizer_label_whitespace(spark):
    """Colorizer labels are stripped of tabs and newlines like the
    reference's ``str(v).strip()`` (``.pyt:1308-1323``), not of spaces
    only."""
    layers = spark.createDataFrame(
        [("uv", "Thematic", [1.0, 3.0], ["FOREST", "WATER"],
          ["forest", "water"], ["\tDense, forest ", "Open water\r\n"])],
        "name string, title string, unique_values array<double>, "
        "uv_field_values array<string>, colorizer_values array<string>, "
        "colorizer_labels array<string>",
    )
    cells = _cells(spark, [("uv", 1, 1.0)])
    catalog, _ = create_wro_catalog(layers, cells)
    assert catalog.first()["RangeLabels"] == '"Dense, forest",Open water'


def test_update_classification_stats_via_scratch_export(spark):
    """R12 (``.pyt:283-304``): with no stats_df, cells_df routes through
    the scratch-export step and min/max validation still fires."""
    from weighted_raster_overlay_service_toolbox_spark.toolbox import (
        export_scratch_table,
    )

    layers = _layers(spark, [("elev", "Elevation")])
    cells = _cells(spark, [("elev", 1, 0.0), ("elev", 2, 100.0)])
    catalog, _ = create_wro_catalog(layers, cells)

    snap = spark.createDataFrame(
        [("low", 10.0, 50.0, 2), ("high", 50.0, 101.0, 8)],
        "label string, lo double, hi double, out int",
    )
    updated, errors = update_classification(catalog, "elev", snap, cells_df=cells)
    assert errors.filter("code = 'min_snapped'").count() == 1
    assert updated.filter("Name = 'elev'").first()["InputRanges"].startswith("0.0,")
    # the scratch view exists, is cached, and re-export replaces it
    assert spark.catalog.isCached("wro_scratch_paths")
    again = export_scratch_table(
        cells.filter("layer = 'elev'").select("cell_id", "value"),
        "wro_scratch_paths",
    )
    assert again.count() == 2
    spark.catalog.uncacheTable("wro_scratch_paths")


def test_updates_reject_unknown_name(spark):
    """A keyed update against a nonexistent layer is an explicit error,
    never a silent no-op (the reference's picker guarantees existence,
    .pyt:120-125; a library call has no picker)."""
    layers = _layers(spark, [("elev", "Elevation")])
    cells = _cells(spark, [("elev", 1, 0.0), ("elev", 2, 100.0)])
    catalog, _ = create_wro_catalog(layers, cells)
    ranges = spark.createDataFrame(
        [("x", 0.0, 101.0, 5)], "label string, lo double, hi double, out int"
    )
    _, errors = update_classification(catalog, "nope", ranges)
    assert errors.filter("code = 'unknown_name'").count() == 1
    _, errors2 = update_layer_info(catalog, "nope", title="X")
    assert errors2.filter("code = 'unknown_name'").count() == 1


def test_update_classification_strips_labels_like_the_reference(spark):
    """Labels are encoded with the reference's ``str(v).strip()``
    (``.pyt:1308-1323``), which also strips tabs and newlines; Spark's
    ``trim`` strips spaces only and left a raw newline in the CSV cell."""
    layers = _layers(spark, [("elev", "Elevation")])
    cells = _cells(spark, [("elev", 1, 0.0), ("elev", 2, 100.0)])
    catalog, _ = create_wro_catalog(layers, cells)
    ranges = spark.createDataFrame(
        [("\tVery Low", 0.0, 50.0, 2), ("High\n", 50.0, 101.0, 8)],
        "label string, lo double, hi double, out int",
    )
    updated, errors = update_classification(catalog, "elev", ranges)
    assert errors.collect() == []
    assert updated.first()["RangeLabels"] == "Very Low,High"


def test_error_frames_collect_without_a_job(spark, job_ids):
    """Error frames are local relations: collecting one runs no Spark job,
    with rows or empty (a parallelized Python list ran one job of
    Python-worker tasks per action)."""
    rows = [("error", "contiguity", "1 non-contiguous range pairs")]
    err = toolbox._err
    assert job_ids("test-err-rows", lambda: err(spark, rows).collect()) == []
    assert job_ids("test-err-empty", lambda: err(spark, []).collect()) == []
    assert [tuple(r) for r in err(spark, rows).collect()] == rows
    assert err(spark, []).collect() == []


def test_keyed_edits_run_only_the_jobs_their_answer_needs(spark, tmp_path, job_ids):
    """On a catalog loaded from the store (a local relation), the key
    check runs no job: a classification edit runs one job, to collect its
    caller's value table (a Python-list frame), and a layer-info edit
    runs none (2 and 1 jobs with the Spark-read catalog, 6 and 3 before
    that)."""
    path = str(tmp_path / "catalog")
    layers = _layers(spark, [("elev", "Elevation"), ("slope", "Slope")])
    cells = _cells(spark, [("elev", 1, 0.0), ("elev", 2, 100.0), ("slope", 1, 5.0)])
    built, _ = create_wro_catalog(layers, cells)
    catalog_store.create_catalog(spark, path)
    catalog_store.append_rows(spark, path, built)
    cat = catalog_store.load_catalog(spark, path)
    ranges = spark.createDataFrame(
        [("high", 50.0, 101.0, 8), ("low", 0.0, 50.0, 2)],
        "label string, lo double, hi double, out int",
    )

    def classify():
        updated, errors = update_classification(cat, "elev", ranges)
        assert errors.collect() == []
        return updated

    assert len(job_ids("test-classify-jobs", classify)) == 1

    def layer_info():
        _, errors = update_layer_info(cat, "slope", title="Slope (deg)")
        assert errors.collect() == []

    assert len(job_ids("test-layer-info-jobs", layer_info)) == 0
    # the answers are those of the keyed edits, not of the job counting
    row = classify().filter("Name = 'elev'").first()
    assert row["InputRanges"] == "0.0,50.0,50.0,101.0"
    assert row["OutputValues"] == "2,8"


_RANGES = "label string, lo double, hi double, out int"
_CATALOG = (
    "Name string, Title string, InputRanges string, OutputValues string,"
    " RangeLabels string"
)


@pytest.mark.parametrize(
    "rows, stats",
    [
        # a null first lo, compared with the dataset min
        ([("low", None, 50.0, 2), ("high", 50.0, 101.0, 8)], (0.0, 100.0)),
        # a null last hi, compared with the dataset max
        ([("low", 0.0, 50.0, 2), ("high", 50.0, None, 8)], (0.0, 100.0)),
        # a null out, checked against the suitability domain
        ([("low", 0.0, 50.0, None), ("high", 50.0, 101.0, 8)], None),
    ],
    ids=["null_first_lo", "null_last_hi", "null_out"],
)
def test_null_bound_is_an_invalid_range_error(spark, job_ids, rows, stats):
    """A null bound or output is rejected with an invalid_range error row
    and the catalog comes back unchanged. The check loops over the
    collected rows: on local frames the whole rejection runs no job."""
    catalog = local_frame(spark, [("elev", "Elevation")], _CATALOG)
    ranges = local_frame(spark, rows, _RANGES)
    stats_df = None if stats is None else local_frame(
        spark, [stats], "mn double, mx double"
    )
    out = {}

    def edit():
        out["updated"], errors = update_classification(
            catalog, "elev", ranges, stats_df
        )
        out["errors"] = [(r["severity"], r["code"]) for r in errors.collect()]

    assert job_ids("test-null-bound", edit) == []
    assert out["updated"] is catalog
    assert out["errors"] == [("error", "invalid_range")]


def _lo_key(v):
    """Distinctness key for ``lo``: one null, one NaN, and 0.0 == -0.0."""
    if v is None:
        return "null"
    return "nan" if math.isnan(v) else v + 0.0


_bounds = st.one_of(
    st.none(), st.just(float("nan")), st.floats(allow_nan=False)
)


@st.composite
def _value_tables(draw):
    los = draw(st.lists(_bounds, max_size=5, unique_by=_lo_key))
    rows = []
    for i, lo in enumerate(los):
        # hi is often another row's lo, so contiguous tables occur
        hi = draw(st.one_of(st.sampled_from(los + [None]), _bounds)) if los else None
        rows.append((f"class {i}", lo, hi, draw(st.integers(-1, 10))))
    stats = draw(st.one_of(st.none(), st.tuples(_bounds, _bounds)))
    return rows, stats


def _outcome(fn):
    """Errors as (severity, code, message)."""
    _, errors = fn()
    return sorted(tuple(r) for r in errors.collect())


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_value_tables())
def test_driver_range_sort_matches_spark_order_by(spark, monkeypatch, table):
    """The driver-side sort keeps Spark's ascending ``orderBy("lo")``
    order (nulls first, NaN after every number), so update_classification
    gives the errors the Spark-sorted value table gave."""
    rows, stats = table
    ranges = local_frame(spark, rows, _RANGES)
    spark_order = ranges.orderBy("lo").collect()
    assert [r["label"] for r in toolbox._sort_ranges(ranges.collect())] == [
        r["label"] for r in spark_order
    ]

    catalog = local_frame(spark, [("elev", "Elevation")], _CATALOG)
    stats_df = None if stats is None else local_frame(
        spark, [stats], "mn double, mx double"
    )

    def edit():
        return update_classification(catalog, "elev", ranges, stats_df)

    driver_sorted = _outcome(edit)
    with monkeypatch.context() as m:
        m.setattr(toolbox, "_sort_ranges", lambda _rows: spark_order)
        spark_sorted = _outcome(edit)
    assert driver_sorted == spark_sorted
