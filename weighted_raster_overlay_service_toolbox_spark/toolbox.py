"""The reference's three tools as a DataFrame-native library API
(SURVEY.md section 3 "Engine lifecycle (target design)").

The reference is an ArcGIS Python Toolbox with three tools
(``WROS/Weighted Raster Overlay Service.pyt:35-39``); a user drives them
through UI parameters and geodatabase cursors. Here each tool is a pure
function: DataFrames in, (result DataFrame, errors DataFrame) out --
validation messages become error rows instead of UI messages. Every
data-sized step is a Catalyst plan (no driver-side loops over data); the
keyed edits' control path runs only the jobs its answer needs: on a
store-loaded catalog (a local relation) the key check and the override
run none, one job collects the UI-sized value table, whose sort and
checks run on the driver, and error frames are local relations too.

- :func:`create_wro_catalog`  ~ CreateWeightedOverlayMosaic (``.pyt:570-1303``)
- :func:`update_classification` ~ UpdateWROClassification (``.pyt:41-343``)
- :func:`update_layer_info`   ~ UpdateWROLayerInfo (``.pyt:345-567``)

Catalog schema mirrors ``.pyt:592-603`` (TEXT columns carrying RFC-4180
CSV classification strings, system ``Name`` key used in every where
clause, ``.pyt:151, 873``).

Scale posture: the catalog is layer-metadata-sized (broadcast-small at any
data scale); only cell statistics touch data-sized tables, and those are
single groupBy aggregations with map-side partials. Keyed updates are
``CASE WHEN`` column overrides on the catalog -- at 100 TB the catalog is
still tiny; the expensive side (stats) shuffles once on layer.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .functions.csvcodec import csv_encode_py, csv_field
from .functions.ranges import (
    DEFAULT_INPUT_RANGES,
    DEFAULT_OUTPUT_VALUES,
    DEFAULT_RANGE_LABELS,
    class_break_ranges,
    consecutive_pair_ranges,
    ranges_to_csv,
    ranges_to_labels,
    unique_value_ranges_expr,
)
from .session import local_frame

#: dataset-name characters the reference rejects (``.pyt:677-681``).
_BAD_NAME_CHARS = r"[ ~`!@#$%^&*(){}\[\]\-+=<>,.?|]"

#: default suitability outputs / labels (``.pyt:1279-1280``).
DEFAULT_OUTPUTS = [1, 3, 5, 7, 9]
DEFAULT_LABELS = ["Very Low", "Low", "Medium", "High", "Very High"]


def _err(spark: SparkSession, rows: list[tuple[str, str, str]]) -> DataFrame:
    return local_frame(spark, rows, "severity string, code string, message string")


def _no_errors(spark: SparkSession) -> DataFrame:
    return _err(spark, [])


# --------------------------------------------------------------------------
# Tool 1: CreateWeightedOverlayMosaic
# --------------------------------------------------------------------------


def create_wro_catalog(
    layers_df: DataFrame, cells_df: DataFrame, n_classes: int = 5
) -> tuple[DataFrame, DataFrame]:
    """Build a WRO catalog from layer metadata + cell values.

    ``layers_df``: one row per raster layer -- ``name string, title
    string`` plus OPTIONAL classification-source columns driving the
    reference's R15 dispatch (``.pyt:1233-1256``):

    - ``source_type string``: ``'VECTOR_UV'``/``'MAGDIR'`` layers are
      skipped with a warning (``.pyt:1246-1249``);
    - ``unique_values array<double>``: unique-value colorizer -> R18
      consecutive ranges with terminal +1 (``.pyt:1012-1114``); when the
      colorizer symbolizes on a non-Value field, the parallel arrays
      ``uv_field_values``/``colorizer_values``/``colorizer_labels``
      engage the R20 lowercased label match and the R21 cardinality
      check (``.pyt:1052-1068``; mismatch -> warning + layer skipped);
    - ``breaks array<double>``: classify-colorizer upper bounds -> R17
      ranges ``[min,u1)...[u_{k-1},u_k+1)`` with all-5 outputs
      (``.pyt:941-1008``, outputs ``.pyt:968-971``);
    - neither: R16 equal-interval from cell statistics
      (``.pyt:895-938``); when the layer has NO cells at all, the R38
      hardcoded default classification applies with a warning
      (``.pyt:1268, 1279-1280``).

    (Apply the R23 filter pipeline first via :func:`filter_layers`;
    this function consumes its ``kept_df``.)
    ``cells_df``: long cell table ``layer string, cell_id, value double``.

    Pipeline (mirrors ``execute``, ``.pyt:690-893``):
    1. duplicate-name rejection (R22, ``.pyt:738-740, 1151-1155``) and
       name character validation (R28, ``.pyt:677-681``) -> error rows;
    2. per-layer min/max statistics (R13, ``.pyt:897-900``);
    3. classification dispatch as above; degenerate min==max -> single
       range ``[v, v+1)`` (``.pyt:913-926``) with output "5" and label
       "Medium" (deliberate deviation: the reference emits 5 outputs for
       1 range there, writing inconsistent parallel lists --
       ``.pyt:1278-1280`` -- documented, not replicated);
    4. CSV-encode ranges/outputs/labels into the catalog TEXT columns
       (R31, ``.pyt:1119-1138, 1308-1325``), labels "a to b"
       (``.pyt:994-1002``).

    Returns ``(catalog_df, errors_df)``; offending layers are dropped
    from the catalog, mirroring the reference's skip-with-warning flow.
    """
    spark = layers_df.sparkSession

    dups = (
        layers_df.groupBy("name")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select(
            F.lit("error").alias("severity"),
            F.lit("duplicate_name").alias("code"),
            F.concat(F.lit("duplicate layer name: "), F.col("name")).alias("message"),
        )
    )
    badchar = layers_df.filter(F.col("name").rlike(_BAD_NAME_CHARS)).select(
        F.lit("error").alias("severity"),
        F.lit("invalid_name").alias("code"),
        F.concat(F.lit("invalid characters in name: "), F.col("name")).alias("message"),
    )
    errors = dups.unionByName(badchar)

    bad_names = (
        layers_df.groupBy("name").agg(F.count(F.lit(1)).alias("n")).filter("n > 1")
        .select("name")
        .unionByName(layers_df.filter(F.col("name").rlike(_BAD_NAME_CHARS)).select("name"))
    )
    ok_layers = layers_df.join(broadcast(bad_names), "name", "left_anti")

    # optional dispatch columns default to null when absent
    for opt, typ in (
        ("source_type", "string"),
        ("breaks", "array<double>"),
        ("unique_values", "array<double>"),
        # R20 non-Value-field colorizer match (.pyt:1023-1068): parallel to
        # unique_values, the attribute-table field values plus the
        # colorizer's (value, label) item lists
        ("uv_field_values", "array<string>"),
        ("colorizer_values", "array<string>"),
        ("colorizer_labels", "array<string>"),
    ):
        if opt not in ok_layers.columns:
            ok_layers = ok_layers.withColumn(opt, F.lit(None).cast(typ))

    skipped = ok_layers.filter(
        F.col("source_type").isin("VECTOR_UV", "MAGDIR")
    ).select(
        F.lit("warning").alias("severity"),
        F.lit("skipped_source_type").alias("code"),
        F.concat(
            F.lit("layer skipped (source type): "), F.col("name")
        ).alias("message"),
    )
    errors = errors.unionByName(skipped)
    ok_layers = ok_layers.filter(
        ~F.coalesce(
            F.col("source_type").isin("VECTOR_UV", "MAGDIR"), F.lit(False)
        )
    )

    # R21 cardinality check (.pyt:1052-1055): a non-Value-field colorizer
    # must supply exactly one item per attribute-table row; on mismatch
    # the reference warns and aborts the layer
    has_colorizer = (
        F.col("unique_values").isNotNull() & F.col("colorizer_values").isNotNull()
    )
    card_mismatch = has_colorizer & (
        F.size("uv_field_values") != F.size("colorizer_values")
    )
    uv_mismatch = ok_layers.filter(card_mismatch).select(
        F.lit("warning").alias("severity"),
        F.lit("uv_cardinality").alias("code"),
        F.concat(
            F.lit("could not determine raster values and raster colorizer "
                  "values for: "),
            F.col("name"),
        ).alias("message"),
    )
    errors = errors.unionByName(uv_mismatch)
    ok_layers = ok_layers.filter(~F.coalesce(card_mismatch, F.lit(False)))

    stats = cells_df.groupBy(F.col("layer").alias("name")).agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )

    # R15 dispatch: unique values (R18) > class breaks (R17) > equal
    # interval from stats (R16) > hardcoded default (R38, no cells)
    width = (F.col("mx") - F.col("mn")) / F.lit(n_classes)
    degenerate = F.col("mx") == F.col("mn")
    linspace = F.array(
        *[F.col("mn") + F.lit(i) * width for i in range(n_classes)],
        F.col("mx") + F.lit(1.0),
    )
    equal_pairs = F.when(
        degenerate,
        F.array(F.struct(F.col("mn").alias("lo"), (F.col("mn") + 1).alias("hi"))),
    ).otherwise(consecutive_pair_ranges(linspace))

    pairs = (
        F.when(F.col("unique_values").isNotNull(),
               unique_value_ranges_expr(F.col("unique_values")))
        .when(F.col("breaks").isNotNull() & F.col("mn").isNotNull(),
              class_break_ranges(F.col("mn"), F.col("breaks")))
        .when(F.col("mn").isNotNull(), equal_pairs)
        .otherwise(F.lit(None))
    )

    all_fives = F.array_join(
        F.transform(pairs, lambda _: F.lit("5")), ","
    )
    ranges_csv = F.coalesce(ranges_to_csv(pairs), F.lit(DEFAULT_INPUT_RANGES))
    # R20 (.pyt:1059-1068): non-Value-field colorizer labels -- match each
    # attribute value to its colorizer item on lowercased value (an in-row
    # map lookup: both lists live in the layer row, so the "nested loop"
    # is a pure column expression, no join, no shuffle)
    colorizer_map = F.map_from_arrays(
        F.transform("colorizer_values", F.lower), F.col("colorizer_labels")
    )
    matched_labels = F.transform(
        "uv_field_values",
        lambda v: F.element_at(colorizer_map, F.lower(v)),
    )
    labels_csv = F.when(pairs.isNull(), F.lit(DEFAULT_RANGE_LABELS)).otherwise(
        F.when(has_colorizer,
               F.array_join(F.transform(matched_labels, csv_field), ","))
        .when(degenerate & F.col("breaks").isNull() & F.col("unique_values").isNull(),
              F.lit(DEFAULT_LABELS[len(DEFAULT_LABELS) // 2]))
        .otherwise(ranges_to_labels(pairs))
    )
    outputs_csv = F.when(pairs.isNull(), F.lit(DEFAULT_OUTPUT_VALUES)).otherwise(
        F.when(F.col("unique_values").isNotNull() | F.col("breaks").isNotNull(),
               all_fives)  # all-5 outputs for colorizer paths (.pyt:968-971)
        .when(degenerate, F.lit(str(DEFAULT_OUTPUTS[len(DEFAULT_OUTPUTS) // 2])))
        .otherwise(F.lit(",".join(str(o) for o in DEFAULT_OUTPUTS)))
    )

    no_cells = ok_layers.join(broadcast(stats), "name", "left").filter(
        F.col("mn").isNull() & F.col("unique_values").isNull()
    ).select(
        F.lit("warning").alias("severity"),
        F.lit("default_classification").alias("code"),
        F.concat(
            F.lit("no cells; using default input ranges for: "), F.col("name")
        ).alias("message"),
    )
    errors = errors.unionByName(no_cells)

    catalog = (
        ok_layers.join(broadcast(stats), "name", "left")
        .select(
            F.col("name").alias("Name"),
            F.col("title").alias("Title"),
            F.lit(None).cast("string").alias("Description"),
            F.lit(None).cast("string").alias("Url"),
            ranges_csv.alias("InputRanges"),
            F.lit(None).cast("string").alias("NoDataRanges"),
            labels_csv.alias("RangeLabels"),
            F.lit(None).cast("string").alias("NoDataRangeLabels"),
            outputs_csv.alias("OutputValues"),
            F.lit(None).cast("string").alias("Metadata"),
            F.col("name").alias("dataset_id"),
        )
    )
    return catalog, errors


def filter_layers(
    layers_df: DataFrame, visible_only: bool = False
) -> tuple[DataFrame, DataFrame]:
    """R23 (``.pyt:710-745``): the map-layer filter pipeline as a library
    function -- (kept, dropped-with-reason), mirroring the reference's
    skip-with-message flow.

    ``layers_df`` columns (the reference's Layer/Describe surface):
    ``name string`` plus optional ``long_name string`` (default = name),
    ``is_raster boolean`` (default true), ``visible boolean`` (default
    true), ``dataset_type string`` (default null), ``is_web boolean``
    (default false), ``has_datasource boolean`` (default true),
    ``position long`` (map order; default = name order).

    Stage order and precedence match the reference's cascading
    ``addLayer`` flags exactly:

    1. not a raster layer -> ``not_raster`` (silent in the reference);
    2. ``visible_only`` and not visible -> ``not_visible``
       (``.pyt:718-719``);
    3. ``datasetType == 'MosaicDataset'`` -> ``mosaic_dataset``
       (``.pyt:721-724``);
    4. web layer -> ``web_layer`` (``.pyt:726-728``);
    5. no datasource -> ``no_datasource`` (``.pyt:730-732``);
    6. long name containing ``\\Boundary``/``\\Footprint``/``\\Image``
       past position 0 -> ``service_sublayer`` (``.pyt:734-736``;
       ``find(..) > 0``, i.e. a sublayer path, never a prefix);
    7. duplicate name among SURVIVORS of stages 1-6, first-in-map-order
       kept -> ``duplicate_name`` (``.pyt:738-740``; the reference's
       ``lyrCheck`` list only accumulates added layers).

    Plan: one CASE chain + one windowed survivor-rank per name -- the
    layer list is map-metadata-sized, so the single window partition per
    name is free at any data scale.

    Returns ``(kept_df, dropped_df)``; ``dropped_df`` adds a ``reason``
    column, both keep the input columns.
    """
    df = layers_df
    for opt, typ, default in (
        ("long_name", "string", F.col("name")),
        ("is_raster", "boolean", F.lit(True)),
        ("visible", "boolean", F.lit(True)),
        ("dataset_type", "string", F.lit(None)),
        ("is_web", "boolean", F.lit(False)),
        ("has_datasource", "boolean", F.lit(True)),
    ):
        if opt not in df.columns:
            df = df.withColumn(opt, default.cast(typ))
    if "position" not in df.columns:
        from pyspark.sql import Window

        df = df.withColumn(
            "position",
            F.row_number().over(Window.orderBy("name")).cast("long"),
        )

    sublayer = (
        (F.instr("long_name", "\\Boundary") > 1)
        | (F.instr("long_name", "\\Footprint") > 1)
        | (F.instr("long_name", "\\Image") > 1)
    )
    pre = (
        F.when(~F.coalesce(F.col("is_raster"), F.lit(True)), "not_raster")
        .when(
            F.lit(visible_only) & ~F.coalesce(F.col("visible"), F.lit(True)),
            "not_visible",
        )
        .when(F.col("dataset_type") == "MosaicDataset", "mosaic_dataset")
        .when(F.coalesce(F.col("is_web"), F.lit(False)), "web_layer")
        .when(~F.coalesce(F.col("has_datasource"), F.lit(True)), "no_datasource")
        .when(sublayer, "service_sublayer")
    )

    from pyspark.sql import Window

    w = (
        Window.partitionBy("name")
        .orderBy("position")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    surv_rank = F.sum(
        F.when(F.col("pre_reason").isNull(), 1).otherwise(0)
    ).over(w)
    flagged = (
        df.withColumn("pre_reason", pre)
        .withColumn(
            "reason",
            F.coalesce(
                F.col("pre_reason"),
                F.when(surv_rank > 1, "duplicate_name"),
            ),
        )
        .drop("pre_reason")
    )
    kept = flagged.filter(F.col("reason").isNull()).drop("reason")
    dropped = flagged.filter(F.col("reason").isNotNull())
    return kept, dropped


def match_uv_labels(
    attr_df: DataFrame, colorizer_df: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """R20/R21 (``.pyt:1052-1068``): match raster attribute-table rows to
    colorizer items on lowercased value.

    ``attr_df``: the raster attribute table -- ``value double,
    field_value string`` (the colorizer's non-Value field).
    ``colorizer_df``: colorizer items -- ``match_value string,
    label string``.

    R21 first (``.pyt:1052-1055``): the two row counts must be equal;
    on mismatch the reference warns "Could not determine raster values
    and raster colorizer values" and aborts the layer -- here that is a
    warning row and an EMPTY match result. R20 (``.pyt:1059-1068``): the
    reference nested-loops ``rasterValue[1].lower() ==
    colorizerValue[0].lower()``; the Spark form is a broadcast equi-join
    on the lowercased value (colorizer item lists are UI-metadata-sized,
    so the fact side never shuffles). Unmatched rows keep a NULL label
    (the reference silently skips them, misaligning its parallel lists
    -- documented deviation, not replicated). Outputs are all 5
    (``.pyt:1071-1076``).

    Returns ``(matched_df(value, label, out), errors_df)``. The two
    ``count()`` actions are classification-cardinality-sized (attribute
    tables / colorizer item lists), never data-sized.
    """
    spark = attr_df.sparkSession
    n_attr = attr_df.count()
    n_col = colorizer_df.count()
    if n_attr != n_col:
        empty = local_frame(spark, [], "value double, label string, out int")
        return empty, _err(
            spark,
            [("warning", "uv_cardinality",
              "Could not determine raster values and raster colorizer values: "
              f"{n_attr} attribute rows vs {n_col} colorizer items")],
        )
    matched = (
        attr_df.join(
            broadcast(colorizer_df),
            F.lower(attr_df["field_value"]) == F.lower(colorizer_df["match_value"]),
            "left",
        )
        .select(
            attr_df["value"].cast("double").alias("value"),
            colorizer_df["label"].alias("label"),
            F.lit(5).alias("out"),  # all outputs 5 (.pyt:1071-1076)
        )
    )
    return matched, _no_errors(spark)


def export_scratch_table(df: DataFrame, name: str) -> DataFrame:
    """R12 (``.pyt:283-287``): materialize a projection as a named scratch
    table -- the ``ExportMosaicDatasetPaths`` -> ``in_memory`` step.

    Spark form: drop-if-exists (``arcpy.Exists`` + ``Delete_management``,
    ``.pyt:284-285``) then register the DataFrame as a CACHED temp view;
    the reference's subsequent keyed cursor reads (``SourceOID = id``
    where clauses, ``.pyt:290``) become lookups against the cached view
    instead of re-reading the source. Cache scope is the session, like
    ``in_memory`` workspace scope; call ``spark.catalog.uncacheTable``
    when done."""
    spark = df.sparkSession
    spark.catalog.dropTempView(name)
    df.createOrReplaceTempView(name)
    spark.catalog.cacheTable(name)
    return spark.table(name)


# --------------------------------------------------------------------------
# Tool 2: UpdateWROClassification
# --------------------------------------------------------------------------


def update_classification(
    catalog_df: DataFrame,
    name: str,
    ranges_df: DataFrame,
    stats_df: DataFrame | None = None,
    cells_df: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Keyed update of one catalog row's classification columns.

    ``ranges_df``: the value-table parameter (``.pyt:80-87``) as a
    DataFrame -- ``label string, lo double, hi double, out int``.
    ``stats_df`` (optional): ``mn double, mx double`` single row with the
    layer's actual cell min/max for coverage validation. When absent and
    ``cells_df`` (``layer string, cell_id, value double``) is supplied,
    the stats derive through the R12 scratch-export step
    (``.pyt:283-304``): the layer's cells are exported to a cached
    scratch view (:func:`export_scratch_table`) and min/max queried from
    it, mirroring ExportMosaicDatasetPaths -> keyed cursor -> raster
    min/max.

    Validations (mirrors ``updateMessages``/``execute``):
    - required columns present (R10, ``.pyt:139-147``);
    - no null ``lo``, ``hi`` or ``out`` (``invalid_range``): a null has
      no range to write or compare;
    - suitability domain 0-9 (``.pyt:86-87``);
    - range contiguity (R25, ``.pyt:199-217``);
    - coverage vs stats (R26, ``.pyt:281-314``): the first range min is
      snapped to the dataset min on ANY mismatch (the reference compares
      the str() forms, ``.pyt:309-311``) with a warning; the strict-max
      check (last max must exceed the dataset max, ``.pyt:312-314``) runs
      ONLY when the min did not snap -- the reference's ``elif`` skips it
      after a snap;
    - change detection / skip-write (R24, ``.pyt:245-273``) falls out of
      the CASE override writing identical values.

    Returns ``(updated_catalog, errors)``; on any error row with
    severity='error' the catalog is returned UNCHANGED (the reference
    aborts the edit).
    """
    spark = catalog_df.sparkSession
    errs: list[tuple[str, str, str]] = []

    missing = {"label", "lo", "hi", "out"} - set(ranges_df.columns)
    if missing:
        return catalog_df, _err(
            spark,
            [("error", "missing_columns", f"ranges_df missing {sorted(missing)}")],
        )

    # the reference's layer picker guarantees the key exists (.pyt:120-125);
    # as a library call an unknown key must be an explicit error, not a
    # silent no-op update
    if not _has_key(catalog_df, name):
        return catalog_df, _err(
            spark, [("error", "unknown_name", f"no catalog row named {name!r}")]
        )

    if stats_df is None and cells_df is not None:
        # R12 (.pyt:283-304): export the layer's rows to a scratch view,
        # then derive min/max from the export
        scratch = export_scratch_table(
            cells_df.filter(F.col("layer") == name).select("cell_id", "value"),
            "wro_scratch_paths",
        )
        stats_df = scratch.agg(
            F.min("value").alias("mn"), F.max("value").alias("mx")
        )

    # ONE job collects the value table: it is a UI parameter (a handful
    # of rows, .pyt:80-87), so it is sorted and validated on the driver --
    # exactly the reference's own loop over value_tbl. A Spark orderBy
    # would add sampling and shuffle jobs to sort a few rows.
    # (contiguity_errors stays the declared distributed R25 operator for
    # data-sized range tables; q_wro_contiguity exercises it.)
    rows = _sort_ranges(ranges_df.collect())
    # a null bound or output has no range to write or compare: reject the
    # table before any check that orders or renders its values
    nulls = sum(1 for r in rows if None in (r["lo"], r["hi"], r["out"]))
    if nulls:
        return catalog_df, _err(
            spark,
            [("error", "invalid_range", f"{nulls} ranges with a null lo, hi or out")],
        )
    bad_out = sum(1 for r in rows if r["out"] < 0 or r["out"] > 9)
    if bad_out:
        errs.append(
            ("error", "suitability_domain", f"{bad_out} outputs outside 0-9")
        )

    gaps = sum(1 for a, b in zip(rows, rows[1:]) if a["hi"] != b["lo"])
    if gaps:
        errs.append(("error", "contiguity", f"{gaps} non-contiguous range pairs"))
    if stats_df is not None and rows:
        st = stats_df.first()
        if st is not None and st["mn"] is not None:
            if str(float(rows[0]["lo"])) != str(float(st["mn"])):
                # snap on ANY mismatch, str()-compared like the reference
                # (.pyt:309-311)
                errs.append(
                    ("warning", "min_snapped",
                     f"first range min {rows[0]['lo']} snapped to dataset min {st['mn']}")
                )
                rows[0] = type(rows[0])(
                    label=rows[0]["label"], lo=float(st["mn"]),
                    hi=rows[0]["hi"], out=rows[0]["out"],
                )
            elif st["mx"] is not None and rows[-1]["hi"] <= st["mx"]:
                # strict-max error; elif-skipped when the min snapped,
                # mirroring the reference (.pyt:312-314)
                errs.append(
                    ("error", "max_not_covered",
                     f"last range max {rows[-1]['hi']} must be > dataset max {st['mx']}")
                )

    errors = _err(spark, errs)
    if any(e[0] == "error" for e in errs):
        return catalog_df, errors

    flat = [x for r in rows for x in (r["lo"], r["hi"])]
    in_ranges = ",".join(_num_str(v) for v in flat)
    out_values = ",".join(str(r["out"]) for r in rows)
    # the labels are a handful of UI strings: encode them on the driver,
    # with the reference's own str(v).strip() (.pyt:1308-1323)
    labels = csv_encode_py([r["label"] for r in rows])

    key = F.col("Name") == name
    updated = catalog_df.withColumns(
        {
            "InputRanges": F.when(key, F.lit(in_ranges)).otherwise(F.col("InputRanges")),
            "OutputValues": F.when(key, F.lit(out_values)).otherwise(F.col("OutputValues")),
            "RangeLabels": F.when(key, F.lit(labels)).otherwise(F.col("RangeLabels")),
        }
    )
    return updated, errors


def _has_key(catalog_df: DataFrame, name: str) -> bool:
    """Whether a catalog row named ``name`` exists: no job on a local
    relation, one on a plan (a ``limit(1).count()`` runs two)."""
    return not catalog_df.filter(F.col("Name") == name).isEmpty()


def _sort_ranges(rows: list) -> list:
    """Order value-table rows by ``lo`` the way Spark's ascending
    ``orderBy("lo")`` does: nulls first, then numbers, then NaN (Spark
    places NaN above every number, infinity included)."""

    def key(r):
        lo = r["lo"]
        if lo is None:
            return (0, 0.0)
        if math.isnan(lo):
            return (2, 0.0)
        return (1, lo)

    return sorted(rows, key=key)


def _num_str(v: float) -> str:
    """Range bounds render like the reference's str(float) (.pyt:1132)."""
    return str(float(v))


# --------------------------------------------------------------------------
# Tool 3: UpdateWROLayerInfo
# --------------------------------------------------------------------------


def update_layer_info(
    catalog_df: DataFrame,
    name: str,
    title: str | None = None,
    description: str | None = None,
    url: str | None = None,
    metadata: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Keyed update of one catalog row's descriptive columns.

    URL validation R27 (``.pyt:485-491``): must start http:// or https://
    (case-insensitive). Blank -> null coercion R29 applies to EACH column
    independently -- the reference's ``.pyt:542-543`` bug (a blank
    metadata nulling url) is documented here and deliberately not
    replicated. Change detection R24 (skip-write on identical values,
    ``.pyt:509-533``) falls out of the CASE override semantics.
    """
    spark = catalog_df.sparkSession
    errs: list[tuple[str, str, str]] = []
    if url is not None and url != "":
        u = url.lower()
        if not (u.startswith("http://") or u.startswith("https://")):
            errs.append(
                ("error", "invalid_url", f"url must start with http(s)://: {url}")
            )
    if not _has_key(catalog_df, name):
        errs.append(("error", "unknown_name", f"no catalog row named {name!r}"))
    errors = _err(spark, errs)
    if errs:
        return catalog_df, errors

    key = F.col("Name") == name

    def override(col: str, new: str | None) -> F.Column:
        if new is None:
            return F.col(col)  # parameter not supplied -> keep
        coerced = F.nullif(F.lit(new), F.lit(""))  # blank -> NULL (R29)
        return F.when(key, coerced).otherwise(F.col(col))

    updated = catalog_df.withColumns(
        {
            "Title": override("Title", title),
            "Description": override("Description", description),
            "Url": override("Url", url),
            "Metadata": override("Metadata", metadata),
        }
    )
    return updated, errors
