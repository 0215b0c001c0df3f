"""WRO-semantics queries -- the reference's core, over fixture data
(SURVEY.md section 2.2 "Reference-semantics operators").

Citations per query reference ``WROS/Weighted Raster Overlay Service.pyt``.
The classification fixtures (ranges/weights/catalog rows) live in
``plans/wro.py``. Every remap, NoData test and weighted sum here is SQL
text from ``functions/ranges.py``'s emitters: the Spark queries parse it
(``F.expr``/``selectExpr``, through ``plans/overlay.py``'s pivot and
score, the catalog overlay's own) and the DuckDB oracles embed it, so
both engines run one text (a Python model checks that text in
``tests/test_range_properties.py``). The oracles' pivot and weighted sum
(``_PIVOT_SQL``, ``_WEIGHTED``) stay hand-written as the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import duck_round
from pyspark.sql.functions import broadcast

from ..functions.ranges import (
    contiguity_errors,
    equal_interval_bounds,
    layer_remap_sql,
    unique_value_ranges,
)
from ..plans.overlay import (
    overlay_pivot,
    overlay_score,
    run_overlay,
    weighted_sum_sql,
)
from ..plans.wro import (
    LAYER_NODATA,
    LAYER_RANGES,
    LAYER_WEIGHTS,
    WRO_CELLS_SQL,
    wro_catalog,
    wro_catalog_sql,
    wro_cells,
)
from ..sources import load_table
from .registry import davg, oavg, query


@query(
    "q_wro_equal_interval",
    oracle="""
    WITH s AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM events),
    b AS (
        SELECT LEAST(CAST(FLOOR((value - mn) / ((mx - mn) / 5)) AS INT), 4)
                   AS class_idx,
               mn, mx
        FROM events, s
    )
    SELECT class_idx,
           mn + class_idx * ((mx - mn) / 5) AS lo,
           CASE WHEN class_idx = 4 THEN mx + 1
                ELSE mn + (class_idx + 1) * ((mx - mn) / 5) END AS hi,
           COUNT(*) AS n
    FROM b
    GROUP BY class_idx, mn, mx
    """,
)
def q_wro_equal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R16 (``.pyt:895-938``): 5-class equal-interval classification of
    ``events.value`` -- np.linspace bounds, max+1 exclusive last bound
    (``.pyt:934-936``), data max clamped into the last class.

    Plan: one agg for min/max (broadcast back as a 1-row cross join), one
    grouped count -- two scans, no data-sized shuffle."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    bin_expr, bounds = equal_interval_bounds(5)
    binned = ev.crossJoin(broadcast(stats)).select(
        bin_expr(F.col("value"), F.col("mn"), F.col("mx")).alias("class_idx"),
        "mn",
        "mx",
    )
    grouped = binned.groupBy("class_idx", "mn", "mx").agg(
        F.count(F.lit(1)).alias("n")
    )
    width = (F.col("mx") - F.col("mn")) / F.lit(5)
    return grouped.select(
        "class_idx",
        (F.col("mn") + F.col("class_idx") * width).alias("lo"),
        F.when(F.col("class_idx") == 4, F.col("mx") + 1)
        .otherwise(F.col("mn") + (F.col("class_idx") + 1) * width)
        .alias("hi"),
        "n",
    )


#: the fixture layers' remap CASE, one text for Spark and the oracles.
_REMAP_SQL = layer_remap_sql(LAYER_RANGES)


@query(
    "q_wro_remap",
    oracle=f"""
    WITH {WRO_CELLS_SQL}
    SELECT layer, cell_id, value,
           {_REMAP_SQL} AS suitability
    FROM wro_cells
    """,
)
def q_wro_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R39 (semantics ``UpdateWROClassification.pyt.xml:2``): cell value
    through half-open ranges -> suitability 0-9. Pure CASE chain: stays in
    whole-stage codegen, no join, no shuffle."""
    cells = wro_cells(spark, sf_dir)
    return cells.select(
        "layer", "cell_id", "value", F.expr(_REMAP_SQL).alias("suitability")
    )


@query(
    "q_wro_unique_ranges",
    oracle="""
    WITH d AS (SELECT DISTINCT CAST(l_quantity AS DOUBLE) AS lo FROM lineitem)
    SELECT lo, COALESCE(LEAD(lo) OVER (ORDER BY lo), lo + 1) AS hi
    FROM d
    """,
)
def q_wro_unique_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R18/R19 (``.pyt:1012-1114``): distinct values -> consecutive
    half-open ranges ``[v_i, v_{i+1})``, final bound +1 (``.pyt:1131``).
    Distinct shuffles data once; the window runs over the classification-
    sized distinct set."""
    li = load_table(spark, sf_dir, "lineitem")
    return unique_value_ranges(li, "l_quantity")


@query(
    "q_wro_class_labels",
    oracle="""
    WITH d AS (SELECT DISTINCT CAST(l_quantity AS DOUBLE) AS lo FROM lineitem),
    r AS (SELECT lo, COALESCE(LEAD(lo) OVER (ORDER BY lo), lo + 1) AS hi FROM d)
    SELECT lo, hi,
           CAST(CAST(lo AS DECIMAL(10,1)) AS VARCHAR) || ' to '
               || CAST(CAST(hi AS DECIMAL(10,1)) AS VARCHAR) AS label
    FROM r
    """,
)
def q_wro_class_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R17 label generation (``.pyt:994-1002``): ``"a to b"`` per range.
    Bounds go through DECIMAL(10,1) so the string form is identical across
    engines (double->string reprs differ)."""
    li = load_table(spark, sf_dir, "lineitem")
    r = unique_value_ranges(li, "l_quantity")
    as_str = lambda c: F.col(c).cast("decimal(10,1)").cast("string")  # noqa: E731
    return r.select(
        "lo",
        "hi",
        F.concat(as_str("lo"), F.lit(" to "), as_str("hi")).alias("label"),
    )


_PIVOT_SQL = f"""
    WITH {WRO_CELLS_SQL},
    suit AS (
        SELECT layer, cell_id, value,
               {_REMAP_SQL} AS suitability
        FROM wro_cells
    ),
    wide AS (
        SELECT cell_id,
               MAX(CASE WHEN layer = 'quantity' THEN suitability END) AS s_q,
               MAX(CASE WHEN layer = 'discount' THEN suitability END) AS s_d,
               MAX(CASE WHEN layer = 'price_k'  THEN suitability END) AS s_p,
               MAX(CASE WHEN layer = 'discount' AND value >= 10.0 AND value < 11.0
                        THEN 1 ELSE 0 END) AS nodata_hit
        FROM suit GROUP BY cell_id
    )
"""


def _overlay_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture layers through the catalog overlay's own pivot
    (``plans/overlay.overlay_pivot``): ``cell_id, s_0 .. s_2,
    any_knockout`` in ``LAYER_RANGES`` order (quantity, discount,
    price_k)."""
    layers = {n: (r, LAYER_NODATA.get(n, [])) for n, r in LAYER_RANGES.items()}
    return overlay_pivot(wro_cells(spark, sf_dir), layers)


#: overlay weights in the pivot's column order.
_WEIGHTS = [LAYER_WEIGHTS[n] for n in LAYER_RANGES]

_WEIGHTED = (
    "CAST(0.5 AS DOUBLE) * s_q + CAST(0.25 AS DOUBLE) * s_d "
    "+ CAST(0.25 AS DOUBLE) * s_p"
)


@query(
    "q_wro_overlay",
    oracle=f"""
    {_PIVOT_SQL}
    SELECT cell_id, s_q, s_d, s_p, {_WEIGHTED} AS score
    FROM wide
    """,
)
def q_wro_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R40 (``README.md:9-11``): user-weighted sum of remapped layers.
    Weights 0.5/0.25/0.25 are exact binary fractions -- double arithmetic
    is exact, no rounding needed."""
    return _overlay_wide(spark, sf_dir).selectExpr(
        "cell_id",
        "s_0 AS s_q",
        "s_1 AS s_d",
        "s_2 AS s_p",
        f"{weighted_sum_sql(_WEIGHTS)} AS score",
    )


@query(
    "q_wro_nodata",
    oracle=f"""
    {_PIVOT_SQL}
    SELECT cell_id,
           CASE WHEN nodata_hit = 1 THEN NULL ELSE {_WEIGHTED} END AS score
    FROM wide
    """,
)
def q_wro_nodata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R41 (``UpdateWROLayerInfo.pyt.xml:2``): a cell in any layer's NoData
    range is knocked out -- NULL regardless of other layers."""
    return overlay_score(_overlay_wide(spark, sf_dir), _WEIGHTS)


@query(
    "q_wro_contiguity",
    oracle="""
    WITH d AS (SELECT DISTINCT CAST(l_quantity AS DOUBLE) AS lo
               FROM lineitem WHERE l_quantity <> 25),
    r AS (SELECT lo, lo + 1 AS hi FROM d)
    SELECT * FROM (
        SELECT lo, hi, LEAD(lo) OVER (ORDER BY lo) AS next_lo FROM r
    ) WHERE next_lo IS NOT NULL AND hi <> next_lo
    """,
)
def q_wro_contiguity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R25 (``.pyt:199-217``): each range's max must equal the next range's
    min. Unit-width ranges from distinct quantities with 25 removed -> the
    validator must flag exactly the hole around it."""
    li = load_table(spark, sf_dir, "lineitem")
    ranges = (
        li.filter(F.col("l_quantity") != 25)
        .select(F.col("l_quantity").cast("double").alias("lo"))
        .distinct()
        .select("lo", (F.col("lo") + 1).alias("hi"))
    )
    return contiguity_errors(ranges)


@query(
    "q_wro_minmax_validate",
    oracle=f"""
    WITH {WRO_CELLS_SQL},
    stats AS (
        SELECT layer, MIN(value) AS data_min, MAX(value) AS data_max
        FROM wro_cells GROUP BY layer
    ),
    cat AS (
        SELECT * FROM (VALUES
            ('quantity', CAST(1.0 AS DOUBLE), CAST(51.0 AS DOUBLE)),
            ('discount', CAST(0.0 AS DOUBLE), CAST(11.0 AS DOUBLE)),
            ('price_k',  CAST(0.0 AS DOUBLE), CAST(105.0 AS DOUBLE))
        ) AS t(layer, cat_min, cat_max)
    )
    SELECT c.layer, c.cat_min, c.cat_max, s.data_min, s.data_max,
           CASE WHEN c.cat_min <> s.data_min THEN s.data_min
                ELSE c.cat_min END AS snapped_min,
           c.cat_max > s.data_max AS max_ok
    FROM cat c JOIN stats s ON c.layer = s.layer
    """,
)
def q_wro_minmax_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R26 (``.pyt:281-314``): catalog first-min snaps to the dataset min
    (warning, ``.pyt:309-311``); last max must be STRICTLY greater than the
    dataset max (error otherwise, ``.pyt:312-314``)."""
    cells = wro_cells(spark, sf_dir)
    stats = cells.groupBy("layer").agg(
        F.min("value").alias("data_min"), F.max("value").alias("data_max")
    )
    cat_rows = [
        (name, ranges[0][0], ranges[-1][1]) for name, ranges in LAYER_RANGES.items()
    ]
    cat = spark.createDataFrame(cat_rows, "layer string, cat_min double, cat_max double")
    return broadcast(cat).join(stats, "layer").select(
        "layer",
        "cat_min",
        "cat_max",
        "data_min",
        "data_max",
        F.when(F.col("cat_min") != F.col("data_min"), F.col("data_min"))
        .otherwise(F.col("cat_min"))
        .alias("snapped_min"),
        (F.col("cat_max") > F.col("data_max")).alias("max_ok"),
    )


@query(
    "q_wro_stats",
    oracle=f"""
    WITH {WRO_CELLS_SQL}
    SELECT layer,
           COUNT(*) AS n,
           MIN(value) AS min_v,
           MAX(value) AS max_v,
           {oavg('value', 'avg_v')},
           CAST(ROUND(STDDEV_POP(value), 2) AS DOUBLE) AS std_v
    FROM wro_cells
    GROUP BY layer
    """,
)
def q_wro_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R13/R14 (``.pyt:303-304, 853-855``): per-layer statistics table --
    the reference's CalculateStatistics over the cell table."""
    cells = wro_cells(spark, sf_dir)
    return cells.groupBy("layer").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
        davg("value", "avg_v"),
        duck_round(F.stddev_pop("value"), 2).cast("double").alias("std_v"),
    )


_UPDATES = [
    ("quantity", "Quantity (updated)"),  # real change
    ("discount", "Discount"),            # identical -> no-change skip (R24)
]
_UPDATES_SQL = ", ".join(f"('{n}', '{t}')" for n, t in _UPDATES)


@query(
    "q_wro_catalog_update",
    oracle=f"""
    WITH {wro_catalog_sql()},
    updates AS (
        SELECT * FROM (VALUES {_UPDATES_SQL}) AS t(Name, new_title)
    )
    SELECT c.Name,
           COALESCE(u.new_title, c.Title) AS Title,
           (u.new_title IS NOT NULL AND u.new_title <> c.Title) AS changed
    FROM wro_catalog c LEFT JOIN updates u ON c.Name = u.Name
    """,
)
def q_wro_catalog_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4/R24 (``.pyt:245-273, 318-324``): keyed read-modify-write merge
    with change detection -- identical proposed values are skipped
    (``changed`` false), matching the reference's skip-write branch."""
    cat = wro_catalog(spark)
    upd = spark.createDataFrame(_UPDATES, "Name string, new_title string")
    return cat.join(broadcast(upd), "Name", "left").select(
        "Name",
        F.coalesce(F.col("new_title"), F.col("Title")).alias("Title"),
        (
            F.col("new_title").isNotNull() & (F.col("new_title") != F.col("Title"))
        ).alias("changed"),
    )


@query(
    "q_wro_dup_names",
    oracle=f"""
    WITH {wro_catalog_sql()},
    all_rows AS (
        SELECT Name FROM wro_catalog
        UNION ALL SELECT 'discount'
    )
    SELECT Name, COUNT(*) AS n
    FROM all_rows GROUP BY Name HAVING COUNT(*) > 1
    """,
)
def q_wro_dup_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R22 (``.pyt:738-740, 1151-1155``): duplicate-name rejection as
    groupBy-count-having over the catalog plus one injected duplicate."""
    cat = wro_catalog(spark).select("Name")
    dup = cat.unionByName(
        cat.sparkSession.createDataFrame([("discount",)], "Name string")
    )
    return dup.groupBy("Name").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1)


@query(
    "q_filter_layers",
    oracle="""
    WITH layers AS (
        SELECT lower(n_name) AS name,
               CASE WHEN n_nationkey = 5
                    THEN 'group\\Boundary\\' || lower(n_name)
                    ELSE 'group\\' || lower(n_name) END      AS long_name,
               n_nationkey % 7 <> 0                           AS is_raster,
               n_nationkey % 5 <> 1                           AS visible,
               CASE WHEN n_nationkey = 2 THEN 'MosaicDataset'
                    ELSE 'RasterDataset' END                  AS dataset_type,
               n_nationkey = 3                                AS is_web,
               n_nationkey <> 4                                AS has_datasource,
               CAST(n_nationkey AS BIGINT)                    AS position
        FROM nation
        UNION ALL
        SELECT lower(n_name), 'group\\' || lower(n_name),
               TRUE, TRUE, 'RasterDataset', FALSE, TRUE,
               CAST(n_nationkey + 100 AS BIGINT)
        FROM nation WHERE n_nationkey = 8
    ),
    pre AS (
        SELECT *,
               CASE WHEN NOT is_raster THEN 'not_raster'
                    WHEN NOT visible THEN 'not_visible'
                    WHEN dataset_type = 'MosaicDataset' THEN 'mosaic_dataset'
                    WHEN is_web THEN 'web_layer'
                    WHEN NOT has_datasource THEN 'no_datasource'
                    WHEN strpos(long_name, '\\Boundary') > 1
                      OR strpos(long_name, '\\Footprint') > 1
                      OR strpos(long_name, '\\Image') > 1
                      THEN 'service_sublayer'
               END AS pre_reason
        FROM layers
    ),
    ranked AS (
        SELECT *,
               SUM(CASE WHEN pre_reason IS NULL THEN 1 ELSE 0 END)
                   OVER (PARTITION BY name ORDER BY position
                         ROWS UNBOUNDED PRECEDING) AS surv_rank
        FROM pre
    )
    SELECT name, position,
           COALESCE(pre_reason,
                    CASE WHEN surv_rank > 1 THEN 'duplicate_name' END)
               AS reason
    FROM ranked
    """,
)
def q_filter_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R23 (``.pyt:710-745``): the six-stage layer filter pipeline over a
    nation-derived layer fixture engineered so every stage drops at least
    one layer (non-raster, invisible, mosaic, web, no-datasource,
    ``\\Boundary`` sublayer, plus one injected duplicate name kept
    first-in-map-order). Returns every layer with its drop reason (NULL =
    kept)."""
    from ..toolbox import filter_layers

    n = load_table(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    name = F.lower("n_name")
    base = n.select(
        name.alias("name"),
        F.when(k == 5, F.concat(F.lit("group\\Boundary\\"), name))
        .otherwise(F.concat(F.lit("group\\"), name))
        .alias("long_name"),
        (k % 7 != 0).alias("is_raster"),
        (k % 5 != 1).alias("visible"),
        F.when(k == 2, "MosaicDataset").otherwise("RasterDataset").alias("dataset_type"),
        (k == 3).alias("is_web"),
        (k != 4).alias("has_datasource"),
        k.cast("long").alias("position"),
    )
    dup = n.filter(k == 8).select(
        name.alias("name"),
        F.concat(F.lit("group\\"), name).alias("long_name"),
        F.lit(True).alias("is_raster"),
        F.lit(True).alias("visible"),
        F.lit("RasterDataset").alias("dataset_type"),
        F.lit(False).alias("is_web"),
        F.lit(True).alias("has_datasource"),
        (k + 100).cast("long").alias("position"),
    )
    layers = base.unionByName(dup)
    kept, dropped = filter_layers(layers, visible_only=True)
    out = ["name", "position"]
    return kept.select(*out, F.lit(None).cast("string").alias("reason")).unionByName(
        dropped.select(*out, "reason")
    )


@query(
    "q_wro_label_match",
    oracle="""
    WITH attr AS (
        SELECT CAST(n_nationkey AS DOUBLE) AS value, n_name AS field_value
        FROM nation
    ),
    colorizer AS (
        SELECT lower(n_name) AS match_value,
               'Nation ' || lower(n_name) AS label
        FROM nation
    )
    SELECT a.value, c.label, 5 AS out
    FROM attr a LEFT JOIN colorizer c
      ON lower(a.field_value) = lower(c.match_value)
    """,
)
def q_wro_label_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R20/R21 (``.pyt:1052-1068``): raster attribute rows matched to
    colorizer items on LOWERCASED value (attr side is uppercase TPC-H
    names, colorizer side lowercase -- the join only matches through the
    case fold), after the R21 count-equality gate. Outputs are all 5.

    Plan: broadcast equi-join on the lowercase expression -- the
    colorizer item list is UI-metadata-sized, the attribute side never
    shuffles."""
    from ..toolbox import match_uv_labels

    n = load_table(spark, sf_dir, "nation")
    attr = n.select(
        F.col("n_nationkey").cast("double").alias("value"),
        F.col("n_name").alias("field_value"),
    )
    colorizer = n.select(
        F.lower("n_name").alias("match_value"),
        F.concat(F.lit("Nation "), F.lower("n_name")).alias("label"),
    )
    matched, _errors = match_uv_labels(attr, colorizer)
    return matched


@query(
    "q_wro_schema_check",
    oracle="""
    SELECT * FROM (VALUES
        ('Name', TRUE), ('Title', TRUE), ('Description', TRUE),
        ('Url', TRUE), ('InputRanges', TRUE), ('NoDataRanges', TRUE),
        ('RangeLabels', TRUE), ('NoDataRangeLabels', TRUE),
        ('OutputValues', TRUE), ('Metadata', TRUE)
    ) AS t(col_name, present)
    """,
)
def q_wro_schema_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10 (``.pyt:139-147, 186-197``): required-field presence via schema
    introspection -- the engine-side ``ListFields`` equivalent. The catalog
    schema is fixed, so the expected answer is a constant; the oracle pins
    it as a literal VALUES table (a missing field flips a row to FALSE and
    fails the hash)."""
    required = [
        "Name", "Title", "Description", "Url", "InputRanges", "NoDataRanges",
        "RangeLabels", "NoDataRangeLabels", "OutputValues", "Metadata",
    ]
    present = set(wro_catalog(spark).columns)
    rows = [(c, c in present) for c in required]
    return spark.createDataFrame(rows, "col_name string, present boolean")


@query(
    "q_wro_overlay_catalog",
    oracle=f"""
    {_PIVOT_SQL}
    SELECT cell_id,
           CASE WHEN nodata_hit = 1 THEN NULL ELSE {_WEIGHTED} END AS score
    FROM wide
    """,
)
def q_wro_overlay_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The catalog-DRIVEN overlay path (plans/overlay.run_overlay): same
    semantics as q_wro_nodata but with remaps decoded from the catalog's
    CSV TEXT columns at run time instead of literal fixtures -- the full
    R32 decode -> R39 remap -> R40 weighted sum -> R41 knockout pipeline
    a service user runs."""
    return run_overlay(wro_cells(spark, sf_dir), wro_catalog(spark), LAYER_WEIGHTS)


@query(
    "q_catalog_time_travel",
    oracle=f"""
    WITH {wro_catalog_sql()},
    v1 AS (
        SELECT CAST(1 AS INTEGER) AS version, Name, Title FROM wro_catalog
    ),
    v2 AS (
        SELECT CAST(2 AS INTEGER) AS version, Name,
               CASE WHEN Name = 'discount' THEN 'Discount (rev A)'
                    ELSE Title END AS Title
        FROM wro_catalog
    ),
    v3 AS (
        SELECT CAST(3 AS INTEGER) AS version, Name,
               CASE WHEN Name = 'discount' THEN 'Discount (rev A)'
                    WHEN Name = 'quantity' THEN 'Quantity (rev B)'
                    ELSE Title END AS Title
        FROM wro_catalog
    )
    SELECT * FROM v1 UNION ALL SELECT * FROM v2 UNION ALL SELECT * FROM v3
    """,
)
def q_catalog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot retention + time travel on the catalog store: two keyed
    updates run through ``replace_catalog(keep_history=...)``, then ALL
    THREE states (two retained snapshots + live) are read back and
    unioned with a version column -- the minimal table-format surface
    (snapshot isolation, time travel) over plain parquet dirs
    (sources/catalog_store.py). The oracle replays the update sequence
    analytically.

    Scale: the store is layer-metadata-sized by design; at real scale
    the same call pattern maps onto a format with a metadata log
    (Delta/Iceberg) without changing callers."""
    from ..sources.catalog_store import (
        append_rows,
        catalog_versions,
        create_catalog,
        load_catalog,
        replace_catalog,
    )
    from .scans import _scratch

    path = _scratch("cat_time_travel")
    create_catalog(spark, path, overwrite=True)
    append_rows(spark, path, wro_catalog(spark))

    def retitle(name: str, new_title: str) -> None:
        cur = load_catalog(spark, path)
        replace_catalog(
            path,
            cur.withColumn(
                "Title",
                F.when(F.col("Name") == name, F.lit(new_title)).otherwise(
                    F.col("Title")
                ),
            ),
            keep_history=4,
        )

    retitle("discount", "Discount (rev A)")
    retitle("quantity", "Quantity (rev B)")

    versions = catalog_versions(path)  # [1, 2]
    parts = [
        load_catalog(spark, path, version=v).select(
            F.lit(v).cast("int").alias("version"), "Name", "Title"
        )
        for v in versions
    ]
    parts.append(
        load_catalog(spark, path).select(
            F.lit(len(versions) + 1).cast("int").alias("version"),
            "Name",
            "Title",
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "q_catalog_merge",
    oracle=f"""
    WITH {wro_catalog_sql()},
    merged AS (
        SELECT Name,
               CASE WHEN Name = 'discount' THEN 'Discount v2'
                    ELSE Title END AS Title,
               Description, Url
        FROM wro_catalog
        UNION ALL
        SELECT 'elevation', 'Elevation', NULL, 'https://example.com/e'
    )
    SELECT Name, Title, Description, Url FROM merged
    """,
)
def q_catalog_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE (upsert) into the catalog store: one matched row updates
    (non-null update columns win; its NULL Description keeps the current
    value) and one unmatched row inserts -- the WHEN MATCHED / WHEN NOT
    MATCHED surface (sources/catalog_store.py merge_rows), merged over
    the driver rows + snapshot replace. The oracle replays the merge
    analytically."""
    from ..sources.catalog_store import (
        append_rows,
        create_catalog,
        load_catalog,
        merge_rows,
    )
    from .scans import _scratch

    path = _scratch("cat_merge")
    create_catalog(spark, path, overwrite=True)
    append_rows(spark, path, wro_catalog(spark))
    upd = spark.createDataFrame(
        [
            ("discount", "Discount v2", None, None),
            ("elevation", "Elevation", None, "https://example.com/e"),
        ],
        "Name string, Title string, Description string, Url string",
    )
    merge_rows(spark, path, upd)
    return load_catalog(spark, path).select("Name", "Title", "Description", "Url")


@query(
    "q_catalog_diff",
    oracle="""
    SELECT 'discount' AS Name, 'update' AS change_type,
           'Discount (rev A)' AS Title, CAST(NULL AS VARCHAR) AS Url
    UNION ALL
    SELECT 'price_k', 'delete', NULL, NULL
    UNION ALL
    SELECT 'elevation', 'insert', 'Elevation', 'https://example.com/e'
    """,
)
def q_catalog_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between catalog snapshots: v1 (pre-update
    archive) vs live after a retitle, a delete, and an insert -- one row
    per changed key with insert/update/delete and the post-image values
    (sources/catalog_store.py catalog_diff; full-outer join on the key,
    null-safe column compare). The incremental-consumer surface that
    completes time travel + MERGE: downstream replays the row diff
    instead of re-reading the table."""
    from ..sources.catalog_store import (
        append_rows,
        catalog_diff,
        create_catalog,
        load_catalog,
        replace_catalog,
    )
    from .scans import _scratch

    path = _scratch("cat_diff")
    create_catalog(spark, path, overwrite=True)
    append_rows(spark, path, wro_catalog(spark))
    cur = load_catalog(spark, path)
    replace_catalog(
        path,
        cur.withColumn(
            "Title",
            F.when(F.col("Name") == "discount", F.lit("Discount (rev A)"))
            .otherwise(F.col("Title")),
        ),
        keep_history=4,
    )  # archives v1 = the ORIGINAL state
    cur = load_catalog(spark, path)
    nxt = cur.filter(F.col("Name") != "price_k").unionByName(
        cur.sparkSession.createDataFrame(
            [("elevation", "Elevation", "https://example.com/e")],
            "Name string, Title string, Url string",
        ),
        allowMissingColumns=True,
    )
    replace_catalog(path, nxt.select(*cur.columns), keep_history=4)
    return catalog_diff(spark, path, v_from=1, v_to=None).select(
        "Name", "change_type", "Title", "Url"
    )
