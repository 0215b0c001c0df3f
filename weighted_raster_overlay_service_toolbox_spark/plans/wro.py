"""WRO fixture plans: the derived views from FIXTURES.md section B and the
catalog pipelines mirroring the reference's three tools.

The reference's mosaic catalog (``WROS/Weighted Raster Overlay
Service.pyt:592-603``) is a table keyed by ``Name`` whose TEXT columns
carry CSV-encoded classifications; ``wro_catalog()`` reproduces the
fixture rows exactly (they are part of the declared-query definitions).
``wro_cells()`` is the long-format cell table the reference only ever
touches through aggregate raster properties (``.pyt:303-304, 897-900``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.ranges import RangeTriple
from ..session import local_frame
from ..sources import load_table

# --- parsed classification metadata (FIXTURES.md B; bounds follow the
# reference's max+1-past-data-max convention, .pyt:934-936) ---------------

LAYER_RANGES: dict[str, list[RangeTriple]] = {
    "quantity": [(1.0, 11.0, 1), (11.0, 21.0, 3), (21.0, 31.0, 5), (31.0, 41.0, 7), (41.0, 51.0, 9)],
    "discount": [(0.0, 2.0, 9), (2.0, 4.0, 7), (4.0, 6.0, 5), (6.0, 8.0, 3), (8.0, 11.0, 1)],
    "price_k": [(0.0, 20.0, 1), (20.0, 40.0, 3), (40.0, 60.0, 5), (60.0, 80.0, 7), (80.0, 105.0, 9)],
}

#: NoData knockout ranges per layer (UpdateWROLayerInfo.pyt.xml:2).
LAYER_NODATA: dict[str, list[tuple[float, float]]] = {
    "discount": [(10.0, 11.0)],
}

#: overlay weights (sum to 1).
LAYER_WEIGHTS: dict[str, float] = {"quantity": 0.5, "discount": 0.25, "price_k": 0.25}

#: catalog rows in the reference's CSV-string encoding (.pyt:1119-1138,
#: 1308-1325), carrying the reference's FULL mosaic field list
#: (outMoFields, .pyt:592-603); the quoted label on price_k exercises
#: RFC-4180 quoting.
CATALOG_ROWS = [
    # (Name, Title, InputRanges, OutputValues, RangeLabels, NoDataRanges,
    #  Url, Description, NoDataRangeLabels, Metadata, dataset_id)
    ("quantity", "Quantity",
     "1.0,11.0,11.0,21.0,21.0,31.0,31.0,41.0,41.0,51.0",
     "1,3,5,7,9", "Very Low,Low,Medium,High,Very High", None,
     "https://example.com/q",
     "Order line quantity suitability", None, "unit:count", "ds_quantity"),
    ("discount", "Discount",
     "0.0,2.0,2.0,4.0,4.0,6.0,6.0,8.0,8.0,11.0",
     "9,7,5,3,1", "Very Low,Low,Medium,High,Very High", "10.0,11.0", None,
     "Discount percentage suitability", "No Data", "unit:pct", "ds_discount"),
    ("price_k", "Price (k)",
     "0.0,20.0,20.0,40.0,40.0,60.0,60.0,80.0,80.0,105.0",
     "1,3,5,7,9", '"Lowest, really",Low,Medium,High,Very High', None,
     "http://example.com/p",
     "Extended price (thousands) suitability", None, "unit:kusd", "ds_price_k"),
]

CATALOG_SCHEMA = (
    "Name string, Title string, InputRanges string, OutputValues string, "
    "RangeLabels string, NoDataRanges string, Url string, "
    "Description string, NoDataRangeLabels string, Metadata string, "
    "dataset_id string"
)

#: cell key: one cell per lineitem row (FIXTURES.md B).
_CELL_ID = "l_orderkey * 10 + l_linenumber"

#: DuckDB CTE equivalent of wro_cells() for oracle SQL.
WRO_CELLS_SQL = f"""
    wro_cells(layer, cell_id, value) AS (
        SELECT 'quantity', {_CELL_ID}, l_quantity FROM lineitem
        UNION ALL
        SELECT 'discount', {_CELL_ID}, l_discount * 100 FROM lineitem
        UNION ALL
        SELECT 'price_k', {_CELL_ID}, l_extendedprice / 1000 FROM lineitem
    )
"""


def wro_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long cell table (layer, cell_id, value): three measure 'layers'
    derived from lineitem.

    ONE parquet scan + explode of a 3-struct array per row (a UNION ALL of
    three projections scans the table three times -- 3x the I/O for the
    same rows, which matters at 100 TB)."""
    li = load_table(spark, sf_dir, "lineitem")
    cell = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("cell_id")

    def entry(name: str, value: F.Column):
        return F.struct(
            F.lit(name).alias("layer"), value.cast("double").alias("value")
        )

    return li.select(
        cell,
        F.explode(
            F.array(
                entry("quantity", F.col("l_quantity")),
                entry("discount", F.col("l_discount") * 100),
                entry("price_k", F.col("l_extendedprice") / 1000),
            )
        ).alias("lv"),
    ).select(F.col("lv.layer").alias("layer"), "cell_id", F.col("lv.value").alias("value"))


def wro_catalog(spark: SparkSession) -> DataFrame:
    """The catalog fixture as a local relation: collects run no job."""
    return local_frame(spark, CATALOG_ROWS, CATALOG_SCHEMA)


def wro_catalog_sql() -> str:
    """DuckDB VALUES CTE matching ``wro_catalog`` exactly."""
    def lit(v):
        if v is None:
            return "NULL"
        escaped = v.replace("'", "''")
        return f"'{escaped}'"

    rows = ",\n        ".join(
        "(" + ", ".join(lit(v) for v in row) + ")" for row in CATALOG_ROWS
    )
    return (
        "wro_catalog(Name, Title, InputRanges, OutputValues, RangeLabels, "
        "NoDataRanges, Url, Description, NoDataRangeLabels, Metadata, "
        f"dataset_id) AS (SELECT * FROM (VALUES {rows}))"
    )
