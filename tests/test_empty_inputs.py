"""Degenerate-input robustness: EVERY registered query must execute
against empty (zero-row, correct-schema) fixture tables. At 100 TB the
empty case is not exotic -- partition-pruned scans, filtered shards, and
fresh ingest directories produce zero-row inputs constantly, and an
operator that throws on them takes the whole job down. (This sweep is
what caught the empty-partitioned-sink readback bug fixed in
queries/scans.py: a partitionBy write of zero rows emits no files, so
the readback must carry an explicit schema.)"""

from __future__ import annotations

import os

import pytest

from harness import TABLES, sweep
from weighted_raster_overlay_service_toolbox_spark.queries import QUERIES
from weighted_raster_overlay_service_toolbox_spark.sources import load_table


@pytest.fixture(scope="session")
def empty_sf_dir(spark):
    out = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), ".scratch", "sf_empty"
    )
    marker = os.path.join(out, "_READY")
    if not os.path.isfile(marker):
        os.makedirs(out, exist_ok=True)
        for t in TABLES:
            load_table(spark, "/root/testdata/sf0.001", t).limit(0).coalesce(
                1
            ).write.mode("overwrite").parquet(f"{out}/{t}.parquet")
        with open(marker, "w") as f:
            f.write("ok")
    return out


def test_every_query_executes_on_empty_tables(spark, empty_sf_dir):
    # harness.sweep: batch queries on the 4-thread in-process pool,
    # q_stream_* in sequence (they own scratch sinks and a state-store
    # conf window a racing twin could corrupt)
    def run_one(name: str) -> str | None:
        try:
            QUERIES[name](spark, empty_sf_dir).count()
            return None
        except Exception as e:  # noqa: BLE001 - collecting the full list
            return f"{name}: {str(e).splitlines()[0][:100]}"

    fails = [r for r in sweep(run_one, QUERIES).values() if r]
    assert not fails, f"{len(fails)} queries fail on empty inputs: {fails[:10]}"
