"""Catalog persistence (R4-R11 surface): create/exists/load/append/replace
round trip with schema validation."""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from weighted_raster_overlay_service_toolbox_spark.sources.catalog_store import (
    REQUIRED_CLASSIFICATION,
    append_rows,
    catalog_exists,
    create_catalog,
    load_catalog,
    missing_columns,
    replace_catalog,
)

_STORE = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".scratch", "cat_store")


def test_full_lifecycle(spark):
    # R6 create; R9 exists
    assert not catalog_exists(_STORE) or create_catalog(spark, _STORE, overwrite=True) is None
    create_catalog(spark, _STORE, overwrite=True)
    assert catalog_exists(_STORE)
    with pytest.raises(FileExistsError):
        create_catalog(spark, _STORE)  # no silent clobber (.pyt:638-643)

    cat = load_catalog(spark, _STORE)
    assert cat.count() == 0
    # R10 introspection
    assert missing_columns(cat, REQUIRED_CLASSIFICATION) == []
    assert missing_columns(cat.drop("Title"), REQUIRED_CLASSIFICATION) == ["Title"]

    # R5 append aligns by name, missing columns null-filled
    rows = spark.createDataFrame(
        [("layerA", "Layer A")], "Name string, Title string"
    )
    append_rows(spark, _STORE, rows)
    got = load_catalog(spark, _STORE)
    assert got.count() == 1
    r = got.first()
    assert r["Name"] == "layerA" and r["Description"] is None

    # R4 keyed update via snapshot replace
    updated = got.withColumn(
        "Title",
        F.when(F.col("Name") == "layerA", F.lit("Renamed")).otherwise(F.col("Title")),
    )
    replace_catalog(_STORE, updated)
    assert load_catalog(spark, _STORE).first()["Title"] == "Renamed"


def test_replace_crash_window_recovery(spark):
    """A crash between replace_catalog's two renames leaves no live dir;
    the next load must roll the swap forward (complete .tmp) or back
    (no/partial .tmp), never lose the catalog."""
    import shutil

    path = _STORE + "_crash"
    create_catalog(spark, path, overwrite=True)
    rows = spark.createDataFrame([("a", "A")], "Name string, Title string")
    append_rows(spark, path, rows)

    # roll FORWARD: complete new snapshot in .tmp, live dir renamed away
    updated = load_catalog(spark, path).withColumn("Title", F.lit("New"))
    updated.write.mode("overwrite").parquet(path + ".tmp")
    os.rename(path, path + ".old")
    got = load_catalog(spark, path)  # triggers recovery
    assert got.first()["Title"] == "New"
    assert not os.path.isdir(path + ".old") and not os.path.isdir(path + ".tmp")

    # roll BACK: .tmp incomplete (no _SUCCESS) -> previous snapshot returns
    os.makedirs(path + ".tmp", exist_ok=True)
    os.rename(path, path + ".old")
    got2 = load_catalog(spark, path)
    assert got2.first()["Title"] == "New"  # previous live snapshot
    assert not os.path.isdir(path + ".old")
    shutil.rmtree(path, ignore_errors=True)


def test_stateful_custom_final_counts(spark):
    """applyInPandasWithState: final per-user state equals batch totals."""
    from weighted_raster_overlay_service_toolbox_spark.queries import QUERIES
    from weighted_raster_overlay_service_toolbox_spark.sources import load_table

    from .conftest import SF_SMOKE

    rows = QUERIES["q_stream_stateful_custom"](spark, SF_SMOKE).collect()
    assert rows
    final: dict[int, tuple[int, float]] = {}
    for r in sorted(rows, key=lambda r: r["batch_id"]):
        final[r["user_id"]] = (r["n_events"], r["sum_value"])
    truth = {
        r["user_id"]: (r["n"], r["s"])
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("s"),
        )
        .collect()
    }
    assert set(final) == set(truth)
    for uid, (n, s) in final.items():
        assert n == truth[uid][0], f"user {uid} count {n} != {truth[uid][0]}"
        assert abs(s - truth[uid][1]) < 0.02, f"user {uid} sum {s} != {truth[uid][1]}"


def test_snapshot_history_and_time_travel(spark):
    from weighted_raster_overlay_service_toolbox_spark.sources.catalog_store import (
        catalog_versions,
        purge_history,
    )

    store = _STORE + "_tt"
    create_catalog(spark, store, overwrite=True)
    append_rows(
        spark,
        store,
        spark.createDataFrame([("a", "T0")], "Name string, Title string"),
    )
    assert catalog_versions(store) == []

    def set_title(t):
        cur = load_catalog(spark, store)
        replace_catalog(
            store,
            cur.withColumn("Title", F.lit(t)),
            keep_history=2,
        )

    for i, t in enumerate(["T1", "T2", "T3", "T4"]):
        set_title(t)
    # 4 replaces, keep_history=2 -> versions 3 and 4 retained (1, 2 pruned)
    assert catalog_versions(store) == [3, 4]
    # time travel: v3 = state after T2, v4 = after T3, live = T4
    assert load_catalog(spark, store, version=3).collect()[0]["Title"] == "T2"
    assert load_catalog(spark, store, version=4).collect()[0]["Title"] == "T3"
    assert load_catalog(spark, store).collect()[0]["Title"] == "T4"
    with pytest.raises(FileNotFoundError):
        load_catalog(spark, store, version=1)  # pruned
    # snapshot isolation: a reader holding v4 still works after another swap
    held = load_catalog(spark, store, version=4)
    set_title("T5")
    assert held.collect()[0]["Title"] == "T3"
    # rebuild starts with a clean history
    create_catalog(spark, store, overwrite=True)
    assert catalog_versions(store) == []
    purge_history(store)


def test_history_off_by_default_retains_nothing(spark):
    from weighted_raster_overlay_service_toolbox_spark.sources.catalog_store import (
        catalog_versions,
    )

    store = _STORE + "_nohist"
    create_catalog(spark, store, overwrite=True)
    append_rows(
        spark,
        store,
        spark.createDataFrame([("a", "T0")], "Name string, Title string"),
    )
    replace_catalog(store, load_catalog(spark, store).withColumn("Title", F.lit("T1")))
    assert catalog_versions(store) == []
    assert load_catalog(spark, store).collect()[0]["Title"] == "T1"


def test_versioned_replace_crash_recovery_keeps_live_catalog(spark):
    """A crash between the two renames of a keep_history replace must
    still recover a complete LIVE catalog (rolled forward via the
    completed .tmp); the displaced snapshot of the interrupted replace
    is dropped from history (documented caveat), older versions stay."""
    import os
    import shutil

    from weighted_raster_overlay_service_toolbox_spark.sources.catalog_store import (
        _swap_paths,
        catalog_versions,
        purge_history,
        recover_catalog,
    )

    store = _STORE + "_crash"
    create_catalog(spark, store, overwrite=True)
    append_rows(
        spark,
        store,
        spark.createDataFrame([("a", "T0")], "Name string, Title string"),
    )
    replace_catalog(
        store,
        load_catalog(spark, store).withColumn("Title", F.lit("T1")),
        keep_history=4,
    )
    assert catalog_versions(store) == [1]
    # simulate the crash window of a second replace: new snapshot fully
    # written to .tmp, live dir renamed away, process dies
    tmp, old = _swap_paths(store)
    load_catalog(spark, store).withColumn("Title", F.lit("T2")).write.parquet(tmp)
    os.rename(store, old)
    recover_catalog(store)  # what the next load/replace runs first
    assert load_catalog(spark, store).collect()[0]["Title"] == "T2"
    assert catalog_versions(store) == [1]  # older history intact
    assert not os.path.isdir(old) and not os.path.isdir(tmp)
    shutil.rmtree(store, ignore_errors=True)
    purge_history(store)


def test_merge_rows_upsert_semantics(spark):
    from weighted_raster_overlay_service_toolbox_spark.sources.catalog_store import (
        merge_rows,
    )

    store = _STORE + "_merge"
    create_catalog(spark, store, overwrite=True)
    append_rows(
        spark,
        store,
        spark.createDataFrame(
            [("a", "TA", "DA"), ("b", "TB", "DB")],
            "Name string, Title string, Description string",
        ),
    )
    merge_rows(
        spark,
        store,
        spark.createDataFrame(
            [("a", "TA2", None), ("c", "TC", "DC")],
            "Name string, Title string, Description string",
        ),
    )
    got = {
        r["Name"]: (r["Title"], r["Description"])
        for r in load_catalog(spark, store).collect()
    }
    # matched: non-null update wins, null keeps current; unmatched inserts
    assert got == {"a": ("TA2", "DA"), "b": ("TB", "DB"), "c": ("TC", "DC")}


def test_catalog_diff_emits_only_changed_keys(spark):
    from weighted_raster_overlay_service_toolbox_spark.sources.catalog_store import (
        catalog_diff,
    )

    store = _STORE + "_diff"
    create_catalog(spark, store, overwrite=True)
    append_rows(
        spark,
        store,
        spark.createDataFrame(
            [("a", "TA"), ("b", "TB"), ("c", "TC")],
            "Name string, Title string",
        ),
    )
    cur = load_catalog(spark, store)
    replace_catalog(
        store,
        cur.filter(F.col("Name") != "c").withColumn(
            "Title",
            F.when(F.col("Name") == "a", F.lit("TA2")).otherwise(F.col("Title")),
        ),
        keep_history=2,
    )
    diff = {
        r["Name"]: (r["change_type"], r["Title"])
        for r in catalog_diff(spark, store, v_from=1, v_to=None).collect()
    }
    # b unchanged -> absent; a updated (post-image); c deleted (null post)
    assert diff == {"a": ("update", "TA2"), "c": ("delete", None)}
    # identical snapshots diff to empty
    assert catalog_diff(spark, store, v_from=None, v_to=None).count() == 0


def test_load_catalog_runs_no_job(spark, tmp_path, job_ids):
    """A catalog is read with pyarrow on the driver and returned as a
    local relation: loading it runs no Spark job, live or versioned, and
    neither does collecting it (a Spark read ran one job per action, and
    one more per load for schema inference)."""
    path = str(tmp_path / "cat")
    create_catalog(spark, path)
    append_rows(
        spark, path, spark.createDataFrame([("a", "A")], "Name string, Title string")
    )
    cat = load_catalog(spark, path)
    replace_catalog(path, cat.withColumn("Title", F.lit("B")), keep_history=2)
    assert job_ids("test-load-live", lambda: load_catalog(spark, path)) == []
    assert job_ids("test-load-v1", lambda: load_catalog(spark, path, version=1)) == []
    assert job_ids("test-load-collect", lambda: load_catalog(spark, path).collect()) == []
    assert [tuple(r) for r in load_catalog(spark, path).select("Name", "Title").collect()] == [("a", "B")]
    assert load_catalog(spark, path, version=1).select("Title").first()[0] == "A"


def test_foreign_catalog_keeps_its_missing_columns(spark, tmp_path):
    """A catalog this store did not write is read with its own footer
    schema, so ``missing_columns`` still reports what it lacks."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "foreign"
    path.mkdir()
    pq.write_table(
        pa.table({
            "Name": ["a"], "RangeLabels": ["lo"], "InputRanges": ["0.0,1.0"],
            "OutputValues": ["5"],
        }),
        str(path / "part-0.parquet"),
    )
    cat = load_catalog(spark, str(path))
    assert missing_columns(cat, REQUIRED_CLASSIFICATION) == ["Title"]
    assert cat.first()["InputRanges"] == "0.0,1.0"


def _reference_merge(cat, updates, key="Name"):
    """The MERGE as a full-outer join on the key, the store's former Spark
    plan: non-null update values win, a NULL key matches nothing."""
    aligned = updates.select(
        *[
            F.col(c).cast("string").alias(c)
            if c in updates.columns
            else F.lit(None).cast("string").alias(c)
            for c in cat.columns
        ]
    )
    u = aligned.select(
        F.col(key).alias("_uk"),
        *[F.col(c).alias(f"_u_{c}") for c in cat.columns if c != key],
    )
    return cat.join(u, cat[key] == u["_uk"], "full_outer").select(
        F.coalesce(cat[key], F.col("_uk")).alias(key),
        *[
            F.coalesce(F.col(f"_u_{c}"), cat[c]).alias(c)
            for c in cat.columns
            if c != key
        ],
    )


_MERGE_ROWS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c", None]),
        st.sampled_from(["T1", "T2", None]),
        st.sampled_from(["D1", None]),
    ),
    max_size=5,
)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(current=_MERGE_ROWS, updates=_MERGE_ROWS)
def test_merge_rows_matches_full_outer_join(spark, tmp_path, current, updates):
    """The driver-side merge gives the multiset of rows of the full-outer
    join it replaced, with duplicate and NULL keys on both sides, NULL
    update values and new keys."""
    from collections import Counter

    from weighted_raster_overlay_service_toolbox_spark.session import local_frame
    from weighted_raster_overlay_service_toolbox_spark.sources.catalog_store import (
        merge_rows,
    )

    schema = "Name string, Title string, Description string"
    store = str(tmp_path / "merge_ref")
    create_catalog(spark, store, overwrite=True)
    append_rows(spark, store, local_frame(spark, current, schema))
    upd = local_frame(spark, updates, schema)
    want = Counter(
        tuple(r) for r in _reference_merge(load_catalog(spark, store), upd).collect()
    )
    merge_rows(spark, store, upd)
    assert Counter(tuple(r) for r in load_catalog(spark, store).collect()) == want


def test_append_and_diff_of_stored_snapshots_run_no_job(spark, tmp_path, job_ids):
    """Appending a local frame to a stored catalog, and collecting the
    diff of two stored snapshots, run no Spark job: both work on the
    collected driver rows (a ``union`` of the two local sides ran one
    job, the full-outer join of the diff three)."""
    from weighted_raster_overlay_service_toolbox_spark.session import local_frame
    from weighted_raster_overlay_service_toolbox_spark.sources.catalog_store import (
        catalog_diff,
    )

    schema = "Name string, Title string"
    path = str(tmp_path / "cat")
    create_catalog(spark, path)
    append_rows(spark, path, local_frame(spark, [("a", "A"), ("b", "B")], schema))
    before = load_catalog(spark, path).collect()
    more = local_frame(spark, [("c", "C"), ("d", None)], schema)
    assert job_ids("test-append", lambda: append_rows(spark, path, more)) == []
    cat = load_catalog(spark, path)
    assert cat.collect() == before + _aligned_rows(cat, more)
    replace_catalog(path, cat.filter(F.col("Name") != "b"), keep_history=2)
    diff = []
    assert job_ids(
        "test-diff",
        lambda: diff.extend(catalog_diff(spark, path, v_from=1, v_to=None).collect()),
    ) == []
    assert [(r["Name"], r["change_type"]) for r in diff] == [("b", "delete")]


def _aligned_rows(cat, rows):
    """``rows`` as the catalog's columns, by name, absent ones NULL."""
    return [
        tuple(r[c] if c in rows.columns else None for c in cat.columns)
        for r in rows.collect()
    ]


def _reference_diff(a, b, key="Name"):
    """The change feed as a full-outer join on the key, the store's
    former Spark plan: null-safe compare of the non-key columns."""
    cols = a.columns
    bb = b.select(
        F.col(key).alias("_bk"),
        *[F.col(c).alias(f"_b_{c}") for c in cols if c != key],
    )
    j = a.join(bb, a[key] == bb["_bk"], "full_outer")
    changed = None
    for c in cols:
        if c == key:
            continue
        ne = ~a[c].eqNullSafe(F.col(f"_b_{c}"))
        changed = ne if changed is None else (changed | ne)
    change = (
        F.when(a[key].isNull(), "insert")
        .when(F.col("_bk").isNull(), "delete")
        .when(changed, "update")
    )
    return j.select(
        F.coalesce(a[key], F.col("_bk")).alias(key),
        change.alias("change_type"),
        *[F.col(f"_b_{c}").alias(c) for c in cols if c != key],
    ).filter(F.col("change_type").isNotNull())


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(old=_MERGE_ROWS, new=_MERGE_ROWS)
def test_catalog_diff_matches_full_outer_join(spark, tmp_path, old, new):
    """The driver-side diff gives the multiset of rows of the full-outer
    join it replaced, with NULL keys and values, inserts, deletes,
    duplicate keys and no-op rewrites (rows equal in both snapshots)."""
    from collections import Counter

    from weighted_raster_overlay_service_toolbox_spark.session import local_frame
    from weighted_raster_overlay_service_toolbox_spark.sources.catalog_store import (
        catalog_diff,
    )

    schema = "Name string, Title string, Description string"
    store = str(tmp_path / "diff_ref")
    create_catalog(spark, store, overwrite=True)
    append_rows(spark, store, local_frame(spark, old, schema))
    cat = load_catalog(spark, store)
    replace_catalog(
        store, local_frame(spark, new, cat.schema), keep_history=1
    )
    a, b = load_catalog(spark, store, version=1), load_catalog(spark, store)
    want = Counter(tuple(r) for r in _reference_diff(a, b).collect())
    got = catalog_diff(spark, store, v_from=1, v_to=None).collect()
    assert Counter(tuple(r) for r in got) == want
