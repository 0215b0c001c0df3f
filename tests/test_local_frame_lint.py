"""Local-frame lint for the catalog control path.

``spark.createDataFrame(list)`` parallelizes its rows into a Python RDD,
so every action on the frame runs a job of Python-worker tasks (about
0.3 s on 4 cores, even for an empty list). The toolbox's error frames,
the catalog store's loaded catalogs and the WRO fixture catalog are
driver-built and tiny; built through ``session.local_frame`` (a
``pyarrow.Table`` input, which Spark turns into a LocalRelation) they
collect without a job. This lint keeps every other construction out of
those modules, the same discipline as tests/test_hof_lint.py: a direct
``createDataFrame`` call there fails. The catalog store also reads and
commits with pyarrow on the driver, so Spark's reader, writer and
partitioning calls stay out of it.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / (
    "weighted_raster_overlay_service_toolbox_spark"
)

#: modules whose small frames must go through ``session.local_frame``.
CONTROL_PATH = ("toolbox.py", "sources/catalog_store.py", "plans/wro.py")

#: Spark I/O and partitioning attributes banned from the catalog store
#: (``F.coalesce``, the column function, is not a partitioning call).
SPARK_IO = ("read", "write", "repartition", "coalesce")


def _calls(rel: str, attr: str) -> list[int]:
    tree = ast.parse((PKG / rel).read_text())
    return [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == attr
    ]


def _helper_calls(rel: str) -> list[int]:
    tree = ast.parse((PKG / rel).read_text())
    return [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Name)
        and n.func.id == "local_frame"
    ]


def test_control_path_builds_frames_only_through_local_frame():
    direct = {rel: _calls(rel, "createDataFrame") for rel in CONTROL_PATH}
    assert not any(direct.values()), (
        "createDataFrame called directly (a Python-RDD frame runs a"
        f" Python-worker job per action) -- use session.local_frame: {direct}"
    )
    # each module still builds its frames, through the helper
    assert all(_helper_calls(rel) for rel in CONTROL_PATH)


def _spark_io(rel: str) -> list[tuple[int, str]]:
    tree = ast.parse((PKG / rel).read_text())
    return [
        (n.lineno, n.attr)
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute)
        and n.attr in SPARK_IO
        and not (isinstance(n.value, ast.Name) and n.value.id == "F")
    ]


def test_catalog_store_has_no_spark_read_or_write():
    found = _spark_io("sources/catalog_store.py")
    assert not found, (
        "the catalog store reads with pq.read_table and commits with"
        f" pq.write_table on the driver -- no Spark read or write: {found}"
    )


def test_local_frame_is_the_one_arrow_construction():
    tree = ast.parse((PKG / "session.py").read_text())
    fn = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
    )
    inner = [
        n for n in ast.walk(fn)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "createDataFrame"
    ]
    assert len(inner) == 1
    assert len(_calls("session.py", "createDataFrame")) == 1
