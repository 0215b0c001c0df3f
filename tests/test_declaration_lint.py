"""A query's run-time needs are declared once, on its ``@query``
registration, and every runner reads them from there.

- every ``q_stream_*`` row declares ``stage=``, so ``harness.stage`` can
  stage its inputs outside a timed region;
- no repo-root script and no test names a private training memo: they
  clear a row's memo through ``registry.reset_training``;
- no repo-root script and no query module names a
  ``streaming.engine.stage_*`` function: scripts stage through
  ``harness.stage``, query bodies through ``registry.staged_inputs``.
"""

from __future__ import annotations

import ast
import glob
import os

from weighted_raster_overlay_service_toolbox_spark.queries import QUERIES
from weighted_raster_overlay_service_toolbox_spark.streaming import engine

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "weighted_raster_overlay_service_toolbox_spark")
SCRIPTS = sorted(glob.glob(os.path.join(REPO, "*.py")))
TESTS = sorted(glob.glob(os.path.join(REPO, "tests", "*.py")))
QUERY_MODULES = sorted(glob.glob(os.path.join(PKG, "queries", "*.py")))
MEMOS = {"_BPE_TRAIN_MEMO", "_PQ_TRAIN_MEMO"}
STAGERS = {n for n in dir(engine) if n.startswith("stage_")}


def _hits(paths: list[str], banned: set[str]) -> list[str]:
    """``file:line name`` for every identifier in ``banned`` that the
    files name: a variable, an attribute or an imported name."""
    out = []
    for path in paths:
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.alias):
                name = node.name.rsplit(".", 1)[-1]
            else:
                continue
            if name in banned:
                rel = os.path.relpath(path, REPO)
                out.append(f"{rel}:{node.lineno} {name}")
    return out


def test_every_stream_row_declares_its_staging():
    from weighted_raster_overlay_service_toolbox_spark.queries.registry import (
        STAGES,
    )

    stream = [n for n in QUERIES if n.startswith("q_stream_")]
    assert stream
    assert [n for n in stream if n not in STAGES] == []


def test_no_script_or_test_names_a_training_memo():
    assert _hits(SCRIPTS + TESTS, MEMOS) == []


def test_no_script_or_query_module_calls_a_stager():
    assert STAGERS >= {"stage_event_files", "stage_document_files"}
    assert _hits(SCRIPTS + QUERY_MODULES, STAGERS) == []
