"""Corpus-sized single-scan pins with configurable storage.

Several token-stream queries (tfidf base, rare-token ratio, approx-topk,
unigram logprob, collocations, the banded dedup signatures, the semantic
dedup assignment) pin an exploded corpus-sized relation so that multiple
consumers (counts + totals + self-join sides) share ONE source scan. The
round-6/7 default is ``localCheckpoint(eager=False)``: cheapest at fixture
scale (~0.10-0.16 s/query at sf0.1, A/B table in PLANS.md), but it holds
the relation in executor storage WITHOUT recompute-on-loss -- a lost
executor fails the job, and at 100 TB the pinned relation may not fit.

``eager=False`` defers only the final stage. Under AQE (pyspark 4.1.2)
building the pin runs every shuffle-map stage of the plan at once: a
probe on a ``groupBy`` + join plan ran 2 jobs before any action. A pin
call therefore costs the upstream shuffles where it is made, not where
its result is first read.

``pin_corpus`` keeps that default and makes the trade a deployment knob
(VERDICT r7 #6 / ADVICE r7) via ``SPARK_GRAFT_PIN_STORAGE``:

- ``checkpoint`` (default): ``localCheckpoint(eager=False)`` -- single
  scan, lineage truncated, executor memory, no recompute-on-loss; the
  plan's shuffle stages run when the pin is built (see above).
- ``disk``: ``persist(StorageLevel.DISK_ONLY)`` -- single scan, blocks
  spill to executor-local disk, lineage KEPT so a lost block recomputes
  instead of failing the job. The right setting for long-running 100 TB
  jobs where executor loss is expected.
- ``none``: no pin -- every consumer re-plans the scan. The right
  setting at the extreme where the pinned relation cannot fit executor
  storage at all and the source scan is cheaper than materialization.

Use ``.transform(pin_corpus)`` in call chains. NOT for iteration-state
checkpoints (pagerank / kmeans / the connected-components rounds): those
exist to TRUNCATE LINEAGE across loop rounds -- ``none`` would let the
plan grow exponentially -- so they stay explicit ``localCheckpoint``
calls. Every such checkpoint is a job per round, whatever the data size;
connected components therefore runs its rounds only for edge lists too
large for the driver, and clusters smaller ones with union-find there.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_ENV = "SPARK_GRAFT_PIN_STORAGE"
_MODES = ("checkpoint", "disk", "none")


def pin_parallelism(df: DataFrame, *keys: str) -> DataFrame:
    """Explicit-count key repartition that AQE cannot coalesce away --
    for COMPUTE-heavy self-joins over BYTE-small relations.

    AQE's partition coalescer is byte-based: when the shuffle write is a
    few hundred KB it folds the read side to ~1 task, which is right for
    I/O-bound plans and catastrophically wrong when each row pair costs
    real CPU (blocked levenshtein, within-bucket dot products) -- the
    O(b^2) work then serializes on one core. Measured in the r8 sf1
    spot-run: entity resolution 574s single-task vs 43s with this pin;
    the mutual-kNN bucket join showed the same class. A user
    ``repartition(n, keys...)`` with an explicit count is exempt from
    AQE coalescing (Spark only coalesces its own statistics-derived
    partitioning), and keying it keeps both join sides co-partitioned so
    the join itself adds no extra exchange. ``n`` follows the session's
    ``spark.sql.shuffle.partitions`` so the pin scales with deployment
    sizing instead of hard-coding a local[32] constant.

    Shared helper per ADVICE r8 (was duplicated in _mutual_knn_edges and
    q_entity_resolution with near-identical comments). Parallelism
    remains capped at the number of non-empty key groups -- the
    documented knob for more parallelism is finer keys (more LSH planes,
    tighter blocks), not a bigger n.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return df.repartition(n, *keys)


def pin_corpus(df: DataFrame) -> DataFrame:
    """Pin a corpus-sized relation for multi-consumer single-scan reuse.

    Storage policy from ``SPARK_GRAFT_PIN_STORAGE`` (see module docstring);
    unknown values raise rather than silently picking a default.
    """
    mode = os.environ.get(_ENV, "checkpoint")
    if mode not in _MODES:
        raise ValueError(f"{_ENV}={mode!r}; expected one of {_MODES}")
    if mode == "disk":
        return df.persist(StorageLevel.DISK_ONLY)
    if mode == "none":
        return df
    return df.localCheckpoint(eager=False)
