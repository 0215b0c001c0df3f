"""``corpus_curate``: one ``curate_corpus`` pass per op over a planted corpus.

The generated corpus draws words uniformly from a large vocabulary, so two
unrelated documents share almost no tokens and only planted copies are
near-duplicates. It plants stated shares of

- too-short documents (1-4 tokens),
- repetitive documents (one word repeated, top trigram share 1.0),
- exact copies (a permutation of an original: same token set),
- near copies (an original with about a tenth of its tokens replaced by
  words no original uses; token Jaccard about 0.8),

and spreads documents over sources with skewed sizes so the per-source
cap drops some. Each pass runs ``curate_corpus(near_dup=True,
docs_per_source=...)`` and materializes kept ids, dropped ``(id, reason)``
and stats. Checks: kept and dropped partition the input ids; stats agree
with both and sum to the input count; too-short, repetitive and duplicate
counts equal the planted counts; every near-duplicate drop is the higher id
of a planted near pair, and at most ``NEAR_MISSES`` of the pairs go
unfound (MinHash banding can miss a pair); no capped source keeps more
than the cap; the funnel is identical on every pass.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from weighted_raster_overlay_service_toolbox_spark.pipeline import curate_corpus

N_DOCS = 300
VOCAB = 20_000
SHARES = {"too_short": 0.05, "repetitive": 0.05, "duplicate": 0.08, "near": 0.12}
SOURCE_WEIGHTS = (0.40, 0.25, 0.15, 0.10, 0.06, 0.04)
CAP_SHARE = 0.22
NEAR_MISSES = 0.03


def plant(rng, n_docs: int, path: str) -> dict:
    """Write a planted corpus of ``n_docs`` documents to ``path`` and return
    what a correct pass must find in it."""
    n = {k: int(n_docs * s) for k, s in SHARES.items()}
    n_orig = n_docs - sum(n.values())
    originals = [rng.integers(0, VOCAB, int(rng.integers(24, 49))) for _ in range(n_orig)]
    picks = rng.choice(n_orig, n["duplicate"] + n["near"], replace=False)
    docs = [(o, "original") for o in originals]
    pairs = {"duplicate": [], "near": []}
    for j, src in enumerate(picks):
        o = originals[src]
        if j < n["duplicate"]:
            docs.append((rng.permutation(o), "duplicate"))
            pairs["duplicate"].append((src, len(docs) - 1))
        else:
            c = o.copy()
            r = max(2, round(0.1 * len(c)))
            pos = rng.choice(len(c), r, replace=False)
            c[pos] = VOCAB + rng.integers(0, VOCAB, r)  # words no original uses
            docs.append((c, "near"))
            pairs["near"].append((src, len(docs) - 1))
    for _ in range(n["too_short"]):
        docs.append((rng.integers(0, VOCAB, int(rng.integers(1, 5))), "too_short"))
    for _ in range(n["repetitive"]):
        docs.append((np.full(int(rng.integers(8, 21)), rng.integers(0, VOCAB)), "repetitive"))
    ids = rng.permutation(len(docs)).astype(np.int64)  # doc index -> doc_id
    sources = rng.choice(len(SOURCE_WEIGHTS), len(docs), p=SOURCE_WEIGHTS)
    pq.write_table(
        pa.table(
            {
                "doc_id": ids,
                "text": [" ".join(f"w{t}" for t in toks) for toks, _ in docs],
                "source": [f"src_{s}" for s in sources],
            }
        ),
        path,
    )
    return {
        "path": path,
        "ids": set(ids.tolist()),
        "source_of": {int(ids[i]): f"src_{s}" for i, s in enumerate(sources)},
        "planted": Counter(kind for _, kind in docs),
        # the lower id of a planted pair survives; the higher one drops
        "later": {k: {int(max(ids[a], ids[b])) for a, b in p} for k, p in pairs.items()},
        "cap": int(CAP_SHARE * n_docs),
        "funnel": None,
    }


class CorpusCurate:
    name = "corpus_curate"
    kinds = ("curate_pass",)
    items_per_op = N_DOCS
    warmup_ops = 3

    def __init__(self, spark, tracer, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed

    def generate(self, root: str) -> None:
        rng = np.random.default_rng(self.seed)
        self.corpus = plant(rng, N_DOCS, os.path.join(root, "docs.parquet"))

    def build(self, root: str) -> None:
        self.docs_df = self.spark.read.parquet(self.corpus["path"])

    def begin_window(self) -> None:
        pass

    def plan(self, i: int) -> dict:
        return {"kind": "curate_pass"}

    def before(self, op: dict) -> None:
        pass

    def run(self, op: dict):
        tr = self.tracer
        with tr.span("pipeline.curate_corpus"):
            kept, dropped, stats = curate_corpus(
                self.docs_df, near_dup=True, docs_per_source=self.corpus["cap"]
            )
        with tr.span("pipeline.materialize"):
            return (
                [(r[0], r[1]) for r in kept.select("doc_id", "source").collect()],
                [(r[0], r[1]) for r in dropped.collect()],
                {r[0]: r[1] for r in stats.collect()},
            )

    def check(self, op: dict, result) -> bool:
        c = self.corpus
        kept, dropped, stats = result
        kept_ids = {k for k, _ in kept}
        reasons = Counter(r for _, r in dropped)
        by_reason: dict[str, set] = {}
        for d, r in dropped:
            by_reason.setdefault(r, set()).add(d)
        funnel = {"kept": len(kept), **reasons}
        if c["funnel"] is None:
            c["funnel"] = funnel
        near = by_reason.get("near_duplicate", set())
        kept_per_source = Counter(s for _, s in kept)
        capped = {c["source_of"][d] for d in by_reason.get("domain_capped", ())}
        return (
            len(kept_ids) == len(kept)
            and len(kept) + len(dropped) == len(c["ids"])
            and kept_ids | {d for d, _ in dropped} == c["ids"]
            and stats == funnel
            and funnel == c["funnel"]
            and reasons["too_short"] == c["planted"]["too_short"]
            and reasons["repetitive"] == c["planted"]["repetitive"]
            and by_reason.get("duplicate", set()) == c["later"]["duplicate"]
            and near <= c["later"]["near"]
            and len(c["later"]["near"]) - len(near)
            <= math.ceil(NEAR_MISSES * len(c["later"]["near"]))
            and all(n <= c["cap"] for n in kept_per_source.values())
            and all(kept_per_source[s] == c["cap"] for s in capped)
        )

    def finish(self) -> dict:
        funnel = self.corpus["funnel"]
        return {
            "ok": funnel is not None,
            "metrics": {f"pipeline.funnel.{k}": v for k, v in (funnel or {}).items()},
        }

    def close(self) -> None:
        pass
