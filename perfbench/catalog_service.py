"""``catalog_service``: the weighted-overlay service and the toolbox's keyed
catalog tools, one client, one catalog store.

Set-up builds the catalog with the toolbox's own pipeline (``filter_layers``
-> ``create_wro_catalog`` -> ``create_catalog`` / ``append_rows``) over a
seeded long cell table written once as parquet. ``N_OVERLAY`` layers have
cells (three of them get a NoData range); ``N_META`` layers have none and
take the default classification with a warning. One op of each kind in
``KINDS`` is dealt in turn, from a seeded starting card; each op's
parameters are seeded:

- ``overlay_request``: ``load_catalog`` -> ``run_overlay`` on a seeded
  subset of 3..N_OVERLAY layers (sizes taken in turn), weights drawn from
  multiples of 1/16, scores materialized through the ``noop`` sink;
- ``classify_edit``: ``update_classification`` then ``replace_catalog``;
- ``keyed_read``: ``load_catalog`` then a lookup of one row;
- ``layer_info_edit``: ``update_layer_info`` then ``replace_catalog``;
- ``rejected_edit``: an invalid classification or layer-info edit (range
  gap, output outside 0-9, non-http URL, in turn). The tool must return
  error rows and the unchanged catalog, and the op commits nothing, as a
  client would;
- ``merge_edit``: ``merge_rows`` upsert of 1-3 rows, sometimes a new key.

Every write keeps ``KEEP_HISTORY`` snapshots.

Checks run after each op's timer stops. Every op is replayed into an
in-memory model of the catalog. After each write the edited rows are read
back with pyarrow (no Spark job) and compared with the model; each keyed
read is compared with the model row; the final store is compared whole.
Every overlay request is recomputed in DuckDB from the same cells and
the model's classifications: row count, NULL-knockout count and score sum
must match exactly (1/16-multiple weights times integer suitabilities keep
every sum exact in binary floating point). The store is
listed before and after each write, so the files and bytes a commit wrote
are measured, not inferred.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from weighted_raster_overlay_service_toolbox_spark.plans.overlay import run_overlay
from weighted_raster_overlay_service_toolbox_spark.sources import catalog_store
from weighted_raster_overlay_service_toolbox_spark.toolbox import (
    create_wro_catalog,
    filter_layers,
    update_classification,
    update_layer_info,
)

N_OVERLAY = 8
N_META = 24
N_CELLS = 20_000
KEEP_HISTORY = 4
#: overlay layers whose catalog row gets a NoData range, and its width as a
#: share of the layer's value span (a few percent of cells knock out)
NODATA_LAYERS = (1, 4, 6)
NODATA_SHARE = 0.03
#: the op kinds, dealt in this order from a seeded starting card. No
#: traffic study gives the ratio between them, so each kind is one card of
#: the deck and weighs the same in the end-to-end figures (see run.py)
KINDS = (
    "overlay_request",
    "classify_edit",
    "keyed_read",
    "layer_info_edit",
    "rejected_edit",
    "merge_edit",
)
#: rejected edits take these tools and error codes in turn. A rejected
#: classification runs more validation jobs than a rejected layer-info
#: edit; with two of the three first, the kind's median is a rejected
#: classification for any window that holds two or more of them
REJECTS = (
    ("classify_edit", "contiguity"),
    ("classify_edit", "suitability_domain"),
    ("layer_info_edit", "invalid_url"),
)
WRITES = ("classify_edit", "layer_info_edit", "merge_edit", "rejected_edit")


def csv_encode(values: list[str]) -> str:
    """RFC-4180 field join, written here independently of the package."""
    out = []
    for v in values:
        v = v.strip()
        out.append('"' + v.replace('"', '""') + '"' if ("," in v or '"' in v) else v)
    return ",".join(out)


def list_store(root: str) -> dict[int, tuple[str, int]]:
    """Every regular file under ``root`` keyed by inode: a snapshot rename
    keeps inodes, so files new after a commit are exactly those written."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[st.st_ino] = (os.path.join(d, f), st.st_size)
    return out


class CatalogService:
    name = "catalog_service"
    kinds = KINDS
    items_per_op = 1
    cells_per_request = N_CELLS
    warmup_ops = 18

    def __init__(self, spark, tracer, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.write_stats: list[dict] = []
        self.duck = None
        self.begin_window()

    # -- set-up -----------------------------------------------------------

    def generate(self, root: str) -> None:
        rng = np.random.default_rng(self.seed)
        self.overlay = [f"layer_{i:02d}" for i in range(N_OVERLAY)]
        self.meta = [f"meta_{i:03d}" for i in range(N_META)]
        spans = rng.choice([25.0, 50.0, 100.0, 200.0, 400.0], N_OVERLAY)
        self.spans = {n: float(s) for n, s in zip(self.overlay, spans)}
        values = []
        for n in self.overlay:
            # multiples of 1/4 over [0, span]; both ends present so the
            # equal-interval classification covers exactly that span
            v = rng.integers(0, int(self.spans[n] * 4) + 1, N_CELLS) / 4.0
            v[0], v[1] = 0.0, self.spans[n]
            values.append(v)
        self.cells_path = os.path.join(root, "cells.parquet")
        pq.write_table(
            pa.table(
                {
                    "layer": np.repeat(self.overlay, N_CELLS),
                    "cell_id": np.tile(np.arange(N_CELLS, dtype=np.int64), N_OVERLAY),
                    "value": np.concatenate(values),
                }
            ),
            self.cells_path,
        )
        # the map-layer list: every catalog layer plus decoys the R23
        # filter must drop (non-raster, web, sublayer, later duplicate name)
        names = self.overlay + self.meta
        self.layer_rows = [
            (n, f"Title {n}", f"map\\{n}", True, False, i) for i, n in enumerate(names)
        ] + [
            ("roads", "Roads", "map\\roads", False, False, 900),
            ("basemap", "Basemap", "map\\basemap", True, True, 901),
            ("fp", "Footprints", "svc\\Footprint", True, False, 902),
            (names[0], "Dup", f"map\\{names[0]}", True, False, 903),
        ]

    def build(self, root: str) -> None:
        sp, tr = self.spark, self.tracer
        self.cells_df = sp.read.parquet(self.cells_path)
        layers = sp.createDataFrame(
            self.layer_rows,
            "name string, title string, long_name string, is_raster boolean,"
            " is_web boolean, position long",
        )
        with tr.span("toolbox.filter_layers"):
            kept, _ = filter_layers(layers)
            kept = kept.select("name", "title")
        with tr.span("toolbox.create_wro_catalog"):
            catalog, errors = create_wro_catalog(kept, self.cells_df)
            errors = errors.collect()
        warned = sorted(e["message"].rsplit(" ", 1)[-1] for e in errors)
        if warned != self.meta or any(e["code"] != "default_classification" for e in errors):
            raise RuntimeError(f"create_wro_catalog reported {errors}")
        nd = F.lit(None).cast("string")
        for i in NODATA_LAYERS:
            n = self.overlay[i]
            lo = float(round(self.spans[n] * 0.4))
            nd = F.when(
                F.col("Name") == n, F.lit(f"{lo},{lo + self.spans[n] * NODATA_SHARE}")
            ).otherwise(nd)
        catalog = catalog.withColumn("NoDataRanges", nd)
        self.store_root = os.path.join(root, "store")
        self.path = os.path.join(self.store_root, "catalog")
        with tr.span("sources.catalog_store.create_catalog"):
            catalog_store.create_catalog(sp, self.path)
        with tr.span("sources.catalog_store.append_rows"):
            catalog_store.append_rows(sp, self.path, catalog)
        self.model = {r["Name"]: r for r in pq.read_table(self.path).to_pylist()}
        if sorted(self.model) != sorted(self.overlay + self.meta):
            raise RuntimeError("built catalog does not hold the generated layers")
        if sum(1 for n in self.overlay if self.model[n]["NoDataRanges"]) != len(NODATA_LAYERS):
            raise RuntimeError("NoData ranges did not reach the catalog")
        self.commits = 0
        self.close()
        self.duck = duckdb.connect()
        self.duck.execute(
            f"CREATE TABLE cells AS SELECT * FROM read_parquet('{self.cells_path}')"
        )

    # -- the op loop ------------------------------------------------------

    def begin_window(self) -> None:
        """Restart the per-kind op counts, so every timed window starts the
        request-size and rejected-edit cycles at the same place."""
        self.dealt = dict.fromkeys(KINDS, 0)

    def plan(self, i: int) -> dict:
        kind = KINDS[(i + self.seed) % len(KINDS)]
        nth = self.dealt[kind]
        self.dealt[kind] += 1
        rng = np.random.default_rng([self.seed, 3, i])
        keys = sorted(self.model)
        name = keys[int(rng.integers(len(keys)))]
        op = {"kind": kind, "tool": kind, "name": name, "code": None}
        if kind == "rejected_edit":
            op["tool"], op["code"] = REJECTS[nth % len(REJECTS)]
        tool = op["tool"]
        if kind == "overlay_request":
            # request sizes cycle through 3..N_OVERLAY layers, so every
            # window holds the same spread of request sizes
            k = 3 + nth % (N_OVERLAY - 2)
            layers = sorted(rng.choice(self.overlay, k, replace=False).tolist())
            op["weights"] = {n: int(rng.integers(1, 17)) / 16.0 for n in layers}
        elif tool == "classify_edit":
            k = int(rng.integers(3, 7))
            if name in self.spans:
                # cover the layer's whole value span, as a real edit would
                inner = rng.choice(np.arange(1, int(self.spans[name] * 2)), k - 1, replace=False)
                bounds = np.concatenate([[0.0], np.sort(inner) / 2.0, [self.spans[name] + 1]])
            else:
                steps = np.concatenate([[rng.integers(0, 21)], rng.integers(1, 41, k)])
                bounds = np.cumsum(steps) / 2.0
            outs = rng.integers(0, 10, k).tolist()
            labels = [f"class {j}" if rng.random() < 0.8 else f"low, {j}" for j in range(k)]
            rows = [
                (labels[j], float(bounds[j]), float(bounds[j + 1]), int(outs[j]))
                for j in range(k)
            ]
            if op["code"] == "contiguity":
                lab, lo, hi, out = rows[-1]
                rows[-1] = (lab, lo + 0.5, hi + 0.5, out)  # a gap before the last range
            elif op["code"] == "suitability_domain":
                lab, lo, hi, _ = rows[0]
                rows[0] = (lab, lo, hi, 10)
            op["ranges_df"] = self.spark.createDataFrame(
                rows, "label string, lo double, hi double, out int"
            )
            op["change"] = {
                "InputRanges": ",".join(str(float(v)) for r in rows for v in r[1:3]),
                "OutputValues": ",".join(str(r[3]) for r in rows),
                "RangeLabels": csv_encode([r[0] for r in rows]),
            }
        elif tool == "layer_info_edit":
            fields = {
                "title": f"Layer {name} rev {i}",
                "description": "" if rng.random() < 0.2 else f"edited by op {i}",
                "url": f"https://example.org/layers/{name}?rev={i}",
                "metadata": f"<meta op='{i}'/>",
            }
            for f in ("title", "description", "metadata"):
                if rng.random() < 0.3:
                    fields[f] = None  # parameter not supplied: keep the value
            if op["code"] == "invalid_url":
                fields["url"] = f"ftp://example.org/{name}"
            op["fields"] = fields
            cols = {"title": "Title", "description": "Description", "url": "Url",
                    "metadata": "Metadata"}
            # a blank parameter clears the column (R29)
            op["change"] = {cols[f]: v or None for f, v in fields.items() if v is not None}
        elif kind == "merge_edit":
            targets = sorted(set(rng.choice(keys, int(rng.integers(1, 4))).tolist()))
            rows = [(t, f"Merged title {i}", None, None, None) for t in targets]
            if rng.random() < 0.3:
                rows.append((f"new_{i:05d}", f"New layer {i}", "0.0,10.0", "5", "All"))
            op["rows"] = rows
            op["updates_df"] = self.spark.createDataFrame(
                rows,
                "Name string, Title string, InputRanges string, OutputValues string,"
                " RangeLabels string",
            )
        return op

    def run(self, op: dict):
        sp, tr, kind = self.spark, self.tracer, op["kind"]
        if kind == "merge_edit":
            with tr.span("sources.catalog_store.merge_rows"):
                catalog_store.merge_rows(sp, self.path, op["updates_df"], keep_history=KEEP_HISTORY)
            return {"committed": True}
        with tr.span("sources.catalog_store.load_catalog"):
            cat = catalog_store.load_catalog(sp, self.path)
        if kind == "overlay_request":
            with tr.span("plans.overlay.run_overlay"):
                scores = run_overlay(self.cells_df, cat, op["weights"])
            with tr.span("plans.overlay.execute"):
                scores.write.format("noop").mode("overwrite").save()
            return {"scores": scores}
        if kind == "keyed_read":
            with tr.span("bench.lookup"):
                return {"rows": cat.filter(F.col("Name") == op["name"]).collect()}
        if op["tool"] == "classify_edit":
            with tr.span("toolbox.update_classification"):
                updated, errors = update_classification(cat, op["name"], op["ranges_df"])
                errors = errors.collect()
        else:
            with tr.span("toolbox.update_layer_info"):
                updated, errors = update_layer_info(cat, op["name"], **op["fields"])
                errors = errors.collect()
        rejected = any(e["severity"] == "error" for e in errors)
        if not rejected:
            with tr.span("sources.catalog_store.replace_catalog"):
                catalog_store.replace_catalog(self.path, updated, keep_history=KEEP_HISTORY)
        return {"committed": not rejected, "errors": errors, "unchanged": updated is cat}

    # -- checks against the model ----------------------------------------

    def before(self, op: dict) -> None:
        if op["kind"] in WRITES:
            self._listing = list_store(self.store_root)

    def check(self, op: dict, result) -> bool:
        kind = op["kind"]
        if kind == "overlay_request":
            return self._check_overlay(op["weights"], result["scores"])
        if kind == "keyed_read":
            return [r.asDict() for r in result["rows"]] == [self.model[op["name"]]]
        after = list_store(self.store_root)
        if kind == "rejected_edit":
            codes = {e["code"] for e in result["errors"] if e["severity"] == "error"}
            return (
                not result["committed"]
                and result["unchanged"]
                and codes == {op["code"]}
                and set(after) == set(self._listing)
            )
        if not result["committed"]:
            return False
        if kind == "merge_edit":
            cols = ("Title", "InputRanges", "OutputValues", "RangeLabels")
            for name, *vals in op["rows"]:
                row = self.model.setdefault(
                    name, dict.fromkeys(self._columns()) | {"Name": name}
                )
                row.update({c: v for c, v in zip(cols, vals) if v is not None})
            touched = [r[0] for r in op["rows"]]
            changed = [v for _, *vals in op["rows"] for v in vals if v is not None]
        else:
            self.model[op["name"]].update(op["change"])
            touched = [op["name"]]
            changed = [v for v in op["change"].values() if v is not None]
        self.commits += 1
        new = [size for ino, (_, size) in after.items() if ino not in self._listing]
        changed_bytes = sum(len(v.encode()) for v in changed) or 1
        self.write_stats.append(
            {"files": len(new), "bytes": sum(new), "amplification": sum(new) / changed_bytes}
        )
        live = {r["Name"]: r for r in pq.read_table(self.path).to_pylist()}
        return (
            len(live) == len(self.model)
            and all(live.get(n) == self.model[n] for n in touched)
            and len(catalog_store.catalog_versions(self.path))
            == min(self.commits, KEEP_HISTORY)
        )

    def _columns(self) -> list[str]:
        return list(next(iter(self.model.values())))

    def _check_overlay(self, weights: dict[str, float], scores) -> bool:
        got = scores.agg(
            F.count(F.lit(1)),
            F.count(F.when(F.col("score").isNull(), 1)),
            F.sum("score"),
        ).first()
        return tuple(got) == self._oracle(weights)

    def _oracle(self, weights: dict[str, float]) -> tuple:
        """The overlay in DuckDB over the model's classifications, parsed
        here independently of the package's own decoder."""
        ranges, nodata = [], []
        for n in weights:
            r = self.model[n]
            b = [float(x) for x in r["InputRanges"].split(",")]
            outs = [int(x) for x in r["OutputValues"].split(",")]
            ranges += [(n, b[2 * j], b[2 * j + 1], o) for j, o in enumerate(outs)]
            d = [float(x) for x in (r["NoDataRanges"] or "").split(",") if x]
            nodata += [(n, d[2 * j], d[2 * j + 1]) for j in range(len(d) // 2)]
        con = self.duck
        con.execute("CREATE OR REPLACE TEMP TABLE w(layer VARCHAR, weight DOUBLE)")
        con.executemany("INSERT INTO w VALUES (?, ?)", list(weights.items()))
        con.execute("CREATE OR REPLACE TEMP TABLE ranges(layer VARCHAR, lo DOUBLE, hi DOUBLE, out INT)")
        con.executemany("INSERT INTO ranges VALUES (?, ?, ?, ?)", ranges)
        con.execute("CREATE OR REPLACE TEMP TABLE nodata(layer VARCHAR, lo DOUBLE, hi DOUBLE)")
        if nodata:
            con.executemany("INSERT INTO nodata VALUES (?, ?, ?)", nodata)
        return con.execute(
            f"""
            WITH scored AS (
              SELECT c.cell_id, w.weight * r.out AS term,
                     EXISTS (SELECT 1 FROM nodata d WHERE d.layer = c.layer
                             AND c.value >= d.lo AND c.value < d.hi) AS knocked
              FROM cells c JOIN w USING (layer)
              LEFT JOIN ranges r ON r.layer = c.layer
                   AND c.value >= r.lo AND c.value < r.hi
            ),
            per_cell AS (
              SELECT cell_id,
                     CASE WHEN bool_or(knocked) OR count(term) < {len(weights)}
                          THEN NULL ELSE sum(term) END AS score
              FROM scored GROUP BY cell_id
            )
            SELECT count(*), count(*) - count(score), sum(score) FROM per_cell
            """
        ).fetchone()

    def finish(self) -> dict:
        """Whole-store check and storage figures at the end of the run."""
        live = {r["Name"]: r for r in pq.read_table(self.path).to_pylist()}
        total = sum(size for _, size in list_store(self.store_root).values())
        live_bytes = sum(size for _, size in list_store(self.path).values())
        ws = self.write_stats

        def med(key):
            return float(np.median([w[key] for w in ws])) if ws else 0.0

        return {
            "ok": live == self.model,
            "metrics": {
                "catalog_store.files_written": med("files"),
                "catalog_store.bytes_written": med("bytes"),
                "catalog_store.write_amplification": med("amplification"),
                "catalog_store.stored_bytes_per_live_byte": total / live_bytes,
            },
        }

    def close(self) -> None:
        if self.duck is not None:
            self.duck.close()
            self.duck = None
