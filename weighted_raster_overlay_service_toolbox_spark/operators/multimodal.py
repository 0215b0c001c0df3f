"""Multimodal column operators: decode, feature-extract, resize,
frame-sample over opaque binary payloads.

Model (SURVEY.md section 2.2 "multimodal"): media travels as a ``binary``
column plus a typed metadata struct; per-item processing runs in
Arrow-batched ``mapInPandas`` so bytes move Python-side once per batch,
never per row.

The decoder is REAL: binary P6 PPM (the trivial open raster format --
ASCII header ``P6\\n<w> <h>\\n<maxval>\\n`` with ``#`` comments, then
width*height*3 raw RGB bytes). No media library needed, and the decode is
falsifiable -- width/height/channel means/checksum are checked against
independently computed ground truth in tests/test_multimodal.py.
Malformed payloads raise ``ValueError``. Swapping the parser body for
PIL/librosa calls (richer formats) changes nothing Spark-side: the
input/output schemas, the Arrow batch iteration, and the
partition-preserving shape (one output row per input for decode/resize,
N rows per input for frame sampling) are exactly what a production
decoder uses.

Scale: mapInPandas is narrow (no shuffle); payload bytes stay columnar in
Arrow; batch size is governed by ``spark.sql.execution.arrow.
maxRecordsPerBatch`` -- size it so batch_bytes ~ payload * records fits
the worker heap.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# pure-Python P6 PPM codec (no media libraries required)
# --------------------------------------------------------------------------


def _header_tokens(buf: bytes, n: int) -> tuple[list[bytes], int]:
    """First ``n`` whitespace-separated ASCII header tokens (``#`` starts
    a to-end-of-line comment, per the netpbm spec); returns (tokens,
    offset-just-past-the-single-whitespace-after-the-last-token)."""
    i, toks = 0, []
    while len(toks) < n:
        while i < len(buf) and buf[i : i + 1].isspace():
            i += 1
        if i < len(buf) and buf[i : i + 1] == b"#":
            while i < len(buf) and buf[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(buf) and not buf[j : j + 1].isspace():
            j += 1
        if j == i:
            raise ValueError("truncated PPM header")
        toks.append(buf[i:j])
        i = j
    if i >= len(buf) or not buf[i : i + 1].isspace():
        raise ValueError("PPM header not followed by whitespace")
    return toks, i + 1


def parse_ppm(payload: bytes) -> dict:
    """Decode one binary P6 PPM image.

    Returns ``{width, height, maxval, mean_r, mean_g, mean_b, checksum}``
    (means rounded to 6, checksum = md5 of the raster bytes). Raises
    ``ValueError`` on a wrong magic, malformed header, unsupported
    maxval, or short raster -- honest failure, not a silent fake."""
    toks, off = _header_tokens(payload, 4)
    if toks[0] != b"P6":
        raise ValueError(f"not a P6 PPM (magic {toks[0]!r})")
    try:
        width, height, maxval = int(toks[1]), int(toks[2]), int(toks[3])
    except ValueError as exc:
        raise ValueError(f"non-numeric PPM dimensions {toks[1:]}") from exc
    if width <= 0 or height <= 0:
        raise ValueError(f"bad PPM dimensions {width}x{height}")
    if not 0 < maxval < 256:
        raise ValueError(f"unsupported PPM maxval {maxval} (1-byte samples only)")
    n = width * height * 3
    raster = payload[off : off + n]
    if len(raster) < n:
        raise ValueError(f"short PPM raster: need {n} bytes, have {len(raster)}")
    px = np.frombuffer(raster, dtype=np.uint8).reshape(-1, 3)
    means = px.mean(axis=0)
    return {
        "width": width,
        "height": height,
        "maxval": maxval,
        "mean_r": round(float(means[0]), 6),
        "mean_g": round(float(means[1]), 6),
        "mean_b": round(float(means[2]), 6),
        "checksum": hashlib.md5(raster).hexdigest(),
    }


def ppm_payload(width_col: str, height_col: str, fill_col: str) -> Column:
    """Valid P6 payload as a pure JVM expression: real header plus a
    raster filled from ``fill_col`` text (rpad repeats/truncates to
    exactly w*h*3 bytes; ASCII-only fill assumed -- the fixture corpus
    convention). This is the fixture-side encoder the decode queries and
    tests share; a production pipeline reads payload bytes from storage
    instead."""
    w, h = F.col(width_col), F.col(height_col)
    header = F.concat(
        F.lit("P6\n"), w.cast("string"), F.lit(" "), h.cast("string"), F.lit("\n255\n")
    )
    raster = F.expr(f"rpad({fill_col}, {width_col} * {height_col} * 3, 'pixel')")
    return F.concat(header.cast("binary"), raster.cast("binary"))


# --------------------------------------------------------------------------
# Arrow-batched operators
# --------------------------------------------------------------------------

_DECODE_SCHEMA = (
    "id long, width int, height int, maxval int, "
    "mean_r double, mean_g double, mean_b double, checksum string"
)


def decode_ppm_features(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """binary PPM -> (id, width, height, maxval, mean_r/g/b, checksum):
    one output row per input, real parse (ValueError propagates -- a
    corrupt payload fails the task, it does not fake a row)."""

    cols = ["width", "height", "maxval", "mean_r", "mean_g", "mean_b", "checksum"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [parse_ppm(p) for p in pdf[payload_col]]
            out = pd.DataFrame(feats, columns=cols)
            out.insert(0, "id", pdf[id_col].to_numpy())
            yield out

    return df.mapInPandas(run, _DECODE_SCHEMA)


def resize(
    df: DataFrame, id_col: str, payload_col: str, max_side: int
) -> DataFrame:
    """binary PPM -> (id, width, height, scale): aspect-preserving shrink
    so the longest side is ``max_side`` (scale 1.0 when already smaller).
    Dimensions come from the REAL header parse; one output row per input.
    A full implementation would also resample and re-emit payload bytes
    -- the row shape and schema would not change."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = []
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                meta = parse_ppm(p)
                w, h = meta["width"], meta["height"]
                scale = min(1.0, max_side / max(w, h))
                out_rows.append(
                    (i, int(round(w * scale)), int(round(h * scale)), round(scale, 6))
                )
            yield pd.DataFrame(
                out_rows, columns=["id", "width", "height", "scale"]
            )

    return df.mapInPandas(run, "id long, width int, height int, scale double")


def frame_sample(
    df: DataFrame, id_col: str, payload_col: str, every_n_bytes: int
) -> DataFrame:
    """binary -> one row per sampled "frame": byte-offset sampling stands
    in for video frame extraction (N output rows per input -- the
    table-generating shape)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs, checks = [], [], [], []
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                for k, off in enumerate(range(0, len(p), every_n_bytes)):
                    chunk = p[off : off + every_n_bytes]
                    ids.append(i)
                    idxs.append(k)
                    offs.append(off)
                    checks.append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "byte_offset": pd.Series(offs, dtype="int64"),
                    "frame_checksum": checks,
                }
            )

    return df.mapInPandas(
        run, "id long, frame_idx int, byte_offset long, frame_checksum string"
    )


def parse_ppm_raster(payload: bytes) -> tuple[int, int, bytes]:
    """Header-parse a P6 payload and return (width, height, raster
    bytes) -- the raw-pixel access :func:`ahash_ppm` needs (parse_ppm
    returns aggregate features only). Same validation / failure
    contract as :func:`parse_ppm`."""
    toks, off = _header_tokens(payload, 4)
    if toks[0] != b"P6":
        raise ValueError(f"not a P6 PPM (magic {toks[0]!r})")
    width, height, maxval = int(toks[1]), int(toks[2]), int(toks[3])
    if width <= 0 or height <= 0:
        raise ValueError(f"bad PPM dimensions {width}x{height}")
    if not 0 < maxval < 256:
        raise ValueError(f"unsupported PPM maxval {maxval} (1-byte samples only)")
    n = width * height * 3
    raster = payload[off : off + n]
    if len(raster) < n:
        raise ValueError(f"short PPM raster: need {n} bytes, have {len(raster)}")
    return width, height, raster


def ahash_ppm(
    df: DataFrame, id_col: str, payload_col: str, bits: int = 16
) -> DataFrame:
    """Average-hash (aHash) perceptual fingerprint of each PPM payload:
    binary -> (id, phash int). The classic image-dedup sketch
    (grayscale, coarse spatial pooling, threshold-at-the-mean, one bit
    per cell) expressed INTEGER-EXACTLY so a SQL oracle can replay it:

    - grayscale per pixel = r + g + b (x3 scaling instead of /3 -- no
      division anywhere);
    - pixel i (0-based, raster order) pools into block
      ``j = i * bits // n`` (n = w*h) -- the balanced contiguous
      partition both numpy and SQL integer division reproduce;
    - bit_j = 1 iff ``sum_j * n >= total * n_j`` (cross-multiplied
      mean comparison -- all BIGINT, no float, no rounding knife edge);
      blocks with no pixels (n < bits) contribute 0;
    - phash = sum(bit_j << j).

    Two payloads whose coarse brightness geometry agrees collide --
    exact duplicates always do, near-variants usually do; that recall/
    precision trade is the POINT of perceptual hashing (Hamming-near
    phash variants are the band-join extension, same machinery as the
    MinHash band trick). Arrow-batched mapInPandas, one row per input,
    no shuffle; the real parse raises on corrupt payloads."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                w, h, raster = parse_ppm_raster(p)
                px = np.frombuffer(raster, dtype=np.uint8).reshape(-1, 3)
                gray = px.astype(np.int64).sum(axis=1)
                n = gray.shape[0]
                blk = (np.arange(n, dtype=np.int64) * bits) // n
                total = int(gray.sum())
                phash = 0
                for j in np.unique(blk):
                    s = int(gray[blk == j].sum())
                    n_j = int((blk == j).sum())
                    if s * n >= total * n_j:
                        phash |= 1 << int(j)
                ids.append(i)
                hashes.append(phash)
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids, dtype="int64"),
                    "phash": pd.Series(hashes, dtype="int32"),
                }
            )

    return df.mapInPandas(run, "id long, phash int")


def phash_components(
    hashes: DataFrame,
    bits: int = 16,
    radius: int = 3,
    bands: int = 4,
    num_partitions: int | None = 8,
) -> DataFrame:
    """Merge perceptual hashes into Hamming-radius families: distinct
    ``phash`` values whose pairwise distance chains within ``radius``
    share a ``component`` label (MIN reachable hash). Returns
    ``(phash int, component long)`` -- one row per DISTINCT hash.

    This is the piece that makes perceptual keep-one dedup linear END TO
    END: callers collapse the corpus to its hash universe first (one
    groupBy), and every quadratic-looking step here runs on that
    universe -- capped at ``2^bits`` rows for a short hash and at
    |distinct hashes| generally, a function of image DIVERSITY, never
    corpus size. Edges come from a banded equi-join (``bands`` slices of
    ``bits // bands`` bits): <= ``radius`` flipped bits touch <=
    ``radius`` bands, so with ``bands > radius`` at least one band
    matches exactly -- LOSSLESS recall by pigeonhole (deterministic,
    unlike MinHash banding), then ``bit_count(xor) <= radius`` gates
    exactly. Components via operators/graph.py: union-find on the
    driver for a hash-edge list under its threshold, else large-star /
    small-star rounds (``num_partitions`` sizes their state)."""
    if bands <= radius:
        raise ValueError(
            f"bands={bands} must exceed radius={radius} for lossless banding"
        )
    width = bits // bands
    if width * bands != bits:
        raise ValueError(f"bands={bands} must divide bits={bits}")
    from pyspark.sql import functions as F

    from .graph import connected_components

    dh = hashes.select("phash").distinct()
    mask = (1 << width) - 1
    band_cols = dh.select(
        "phash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(k).alias("band_idx"),
                    F.shiftright("phash", width * k)
                    .bitwiseAND(F.lit(mask))
                    .alias("band_val"),
                )
                for k in range(bands)
            ])
        ).alias("b"),
    ).select("phash", "b.band_idx", "b.band_val")
    a = band_cols.select(F.col("phash").alias("pa"), "band_idx", "band_val")
    b = band_cols.select(F.col("phash").alias("pb"), "band_idx", "band_val")
    edges = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        .distinct()
        .filter(
            F.bit_count(F.col("pa").bitwiseXOR(F.col("pb")))
            <= F.lit(radius)
        )
    )
    comp = connected_components(
        edges, "pa", "pb", num_partitions=num_partitions
    )
    return dh.join(
        comp, dh["phash"].cast("long") == comp["node"], "left"
    ).select(
        "phash",
        F.coalesce("component", F.col("phash").cast("long")).alias(
            "component"
        ),
    )


# --------------------------------------------------------------------------
# pure-Python RIFF/WAV codec (audio modality; no media libraries required)
# --------------------------------------------------------------------------


def wav_payload_bytes(pcm: bytes, sample_rate: int = 8000) -> bytes:
    """A REAL minimal RIFF/WAVE container around 8-bit mono PCM samples:
    the audio fixture encoder (struct-packed little-endian chunk sizes,
    canonical 16-byte fmt chunk) -- the WAV sibling of
    :func:`ppm_payload`. Byte layout is the published canonical WAVE
    form, so any standard reader parses it."""
    import struct

    n = len(pcm)
    return b"".join([
        b"RIFF", struct.pack("<I", 36 + n), b"WAVE",
        b"fmt ", struct.pack("<IHHIIHH", 16, 1, 1, sample_rate,
                             sample_rate, 1, 8),
        b"data", struct.pack("<I", n), pcm,
    ])


def parse_wav(payload: bytes) -> tuple[int, bytes]:
    """Header-parse a canonical 8-bit mono PCM WAV payload; returns
    (sample_rate, sample bytes). REAL validation -- magic, fmt chunk
    size, PCM format code, channel count, bit depth, declared data
    length -- with ``ValueError`` on any mismatch (the
    :func:`parse_ppm` failure contract)."""
    import struct

    if len(payload) < 44:
        raise ValueError(f"short WAV payload: {len(payload)} bytes")
    if payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError(f"not a RIFF/WAVE payload (magic {payload[0:4]!r})")
    if payload[12:16] != b"fmt ":
        raise ValueError("missing fmt chunk")
    fmt_size, audio_fmt, channels, rate, _byte_rate, _align, bits = (
        struct.unpack("<IHHIIHH", payload[16:36])
    )
    if fmt_size != 16 or audio_fmt != 1:
        raise ValueError(f"unsupported WAV fmt (size {fmt_size}, code {audio_fmt})")
    if channels != 1 or bits != 8:
        raise ValueError(f"unsupported layout: {channels}ch {bits}-bit (mono 8-bit only)")
    if payload[36:40] != b"data":
        raise ValueError("missing data chunk")
    (n,) = struct.unpack("<I", payload[40:44])
    pcm = payload[44 : 44 + n]
    if len(pcm) < n:
        raise ValueError(f"short WAV data: need {n} bytes, have {len(pcm)}")
    # strict canonical form: the container is exactly header + data
    # (wav_payload_bytes's shape), PLUS the RIFF word-alignment rule --
    # a data chunk of odd size is followed by exactly one zero pad
    # byte in spec-compliant encoders, so accept that single pad too
    # (r13 review: rejecting it would refuse standard encoders' output
    # for odd sample counts). Anything else after the data chunk is a
    # malformed payload, not padding.
    expected = 44 + n
    if len(payload) == expected + 1 and n % 2 == 1 and payload[-1] == 0:
        pass  # RIFF pad byte for the odd-sized data chunk
    elif len(payload) != expected:
        raise ValueError(
            f"trailing bytes after WAV data chunk: payload {len(payload)}"
            f" bytes, declared {expected}"
            f" (+1 zero pad allowed for odd data size)"
        )
    return rate, pcm


def wav_payload(
    df: DataFrame, id_col: str, n_col: str, fill_col: str,
    sample_rate: int = 8000, out_col: str = "payload",
) -> DataFrame:
    """Fixture-side audio encoder: (id, n, fill-text) -> (id, payload
    binary) where payload is a REAL WAV container whose PCM samples are
    the first ``n`` bytes of the fill text padded cyclically with
    ``'audio'`` (SQL ``rpad`` semantics, mirrored exactly so a DuckDB
    oracle can reconstruct the samples analytically). Arrow-batched
    mapInPandas; a production pipeline reads payload bytes from storage
    instead -- this seam exists so the DECODE side is exercised against
    genuine container bytes, not a synthetic shortcut."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for i, k, f in zip(pdf[id_col], pdf[n_col], pdf[fill_col]):
                k = int(k)
                text = f if f is not None else ""
                pcm = (text + "audio" * (k // 5 + 1))[:k].encode("ascii")
                ids.append(i)
                payloads.append(wav_payload_bytes(pcm, sample_rate))
            yield pd.DataFrame(
                {"id": pd.Series(ids, dtype="int64"),
                 out_col: pd.Series(payloads, dtype=object)}
            )

    return df.mapInPandas(run, f"id long, {out_col} binary")


def audio_features(
    df: DataFrame, id_col: str, payload_col: str
) -> DataFrame:
    """binary WAV -> (id, sample_rate, n_samples, mean_amp, peak_amp):
    one output row per input, REAL parse (ValueError propagates).
    Aggregates are integer-exact (uint8 samples summed as int64; the
    mean is one BIGINT/INT division both engines evaluate identically),
    so a SQL oracle replays them bit-for-bit. Arrow-batched
    mapInPandas, no shuffle -- the audio member of the decode family
    (:func:`decode_ppm_features` is the image one)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"id": [], "sample_rate": [], "n_samples": [],
                   "mean_amp": [], "peak_amp": []}
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                rate, pcm = parse_wav(p)
                amps = np.frombuffer(pcm, dtype=np.uint8)
                out["id"].append(i)
                out["sample_rate"].append(rate)
                out["n_samples"].append(len(amps))
                out["mean_amp"].append(
                    int(amps.astype(np.int64).sum()) / len(amps)
                    if len(amps) else 0.0
                )
                out["peak_amp"].append(
                    int(amps.max()) if len(amps) else 0
                )
            yield pd.DataFrame({
                "id": pd.Series(out["id"], dtype="int64"),
                "sample_rate": pd.Series(out["sample_rate"], dtype="int32"),
                "n_samples": pd.Series(out["n_samples"], dtype="int32"),
                "mean_amp": pd.Series(out["mean_amp"], dtype="float64"),
                "peak_amp": pd.Series(out["peak_amp"], dtype="int32"),
            })

    return df.mapInPandas(
        run,
        "id long, sample_rate int, n_samples int, "
        "mean_amp double, peak_amp int",
    )


def frame_signatures(
    df: DataFrame, id_col: str, payload_col: str, every_n_bytes: int
) -> DataFrame:
    """binary -> one (id, frame_idx, sig) row per ``every_n_bytes``
    window, sig = the frame's byte sum as BIGINT -- the integer-exact
    per-frame signature scene-change detection differences (a checksum
    can only say "different"; a magnitude signature says "how much",
    which is what a cut detector thresholds). The byte crunch is the
    only Python here (Arrow-batched, N rows per input -- the
    :func:`frame_sample` shape); the detection itself stays JVM-side
    (a lag window over (id, frame_idx)), the right split between a
    codec seam and analytics."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sigs = [], [], []
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                buf = np.frombuffer(p, dtype=np.uint8)
                for k in range(0, len(buf), every_n_bytes):
                    ids.append(i)
                    idxs.append(k // every_n_bytes)
                    sigs.append(int(buf[k : k + every_n_bytes]
                                    .astype(np.int64).sum()))
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "sig": pd.Series(sigs, dtype="int64"),
                }
            )

    return df.mapInPandas(run, "id long, frame_idx int, sig long")
