"""Deduplication operators for text corpora: exact, MinHash+LSH, SimHash.

All signatures are deterministic across partitionings -- min/sum over
seeded ``xxhash64`` values are commutative, and no step depends on row
order. That property is what makes near-dup results reproducible on a
1000-executor cluster.

Scale shapes:
- exact: one shuffle on a 128-bit content hash (uniform, skew-free);
- MinHash/LSH: signature build is narrow (per-row array exprs); the only
  shuffle is the band-bucket self-join -- the quadratic pair space is
  never materialized;
- SimHash: explode + two keyed aggregations to bit-pack, then a banded
  equi-join (contiguous bit-slices; pigeonhole gives perfect recall for
  hamming <= bands-1) -- no all-pairs join anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.pinning import pin_corpus

from ..functions.rounding import duck_round


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group by content hash; keep the lowest id (the canonical survivor)."""
    return df.groupBy(F.md5(F.col(text_col).cast("binary")).alias("text_hash")).agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def portable_hash60(c: Column, seed: int | None = None) -> Column:
    """60-bit cross-engine token hash: the leading 15 hex chars of md5 as
    a BIGINT. Bit-identical in Spark (``conv(substring(md5(x),1,15),16,10)``)
    and DuckDB (``CAST('0x'||substring(md5(x),1,15) AS BIGINT)``), which is
    what lets hash-dependent queries (simhash, minhash) carry exact DuckDB
    oracles. ``xxhash64`` stays the scale-path default -- it is a single
    codegen'd JVM op with no hex-string round-trip -- so callers opt into
    portability per query, not globally."""
    s = c if seed is None else F.concat_ws(":", F.lit(str(seed)), c)
    return F.conv(F.substring(F.md5(s.cast("binary")), 1, 15), 16, 10).cast("long")


_MERSENNE31 = 2_147_483_647  # 2^31 - 1, prime


def minhash_affine_consts(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash MinHash family
    ``h_i(t) = (a_i * base(t) + b_i) mod (2^31 - 1)`` -- md5-derived
    constants, never random at run time, embeddable as literals in a
    DuckDB oracle. a_i in [1, p-1] keeps the map a permutation of the
    field; products stay under 2^62 so BIGINT arithmetic is exact in
    both engines."""
    import hashlib

    out = []
    for i in range(k):
        da = hashlib.md5(f"minhash-a-{i}".encode()).digest()
        db = hashlib.md5(f"minhash-b-{i}".encode()).digest()
        a = int.from_bytes(da[:8], "big") % (_MERSENNE31 - 1) + 1
        b = int.from_bytes(db[:8], "big") % _MERSENNE31
        out.append((a, b))
    return out


def minhash_base_hashes(tokens: Column) -> Column:
    """Per-token base hash for the portable MinHash family: md5-60-bit
    (:func:`portable_hash60`) reduced mod 2^31-1. Materialize this ONCE
    per row (its own projection), then derive all k signature lanes from
    it -- the md5 cost is paid once per token, not once per (token, seed)."""
    return F.transform(tokens, lambda t: portable_hash60(t) % _MERSENNE31)


def minhash_signature_from_base(base: Column, k: int) -> Column:
    """Cross-engine-exact MinHash signature from pre-computed base hashes:
    ``k`` affine universal-hash lanes ``(a_i*h + b_i) mod (2^31-1)`` --
    the classic construction (same family as datasketch), every value
    reproducible in DuckDB SQL via the same literals."""
    return F.array(
        *[
            F.array_min(
                F.transform(
                    base,
                    (lambda a_, b_: lambda h: (a_ * h + b_) % _MERSENNE31)(
                        F.lit(a), F.lit(b)
                    ),
                )
            )
            for a, b in minhash_affine_consts(k)
        ]
    )


def minhash_candidates(
    docs: DataFrame,
    id_col: str,
    tokens_col: Column,
    k: int = 16,
    bands: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Near-dup candidate pairs via MinHash + LSH banding.

    Returns ``doc_a, doc_b, est_jaccard`` (signature agreement rate).
    The shuffle is keyed by (band_idx, band_hash); only same-bucket pairs
    join. Estimated similarity filters before any exact verify.

    ``portable=True`` swaps the xxhash64 per-(token, seed) hashing for the
    md5-base + affine-lane family a DuckDB oracle reproduces exactly (see
    :func:`minhash_signature_from_base`); the band hash stays xxhash64
    regardless -- it only defines join buckets and never reaches the
    output, so two engines only need the TOKEN hashes to agree.
    """
    # r14 (optimization round): the k lane expressions are SQL strings
    # parsed JVM-side in one call (the q_source_overlap_sketch driver-
    # time fix: per-lane Column composition cost ~0.7 s of py4j round
    # trips per construction). Identical expressions and values; the
    # named _base/_toks projection collapses into the scan.
    if portable:
        based = docs.select(
            F.col(id_col).alias("doc_id"),
            minhash_base_hashes(tokens_col).alias("_base"),
        )
        lanes = ", ".join(
            f"array_min(transform(_base, h -> ({a} * h + {b}) % {_MERSENNE31}))"
            for a, b in minhash_affine_consts(k)
        )
        sig = based.select("doc_id", F.expr(f"array({lanes})").alias("sig"))
    else:
        lanes = ", ".join(
            f"array_min(transform(_toks, t -> xxhash64({i}, t)))"
            for i in range(k)
        )
        sig = docs.select(
            F.col(id_col).alias("doc_id"), tokens_col.alias("_toks")
        ).select("doc_id", F.expr(f"array({lanes})").alias("sig"))
    # Pin the banded signatures before the self-join: the two aliases
    # otherwise replan the docs -> tokens -> signature subtree twice,
    # i.e. a second full corpus scan. The checkpointed relation is
    # signature-sized ((k+2) longs per banded row, no text), so caching
    # it and scanning the corpus ONCE is the right trade at any scale.
    r = k // bands
    band_arr = ", ".join(
        "xxhash64(" + ", ".join(f"sig[{i}]" for i in range(b * r, (b + 1) * r)) + ")"
        for b in range(bands)
    )
    bandsdf = sig.select(
        "doc_id",
        "sig",
        F.posexplode(F.expr(f"array({band_arr})")).alias("band_idx", "band_hash"),
    ).transform(pin_corpus)
    a = bandsdf.alias("a")
    b = bandsdf.alias("b")
    # est is computed per collision ROW (identical for every band a pair
    # collides in), then the pair is deduped with groupBy(max) -- NOT a
    # distinct over the signatures: that would shuffle 2*k longs per row,
    # where this shuffles (doc_a, doc_b, est) with map-side combine.
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
                lambda m: m,
            )
        ).cast("double")
        / k
    )
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            est.alias("est_row"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(duck_round(F.max("est_row"), 4).alias("est_jaccard"))
    )


def jaccard_pairs(
    tok: DataFrame,
    id_col: str = "doc_id",
    tok_col: str = "tok",
    max_token_df: int | None = None,
) -> DataFrame:
    """Exact pairwise Jaccard over a deduped ``(id, token)`` posting table
    via the sparse token-keyed join: |A∩B| is counted only for pairs that
    actually share a token, set sizes joined back size-adaptively (the
    sizes side is doc-cardinality, so it carries no broadcast hint --
    AQE broadcasts it below the threshold, shuffles it beyond; the
    vocab-sized hot-token filter DOES broadcast, per the repo's pinned
    vocab-join convention).

    ``max_token_df`` is the hot-token cap -- the standard guard for
    posting-list blowup: a token appearing in ``d`` documents contributes
    d*(d-1)/2 join rows, so one stop-word-grade token ("the") dominates
    the whole shuffle at corpus scale. When set, tokens whose document
    frequency exceeds the cap are dropped from the token SETS first (both
    intersection and union -- consistent set semantics, not just a join
    prune). ``None`` (default) keeps exact uncapped semantics -- what the
    bounded ground-truth probes and their DuckDB oracles use.

    Returns ``doc_a, doc_b, jaccard`` (unrounded double, > 0 pairs only);
    callers round/threshold/rename.
    """
    tok = tok.select(F.col(id_col).alias("_id"), F.col(tok_col).alias("_tok"))
    if max_token_df is not None:
        dfreq = tok.groupBy("_tok").agg(F.countDistinct("_id").alias("_df"))
        tok = tok.join(
            F.broadcast(dfreq.filter(F.col("_df") <= max_token_df).select("_tok")),
            "_tok",
        )
    sizes = tok.groupBy("_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = tok.alias("a"), tok.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a._tok") == F.col("b._tok")) & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("n_common")
    )
    return (
        inter.join(sizes.alias("sa"), F.col("sa._id") == F.col("doc_a"))
        .join(sizes.alias("sb"), F.col("sb._id") == F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


def minhash_verified_edges(
    docs: DataFrame,
    id_col: str,
    tokens_col: Column,
    threshold: float,
    k: int = 16,
    bands: int = 8,
    candidate_floor: float | None = None,
) -> DataFrame:
    """Exact-thresholded near-dup edges via the banded two-phase plan:
    LSH candidates first (:func:`minhash_candidates` -- the only shuffle
    keys by (band_idx, band_hash)), then exact token-set Jaccard computed
    ONLY on the candidate pairs as per-pair ``array_intersect`` /
    ``array_union`` JVM exprs. Precision is exact; recall is the LSH
    collision probability 1-(1-j^(k/bands))^bands, ~1-2e-6 at j=0.9 with
    the defaults.

    ``candidate_floor``: optional pre-verify prune on the SIGNATURE
    agreement rate (est_jaccard). Template-heavy corpora make many
    band-collision pairs whose true similarity is far below the
    threshold; dropping est < floor pairs before the (relatively
    expensive) exact set arithmetic cuts the verify load. Keep the floor
    well under the threshold: a true j-pair's agreement is Binom(k, j)/k,
    so floor=threshold/2 adds only ~1e-4 miss probability at j=0.9, k=16
    (the fixture equality test pins zero misses deterministically).

    Returns ``(src, dst)`` with ``src < dst``. The token-set side carries
    NO join hint: it is doc-cardinality (the whole input corpus), so a
    forced broadcast OOMs every executor once the corpus outgrows driver
    memory -- exactly the library path ``pipeline.curate_corpus`` feeds.
    AQE picks broadcast on its own below
    ``spark.sql.autoBroadcastJoinThreshold`` (fixture sizes) and a
    doc-keyed shuffle join beyond; either way the work stays linear in
    candidates. (Round-7 fix per the r5 size-adaptive hint rule -- same
    rationale as q_rare_token_ratio's frequency join.)"""
    cand = minhash_candidates(docs, id_col, tokens_col, k=k, bands=bands)
    if candidate_floor is not None:
        cand = cand.filter(F.col("est_jaccard") >= candidate_floor)
    cand = cand.select("doc_a", "doc_b")
    sets_ = docs.select(
        F.col(id_col).cast("long").alias("sid"), tokens_col.alias("tk")
    )
    jac = F.size(F.array_intersect("tk_a", "tk_b")).cast("double") / F.size(
        F.array_union("tk_a", "tk_b")
    )
    return (
        cand.join(
            sets_.select(F.col("sid").alias("doc_a"), F.col("tk").alias("tk_a")),
            "doc_a",
        )
        .join(
            sets_.select(F.col("sid").alias("doc_b"), F.col("tk").alias("tk_b")),
            "doc_b",
        )
        .filter(jac >= threshold)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )


def simhash_signatures(
    docs: DataFrame, id_col: str, tokens_col: Column, hash_fn=None, nbits: int = 64
) -> DataFrame:
    """``nbits``-bit SimHash per doc: each distinct token's hash votes
    +/-1 per bit position; the sign of the vote becomes the signature bit.

    ``hash_fn`` maps the token Column to a long hash Column (default
    xxhash64 with the full 64 bits; :func:`portable_hash60` with
    ``nbits=60`` gives the variant a DuckDB oracle reproduces exactly)."""
    hash_fn = hash_fn or F.xxhash64
    tok_hash = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_col).alias("tok")
    ).select("doc_id", hash_fn(F.col("tok")).alias("h"))
    bits = tok_hash.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(nbits - 1))).alias("bit"),
        "h",
    ).select(
        "doc_id",
        "bit",
        F.when(F.expr("(h >> bit) & 1") == 1, 1).otherwise(-1).alias("vote"),
    )
    return (
        bits.groupBy("doc_id", "bit")
        .agg(F.sum("vote").alias("v"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("v") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)"))
                .otherwise(F.lit(0).cast("long"))
            ).alias("simhash")
        )
    )


def simhash_band_values(sig: Column, bands: int, nbits: int = 64) -> Column:
    """Split an ``nbits``-bit signature into ``bands`` contiguous
    bit-slices (one array<long> element per slice)."""
    width = nbits // bands
    mask = (1 << width) - 1
    return F.array(
        *[
            F.shiftrightunsigned(sig, b * width).bitwiseAND(F.lit(mask))
            for b in range(bands)
        ]
    )


def simhash_near_pairs(
    signatures: DataFrame,
    max_hamming: int,
    bands: int | None = None,
    nbits: int = 64,
) -> DataFrame:
    """Pairs within a hamming radius via banded blocking -- NOT an
    all-pairs self-join.

    Pigeonhole guarantee: ``max_hamming`` differing bits land in at most
    ``max_hamming`` of the ``bands`` contiguous slices, so any pair within
    the radius agrees EXACTLY on >=1 band whenever ``bands > max_hamming``
    -- banding has perfect recall, it only prunes. The join is an
    equi-join keyed by (band_idx, band_value): the shuffle partitions by
    bucket and the quadratic pair space is never materialized. Same shape
    as :func:`minhash_candidates` banding.

    ``bands`` defaults to the smallest power-of-two divisor of 64 that is
    ``> max_hamming`` (more bands -> wider buckets -> fewer collisions
    would be wrong-way-round: more bands means SHORTER slices, more
    chance collisions, so we take the fewest bands that keep the recall
    guarantee).
    """
    if bands is None:
        bands = 2
        while bands <= max_hamming:
            bands *= 2
    if nbits % bands or bands <= max_hamming:
        raise ValueError(
            f"bands={bands} must divide {nbits=} and exceed {max_hamming=}"
        )
    # Pin the banded signatures before the self-join (same rationale as
    # minhash_candidates): without it the two aliases replan the
    # signature-derivation subtree -- including its corpus scan -- twice.
    # The cached relation is 3 longs per banded row.
    banded = signatures.select(
        "doc_id",
        "simhash",
        F.posexplode(simhash_band_values(F.col("simhash"), bands, nbits)).alias(
            "band_idx", "band_val"
        ),
    ).transform(pin_corpus)
    a = banded.alias("a")
    b = banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _bloom_probe(key: str, seed: int, m_bits: int) -> tuple[Column, Column]:
    """(word index, bit mask) of Bloom probe ``seed`` for column ``key``.

    SQL-expression form: ``shiftleft``'s bit count must be a runtime
    column here, which the Python ``F.shiftleft`` wrapper rejects."""
    pos = f"pmod(xxhash64({key}, {seed}), {m_bits})"
    widx = F.expr(f"CAST(floor(({pos}) / 64) AS BIGINT)")
    mask = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(({pos}), 64) AS INT))")
    return widx, mask


def bloom_prefiltered_new_keys(
    batch: DataFrame,
    index: DataFrame,
    key: str = "fp",
    m_bits: int = 4096,
    k_hashes: int = 3,
) -> DataFrame:
    """Rows of ``batch`` whose ``key`` is NOT present in ``index`` --
    EXACT result, Bloom-accelerated membership pruning.

    The pattern Spark's InjectRuntimeFilter applies to selective joins,
    made explicit for the incremental-dedup shape -- and built from pure
    DataFrame aggregates (Spark exposes no bloom_filter_agg SQL routine,
    and a driver-collected sketch object would put a Python UDF on the
    hot path):

    1. SKETCH: each index key sets ``k_hashes`` bits of an ``m_bits``
       filter; the filter is materialized as a WORD TABLE -- explode the
       (word_idx, bit_mask) probes, ``bit_or`` per word_idx -- at most
       ``m_bits/64`` rows regardless of index size. bit_or is
       commutative, so the sketch is deterministic across partitionings.
    2. PROBE: the batch takes ``k_hashes`` broadcast left-joins against
       the word table; ``might contain`` = every probe found its bit.
       ``might==false`` is DEFINITELY new (no false negatives) and skips
       the join; ``might==true`` is verified by the exact anti-join.

    The output equals a plain anti-join for ANY false-positive rate (the
    sketch decides which rows pay the shuffle, never the answer), so the
    operator stays oracle-exact while the anti-join's shuffle carries
    only (true dups + FP-rate x batch) rows. Size ``m_bits`` at ~10
    bits/key (k=3 keeps FP ~1% there); at 100 TB/day against a
    years-deep index the word table is still only m_bits/64 longs --
    a broadcast, not a shuffle.

    Empty-index edge: the word table is empty, every probe join misses,
    every hit coalesces to false -> the whole batch is definitely-new
    (the correct answer), no NULL-logic dropout.
    """
    probes = F.array(
        *[
            F.struct(
                _bloom_probe(key, j, m_bits)[0].alias("widx"),
                _bloom_probe(key, j, m_bits)[1].alias("mask"),
            )
            for j in range(k_hashes)
        ]
    )
    # the index relation feeds the sketch build AND the exact verify
    # anti-join; the word table is referenced once per probe join --
    # un-pinned, every reference replans the scan -> fp -> distinct
    # subtree (the aliased-derived-relation rescan the r6 sweep
    # eliminated registry-wide; first audit of this operator measured 9
    # source scans / 14 exchanges). The index pin is fingerprint-sized
    # (16 bytes/doc, pin_corpus -> storage-configurable); the word table
    # is <= m_bits/64 rows -- metadata, pinned unconditionally.
    index = pin_corpus(index)
    words = (
        index.select(F.explode(probes).alias("p"))
        .groupBy(F.col("p.widx").alias("widx"))
        .agg(F.bit_or("p.mask").alias("word"))
        .localCheckpoint(eager=False)
    )
    probed = batch
    hits = []
    for j in range(k_hashes):
        widx, mask = _bloom_probe(key, j, m_bits)
        wj = words.select(
            F.col("widx").alias(f"_w{j}"), F.col("word").alias(f"_word{j}")
        )
        probed = probed.withColumn(f"_widx{j}", widx).withColumn(
            f"_mask{j}", mask
        ).join(
            F.broadcast(wj), F.col(f"_widx{j}") == F.col(f"_w{j}"), "left"
        )
        hits.append(
            F.coalesce(
                F.col(f"_word{j}").bitwiseAND(F.col(f"_mask{j}"))
                == F.col(f"_mask{j}"),
                F.lit(False),
            )
        )
    maybe = hits[0]
    for h in hits[1:]:
        maybe = maybe & h
    probed = probed.withColumn("_maybe", maybe).drop(
        *[c for j in range(k_hashes) for c in (f"_widx{j}", f"_mask{j}", f"_w{j}", f"_word{j}")]
    )
    definitely_new = probed.filter(~F.col("_maybe")).drop("_maybe")
    verified_new = (
        probed.filter(F.col("_maybe")).drop("_maybe").join(index, key, "left_anti")
    )
    return definitely_new.unionByName(verified_new)
