"""DuplicateValues re-imagined (reference QualityControl.py:1572-2173) plus
the web-scale near-dup family (MinHash-LSH, SimHash, n-gram Jaccard) the
reference only gestures at with driver-side O(n²) loops (:1758-1764 — the
exact pattern we replace with shuffle-parallel algebra).

Exact-dup semantics inherited:
- duplicate_stats: affected_rows = ALL rows in dup groups (the reference
  test's expectation, tests/test_duplicate_values.py:26)
- keep first/last/most_recent via row_number (:1967-1981)
- composite business key via concat_ws+sha2 (:2149-2173)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import WS_REGEX

# ---------------------------------------------------------------------------
# exact duplicates
# ---------------------------------------------------------------------------


def duplicate_groups(df: DataFrame, cols: list[str]) -> DataFrame:
    """groups with count > 1 (A9, :1640-1647)."""
    return df.groupBy(*cols).agg(F.count(F.lit(1)).alias("dup_count")).filter(
        F.col("dup_count") > 1
    )


def duplicate_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """One row: duplicate_count (n groups) + affected_rows (all rows in
    groups — per the reference's own test, not its implementation)."""
    g = duplicate_groups(df, cols)
    return g.agg(
        F.coalesce(F.count(F.lit(1)), F.lit(0)).alias("duplicate_count"),
        F.coalesce(F.sum("dup_count"), F.lit(0)).alias("affected_rows"),
    )


def group_size_histogram(df: DataFrame, cols: list[str]) -> DataFrame:
    """distribution of dup-group sizes (A10, :1659-1660 — fixed alias bug)."""
    return (
        duplicate_groups(df, cols)
        .groupBy("dup_count")
        .agg(F.count(F.lit(1)).alias("n_groups"))
    )


def business_key_violations(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """A11 (:1861-1867): business keys appearing more than once."""
    return duplicate_groups(df, key_cols)


def composite_key(df: DataFrame, cols: list[str], out: str = "row_key") -> DataFrame:
    """concat_ws + sha2-256 composite key (:2149-2173)."""
    return df.withColumn(out, F.sha2(F.concat_ws("|", *[F.col(c) for c in cols]), 256))


def dedup_exact(
    df: DataFrame,
    key_cols: list[str],
    order_by: list | None = None,
    keep: str = "first",
) -> DataFrame:
    """Keep-one per key group via row_number (W1, :1967-1981).

    keep='first'/'last' flips the order; order_by defaults to the key
    itself (deterministic for exact dups). Scales: shuffle on key_cols only.
    """
    if keep not in ("first", "last"):
        raise ValueError(
            f"keep must be 'first' or 'last', got {keep!r} "
            "(for keep-most-recent pass keep='first' with order_by="
            "[col('ts').desc()], cf. reference :1977-1981)"
        )
    order = order_by or [F.col(c) for c in key_cols]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    df = df.withColumn("_rn", F.row_number().over(w))
    if keep == "first":
        pred = F.col("_rn") == 1
    else:
        # keep='last' without flipping the sort (order_by may already
        # contain SortOrder expressions that cannot be .desc()'d again):
        # last row == row_number equals the partition size
        df = df.withColumn(
            "_cnt", F.count(F.lit(1)).over(Window.partitionBy(*key_cols))
        )
        pred = F.col("_rn") == F.col("_cnt")
    return df.filter(pred).drop("_rn", "_cnt") if keep == "last" else (
        df.filter(pred).drop("_rn")
    )


# ---------------------------------------------------------------------------
# near-duplicate family (training-data pipeline ops; no reference analog —
# replaces the driver-side fuzzy loop at :1758-1764 with shuffle algebra)
# ---------------------------------------------------------------------------


def _shingles_of(words, k: int):
    """word k-shingles from a MATERIALIZED words-array column. Callers must
    bind `words` to a real column (not an inline split expression) so the
    per-element lambda indexes a computed array instead of re-splitting the
    text for every shingle."""
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n < k, F.array(F.concat_ws(" ", words))).otherwise(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)))
    )


def with_shingles(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """(id, shingles array<string>) in two projections: words materialized
    first, then shingled — O(words) per row, not O(words^2). NULL text has
    NULL shingles, as in with_shingle_hashes (not the empty text's one
    shingle, which every two NULL-text docs would share)."""
    words = F.filter(F.split(F.lower(F.col(text_col)), WS_REGEX), lambda w: w != F.lit(""))
    w = df.select(F.col(id_col).alias("id"), words.alias("_w"))
    sh = F.when(F.col("_w").isNotNull(), _shingles_of(F.col("_w"), k))
    return w.select("id", sh.alias("shingles"))


def with_shingle_hashes(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """(id, hashes array<bigint>) of word k-shingle hashes WITHOUT building
    shingle strings: each word is string-hashed once (xxhash64), then the
    k adjacent word-hashes combine via xxhash64 over longs — long hashing
    is ~10x cheaper than string hashing and the concat-ws shingle strings
    (which duplicate the text k-fold) are never materialized. This is the
    production shingle path for minhash/simhash; the *_portable md5 twins
    keep string shingles for engine portability.

    Hash basis differs from xxhash64(shingle string) — fine for the
    near-dup estimators (any uniform family works), pinned by the
    accuracy tests rather than golden values."""
    words = F.filter(
        F.split(F.lower(F.col(text_col)), WS_REGEX), lambda w: w != F.lit("")
    )
    w = df.select(F.col(id_col).alias("id"), words.alias("_w"))
    wh = w.select(
        "id",
        "_w",
        F.transform(F.col("_w"), lambda x: F.xxhash64(x)).alias("_wh"),
    )
    n = F.size(F.col("_wh"))
    slices = [F.slice(F.col("_wh"), i + 1, n - (k - 1)) for i in range(k)]
    combined = slices[0]
    for s in slices[1:]:
        combined = F.zip_with(combined, s, lambda a, b: F.xxhash64(a, b))
    hashes = F.when(
        n < k, F.array(F.xxhash64(F.concat_ws(" ", F.col("_w"))))
    ).otherwise(combined)
    return wh.select("id", hashes.alias("hashes"))


# vectorized XXH64 (the numpy twin of Spark's o.a.s.sql.catalyst XXH64):
# bit-exact with F.xxhash64(F.lit(i), h) = hashLong(h, hashInt(i, 42)) —
# pinned against Spark in tests/test_minhash_accuracy.py. Arithmetic runs
# in uint64 (wraps like Java long); comparisons happen on the int64 VIEW
# so mins match Spark's signed bigint ordering.
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_U64 = (1 << 64) - 1


def _xxh64_int_scalar(i: int, seed: int = 42) -> int:
    """XXH64.hashInt(i, seed) in plain python ints (returns uint64)."""

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & _U64

    h = (seed + _XXH_P5 + 4) & _U64
    h ^= ((i & 0xFFFFFFFF) * _XXH_P1) & _U64
    h = (rotl(h, 23) * _XXH_P2 + _XXH_P3) & _U64
    h ^= h >> 33
    h = (h * _XXH_P2) & _U64
    h ^= h >> 29
    h = (h * _XXH_P3) & _U64
    h ^= h >> 32
    return h


def _xxh64_str_scalar(s: str, seed: int = 42) -> int:
    """XXH64.hashUnsafeBytes over the UTF-8 bytes of `s` in plain python
    ints (returns uint64): F.xxhash64(string) is its signed view. Little-
    endian 32-byte stripes, then 8-byte words, one 4-byte word, bytes."""

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & _U64

    def rnd(acc, lane):
        return (rotl((acc + lane * _XXH_P2) & _U64, 31) * _XXH_P1) & _U64

    b = s.encode("utf-8")
    n = len(b)
    pos = 0
    if n >= 32:
        v = [
            (seed + _XXH_P1 + _XXH_P2) & _U64,
            (seed + _XXH_P2) & _U64,
            seed & _U64,
            (seed - _XXH_P1) & _U64,
        ]
        while pos <= n - 32:
            for j in range(4):
                v[j] = rnd(v[j], int.from_bytes(b[pos : pos + 8], "little"))
                pos += 8
        h = (rotl(v[0], 1) + rotl(v[1], 7) + rotl(v[2], 12) + rotl(v[3], 18)) & _U64
        for x in v:
            h = ((h ^ rnd(0, x)) * _XXH_P1 + _XXH_P4) & _U64
    else:
        h = (seed + _XXH_P5) & _U64
    h = (h + n) & _U64
    while pos <= n - 8:
        h ^= rnd(0, int.from_bytes(b[pos : pos + 8], "little"))
        h = (rotl(h, 27) * _XXH_P1 + _XXH_P4) & _U64
        pos += 8
    if pos <= n - 4:
        h ^= (int.from_bytes(b[pos : pos + 4], "little") * _XXH_P1) & _U64
        h = (rotl(h, 23) * _XXH_P2 + _XXH_P3) & _U64
        pos += 4
    for byte in b[pos:]:
        h ^= (byte * _XXH_P5) & _U64
        h = (rotl(h, 11) * _XXH_P1) & _U64
    h ^= h >> 33
    h = (h * _XXH_P2) & _U64
    h ^= h >> 29
    h = (h * _XXH_P3) & _U64
    h ^= h >> 32
    return h


def _xxh64_long_vec(vals, seed):
    """XXH64.hashLong over a uint64 numpy array; `seed` is a python int
    or a uint64 array (element-wise seeds — the shingle-combine chain)."""
    import numpy as np

    p1, p2 = np.uint64(_XXH_P1), np.uint64(_XXH_P2)
    p3, p4, p5 = np.uint64(_XXH_P3), np.uint64(_XXH_P4), np.uint64(_XXH_P5)

    def rotl(x, r):
        r = np.uint64(r)
        return (x << r) | (x >> (np.uint64(64) - r))

    if isinstance(seed, np.ndarray):
        h = seed + p5 + np.uint64(8)  # element-wise; arrays wrap silently
    else:
        # fold the scalar prefix in python ints: numpy SCALAR uint64
        # overflow emits RuntimeWarnings on executors (arrays don't)
        h = np.uint64((int(seed) + _XXH_P5 + 8) & _U64)
    h = h ^ (rotl(vals * p2, 31) * p1)
    h = rotl(h, 27) * p1 + p4
    h ^= h >> np.uint64(33)
    h *= p2
    h ^= h >> np.uint64(29)
    h *= p3
    h ^= h >> np.uint64(32)
    return h


def _word_hash_source(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, wh array<bigint>, fb bigint) — per-WORD xxhash64 values plus
    the n<k whole-text fallback hash (non-null exactly when the filtered
    word count is < k and the text is non-null). The k-adjacent combine
    happens in numpy downstream (guide §4.2); only string hashing stays
    in the JVM. Matches with_shingle_hashes' word/fallback definitions
    exactly — the *_agg twins still consume the full-JVM combine, so the
    declared parity queries certify the numpy chain end to end. (SQL
    strings, not Column chains, like _lsh_estimate: the lambdas cost
    py4j round trips on every near-dedup plan build.)"""
    ws = "'" + WS_REGEX.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return df.selectExpr(
        f"`{id_col}` AS id",
        f"filter(split(lower(`{text_col}`), {ws}), w -> w != '') AS _w",
    ).selectExpr(
        "id",
        "transform(_w, x -> xxhash64(x)) AS wh",
        f"CASE WHEN size(_w) < {k} THEN xxhash64(concat_ws(' ', _w)) END AS fb",
    )


def _gram_pieces(batch, k: int):
    """Decode one Arrow (id, wh, fb) batch into the numpy pieces the
    signature/vote kernels share:

    returns (ids, valid, fb_rows, fb_vals, grams, gram_lens, gram_starts)
    - valid:    bool[n_rows], text non-null
    - fb_rows:  bool[n_rows], fallback path (word count < k)
    - fb_vals:  int64[n_rows], fallback hash (0 where unused)
    - grams:    uint64[*], combined k-gram hashes of the REGULAR rows,
                row-major, boundary-crossing grams removed
    - gram_lens/gram_starts: per-REGULAR-row segment table over `grams`

    The combine replays Spark's F.xxhash64(acc, w) chain exactly:
    c = w0; then c = hashLong(w_j, hashLong(c, 42)) per extra word —
    vectorized over the whole flattened buffer with shifted views, then
    compacted by a validity mask so no gram crosses a row boundary."""
    import numpy as np
    import pyarrow as pa

    ids = batch.column(0)
    wh = batch.column(1)
    fb = batch.column(2)
    valid = wh.is_valid().to_numpy(zero_copy_only=False)
    fb_rows = fb.is_valid().to_numpy(zero_copy_only=False)
    fb_vals = pa.compute.fill_null(fb, 0).to_numpy(zero_copy_only=False)
    lens_nn = (
        pa.compute.list_value_length(wh)
        .drop_null()
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    vals = np.ascontiguousarray(
        wh.flatten().to_numpy(zero_copy_only=False)
    ).view(np.uint64)
    n_flat = vals.shape[0]
    if n_flat >= k:
        c = vals[: n_flat - (k - 1)]
        for j in range(1, k):
            c = _xxh64_long_vec(vals[j : n_flat - (k - 1) + j], _xxh64_long_vec(c, 42))
        # mask out grams whose window crosses into the next row
        pos = np.arange(n_flat, dtype=np.int64) - np.repeat(
            np.concatenate(([0], np.cumsum(lens_nn)[:-1])), lens_nn
        )
        ok = (pos <= np.repeat(lens_nn, lens_nn) - k)[: c.shape[0]]
        grams = c[ok]
    else:
        grams = np.empty(0, dtype=np.uint64)
    gram_lens = np.maximum(lens_nn - (k - 1), 0)
    gram_starts = np.concatenate(([0], np.cumsum(gram_lens)))[: gram_lens.shape[0]]
    return ids, valid, fb_rows, fb_vals, grams, gram_lens, gram_starts


def _band_keys_vec(sig_mat, rows_per_band: int):
    """LSH band keys of an (n, num_hashes) int64 signature matrix:
    XXH64.hashLong chained over band b's slots b*r .. b*r+r-1 from seed 42,
    bit-exact with F.xxhash64(sig[b*r], ..., sig[b*r+r-1]) (pinned in
    tests/test_minhash_accuracy.py). Returns (n, bands) int64."""
    import numpy as np

    n, m = sig_mat.shape
    slots = sig_mat.view(np.uint64).reshape(n, m // rows_per_band, rows_per_band)
    h = _xxh64_long_vec(slots[:, :, 0], 42)
    for j in range(1, rows_per_band):
        h = _xxh64_long_vec(slots[:, :, j], h)
    return h.view(np.int64)


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    shingle_k: int = 3,
    rows_per_band: int = 4,
) -> DataFrame:
    """MinHash signature per doc over word-hash-combined shingle hashes
    (with_shingle_hashes — no shingle strings built); the i-th permutation
    re-hashes each shingle hash with seed i and keeps the (signed) min.

    The 32 permutation passes run as ONE numpy pass per Arrow batch
    (mapInArrow over the JVM-computed shingle hashes): per seed,
    vectorized XXH64 over the batch's flattened hash buffer + a segmented
    np.minimum.reduceat — bit-exact with the previous in-plan
    array_min(transform(...)) form because the numpy XXH64 reproduces
    Spark's exactly (parity test) and min needs no distinct (duplicate
    shingles can't change a minimum). Round-7 A/B (bench minhash leg):
    interpreted 32-transform projection 1.09 s -> 0.62 s, and the near-
    dedup signature stage shrinks the same way. Only (id, hashes) crosses
    the Arrow boundary; still a zero-shuffle projection. NULL-text docs
    keep the projection form's contract: a VALID array of 32 NULL slots.

    The same pass emits the LSH band keys (`bands`, num_hashes //
    rows_per_band of them, see _band_keys_vec): the kernel already holds
    every slot in numpy, so banding needs no second engine pass. An
    all-NULL signature gets 42 in every band, as Spark's null-skipping
    xxhash64 fold does (_lsh_estimate drops such rows before banding).
    Returns (id, sig array<bigint>, bands array<bigint>)."""
    import numpy as np
    import pyarrow as pa

    if num_hashes % rows_per_band != 0:
        raise ValueError("num_hashes must be divisible by rows_per_band")
    n_bands = num_hashes // rows_per_band
    src = _word_hash_source(df, text_col, id_col, shingle_k)
    id_ddl = src.schema["id"].dataType.simpleString()
    seeds = [_xxh64_int_scalar(i) for i in range(num_hashes)]

    def sigs(batches):
        for batch in batches:
            n_rows = batch.num_rows
            if n_rows == 0:
                continue
            (ids, valid, fb_rows, fb_vals, grams, gram_lens, gram_starts
             ) = _gram_pieces(batch, shingle_k)
            sig_mat = np.zeros((n_rows, num_hashes), dtype=np.int64)
            has_grams = gram_lens > 0          # per non-null row
            starts = gram_starts[has_grams]
            # map non-null-row indices back to batch row positions
            nn_pos = np.flatnonzero(valid)
            gram_rows = nn_pos[has_grams]
            fbu = fb_vals.view(np.uint64)[fb_rows]
            for i, s in enumerate(seeds):
                if grams.shape[0]:
                    hv = _xxh64_long_vec(grams, s).view(np.int64)
                    sig_mat[gram_rows, i] = np.minimum.reduceat(hv, starts)
                if fbu.shape[0]:
                    sig_mat[fb_rows, i] = _xxh64_long_vec(fbu, s).view(np.int64)
            band_mat = _band_keys_vec(sig_mat, rows_per_band)
            band_mat[~valid] = 42
            elem_valid = np.repeat(valid, num_hashes)
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    _list_array(sig_mat, num_hashes, mask=~elem_valid),
                    _list_array(band_mat, n_bands),
                ],
                names=["id", "sig", "bands"],
            )

    return src.mapInArrow(
        sigs, schema=f"id {id_ddl}, sig array<bigint>, bands array<bigint>"
    )


def _list_array(mat, width: int, mask=None):
    """Fixed-width (n, width) int64 matrix -> Arrow list<int64> column."""
    import numpy as np
    import pyarrow as pa

    offsets = pa.array(
        np.arange(mat.shape[0] + 1, dtype=np.int32) * width, type=pa.int32()
    )
    return pa.ListArray.from_arrays(offsets, pa.array(mat.reshape(-1), mask=mask))


def minhash_signatures_agg(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    shingle_k: int = 3,
) -> DataFrame:
    """Independent A/B twin of minhash_signatures: the i-th permutation's
    minimum computed via explode + groupBy + 32 compiled min() aggregates
    instead of array_min over a transform — a genuinely different physical
    plan (hash aggregate with partial/final merge vs per-row HOF) over the
    same shingle-hash definition. Used by the `minhash_lsh_dups_fast`
    driver parity query: any divergence between the two paths is a bug in
    one of them. NOT the production path (the groupBy adds a per-doc
    exchange the projection form doesn't have). NULL-text docs produce no
    row here while the projection form emits an all-NULL signature array —
    the parity query normalizes that shape to NULL before comparing."""
    sh = with_shingle_hashes(df, text_col, id_col, shingle_k)
    ex = sh.select("id", F.explode(F.array_distinct("hashes")).alias("h"))
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("h"))).alias(f"_m{i}")
        for i in range(num_hashes)
    ]
    agged = ex.groupBy("id").agg(*aggs)
    sig = F.array(*[F.col(f"_m{i}") for i in range(num_hashes)])
    return agged.select("id", sig.alias("sig"))


def _band_keys_fast(sigs: DataFrame) -> DataFrame:
    """(id, band, bucket:long) band keys over xxhash64 signatures: the
    `bands` column minhash_signatures computed, one row per band; the sig
    array is projected away before any exchange."""
    return sigs.selectExpr("id", "posexplode(bands) AS (band, bucket)")


def _band_keys_portable(
    sigs: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, bucket:string) band keys over md5-portable signatures."""
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.encode(
                                F.concat_ws(
                                    "|",
                                    *[
                                        F.col("sig").getItem(b * rows_per_band + r)
                                        for r in range(rows_per_band)
                                    ],
                                ),
                                "UTF-8",
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.bucket")


def minhash_jaccard(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    rows_per_band: int = 4,
) -> DataFrame:
    """Estimated Jaccard for LSH candidate pairs: fraction of matching
    signature slots. Banding derives from num_hashes (bands =
    num_hashes // rows_per_band) so any signature width is consistent.
    Returns (id_a, id_b, est_jaccard).

    The signatures are local-checkpointed once for their three uses
    (banding + two estimate joins), so the signature kernel runs once.
    The checkpoint is not free: under AQE, `localCheckpoint(eager=False)`
    runs the shuffle stages below the signatures when it is called; only
    the signature pass itself waits for the first consumer's job. The
    blocks are freed when the returned frame is garbage-collected — no
    cache leaking across calls."""
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, rows_per_band=rows_per_band
    ).localCheckpoint(eager=False)
    return _lsh_estimate(sigs, num_hashes, rows_per_band, portable=False)


def _lsh_estimate(
    sigs: DataFrame,
    num_hashes: int,
    rows_per_band: int,
    portable: bool,
) -> DataFrame:
    """The one band self-join + slot-match core: (id_a, id_b,
    est_jaccard) with id_a < id_b for every pair sharing a band bucket,
    est = matching slots / num_hashes. The band join carries (id, band,
    bucket) only; signatures join back per candidate pair. (SQL strings,
    not Column chains: with dataFrameDebugging on, every F.* call is ~20
    py4j round trips, and this runs on the driver once per near-dedup
    call.)"""
    if num_hashes % rows_per_band != 0:
        raise ValueError("num_hashes must be divisible by rows_per_band")

    # an all-NULL signature (NULL text) bands to the same key in every
    # band, which would pair every two NULL-text docs
    signed = sigs.filter("exists(sig, x -> x IS NOT NULL)")
    if portable:
        bands = num_hashes // rows_per_band
        banded = _band_keys_portable(signed, bands, rows_per_band)
    else:
        banded = _band_keys_fast(signed)
    # join on=[names] so Catalyst plans a shuffled hash/sort-merge EQUI-join;
    # a raw self-join condition on aliased frames risks ambiguous-attribute
    # resolution degrading to BroadcastNestedLoopJoin (O(n^2) — observed)
    a = banded.withColumnsRenamed({"id": "id_a"})
    b = banded.withColumnsRenamed({"id": "id_b"})
    pairs = (
        a.join(b, on=["band", "bucket"])
        .filter("id_a < id_b")
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sigs.selectExpr("id AS id_a", "sig AS sig_a")
    sb = sigs.selectExpr("id AS id_b", "sig AS sig_b")
    return pairs.join(sa, "id_a").join(sb, "id_b").selectExpr(
        "id_a",
        "id_b",
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), m -> m))"
        f" / {num_hashes} AS est_jaccard",
    )


def _min_labels(a, b, n: int):
    """Component labels of nodes 0..n-1 joined by the edges (a[i], b[i]),
    as an int64 array: label[v] is the smallest node index in v's
    component. Min-label hooking (every edge pulls the root of its larger
    endpoint label down to the smaller label) alternates with pointer
    jumping until every edge joins equal labels. Labels only fall and
    each round removes at least one root, so it terminates; pointer
    jumping keeps the rounds near log(diameter)."""
    import numpy as np

    lab = np.arange(n, dtype=np.int64)
    while True:
        la, lb = lab[a], lab[b]
        diff = la != lb
        if not diff.any():
            return lab
        np.minimum.at(
            lab, np.maximum(la[diff], lb[diff]), np.minimum(la[diff], lb[diff])
        )
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt


def _arrow_components(edges):
    """(ids, components) Arrow arrays over a two-column Arrow edge table:
    every node that appears in an edge, and the minimum id of its
    component. Ids map to indices in a SORTED dictionary, so the minimum
    index is the minimum id in Spark's order (Arrow sorts strings by their
    UTF-8 bytes, as Spark compares them). No Python object per edge."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = edges.num_rows
    ends = pa.chunked_array(
        edges.column(0).chunks + edges.column(1).chunks, type=edges.schema[0].type
    )
    ids = pc.unique(ends)
    ids = ids.take(pc.sort_indices(ids))
    idx = pc.index_in(ends, value_set=ids).to_numpy(zero_copy_only=False)
    lab = _min_labels(idx[:n], idx[n:], len(ids))
    return ids, ids.take(pa.array(lab))


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    contract_cap: int = 1_000_000,
) -> DataFrame:
    """Connected components over an undirected edge list — pairs ->
    clusters with NO graph library, the step the reference's aspirational
    merge_similar_records (QualityControl.py:2062-2073, blocking_columns
    undefined) never built.

    Returns (id, component) for every node APPEARING IN PAIRS; component
    is the minimum id (natural ordering) of the node's component. Nodes
    with no pairs are singletons by definition and are deliberately not
    materialized. `contract_cap` is the most rows ever collected to the
    driver. Which path runs:

    1. Driver (the pair list has <= contract_cap rows): ONE action,
       `pairs.limit(cap + 1).toArrow()`; _arrow_components labels the
       graph in numpy and the result comes back through
       createDataFrame(<arrow table>). No checkpoint, no join, no pyspark
       Row.
    2. Contract (more pairs than the cap): one groupBy folds the round-1
       propagation into the initial labels (cliques collapse at once),
       then the graph is CONTRACTED to its label graph — tiny once
       cliques are gone — which one bounded Arrow collect finishes
       exactly with the same numpy labeling (components of a contraction
       by a within-component vertex map are the original components);
       the remap joins back as a broadcast.
    3. Loop (the label graph too exceeds contract_cap; contract_cap=0
       forces it): iterative min-label propagation, below. It is the
       only path that handles graphs of any size.

    Each loop iteration is ONE driver action running a propagation round
    (an equi-join + one groupBy, shuffling (id,label) pairs only) composed
    with a POINTER-DOUBLING shortcut (label := label-node's own label) —
    labels' hop-distance to the component min roughly halves per action,
    so deep chains converge in O(log diameter) actions; shallow clusters
    exit on the first action because the initial labels already carry
    the round-1 result. Convergence is detected from the SAME frame: the
    propagate step tracks each node's pre-round label, so zero
    `label < _old` rows is the fixed-point proof (the shortcut is the
    identity on a fixed point). Labels are monotone non-increasing per
    node. localCheckpoint cuts the lineage so plans do not grow across
    iterations; under AQE each checkpoint call runs its plan's shuffle
    stages when it is called."""
    import pyarrow as pa
    import pyarrow.compute as pc

    id_t = pairs.schema[id_a].dataType
    if pairs.schema[id_b].dataType != id_t:
        id_t = pairs.select(id_a).union(pairs.select(id_b)).schema[0].dataType
    spark = pairs.sparkSession
    t = id_t.simpleString()
    ends = pairs.selectExpr(
        f"CAST(`{id_a}` AS {t}) AS src", f"CAST(`{id_b}` AS {t}) AS dst"
    )
    edge_t = ends.limit(contract_cap + 1).toArrow()
    if edge_t.num_rows <= contract_cap:
        ids, comp = _arrow_components(edge_t)
        return spark.createDataFrame(
            pa.table({"id": ids, "component": comp}),
            T.StructType(
                [T.StructField("id", id_t), T.StructField("component", id_t)]
            ),
        )

    def propagate(lbls: DataFrame) -> DataFrame:
        nbr = edges.join(
            lbls.withColumnRenamed("id", "src"), "src"
        ).select(F.col("dst").alias("id"), "label")
        return lbls.union(nbr).groupBy("id").agg(F.min("label").alias("label"))

    def propagate_tracking(lbls: DataFrame) -> DataFrame:
        # propagate + carry each node's PRE-round label through the same
        # aggregation (`_old`: non-null only on the self row, F.min skips
        # the neighbor rows' nulls) — the per-iteration convergence count
        # then reads `label < _old` off this one frame instead of joining
        # the new and old label frames (one fewer join + exchange per
        # round; the count is the action that materializes the lazy
        # checkpoint either way)
        nbr = edges.join(
            lbls.withColumnRenamed("id", "src"), "src"
        ).select(
            F.col("dst").alias("id"),
            "label",
            F.lit(None).cast(lbls.schema["label"].dataType).alias("_old"),
        )
        slf = lbls.select("id", "label", F.col("label").alias("_old"))
        return (
            slf.union(nbr)
            .groupBy("id")
            .agg(F.min("label").alias("label"), F.min("_old").alias("_old"))
        )

    # (pointer doubling happens inline in the loop: label := label-node's
    # own label. Every label value is a component-member id present in
    # the frame — labels start as ids and only ever take mins of other
    # labels — so the inner join is total and the result is a valid,
    # smaller-or-equal component-member label.)

    # no edge-dedup pass: duplicate input pairs only add rows to the
    # propagate union, which the min() aggregate absorbs — a .distinct()
    # here cost one full exchange of the edge list per CC run for zero
    # semantic effect
    edges = ends.union(ends.selectExpr("dst AS src", "src AS dst")).localCheckpoint(
        eager=False
    )
    # initial labels = the ROUND-1 propagation result, folded into one
    # groupBy over the (symmetric) edge list: label(v) = min(v, min of
    # v's neighbors) — identical to propagate(id->id) but with no join,
    # no separate distinct-ids job, and one fewer loop round.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src"), F.col("_mn")).alias("label"),
        )
        .localCheckpoint(eager=False)
    )

    # contract-and-finish: the round-1 labels collapse cliques — the
    # overwhelmingly common near-dup cluster shape — so the LABEL GRAPH
    # (each edge mapped to its endpoints' labels, self-loops dropped,
    # one direction, distinct) is tiny: only chain-shaped clusters that
    # round 1 left unfinished contribute edges. Every label value is a
    # component-member id, so labeling the label graph gives each
    # label's true component minimum, and final(id) = root(label(id))
    # via one broadcast join. Measured at 400k docs / 1.5M pairs: the
    # loop needed 6 driver actions, the last 5 rounds (~1.3 s each,
    # full-edge-list joins) moving <30 straggler labels; this replaces
    # them with ONE bounded Arrow collect.
    la = labels.select(F.col("id").alias("src"), F.col("label").alias("_la"))
    lb = labels.select(F.col("id").alias("dst"), F.col("label").alias("_lb"))
    label_edges = (
        edges.join(la, "src")
        .join(lb, "dst")
        .filter(F.col("_la") < F.col("_lb"))
        .select("_la", "_lb")
        .distinct()
    )
    le_t = label_edges.limit(contract_cap + 1).toArrow()
    if le_t.num_rows <= contract_cap:
        if le_t.num_rows == 0:
            return labels.withColumnRenamed("label", "component")
        lbl, root = _arrow_components(le_t)
        moved = pc.not_equal(lbl, root)
        m = spark.createDataFrame(
            pa.table({"label": lbl.filter(moved), "_root": root.filter(moved)}),
            T.StructType(
                [T.StructField("label", id_t), T.StructField("_root", id_t)]
            ),
        )
        return labels.join(F.broadcast(m), "label", "left").select(
            "id", F.coalesce(F.col("_root"), F.col("label")).alias("component")
        )

    for _it in range(max_iter):
        # LAZY checkpoint: the changed-count below is the ONE action per
        # iteration — it materializes new's blocks as a side effect, so
        # each iteration (propagate + shortcut) costs one driver
        # round-trip. `_chg` records whether the PROPAGATE step moved the
        # node's label; the shortcut can only move labels further when
        # propagate moved some, and is the identity on a fixed point, so
        # sum(_chg) == 0 proves convergence of the returned labels too.
        p = propagate_tracking(labels)
        parent = p.select(F.col("id").alias("label"), F.col("label").alias("_grand"))
        new = (
            p.join(parent, "label")
            .select(
                "id",
                F.col("_grand").alias("label"),
                (F.col("label") < F.col("_old")).alias("_chg"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new.filter(F.col("_chg")).count()
        labels = new.drop("_chg")
        if changed == 0:
            break
    else:
        # `changed` compares against the PRE-iteration labels, so a chain
        # that reaches its fixed point exactly in the final iteration still
        # lands here with changed>0. One zero-change verification round
        # distinguishes "converged on the last action" from genuine
        # non-convergence before failing.
        verify = propagate(labels).localCheckpoint(eager=False)
        still = (
            verify.withColumnRenamed("label", "_new")
            .join(labels, "id")
            .filter(F.col("_new") != F.col("label"))
            .count()
        )
        if still:
            # labels are NOT component minima when propagation is cut
            # short — consuming them would silently split long near-dup
            # chains and keep duplicates, so fail loudly instead
            raise RuntimeError(
                f"connected_components did not converge in max_iter="
                f"{max_iter} iterations ({still} labels still changing); "
                "raise max_iter — rounds needed grow with the log of the "
                "longest chain's diameter"
            )
    return labels.withColumnRenamed("label", "component")


# ---------------------------------------------------------------------------
# md5-portable twins — identical algorithms with engine-portable hashing
# (md5 exists in Spark, DuckDB and hashlib; xxhash64 only in Spark). These
# back the DuckDB-checked driver queries; the xxhash64 versions above are
# the pipeline's path (longs hash ~10x cheaper than 32 md5 string passes),
# which the pure-python pipeline oracle mirrors
# (semantics.minhash_candidate_pairs_xxh64).
# ---------------------------------------------------------------------------


def minhash_signatures_portable(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash with md5 permutations: slot i = lexicographic min over
    distinct shingles of md5('{i}|' + shingle) hex. Returns
    (id, sig array<string>). Portable to DuckDB SQL and hashlib."""
    sh = with_shingles(df, text_col, id_col, shingle_k)
    base = sh.select("id", F.array_distinct(F.col("shingles")).alias("sh"))

    def perm(i: int):
        # closure factory: a `lambda s, i=i` would have TWO parameters and
        # pyspark would treat it as an (element, index) HOF lambda
        prefix = f"{i}|"
        return lambda s: F.md5(F.encode(F.concat(F.lit(prefix), s), "UTF-8"))

    sig = F.array(
        *[
            F.array_min(F.transform(F.col("sh"), perm(i)))
            for i in range(num_hashes)
        ]
    )
    return base.select("id", sig.alias("sig"))


def minhash_jaccard_portable(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    rows_per_band: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """LSH candidate pairs + estimated Jaccard over the md5-portable
    signatures: band buckets are md5 of the '|'-joined band slots; the
    band self-join and slot-match estimate are minhash_jaccard's
    (_lsh_estimate), and so is the checkpoint, with the same cost (its
    shuffle stages run when it is called). Returns (id_a, id_b,
    est_jaccard)."""
    sigs = minhash_signatures_portable(
        df, text_col, id_col, num_hashes, shingle_k
    ).localCheckpoint(eager=False)
    return _lsh_estimate(sigs, num_hashes, rows_per_band, portable=True)


def simhash_portable(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int = 2
) -> DataFrame:
    """60-bit SimHash over md5 shingle hashes (first 15 hex chars parsed
    as the hash value — 60 bits keeps the value positive and exactly
    representable in BIGINT on every engine). Same single-pass vote as
    simhash64. Returns (id, simhash)."""
    shingled = with_shingles(df.select(id_col, text_col), text_col, id_col, shingle_k)
    hashed = shingled.select(
        "id",
        F.transform(
            F.col("shingles"),
            lambda s: F.conv(
                F.substring(F.md5(F.encode(s, "UTF-8")), 1, 15), 16, 10
            ).cast("long"),
        ).alias("hashes"),
    )
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(60)])
    counts = F.aggregate(
        F.col("hashes"),
        F.array_repeat(F.lit(0), 60),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    sim = F.aggregate(
        F.zip_with(
            counts, masks, lambda c, m: F.when(c > 0, m).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc.bitwiseOR(v),
    )
    return hashed.select("id", sim.alias("simhash"))


def _bit_mask(b: int):
    """Signed-long literal for bit b (bit 63 is the sign bit: 1<<63 would
    overflow java long parsing, so encode it as Long.MIN_VALUE)."""
    return F.lit(1 << b if b < 63 else -(1 << 63)).cast("long")


def simhash64(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 2,
) -> DataFrame:
    """64-bit SimHash per doc: for each bit b, sum +1/-1 over shingle
    hashes; bit set if sum > 0 (ones strictly outnumber zeros). Returns
    (id, simhash).

    The bit VOTE runs as one numpy pass per Arrow batch (mapInArrow over
    the JVM-computed shingle hashes): per bit b, ones_b = segmented sum
    of (h >> b) & 1 via np.add.reduceat, bit set iff 2*ones_b > n — the
    same integers as the old in-plan HOF accumulator (bit-exact, no
    floats anywhere), but 64 vectorized C passes instead of a per-hash
    interpreted zip_with over an array<int>[64] accumulator (guide §4.2:
    hand whole batches to native code). Round-7 A/B on the bench leg
    (200k docs, local[32], min-of-3): HOF vote 3.65 s -> this 1.0 s; the
    explode + 64-compiled-sum aggregate remains the slowest shape at
    8.0 s (same corpus and cores) and survives only as the
    simhash64_agg parity twin. Word STRING hashing stays in the JVM; the
    k-adjacent combine replays Spark's xxhash64 chain in vectorized
    numpy (bit-exact — the parity twin and the python-vote test pin the
    shared basis); only (id, word-hashes) crosses the Arrow boundary,
    and the stage is still a zero-shuffle projection."""
    import numpy as np
    import pyarrow as pa

    src = _word_hash_source(df.select(id_col, text_col), text_col, id_col, shingle_k)
    id_ddl = src.schema["id"].dataType.simpleString()

    def vote(batches):
        for batch in batches:
            n_rows = batch.num_rows
            if n_rows == 0:
                continue
            (ids, valid, fb_rows, fb_vals, grams, gram_lens, gram_starts
             ) = _gram_pieces(batch, shingle_k)
            out = np.zeros(n_rows, dtype=np.int64)
            has_grams = gram_lens > 0
            if has_grams.any():
                starts = gram_starts[has_grams]
                vlens = gram_lens[has_grams]
                gvals = grams.view(np.int64)
                sim = np.zeros(vlens.shape[0], dtype=np.uint64)
                for b in range(64):
                    ones = np.add.reduceat((gvals >> b) & 1, starts)
                    sim |= ((2 * ones) > vlens).astype(np.uint64) << np.uint64(b)
                nn_pos = np.flatnonzero(valid)
                out[nn_pos[has_grams]] = sim.view(np.int64)
            # fallback rows vote over ONE hash: every set bit wins 1 - 0,
            # every clear bit loses 0 - 1 => simhash == the hash itself
            out[fb_rows] = fb_vals[fb_rows]
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(out, mask=~valid)],
                names=["id", "simhash"],
            )

    return src.mapInArrow(vote, schema=f"id {id_ddl}, simhash bigint")


def simhash64_agg(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 2,
) -> DataFrame:
    """Independent A/B twin of simhash64: the same 2*ones > n bit vote
    computed via explode + groupBy + 64 compiled sum() aggregates instead
    of the single-pass array<int>[64] HOF accumulator — a different
    physical plan over the same shingle hashes. Used by the `simhash_fast`
    driver parity query (any divergence = a bug in one path). NOT the
    production path: this is exactly the explode+sum shape that
    measured 2.2x the HOF vote (200k docs, local[32]), kept here
    because a *check* wants plan diversity, not speed. Docs with NULL
    text produce no row (production emits a NULL simhash) — the parity
    join treats absent-vs-NULL as agreement."""
    hashed = with_shingle_hashes(
        df.select(id_col, text_col), text_col, id_col, shingle_k
    )
    ex = hashed.select("id", F.explode("hashes").alias("h"))
    aggs = [
        F.sum(
            F.when(F.col("h").bitwiseAND(_bit_mask(b)) != 0, 1).otherwise(-1)
        ).alias(f"_b{b}")
        for b in range(64)
    ]
    counts = ex.groupBy("id").agg(*aggs)
    sim = F.lit(0).cast("long")
    for b in range(64):
        sim = sim.bitwiseOR(
            F.when(F.col(f"_b{b}") > 0, _bit_mask(b)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return counts.select("id", sim.alias("simhash"))


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., MOSS): hash every
    k-char gram (md5 — portable to any SQL oracle), then keep the minimum
    hash of each sliding window of `window` grams; distinct mins are the
    fingerprint set. Pure column algebra, one projection + explode.
    Returns (id, fingerprint string) rows.

    md5-hex lexicographic min is deterministic and engine-portable (unlike
    xxhash64, which only Spark has)."""
    low = F.lower(F.col(text_col))
    n = F.length(low)
    grams = df.select(
        F.col(id_col).alias("id"),
        F.when(
            n < k, F.array(F.md5(F.encode(low, "UTF-8")))
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), n - k + 1),
                lambda i: F.md5(F.encode(F.substring(low, i, k).cast("string"), "UTF-8")),
            )
        ).alias("_g"),
    )
    mins = grams.select(
        "id",
        F.when(
            F.size("_g") <= window, F.array(F.array_min("_g"))
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size("_g") - window + 1),
                lambda j: F.array_min(F.slice(F.col("_g"), j, window)),
            )
        ).alias("_m"),
    )
    return mins.select(
        "id", F.explode(F.array_distinct("_m")).alias("fingerprint")
    )


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, k: int = 3, min_jaccard: float = 0.5
) -> DataFrame:
    """Exact n-gram Jaccard via shingle explode + pair aggregation:
    |A∩B| from a self-join on shingle, |A|,|B| from per-doc distinct counts.
    Shuffles shingle hashes (bigint), never text. O(sum bucket²) — use after
    LSH candidate filtering at scale. Returns (id_a, id_b, jaccard)."""
    sh = (
        with_shingles(df, text_col, id_col, k)
        .select("id", F.explode(F.array_distinct(F.col("shingles"))).alias("shingle"))
        .select("id", F.xxhash64("shingle").alias("sh"))
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    # equi-join on the shared column name (see lsh_candidate_pairs note)
    a = sh.withColumnRenamed("id", "id_a")
    b = sh.withColumnRenamed("id", "id_b")
    inter = (
        a.join(b, on="sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_repeats: int = 2,
) -> DataFrame:
    """CCNet-style repeated-paragraph removal: a paragraph (newline-split
    line) appearing in >= min_repeats DISTINCT docs is boilerplate (nav
    bars, cookie banners, copyright footers) and is dropped from every
    doc; remaining paragraphs reassemble in original order. Paragraphs
    that are empty after trim are formatting, never flagged.

    Returns (id, cleaned_text, n_paras, n_dropped); NULL text passes
    through as NULL with zero counts.

    100 TB shape: the corpus shuffles ONCE as (paragraph-hash bigint,
    id) pairs for the distinct-doc count (map-side partial aggregation
    on the hash), the repeated set is typically tiny (boilerplate is
    heavy-tailed) and joins back as a broadcast/semi-join on the hash,
    and reassembly groups by id — paragraphs of one doc co-locate, so
    AQE plans it off the same exchange. Paragraph TEXT crosses the wire
    only inside the per-doc reassembly, never in the frequency pass."""
    paras = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "para"),
    ).withColumn("ph", F.xxhash64("para"))
    rep = (
        paras.filter(F.trim("para") != "")
        .groupBy("ph")
        .agg(F.count_distinct("id").alias("_nd"))
        .filter(F.col("_nd") >= min_repeats)
        .select("ph", F.lit(True).alias("_rep"))
    )
    marked = paras.join(rep, "ph", "left").withColumn(
        "_drop", F.coalesce("_rep", F.lit(False))
    )
    agg = marked.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("_drop"), F.struct("pos", "para"))
                    )
                ),
                lambda s: s["para"],
            ),
            "\n",
        ).alias("cleaned_text"),
        F.count(F.lit(1)).cast("int").alias("n_paras"),
        F.sum(F.col("_drop").cast("int")).cast("int").alias("n_dropped"),
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(agg, "id", "left")
        .select(
            "id",
            "cleaned_text",
            F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
        )
    )


def paragraph_scrub(
    df: DataFrame,
    text_col: str = "text",
    doc_key: str = "url",
    min_repeats: int = 2,
) -> DataFrame:
    """In-place variant of paragraph_dedup for pipeline use: rewrites
    `text_col` with repeated paragraphs removed, preserving every OTHER
    column and every row (no group-by-doc reassembly, so rows sharing a
    doc_key — pre-dedup url mirrors — are never merged).

    Two phases, zero driver collects: (1) the repeated-paragraph set is
    computed by one (paragraph-HASH bigint, doc_key) exchange with
    distinct-key counts — like its sibling paragraph_dedup, the exchange
    carries xxhash64(para) longs, never paragraph text (8 bytes/paragraph
    on the wire instead of the corpus text); (2) the repeated HASHES are
    aggregated to a single-row bigint array, broadcast via crossJoin, and
    each row's paragraphs filter against it by hash membership in place.
    The broadcast hash array is 10-50x smaller than the old string form
    and fine while the boilerplate set fits a task (heavy-tailed in
    practice); for adversarial corpora route through paragraph_dedup's
    join-based reassembly with a unique row key. NULL text passes
    through as NULL.

    Collision trade-off (repo xxhash64-keying policy, ADVICE r4): an
    innocent paragraph whose 64-bit hash collides with a repeated one is
    silently scrubbed from every doc — probability ~n_distinct_paras *
    n_repeated / 2^64 per corpus (negligible below ~10^9 distinct
    paragraphs); the prior string-membership form was exact at ~10-50x
    the broadcast bytes."""
    paras = (
        df.select(F.col(doc_key).alias("_k"), F.explode(F.split(F.col(text_col), "\n")).alias("para"))
        .filter(F.trim("para") != "")
    )
    rep = (
        paras.groupBy(F.xxhash64("para").alias("_ph"))
        .agg(F.count_distinct("_k").alias("_nd"))
        .filter(F.col("_nd") >= min_repeats)
    )
    bad = rep.agg(F.collect_set("_ph").alias("_bad"))  # exactly one row
    cleaned = F.array_join(
        F.filter(
            F.split(F.col(text_col), "\n"),
            lambda p: ~F.array_contains(F.col("_bad"), F.xxhash64(p)),
        ),
        "\n",
    )
    return (
        df.crossJoin(F.broadcast(bad))
        .withColumn(
            text_col,
            F.when(F.col(text_col).isNull(), F.lit(None).cast("string")).otherwise(
                cleaned
            ),
        )
        .drop("_bad")
    )


def cluster_representatives(
    components: DataFrame,
    scored: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Best-scoring member per near-dup cluster — (component, rep_id,
    rep_score, n_members). `components` is connected_components output
    (id, component); `scored` maps id -> a quality score. Ties and NULL
    scores resolve deterministically: highest score wins, NULL scores
    always lose, equal scores fall back to the MIN id (the old canonical
    rule, so keep-best degrades gracefully to keep-canonical on unscored
    clusters).

    Quality-aware representative selection is the public-pipeline
    refinement over keep-min-id (FineWeb/Dolma keep the longest or
    best-classifier-scored member): near-dup clusters mix full pages
    with truncated mirrors, and min-id keeps an arbitrary one.

    100 TB shape: one equi-join of the (tiny) component frame against
    the score projection on the unique id, then a single partial-agged
    min_by groupBy over (component) — no window, no corpus shuffle."""
    j = components.join(
        scored.select(
            F.col(id_col).alias("id"),
            F.col(score_col).cast("double").alias("_s"),
        ),
        "id",
        "left",
    )
    # min_by over (negated score, id): largest score first, NULL score
    # -> +inf loses to any real score, residual ties -> smallest id
    ordk = F.struct(
        (-F.coalesce(F.col("_s"), F.lit(float("-inf")))).alias("ns"),
        F.col("id").alias("i"),
    )
    return j.groupBy("component").agg(
        F.min_by("id", ordk).alias("rep_id"),
        F.min_by("_s", ordk).alias("rep_score"),
        F.count(F.lit(1)).cast("int").alias("n_members"),
    )


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Near-dup dedup keeping the BEST-SCORING row of each cluster
    (cluster_representatives rule) instead of the canonical min-id row:
    rows not in any pair pass through untouched; of each connected
    component over `pairs`, only the representative survives.

    100 TB shape: components/representatives cover pair PARTICIPANTS
    only (tiny next to the corpus); the final filter is one left_anti
    join on the unique id, broadcastable by AQE."""
    comp = connected_components(pairs, id_a, id_b, max_iter)
    reps = cluster_representatives(comp, df, id_col, score_col)
    drops = comp.join(
        reps.select(F.col("rep_id").alias("id")), "id", "left_anti"
    ).select(F.col("id").alias("_drop_id"))
    return df.join(
        drops, F.col(id_col) == F.col("_drop_id"), "left_anti"
    )


def domain_boilerplate_scrub(
    df: DataFrame,
    text_col: str = "text",
    domain_col: str = "domain",
    id_col: str = "doc_id",
    min_docs: int = 2,
    min_frac: float = 0.5,
) -> DataFrame:
    """Per-domain boilerplate line removal — a line appearing in
    >= min_docs docs AND >= min_frac of all docs OF THE SAME DOMAIN is
    site template (nav menu, footer, cookie banner) and is scrubbed from
    that domain's docs. The per-site frequency criterion is how public
    crawl pipelines (RefinedWeb §3.1 line-wise corrections, CCNet's
    per-shard variant) separate "this site stamps it on every page" from
    prose that merely repeats somewhere on the web — a corpus-global
    threshold (sibling paragraph_scrub) can't scale its cut to site
    size. Rewrites `text_col` in place, preserving every other column
    and every row; adds `n_boiler_lines` (lines scrubbed, 0 for clean or
    NULL docs). Trimmed-empty lines are formatting, never flagged.

    100 TB shape — the per-DOMAIN bad set cannot broadcast like
    paragraph_scrub's single global array (millions of hosts x their
    templates), so the scrub joins back per doc:
      1. line frequencies: one exchange of (domain, xxhash64(line))
         BIGINT pairs with distinct-doc counts (map-side partial agg;
         line text never shuffles),
      2. per-domain doc totals: a tiny groupBy(domain) joined in
         (broadcast — |domains| << |docs|),
      3. each doc's OWN flagged-line hashes: semi-join of the exploded
         (id, domain, hash) bigints against the bad (domain, hash) set,
         re-aggregated to a per-doc hash array — bounded by the doc's
         line count, no global structure,
      4. one join back to the corpus ON id (unique key — no skew) and an
         in-place HOF filter by hash membership.
    Docs with no flagged lines skip step 4's rewrite entirely (left join
    misses). Same xxhash64-collision trade-off as paragraph_scrub: an
    innocent line colliding with a flagged one in the SAME domain is
    scrubbed (~n_lines * n_flagged / 2^64).
    """
    lines = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(domain_col).alias("_dom"),
            F.explode(F.split(F.col(text_col), "\n")).alias("_line"),
        )
        .filter(F.trim("_line") != "")
        .select("_id", "_dom", F.xxhash64("_line").alias("_lh"))
    )
    domain_docs = df.groupBy(F.col(domain_col).alias("_dom")).agg(
        F.count_distinct(F.col(id_col)).alias("_dd")
    )
    bad = (
        lines.groupBy("_dom", "_lh")
        .agg(F.count_distinct("_id").alias("_nd"))
        .join(F.broadcast(domain_docs), "_dom")
        .filter(
            (F.col("_nd") >= min_docs)
            & (F.col("_nd") >= F.lit(float(min_frac)) * F.col("_dd"))
        )
        .select("_dom", "_lh")
    )
    doc_bad = (
        lines.join(bad, ["_dom", "_lh"], "left_semi")
        .groupBy("_id")
        .agg(F.collect_set("_lh").alias("_badset"))
    )
    kept = F.filter(
        F.split(F.col(text_col), "\n"),
        lambda p: ~F.array_contains(F.col("_badset"), F.xxhash64(p)),
    )
    return (
        df.join(doc_bad, F.col(id_col) == F.col("_id"), "left")
        .withColumn(
            "n_boiler_lines",
            F.when(
                F.col("_badset").isNull() | F.col(text_col).isNull(), F.lit(0)
            )
            .otherwise(
                F.size(F.split(F.col(text_col), "\n")) - F.size(kept)
            )
            .cast("int"),
        )
        .withColumn(
            text_col,
            F.when(
                F.col("_badset").isNull() | F.col(text_col).isNull(),
                F.col(text_col),
            ).otherwise(F.array_join(kept, "\n")),
        )
        .drop("_id", "_badset")
    )


def exact_substring_scrub(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 50,
    stride: int = 1,
) -> DataFrame:
    """ExactSubstr deduplication (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better") — the span-level exact
    dedup the doc-level ops cannot express: any word n-gram window
    occurring >= 2 times ACROSS THE CORPUS (or within one doc) keeps its
    FIRST occurrence (min (id, start)) and every token covered by a
    later occurrence is scrubbed from its document. No reference analog;
    task-brief training-data op.

    Returns (id, cleaned_text, n_tokens, n_tokens_removed). cleaned_text
    is the kept TOKEN STREAM joined by single spaces (ExactSubstr
    implementations operate on token ids; original whitespace inside a
    doc is not preserved — document-level ops keep raw text, this one is
    for span surgery). Docs shorter than n tokens are untouched; NULL
    text stays NULL.

    100 TB shape: the corpus-wide occurrence pass shuffles
    (xxhash64(gram) bigint, id, start) tuples ONLY — gram text never
    leaves its scan task. First-occurrence selection is a partial-
    aggregated groupBy(min(struct(id, start))) — hot boilerplate grams
    combine map-side instead of hammering one window partition — and
    the duplicate-start lists join back per doc (AQE broadcasts when
    small). Token coverage is a per-row index HOF: O(tokens x
    dup-windows-in-doc), all inside one projection.

    stride>1 (VERDICT r4 item #3) applies WINNOWING position sampling
    (the same window-min rule as winnowing_fingerprints) before the
    exchange: only positions whose (gram-hash, pos) is minimal in some
    window of `stride` consecutive positions are shuffled, cutting the
    ~24 B/token occurrence shuffle ~stride-fold. Granularity coarsens:
    winnowing's guarantee means a duplicated span is detected once it
    spans >= n + stride - 1 tokens (shorter dup windows may be missed,
    and the scrubbed token set derives from the SELECTED positions
    only); the stride=1 default keeps the exact Lee-et-al semantics and
    remains the DuckDB-oracled path. The window-min pass is a per-doc
    O(positions x stride) map-side HOF — traded against stride-fold
    fewer shuffled rows."""
    txt = F.col(text_col)
    toks = F.filter(F.split(txt, WS_REGEX), lambda w: w != F.lit(""))
    base = df.select(
        F.col(id_col).alias("id"), toks.alias("w"), txt.alias("_t")
    )
    m = F.size("w")
    starts = F.when(m >= n, F.sequence(F.lit(0), m - F.lit(n))).otherwise(
        F.array().cast("array<int>")
    )
    if stride == 1:
        occ = (
            base.select("id", "w", F.explode(starts).alias("s"))
            .select(
                "id",
                "s",
                F.xxhash64(
                    F.array_join(F.slice("w", F.col("s") + 1, n), " ")
                ).alias("h"),
            )
        )
    else:
        # winnowing selection BEFORE the explode: per doc, build the
        # (h, s) position array, keep each stride-window's minimum
        # (ordered by hash then position — leftmost-min tie rule),
        # distinct the argmins, and only those positions are shuffled.
        # The (h, s) array is MATERIALIZED in its own projection first
        # (same idiom as minhash_signatures' `base`): inlined into the
        # window-min transform, slice(hs, j, stride) re-evaluates the
        # whole gram-hash construction per window — measured 6x the
        # stride=1 runtime at sf0.1; materialized, the pass is O(positions
        # x stride) struct compares as intended.
        hs_expr = F.transform(
            starts,
            lambda s: F.struct(
                F.xxhash64(F.array_join(F.slice("w", s + 1, n), " ")).alias(
                    "h"
                ),
                s.alias("s"),
            ),
        )
        with_hs = base.select("id", hs_expr.alias("_hsarr"))
        hs = F.col("_hsarr")
        npos = F.size(hs)
        sel = (
            F.when(npos <= 0, F.array().cast("array<struct<h:bigint,s:int>>"))
            .when(npos <= stride, F.array(F.array_min(hs)))
            .otherwise(
                F.transform(
                    F.sequence(F.lit(1), npos - stride + 1),
                    lambda j: F.array_min(F.slice(hs, j, stride)),
                )
            )
        )
        occ = (
            with_hs.select("id", F.explode(F.array_distinct(sel)).alias("_hs"))
            .select("id", F.col("_hs.s").alias("s"), F.col("_hs.h").alias("h"))
        )
    firsts = (
        occ.groupBy("h")
        .agg(F.min(F.struct("id", "s")).alias("_first"), F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("h", "_first")
    )
    dup_starts = (
        occ.join(firsts, "h")
        .filter(
            ~(
                (F.col("id") == F.col("_first.id"))
                & (F.col("s") == F.col("_first.s"))
            )
        )
        .groupBy("id")
        .agg(F.collect_list("s").alias("_ds"))
    )
    ds = F.coalesce(F.col("_ds"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("w"),
        lambda tok, j: ~F.exists(ds, lambda s: (s <= j) & (j <= s + n - 1)),
    )
    return (
        base.join(dup_starts, "id", "left")
        .select(
            "id",
            F.when(F.col("_t").isNull(), F.lit(None).cast("string"))
            .otherwise(F.array_join(kept, " "))
            .alias("cleaned_text"),
            F.coalesce(F.size("w"), F.lit(0)).cast("int").alias("n_tokens"),
            (F.coalesce(F.size("w"), F.lit(0)) - F.coalesce(F.size(kept), F.lit(0)))
            .cast("int")
            .alias("n_tokens_removed"),
        )
    )


def contamination_flags(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    min_hits: int = 1,
    bench_text_col: str | None = None,
    bench_id_col: str | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag every corpus doc sharing at least
    `min_hits` distinct word n-grams with a benchmark/eval set — the
    standard 13-gram overlap rule LLM training pipelines run before
    training (no reference analog; task-brief training-data op).

    Returns one row per corpus doc: (id, n_hits, contaminated). n_hits
    counts DISTINCT contaminated n-grams. Docs shorter than n words
    contribute their whole text as a single "gram" (same rule as the
    other shingle ops), so short benchmark prompts still match verbatim
    copies.

    100 TB shape: benchmark gram sets are small (eval suites are MBs) —
    the distinct benchmark grams BROADCAST to every executor, the corpus
    side is a map-side semi-join on gram hash (bigint, never the gram
    string), and the only exchange is the per-doc hit-count groupBy,
    which partial-aggregates map-side to one row per contaminated doc.
    The corpus text itself is never shuffled."""
    btext = bench_text_col or text_col
    bid = bench_id_col or id_col
    bench = (
        with_shingles(benchmark, btext, bid, n)
        .select(F.explode(F.array_distinct("shingles")).alias("shingle"))
        .select(F.xxhash64("shingle").alias("sh"))
        .distinct()
    )
    grams = (
        with_shingles(corpus, text_col, id_col, n)
        .select("id", F.explode(F.array_distinct("shingles")).alias("shingle"))
        .select("id", F.xxhash64("shingle").alias("sh"))
    )
    hits = (
        grams.join(F.broadcast(bench), "sh")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        corpus.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            "id",
            F.coalesce("n_hits", F.lit(0)).cast("int").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def hamming_dup_pairs(
    df: DataFrame,
    hash_col: str = "simhash",
    id_col: str = "id",
    max_hamming: int = 8,
) -> DataFrame:
    """Near-dup pairs among 64-bit codes at hamming distance <=
    max_hamming — the generic banded join behind simhash/perceptual-hash
    dedup. Pigeonhole guarantee: the code splits into (max_hamming + 1)
    contiguous bit bands, so any pair within max_hamming differs in at
    most max_hamming bands and MUST agree exactly on at least one —
    candidate generation is a hash equi-join per band (ids + one long
    each; no nested-loop, no O(n^2)), then F.bit_count(a XOR b) verifies
    the exact distance. Returns (id_a, id_b, hamming), id_a < id_b.

    100 TB shape: the exchange carries (band, band-bits, id, code) — 28
    B/row x bands; a degenerate band value (e.g. all-zero high bits
    across the corpus) concentrates ITS band's join, which AQE skew
    handles; the verify filter runs inside the join's codegen stage."""
    n_bands = max_hamming + 1
    width = 64 // n_bands
    # band b = bits [b*width, (b+1)*width) — the LAST band keeps the
    # remainder bits so every bit belongs to exactly one band
    def band_bits(col, b: int):
        lo = b * width
        take = 64 - lo if b == n_bands - 1 else width
        mask = F.lit(-1 if take == 64 else (1 << take) - 1).cast("long")
        return F.shiftright(col, lo).bitwiseAND(mask)

    h = F.col(hash_col)
    banded = df.select(
        F.col(id_col).alias("id"), h.cast("long").alias("_h")
    ).select(
        "id",
        "_h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_bits(F.col("_h"), b).alias("bits"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "_h", "bk.band", "bk.bits")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, on=["band", "bits"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a._h").bitwiseXOR(F.col("b._h"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def merge_records(
    df: DataFrame,
    cluster_col: str,
    merge_rules: dict[str, str],
    id_col: str | None = None,
) -> DataFrame:
    """Record fusion: collapse each cluster to ONE merged record with a
    per-column conflict rule (reference merge_similar_records,
    QualityControl.py:2062-2101 — a driver collect + O(n^2) python loop
    over an undefined `blocking_columns`; its resolve_conflict rules are
    inherited here as distributed aggregates).

    Rules per output column:
      'most_frequent'  mode, ties broken by the LARGER value (max over
                       (count, value) structs — deterministic)
      'longest'        longest string, ties broken by the larger value
      'newest'         max (the reference's newest = max(values))
      'oldest'         min
      'sum' / 'average' numeric fold
    Columns not in merge_rules are taken from the canonical cluster row
    (min id_col) when id_col is given, else omitted. `n_members` counts
    the cluster size. NULL values inside ruled columns should be filled
    beforehand (struct-ordering of NULL fields differs across engines).

    The cluster label comes from upstream machinery — exact keys
    (content_md5 / composite_key) or the LSH -> connected_components
    output — so fusion is ONE groupBy over the corpus plus one tiny
    two-level aggregate + broadcast-join per most_frequent column; no
    driver-side data, no pairwise loop.
    """
    simple_aggs = [F.count(F.lit(1)).alias("n_members")]
    mf_cols: list[str] = []
    for col, rule in merge_rules.items():
        c = F.col(col)
        if rule == "most_frequent":
            mf_cols.append(col)
        elif rule == "longest":
            simple_aggs.append(
                F.max(F.struct(F.length(c).alias("l"), c.alias("v")))[
                    "v"
                ].alias(col)
            )
        elif rule == "newest":
            simple_aggs.append(F.max(c).alias(col))
        elif rule == "oldest":
            simple_aggs.append(F.min(c).alias(col))
        elif rule == "sum":
            simple_aggs.append(F.sum(c).alias(col))
        elif rule == "average":
            simple_aggs.append(F.avg(c).alias(col))
        else:
            raise ValueError(
                f"unsupported merge rule {rule!r} for column {col!r}; use "
                "most_frequent/longest/newest/oldest/sum/average"
            )
    if id_col is not None:
        for col in df.columns:
            if col not in merge_rules and col not in (cluster_col, id_col):
                simple_aggs.append(F.min_by(F.col(col), F.col(id_col)).alias(col))
        simple_aggs.append(F.min(id_col).alias(id_col))
    merged = df.groupBy(cluster_col).agg(*simple_aggs)
    for col in mf_cols:
        # deterministic mode: per-(cluster, value) counts, then max over
        # (count, value) — a two-level hash aggregate; the per-cluster
        # result frame joins back on the cluster key (AQE broadcasts it
        # when small)
        freq = (
            df.groupBy(cluster_col, col)
            .agg(F.count(F.lit(1)).alias("_c"))
            .groupBy(cluster_col)
            .agg(
                F.max(F.struct(F.col("_c").alias("c"), F.col(col).alias("v")))[
                    "v"
                ].alias(col)
            )
        )
        merged = merged.join(freq, cluster_col)
    return merged
