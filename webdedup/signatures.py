"""Shingling + MinHash/SimHash signature computation.

Replaces the reference's Elasticsearch inverted index + TF-IDF vectorizer as
the similarity substrate (suricate/dbconnectors/esconnector.py:132-153,
suricate/dftransformers/vectorizer.py:11-107).  Design:

  - token k-shingles are built **JVM-side** (sequence + transform + slice +
    xxhash64) so the hot path stays JVM-native and the only Python boundary
    is ONE Arrow-batched struct-returning pandas UDF (minhash + simhash +
    bottom-k sketch fused — the shingle array crosses Arrow once and is
    never needed again);
  - MinHash uses the standard (a*x + b) mod p universal family over 32-bit
    folded shingle hashes, p = 2^61 - 1, vectorized in numpy over a whole
    Arrow batch at once (no per-row Python — BASELINE.json input_hint);
  - SimHash packs the sign of per-bit weighted sums of shingle hashes into
    one int64;
  - LSH band hashes come back out of Python-land: xxhash64 over signature
    slices, again JVM-side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webdedup.config import DedupConfig
from webdedup.normalize import tokens

# --------------------------------------------------------------------------
# shingles (JVM-side)
# --------------------------------------------------------------------------

def shingle_hashes_from_tokens(toks: Column, k: int) -> Column:
    """Distinct xxhash64 values of the k-token shingles of a token ARRAY
    COLUMN (must be a bound attribute, not an inline expression — see
    shingle_hashes below).

    Built natively: sequence(0, n-k) -> slice -> array_join -> xxhash64.
    Docs shorter than k tokens contribute their whole token string as a
    single shingle (so short docs still participate).
    Returns array<long> (distinct, unsorted).
    """
    n = F.size(toks)
    shingles = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.xxhash64(F.array_join(F.slice(toks, i + 1, k), " ")),
        ),
    ).otherwise(F.array(F.xxhash64(F.array_join(toks, " "))))
    return F.array_distinct(shingles)


def shingle_hashes(text_col: Column, k: int) -> Column:
    """Shingle hashes straight from a text column.

    PERFORMANCE TRAP: higher-order functions are CodegenFallback, and every
    expression captured inside a transform() lambda is re-evaluated PER
    ELEMENT.  Passing tokens(text) inline here makes the regex tokenizer run
    once per shingle position — O(n^2) per document (measured 30x slowdown).
    Only use this form for tiny inputs/tests; production paths must
    materialize the token array as a column first (see compute_signatures).
    """
    return shingle_hashes_from_tokens(tokens(text_col), k)


# --------------------------------------------------------------------------
# MinHash (one pandas UDF, numpy-vectorized over the Arrow batch)
# --------------------------------------------------------------------------

def _perm_params(num_perm: int, seed: int) -> np.ndarray:
    """Per-permutation 64-bit xor seeds for the splitmix64 mixer."""
    rng = np.random.default_rng(seed)
    return rng.integers(0, 1 << 64, size=num_perm, dtype=np.uint64)


def _mix64(v: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (Steele et al.) — full-avalanche 64-bit mixer,
    uint64 wraparound arithmetic.  An affine (a*x+b) mod p family is NOT
    usable here: with 32-bit inputs the product barely wraps a 61-bit prime,
    leaving the hash quasi-monotone in x, so one small shingle hash wins the
    min for most permutations and the Jaccard estimate collapses."""
    v = v.astype(np.uint64, copy=True)
    _mix64_inplace(v, np.empty_like(v))
    return v


def _mix64_inplace(v: np.ndarray, tmp: np.ndarray) -> None:
    """splitmix64 on v IN PLACE; tmp is same-shape scratch for the shifts."""
    np.right_shift(v, np.uint64(30), out=tmp)
    np.bitwise_xor(v, tmp, out=v)
    np.multiply(v, np.uint64(0xBF58476D1CE4E5B9), out=v)
    np.right_shift(v, np.uint64(27), out=tmp)
    np.bitwise_xor(v, tmp, out=v)
    np.multiply(v, np.uint64(0x94D049BB133111EB), out=v)
    np.right_shift(v, np.uint64(31), out=tmp)
    np.bitwise_xor(v, tmp, out=v)


# Cap on flattened shingles processed per numpy block: bounds the
# (num_perm x n_shingles) intermediate regardless of Arrow batch size.
# Sized for cache residency, not just memory: at 1<<16 the two scratch
# matrices are 66 MB each — pure DRAM traffic, and with every core running
# a worker the shared memory bus caps aggregate throughput (measured
# 32-process scaling 0.47).  At 1<<11 the scratch is 2 MB (L2/L3-resident
# per worker) and 32-process scaling improves to 0.60 with ~3% solo cost
# (measured with BENCH/microbench_minhash.py from commit 4c8bc7b).
_CHUNK_SHINGLES = 1 << 11


# Reusable per-process scratch buffers.  ENVIRONMENT-MEASURED RATIONALE: on
# this sandbox's VM, first-touch page faults on fresh malloc'd regions run at
# ~0.8 ms/page (~5 MB/s!) while zero-page-backed np.zeros allocations and
# arena-reused memory are normal speed.  Letting numpy allocate the
# (num_perm x n_shingles) temporaries fresh cost 20-40 s PER WORKER on the
# first batch (measured); computing into preallocated np.zeros buffers with
# out= makes the first batch as fast as steady state.  On a normal cluster
# this is still a win (no large temporaries, no allocator churn).
_SCRATCH: dict[tuple, np.ndarray] = {}


# A buffer whose capacity exceeds the request by this factor (and is big
# enough for the shrink to matter) is reallocated: one pathological row whose
# shingle count row-chunking cannot split would otherwise pin two
# num_perm*total*8-byte buffers per python worker for the process lifetime.
_SCRATCH_SHRINK_FACTOR = 4
_SCRATCH_SHRINK_MIN_BYTES = 64 << 20


def _scratch(key: str, shape: tuple[int, ...], dtype) -> np.ndarray:
    """Reusable scratch buffer; returns a view of exactly `shape`.

    Grows to fit; shrinks back when capacity is >=4x the request and the
    buffer is large (>=64 MB) — steady-state behavior is still allocation-
    free because chunked requests hover near _CHUNK_SHINGLES."""
    k = (key, np.dtype(dtype).str)
    buf = _SCRATCH.get(k)
    if buf is not None:
        oversized = buf.nbytes >= _SCRATCH_SHRINK_MIN_BYTES and all(
            b >= s * _SCRATCH_SHRINK_FACTOR for b, s in zip(buf.shape, shape)
        )
        if oversized:
            buf = None
    if buf is None or any(b < s for b, s in zip(buf.shape, shape)):
        grown = tuple(
            max(b, s) for b, s in zip(buf.shape if buf is not None else shape, shape)
        )
        buf = np.zeros(grown, dtype=dtype)
        _SCRATCH[k] = buf
    return buf[tuple(slice(0, s) for s in shape)]


def _row_chunks(lengths: np.ndarray, budget: int):
    """Yield (start_row, end_row) slices whose total shingle count <= budget."""
    start = 0
    acc = 0
    for i, ln in enumerate(lengths):
        if acc + ln > budget and i > start:
            yield start, i
            start, acc = i, 0
        acc += int(ln)
    if start < len(lengths):
        yield start, len(lengths)


def minhash_block(shingle_lists, seeds: np.ndarray, num_perm: int) -> np.ndarray:
    """Pure-numpy MinHash of a list of int64 shingle arrays -> (rows, num_perm).

    Permutation i = splitmix64(shingle_hash XOR seed_i); signature value is
    the segment min (viewed back as signed int64 — min order is preserved
    per-permutation since the xor+mix is a bijection applied to all docs).
    """
    lengths = np.fromiter((len(s) for s in shingle_lists), dtype=np.int64)
    out = np.zeros((len(lengths), num_perm), dtype=np.int64)
    total = int(lengths.sum())
    if total == 0:
        return out
    flat = np.concatenate([np.asarray(s, dtype=np.int64) for s in shingle_lists])
    x = flat.view(np.uint64)
    # fixed-size scratch (see _SCRATCH): xor-broadcast + mix with no fresh
    # large temporaries
    hv = _scratch("mh_hv", (num_perm, max(total, _CHUNK_SHINGLES)), np.uint64)[:, :total]
    tmp = _scratch("mh_tmp", (num_perm, max(total, _CHUNK_SHINGLES)), np.uint64)[:, :total]
    np.bitwise_xor(x[None, :], seeds[:, None], out=hv)
    _mix64_inplace(hv, tmp)
    offsets = np.zeros(len(lengths), dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:])
    # reduceat pitfall: an empty segment returns h[offset] (wrong) — mask
    # zero-length rows out of the offsets array, leave their minhash as zeros.
    nonzero = lengths > 0
    nz_off = offsets[nonzero]
    if nz_off.size:
        mins = np.minimum.reduceat(hv, nz_off, axis=1)  # (num_perm, nz_rows)
        out[nonzero] = mins.T.view(np.int64)
    return out


def make_signature_udf(cfg: DedupConfig):
    """ONE fused struct-returning pandas UDF computing minhash + simhash +
    the bottom-k shingle sketch from the shingle array.

    Fusion is the signatures stage's memory-traffic fix: with the sketch
    computed HERE (np.sort of the already-distinct shingle hashes — the
    identical signed-ascending order F.array_sort produces), the projection
    AFTER the Arrow boundary never references the shingle array again, so
    compute_signatures needs no intermediate persist: the full shingle
    arrays are produced, shipped through Arrow once, and dropped — instead
    of being written into a columnar cache (whose build churn showed up in
    the GC profile, BENCH/BASELINE.md) and re-read by an interpreted
    lambda-comparator array_sort.
    """
    seeds = _perm_params(cfg.num_perm, cfg.minhash_seed)
    num_perm, bits, k = cfg.num_perm, cfg.simhash_bits, cfg.shingle_sketch_k
    schema = T.StructType(
        [
            T.StructField("minhash", T.ArrayType(T.LongType())),
            T.StructField("simhash", T.LongType()),
            T.StructField("sketch", T.ArrayType(T.LongType())),
        ]
    )

    @F.pandas_udf(schema)
    def signature(shingles: pd.Series) -> pd.DataFrame:
        vals = shingles.to_numpy()
        lengths = np.fromiter((len(s) for s in vals), dtype=np.int64)
        mh_parts, sh_parts = [], []
        for s, e in _row_chunks(lengths, _CHUNK_SHINGLES):
            mh_parts.append(minhash_block(vals[s:e], seeds, num_perm))
            sh_parts.append(simhash_block(vals[s:e], bits))
        mh = (
            np.concatenate(mh_parts)
            if mh_parts
            else np.zeros((0, num_perm), dtype=np.int64)
        )
        sh = np.concatenate(sh_parts) if sh_parts else np.zeros(0, dtype=np.int64)
        # bottom-k sketch: signed-ascending sort, first k — bit-identical to
        # the previous JVM-side slice(array_sort(shingles), 1, k)
        sketch = [np.sort(np.asarray(v, dtype=np.int64))[:k] for v in vals]
        return pd.DataFrame({"minhash": list(mh), "simhash": sh, "sketch": sketch})

    return signature


# --------------------------------------------------------------------------
# SimHash (one pandas UDF)
# --------------------------------------------------------------------------

def simhash_block(shingle_lists, bits: int) -> np.ndarray:
    lengths = np.fromiter((len(s) for s in shingle_lists), dtype=np.int64)
    out = np.zeros(len(lengths), dtype=np.int64)
    if lengths.sum() == 0:
        return out
    flat = np.concatenate([np.asarray(s, dtype=np.int64) for s in shingle_lists]).view(
        np.uint64
    )
    total = flat.shape[0]
    # (total, bits) bit matrix mapped to +-1, built in reusable scratch (see
    # _SCRATCH: fresh large temporaries hit this VM's slow first-touch path)
    u = _scratch("sh_u", (max(total, _CHUNK_SHINGLES), bits), np.uint64)[:total]
    np.right_shift(flat[:, None], np.arange(bits, dtype=np.uint64), out=u)
    np.bitwise_and(u, np.uint64(1), out=u)
    bitmat = _scratch("sh_b", (max(total, _CHUNK_SHINGLES), bits), np.int64)[:total]
    np.multiply(u.view(np.int64), 2, out=bitmat)
    np.subtract(bitmat, 1, out=bitmat)
    offsets = np.zeros(len(lengths), dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:])
    nonzero = lengths > 0
    nz_off = offsets[nonzero]
    if nz_off.size:
        sums = np.add.reduceat(bitmat, nz_off, axis=0)  # (nz_rows, bits)
        packed = ((sums > 0).astype(np.uint64) << np.arange(bits, dtype=np.uint64)).sum(
            axis=1, dtype=np.uint64
        )
        out[nonzero] = packed.astype(np.int64)
    return out


def shingle_strings_from_tokens(toks: Column, k: int) -> Column:
    """Distinct k-token shingle STRINGS (same construction as
    shingle_hashes_from_tokens, without the xxhash64) — for the portable
    md5-based signature variants whose hash an external engine (DuckDB
    oracle) can replay."""
    n = F.size(toks)
    shingles = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
        ),
    ).otherwise(F.array(F.array_join(toks, " ")))
    return F.array_distinct(shingles)


def make_portable_simhash_udf(bits: int = 64):
    """SimHash over md5-derived 64-bit shingle hashes (first 8 digest bytes,
    big-endian == '0x' || substr(md5_hex, 1, 16)) — engine-independent, so a
    SQL oracle can recompute the exact signature.  Oracle-scale only; the
    production path is make_simhash_udf (splitmix64, no python-loop md5)."""
    import hashlib

    shifts = np.arange(bits, dtype=np.uint64)

    @F.pandas_udf(T.LongType())
    def portable_simhash(shingles: pd.Series) -> pd.Series:
        out = np.zeros(len(shingles), dtype=np.int64)
        for i, lst in enumerate(shingles):
            if lst is None or len(lst) == 0:
                continue
            hs = np.fromiter(
                (
                    int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")
                    for s in lst
                ),
                dtype=np.uint64,
                count=len(lst),
            )
            bitmat = ((hs[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
            sums = (2 * bitmat - 1).sum(axis=0)
            packed = int(((sums > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64))
            out[i] = packed - (1 << 64) if packed >= (1 << 63) else packed
        return pd.Series(out)

    return portable_simhash


# --------------------------------------------------------------------------
# signature table
# --------------------------------------------------------------------------

def band_hashes(sig_col: Column, cfg: DedupConfig) -> Column:
    """array<long> of LSH band hashes: xxhash64(band_idx, sig[band slice])."""
    r = cfg.rows_per_band
    return F.transform(
        F.sequence(F.lit(0), F.lit(cfg.bands - 1)),
        lambda i: F.xxhash64(i, F.slice(sig_col, i * r + 1, r)),
    )


def simhash_blocks(simhash_col: Column, cfg: DedupConfig) -> Column:
    """array<long> of prefix blocks: the 64-bit simhash cut into q bit-blocks.

    Two docs within hamming distance d < q share at least one block value
    (pigeonhole) — the classic Charikar/Manku prefix blocking scheme.
    """
    q = cfg.simhash_blocks
    width = cfg.simhash_bits // q
    mask = F.lit((1 << width) - 1)
    # unrolled (q is a Python constant): shiftrightunsigned needs a literal int
    return F.array(
        *[
            F.shiftrightunsigned(simhash_col, i * width).bitwiseAND(mask)
            for i in range(q)
        ]
    )


def compute_signatures(
    pages: DataFrame, cfg: DedupConfig, keep_minhash: bool = False
) -> DataFrame:
    """pages(url, text, ...) -> (url, n_tokens, shingles, [minhash,] simhash,
    bands, blocks, mini) — shingles = the bottom-k sketch.

    One linear pass: JVM shingle build -> ONE Arrow boundary (fused
    minhash+simhash+sketch UDF, make_signature_udf) -> JVM band/block/mini
    derivation from the struct fields.  Tokens are materialized as a column
    BEFORE shingling so the transform() lambda captures a bound attribute —
    an inline tokens() expression would be re-evaluated per shingle position
    (O(n^2), CodegenFallback; measured ~30x slower at 8k docs).

    The full shingle array exists only between the shingle projection and
    the Arrow boundary; nothing downstream of the UDF references it, so no
    intermediate persist/cache is needed (earlier versions cached the
    shingle table because two separate UDFs plus a JVM-side sketch slice all
    re-read it; that columnar cache build was the signatures stage's largest
    single memory-traffic item and was never released for the session
    lifetime).

    The STORED shingle column is the bottom-k sketch (signed-ascending
    order), constant-size per doc; minhash/simhash are computed from the
    full set.  jaccard over two sketches via jaccard_sketch (features.py)
    is exact below k and the unbiased bottom-k estimator above — the full
    array would cost O(doc_len) per PAIR side in the verification join.

    keep_minhash: include the full num_perm signature column.  The engine
    reads only the derived columns (bands/blocks/mini/sketch), so by
    default the table drops ~num_perm*8 B/doc of checkpoint write +
    downstream scan.
    """
    sig_udf = make_signature_udf(cfg)
    toks_df = pages.select("url", tokens(F.col("text")).alias("toks"))
    df = toks_df.select(
        "url",
        F.size("toks").alias("n_tokens"),
        shingle_hashes_from_tokens(F.col("toks"), cfg.shingle_k).alias("shingles"),
    )
    df = df.select("url", "n_tokens", sig_udf("shingles").alias("sig"))
    return df.select(
        "url",
        "n_tokens",
        F.col("sig.sketch").alias("shingles"),
        *([F.col("sig.minhash").alias("minhash")] if keep_minhash else []),
        F.col("sig.simhash").alias("simhash"),
        band_hashes(F.col("sig.minhash"), cfg).alias("bands"),
        simhash_blocks(F.col("sig.simhash"), cfg).alias("blocks"),
        mini_sketch(F.col("sig.minhash"), cfg).alias("mini"),
    )


def mini_sketch(minhash_col: Column, cfg: DedupConfig) -> Column:
    """A byte-packed prefix of the MinHash signature: cfg.mini_perms
    permutations reduced to 8 bits each and packed 8-per-long
    (array<long>, mini_perms/8 words).  Carried on the exploded band-key
    rows so the candidate self-join can estimate Jaccard IN-JOIN and drop
    the boilerplate tail BEFORE any full signature is shuffled per pair —
    the full 126-perm signature is ~1 KB/pair, and at web scale the raw
    band-collision pair count is quasi-quadratic in the boilerplate cohort
    (measured: a 394 MB corpus produced >60 GB of prefilter-join shuffle).

    Why packed bytes instead of an int array: the per-pair junk gate then
    needs only xor + bit_count per word (features.packed_minhash_hamming)
    — whole-stage-codegen native, no per-row array allocation.  An earlier
    array<int> + zip_with/aggregate gate ran interpreted (CodegenFallback)
    in the join hot path; its object churn made the candidate stage
    memory-bound, inflating CPU-seconds 2.6x when core count rose 8->32 on
    one box (event-log measured).

    The 8-bit reduction adds a 1/256 per-position false-equality — the
    agreement estimate is biased UP by ~ (1-J)/256, so the gate only ever
    PASSES extra junk (never drops true pairs); thresholds in config.py
    account for it."""
    if cfg.mini_perms % 8 != 0:
        raise ValueError("mini_perms must be a multiple of 8 (byte packing)")
    words = []
    for w in range(cfg.mini_perms // 8):
        word = None
        for j in range(8):
            byte = F.shiftleft(F.pmod(minhash_col.getItem(8 * w + j), F.lit(256)), 8 * j)
            word = byte if word is None else word.bitwiseOR(byte)
        words.append(word)
    return F.array(*words)
