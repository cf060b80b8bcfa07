"""Vectorized MinHash / SimHash / winnowing fingerprints as pandas UDFs.

The web-scale signature stage (north rule): per Arrow batch, numpy does all
the heavy math. Per-doc work is one tokenizer pass plus vectorized uint64
arithmetic — there are NO per-shingle / per-position Python-level hash
calls (the round-1 kernels spent most of their CPU in crc32/blake2b loops;
the polynomial-rolling + splitmix64 formulation below is 5-20x faster at
identical statistical quality). Signatures are deterministic functions of
(text, config) — fixed seeds, so resume/re-run produce identical bytes.

Hash construction:
- token hash: crc32 per token (one C call per token — unavoidable for
  variable-length strings, and tokens are ~10x fewer than characters)
- k-shingle hash: polynomial combination of k consecutive token hashes in
  uint64 (natural mod-2^64 wraparound), xor-folded to 32 bits for MinHash
  (the exact-M61 permutation trick requires x < 2^32) or splitmix64-
  finalized for SimHash bit votes
- winnow gram hash: polynomial rolling hash over bytes via prefix sums and
  modular-inverse power normalization — all cumulative numpy ops, zero
  Python per position; normalization makes the hash position-independent
  (same substring -> same hash anywhere), which the winnowing guarantee
  needs.

Banding note: LSH band hashes are derived from the signature JVM-side
(operators/minhash_lsh.py band_hashes_col), so the UDFs return signatures
only. The pipeline calls make_signature_udf, which computes MinHash and
SimHash from one tokenizer pass through the same per-doc kernels as the
two single-signature UDFs.
"""

from __future__ import annotations

from zlib import crc32

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

_MERSENNE61 = (1 << 61) - 1
_MAX_U32 = (1 << 32) - 1

# Version of the signature KERNELS (token/shingle/winnow hash construction,
# permutation scheme, finalizers). Bump on ANY change that alters signature
# bytes for the same (text, config) — it feeds the checkpoint fingerprint
# (pipeline.run_pipeline_checkpointed) so stale candidate/verification
# buckets computed under older kernels can never be resumed into a run that
# would score them with new hashes.
#   v1: round-1 crc32/blake2b per-position kernels
#   v2: round-2 vectorized poly-rolling + splitmix64 kernels (current)
SIGNATURE_VERSION = "sig-v2"

# FNV-1a 64-bit prime: odd, so invertible mod 2^64 (needed to normalize
# rolling hashes to position independence)
_B64 = np.uint64(0x100000001B3)
_B64_INV = np.uint64(pow(0x100000001B3, -1, 1 << 64))


def _splitmix64(z: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer: full-avalanche bit diffusion."""
    z = (z + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _token_hashes(text: str) -> np.ndarray:
    """uint64 crc32 per whitespace token."""
    toks = text.split()
    if not toks:
        return np.empty(0, dtype=np.uint64)
    return np.fromiter(
        (crc32(t.encode("utf-8")) for t in toks),
        dtype=np.uint64,
        count=len(toks),
    )


def _poly_combine(h: np.ndarray, k: int, seed: int = 0) -> np.ndarray:
    """Hash of every k consecutive token hashes: acc = (...((seed*B + h_0)
    *B + h_1)...) — vectorized over all positions at once."""
    n = h.size - k + 1
    acc = np.full(n, np.uint64(seed), dtype=np.uint64)
    for j in range(k):
        acc = acc * _B64 + h[j : j + n]
    return acc


def _shingle_hashes(h: np.ndarray, k: int) -> np.ndarray:
    """Distinct k-word-shingle hashes (< 2^32) of a document's token
    hashes ``h``.

    Shorter-than-k docs hash their full token sequence as one shingle
    (matching the round-1 string-join semantics).
    """
    if h.size == 0:
        return np.empty(0, dtype=np.uint64)
    kk = min(k, h.size)
    acc = _poly_combine(h, kk)
    folded = (acc >> np.uint64(32)) ^ (acc & np.uint64(_MAX_U32))
    return np.unique(folded)


def _perm_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE61, size=num_perm, dtype=np.uint64)
    b = rng.randint(0, _MERSENNE61, size=num_perm, dtype=np.uint64)
    return a, b


def _minhash_kernel(num_perm: int, shingle_k: int, seed: int):
    """Per-doc MinHash: token hashes -> int64 signature, or None for a
    tokenless doc. sig[j] = min over shingles x of ((a_j * x + b_j) mod
    M61)."""
    a, b = _perm_params(num_perm, seed)
    m61 = np.uint64(_MERSENNE61)
    a_lo = (a & np.uint64(0xFFFFFFFF))[:, None]
    a_hi = (a >> np.uint64(32))[:, None]
    bb = b[:, None]
    # shingle-axis chunk size: the inner matrices are num_perm x chunk
    # uint64 (~10 temporaries) — at 256 that is ~256KB each, resident in a
    # core's private L2. Unchunked, a 1000-shingle doc materializes ~10 x
    # 1MB temporaries per doc; with one pandas-UDF worker per core those
    # DRAM round-trips saturate the shared memory bus and cap the
    # signature phase's core-scaling well below the machine ceiling. The
    # min over chunks equals the global min — output is bit-identical.
    chunk = max(1, (1 << 15) // num_perm)

    def signature(h: np.ndarray) -> np.ndarray | None:
        x = _shingle_hashes(h, shingle_k)
        if x.size == 0:
            return None
        best = None
        for s in range(0, x.size, chunk):
            xc = x[None, s : s + chunk]
            # Exact (a*x + b) mod M61 in uint64 without overflow:
            # split a = a_hi*2^32 + a_lo (x < 2^32 by construction,
            # a < 2^61). a_lo*x < 2^64 fits; a_hi*x < 2^61 fits; since
            # 2^61 = 1 (mod M61),
            # t*2^32 mod M61 = ((t<<32) & M61) + (t >> 29).
            lo = a_lo * xc
            lo = (lo & m61) + (lo >> np.uint64(61))  # < 2^61 + 8
            hi = a_hi * xc
            hi = ((hi << np.uint64(32)) & m61) + (hi >> np.uint64(29))
            v = lo + hi + bb  # < 3*2^61 + 2^33, fits uint64
            v = (v & m61) + (v >> np.uint64(61))
            v = np.where(v >= m61, v - m61, v)
            v = np.where(v >= m61, v - m61, v)
            mn = v.min(axis=1)
            best = mn if best is None else np.minimum(best, mn)
        return best.astype(np.int64)

    return signature


def _simhash_kernel(shingle_k: int, seed: int):
    """Per-doc SimHash: token hashes -> signed 64-bit fingerprint, or None
    for a tokenless doc. Splitmix64-finalized polynomial k-shingle hashes
    (seeded), bit-vote, sign-pack."""
    seed_u64 = seed & ((1 << 64) - 1)
    bitpos = np.arange(64, dtype=np.uint64)

    def fingerprint(h: np.ndarray) -> int | None:
        if h.size == 0:
            return None
        kk = min(shingle_k, h.size)
        hs = np.unique(_splitmix64(_poly_combine(h, kk, seed=seed_u64)))
        # chunked bit-vote: keeps the n x 64 unpack matrix L2-resident
        # (same cache-bandwidth rationale as the MinHash chunking);
        # summing per chunk is exact
        bits = np.zeros(64, dtype=np.uint64)
        for s in range(0, hs.size, 512):
            hc = hs[s : s + 512, None]
            bits += ((hc >> bitpos[None, :]) & np.uint64(1)).sum(axis=0)
        fp = np.uint64(0)
        majority = hs.size / 2.0
        for bit in np.nonzero(bits > majority)[0]:
            fp |= np.uint64(1) << np.uint64(bit)
        return int(fp.astype(np.int64))

    return fingerprint


def make_minhash_udf(num_perm: int = 128, shingle_k: int = 5, seed: int = 42):
    """Returns a pandas UDF text -> array<long> MinHash signature.

    sig[j] = min over shingles x of ((a_j * x + b_j) mod M61); empty/None
    docs get a NULL signature. NULL (not a shared sentinel) matters: any
    constant sentinel makes all empty docs band-identical, so they co-bucket
    in every LSH band and generate O(n_empty^2) candidate pairs that
    verification then has to discard. Banding filters NULL signatures out
    (operators/minhash_lsh.py), so empty docs never enter a bucket.
    """
    signature = _minhash_kernel(num_perm, shingle_k, seed)

    @pandas_udf(ArrayType(LongType()))
    def minhash_udf(texts: pd.Series) -> pd.Series:
        return pd.Series([signature(_token_hashes(t or "")) for t in texts])

    return minhash_udf


def make_simhash_udf(shingle_k: int = 2, seed: int = 42):
    """Returns a pandas UDF text -> long 64-bit SimHash fingerprint.

    Empty/None docs get NULL (same rationale as MinHash: a constant
    fingerprint would co-bucket every empty doc in every chunk block).
    """
    fingerprint = _simhash_kernel(shingle_k, seed)

    @pandas_udf(LongType())
    def simhash_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [fingerprint(_token_hashes(t or "")) for t in texts],
            dtype="object",
        )

    return simhash_udf


def make_signature_udf(num_perm: int, shingle_k: int,
                       simhash_shingle_k: int, seed: int):
    """Returns a pandas UDF text -> struct<minhash array<long>, simhash
    long>: make_minhash_udf(num_perm, shingle_k, seed) and
    make_simhash_udf(simhash_shingle_k, seed) in one Python worker pass,
    tokenizing each doc once. Both fields are bit-identical to the
    single-signature UDFs' outputs (NULL for tokenless docs)."""
    signature = _minhash_kernel(num_perm, shingle_k, seed)
    fingerprint = _simhash_kernel(simhash_shingle_k, seed)

    @pandas_udf(StructType([
        StructField("minhash", ArrayType(LongType())),
        StructField("simhash", LongType()),
    ]))
    def signature_udf(texts: pd.Series) -> pd.DataFrame:
        mh, sh = [], []
        for t in texts:
            h = _token_hashes(t or "")
            mh.append(signature(h))
            sh.append(fingerprint(h))
        return pd.DataFrame({
            "minhash": pd.Series(mh, dtype="object"),
            "simhash": pd.Series(sh, dtype="object"),
        })

    return signature_udf


def _rolling_gram_hashes(data: np.ndarray, gram: int) -> np.ndarray:
    """Position-independent polynomial hash of every ``gram``-byte window.

    H[i] = sum_j data[i+j] * B^j  (mod 2^64), computed for ALL i at once:
    prefix sums of data[i] * B^i, window-differenced, then normalized by
    B^-i. Identical bytes at any offset produce identical hashes — the
    winnowing requirement — with zero per-position Python work.
    """
    n = data.size
    pows = np.empty(n, dtype=np.uint64)
    pows[0] = 1
    if n > 1:
        np.multiply.accumulate(
            np.full(n - 1, _B64, dtype=np.uint64), out=pows[1:]
        )
    inv_pows = np.empty(n - gram + 1, dtype=np.uint64)
    inv_pows[0] = 1
    if inv_pows.size > 1:
        np.multiply.accumulate(
            np.full(inv_pows.size - 1, _B64_INV, dtype=np.uint64),
            out=inv_pows[1:],
        )
    weighted = data * pows
    prefix = np.concatenate(
        [np.zeros(1, dtype=np.uint64), np.cumsum(weighted, dtype=np.uint64)]
    )
    diffs = prefix[gram:] - prefix[: n - gram + 1]
    return _splitmix64(diffs * inv_pows)


def _sliding_min(hs: np.ndarray, window: int) -> np.ndarray:
    """O(n) sliding-window minimum via the block prefix/suffix-min trick.

    Each window [i, i+w-1] spans at most two w-sized blocks, so its min is
    min(suffix_min_within_block[i], prefix_min_within_block[i+w-1]) — two
    accumulate passes + one elementwise min, all sequential memory access.
    Replaces sliding_window_view(...).min(axis=1), which materializes
    O(n*w) strided reads (48x redundant memory traffic at the default
    window): with one pandas-UDF worker per core, that redundancy saturated
    the memory bus and made the winnow phase anti-scale at high core
    counts.
    """
    n = hs.size
    m = n - window + 1
    pad = (-n) % window
    if pad:
        hs = np.concatenate(
            [hs, np.full(pad, np.iinfo(hs.dtype).max, dtype=hs.dtype)]
        )
    blocks = hs.reshape(-1, window)
    suf = np.minimum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
    pre = np.minimum.accumulate(blocks, axis=1).ravel()
    return np.minimum(suf[:m], pre[window - 1 : window - 1 + m])


def make_winnow_udf(gram_chars: int = 64, window: int = 137):
    """Returns a pandas UDF text -> array<long> winnowed rolling-hash
    fingerprints (the exact-substring candidate generator).

    Polynomial rolling hash over ``gram_chars``-byte grams sampled by
    winnowing: the minimum hash in every ``window`` of consecutive gram
    positions. Two docs sharing a substring of length >= gram_chars +
    window - 1 are guaranteed to share at least one fingerprint (standard
    winnowing guarantee — position-independent gram hashes make it hold at
    any offset).
    """

    @pandas_udf(ArrayType(LongType()))
    def winnow_udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if not t or len(t) < gram_chars:
                out.append([])
                continue
            data = np.frombuffer(
                t.encode("utf-8", "surrogatepass"), dtype=np.uint8
            ).astype(np.uint64)
            hs = _rolling_gram_hashes(data, gram_chars).view(np.int64)
            if hs.size <= window:
                out.append(np.unique(hs.min(keepdims=True)))
                continue
            out.append(np.unique(_sliding_min(hs, window)))
        return pd.Series(out)

    return winnow_udf


def minhash_signature(text: str, num_perm: int = 128, shingle_k: int = 5,
                      seed: int = 42) -> np.ndarray | None:
    """Single-doc reference implementation (tests): exact same math as the
    UDF, via python ints (no overflow concerns). None for empty docs,
    mirroring the UDF's NULL-signature contract."""
    a, b = _perm_params(num_perm, seed)
    x = _shingle_hashes(_token_hashes(text), shingle_k)
    if x.size == 0:
        return None
    sig = np.empty(num_perm, dtype=np.int64)
    for j in range(num_perm):
        vals = (int(a[j]) * x.astype(object) + int(b[j])) % _MERSENNE61
        sig[j] = int(min(vals))
    return sig
