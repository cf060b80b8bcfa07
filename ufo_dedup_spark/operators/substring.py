"""Exact-substring dedup: winnowing candidates + suffix-array verification.

North-rule extension (no reference analog): find document pairs sharing a
long exact span (>= ``min_span`` chars) even when the documents are
otherwise different — catches quoted/syndicated passages that MinHash's
whole-document Jaccard misses.

Two stages, cheap -> expensive:
1. candidates: winnowed rolling-hash fingerprints (functions/hashing.py
   winnow UDF) exploded and bucket-joined. Winnowing guarantee: any shared
   span of length >= gram_chars + window - 1 yields a shared fingerprint.
2. verification: per candidate pair, the true longest common substring via a
   suffix array + Kasai LCP over a_text + SEP + b_text, inside an
   Arrow-batched pandas UDF.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType

from ufo_dedup_spark.functions.hashing import make_winnow_udf
from ufo_dedup_spark.operators.minhash_lsh import pairs_within_groups


def suffix_array(s: bytes) -> list[int]:
    """Suffix array by prefix doubling with numpy lexsort, O(n log^2 n) but
    with C-speed inner loops (the UDF hot path)."""
    import numpy as np

    n = len(s)
    if n == 0:
        return []
    rank = np.frombuffer(s, dtype=np.uint8).astype(np.int64)
    k = 1
    while True:
        rank2 = np.full(n, -1, dtype=np.int64)
        rank2[: n - k] = rank[k:]
        sa = np.lexsort((rank2, rank))
        key = np.stack((rank[sa], rank2[sa]))
        changed = np.ones(n, dtype=np.int64)
        changed[1:] = (key[:, 1:] != key[:, :-1]).any(axis=0)
        new_rank = np.empty(n, dtype=np.int64)
        new_rank[sa] = np.cumsum(changed) - 1
        rank = new_rank
        if rank[sa[-1]] == n - 1:
            return sa.tolist()
        k <<= 1


def lcp_array(s: bytes, sa: list[int]) -> list[int]:
    """Kasai LCP: lcp[i] = common prefix length of suffixes sa[i-1], sa[i]."""
    n = len(s)
    rank = [0] * n
    for i, p in enumerate(sa):
        rank[p] = i
    lcp = [0] * n
    h = 0
    for i in range(n):
        if rank[i] > 0:
            j = sa[rank[i] - 1]
            while i + h < n and j + h < n and s[i + h] == s[j + h]:
                h += 1
            lcp[rank[i]] = h
            if h:
                h -= 1
        else:
            h = 0
    return lcp


def longest_common_substring_len(a: str, b: str) -> int:
    """Exact LCS length via suffix array over a + SEP + b."""
    if not a or not b:
        return 0
    ab = a.encode("utf-8", "surrogatepass")
    bb = b.encode("utf-8", "surrogatepass")
    s = ab + b"\x00" + bb
    boundary = len(ab)
    sa = suffix_array(s)
    lcp = lcp_array(s, sa)
    best = 0
    for i in range(1, len(s)):
        p, q = sa[i - 1], sa[i]
        if (p < boundary) != (q < boundary):
            if lcp[i] > best:
                best = lcp[i]
    return best


_RH_BASE = 1099511628211  # odd -> invertible mod 2^64
_RH_BASE_INV = pow(_RH_BASE, -1, 1 << 64)


def _gram_hash_array(x, L: int):
    """Position-independent polynomial hashes of every L-gram of byte array
    ``x``, fully vectorized in wraparound uint64 arithmetic.

    Uses the invertible-base prefix trick: Q[i] = sum_{j<i} x[j]*binv^(j+1),
    gram(i) = (Q[i+L]-Q[i]) * b^(i+L)  =  sum_j x[i+j]*b^(L-1-j)  (mod 2^64).
    """
    import numpy as np

    n = x.size - L + 1
    if n <= 0:
        return None
    # binv_pows[j] = binv^(j+1); b_pows[k] = b^k  (all mod 2^64 wraparound)
    binv_pows = np.multiply.accumulate(
        np.full(x.size, _RH_BASE_INV & ((1 << 64) - 1), dtype=np.uint64)
    )
    b_pows = np.concatenate(
        (
            np.ones(1, dtype=np.uint64),
            np.multiply.accumulate(np.full(x.size, _RH_BASE, dtype=np.uint64)),
        )
    )
    q = np.zeros(x.size + 1, dtype=np.uint64)
    np.cumsum(x * binv_pows, out=q[1:])
    i = np.arange(n)
    return (q[i + L] - q[i]) * b_pows[i + L]


def fast_lcs_len(a: str, b: str) -> int:
    """Exact longest-common-substring length: binary search over span length
    with vectorized L-gram hash intersection; every hash hit is confirmed by
    a real substring comparison, so collisions cannot inflate the answer.

    O((n+m) log n) with numpy inner loops — ~20x faster than the
    suffix-array path on multi-KB pages; suffix_array/lcp_array remain the
    reference oracle (tests assert agreement).
    """
    import numpy as np

    if not a or not b:
        return 0
    ab = a.encode("utf-8", "surrogatepass")
    bb = b.encode("utf-8", "surrogatepass")
    if ab == bb:
        return len(ab)
    xa = np.frombuffer(ab, dtype=np.uint8).astype(np.uint64)
    xb = np.frombuffer(bb, dtype=np.uint8).astype(np.uint64)

    def common_len_at(L: int) -> bool:
        ha = _gram_hash_array(xa, L)
        hb = _gram_hash_array(xb, L)
        if ha is None or hb is None:
            return False
        shared = np.intersect1d(ha, hb)
        if shared.size == 0:
            return False
        # verify against collisions: compare actual bytes at hit positions
        pa = np.nonzero(np.isin(ha, shared))[0]
        pb_set = {}
        for j in np.nonzero(np.isin(hb, shared))[0]:
            pb_set.setdefault(int(hb[j]), []).append(int(j))
        for i in pa[:64]:
            for j in pb_set.get(int(ha[i]), [])[:8]:
                if ab[i : i + L] == bb[j : j + L]:
                    return True
        return False

    # byte-level LCS; utf-8 byte length == char length for ASCII corpora,
    # and the decision threshold is in bytes either way
    lo, hi = 0, min(len(ab), len(bb))
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if common_len_at(mid):
            lo = mid
        else:
            hi = mid - 1
    return lo


@pandas_udf(IntegerType())
def _lcs_len_udf_det(text_a: pd.Series, text_b: pd.Series) -> pd.Series:
    out = [
        fast_lcs_len(a or "", b or "") for a, b in zip(text_a, text_b)
    ]
    return pd.Series(out, dtype="int32")


# Marked non-deterministic (it IS deterministic — this only restricts the
# optimizer, guide §4.4): the caller filters on the UDF's output column,
# and predicate pushdown otherwise duplicates the evaluation — one
# ArrowEvalPython below the pushed filter and a second in the surviving
# projection, doubling the single most expensive per-row kernel in the
# pipeline (plan-asserted by test_lcs_udf_evaluated_once).
lcs_len_udf = _lcs_len_udf_det.asNondeterministic()


def eager_checkpoint(df: DataFrame, name: str) -> DataFrame:
    """Default stage barrier: materialize ``df`` now as in-memory RDD
    blocks (``name`` labels the stage for barriers that store by name)."""
    return df.localCheckpoint(eager=True)


def substring_candidate_pairs(
    docs: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    gram_chars: int = 64,
    window: int = 137,
    all_pairs_cap: int = 64,
    barrier: Callable[[DataFrame, str], DataFrame] = eager_checkpoint,
) -> DataFrame:
    """Distinct candidate pairs sharing >= 1 winnowed fingerprint.

    ``barrier``: materialization function (df, name) -> df for the
    corpus-sized fingerprint table; the pipeline passes its barrier
    policy's (DISK_ONLY blocks or parquet splits at scale)."""
    winnow = make_winnow_udf(gram_chars=gram_chars, window=window)
    # materialized: pairs_within_groups scans the fingerprint table twice,
    # and the winnow UDF is the expensive part
    fps = barrier(
        docs.select(
            F.col(id_col).alias("_id"),
            F.explode(winnow(F.col(text_col))).alias("fp"),
        ),
        "winnow_fps",
    )
    pairs = pairs_within_groups(fps, ["fp"], "_id", all_pairs_cap)
    return pairs.select("id_a", "id_b").distinct()


def verify_substring_pairs(
    candidates: DataFrame,
    docs: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    min_span: int = 200,
) -> DataFrame:
    """Join texts back and keep pairs whose true LCS >= min_span UTF-8
    bytes.

    Returns (id_a, id_b, lcs_len).
    """
    a = docs.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta")
    )
    b = docs.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb")
    )
    # Spread AFTER the joins, round-robin: a pre-join repartition is undone
    # by the join exchanges, whose output is keyed by id — one hot document
    # appearing in many surviving pairs lands every one of its rows in a
    # single task, serializing the CPU-heavy LCS UDF (measured as the
    # anti-scaling half of the substring phase at 32 cores). Keyless
    # repartition deals rows evenly regardless of id skew, at the cost of
    # shuffling only the surviving candidates' texts (small after
    # cluster-exclusion pruning); 2x cores keeps every core busy even when
    # per-pair LCS cost is wildly uneven.
    n_part = 2 * docs.sparkSession.sparkContext.defaultParallelism
    joined = (
        candidates.join(a, "id_a").join(b, "id_b").repartition(n_part)
    )
    scored = joined.select(
        "id_a", "id_b", lcs_len_udf(F.col("_ta"), F.col("_tb")).alias("lcs_len")
    )
    return scored.filter(F.col("lcs_len") >= min_span)
