"""Arrow-batched pandas UDFs wrapping the parity kernel.

The engine's plan shape is: JVM does blocking (equi-join on key columns,
whole-stage codegen), Python scores only the candidate pairs that survive
blocking. The UDFs below receive Arrow record batches and loop in Python —
unavoidable for difflib parity (SequenceMatcher has no vectorized equivalent)
— but the cascade inside short-circuits so the O(n*m) matcher only runs for
pairs that pass the cheap gates (reference semantics: dedup.py:85-124).

For the web-scale path, use functions/hashing.py (numpy-vectorized MinHash /
SimHash) instead; these UDFs are the exact-verification stage.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from ufo_dedup_spark import kernel


def _opt_int(v) -> int | None:
    if v is None or (isinstance(v, float) and pd.isna(v)) or pd.isna(v):
        return None
    return int(v)


def _opt_str(v) -> str | None:
    if v is None or (not isinstance(v, str) and pd.isna(v)):
        return None
    return v


@pandas_udf(DoubleType())
def similarity_udf(
    desc_a: pd.Series, desc_b: pd.Series, src_a: pd.Series, src_b: pd.Series
) -> pd.Series:
    """compute_similarity over an Arrow batch of candidate pairs."""
    sim = kernel.compute_similarity
    out = [
        sim(_opt_str(a), _opt_str(b), _opt_int(sa), _opt_int(sb))
        for a, b, sa, sb in zip(desc_a, desc_b, src_a, src_b)
    ]
    return pd.Series(out, dtype="float64")


@pandas_udf(DoubleType())
def tier3_score_udf(
    desc_a: pd.Series, desc_b: pd.Series, src_a: pd.Series, src_b: pd.Series
) -> pd.Series:
    """Tier-3 prefilter + score in one pass (reference dedup.py:564-576).

    Returns NULL when the pair fails the Jaccard>=0.25 prefilter (computed on
    text with BOTH strips applied — the reference's deliberate asymmetry vs
    tiers 1-2), else the full compute_similarity score. The caller filters
    ``score >= 0.5`` declaratively.
    """
    out: list[float | None] = []
    for a, b, sa, sb in zip(desc_a, desc_b, src_a, src_b):
        a_s, b_s = _opt_str(a), _opt_str(b)
        a_clean = kernel.strip_nuforc_prefix(
            kernel.strip_mufon_boilerplate(a_s or "")
        )
        b_clean = kernel.strip_nuforc_prefix(
            kernel.strip_mufon_boilerplate(b_s or "")
        )
        if kernel.token_jaccard(a_clean, b_clean) < kernel.TIER3_JACCARD_PREFILTER:
            out.append(None)
            continue
        out.append(
            kernel.compute_similarity(a_s, b_s, _opt_int(sa), _opt_int(sb))
        )
    return pd.Series(out, dtype="float64")
