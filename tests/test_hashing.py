"""MinHash/SimHash/winnow UDF correctness and statistical sanity."""

from __future__ import annotations

import numpy as np

from ufo_dedup_spark.functions.hashing import (
    make_minhash_udf,
    make_signature_udf,
    make_simhash_udf,
    make_winnow_udf,
    minhash_signature,
)

TEXTS = [
    "the quick brown fox jumps over the lazy dog again and again tonight",
    "the quick brown fox jumps over the lazy cat again and again tonight",
    "completely unrelated words about database engines and shuffle joins",
    "",
    None,
    "short",
]


def test_minhash_udf_matches_reference_impl(spark):
    df = spark.createDataFrame([(t,) for t in TEXTS], "text string")
    udf = make_minhash_udf(num_perm=32, shingle_k=3, seed=7)
    got = [r["sig"] for r in df.select(udf("text").alias("sig")).collect()]
    for t, sig in zip(TEXTS, got):
        expected = minhash_signature(t or "", num_perm=32, shingle_k=3, seed=7)
        if expected is None:
            assert sig is None, t  # empty docs -> NULL signature, never bucket
        else:
            assert list(sig) == list(expected), t


def test_empty_docs_never_generate_candidates(spark):
    """Empty/whitespace docs get NULL signatures and produce zero candidate
    pairs, both through LSH banding and through the pipeline's fused
    candidate families (SimHash chunk blocking included). The texts are
    distinct so the exact family cannot pair them either."""
    from ufo_dedup_spark.operators.minhash_lsh import lsh_candidate_pairs
    from ufo_dedup_spark.pipeline import PipelineConfig, candidate_pairs

    rows = [(i, "") for i in range(10)] + [(20, None), (21, "   ")]
    df = spark.createDataFrame(rows, "id long, text string")
    mh = make_minhash_udf(num_perm=16, shingle_k=2, seed=1)
    signed = df.select("id", mh("text").alias("minhash"))
    assert lsh_candidate_pairs(signed, "id", "minhash", 4, 4).count() == 0

    tokenless = ["", " ", "  ", "\t", "\n", None]
    docs = spark.createDataFrame(
        list(enumerate(tokenless)), "id long, text string"
    )
    assert candidate_pairs(docs, PipelineConfig()).count() == 0


def test_minhash_estimates_jaccard(spark):
    rng = np.random.RandomState(0)
    vocab = [f"w{i}" for i in range(500)]
    base = [vocab[i] for i in rng.choice(500, 300, replace=False)]
    variant = list(base)
    for i in rng.choice(len(variant), 30, replace=False):
        variant[i] = rng.choice(vocab)
    a, b = " ".join(base), " ".join(variant)

    sig_a = minhash_signature(a, num_perm=256, shingle_k=3, seed=42)
    sig_b = minhash_signature(b, num_perm=256, shingle_k=3, seed=42)
    est = float(np.mean(sig_a == sig_b))

    def shingles(t):
        toks = t.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sa, sb = shingles(a), shingles(b)
    true_j = len(sa & sb) / len(sa | sb)
    assert abs(est - true_j) < 0.1


def test_simhash_near_vs_far(spark):
    df = spark.createDataFrame([(t,) for t in TEXTS[:3]], "text string")
    udf = make_simhash_udf(shingle_k=2, seed=42)
    fps = [r["fp"] for r in df.select(udf("text").alias("fp")).collect()]
    ham_near = bin((fps[0] ^ fps[1]) & ((1 << 64) - 1)).count("1")
    ham_far = bin((fps[0] ^ fps[2]) & ((1 << 64) - 1)).count("1")
    assert ham_near < ham_far
    assert ham_far > 10


def test_winnow_shared_span_guarantee(spark):
    span = "x" * 0 + " ".join(f"s{i}" for i in range(40))  # ~200 chars
    a = "prefix words here " + span + " suffix a"
    b = "other starting text " + span + " different end"
    c = "nothing in common with the span at all whatsoever"
    df = spark.createDataFrame([(a,), (b,), (c,)], "text string")
    udf = make_winnow_udf(gram_chars=64, window=48)
    fps = [set(r["f"]) for r in df.select(udf("text").alias("f")).collect()]
    assert fps[0] & fps[1], "docs sharing a long span must share a fingerprint"
    assert not (fps[0] & fps[2])


def test_signature_determinism(spark):
    df = spark.createDataFrame([(TEXTS[0],)], "text string")
    udf = make_minhash_udf(num_perm=64, shingle_k=3, seed=42)
    s1 = df.select(udf("text").alias("s")).collect()[0]["s"]
    s2 = df.select(udf("text").alias("s")).collect()[0]["s"]
    assert list(s1) == list(s2)


def _signatures_fused_and_single(df, num_perm, shingle_k, simhash_k, seed):
    """[(minhash, simhash)] per row from the fused UDF and from the two
    single-signature UDFs, in one query each."""
    fused = make_signature_udf(num_perm, shingle_k, simhash_k, seed)
    mh = make_minhash_udf(num_perm, shingle_k, seed)
    sh = make_simhash_udf(simhash_k, seed)
    rows = df.select(
        fused("text").alias("f"),
        mh("text").alias("mh"),
        sh("text").alias("sh"),
    ).collect()
    return (
        [(r["f"]["minhash"], r["f"]["simhash"]) for r in rows],
        [(r["mh"], r["sh"]) for r in rows],
    )


def test_signature_udf_matches_single_udfs(spark):
    """The pipeline's fused struct<minhash, simhash> UDF returns exactly
    the bytes of make_minhash_udf and make_simhash_udf — NULL for None,
    empty and tokenless texts included — on hand-picked texts and on the
    400-doc synth corpus at the pipeline's default config."""
    from ufo_dedup_spark.pipeline import PipelineConfig, prepare_documents
    from ufo_dedup_spark.synth import SynthConfig, corpus_dataframes

    df = spark.createDataFrame([(t,) for t in TEXTS + ["  \t "]], "text string")
    fused, single = _signatures_fused_and_single(df, 32, 3, 2, 7)
    assert fused == single
    assert fused[3] == fused[4] == fused[6] == (None, None)  # "", None, blank
    assert fused[5][0] is not None and fused[5][1] is not None  # "short"

    cfg = PipelineConfig()
    pages, _, _ = corpus_dataframes(spark, SynthConfig(n_docs=400, seed=42))
    docs = prepare_documents(pages)
    fused, single = _signatures_fused_and_single(
        docs, cfg.num_perm, cfg.shingle_k, cfg.simhash_shingle_k, cfg.seed
    )
    assert len(fused) == 400
    assert fused == single
