"""End-to-end web-page near-duplicate detection & clustering pipeline.

Stages (north rule), each a declarative DataFrame job:

  pages (url, warc_ts, html, text, lang)
    -> extract      html -> text via pinned Arrow UDF (byte-identical per url)
    -> candidates   one keyed table: per doc, one pandas UDF pass yields
                    MinHash + SimHash, and one generator emits its exact,
                    LSH-band (hashed JVM-side), SimHash-chunk and prefix
                    bucket keys; plus winnowed-substring buckets — all with
                    bounded fan-out
    -> verify       exact token Jaccard (JVM) + prefix shortcut; suffix-array
                    LCS for substring pairs
    -> pairs        (id_a, id_b, score, method) canonical, first-method-wins
    -> clusters     distributed union-find (large-star/small-star) over edges
                    with score >= cluster_threshold

Skew handling: every bucket-family generator bounds its fan-out via
pairs_within_groups (all-pairs below cap, sorted chain above — cluster
recall preserved through transitive closure).

The stage graph is declared once, in _run_stages (the keyed table, tokens
and winnow run as concurrent branches; a cheap CC over the verified pairs
prunes substring candidates), and a barrier policy decides how each named
stage materializes:

  blocks      eager localCheckpoint; DISK_ONLY at >= DISK_BARRIER_ROWS docs
  parquet     parquet splits read back (doc_tokens bucketed by id), for
              executors in separate JVMs
  checkpoint  durable CheckpointManager stages with lineage manifests;
              verify commits per score bucket, so a killed run resumes

run_pipeline picks blocks or parquet from the master and the corpus size;
run_pipeline_checkpointed uses checkpoint.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ufo_dedup_spark.checkpoint import CheckpointManager, config_fingerprint
from ufo_dedup_spark.functions.extract import EXTRACTOR_VERSION, extract_text_udf
from ufo_dedup_spark.functions.hashing import (
    SIGNATURE_VERSION,
    make_signature_udf,
)
from ufo_dedup_spark.ledger import stage_tag, with_caller_properties
from ufo_dedup_spark.operators.connected_components import connected_components
from ufo_dedup_spark.operators.minhash_lsh import (
    band_hash,
    pairs_within_groups,
)
from ufo_dedup_spark.operators.pairs import first_wins_by_priority
from ufo_dedup_spark.operators.substring import (
    eager_checkpoint,
    substring_candidate_pairs,
    verify_substring_pairs,
)

# The prefix band's minimum doc length AND its bucket-key length — a single
# constant because the two must be equal: the verification rule fires for any
# >=PREFIX_MIN_CHARS-char doc that is a prefix of a longer one, so a bucket
# key longer than the minimum would hash a minimum-to-(key-1)-char doc
# against a different (shorter) string than its superstring's first-K chars
# and the true pair would never co-bucket.
PREFIX_MIN_CHARS = 20

# Bumped whenever stage SEMANTICS or an inter-stage schema changes without
# any PipelineConfig field changing (mirrors SIGNATURE_VERSION for the hash
# kernels). Part of the checkpoint config fingerprint: a workdir written by
# a different logic version must not resume — e.g. the round-5 change that
# derives starts-with eligibility from prepare_tokens._pk (candidates no
# longer carry _pfx; doc_tokens gained a column) would otherwise silently
# mix old-rule and new-rule verified buckets in one output.
#   2: _pk-based starts-with eligibility; candidates schema lost _pfx,
#      doc_tokens schema gained _pk (round 5)
#   3: starts-with pairs score EXACTLY 0.95 (reference dedup.py:108-117
#      early-returns 0.95 before Jaccard; previously greatest(jaccard,
#      0.95)) and the starts-with check is fused into the main verify
#      join — pair membership identical, scores above 0.95 change
#      (round 6)
PIPELINE_LOGIC_VERSION = 3

# Corpus size (docs) at and above which the blocks policy stores its
# corpus-sized barriers (docs / keyed table / tokens / winnow fingerprints)
# as serialized DISK_ONLY blocks instead of Spark's default deserialized
# in-memory storage, and the branch pool narrows from 3 to 2. Rationale:
# deserialized JVM residency of the barriers is ~5x their serialized size
# (6.5x for the keyed table at 200k docs: 1.04 GB in memory, 160 MB as
# DISK_ONLY blocks), and above ~1.5M docs the barriers evict/thrash one
# another in a single local heap (docs_extract measured 3.7 -> 47.7 s going
# 1M -> 2M). A real cluster spreads them over executors — and parquet /
# checkpoint barriers never had the problem — so this only changes
# single-process behavior at scale. Small runs keep the faster in-memory
# barriers.
DISK_BARRIER_ROWS = 1_500_000


@dataclass
class PipelineConfig:
    """Frozen shingle/signature config — the dedup contract.

    Defaults are tuned so token-edit near-dups up to ~8% edits (shingle
    Jaccard >= ~0.5 at shingle_k=3) are caught with p >= 0.996 per pair:
    42 bands x 3 rows gives hit probability 1-(1-s^3)^42 = 0.996 at s=0.5.
    False candidates from the flatter s-curve are discarded by the exact
    verification threshold, so banding generosity costs shuffle volume, not
    precision.
    """

    num_perm: int = 128
    shingle_k: int = 3
    bands: int = 42
    rows_per_band: int = 3
    seed: int = 42

    simhash_shingle_k: int = 2
    simhash_chunks: int = 4
    simhash_max_hamming: int = 3

    all_pairs_cap: int = 64
    # each doc keeps at most this many candidate partners (smallest ids
    # win, deterministic): bounds total verification work at K*n even when
    # a boilerplate cluster surfaces O(bands * cluster_size) candidates.
    # Connectivity survives: every doc keeps its lowest-id partners, so
    # edges always lead toward cluster minima.
    max_candidates_per_doc: int = 8

    verify_threshold: float = 0.7
    cluster_threshold: float = 0.7

    substring_enabled: bool = True
    substring_gram: int = 64
    # winnowing guarantee: two docs sharing a span >= gram + window - 1
    # bytes share >= 1 fingerprint. The window is sized so that boundary
    # EQUALS min_span (64 + 137 - 1 = 200): any wider misses true spans;
    # any narrower (the old 48 guaranteed 111) fingerprints ~2.8x denser
    # only to surface sub-threshold candidates that LCS verification then
    # discards — pure shuffle/agg cost. __post_init__ enforces the bound.
    substring_window: int = 137
    substring_min_span: int = 200

    # Driver-round cap for the CHEAP pre-substring clustering only. That
    # CC exists solely to prune already-connected substring candidates
    # before the expensive LCS stage, and a capped (partially converged)
    # run yields a FINER partition whose labels are still sound — equal
    # labels imply genuinely connected — so capping can only prune less,
    # never wrongly (see connected_components docstring). The FINAL
    # clustering always runs to convergence. Star-shaped candidate
    # families (pairs_within_groups emits stars over minima) converge in
    # ~3 rounds; the cap only bites pathological long-diameter tails.
    cheap_cc_max_iter: int = 8

    def __post_init__(self):
        if self.bands * self.rows_per_band > self.num_perm:
            raise ValueError(
                f"bands * rows_per_band ({self.bands} * "
                f"{self.rows_per_band} = {self.bands * self.rows_per_band}) "
                f"must not exceed num_perm ({self.num_perm}): each band "
                f"hashes its own rows_per_band signature entries"
            )
        if (
            self.substring_gram + self.substring_window - 1
            > self.substring_min_span
        ):
            raise ValueError(
                f"substring_gram + substring_window - 1 "
                f"({self.substring_gram + self.substring_window - 1}) must "
                f"not exceed substring_min_span ({self.substring_min_span}): "
                f"the winnowing guarantee only covers shared spans >= "
                f"gram + window - 1, so a wider window can miss true "
                f">= min_span spans"
            )


METHOD_PRIORITY = {"exact": 1, "minhash_lsh": 2, "simhash": 3, "prefix": 4,
                   "substring": 5}


def prepare_documents(pages: DataFrame, use_extractor: bool = True) -> DataFrame:
    """pages -> docs(id, url, text, lang). id = xxhash64(url): deterministic
    across runs/resumes (never monotonically_increasing_id)."""
    text = extract_text_udf(F.col("html")) if use_extractor else F.col("text")
    return pages.select(
        F.xxhash64("url").alias("id"),
        "url",
        text.alias("text"),
        "lang",
    )


def candidate_pairs(
    docs: DataFrame,
    cfg: PipelineConfig,
    barrier: Callable[[DataFrame, str], DataFrame] = eager_checkpoint,
) -> DataFrame:
    """Union of all candidate generators with method labels (priority order
    resolves multi-method hits downstream).

    ``barrier``: materialization function (df, name) -> df for the keyed
    table (every bucket-key row of every family, ~48 per doc); the stage
    list passes its barrier policy's."""
    signature = make_signature_udf(
        cfg.num_perm, cfg.shingle_k, cfg.simhash_shingle_k, cfg.seed
    )
    signed = docs.select(
        "id", "text", signature(F.col("text")).alias("_sig")
    )
    mh, sh = F.col("_sig.minhash"), F.col("_sig.simhash")

    # FUSED bucket families (guide §2.4 "remove shuffles outright"): all
    # four candidate generators are "pairs within groups" over DISJOINT
    # key spaces, so instead of four pairs_within_groups calls — each
    # paying its own count-agg exchange and collect-agg exchange (8
    # exchanges) — every doc's keyed rows are emitted under a family tag
    # and ONE call does the bucket-size pre-agg, member semi-join and
    # member collection for every family at once (2 exchanges). Family tag
    # = METHOD_PRIORITY value, so the tag IS the method priority and the
    # per-pair method resolution below is a plain min(int) — hash-
    # aggregable with map-side partial aggregation (min_by over the method
    # STRING forced a SortAggregate, fully sorting the candidate union
    # twice). Per-family semantics: group keys are disjoint (the tag is
    # part of the key), the per-group star cap applies per group, and the
    # SimHash Hamming verify runs on the family's pairs via the carried
    # fingerprint (NULL for other families).
    def key(method: str, k1, k2, fp=F.lit(None).cast("long")):
        return F.struct(
            F.lit(METHOD_PRIORITY[method]).alias("_fam"),
            k1.alias("_k1"), k2.alias("_k2"), fp.alias("_fp"),
        )

    def keys_if(cond, keys: list):
        # NULL signatures (tokenless docs) and short docs emit no rows of
        # the family: guarded inline rather than by a Filter, which
        # Catalyst would push below the projection and so evaluate the
        # signature UDF a second time
        return F.when(cond, F.array(*keys)).otherwise(F.array())

    chunk_bits = 64 // cfg.simhash_chunks
    chunk_mask = (1 << chunk_bits) - 1
    rows = F.concat(
        F.array(key("exact", F.lit(0), F.xxhash64("text"))),
        keys_if(mh.isNotNull(), [
            key("minhash_lsh", F.lit(i), band_hash(mh, i, cfg.rows_per_band))
            for i in range(cfg.bands)
        ]),
        keys_if(sh.isNotNull(), [
            key("simhash", F.lit(i),
                F.shiftrightunsigned(sh, i * chunk_bits)
                .bitwiseAND(F.lit(chunk_mask)), sh)
            for i in range(cfg.simhash_chunks)
        ]),
        keys_if(F.length(F.trim("text")) >= PREFIX_MIN_CHARS, [
            key("prefix", F.lit(0), F.xxhash64(F.substring(
                F.lower(F.trim("text")), 1, PREFIX_MIN_CHARS))),
        ]),
    )
    # ONE barrier for the keyed table: pairs_within_groups reads it three
    # times (bucket sizes, small-bucket semi-join, big-bucket star join),
    # and each read would otherwise re-derive all ~48 rows per doc
    keyed = barrier(
        signed.select(F.col("id").alias("_id"), F.inline(rows)), "keyed"
    )
    fused = pairs_within_groups(
        keyed,
        ["_fam", "_k1", "_k2"],
        "_id",
        cfg.all_pairs_cap,
        extra_cols=["_fp"],
        keep_group_cols=True,
    )
    out = fused.filter(
        (F.col("_fam") != F.lit(METHOD_PRIORITY["simhash"]))
        | (
            F.bit_count(F.col("_fp_a").bitwiseXOR(F.col("_fp_b")))
            <= cfg.simhash_max_hamming
        )
    ).select("id_a", "id_b", F.col("_fam").alias("_p"))

    # resolve multi-method duplicates (best priority wins), then cap the
    # per-doc candidate fan-in.
    # No prefix flag is threaded through: starts-with eligibility is
    # re-derived in verify_candidate_pairs from the per-doc prefix key
    # (prepare_tokens._pk), so EVERY candidate pair whose texts share a
    # 20-char prefix gets the 0.95 rule — matching the reference, which
    # applies the shortcut inside compute_similarity for every pair in
    # every tier (reference dedup.py:110-116), not only pairs the prefix
    # band happened to surface.
    decode = F.when(F.lit(False), F.lit(""))
    for m, p in METHOD_PRIORITY.items():
        decode = decode.when(F.col("_p") == p, F.lit(m))
    out = (
        out.groupBy("id_a", "id_b")
        .agg(F.min("_p").alias("_p"))
        .select("id_a", "id_b", decode.alias("method"))
    )
    # Per-doc fan-in cap, applied on BOTH sides of the pair: an edge survives
    # if it is within either endpoint's K nearest (smallest-id) partners.
    # A one-sided cap (keep K smallest id_a per id_b) can disconnect a doc
    # entirely — a doc that is the smaller id in all of its candidate pairs
    # has every edge pruned by partners that each already hold K smaller-id
    # candidates. The union keep guarantees every doc with >=1 candidate
    # retains >=1 edge, so cluster connectivity survives the cap.
    w_b = Window.partitionBy("id_b").orderBy(F.col("id_a").asc())
    w_a = Window.partitionBy("id_a").orderBy(F.col("id_b").asc())
    return (
        out.withColumn("_rb", F.row_number().over(w_b))
        .withColumn("_ra", F.row_number().over(w_a))
        .filter(
            (F.col("_rb") <= cfg.max_candidates_per_doc)
            | (F.col("_ra") <= cfg.max_candidates_per_doc)
        )
        .drop("_rb", "_ra")
    )


def prepare_tokens(docs: DataFrame) -> DataFrame:
    """Per-doc verification inputs: distinct xxhash64 token set, its count,
    and the 20-char prefix key ``_pk`` (NULL for docs shorter than the
    prefix band's minimum). Computed once per corpus, reused by every
    verification bucket.

    Deliberately does NOT carry the lowered text: the verify join ships
    this table's payload through two exchanges per candidate pair, and the
    only consumer of full text — the starts-with rule — needs it ONLY for
    docs in a multi-member prefix family, which verify_candidate_pairs
    left-joins onto the PAIR rows from the (tiny) family table after the
    token joins."""
    # no array_sort: array_intersect is hash-set based, so ordering buys
    # nothing downstream and the per-doc O(n log n) comparator pass was
    # ~1/3 of this stage's JVM time; array_distinct alone is O(n)
    lt = F.lower(F.trim(F.col("text")))
    return docs.select(
        "id",
        F.array_distinct(
            F.transform(
                F.array_remove(F.split(lt, "\\s+"), ""),
                lambda t: F.xxhash64(t),
            )
        ).alias("_tok"),
        # prefix key: 8 bytes per doc riding the existing exchanges. NULL
        # (not a sentinel) below the length gate so NULL-safe-equality is
        # never needed — a NULL key can't equal anything.
        F.when(
            F.length(lt) >= PREFIX_MIN_CHARS,
            F.xxhash64(F.substring(lt, 1, PREFIX_MIN_CHARS)),
        ).alias("_pk"),
    ).withColumn("_n", F.size("_tok"))


def verify_candidate_pairs(
    cands: DataFrame,
    docs: DataFrame,
    cfg: PipelineConfig,
    prepped: DataFrame | None = None,
    filtered: bool = True,
) -> DataFrame:
    """Exact verification: token Jaccard for every candidate, plus the
    reference's >=20-char starts-with rule — applied to EVERY candidate
    pair whose texts share a 20-char prefix, whichever band surfaced the
    pair. A starts-with hit scores EXACTLY 0.95: reference dedup.py:108-117
    early-returns 0.95 before computing Jaccard, so even byte-identical
    >=20-char texts score 0.95, not 1.0 (pair membership is unaffected —
    0.95 clears every threshold a higher Jaccard would). Returns canonical
    scored pairs.

    Cost discipline, per-pair: tokenization happens ONCE PER DOC, not once
    per pair — each doc is pre-reduced to an array of xxhash64 token
    hashes plus its distinct-token count, so the per-pair work is a single
    long-array intersect and arithmetic (measured ~10x cheaper than
    per-pair string tokenization at 70k candidates). 64-bit token-hash
    collisions perturb Jaccard by < 1e-4 — far below the threshold.

    Cost discipline, per-byte: the starts-with family — docs whose 20-char
    prefix key is shared by >= 2 docs — is computed from an 8-byte groupBy
    over the token table and left-semi-prunes the text table down to
    family members; ONLY their lowered text exists downstream (the
    LeftSemi bound holds with AQE off — it does not rely on the optimizer
    broadcasting anything). The family texts are left-joined onto the PAIR
    rows after the token joins, so the token-payload exchanges never carry
    text and the family subtree is planned once per pair side rather than
    once per (larger) doc side. Eligibility per pair is a prefix-key
    equi-check evaluated INLINE (prefix-of implies equal first-20-chars,
    so _pk equality is a necessary condition, and both endpoints of an
    eligible pair are family members by construction — their texts are
    present on the joined row). Versus the round-5 shape this also deletes
    two extra exchanges of the candidate table (the separate eligibility
    joins), the distinct over family ids, and a full pair-keyed exchange
    of the scored table (the pfx join-back).
    """
    if prepped is None:
        prepped = prepare_tokens(docs).localCheckpoint(eager=True)

    # starts-with family: prefix keys shared by >= 2 docs (8-byte groupBy,
    # map-side combinable), then the family members' lowered texts. Tiny
    # for web corpora, so the left joins below broadcast under AQE; with
    # AQE off the exchange is still family-bounded.
    fam_keys = (
        prepped.filter(F.col("_pk").isNotNull())
        .groupBy("_pk")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("_pk")
    )
    fam_ids = (
        prepped.select("id", "_pk").join(fam_keys, "_pk", "left_semi")
        .select("id")
    )
    fam_text = docs.join(fam_ids, "id", "left_semi").select(
        "id", F.lower(F.trim(F.col("text"))).alias("_t")
    )
    # per-doc verification sides: token set + count + prefix key. The
    # family TEXT is deliberately NOT joined onto the sides: the sides
    # cross the pair-join exchanges once per doc with the token payload,
    # and attaching _t here would (a) ship family text through those
    # exchanges and (b) build the whole fam_keys/fam_ids/fam_text subtree
    # once under EACH side (the planner does not dedupe it). Instead the
    # tiny fam_text table is left-joined onto the PAIR rows after the
    # token joins — same rows and scores (the old per-side left join
    # produced exactly fam_text._t for members, NULL otherwise), the text
    # bound stays family-sized, and the subtree is planned once per pair
    # side instead of once per doc side.
    a = prepped.select(
        F.col("id").alias("id_a"),
        F.col("_tok").alias("_tok_a"), F.col("_n").alias("_na"),
        F.col("_pk").alias("_pka"),
    )
    b = prepped.select(
        F.col("id").alias("id_b"),
        F.col("_tok").alias("_tok_b"), F.col("_n").alias("_nb"),
        F.col("_pk").alias("_pkb"),
    )
    fam_a = fam_text.select(
        F.col("id").alias("id_a"), F.col("_t").alias("_ta")
    )
    fam_b = fam_text.select(
        F.col("id").alias("id_b"), F.col("_t").alias("_tb")
    )
    inter = F.size(F.array_intersect(F.col("_tok_a"), F.col("_tok_b")))
    union = F.col("_na") + F.col("_nb") - inter
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
        F.lit(0.0)
    )
    # Jaccard is computed AT the token join and the token arrays are
    # dropped in the same projection, BEFORE the family-text joins: when
    # the family is too large to broadcast (a giant boilerplate host),
    # those joins exchange the pair table — narrowing it first means the
    # exchanges carry ~40-byte pair rows instead of both token arrays
    # (which at 8M docs / 11M pairs is tens of GB of array payload through
    # two extra exchanges, enough to OOM a single-box heap).
    jscored = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b", "method",
            jac.alias("_jac"), "_pka", "_pkb",
        )
    )
    j = jscored.join(fam_a, "id_a", "left").join(fam_b, "id_b", "left")

    # eligible (non-NULL equal prefix keys) implies both texts are >=20
    # chars AND family members, so _ta/_tb are non-NULL where it matters
    elig = F.col("_pka").isNotNull() & (F.col("_pka") == F.col("_pkb"))
    is_prefix = elig & (
        F.col("_ta").startswith(F.col("_tb"))
        | F.col("_tb").startswith(F.col("_ta"))
    )
    score = F.when(is_prefix, F.lit(0.95)).otherwise(F.col("_jac"))

    scored = j.select(
        "id_a", "id_b", score.alias("score"), "method",
        F.lit("pending").alias("status"),
    )
    if not filtered:
        # ``filtered=False`` exists because filtering on the just-computed
        # score column makes Catalyst push the predicate BELOW the scoring
        # projection, substituting the full score expression into the
        # filter — the array_intersect and the starts-with comparison then
        # run TWICE per surviving row (measured ~2x the scoring cost at
        # 20k docs; almost every candidate survives, so the filter saves
        # nothing). Callers that materialize the scored table anyway
        # (the stage list's verify stage) apply the threshold on the
        # MATERIALIZED column instead — identical rows downstream, score
        # computed once.
        return scored
    return scored.filter(F.col("score") >= cfg.verify_threshold)


def substring_pairs(
    docs: DataFrame,
    cfg: PipelineConfig,
    exclude: DataFrame,
    exclude_clusters: DataFrame,
    cands: DataFrame,
) -> DataFrame:
    """Winnow candidates -> exact-LCS verification -> scored pairs.

    ``exclude``: pairs already verified by cheaper methods (near-dups share
    winnow fingerprints trivially) and ``exclude_clusters``: (id, cluster_id)
    from clustering those cheap pairs — both pruned away BEFORE the
    expensive LCS UDF so it only sees genuinely new cross-cluster pairs.
    ``cands``: precomputed winnow candidates (the stage list computes them
    concurrently with the keyed-table and token branches).
    """
    cands = cands.join(
        exclude.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
    )
    # drop candidates already connected by cheaper methods: a giant
    # boilerplate cluster shares winnow fingerprints massively, and
    # running exact-substring verification inside an already-formed
    # cluster buys nothing
    ca = exclude_clusters.select(
        F.col("id").alias("id_a"), F.col("cluster_id").alias("_ca")
    )
    cb = exclude_clusters.select(
        F.col("id").alias("id_b"), F.col("cluster_id").alias("_cb")
    )
    cands = (
        cands.join(ca, "id_a", "left")
        .join(cb, "id_b", "left")
        .filter(
            F.col("_ca").isNull()
            | F.col("_cb").isNull()
            | (F.col("_ca") != F.col("_cb"))
        )
        .select("id_a", "id_b")
    )
    verified = verify_substring_pairs(
        cands, docs, "id", "text", cfg.substring_min_span
    )
    # score: span length normalized by the shorter doc
    a = docs.select(F.col("id").alias("id_a"), F.length("text").alias("_la"))
    b = docs.select(F.col("id").alias("id_b"), F.length("text").alias("_lb"))
    return (
        verified.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("lcs_len").cast("double") / F.least("_la", "_lb"), 6
            ).alias("score"),
            F.lit("substring").alias("method"),
            F.lit("pending").alias("status"),
        )
    )


class _Blocks:
    """Barrier policy: eager localCheckpoints (RDD blocks). Corpus-sized
    barriers go DISK_ONLY once the corpus reaches DISK_BARRIER_ROWS docs.

    ``barrier(df, name)`` materializes a corpus-sized intermediate (also
    handed to candidate_pairs / substring_candidate_pairs for their keyed
    and fingerprint tables); ``stage(name, build)`` returns a
    named stage of the graph, materialized or left lazy; ``verified``
    materializes the scored candidates.
    """

    def __init__(self, large: bool | None = None):
        # corpus >= DISK_BARRIER_ROWS; None = not known yet, decided from
        # the docs barrier's count (the docs barrier itself stays in memory)
        self.large = large

    def barrier(self, df: DataFrame, name: str) -> DataFrame:
        return df.localCheckpoint(
            eager=True,
            storageLevel=StorageLevel.DISK_ONLY if self.large else None,
        )

    def stage(self, name: str, build: Callable[[], DataFrame]) -> DataFrame:
        df = build()
        if name in ("docs", "doc_tokens"):
            return self.barrier(df, name)
        if name == "cheap_clusters":
            return df.localCheckpoint(eager=True)
        if name == "pairs":
            # lazy: the final CC's first job materializes it, and both the
            # CC and the caller read it
            return df.persist()
        # the candidate pairs themselves stay lazy, generated from the
        # keyed barrier inside verification's jobs. The winnow candidates
        # (whose fingerprints are a barrier), substring pairs and clusters
        # land in their consumer's job.
        return df

    def verified(self, cands: DataFrame, score: Callable) -> DataFrame:
        return score(cands).localCheckpoint(eager=True)


class _Parquet(_Blocks):
    """Barrier policy for executors in separate JVMs: corpus-sized
    barriers are written as parquet splits to a temp dir and read back.

    The write is the eager materialization (same role as
    ``localCheckpoint(eager=True)``) and the read-back is an ordinary
    parquet scan, so every consumer — including executors in OTHER JVMs —
    reads its own splits with OS page-cache help instead of fetching RDD
    blocks from the one executor that computed them. The temp dir is
    created on first use and removed at interpreter exit (the returned
    DataFrames reference the files for the session's lifetime, so earlier
    cleanup would invalidate them).

    ``doc_tokens`` is written as a BUCKETED (and per-bucket sorted) table
    on id, so both verify joins read the token table already
    co-partitioned: no exchange and no sort of the token payload per pair
    side, which was the worst-scaling phase across separate executor JVMs
    (SCALING_r06_lc4: verify 0.36 efficiency on a 4x grant). Bucketed
    parquet requires a catalog table (path-only parquet loses the bucket
    spec), so the frame is registered under a per-run temp name pointing
    at the same temp dir, read back, and the name dropped again; the bucket
    count follows the session's shuffle partitioning so join
    co-partitioning lines up.
    """

    _dir: str | None = None

    def barrier(self, df: DataFrame, name: str) -> DataFrame:
        spark = df.sparkSession
        # unlocked check-then-set: the docs barrier always runs first, on
        # the caller's thread, before the concurrent branches
        if self._dir is None:
            self._dir = tempfile.mkdtemp(prefix="ufo_dedup_barriers_")
            atexit.register(shutil.rmtree, self._dir, ignore_errors=True)
        # one barrier per name per run, so the name is the path
        path = os.path.join(self._dir, name)
        if name != "doc_tokens":
            df.write.parquet(path)
            return spark.read.parquet(path)
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        tbl = f"ufo_dedup_barrier_{name}_{uuid.uuid4().hex[:10]}"
        # repartition to the bucket layout first so each write task holds
        # exactly one bucket's rows (one file per bucket; the read side
        # then gets per-bucket sorted splits and plans no sort either)
        (
            df.repartition(n, "id")
            .write.bucketBy(n, "id")
            .sortBy("id")
            .option("path", path)
            .saveAsTable(tbl)
        )
        # the resolved frame keeps the bucket spec and the file listing,
        # so the catalog entry is dropped at once; the table is external
        # (explicit path), so its files stay until the temp dir goes
        out = spark.table(tbl)
        spark.sql(f"DROP TABLE {tbl}")
        return out


class _Checkpoint(_Blocks):
    """Barrier policy for durable resume: every named stage is a
    CheckpointManager stage (parquet + lineage manifest), and verify
    commits per deterministic score bucket (pmod(xxhash64(pair),
    n_buckets)), so a killed job resumes from the last completed bucket.
    Keyed-table and fingerprint barriers stay blocks: they only live inside
    their stage's write."""

    def __init__(self, mgr, n_buckets: int):
        super().__init__()
        self.mgr = mgr
        self.n_buckets = n_buckets

    def stage(self, name: str, build: Callable[[], DataFrame]) -> DataFrame:
        return self.mgr.stage(name, build)

    def verified(self, cands: DataFrame, score: Callable) -> DataFrame:
        bucket = F.xxhash64("id_a", "id_b")
        return self.mgr.partitioned_stage(
            "verified", cands, bucket, self.n_buckets, score
        )


def _auto_policy(master: str, n_docs: int | None) -> _Blocks:
    """run_pipeline's barrier policy from the master string and the corpus
    size (None: decided after the docs barrier).

    Parquet ONLY when executors are separate JVMs (local-cluster or a real
    cluster master). Both directions measured at 4M docs: RDD disk blocks
    live on the executor that computed them, so in multi-executor runs
    every OTHER executor re-reads the corpus through one spindle + loopback
    block fetches (docs_extract 33 -> 468 s going 1 -> 4 JVMs; parquet
    splits cut it to 91 s and lifted 1->4-JVM efficiency 0.303 -> 0.39,
    SCALING_r06). But in a SINGLE JVM the block manager is a local read and
    parquet only adds encode/decode plus split-bound read parallelism:
    serving the same 4M-doc barriers as parquet cost ~1.8x whole-run wall
    vs DISK_ONLY blocks at local[32] (1299 vs ~709 s; signatures branch 603
    vs ~220 s), so corpus size alone must NOT trigger parquet.
    """
    large = None if n_docs is None else n_docs >= DISK_BARRIER_ROWS
    if master == "local" or master.startswith("local["):
        return _Blocks(large)
    return _Parquet(large)


def _run_stages(
    pages: DataFrame,
    cfg: PipelineConfig,
    use_extractor: bool,
    policy: _Blocks,
) -> dict:
    """The dedup stage graph, declared once: docs -> {candidates (keyed
    table), tokens, winnow} -> verify -> cheap CC -> substring -> pairs ->
    clusters. ``policy`` decides how each named stage materializes.

    Every stage below fans out to multiple consumers that run concurrently
    inside one job, so the corpus-sized ones are EAGER barriers — lazy
    persist would let each branch recompute the full upstream (measured 3x
    wall-clock at 20k docs).

    Each stage's jobs carry the job tag ``dedup.<stage>`` (see
    ledger.stage_ledger for what each row then holds).
    """
    sc = pages.sparkSession.sparkContext

    def stage(name: str, build: Callable[[], DataFrame]) -> DataFrame:
        with stage_tag(sc, name):
            return policy.stage(name, build)

    docs = stage(
        "docs", lambda: prepare_documents(pages, use_extractor=use_extractor)
    )
    if policy.large is None:
        # one cheap count of the materialized barrier decides storage for
        # the remaining (larger) corpus-sized barriers
        with stage_tag(sc, "docs"):
            policy.large = docs.count() >= DISK_BARRIER_ROWS

    # The three doc-derived stages — the candidates' keyed table (signature
    # UDF + bucket keys, barriered inside candidate_pairs), the per-doc
    # token table, and the winnow fingerprint candidates — depend only on
    # `docs` and are independent of each other, so they run as CONCURRENT
    # driver threads, each in a FAIR pool named after its stage. Serially, each job's fixed driver latency (plan, AQE
    # re-opt, barrier) adds up; overlapped, the fixed costs hide under
    # whichever branch is longest, which is what lifts multi-core scaling
    # (the 4N-core leg is latency-bound, not compute-bound).
    branches = [
        ("candidates",
         lambda: candidate_pairs(docs, cfg, barrier=policy.barrier)),
        ("doc_tokens", lambda: prepare_tokens(docs)),
    ]
    if cfg.substring_enabled:
        branches.append((
            "winnow",
            lambda: substring_candidate_pairs(
                docs, "id", "text", cfg.substring_gram, cfg.substring_window,
                cfg.all_pairs_cap, barrier=policy.barrier,
            ),
        ))

    def _branch(branch) -> DataFrame:
        name, build = branch
        sc.setLocalProperty("spark.scheduler.pool", name)
        try:
            return stage(name, build)
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)

    # Branch-pool width is SCALE-ADAPTIVE (the corpus-size signal that
    # drives barrier storage): small corpora run all three branches at
    # once — the phases are latency-bound there and a 3-wide pool measured
    # consistently faster at 20k docs (alternating A/B, adjacent pairs
    # 23.4/18.1, 17.4/15.5, 15.4/15.0 s for 2 vs 3). Large corpora keep 2:
    # the candidates and winnow branches are both Arrow/pandas-UDF heavy
    # (each stage spawns one Python worker per core), and at
    # memory-bandwidth-bound multi-million-doc scale running all three at
    # once triples the worker fleet and thrashes the bus (r5 measurement).
    # Two at a time still hides the fixed latency (the JVM-only token
    # branch overlaps the signature UDF).
    with ThreadPoolExecutor(max_workers=2 if policy.large else 3) as ex:
        cands, prepped, *sub_cands = ex.map(
            with_caller_properties(sc, _branch), branches
        )

    # filtered=False + filter on the materialized column: the threshold
    # predicate would otherwise be pushed below the scoring projection and
    # re-evaluate the score expression per row (see verify_candidate_pairs)
    with stage_tag(sc, "verified"):
        verified = policy.verified(
            cands,
            lambda part: verify_candidate_pairs(
                part, docs, cfg, prepped=prepped, filtered=False
            ),
        ).filter(F.col("score") >= cfg.verify_threshold)
    all_pairs = verified
    cc_stats: dict = {}
    if cfg.substring_enabled:
        # cluster the cheap edges first so the expensive substring stage can
        # skip intra-cluster candidates. Capped at cheap_cc_max_iter: a
        # partially converged clustering is a FINER sound partition (equal
        # labels still imply connected), so the exclusion prunes less but
        # never wrongly — and this CC's only job is pruning.
        cheap_cc = stage(
            "cheap_clusters",
            lambda: connected_components(
                verified.filter(
                    F.col("score") >= cfg.cluster_threshold
                ).select("id_a", "id_b"),
                max_iter=cfg.cheap_cc_max_iter,
                stats=cc_stats,
                # verified is one row per pair (candidate groupBy) -> skip
                # the entry distinct exchange
                edges_distinct=True,
            ),
        )
        all_pairs = all_pairs.unionByName(stage(
            "substring_pairs",
            lambda: substring_pairs(
                docs, cfg, exclude=verified, exclude_clusters=cheap_cc,
                cands=sub_cands[0],
            ),
        ))

    prio = F.when(F.lit(False), F.lit(0))
    for m, p in METHOD_PRIORITY.items():
        prio = prio.when(F.col("method") == m, F.lit(p))
    # every pipeline method is in METHOD_PRIORITY and status is the
    # constant 'pending', so the hash-aggregable resolver applies
    # (no SortAggregate)
    pairs = stage("pairs", lambda: first_wins_by_priority(
        all_pairs.withColumn("priority", prio.otherwise(F.lit(99))),
        METHOD_PRIORITY,
    ))

    # NOTE: connected_components runs its driver loop while the clusters
    # stage is built — under the lazy policies its first fingerprint job
    # is also what materializes the persisted pairs table (substring LCS +
    # first-wins dedup), so the clusters row covers substring verification
    # + pair dedup + all final CC rounds.
    final_cc_stats: dict = {}

    def build_clusters() -> DataFrame:
        edges = pairs.filter(
            (F.col("score") >= cfg.cluster_threshold)
            | (F.col("method") == "substring")
        ).select("id_a", "id_b")
        # pairs is one row per pair (first wins) -> skip the entry distinct
        cc = connected_components(
            edges, stats=final_cc_stats, edges_distinct=True
        )
        return docs.select("id", "url").join(cc, "id", "left").select(
            "id", "url", F.coalesce("cluster_id", "id").alias("cluster_id")
        )

    clusters = stage("clusters", build_clusters)
    counters = {
        "cheap_cc_rounds": cc_stats.get("rounds", 0),
        "cheap_cc_entry_edges": cc_stats.get("entry_edges", 0),
        "final_cc_rounds": final_cc_stats.get("rounds", 0),
    }
    return {"docs": docs, "pairs": pairs, "clusters": clusters,
            "counters": counters}


def run_pipeline(
    spark,
    pages: DataFrame,
    cfg: PipelineConfig | None = None,
    use_extractor: bool = True,
    n_docs_hint: int | None = None,
) -> dict:
    """Full pipeline -> {'docs', 'pairs', 'clusters'} DataFrames, plus
    'counters' (cheap and final CC rounds, cheap CC entry edges).

    ``pairs``: (id_a, id_b, score, method, status), canonical, one row per
    pair (method priority: exact > minhash_lsh > simhash > prefix >
    substring). ``clusters``: (id, cluster_id) for every doc, singletons
    included with cluster_id = id.

    ``n_docs_hint``: approximate corpus size, used only to pick barrier
    storage up front (the docs barrier itself can then go to disk);
    without it, storage is decided after counting the materialized docs
    barrier.
    """
    policy = _auto_policy(spark.sparkContext.master or "", n_docs_hint)
    return _run_stages(pages, cfg or PipelineConfig(), use_extractor, policy)


def run_pipeline_checkpointed(
    spark,
    pages: DataFrame,
    workdir: str,
    cfg: PipelineConfig | None = None,
    use_extractor: bool = True,
    n_score_buckets: int = 8,
) -> dict[str, DataFrame]:
    """run_pipeline with durable per-stage checkpoints + resumable scoring.

    Every stage writes parquet + a lineage manifest (rows, counters, config
    fingerprint) under ``workdir``; the expensive verification stage commits
    per-bucket (pmod(xxhash64(pair), n_score_buckets)), so a killed job
    resumes from the last completed bucket. A changed PipelineConfig or
    extractor version invalidates all checkpoints via the fingerprint.
    """
    cfg = cfg or PipelineConfig()
    # SIGNATURE_VERSION is part of the fingerprint: a kernel rewrite changes
    # signature bytes even when every cfg field matches, and resuming buckets
    # computed under old hash functions would silently mix incompatible
    # candidate sets. PIPELINE_LOGIC_VERSION covers the complementary case:
    # stage semantics / inter-stage schema changes with identical cfg and
    # kernels (see its definition above).
    mgr = CheckpointManager(spark, workdir, config_fingerprint(
        cfg, EXTRACTOR_VERSION, SIGNATURE_VERSION, PIPELINE_LOGIC_VERSION,
        use_extractor,
    ))
    out = _run_stages(
        pages, cfg, use_extractor, _Checkpoint(mgr, n_score_buckets)
    )
    out["lineage"] = mgr.counters()
    return out
