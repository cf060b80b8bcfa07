"""Deterministic synthetic web-page corpus with planted duplicate structure.

Implements FIXTURES.md §1: a Common-Crawl-style ``pages`` table
(url, warc_ts, html, text, lang) plus ground-truth sidecars
``truth_pairs(url_a, url_b, kind)`` and ``truth_clusters(url, cluster_id)``.

Design: every row is a PURE FUNCTION of (doc index, config) — the index
space is partitioned into segments (skew host, exact-dup groups, near-dup
groups, prefix pairs, span pairs, unique fillers) by arithmetic, and all
randomness comes from rngs seeded with (cfg.seed, segment, group). That
makes generation embarrassingly parallel: ``corpus_dataframes`` emits pages
via mapInPandas over spark.range(n), so corpora scale with the cluster
instead of the driver, and the bytes are identical regardless of
parallelism. Ground truth is derived from the same index arithmetic without
generating any text.

Planted structure:
- exact dups: identical text, different url/warc_ts
- near dups: 1-8% token edits (replace/insert/delete)
- prefix dups: one text a >=20-char prefix of the other (0.95 shortcut band)
- span dups: >=250-char shared substring inside otherwise-different pages
- skewed host: ~15% of rows on one boilerplate host, ~1% edits apart
- non-dups: unique filler pages

``html`` embeds the text with entity escaping; extraction must recover the
``text`` column byte-identically (the per-row invariant).
"""

from __future__ import annotations

import html as html_mod
import random
from dataclasses import dataclass

_LANGS = ("en", "de", "fr", "es")


@dataclass
class SynthConfig:
    n_docs: int = 2000
    seed: int = 42
    vocab_size: int = 4000
    exact_frac: float = 0.06
    near_frac: float = 0.10
    prefix_frac: float = 0.04
    span_frac: float = 0.04
    skew_frac: float = 0.15
    n_hosts: int = 40
    skew_host: str = "spam.example.com"
    base_ts: int = 1700000000  # epoch seconds

    # ---- derived segment boundaries (index arithmetic) ----
    def layout(self) -> dict[str, tuple[int, int]]:
        n = self.n_docs
        b0 = 0
        b1 = b0 + int(n * self.skew_frac)          # [b0, b1) skew host
        b2 = b1 + int(n * self.exact_frac)         # [b1, b2) exact groups
        b3 = b2 + int(n * self.near_frac)          # [b2, b3) near groups
        b4 = b3 + 2 * (int(n * self.prefix_frac) // 2)   # prefix pairs
        b5 = b4 + 2 * (int(n * self.span_frac) // 2)     # span pairs
        return {
            "skew": (b0, b1),
            "exact": (b1, b2),
            "near": (b2, b3),
            "prefix": (b3, b4),
            "span": (b4, b5),
            "filler": (b5, n),
        }


_GROUP_SIZE = 3  # exact/near segments use fixed groups of 3 (last may clip)


def _rng(cfg: SynthConfig, *key) -> random.Random:
    """Deterministic rng from a structured key (tuples aren't seedable)."""
    return random.Random(f"{cfg.seed}|" + "|".join(map(str, key)))


def _vocab_word(cfg: SynthConfig, i: int) -> str:
    return f"w{i % cfg.vocab_size:04d}"


def _base_text(cfg: SynthConfig, key: tuple, lo: int = 60, hi: int = 500) -> str:
    rng = _rng(cfg, "base", *key)
    n_tokens = rng.randint(lo, hi)
    common = ["the", "and", "of", "page", "site", "info"]
    return " ".join(
        rng.choice(common) if rng.random() < 0.15 else
        _vocab_word(cfg, rng.randrange(cfg.vocab_size))
        for _ in range(n_tokens)
    )


def _near_edit(cfg: SynthConfig, text: str, key: tuple, edit_frac: float) -> str:
    rng = _rng(cfg, "edit", *key)
    toks = text.split(" ")
    n_edits = max(1, int(len(toks) * edit_frac))
    for _ in range(n_edits):
        op = rng.random()
        i = rng.randrange(len(toks))
        if op < 0.4:
            toks[i] = _vocab_word(cfg, rng.randrange(cfg.vocab_size))
        elif op < 0.7 and len(toks) > 10:
            del toks[i]
        else:
            toks.insert(i, _vocab_word(cfg, rng.randrange(cfg.vocab_size)))
    return " ".join(toks)


def _lang(cfg: SynthConfig, group_key: tuple) -> str:
    return _LANGS[_rng(cfg, "lang", *group_key).randrange(len(_LANGS))]


def _host(cfg: SynthConfig, idx: int) -> str:
    return f"site{_rng(cfg, 'host', idx).randrange(cfg.n_hosts)}.example.com"


def _render_html(text: str, title: str) -> bytes:
    body = html_mod.escape(text)
    return (
        f"<html><head><title>{html_mod.escape(title)}</title></head>"
        f"<body><nav>menu home about</nav><p>{body}</p>"
        f"<footer>footer text</footer></body></html>"
    ).encode("utf-8")


def _segment_of(cfg: SynthConfig, idx: int) -> tuple[str, int, int]:
    for name, (lo, hi) in cfg.layout().items():
        if lo <= idx < hi:
            return name, lo, hi
    raise IndexError(idx)


def text_for_index(cfg: SynthConfig, idx: int) -> tuple[str, str]:
    """(text, lang) for a doc index — the deterministic core."""
    seg, lo, hi = _segment_of(cfg, idx)
    if seg == "skew":
        base = _base_text(cfg, ("skew",), 250, 350)
        return _near_edit(cfg, base, ("skew", idx), 0.01), "en"
    if seg in ("exact", "near"):
        group = (idx - lo) // _GROUP_SIZE
        pos = (idx - lo) % _GROUP_SIZE
        base = _base_text(cfg, (seg, group), 100, 500)
        lang = _lang(cfg, (seg, group))
        if seg == "exact" or pos == 0:
            return base, lang
        rng = _rng(cfg, "frac", seg, group, pos)
        return _near_edit(cfg, base, (seg, group, pos), rng.uniform(0.01, 0.08)), lang
    if seg == "prefix":
        pair = (idx - lo) // 2
        pos = (idx - lo) % 2
        base = _base_text(cfg, ("prefix", pair), 200, 500)
        lang = _lang(cfg, ("prefix", pair))
        if pos == 0:
            return base, lang
        rng = _rng(cfg, "cut", pair)
        cut = rng.randint(len(base) // 3, 2 * len(base) // 3)
        return base[:cut].rstrip(), lang
    if seg == "span":
        pair = (idx - lo) // 2
        pos = (idx - lo) % 2
        span = _base_text(cfg, ("span", pair), 60, 60)
        own = _base_text(cfg, ("spanown", pair, pos), 80, 200)
        rng = _rng(cfg, "cutspan", pair, pos)
        c = rng.randrange(max(1, len(own) - 1))
        lang = _lang(cfg, ("span", pair))
        return own[:c].rstrip() + " " + span + " " + own[c:].lstrip(), lang
    # filler
    return _base_text(cfg, ("filler", idx)), _lang(cfg, ("filler", idx))


def row_for_index(cfg: SynthConfig, idx: int) -> tuple:
    """(url, ts_epoch, html, text, lang) — pure function of (cfg, idx)."""
    seg, _, _ = _segment_of(cfg, idx)
    text, lang = text_for_index(cfg, idx)
    host = cfg.skew_host if seg == "skew" else _host(cfg, idx)
    url = f"https://{host}/p/{idx}"
    return url, cfg.base_ts + idx * 17, _render_html(text, f"doc {idx}"), text, lang


def _url_for_index(cfg: SynthConfig, idx: int) -> str:
    seg, _, _ = _segment_of(cfg, idx)
    host = cfg.skew_host if seg == "skew" else _host(cfg, idx)
    return f"https://{host}/p/{idx}"


def ground_truth(cfg: SynthConfig):
    """(truth_pairs, truth_clusters) from index arithmetic — no text work.

    Skew pair truth is a linear sample (adjacent indices); its full truth is
    cluster-level. Cluster id = min member index of the planted group.
    """
    lay = cfg.layout()
    pairs: list[tuple] = []
    clusters: list[tuple] = []

    lo, hi = lay["skew"]
    for i in range(lo, hi):
        clusters.append((_url_for_index(cfg, i), lo))
        if i + 1 < hi:
            pairs.append((_url_for_index(cfg, i), _url_for_index(cfg, i + 1), "skew_near"))

    for seg in ("exact", "near"):
        lo, hi = lay[seg]
        for g_lo in range(lo, hi, _GROUP_SIZE):
            members = list(range(g_lo, min(g_lo + _GROUP_SIZE, hi)))
            if len(members) < 2:
                continue
            for m in members:
                clusters.append((_url_for_index(cfg, m), g_lo))
            for i, a in enumerate(members):
                for b in members[i + 1 :]:
                    pairs.append((_url_for_index(cfg, a), _url_for_index(cfg, b), seg))

    for seg in ("prefix", "span"):
        lo, hi = lay[seg]
        for a in range(lo, hi, 2):
            b = a + 1
            if b >= hi:
                break
            pairs.append((_url_for_index(cfg, a), _url_for_index(cfg, b), seg))
            clusters.append((_url_for_index(cfg, a), a))
            clusters.append((_url_for_index(cfg, b), a))

    return pairs, clusters


def corpus_dataframes(spark, cfg: SynthConfig | None = None):
    """(pages, truth_pairs, truth_clusters) DataFrames; pages generated
    DISTRIBUTED via mapInPandas over spark.range(n_docs)."""
    import pandas as pd
    from pyspark.sql import functions as F

    cfg = cfg or SynthConfig()

    def gen(batches):
        for pdf in batches:
            rows = [row_for_index(cfg, int(i)) for i in pdf["id"]]
            yield pd.DataFrame(
                rows, columns=["url", "ts_epoch", "html", "text", "lang"]
            )

    n_part = max(spark.sparkContext.defaultParallelism, 8)
    pages_df = (
        spark.range(0, cfg.n_docs, numPartitions=n_part)
        .mapInPandas(
            gen, "url string, ts_epoch long, html binary, text string, lang string"
        )
        .select(
            "url",
            F.timestamp_seconds("ts_epoch").alias("warc_ts"),
            "html",
            "text",
            "lang",
        )
    )
    tp, tc = ground_truth(cfg)
    tp_df = spark.createDataFrame(tp, "url_a string, url_b string, kind string")
    tc_df = spark.createDataFrame(
        [(u, int(c)) for u, c in tc], "url string, cluster_id long"
    )
    return pages_df, tp_df, tc_df
