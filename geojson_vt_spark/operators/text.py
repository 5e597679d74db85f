"""Text analytics over the documents corpus — all pure Column
expressions (JVM-side, whole-stage codegen; no Python UDFs).

Engine additions for large-scale training-data pipelines: token
counting, quality scoring, language-ID heuristic, and document
fingerprinting, each with a DuckDB-expressible twin for the
correctness oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from .._worker import _worker_prep

STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "dans", "pour"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "para"],
}


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization of trimmed text."""
    return F.split(F.trim(text), r"\s+")


def token_count_col(text: Column) -> Column:
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)) \
            .otherwise(F.size(tokens_col(text)))


def bpe_ish_token_count_col(text: Column) -> Column:
    """Sub-word-ish token count: word chunks of ≤4 chars + digits +
    punctuation each count as one token (a BPE-flavored regex proxy)."""
    pieces = F.regexp_extract_all(
        F.lower(text), F.lit(r"[a-z]{1,4}|[0-9]+|[^a-z0-9\s]"), 0)
    return F.size(pieces)


def quality_score_df(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/punct/stopword heuristic quality features + composite score."""
    t = F.col(text_col)
    toks = tokens_col(t)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    en = STOPWORDS["en"]
    in_list = ", ".join(f"'{w}'" for w in en)
    n_stop = F.expr(
        f"size(filter(split(trim(lower({text_col})), '\\\\s+'), "
        f"t -> t IN ({in_list})))")
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    mean_tok_len = (n_chars - n_tokens + 1) / n_tokens

    return docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        n_stop.cast("long").alias("n_stopwords"),
        n_punct.cast("long").alias("n_punct"),
        F.round(n_stop / n_tokens, 6).alias("stopword_ratio"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
    )


def lang_id_df(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram-free stopword-vote language ID across en/de/fr/es;
    deterministic tie-break by language code."""
    cols = []
    for lang in sorted(STOPWORDS):
        in_list = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        cols.append(F.expr(
            f"size(filter(split(trim(lower({text_col})), '\\\\s+'), "
            f"t -> t IN ({in_list})))").alias(f"hits_{lang}"))
    scored = docs.select("doc_id", *cols)
    langs = sorted(STOPWORDS)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    pick = None
    for lang in langs:  # first language reaching the max wins
        cond = F.col(f"hits_{lang}") == best
        pick = F.when(cond, F.lit(lang)) if pick is None else pick.when(cond, F.lit(lang))
    return scored.select("doc_id", *[f"hits_{lang}" for lang in langs],
                         pick.alias("lang_pred"))


def fingerprint_df(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Canonical document fingerprint: md5 over whitespace-normalized
    lowercase text (md5 exists identically in Spark and DuckDB, so the
    oracle can verify byte-for-byte)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"))


def winnow_fingerprints_df(docs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 8,
                           window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme, Schleimer et
    al. 2003): Rabin rolling hash over k-grams of codepoints, then the
    minimum hash of each sliding window of ``window`` k-grams — a
    position-robust fingerprint set that survives local edits, unlike a
    whole-document digest.

    Emits one (id, fp) row per DISTINCT selected hash (rows, not
    arrays, so results stay hashable/oracle-comparable).  The hash is
    pure modular arithmetic over codepoints, so a SQL oracle reproduces
    it exactly; the Spark side runs one Arrow-batched numpy pass."""
    from pyspark.sql.functions import pandas_udf

    B, M = 257, (1 << 31) - 1
    pows = np.array([pow(B, j, M) for j in range(k)], dtype=np.int64)

    @pandas_udf("array<long>")
    def fps(texts: pd.Series) -> pd.Series:
        _worker_prep()
        out = []
        for t in texts:
            # utf-32-le bytes ARE the codepoints — one memcpy-ish
            # decode instead of a per-character Python ord() loop
            codes = np.frombuffer(t.encode("utf-32-le"),
                                  dtype=np.uint32).astype(np.int64)
            n = len(codes) - k + 1
            if n <= 0:
                out.append(np.empty(0, dtype=np.int64))
                continue
            acc = np.zeros(n, dtype=np.int64)
            for j in range(k):
                acc += (codes[j:j + n] * pows[k - 1 - j]) % M
            h = acc % M
            if len(h) <= window:
                mins = np.array([h.min()], dtype=np.int64)
            else:
                mins = np.lib.stride_tricks.sliding_window_view(
                    h, window).min(axis=1)
            out.append(np.unique(mins))
        return pd.Series(out)

    return (docs.select(F.col(id_col),
                        F.explode(fps(F.col(text_col))).alias("fp"))
            .distinct())
