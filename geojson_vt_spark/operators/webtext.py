"""Web-corpus curation operators — the C4 / Gopher / RefinedWeb-style
pipeline stages a large-scale training-data build runs between raw
crawl and tokenizer: URL canonicalization + dedup, repetition-based
quality rules, benchmark decontamination, and TF-IDF keyword scoring.

Everything here is Column expressions (JVM-side, whole-stage codegen)
except the n-gram emitter, which follows the repo's Arrow-twin
pattern: an Arrow-batched pandas UDF computes exactly what its
Column-expression SPEC computes (parity pinned by test), because
interpreted higher-order-function lambdas sit outside codegen and
measured ~7× slower.  Every operator has a DuckDB-expressible twin
for the correctness oracle.

Scale posture (100 TB):
- ``canonicalize_url_col`` is per-row regexp work — embarrassingly
  parallel, stays inside codegen.
- ``url_dedup`` shuffles only ``(md5(canon_url), doc_id)`` — 48-byte
  rows with map-side partial aggregation, never document bodies
  (the same slim shape as ``exact_dedup``).
- ``decontaminate_df`` broadcasts the *benchmark* n-gram set (eval
  suites are tiny relative to a crawl) so the corpus side is a
  shuffle-free broadcast anti-join; a Bloom prefilter is unnecessary
  because the broadcast hash set already gives O(1) probes.
- ``repetition_stats_df`` / ``tfidf_topk_df`` shuffle slim
  ``(doc_id, gram)`` / ``(term)`` keys with partial aggregation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from .._worker import _worker_prep
from .text import tokens_col

# query params that never change page identity (tracking/session ids)
_TRACKING_RE = r"[?&](utm_[A-Za-z0-9_]*|gclid|fbclid|sid|ref)=[^&#]*"


def canonicalize_url_col(url: Column) -> Column:
    """Canonical form of a crawl URL: drop the fragment, strip
    tracking query params (utm_*/gclid/fbclid/sid/ref), lowercase
    scheme+host, drop a leading ``www.``, drop default ports, and
    trim trailing ``/`` / dangling ``?``/``&``.

    Pure regexp_replace chain — global replace in Spark matches
    DuckDB's ``regexp_replace(..., 'g')`` twin.
    """
    u = F.regexp_replace(url, r"#.*", "")           # fragment
    u = F.regexp_replace(u, _TRACKING_RE, "")        # tracking params
    # if the first surviving param lost its '?', restore it
    u = F.regexp_replace(u, r"^([^?]*)&", "$1?")
    # lowercase scheme://host (first path slash onward untouched)
    head = F.regexp_extract(u, r"^[^/]*//[^/]*", 0)
    tail = F.substring(u, F.length(head) + F.lit(1), F.length(u))
    head = F.lower(head)
    head = F.regexp_replace(head, r"^(https?://)www\.", "$1")
    head = F.regexp_replace(head, r":(443|80)$", "")
    u = F.concat(head, tail)
    u = F.regexp_replace(u, r"[/?&]+$", "")          # trailing junk
    return u


def url_dedup(pages: DataFrame, url_col: str = "url",
              id_col: str = "doc_id",
              keys_only: bool = True) -> DataFrame:
    """Keep one page per canonical URL (lowest id wins), RefinedWeb
    style.  Returns the slim ``(fp1, fp2, keep_id, n_dups)`` by
    default, or with ``keys_only=False`` the string-keyed
    ``(canon_url, keep_id, n_dups)`` (the DuckDB-oracle twin; its
    canon-URL rider measurably anti-scales on multi-executor grids —
    see below — so the int64 exchange is the default).

    The aggregation groups on ``md5(canon_url)`` so the shuffle rows
    are fixed-width hashes (not arbitrary-length URLs) and partial
    aggregation applies map-side; the canonical URL itself rides
    along as ``min(canon_url)`` (bijective with its md5).  At
    multi-executor scale even that rider costs: the standalone grid
    measured the sibling ``latest_capture_df`` anti-scaling 1×8→4×8
    purely from URL strings crossing the cross-JVM exchange
    (BENCH/SCALING.md).  ``keys_only`` keeps everything int64 — the
    kept page row owns its URL, recover it by joining ``keep_id``."""
    canon = canonicalize_url_col(F.col(url_col))
    if keys_only:
        h = F.md5(canon)
        return (pages.select(
            F.conv(F.substring(h, 1, 15), 16, 10).cast("long").alias("fp1"),
            F.conv(F.substring(h, 16, 15), 16, 10).cast("long").alias("fp2"),
            F.col(id_col))
            .groupBy("fp1", "fp2")
            .agg(F.min(id_col).alias("keep_id"),
                 F.count(F.lit(1)).alias("n_dups")))
    return (pages.select(canon.alias("canon_url"), F.col(id_col))
            .groupBy(F.md5(F.col("canon_url")).alias("_h"))
            .agg(F.min("canon_url").alias("canon_url"),
                 F.min(id_col).alias("keep_id"),
                 F.count(F.lit(1)).alias("n_dups"))
            .drop("_h"))


def latest_capture_df(pages: DataFrame, url_col: str = "url",
                      ts_col: str = "warc_ts",
                      id_col: str = "doc_id",
                      keys_only: bool = True) -> DataFrame:
    """Common-Crawl revisit dedup: a crawler re-fetches the same URL
    across snapshots; keep the NEWEST capture per canonical URL
    (ties → highest id, so re-ingesting a WARC is idempotent).
    Returns the slim ``(fp1, fp2, keep_id, n_captures)`` by default,
    where (fp1, fp2) is the canon's md5 split into two int64s, or
    with ``keys_only=False`` the string-keyed
    ``(canon_url, keep_id, n_captures)``.

    The exchange never carries page bodies; ``max(struct)`` aggregates
    with map-side partial combine (a window over raw URLs would ship
    every capture row to one reducer per URL with no combine).  Struct
    ordering is lexicographic (ts first, then id), matching the
    oracle's ``ORDER BY ts DESC, id DESC`` tie-break.

    ``keys_only`` (the default) is the 100-TB path: on the 4×8-executor standalone
    grid over 1.2M captures the numbers-only exchange settles at
    ~2.1 s (1×8 parity) while carrying the canonical-URL string
    through the cross-JVM exchange — as a min() rider or as the group
    key — measured 4–22 s across repeats (BENCH/SCALING.md).  The kept
    page row owns its URL, so downstream joins on ``keep_id`` recover
    it without ever shuffling strings."""
    canon = canonicalize_url_col(F.col(url_col))
    win = F.max(F.struct(F.col("_ts"), F.col(id_col).alias("_id")))
    if keys_only:
        h = F.md5(canon)
        base = pages.select(
            F.conv(F.substring(h, 1, 15), 16, 10).cast("long").alias("fp1"),
            F.conv(F.substring(h, 16, 15), 16, 10).cast("long").alias("fp2"),
            F.col(ts_col).alias("_ts"), F.col(id_col))
        return (base.groupBy("fp1", "fp2")
                .agg(win.alias("_w"),
                     F.count(F.lit(1)).alias("n_captures"))
                .select("fp1", "fp2", F.col("_w._id").alias("keep_id"),
                        "n_captures"))
    return (pages.select(canon.alias("canon_url"),
                         F.col(ts_col).alias("_ts"), F.col(id_col))
            .groupBy(F.md5(F.col("canon_url")).alias("_h"))
            .agg(F.min("canon_url").alias("canon_url"),
                 win.alias("_w"),
                 F.count(F.lit(1)).alias("n_captures"))
            .select("canon_url", F.col("_w._id").alias("keep_id"),
                    "n_captures"))


def word_ngrams_col(text: Column, n: int, arrow: bool = True) -> Column:
    """Array of space-joined word n-grams, in document order with
    duplicates kept; empty array when the document has fewer than
    ``n`` words; null for null text.

    The Column expression (``arrow=False``) is the SQL-portable SPEC —
    the DuckDB oracles replay it.  The default Arrow path emits the
    identical gram list from one pandas batch: the interpreted
    higher-order-function lambda (slice + array_join per element) sits
    outside codegen and measured ~7× slower than the Arrow twin at
    n=8 (2.8 s vs 0.4 s over the 5k-doc bench corpus), making it most
    of ``decontaminate``'s wall.  Shuffle-free either way.  Parity is
    pinned by ``tests/test_operators.py::test_word_ngrams_arrow_
    matches_column`` including Java-regex edge cases: ``\\s`` is
    ASCII-only in Java, Spark ``trim`` strips spaces only, and Spark
    ``split`` (limit=-1) keeps trailing empty strings like
    ``re.split`` does.
    """
    if arrow:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("array<string>")
        def ng_udf(texts: pd.Series) -> pd.Series:
            _worker_prep()
            import re
            ws = re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s, not Python \s
            out = []
            for t in texts:
                if t is None:
                    out.append(None)
                    continue
                # trim = spaces only; Spark split(limit=-1) keeps
                # trailing empty strings, exactly like re.split
                toks = ws.split(t.strip(" "))
                if len(toks) < n:
                    out.append([])
                else:
                    out.append([" ".join(toks[i:i + n])
                                for i in range(len(toks) - n + 1)])
            return pd.Series(out)

        return ng_udf(text)
    w = tokens_col(text)
    return F.when(F.size(w) < n, F.array().cast("array<string>")).otherwise(
        F.transform(F.sequence(F.lit(0), F.size(w) - n),
                    lambda i: F.array_join(F.slice(w, i + 1, n), " ")))


def repetition_stats_df(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        arrow: bool = True) -> DataFrame:
    """Gopher-style repetition + shape rules (Rae et al. 2021 §A1.1):
    per document, the fraction of all 2-grams taken by the single most
    frequent 2-gram, the fraction of 3-gram occurrences that are
    duplicates, mean word length, and the fraction of words containing
    an alphabetic character — plus the composite ``keep`` flag.

    Every statistic is PER-DOCUMENT, so the default ``arrow`` path
    computes all five in one fused Arrow pass — completely
    shuffle-free, which is the correct 100-TB plan: the Column/explode
    SPEC below ships ~100 gram rows per document through a corpus-wide
    shuffle only to aggregate them straight back to the document key
    (measured: the fused pass cut the 1.1M-doc stage from 50 s to
    single-digit seconds on the standalone grid and scales with cores
    instead of with shuffle throughput).  The SPEC path (``arrow=
    False``) remains the oracle twin the DuckDB SQL replays; parity is
    pinned by ``tests/test_operators.py::test_repetition_stats_arrow_
    matches_column`` including the Java-regex edge cases (ASCII-only
    ``\\s``, space-only ``trim``, trailing empty split tokens)."""
    if arrow:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("struct<n_words:long, mwl:double, alpha:double,"
                    " top2:double, dup3:double>")
        def stats_udf(texts: pd.Series) -> pd.DataFrame:
            _worker_prep()
            import re
            from collections import Counter
            ws = re.compile(r"[ \t\n\x0b\f\r]+")   # Java \s, not Python \s
            letter = re.compile(r"[A-Za-z]")
            n_words, mwl, alpha, top2, dup3 = [], [], [], [], []
            for t in texts:
                if t is None:       # null text: all-zero stats row
                    n_words.append(0)
                    mwl.append(0.0)
                    alpha.append(0.0)
                    top2.append(0.0)
                    dup3.append(0.0)
                    continue
                toks = ws.split(t.strip(" "))
                n = len(toks)
                nn = max(n, 1)
                n_words.append(n)
                # sum of token lengths == length(regexp_replace(t,'\s+',''))
                mwl.append(sum(map(len, toks)) / nn)
                alpha.append(sum(1 for x in toks if letter.search(x)) / nn)
                if n >= 2:
                    c2 = Counter(zip(toks, toks[1:])).values()
                    top2.append(max(c2) / (n - 1))
                else:
                    top2.append(0.0)
                if n >= 3:
                    c3 = Counter(zip(toks, toks[1:], toks[2:])).values()
                    dup3.append(sum(c for c in c3 if c > 1) / (n - 2))
                else:
                    dup3.append(0.0)
            return pd.DataFrame({"n_words": n_words, "mwl": mwl,
                                 "alpha": alpha, "top2": top2,
                                 "dup3": dup3})

        s = stats_udf(F.col(text_col))
        keep = ((s["n_words"] >= 10) & (s["n_words"] <= 100000) &
                (s["mwl"] >= 2.0) & (s["mwl"] <= 12.0) &
                (s["alpha"] >= 0.6) & (s["top2"] <= 0.30) &
                (s["dup3"] <= 0.60))
        return docs.select(
            F.col(id_col), s["n_words"].alias("n_words"),
            F.round(s["mwl"], 6).alias("mean_word_len"),
            F.round(s["alpha"], 6).alias("alpha_word_frac"),
            F.round(s["top2"], 6).alias("top_bigram_frac"),
            F.round(s["dup3"], 6).alias("dup_trigram_frac"),
            keep.cast("int").alias("keep"))

    base = docs.select(
        F.col(id_col),
        F.size(tokens_col(F.col(text_col))).alias("n_words"),
        (F.length(F.regexp_replace(F.col(text_col), r"\s+", "")) /
         F.greatest(F.size(tokens_col(F.col(text_col))), F.lit(1))
         ).alias("_mwl"),
        (F.size(F.filter(tokens_col(F.col(text_col)),
                         lambda t: t.rlike("[A-Za-z]"))) /
         F.greatest(F.size(tokens_col(F.col(text_col))), F.lit(1))
         ).alias("_alpha"),
        word_ngrams_col(F.col(text_col), 2).alias("_g2"),
        word_ngrams_col(F.col(text_col), 3).alias("_g3"),
    )

    tag = lambda arr, n: F.transform(  # noqa: E731
        arr, lambda g: F.struct(F.lit(n).alias("n"), g.alias("g")))
    n2 = F.col("gram.n") == 2
    n3 = F.col("gram.n") == 3
    reps = (base.select(id_col, F.explode(
                F.concat(tag(F.col("_g2"), 2), tag(F.col("_g3"), 3)))
                .alias("gram"))
            .groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
            .groupBy(id_col).agg(
                (F.max(F.when(n2, F.col("c"))) /
                 F.sum(F.when(n2, F.col("c")))).alias("top_bigram_frac"),
                (F.sum(F.when(n3 & (F.col("c") > 1), F.col("c"))
                       .otherwise(F.lit(0))) /
                 F.sum(F.when(n3, F.col("c")))).alias("dup_trigram_frac")))

    out = (base.select(id_col, "n_words", "_mwl", "_alpha")
           .join(reps, id_col, "left")
           .na.fill({"top_bigram_frac": 0.0, "dup_trigram_frac": 0.0}))
    keep = ((F.col("n_words") >= 10) & (F.col("n_words") <= 100000) &
            (F.col("_mwl") >= 2.0) & (F.col("_mwl") <= 12.0) &
            (F.col("_alpha") >= 0.6) &
            (F.col("top_bigram_frac") <= 0.30) &
            (F.col("dup_trigram_frac") <= 0.60))
    return out.select(
        id_col, "n_words",
        F.round("_mwl", 6).alias("mean_word_len"),
        F.round("_alpha", 6).alias("alpha_word_frac"),
        F.round("top_bigram_frac", 6).alias("top_bigram_frac"),
        F.round("dup_trigram_frac", 6).alias("dup_trigram_frac"),
        keep.cast("int").alias("keep"))


def decontaminate_df(docs: DataFrame, benchmark: DataFrame, n: int = 8,
                     text_col: str = "text", id_col: str = "doc_id",
                     arrow: bool = True) -> DataFrame:
    """Benchmark decontamination: drop every training document that
    shares any word ``n``-gram with the benchmark (eval) set — the
    standard n-gram-overlap rule used before pre-training runs.

    The benchmark n-gram set is broadcast and the corpus side never
    shuffles.  The default ``arrow`` path collects the benchmark grams
    once (one small job), interns every gram token to an int id, and
    ships three numpy-flat structures — sorted rolling-hash array,
    16 MB low-bit bitmap, sorted void-view id-tuple keys (~40 B/gram
    total, ~4x leaner than a python string set, so a full-crawl-scale
    decontamination union still broadcasts).  Workers tokenize ONCE
    per batch in Arrow C kernels (regex split + ``index_in`` against
    the vocab), then probe a flat rolling polynomial hash over token
    ids — no per-window string assembly, no per-token python — with
    bitmap prefilter, binary-search confirm, and exact id-tuple verify
    (id interning makes tuple equality string equality, so the result
    is exact, not probabilistic).  The ``arrow=False`` SPEC keeps the
    pure-plan shape (explode + JVM broadcast semi-join) for the DuckDB
    oracle; parity pinned by ``tests/test_operators.py::
    test_decontaminate_arrow_matches_column``.  Returns the surviving
    ``(doc_id, n_chars)`` rows."""
    if arrow:
        from pyspark.sql.functions import pandas_udf

        bench_set = set(
            r.g for r in benchmark
            .select(F.explode_outer(word_ngrams_col(F.col(text_col), n))
                    .alias("g"))
            .where(F.col("g").isNotNull()).distinct().collect())
        # tokenize-once probing: intern every benchmark-gram token to an
        # int id; a document window can only match if ALL its tokens are
        # in the benchmark vocabulary, so docs probe an int64 rolling
        # hash over token IDS (vectorized, no per-window string
        # assembly) and verify the rare hash hits by exact id-tuple —
        # " ".join over ws.split tokens is injective, so tuple equality
        # IS string equality and the output stays exact
        vocab: dict = {}
        gram_ids = []
        P = np.uint64(1099511628211)
        for g in bench_set:
            gram_ids.append([vocab.setdefault(t, len(vocab))
                             for t in g.split(" ")])
        # exact gram keys as a SORTED void-view over an int32 matrix:
        # ~32 bytes/gram, no per-gram python objects — the broadcast
        # stays numpy-flat however large the decontamination set gets
        # (a python set of gram strings costs ~4x more and dies first
        # on a full-crawl benchmark union)
        mat = (np.array(gram_ids, dtype=np.int32)
               if gram_ids else np.empty((0, n), dtype=np.int32))
        exact_keys = np.sort(
            np.ascontiguousarray(mat).view(f"V{4 * n}").ravel())
        weights = P ** np.arange(n - 1, -1, -1, dtype=np.uint64)
        with np.errstate(over="ignore"):
            bench_h = np.unique(
                ((mat + 1).astype(np.uint64) * weights)
                .sum(axis=1, dtype=np.uint64)) \
                if gram_ids else np.empty(0, dtype=np.uint64)
        # 16 MB bitmap over the hash low bits: candidate windows are
        # confirmed by one O(1) load; only the rare survivors pay the
        # cache-missing binary search into the full sorted hash array
        _MB = np.uint64((1 << 24) - 1)
        bitmap = np.zeros(1 << 24, dtype=bool)
        if bench_h.size:
            bitmap[(bench_h & _MB).astype(np.int64)] = True
        # id order == insertion order, so index_in positions ARE the ids
        vocab_tokens = list(vocab)
        sc = docs.sparkSession.sparkContext
        bc = sc.broadcast((vocab_tokens, bench_h, bitmap, exact_keys))

        @pandas_udf("boolean")
        def dirty_udf(texts: pd.Series) -> pd.Series:
            _worker_prep()
            import pyarrow as pa
            import pyarrow.compute as pc
            from numpy.lib.stride_tricks import sliding_window_view
            vocab_tokens, bench_h, bitmap, exact_keys = bc.value
            nd = len(texts)
            if not bench_h.size or nd == 0:
                return pd.Series(np.zeros(nd, dtype=bool))
            # tokenize ONCE, entirely in Arrow C kernels (regex split +
            # value-set lookup) — str.join/set-probe per window and
            # python dict gets per token were both measured slower —
            # then one flat numpy flow over the whole batch: windows
            # crossing a doc boundary or touching an unknown token are
            # masked, survivors probe a rolling polynomial hash and the
            # rare hash hits verify by exact id-tuple (id order makes
            # tuple equality string equality, so the output is exact)
            ta = pc.cast(pa.Array.from_pandas(texts), pa.large_string())
            toks = pc.split_pattern_regex(
                pc.utf8_trim(ta, " "), pattern=r"[ \t\n\x0b\f\r]+")
            lens = pc.fill_null(pc.list_value_length(toks), 0) \
                .to_numpy(zero_copy_only=False).astype(np.int64)
            total = int(lens.sum())
            dirty = np.zeros(nd, dtype=bool)
            if total >= n:
                idx = pc.index_in(pc.list_flatten(toks),
                                  value_set=pa.array(
                                      vocab_tokens, pa.large_string()))
                ids = pc.fill_null(idx, -2).to_numpy(
                    zero_copy_only=False).astype(np.int64)
                docpos = np.repeat(np.arange(nd), lens)
                m = total - n + 1
                # flat shifted adds, not an (m, n) window matrix — the
                # 2D copy was the measured hot spot; unknown-token
                # sentinels poison the hash but valid masks them out
                ids1 = (ids + 1).astype(np.uint64)
                h = np.zeros(m, dtype=np.uint64)
                for j in range(n):
                    h += ids1[j:j + m] * weights[j]
                badcum = np.zeros(total + 1, dtype=np.int64)
                np.cumsum(ids < 0, out=badcum[1:])
                valid = ((docpos[:m] == docpos[n - 1:])
                         & (badcum[n:] == badcum[:m]))
                # bitmap prefilter, then exact membership on the rare
                # survivors (bench_h is pre-sorted by np.unique;
                # np.isin would re-sort it per batch)
                mb = np.uint64((1 << 24) - 1)
                cand = np.nonzero(
                    valid & bitmap[(h & mb).astype(np.int64)])[0]
                if cand.size:
                    hc = h[cand]
                    pos = np.searchsorted(bench_h, hc)
                    pos[pos == bench_h.size] = 0
                    cand = cand[bench_h[pos] == hc]
                if cand.size:
                    # exact verify, vectorized: the candidate windows'
                    # id rows against the sorted void-view gram keys
                    win = sliding_window_view(ids, n)
                    wk = (np.ascontiguousarray(win[cand])
                          .astype(np.int32).view(f"V{4 * n}").ravel())
                    pos = np.searchsorted(exact_keys, wk)
                    pos[pos == exact_keys.size] = 0
                    hit = cand[exact_keys[pos] == wk]
                    dirty[np.unique(docpos[hit])] = True
            return pd.Series(dirty)

        return (docs.where(~dirty_udf(F.col(text_col)))
                .select(id_col, F.length(F.col(text_col)).alias("n_chars")))

    bench_grams = (benchmark
                   .select(F.explode_outer(
                       word_ngrams_col(F.col(text_col), n)).alias("g"))
                   .where(F.col("g").isNotNull()).distinct())
    probes = docs.select(
        F.col(id_col), F.explode_outer(
            word_ngrams_col(F.col(text_col), n)).alias("g"))
    dirty = (probes.join(F.broadcast(bench_grams), "g", "left_semi")
             .select(id_col).distinct())
    return (docs.join(dirty, id_col, "left_anti")
            .select(id_col, F.length(F.col(text_col)).alias("n_chars")))


# PII patterns — ASCII-only, identical semantics under Java regex
# (Spark) and RE2 (DuckDB): no lookaround, no unicode classes
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)+"
_IP_RE = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"
_PHONE_RE = r"\+?[0-9][0-9().\- ]{7,}[0-9]"


def pii_redact_df(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """PII scrub (the Dolma / RefinedWeb pre-training stage): count and
    mask emails, IPv4 addresses, and phone-shaped digit runs.

    Redaction is staged email → ip → phone on the progressively
    masked text, because the phone pattern would otherwise also match
    the digit runs inside IPs.  Counts are taken at each stage so
    nothing is double-counted.  Pure regexp Column work — per-row,
    shuffle-free, stays in codegen at any scale.  Returns
    ``(doc_id, n_emails, n_ips, n_phones, redacted_md5)`` — the md5
    stands in for the full redacted body so the oracle can verify the
    exact output text without hauling it through the compare."""
    t0 = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t0, F.lit(_EMAIL_RE), 0))
    t1 = F.regexp_replace(t0, _EMAIL_RE, "<EMAIL>")
    n_ips = F.size(F.regexp_extract_all(t1, F.lit(_IP_RE), 0))
    t2 = F.regexp_replace(t1, _IP_RE, "<IP>")
    n_phones = F.size(F.regexp_extract_all(t2, F.lit(_PHONE_RE), 0))
    t3 = F.regexp_replace(t2, _PHONE_RE, "<PHONE>")
    return docs.select(
        F.col(id_col),
        n_emails.cast("long").alias("n_emails"),
        n_ips.cast("long").alias("n_ips"),
        n_phones.cast("long").alias("n_phones"),
        F.md5(t3).alias("redacted_md5"))


def paragraph_dedup_df(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", sep: str = "\n") -> DataFrame:
    """CCNet-style corpus-wide paragraph dedup (Wenzek et al. 2019):
    split every document on ``sep``, keep each distinct paragraph only
    at its first corpus occurrence (lowest ``(doc_id, idx)``), and
    rebuild the surviving document.  This is the stage that strips
    boilerplate — cookie banners, nav bars, footers — because repeated
    paragraphs lose everywhere except one arbitrary winner.

    Returns ``(doc_id, n_paras, n_kept, kept_md5)`` where ``kept_md5``
    is the md5 of the rebuilt text (kept paragraphs joined by ``sep``
    in original order) — the oracle verifies the exact rebuilt bytes
    without hauling bodies through the compare.

    Plan (100-TB posture): the corpus-wide winner election shuffles
    only ``(md5(para), doc_id, idx)`` — fixed-width rows with map-side
    partial aggregation (``min(struct(doc_id, idx))`` combines
    per-partition), never paragraph text.  The kept-index sets ride
    back to the documents as slim ``array<int>`` rows on the table's
    own primary key, so a source bucketed by ``doc_id`` rebuilds with
    a one-sided shuffle; the rebuild itself is a per-row Column
    ``filter`` by position, shuffle-free."""
    arr = F.split(F.col(text_col), sep)
    slim = docs.select(
        F.col(id_col), F.posexplode(arr).alias("idx", "_p")) \
        .select(id_col, "idx", F.md5("_p").alias("_h"))
    winners = slim.groupBy("_h").agg(
        F.min(F.struct(F.col(id_col).alias("d"),
                       F.col("idx").alias("i"))).alias("w"))
    keep = (slim.join(winners, "_h")
            .where((F.col(id_col) == F.col("w.d")) &
                   (F.col("idx") == F.col("w.i")))
            .select(id_col, "idx"))
    kept_idx = keep.groupBy(id_col).agg(
        F.sort_array(F.collect_list("idx")).alias("_kept"))
    kept_set = F.coalesce(F.col("_kept"), F.array().cast("array<int>"))
    kept_arr = F.filter(arr, lambda p, i: F.array_contains(kept_set, i))
    return (docs.join(kept_idx, id_col, "left")
            .select(F.col(id_col),
                    F.size(arr).cast("long").alias("n_paras"),
                    F.size(kept_arr).cast("long").alias("n_kept"),
                    F.md5(F.array_join(kept_arr, sep)).alias("kept_md5")))


def domain_stats_df(pages: DataFrame, url_col: str = "url",
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-host crawl aggregates — the table a curation run consults
    for domain-level decisions (host blocklists, C4's per-domain
    caps, RefinedWeb's "head/middle/tail" domain buckets): page count,
    distinct canonical paths, total bytes of text, mean document
    length in words.

    Plan: one map-side projection to slim ``(host, md5(path), n_chars,
    n_words)`` rows, one partially-aggregated groupBy on host.  Host
    cardinality is millions (not billions) at crawl scale, so the
    result is broadcast-joinable back to the corpus for the actual
    filter stage."""
    canon = canonicalize_url_col(F.col(url_col))
    slim = pages.select(
        F.regexp_extract(canon, r"^[^/]*//([^/:]+)", 1).alias("host"),
        F.md5(F.regexp_replace(canon, r"^[^/]*//[^/]*", "")).alias("_p"),
        F.length(F.col(text_col)).alias("_nc"),
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")).alias("_nw"))
    return (slim.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.countDistinct("_p").alias("n_unique_paths"),
        F.sum("_nc").cast("long").alias("total_chars"),
        # mean doc length in integer micro-words (floor), per the repo's
        # integer-micro-unit doctrine: no float ever crosses a hash gate
        F.expr("CAST(sum(_nw) AS BIGINT) * 1000000 DIV count(1)")
        .alias("avg_doc_words_micro")))


def c4_line_filter_df(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): keep
    only lines that end in terminal punctuation, have ≥5 words, and
    don't carry boilerplate markers (``javascript``/``cookie``/
    ``lorem ipsum``); a document survives if ≥3 lines remain and it
    contains no ``{`` (the code filter).

    Returns ``(doc_id, n_lines, n_kept_lines, keep_doc, kept_md5)``
    with ``kept_md5`` pinning the exact rebuilt text.  Pure per-row
    Column work — higher-order ``filter`` over the line array, no
    shuffle at any scale."""
    lines = F.split(F.col(text_col), "\n")

    def _ok(line):
        low = F.lower(line)
        return ((F.size(F.split(F.trim(line), r"\s+")) >= 5) &
                line.rlike(r'[.!?"]\s*$') &
                ~low.contains("javascript") & ~low.contains("cookie") &
                ~low.contains("lorem ipsum"))

    kept = F.filter(lines, _ok)
    keep_doc = (F.size(kept) >= 3) & (~F.col(text_col).contains("{"))
    return docs.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        keep_doc.cast("int").alias("keep_doc"),
        F.md5(F.array_join(kept, "\n")).alias("kept_md5"))


def domain_cap_df(pages: DataFrame, max_per_host: int = 1000,
                  url_col: str = "url", id_col: str = "doc_id") -> DataFrame:
    """C4-style per-domain cap: keep at most ``max_per_host`` pages per
    canonical host, lowest ``doc_id`` first (deterministic).  Returns
    the kept ``(doc_id, host, host_rank)`` rows.

    Plan (100-TB posture): the shuffle carries only ``(md5-able host,
    doc_id)``; host cardinality at crawl scale is millions, so the
    window partitions are balanced — a single pathological megahost is
    the known skew case, and since only the ``max_per_host`` lowest
    ids survive, a real deployment pre-filters such hosts with the
    same rank-limit pushed into a per-partition top-N (Spark's window
    TopN optimization already avoids the full sort when a rank filter
    is adjacent to the window)."""
    host = F.regexp_extract(canonicalize_url_col(F.col(url_col)),
                            r"^[^/]*//([^/:]+)", 1)
    w = Window.partitionBy("host").orderBy(id_col)
    return (pages.select(F.col(id_col), host.alias("host"))
            .withColumn("host_rank",
                        F.row_number().over(w).cast("long"))
            .where(F.col("host_rank") <= max_per_host))


def split_df(docs: DataFrame, splits: dict[str, int] | None = None,
             id_col: str = "doc_id", salt: str = "split") -> DataFrame:
    """Deterministic train/val/test assignment: the salted 60-bit md5
    of the id lands in ``[0, 1e6)`` and cumulative integer thresholds
    (in sorted split-name order) carve the buckets, so membership is
    reproducible across runs, engines, and partitionings — never
    ``rand()``, which resamples per execution.  Default 98/1/1.
    Returns ``(doc_id, bucket, split)``.  Pure codegen Column work,
    shuffle-free at any scale."""
    splits = splits or {"train": 980000, "val": 10000, "test": 10000}
    total = sum(splits.values())
    if total != 1000000:
        raise ValueError(f"split weights must sum to 1e6, got {total}")
    bucket = F.conv(F.substring(F.md5(F.concat(
        F.lit(salt + ":"), F.col(id_col).cast("string"))), 1, 15),
        16, 10).cast("long") % 1000000
    expr, acc = None, 0
    for name, weight in sorted(splits.items()):
        acc += weight
        cond = bucket < acc
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    # thresholds ordered by sorted name; the chained when() takes the
    # FIRST matching cumulative bound, so each name gets its exact slice
    return docs.select(F.col(id_col), bucket.alias("bucket"),
                       expr.alias("split"))


def pack_sequences_df(docs: DataFrame, seq_len: int = 2048,
                      n_shards: int = 8, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """GPT-style sequence packing: token streams are concatenated in
    ``doc_id`` order within a shard and chunked into fixed
    ``seq_len``-token context windows (documents may span a window
    boundary — the standard concat-and-chunk pretraining layout).
    Per document, reports which windows of its shard it lands in:
    ``(doc_id, shard, n_tokens, first_seq, last_seq, offset_in_seq)``.

    Plan (100-TB posture): ONE shuffle on ``shard = doc_id % n_shards``
    followed by a per-shard running sum — the window partitions by
    shard, never by the whole corpus, so there is no single-reducer
    stage; pick ``n_shards ≈ corpus_tokens / desired_shard_tokens``
    and every shard packs independently (shard boundaries are also
    resume/checkpoint boundaries in a real run).  Only
    ``(doc_id, n_tokens)`` crosses the wire — token counting itself is
    per-row Column work that stays in codegen.  All the window math is
    int64 (``div``/``%``), so the DuckDB oracle twin (``//``) matches
    bit-for-bit at any magnitude."""
    from .text import token_count_col

    w = (Window.partitionBy("shard").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    slim = docs.select(
        F.col(id_col),
        (F.col(id_col) % n_shards).alias("shard"),
        token_count_col(F.col(text_col)).cast("long").alias("n_tokens"))
    cum = slim.withColumn("_after", F.sum("n_tokens").over(w)) \
              .withColumn("_before", F.col("_after") - F.col("n_tokens"))
    first_seq = F.expr(f"_before div {seq_len}")
    last_seq = F.when(F.col("n_tokens") > 0,
                      F.expr(f"(_after - 1) div {seq_len}")) \
                .otherwise(first_seq)
    return cum.select(
        F.col(id_col), F.col("shard").cast("long").alias("shard"),
        "n_tokens",
        first_seq.cast("long").alias("first_seq"),
        last_seq.cast("long").alias("last_seq"),
        (F.col("_before") % seq_len).cast("long").alias("offset_in_seq"))


def mixture_sample_df(docs: DataFrame, weights: dict[str, int],
                      domain_col: str = "lang", id_col: str = "doc_id",
                      salt: str = "mix") -> DataFrame:
    """Deterministic domain-mixture subsampling (the DoReMi / Pile-style
    stage that reweights a crawl toward target domain proportions):
    given integer target weights per domain, compute the largest
    achievable total that respects the mixture, derive a per-domain
    keep rate in parts-per-million, and keep a document iff its salted
    hash falls under its domain's rate.  Domains absent from
    ``weights`` are dropped.  Returns kept ``(doc_id, domain, ppm)``.

    All arithmetic is int64 — scaled total ``T = min_s(n_s*W div w_s)``,
    target ``k_s = w_s*T div W``, rate ``ppm_s = k_s*1e6 div n_s``, and
    the keep test ``md5_60bit(salt:id) % 1e6 < ppm_s`` — so the DuckDB
    twin reproduces the exact kept set (no float rounding anywhere).

    Plan (100-TB posture): one partially-aggregated count per domain
    (domain cardinality is tiny), a ``broadcast`` join of the rate
    table back onto the corpus, and a per-row codegen hash filter —
    no corpus-wide shuffle at all."""
    wts = F.create_map(*[x for k, v in sorted(weights.items())
                         for x in (F.lit(k), F.lit(int(v)))])
    w_total = sum(int(v) for v in weights.values())
    counts = (docs.where(F.col(domain_col).isin(*weights.keys()))
              .groupBy(domain_col).agg(F.count(F.lit(1)).alias("n")))
    scaled = counts.select(
        F.col(domain_col), F.col("n"),
        F.expr(f"n * {w_total}").alias("_nw"),
        wts[F.col(domain_col)].alias("_w"))
    rates = (scaled
             .withColumn("_t", F.expr("_nw div _w"))
             .withColumn("_tmin", F.min("_t").over(
                 Window.partitionBy(F.lit(1))))
             .select(F.col(domain_col),
                     F.expr(f"((_w * _tmin) div {w_total}) * 1000000 div n")
                     .alias("ppm")))
    u = F.conv(F.substring(F.md5(F.concat(
        F.lit(salt + ":"), F.col(id_col).cast("string"))), 1, 15),
        16, 10).cast("long") % 1000000
    return (docs.join(F.broadcast(rates), domain_col)
            .where(u < F.col("ppm"))
            .select(F.col(id_col), F.col(domain_col).alias("domain"),
                    F.col("ppm")))


def substring_dedup_df(docs: DataFrame, span_len: int = 16,
                       stride: int = 8, text_col: str = "text",
                       id_col: str = "doc_id",
                       arrow: bool = True) -> DataFrame:
    """Exact-substring duplication stats (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): sample each document's
    ``span_len``-token spans at every ``stride`` tokens, count span
    occurrences corpus-wide, and report per document how much of it is
    duplicated text — ``(doc_id, n_spans, n_dup_spans, dup_frac,
    keep)`` where a span is duplicated if its hash occurs more than
    once anywhere (including within the same document) and ``keep``
    applies the 30%-duplicated cutoff.

    This is the bounded-memory stand-in for the paper's suffix array:
    stride sampling guarantees any duplicated run of
    ``span_len + stride - 1`` tokens is caught, while emitting only
    ``n_tokens/stride`` fixed-width probes per document.

    Plan (100-TB posture): spans ship as ``(doc_id, md5(span))`` —
    fixed-width rows, never text; the occurrence count is one
    partially-aggregated groupBy; the join back is hash-on-hash with
    both sides already slim.  The n-gram emission reuses the Arrow
    emitter (`word_ngrams_col`), so no interpreted HOF in the hot
    path."""
    spans = (docs.select(
        F.col(id_col),
        F.posexplode(word_ngrams_col(F.col(text_col), span_len,
                                     arrow=arrow))
         .alias("_i", "_g"))
        .where(F.col("_i") % stride == 0)
        .select(id_col, F.md5("_g").alias("_h")))
    occ = spans.groupBy("_h").agg(F.count(F.lit(1)).alias("_c"))
    per_doc = (spans.join(occ, "_h")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_spans"),
                    F.sum((F.col("_c") > 1).cast("long"))
                     .alias("n_dup_spans")))
    dup_frac = F.round(F.col("n_dup_spans") /
                       F.greatest(F.col("n_spans"), F.lit(1)), 6)
    return (docs.select(id_col).join(per_doc, id_col, "left")
            .na.fill({"n_spans": 0, "n_dup_spans": 0})
            .select(F.col(id_col), "n_spans", "n_dup_spans",
                    dup_frac.alias("dup_frac"),
                    (F.col("n_dup_spans") * 10 <=
                     F.col("n_spans") * 3).cast("int").alias("keep")))


def quality_classifier_df(docs: DataFrame, dim: int = 1024,
                          text_col: str = "text", id_col: str = "doc_id",
                          salt: str = "qw") -> DataFrame:
    """Hashing-trick linear quality scorer — the fastText-shaped
    classifier stage (CCNet / LLaMA-style "looks like Wikipedia"
    filtering) with deterministic pseudo-weights standing in for
    trained ones (the container has no model artifacts; swapping in a
    real weight table keeps the identical plan): each token hashes to
    one of ``dim`` buckets, each bucket carries an integer weight in
    ``[-1e6, 1e6]`` derived from ``md5(salt:bucket)``, and the document
    score is the mean bucket weight over its tokens.

    Integer weights make the reduction an int64 sum — order-independent
    and therefore bit-exact against the DuckDB twin (a float sum would
    depend on reduction order).  Returns ``(doc_id, n_tokens,
    score_sum, score, keep)`` with ``score = score_sum/(1e6·n_tokens)``
    rounded at 6 and ``keep = score_sum > 0``.

    Plan (100-TB posture): explode to slim ``(doc_id, int)`` rows, one
    partially-aggregated groupBy on the table's own key, left join back
    for token-less documents — hashing stays in JVM codegen (md5 +
    conv), no Python anywhere."""
    tok = F.explode(F.filter(tokens_col(F.col(text_col)),
                             lambda t: t != "")).alias("_t")
    bucket = F.conv(F.substring(F.md5(F.col("_t")), 1, 15),
                    16, 10).cast("long") % dim
    w_int = (F.conv(F.substring(F.md5(F.concat(
        F.lit(salt + ":"), bucket.cast("string"))), 1, 15),
        16, 10).cast("long") % 2000001) - 1000000
    per_doc = (docs.select(F.col(id_col), tok)
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_tokens"),
                    F.sum(w_int).alias("score_sum")))
    return (docs.select(id_col).join(per_doc, id_col, "left")
            .na.fill({"n_tokens": 0, "score_sum": 0})
            .select(F.col(id_col), "n_tokens", "score_sum",
                    F.round(F.col("score_sum") /
                            (1e6 * F.greatest(F.col("n_tokens"), F.lit(1))),
                            6).alias("score"),
                    (F.col("score_sum") > 0).cast("int").alias("keep")))


def tfidf_topk_df(docs: DataFrame, k: int = 3, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Top-``k`` TF-IDF terms per document (smooth idf
    ``ln((1+N)/(1+df)) + 1``), deterministic tie-break by term.

    Plan: explode slim ``(doc_id, term)`` pairs once; document
    frequency is a per-term aggregate small enough to broadcast back;
    the per-doc top-k is a window over the doc's own terms.  Scores
    are rounded to 6 decimals *before* ranking so the DuckDB oracle
    ranks identically."""
    n_docs = docs.count()  # one lightweight job; the N in idf
    terms = (docs.select(id_col, F.explode(tokens_col(F.col(text_col)))
                         .alias("term"))
             .groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")))
    df_tbl = terms.groupBy("term").agg(
        F.countDistinct(id_col).alias("df"))
    scored = (terms.join(F.broadcast(df_tbl), "term")
              .withColumn("score", F.round(
                  F.col("tf") * (F.log((1.0 + n_docs) / (1.0 + F.col("df")))
                                 + F.lit(1.0)), 6)))
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(id_col, "term", "tf", "score",
                    F.col("rank").cast("long").alias("rank")))


def lm_score_df(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", exact_terciles: bool = False,
                broadcast_vocab: bool = True) -> DataFrame:
    """CCNet-style unigram language-model scoring: train token counts
    on the corpus itself, score each document by Laplace-smoothed
    negative log likelihood per token, and bucket the corpus into
    ``head`` / ``middle`` / ``tail`` perplexity terciles (CCNet keeps
    head+middle for LM training; tail is the noisy third).

    Reference: CCNet (Wenzek et al. 2020) scores with a pretrained
    KenLM; no pretrained model ships in this environment, so the LM is
    the corpus's own unigram distribution — the distributed-training
    shape (count shuffle) is the part that matters at 100 TB.

    Plan, in order:
    1. ``(doc_id, term) -> tf``: one explode + groupBy with map-side
       combine — the only shuffle proportional to token count, and it
       carries 3 slim columns, never document bodies.
    2. vocabulary ``term -> count``: aggregate of (1), map-side
       combined; broadcast back when it fits (web-scale vocabularies
       with a min-count floor are ~10^7 rows ≈ low GBs — pass
       ``broadcast_vocab=False`` to fall back to a shuffled hash join
       on ``term``).
    3. per-doc nll: ``sum(tf * -ln((c+1)/(N+V))) / sum(tf)`` — partial
       aggregation again; N and V ride in as a broadcast 1-row cross
       join, not a driver collect.
    4. tercile thresholds over the rounded nll: ``approx_percentile``
       (tree-aggregated sketch, the 100-TB path) by default;
       ``exact_terciles=True`` switches to exact ``percentile`` —
       interpolation-identical to DuckDB ``quantile_cont`` — which the
       correctness oracle uses (exact percentile materializes the
       per-doc nll list on one task: fine at test scale, not the
       default).

    nll is rounded to 6 decimals BEFORE the tercile computation so the
    oracle thresholds cut at identical doubles."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    tf = (docs.select(F.col(id_col), F.explode(toks).alias("term"))
          .groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")))
    vocab = tf.groupBy("term").agg(F.sum("tf").alias("c"))
    tot = vocab.agg(F.sum("c").alias("n_total"),
                    F.count(F.lit(1)).alias("v_size"))
    vj = F.broadcast(vocab) if broadcast_vocab else vocab
    nll_term = F.col("tf") * -F.log(
        (F.col("c") + 1.0) / (F.col("n_total") + F.col("v_size")))
    nll = (tf.join(vj, "term").crossJoin(F.broadcast(tot))
           .groupBy(id_col)
           .agg(F.sum("tf").cast("long").alias("n_tokens"),
                F.round(F.sum(nll_term) / F.sum("tf"), 6).alias("nll")))
    if exact_terciles:
        thr = nll.agg(F.percentile("nll", F.lit(1.0 / 3)).alias("t1"),
                      F.percentile("nll", F.lit(2.0 / 3)).alias("t2"))
    else:
        thr = nll.agg(
            F.percentile_approx("nll", F.lit(1.0 / 3), 10000).alias("t1"),
            F.percentile_approx("nll", F.lit(2.0 / 3), 10000).alias("t2"))
    return (nll.crossJoin(F.broadcast(thr))
            .select(F.col(id_col), "n_tokens", "nll",
                    F.round(F.exp("nll"), 6).alias("ppl"),
                    F.when(F.col("nll") <= F.col("t1"), "head")
                     .when(F.col("nll") <= F.col("t2"), "middle")
                     .otherwise("tail").alias("bucket")))


def corpus_profile_df(docs: DataFrame,
                      group_cols: tuple[str, ...] = ("lang", "source"),
                      size_col: str = "n_chars") -> DataFrame:
    """Per-(lang, source) corpus profiling — the first table a data
    audit produces before any filtering decision: document counts,
    size totals, and the exact quartiles of document length (the
    distribution shape drives truncation/packing choices downstream).

    Plan: ONE partially-aggregated groupBy over slim projected rows;
    count/sum/min/max combine map-side, and exact ``percentile`` is a
    per-group sort of a numeric column only (never text).  Group
    cardinality is |langs|×|sources| — thousands, not billions — so
    the result always fits a broadcast back to the corpus.  Quartile
    fractions are binary-exact (0.25/0.5/0.75), so the linear
    interpolation matches any engine bit-for-bit on integer inputs."""
    s = F.col(size_col)
    return (docs.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(s).cast("long").alias("total_chars"),
        F.min(s).cast("long").alias("min_chars"),
        F.round(F.percentile(s, F.lit(0.25)), 6).alias("p25_chars"),
        F.round(F.percentile(s, F.lit(0.5)), 6).alias("median_chars"),
        F.round(F.percentile(s, F.lit(0.75)), 6).alias("p75_chars"),
        F.max(s).cast("long").alias("max_chars"),
        F.round(F.avg(s), 6).alias("avg_chars")))


def prefix_fingerprint_col(text: Column, n_tokens: int = 8) -> Column:
    """md5 of the first ``n_tokens`` whitespace tokens — the cheap
    "prefix dedup" fingerprint crawl pipelines use to catch mirrored /
    templated pages whose bodies diverge after the boilerplate head."""
    return F.md5(F.array_join(
        F.slice(F.split(text, r"\s+"), 1, n_tokens), " "))


def incremental_dedup_df(incoming: DataFrame, base: DataFrame,
                         fp: Column | None = None,
                         id_col: str = "doc_id") -> DataFrame:
    """Snapshot-incremental dedup: given a ``base`` corpus already
    ingested and an ``incoming`` batch, flag each incoming document as
    seen-in-base and pick one keeper per new fingerprint (lowest id) —
    the shape every periodically-refreshed crawl ingest runs, instead
    of re-deduplicating the full corpus each snapshot.

    Plan: the base side reduces to ``distinct(fp)`` — 16-byte rows
    with map-side partial aggregation; document bodies never leave
    their scan on either side.  The probe is one hash join on fp plus
    one slim ``groupBy(fp).min(id)`` for first-in-batch selection.  At
    100 TB the base fingerprint set is still orders smaller than the
    corpus (and bucketable by fp for a shuffle-free join against a
    bucketed ingest)."""
    if fp is None:
        fp = prefix_fingerprint_col(F.col("text"))
    inc = incoming.select(F.col(id_col), fp.alias("fp"))
    seen = base.select(fp.alias("fp")).distinct() \
               .withColumn("in_base", F.lit(1))
    first = inc.groupBy("fp").agg(F.min(id_col).alias("_first_id"))
    return (inc.join(seen, "fp", "left").join(first, "fp")
            .select(F.col(id_col), "fp",
                    F.coalesce("in_base", F.lit(0)).alias("in_base"),
                    ((F.coalesce("in_base", F.lit(0)) == 0) &
                     (F.col(id_col) == F.col("_first_id")))
                    .cast("int").alias("keep")))


def _nb_tokens(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


def _nb_counts(train: DataFrame, label_col: str,
               text_col: str) -> DataFrame:
    """Per-(label, term) token counts — the one heavy aggregate both
    halves of the NB model derive from.  ``nb_classify_df`` passes the
    SAME DataFrame to both so the physical plans' exchange subtrees
    canonicalize equal and Spark's ReuseExchange runs the explode +
    partial-aggregate + shuffle once."""
    terms = (train.select(F.col(label_col).alias("label"),
                          F.explode(_nb_tokens(F.col(text_col)))
                          .alias("term"))
             .where(F.col("term") != ""))
    return terms.groupBy("label", "term").agg(
        F.count(F.lit(1)).alias("n_tc"))


def nb_train_df(train: DataFrame, label_col: str = "lang",
                text_col: str = "text",
                counts: DataFrame | None = None) -> DataFrame:
    """Train a multinomial Naive-Bayes text classifier as ONE
    DataFrame job — the distributed stand-in for the fastText-style
    labeler a curation run trains on the cluster (CCNet / DCLM use
    exactly this shape to score quality or language).  Returns one row
    per (label, term): the raw count and the Laplace-smoothed
    log-conditional ``ln((n_tc+1)/(n_c+V))`` scaled to int64
    micro-units, so every downstream reduction is order-independent
    across engines (the bm25 determinism rule).

    Plan: explode to slim (label, term) rows, one partially-aggregated
    groupBy; class totals and vocabulary size are 1-row/of-C-rows
    aggregates cross-joined back — no collect, no window."""
    ct = counts if counts is not None else _nb_counts(
        train, label_col, text_col)
    tot = ct.groupBy("label").agg(F.sum("n_tc").alias("n_c"))
    v = ct.agg(F.countDistinct("term").alias("v"))
    lp = F.log((F.col("n_tc") + 1.0) / (F.col("n_c") + F.col("v")))
    return (ct.join(tot, "label").crossJoin(F.broadcast(v))
            .select("label", "term", "n_tc",
                    F.round(lp * 1e6).cast("long").alias("lp")))


def nb_class_df(train: DataFrame, label_col: str = "lang",
                text_col: str = "text",
                counts: DataFrame | None = None) -> DataFrame:
    """Per-class side of the NB model: log prior ``ln(n_docs_c/N)``
    and the unseen-term default ``ln(1/(n_c+V))``, micro-unit int64.
    C rows — always broadcastable."""
    ct = counts if counts is not None else _nb_counts(
        train, label_col, text_col)
    tot = ct.groupBy("label").agg(F.sum("n_tc").alias("n_c"))
    v = ct.agg(F.countDistinct("term").alias("v"))
    dc = train.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("nd"))
    n = train.agg(F.count(F.lit(1)).alias("n"))
    # LEFT join: a class whose training docs contain no tokens (all
    # empty/whitespace) must still classify — it scores prior-only
    # (token mass 0 when n_c + V = 0, found by hypothesis; an inner
    # join silently dropped the class from the argmax).
    n_c = F.coalesce(F.col("n_c"), F.lit(0))
    return (dc.join(tot, "label", "left").crossJoin(F.broadcast(v))
            .crossJoin(F.broadcast(n))
            .select(
                "label",
                F.round(F.log(F.col("nd") * 1.0 / F.col("n")) * 1e6)
                .cast("long").alias("prior"),
                F.when(n_c + F.col("v") > 0,
                       F.round(F.log(1.0 / (n_c + F.col("v"))) * 1e6)
                       .cast("long"))
                .otherwise(F.lit(0).cast("long")).alias("def_lp")))


def nb_classify_df(docs: DataFrame, train: DataFrame,
                   label_col: str = "lang", text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Score ``docs`` with an NB model trained on ``train``: per doc,
    argmax over classes of ``prior + Σ tf·lp(term|class)`` (unseen
    terms take the class default).  Ties break on the lexicographically
    smallest label.  Returns ``(id_col, pred, nb_logprob)``.

    Plan: the corpus side explodes tokens STRAIGHT off the document
    scan — no (doc, term) tf pre-aggregation.  That keeps every
    document's token rows contiguous inside their scan partition, so
    the per-(doc, class) partial aggregation collapses them to C rows
    per doc BEFORE the exchange (the tf-grouped variant scattered each
    doc across the cluster and shipped every token×class row: measured
    3.9 s → 7.0 s anti-scaling on the 4×8 grid, vs map-rate scaling
    for this shape).  Σ lp over occurrences equals Σ tf·lp exactly in
    integer micro-units, so the result is unchanged.  The class table
    crosses (C rows) and the term model broadcasts (at web scale the
    model is millions of rows — swap the broadcast for a shuffle join
    on term, everything else unchanged); the final argmax is a C-row
    window per doc."""
    ct = _nb_counts(train, label_col, text_col)
    model = nb_train_df(train, label_col, text_col, counts=ct)
    classes = nb_class_df(train, label_col, text_col, counts=ct)
    tok = (docs.select(F.col(id_col),
                       F.explode(_nb_tokens(F.col(text_col)))
                       .alias("term"))
           .where(F.col("term") != ""))
    sc = (tok.crossJoin(F.broadcast(classes))
          .join(F.broadcast(model.select("label", "term", "lp")),
                ["label", "term"], "left")
          .groupBy(id_col, "label")
          .agg((F.sum(F.coalesce("lp", "def_lp")) +
                F.first("prior")).alias("s")))
    w = Window.partitionBy(id_col).orderBy(F.col("s").desc(),
                                           F.col("label").asc())
    return (sc.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(F.col(id_col), F.col("label").alias("pred"),
                    F.round(F.col("s") / 1e6, 6).alias("nb_logprob")))


def topk_ngrams_df(docs: DataFrame, n: int = 2, k: int = 50,
                   text_col: str = "text") -> DataFrame:
    """Corpus-wide top-``k`` word n-grams by occurrence count — the
    vocabulary-seeding / boilerplate-discovery aggregate (tokenizer
    merges start from exactly this table).  Deterministic at the
    boundary: ties order by gram ascending.

    Plan: one explode of the shared ``word_ngrams_col`` emitter, one
    partially-aggregated groupBy on the gram, and a global top-k that
    Spark executes as TakeOrderedAndProject (per-partition heaps, no
    full sort, no single-partition shuffle of the count table)."""
    grams = docs.select(
        F.explode(word_ngrams_col(F.col(text_col), n)).alias("gram"))
    counts = grams.groupBy("gram").agg(
        F.count(F.lit(1)).alias("n_occurrences"))
    return (counts.orderBy(F.col("n_occurrences").desc(),
                           F.col("gram").asc())
            .limit(k))


def chunk_documents_df(docs: DataFrame, chunk_tokens: int = 128,
                       overlap: int = 32, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Split each document into overlapping token windows (the
    RAG/embedding-training chunker): window i covers tokens
    ``[i*stride, i*stride + chunk_tokens)`` with
    ``stride = chunk_tokens - overlap``; the last window is the
    remainder (never empty, docs shorter than one chunk yield one
    chunk).  Returns ``(id_col, chunk_idx, n_tokens, chunk_text)``.

    Pure Column HOFs over the token array — shuffle-free,
    embarrassingly parallel, stays in whole-stage codegen; each chunk
    re-joins its tokens with single spaces (i.e. chunking is defined on
    the TOKEN stream, the way the downstream tokenizer consumes it, not
    on raw bytes)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    w = tokens_col(F.col(text_col))
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size(w) - F.lit(chunk_tokens)) / F.lit(stride)) + 1)
    chunks = F.transform(
        F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
        lambda i: F.struct(
            i.cast("long").alias("chunk_idx"),
            F.slice(w, i * stride + 1, chunk_tokens).alias("_t")))
    return (docs.select(F.col(id_col), F.explode(chunks).alias("c"))
            .select(id_col, "c.chunk_idx",
                    F.size("c._t").cast("long").alias("n_tokens"),
                    F.array_join("c._t", " ").alias("chunk_text")))
