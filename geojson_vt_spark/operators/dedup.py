"""Deduplication suite for web-scale corpora.

Five strategies, all shuffle-conscious:
- exact:        hash group on the content column (one shuffle);
- minhash-LSH:  shingle → K minhash slots → B bands → band-bucket
                self-join → exact Jaccard verify (candidates only);
- simhash:      64-bit sign-of-sum signature, banded hamming candidates;
- ngram-Jaccard: exact token-shingle Jaccard on candidate pairs;
- embedding:    cosine near-dup via random-hyperplane buckets.

String/bit hashing stays JVM-side (xxhash64 / md5 Column expressions);
the per-element array passes (shingling, minhash slot minima) run as
Arrow-batched pandas UDFs with Column-expression SPECS kept for the
SQL oracle — interpreted higher-order-function lambdas sit outside
codegen and cost ~10-25µs per element, which measured as the dominant
term of both stages.  Candidate generation is ONE grouping of slim
(id, band, bucket) rows per strategy; no per-row Python anywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from .._worker import _worker_prep

# Mersenne-31: keeps a·h + b within int64 under ANSI overflow checking
_MERSENNE = (1 << 31) - 1


def _spread(df: DataFrame) -> DataFrame:
    """Rebalance a narrow input before per-row heavy map work.

    Small corpora arrive as one parquet file -> one partition, which
    would serialize the whole signature stage onto a single core; a
    round-robin repartition of the (cheap, pre-shingle) rows fixes that.
    Inputs already wider than half the default parallelism are left
    untouched — at real scale the scan supplies the parallelism.

    Width is estimated from the scan's file list (no RDD conversion, no
    job); non-file inputs (unions, post-shuffle frames) inherited their
    parallelism from upstream and pass through."""
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files and len(files) < par // 2:
        return df.repartition(par)
    return df


def exact_dedup(df: DataFrame, content_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per identical content.

    The shuffle key is a 128-bit map-side fingerprint (md5), never the
    text itself: the winner pass moves only (fp, id) through its
    exchange and gets hash-aggregate partial combining (a window over
    the raw text would ship every byte of the corpus and disable
    map-side aggregation).  The semi join back re-attaches full rows
    to the winning ids only — the same shape ``minhash_dedup``'s
    pre-collapse uses."""
    winners = (df.groupBy(F.md5(F.col(content_col)).alias("_fp"))
               .agg(F.min(id_col).alias(id_col))
               .select(id_col))
    return df.join(winners, id_col, "left_semi")


def shingles_col(text: Column, n: int = 3, words: bool = True,
                 arrow: bool = True) -> Column:
    """Distinct n-gram shingles (word-level by default) as an array.

    The Column expression (``arrow=False``) is the SQL-portable SPEC —
    the DuckDB oracle replicates it.  The default Arrow path computes
    the identical shingle list in one pandas batch: interpreted
    higher-order-function lambdas cost ~10µs per element (they sit
    outside codegen), which made shingling ~70% of the whole minhash
    wall at bench scale.  Parity of the two paths is pinned by
    ``tests/test_operators.py::test_shingles_arrow_matches_column``
    down to Java-regex whitespace classes (``\\s`` is ASCII-only in
    Java, unicode in Python) and Spark ``trim``'s space-only trimming.
    """
    if words and arrow:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("array<string>")
        def sh_udf(texts: pd.Series) -> pd.Series:
            _worker_prep()
            import re
            ws = re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s, not Python \s
            out = []
            for t in texts:
                toks = ws.split(t.strip(" ").lower())  # trim = spaces only
                hi = max(len(toks) - n, 0)
                seen: set = set()
                res: list = []
                for i in range(hi + 1):
                    s = " ".join(toks[i:i + n])
                    if s not in seen:
                        seen.add(s)
                        res.append(s)
                out.append(res)
            return pd.Series(out)

        return sh_udf(text)
    if words:
        toks = F.split(F.trim(F.lower(text)), r"\s+")
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
        sh = F.transform(idx, lambda i: F.concat_ws(
            " ", F.slice(toks, i + 1, n)))
    else:
        idx = F.sequence(F.lit(1), F.greatest(
            F.length(text) - (n - 1), F.lit(1)))
        sh = F.transform(idx, lambda i: F.substring(text, i, n))
    return F.array_distinct(sh)


def _hash_params(num_hashes: int, seed: int = 42):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_hashes, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=num_hashes, dtype=np.int64)
    return a, b


def _md5_int_col(c: Column) -> Column:
    """First 60 bits of md5 as a non-negative int64 — the portable hash:
    md5 exists in both Spark and DuckDB with identical hex output, so
    signatures built on it are oracle-checkable cross-engine."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def shingle_hashes_col(shingles: Column, hash_fn: str = "xx") -> Column:
    """One hash pass over the shingle strings → int array.  Hashing the
    strings once and deriving every minhash slot from the ints is the
    difference between K string-hash passes and one (the strings never
    reach the per-slot work).

    ``hash_fn``: "xx" (xxhash64, fastest JVM path, default) or "md5"
    (portable across engines — used by the driver-oracle queries)."""
    if hash_fn == "md5":
        return F.transform(shingles,
                           lambda s: F.pmod(_md5_int_col(s), F.lit(_MERSENNE)))
    return F.transform(shingles,
                       lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE)))


def minhash_signature_col(hashed: Column, num_hashes: int = 32,
                          seed: int = 42) -> Column:
    """K-slot minhash signature over pre-hashed shingles: per slot,
    min over shingles of (a·h+b) mod M.

    Spark evaluates higher-order-function lambdas interpreted (they sit
    outside whole-stage codegen), so K array passes per row cost ~25µs
    per element; an Arrow-batched pandas UDF does the whole (K × n)
    affine-min in one numpy broadcast per row instead — ~100× less CPU
    for the same result."""
    from pyspark.sql.functions import pandas_udf

    a, b = _hash_params(num_hashes, seed)
    a2 = a[:, None]
    b2 = b[:, None]

    @pandas_udf("array<long>")
    def mh(hs: pd.Series) -> pd.Series:
        _worker_prep()
        out = []
        for h in hs:
            hv = np.asarray(h, dtype=np.int64)
            if hv.size == 0:
                out.append(np.full(len(a), _MERSENNE, dtype=np.int64))
                continue
            v = (a2 * hv[None, :] + b2) % _MERSENNE
            out.append(v.min(axis=1))
        return pd.Series(out)

    return mh(hashed)


def minhash_lsh_pairs(df: DataFrame, content_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 32,
                      bands: int = 8, shingle_n: int = 3,
                      threshold: float = 0.5, seed: int = 42,
                      hash_fn: str = "xx",
                      bucket_cap: int | None = 1000) -> DataFrame:
    """Candidate near-duplicate pairs via banded minhash, verified with
    exact shingle Jaccard.  Returns (id_a, id_b, jaccard), id_a < id_b."""
    rows_per_band = num_hashes // bands
    bucket_hash = (_md5_int_col if hash_fn == "md5"
                   else F.xxhash64)
    sig = (_spread(df)
           .select(F.col(id_col).alias("id"),
                   shingles_col(F.col(content_col), shingle_n).alias("sh"))
           .where(F.size("sh") > 0)
           .withColumn("hs", shingle_hashes_col(F.col("sh"), hash_fn))
           .withColumn("sig", minhash_signature_col(F.col("hs"), num_hashes,
                                                    seed))
           .drop("hs"))
    # the signature stage feeds BOTH the band explode and the verify-
    # side shingle re-attach; an A/B with .persist() measured NO win at
    # bench scale (cache materialization offsets the recompute), so the
    # plan stays cache-free — at corpus scale the right call is to
    # checkpoint signatures to storage once and run many band configs
    # against them, which callers do by persisting `df` themselves

    # the band self-join moves only (id, band, bucket) through the
    # shuffle; the heavy shingle arrays are re-attached to the few
    # surviving candidate pairs afterwards
    banded = sig.select(
        "id",
        F.explode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda bnd: F.struct(
                bnd.alias("band"),
                bucket_hash(F.concat_ws(
                    ",", F.slice("sig", bnd * rows_per_band + 1, rows_per_band)
                )).alias("bucket")))).alias("bk"))

    # candidate pairs via ONE grouping of the slim (id, band, bucket)
    # rows: collect each bucket's sorted id list, cap it, and emit the
    # in-bucket combinations with an array expression — one exchange
    # where the window-count + self-join shape needed two passes over
    # the banded rows.  sort_array makes id_a < id_b deterministic.
    lhs = banded.select("id", F.col("bk.band").alias("band"),
                        F.col("bk.bucket").alias("bucket"))
    grouped = (lhs.groupBy("band", "bucket")
               .agg(F.sort_array(F.collect_list("id")).alias("ids"))
               .where(F.size("ids") >= 2))
    if bucket_cap is not None:
        # mega-bucket guard: an over-full bucket is a near-dup CLUSTER
        # whose pairs re-surface in other bands' smaller buckets (exact
        # duplicates are collapsed first in minhash_dedup); emitting
        # its b·(b-1)/2 pairs would make one task quadratic.
        # SQL-portable (size(list) ↔ HAVING count(*))
        grouped = grouped.where(F.size("ids") <= bucket_cap)
    cand = (grouped.select(F.explode(F.expr(
        "flatten(transform(ids, (a, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "b -> struct(a AS id_a, b AS id_b))))")).alias("p"))
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"]))

    sh = sig.select("id", "sh")
    pairs = (cand
             .join(sh.select(F.col("id").alias("id_a"),
                             F.col("sh").alias("sh_a")), "id_a")
             .join(sh.select(F.col("id").alias("id_b"),
                             F.col("sh").alias("sh_b")), "id_b"))

    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (pairs
            .withColumn("jaccard", F.round(inter / union, 6))
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def minhash_dedup(df: DataFrame, content_col: str = "text",
                  id_col: str = "doc_id", pre_collapse: bool = True,
                  transitive: bool = False, **kw) -> DataFrame:
    """Drop every row that is the higher id of a passing near-dup pair
    (chain-collapsing keep-lowest rule, deterministic).

    ``pre_collapse``: collapse byte-identical texts to their lowest-id
    representative BEFORE the LSH stage.  A cluster of k identical docs
    then costs one group-by row instead of k band rows (and k·(k-1)/2
    candidate pairs) — the standard guard that keeps mega-duplicate
    clusters from going quadratic in the band join.  Non-representative
    exact copies are dropped directly; a representative that loses an
    LSH near-dup pairing takes its whole exact group with it.

    ``transitive``: close the pair graph into connected components
    first and keep exactly ONE doc (the min id) per component.  The
    pairwise rule keeps a doc that only ever WINS its pairings — if
    C pairs with B but not with A (A < B < C, A~B), both A and C
    survive even though B chains them.  Training-data dedup usually
    wants the component collapsed; pairs-only stays the default
    because it never consults more than one hop."""
    def _losers(pairs):
        if not transitive:
            return pairs.select(F.col("id_b").alias("_l")).distinct()
        comp = near_dup_clusters(pairs, node_col="_n")
        return (comp.where(F.col("_n") != F.col("rep"))
                .select(F.col("_n").alias("_l")))

    if not pre_collapse:
        pairs = minhash_lsh_pairs(df, content_col, id_col, **kw)
        return df.join(_losers(pairs).withColumnRenamed("_l", id_col),
                       id_col, "left_anti")

    grp = (df.groupBy(F.md5(content_col).alias("_fp"))
           .agg(F.min(id_col).alias("_rep")))
    reps = (df.join(grp.select(F.col("_rep").alias(id_col)),
                    id_col, "left_semi"))
    pairs = minhash_lsh_pairs(reps, content_col, id_col, **kw)
    # survivors = representatives that never lose (exact copies are
    # jaccard-1 dupes of their rep, so they always drop with it)
    keep_rep = (grp.join(_losers(pairs).withColumnRenamed("_l", "_rep"),
                         "_rep", "left_anti")
                .select(F.col("_rep").alias(id_col)))
    return df.join(keep_rep, id_col, "left_semi")


def ngram_jaccard_pairs(df: DataFrame, content_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.0,
                        block_col: Column | None = None) -> DataFrame:
    """Exact word-n-gram Jaccard over candidate pairs.  ``block_col``
    limits the self-join (default: first token as the blocking key) —
    the SQL-expressible exact counterpart of minhash, used as its
    oracle."""
    if block_col is None:
        block_col = F.split(F.trim(F.lower(F.col(content_col))), r"\s+")[0]
    g = _spread(df).select(F.col(id_col).alias("id"),
                           shingles_col(F.col(content_col), n).alias("sh"),
                           block_col.alias("blk"))
    pairs = (g.alias("l").join(g.alias("r"), "blk")
             .where(F.col("l.id") < F.col("r.id")))
    inter = F.size(F.array_intersect("l.sh", "r.sh"))
    union = F.size(F.array_union("l.sh", "r.sh"))
    return (pairs.select(F.col("l.id").alias("id_a"),
                         F.col("r.id").alias("id_b"),
                         F.round(inter / union, 6).alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def simhash_col(text_expr: str, bits: int = 64,
                hash_fn: str = "xx") -> Column:
    """Sign-of-weighted-sum simhash over whitespace tokens, built with
    aggregate/transform HOFs (token hash = xxhash64, or two 32-bit md5
    chunks for the engine-portable "md5" variant the oracle queries
    use — DuckDB reproduces the exact same bits from md5 hex).

    ``text_expr`` is a SQL expression string (the Python shiftright
    wrapper can't take a Column bit index; the SQL form can)."""
    n1 = bits - 1
    if hash_fn == "md5":
        tok_bit = ("IF(i < 32, "
                   "shiftright(CAST(conv(substr(md5(t),1,8),16,10) "
                   "AS BIGINT), i), "
                   "shiftright(CAST(conv(substr(md5(t),9,8),16,10) "
                   "AS BIGINT), i - 32)) & 1")
    else:
        tok_bit = "shiftright(xxhash64(t), i) & 1"
    return F.expr(f"""
        aggregate(
          zip_with(
            aggregate(
              split(trim(lower({text_expr})), '\\\\s+'),
              array_repeat(CAST(0 AS BIGINT), {bits}),
              (acc, t) -> zip_with(acc,
                 transform(sequence(0, {n1}),
                           i -> IF(({tok_bit}) = 1,
                                   CAST(1 AS BIGINT), CAST(-1 AS BIGINT))),
                 (a, b) -> a + b)),
            sequence(0, {n1}),
            (s, i) -> IF(s > 0, shiftleft(CAST(1 AS BIGINT), i),
                         CAST(0 AS BIGINT))),
          CAST(0 AS BIGINT), (acc, v) -> acc | v)
    """)


def simhash_pairs(df: DataFrame, content_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 8,
                  bands: int = 4, hash_fn: str = "xx",
                  bucket_cap: int | None = 1000) -> DataFrame:
    """Near-dup candidates where any 16-bit simhash band matches,
    verified by exact hamming distance (bit_count of xor)."""
    width = 64 // bands
    sh = _spread(df).select(F.col(id_col).alias("id"),
                            simhash_col(content_col,
                                        hash_fn=hash_fn).alias("sim"))
    banded = sh.select(
        "id", "sim",
        F.explode(F.expr(
            f"transform(sequence(0, {bands - 1}), "
            f"b -> struct(b AS band, "
            f"shiftright(sim, b * {width}) & {(1 << width) - 1} AS bucket))"
        )).alias("bk"))
    # ONE grouping of the slim banded rows produces capped in-bucket
    # combinations carrying both signatures — no window pass, no
    # self-join, no verify re-join (same shape as minhash_lsh_pairs;
    # sort_array orders by id so id_a < id_b deterministically)
    grouped = (banded
               .groupBy(F.col("bk.band").alias("band"),
                        F.col("bk.bucket").alias("bucket"))
               .agg(F.sort_array(F.collect_list(
                   F.struct("id", "sim"))).alias("ms"))
               .where(F.size("ms") >= 2))
    if bucket_cap is not None:
        grouped = grouped.where(F.size("ms") <= bucket_cap)
    return (grouped.select(F.explode(F.expr(
        "flatten(transform(ms, (a, i) -> "
        "transform(slice(ms, i + 2, size(ms)), "
        "b -> struct(a.id AS id_a, b.id AS id_b, "
        "a.sim AS sim_a, b.sim AS sim_b))))")).alias("p"))
        .select("p.id_a", "p.id_b",
                F.bit_count(F.col("p.sim_a").bitwiseXOR(F.col("p.sim_b")))
                .alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
        .where(F.col("hamming") <= max_hamming))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine_col(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def embedding_near_dup_pairs(df: DataFrame, vec_col: str = "embedding",
                             id_col: str = "vec_id", threshold: float = 0.95,
                             n_planes: int = 12, seed: int = 42,
                             dim: int = 64) -> DataFrame:
    """Cosine near-duplicates via random-hyperplane LSH buckets, exact
    cosine verify inside buckets."""
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_planes, dim))
    vec = F.col(vec_col).cast("array<double>")

    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(*[F.lit(float(v)) for v in planes[p]])
        sig = sig.bitwiseOR(
            F.when(_dot(vec, plane) > 0,
                   F.shiftleft(F.lit(1).cast("long"), p))
            .otherwise(F.lit(0).cast("long")))

    b = _spread(df).select(F.col(id_col).alias("id"), vec.alias("v"),
                           sig.alias("bucket"))
    # one grouping per bucket (sorted so id_a < id_b), in-bucket
    # combinations carry both vectors — no vector-laden self-join
    grouped = (b.groupBy("bucket")
               .agg(F.sort_array(F.collect_list(
                   F.struct("id", "v"))).alias("ms"))
               .where(F.size("ms") >= 2))
    return (grouped.select(F.explode(F.expr(
        "flatten(transform(ms, (a, i) -> "
        "transform(slice(ms, i + 2, size(ms)), "
        "b -> struct(a.id AS id_a, b.id AS id_b, "
        "a.v AS v_a, b.v AS v_b))))")).alias("p"))
        .select("p.id_a", "p.id_b",
                F.round(cosine_col("p.v_a", "p.v_b"), 6).alias("cosine"))
        .where(F.col("cosine") >= threshold))


def near_dup_clusters(pairs: DataFrame, id_a: str = "id_a",
                      id_b: str = "id_b",
                      nodes: DataFrame | None = None,
                      node_col: str = "doc_id",
                      max_rounds: int = 25) -> DataFrame:
    """Transitive closure of a near-duplicate pair graph: label every
    document with the smallest id reachable from it (its cluster
    representative).  Pairwise keep-lowest (``minhash_dedup``) drops
    direct losers only; training-data pipelines that must collapse
    A~B~C chains into ONE surviving doc need the connected component.

    Distributed min-label propagation with pointer jumping: each round
    (1) takes the min label over each node's neighborhood, then
    (2) path-compresses ``lbl <- lbl[lbl]``.  The compression step
    doubles the effective propagation distance, so rounds are
    O(log(component diameter)) — a 1M-doc duplicate chain settles in
    ~20 rounds, not 1M.  Per-round plans are scale-shaped: the only
    shuffled payload is slim (id, label) rows, the neighborhood min is
    a groupBy with map-side partial aggregation, and each round ends
    in an eager localCheckpoint so lineage stays O(1) instead of
    growing by five joins per round.  A mega-cluster makes its
    representative a hot key on the jump join's probe side; that skew
    is AQE-splittable because the build side is unique per id.

    ``nodes``/``node_col``: optional universe of documents; isolated
    ids come back as their own representative.  Returns
    (``node_col``, rep) and raises if the graph has not converged
    after ``max_rounds`` (25 rounds cover components of diameter
    ~2^24 — not reachable before the int64 id space runs out).
    """
    p = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    edges = (p.union(p.select(F.col("v").alias("u"),
                              F.col("u").alias("v")))
             .distinct().localCheckpoint(eager=True))
    members = edges.select("u").distinct()
    if nodes is not None:
        universe = nodes.select(F.col(node_col).alias("u")).distinct()
    else:
        universe = members
    cur = members.select("u", F.col("u").alias("lbl")) \
        .localCheckpoint(eager=True)

    for _ in range(max_rounds):
        nm = (edges.join(cur.select(F.col("u").alias("v"),
                                    F.col("lbl").alias("nl")), "v")
              .groupBy("u").agg(F.min("nl").alias("nl")))
        stepped = (cur.join(nm, "u", "left")
                   .select("u",
                           F.least("lbl", F.coalesce("nl", "lbl"))
                           .alias("lbl"),
                           F.col("lbl").alias("prev")))
        jumped = (stepped.alias("a")
                  .join(stepped.select(F.col("u").alias("ju"),
                                       F.col("lbl").alias("jl"))
                        .alias("b"),
                        F.col("a.lbl") == F.col("ju"), "left")
                  .select(F.col("a.u").alias("u"),
                          F.least(F.col("a.lbl"),
                                  F.coalesce("jl", F.col("a.lbl")))
                          .alias("lbl"),
                          F.col("a.prev").alias("prev"))
                  .localCheckpoint(eager=True))
        cur = jumped.select("u", "lbl")
        if jumped.where(F.col("lbl") != F.col("prev")).count() == 0:
            break
    else:
        raise RuntimeError(
            "near_dup_clusters: not converged after %d rounds"
            % max_rounds)

    return (universe.join(cur, "u", "left")
            .select(F.col("u").alias(node_col),
                    F.coalesce("lbl", "u").alias("rep")))
