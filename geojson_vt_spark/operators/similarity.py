"""Approximate-nearest-neighbor search over embedding columns.

- ``cosine_topk``      exact brute-force baseline (zip_with dot product,
                       Window top-k) — the correctness oracle;
- ``ivf_topk``         IVF scale path: deterministic centroid sample,
                       assign → probe nprobe nearest lists only;
- ``lsh_topk``         random-hyperplane bucket candidates.

Pair scoring runs through ``cosine6_col`` — an Arrow-batched numpy
twin of the Column fold, bit-exact by construction (dimension-order
accumulation + HALF_UP replication) and ~10× faster than the
interpreted HOF expression it mirrors; centroid argmaxes stay pure
Column literals, and only centroid selection touches the driver
(C small, broadcast back).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from .._worker import _worker_prep
from .dedup import _dot, _norm, cosine_col


def cosine6_col(qv_col, v_col):
    """Bit-exact Arrow twin of ``F.round(cosine_col(a, b), 6)``.

    The interpreted HOF fold costs ~2 s per million scores; this UDF
    reproduces it exactly: the dot/norm accumulations run as a
    dimension-order numpy loop (same left-fold float sequence as
    ``aggregate``), and rounding replicates Spark's BigDecimal
    HALF_UP — fast floor/ceil path, with the rare half-tie suspects
    (|frac-0.5| inside the fp error window) re-rounded through decimal
    on the double's exact expansion.  Parity pinned bit-exact by
    ``test_cosine6_arrow_matches_column``."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos6(qv: pd.Series, v: pd.Series) -> pd.Series:
        _worker_prep()
        if not len(qv):
            return pd.Series(np.empty(0, dtype=np.float64))
        A = np.array(qv.tolist(), dtype=np.float64)
        B = np.array(v.tolist(), dtype=np.float64)
        n, D = A.shape
        acc = np.zeros(n)
        na = np.zeros(n)
        nb = np.zeros(n)
        for d in range(D):
            ad = A[:, d]
            bd = B[:, d]
            acc = acc + ad * bd
            na = na + ad * ad
            nb = nb + bd * bd
        cos = acc / (np.sqrt(na) * np.sqrt(nb))
        scaled = cos * 1e6
        with np.errstate(invalid="ignore"):
            r = np.floor(scaled + 0.5)
            neg = cos < 0
            r[neg] = np.ceil(scaled[neg] - 0.5)
            out = r / 1e6
            frac = np.abs(scaled - np.floor(scaled) - 0.5)
        suspects = np.nonzero(frac < 1e-6)[0]
        if len(suspects):
            from decimal import ROUND_HALF_UP, Decimal
            q6 = Decimal("0.000001")
            for i in suspects:
                out[i] = float(Decimal(float(cos[i])).quantize(
                    q6, rounding=ROUND_HALF_UP))
        return pd.Series(out)

    return cos6(qv_col, v_col)


def _queries(df: DataFrame, id_col: str, vec_col: str,
             query_ids: list[int]) -> DataFrame:
    return (df.where(F.col(id_col).isin(query_ids))
            .select(F.col(id_col).alias("query_id"),
                    F.col(vec_col).cast("array<double>").alias("qv")))


def cosine_topk(df: DataFrame, query_ids: list[int], k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors (excluding self) per query id.
    Deterministic: rank by (rounded score desc, id asc)."""
    base = df.select(F.col(id_col).alias("nbr_id"),
                     F.col(vec_col).cast("array<double>").alias("v"))
    q = F.broadcast(_queries(df, id_col, vec_col, query_ids))
    scored = (q.crossJoin(base)
              .where(F.col("nbr_id") != F.col("query_id"))
              .withColumn("cosine", cosine6_col(F.col("qv"), F.col("v"))))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("nbr_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "nbr_id", "cosine", "rank"))


def _centroid_structs(cents: list[tuple[int, list[float]]],
                      vcol) -> list:
    """(rounded-cosine, -centroid_id) struct per centroid literal; struct
    ordering then gives argmax-by-(cosine desc, centroid_id asc) without
    any explode, window, or shuffle."""
    out = []
    for cid, cv in cents:
        cv_lit = F.array(*[F.lit(float(x)) for x in cv])
        out.append(F.struct(
            F.round(cosine_col(vcol, cv_lit), 9).alias("d"),
            F.lit(-cid).cast("long").alias("nid")))
    return out


def ivf_fit(df: DataFrame, n_centroids: int = 16, iters: int = 4,
            id_col: str = "vec_id", vec_col: str = "embedding",
            dim: int = 64) -> list[tuple[int, list[float]]]:
    """Train an IVF quantizer with distributed spherical k-means and
    return the model: a plain ``[(centroid_id, vector), ...]`` list,
    reusable across ``ivf_topk`` calls (train once, probe many).

    Every stage is a DataFrame job sized for the cluster, never the
    driver: init picks ``n_centroids`` seeds by hash order (a
    distributed TakeOrdered over xxhash64(id) — a deterministic uniform
    sample, unlike lowest-id which inherits whatever id order encodes);
    each Lloyd round assigns rows with the same broadcast-literal
    struct-argmax the query path uses (no N×C explode, no window) and
    re-estimates means with one hash-aggregate of D per-dimension sums
    + a count (map-side partial combine; only C×(D+1) numbers reach the
    driver).  Cosine assignment is scale-invariant, so means serve as
    spherical centroids without normalization; a cluster that loses all
    members keeps its previous centroid."""
    base = df.select(F.col(id_col).alias("nbr_id"),
                     F.col(vec_col).cast("array<double>").alias("v"))
    seed_rows = (base.orderBy(F.xxhash64(F.col("nbr_id").cast("string")),
                              "nbr_id")
                 .limit(n_centroids).collect())
    cents = [(i, [float(x) for x in r["v"]])
             for i, r in enumerate(seed_rows)]

    for _ in range(iters):
        best = F.array_max(F.array(*_centroid_structs(cents, F.col("v"))))
        assigned = base.withColumn("centroid_id",
                                   (-best["nid"]).cast("long"))
        sums = (assigned.groupBy("centroid_id")
                .agg(F.count(F.lit(1)).alias("n"),
                     *[F.sum(F.col("v")[d]).alias(f"s{d}")
                       for d in range(dim)])
                .collect())
        by_id = {int(r["centroid_id"]): r for r in sums}
        new = []
        for cid, old in cents:
            r = by_id.get(cid)
            if r is None or r["n"] == 0:
                new.append((cid, old))
            else:
                n = float(r["n"])
                new.append((cid, [float(r[f"s{d}"]) / n
                                  for d in range(dim)]))
        cents = new
    return cents


def ivf_assign(df: DataFrame, centroids: list[tuple[int, list[float]]],
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Nearest-centroid assignment as a per-row broadcast-literal
    struct-argmax (no N×C explode, no window, no shuffle).  Returns
    (nbr_id, v, centroid_id)."""
    base = df.select(F.col(id_col).alias("nbr_id"),
                     F.col(vec_col).cast("array<double>").alias("v"))
    best = F.array_max(F.array(*_centroid_structs(centroids, F.col("v"))))
    return base.withColumn("centroid_id", (-best["nid"]).cast("long"))


def ivf_index(df: DataFrame, centroids: list[tuple[int, list[float]]],
              path: str, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Materialize the inverted lists ONCE: assign every vector and
    write parquet partitioned by centroid_id.  The O(N·C) assignment
    pass is the index-build cost, paid once; each subsequent query
    probes only its nprobe lists, and because the lists are partition
    directories, the probe join's scan is pruned to nprobe/C of the
    data.  This is what makes IVF actually sublinear per query at
    100-TB scale — recomputing assignment per call (the default
    ``ivf_topk`` path, kept for the oracle) costs as much as the
    brute-force scan it is supposed to avoid."""
    (ivf_assign(df, centroids, id_col, vec_col)
     .write.mode("overwrite").partitionBy("centroid_id").parquet(path))
    return df.sparkSession.read.parquet(path)


def ivf_topk(df: DataFrame, query_ids: list[int], k: int = 5,
             n_centroids: int = 16, nprobe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             centroids: list[tuple[int, list[float]]] | None = None,
             assigned: DataFrame | None = None) -> DataFrame:
    """IVF-flat ANN.  ``centroids`` is the model object — pass the list
    returned by :func:`ivf_fit` to search with a trained quantizer (and
    to amortize training across calls); without it, centroids default to
    the ``n_centroids`` lowest-id vectors (distributed TakeOrdered,
    collected — C is small by construction), the deterministic variant
    the DuckDB oracle replays exactly.

    Every vector is assigned to its nearest list by a per-row expression
    over the broadcast centroid literals (no N×C explode, no window, no
    shuffle); queries probe only the ``nprobe`` nearest lists.  The only
    shuffle in the whole plan is the final per-query top-k over the
    ~N·nprobe/C candidate rows.

    ``assigned``: a pre-materialized inverted-list table from
    :func:`ivf_index` — pass it to skip the per-call O(N·C) assignment
    pass (and, when it is a centroid_id-partitioned store, to get the
    probe scan pruned to the nprobe probed partitions)."""
    base = df.select(F.col(id_col).alias("nbr_id"),
                     F.col(vec_col).cast("array<double>").alias("v"))

    if centroids is not None:
        cents = centroids
    else:
        # deterministic centroids — orderBy().limit() is a distributed
        # TakeOrdered (per-partition top-C, merged on the driver), unlike
        # a global row_number window which funnels N rows through one task
        cent_rows = base.orderBy("nbr_id").limit(n_centroids).collect()
        cents = [(int(r["nbr_id"]), [float(x) for x in r["v"]])
                 for r in cent_rows]

    probed_ids = None
    if assigned is None:
        assigned = ivf_assign(df, cents, id_col, vec_col)
    else:
        # materialized index: the probed list set is tiny (≤ queries ×
        # nprobe), so resolve it driver-side and push a static isin on
        # the partition column — the scan prunes to the probed
        # partition directories instead of relying on runtime DPP
        probed_ids = sorted({
            -int(s["nid"])
            for q in _queries(df, id_col, vec_col, query_ids)
            .select(F.slice(F.reverse(F.array_sort(F.array(
                *_centroid_structs(cents, F.col("qv"))))), 1, nprobe)
                .alias("ps")).collect()
            for s in q["ps"]})
        assigned = assigned.where(F.col("centroid_id").isin(probed_ids))

    # per-query probe list: sort the same structs desc, take nprobe
    q = _queries(df, id_col, vec_col, query_ids)
    probe_arr = F.slice(
        F.reverse(F.array_sort(F.array(*_centroid_structs(cents,
                                                          F.col("qv"))))),
        1, nprobe)
    probes = (q.withColumn("ps", F.explode(probe_arr))
              .select("query_id", "qv",
                      (-F.col("ps.nid")).cast("long").alias("centroid_id")))

    scored = (F.broadcast(probes).join(assigned, "centroid_id")
              .where(F.col("nbr_id") != F.col("query_id"))
              .withColumn("cosine", cosine6_col(F.col("qv"), F.col("v"))))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("nbr_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "nbr_id", "cosine", "rank"))


def lsh_topk(df: DataFrame, query_ids: list[int], k: int = 5,
             n_planes: int = 8, seed: int = 7,
             id_col: str = "vec_id", vec_col: str = "embedding",
             dim: int = 64) -> DataFrame:
    """Hyperplane-LSH candidates (same bucket), exact rerank inside."""
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_planes, dim))

    def bucket(vcol):
        sig = F.lit(0).cast("long")
        for p in range(n_planes):
            plane = F.array(*[F.lit(float(x)) for x in planes[p]])
            sig = sig.bitwiseOR(
                F.when(_dot(vcol, plane) > 0,
                       F.shiftleft(F.lit(1).cast("long"), p))
                .otherwise(F.lit(0).cast("long")))
        return sig

    base = (df.select(F.col(id_col).alias("nbr_id"),
                      F.col(vec_col).cast("array<double>").alias("v"))
            .withColumn("bucket", bucket(F.col("v"))))
    q = (_queries(df, id_col, vec_col, query_ids)
         .withColumn("bucket", bucket(F.col("qv"))))
    scored = (F.broadcast(q).join(base, "bucket")
              .where(F.col("nbr_id") != F.col("query_id"))
              .withColumn("cosine", cosine6_col(F.col("qv"), F.col("v"))))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("nbr_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "nbr_id", "cosine", "rank"))


def semdedup_df(df: DataFrame, threshold: float = 0.5,
                n_clusters: int = 16, id_col: str = "vec_id",
                vec_col: str = "embedding",
                centroids: list[tuple[int, list[float]]] | None = None
                ) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings and dropping, within each
    cluster, every vector whose cosine to a lower-id cluster-mate
    reaches ``threshold`` (keep-lowest-id, the same survivor rule as
    ``minhash_dedup``).  Returns one row per input vector:
    ``(id_col, centroid_id, keep, dup_of)`` with ``dup_of`` the
    smallest qualifying lower id (null for survivors).

    ``centroids`` is the model object — pass :func:`ivf_fit`'s k-means
    output for the real quantizer; without it, centroids default to the
    ``n_clusters`` lowest-id vectors, the deterministic variant the
    DuckDB oracle replays exactly (same convention as ``ivf_topk``).

    Plan (100-TB posture): assignment is the same per-row
    broadcast-literal struct-argmax as the IVF path — no N×C explode,
    no window, no shuffle; the only exchange keys on ``centroid_id``.
    Pair generation is quadratic ONLY within a cluster — that is
    SemDeDup's whole trick, and its scale knob is cluster COUNT: the
    paper runs K=50k over 5B embeddings (~100k rows per cluster), so
    per-cluster work stays bounded as N grows by growing K, not the
    cluster size.  A skewed mega-cluster is a plan hazard here exactly
    like an uncapped LSH bucket — fit more centroids rather than cap,
    because dropping a cluster would silently skip its duplicates.
    Scoring runs through ``cosine6_col`` (Arrow-batched, bit-exact
    with the rounded Column fold)."""
    base = df.select(F.col(id_col).alias("nbr_id"),
                     F.col(vec_col).cast("array<double>").alias("v"))
    if centroids is None:
        cent_rows = base.orderBy("nbr_id").limit(n_clusters).collect()
        centroids = [(int(r["nbr_id"]), [float(x) for x in r["v"]])
                     for r in cent_rows]
    asg = ivf_assign(df, centroids, id_col, vec_col)
    pairs = (asg.select("centroid_id", F.col("nbr_id").alias("id_a"),
                        F.col("v").alias("va"))
             .join(asg.select("centroid_id",
                              F.col("nbr_id").alias("id_b"),
                              F.col("v").alias("vb")), "centroid_id")
             .where(F.col("id_a") < F.col("id_b"))
             .withColumn("cosine", cosine6_col(F.col("va"), F.col("vb")))
             .where(F.col("cosine") >= threshold))
    losers = (pairs.groupBy("id_b").agg(F.min("id_a").alias("dup_of"))
              .withColumnRenamed("id_b", "nbr_id"))
    return (asg.join(losers, "nbr_id", "left")
            .select(F.col("nbr_id").alias(id_col), "centroid_id",
                    F.col("dup_of").isNull().alias("keep"), "dup_of"))
