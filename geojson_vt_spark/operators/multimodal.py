"""Multimodal (image/audio/video) column plumbing.

Media assets ride as opaque ``binary`` columns with typed metadata;
decode / feature-extract / resize / frame-sample run as Arrow-batched
pandas UDFs over ``mapInPandas``.  The actual codecs are NOT available
in this environment, so the decode step is stubbed: ``decode_media``
raises ``NotImplementedError`` unless a deterministic fake decoder is
requested — but the Spark-side plumbing (schema, batch shape,
partitioning, UDF signatures) is real and tested.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from .._worker import _worker_prep

ASSET_SCHEMA = T.StructType([
    T.StructField("asset_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),       # image|audio|video
    T.StructField("payload", T.BinaryType(), False),    # opaque encoded bytes
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("duration_ms", T.IntegerType(), True),
    T.StructField("mime", T.StringType(), True),
])

FEATURE_DIM = 16


def real_decode(payload: bytes, kind: str) -> np.ndarray:
    """Real-bytes decode for codec-free formats.

    PIL/libav are absent in this container, so the one format decoded
    from REAL bytes is uncompressed 24/32-bit BI_RGB BMP: pure numpy
    header parse + strided pixel gather (4-byte row padding, bottom-up
    row order when height > 0).  Output is the integer-luminance
    grayscale matrix (H×W uint8; BT.601 integer weights with floor
    division, so it is deterministic on every platform — for gray
    pixels r==g==b the luminance IS the channel value).  The stacked
    operators (ahash/resize/features) expect the 8×16 grid the fake
    decoder produces; feed them 16×8 BMPs or pool externally.
    Anything else still raises — honesty over silent fakes."""
    if kind == "image" and len(payload) >= 54 and payload[:2] == b"BM":
        off = int.from_bytes(payload[10:14], "little")
        dib = int.from_bytes(payload[14:18], "little")
        w = int.from_bytes(payload[18:22], "little", signed=True)
        h = int.from_bytes(payload[22:26], "little", signed=True)
        bpp = int.from_bytes(payload[28:30], "little")
        comp = int.from_bytes(payload[30:34], "little")
        if dib >= 40 and comp == 0 and bpp in (24, 32) and w > 0 and h:
            habs = abs(h)
            bypp = bpp // 8
            stride = (w * bypp + 3) & ~3
            if len(payload) >= off + stride * habs:
                rows = np.frombuffer(payload, np.uint8,
                                     stride * habs, off)
                px = rows.reshape(habs, stride)[:, :w * bypp] \
                    .reshape(habs, w, bypp)
                if h > 0:  # bottom-up storage
                    px = px[::-1]
                b = px[..., 0].astype(np.uint32)
                g = px[..., 1].astype(np.uint32)
                r = px[..., 2].astype(np.uint32)
                return ((299 * r + 587 * g + 114 * b) // 1000) \
                    .astype(np.uint8)
    raise NotImplementedError(
        "media codecs (PIL/libav) are not available in this environment; "
        "only uncompressed 24/32-bit BI_RGB BMP images decode from real "
        "bytes — use fake=True for the deterministic stand-in decoder")


def _fake_decode(payload: bytes, kind: str) -> np.ndarray:
    """Deterministic stand-in: 'pixels' derived from sha256(payload),
    stable across partitionings — exercises the same batch shapes the
    real decoder would produce."""
    h = hashlib.sha256(payload).digest()
    arr = np.frombuffer((h * 8)[:128], dtype=np.uint8)
    return arr.reshape(8, 16)


def assets_from_documents(docs: DataFrame) -> DataFrame:
    """Derive a deterministic asset table from the documents corpus
    (payload = utf-8 text bytes; metadata from simple expressions)."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                     (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        (F.col("doc_id") % 640 + 1).cast("int").alias("width"),
        (F.col("doc_id") % 480 + 1).cast("int").alias("height"),
        (F.col("doc_id") % 10000 + 1).cast("int").alias("duration_ms"),
        F.lit("application/x-fake").alias("mime"),
    )


def extract_features_df(assets: DataFrame, fake: bool = True) -> DataFrame:
    """Decode + pool a FEATURE_DIM-float feature vector per asset.
    Arrow-batched; one numpy pass per batch, no per-row Python work
    beyond the decode call itself."""
    def run(batches):
        _worker_prep()
        for pdf in batches:
            if not len(pdf):
                continue
            feats = []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                px = (_fake_decode(bytes(payload), kind) if fake
                      else real_decode(bytes(payload), kind))
                pooled = px.reshape(-1, FEATURE_DIM).mean(axis=0) / 255.0
                feats.append(pooled.astype(np.float64).tolist())
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "kind": pdf["kind"],
                "features": feats,
            })

    return assets.mapInPandas(
        run, "asset_id long, kind string, features array<double>")


def ahash_df(assets: DataFrame, fake: bool = True) -> DataFrame:
    """Perceptual average-hash (aHash) per asset: decode to the 8×16
    grid, threshold every pixel against the grid mean, pack the 128
    bits MSB-first into a 32-hex-char hash plus four 32-bit band
    values (b0..b3) for hamming-banded candidate joins.

    One numpy pass per Arrow batch: the N×128 pixel matrix thresholds
    and packs without any per-row Python beyond the decode call.  On
    the deterministic fake decoder the pixel rows repeat every 32
    bytes, so all four bands coincide — a real decoder breaks that
    degeneracy, and the banded join machinery is shared with
    ``simhash_pairs`` (dedup.py)."""
    def run(batches):
        _worker_prep()
        weights = (1 << np.arange(31, -1, -1)).astype(np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            pix = np.stack([
                (_fake_decode(bytes(p), k) if fake
                 else real_decode(bytes(p), k)).ravel()
                for p, k in zip(pdf["payload"], pdf["kind"])])
            bits = pix > pix.mean(axis=1, keepdims=True)
            bands = (bits.reshape(len(pix), 4, 32) * weights).sum(axis=2)
            packed = np.packbits(bits, axis=1)
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "kind": pdf["kind"],
                "b0": bands[:, 0], "b1": bands[:, 1],
                "b2": bands[:, 2], "b3": bands[:, 3],
                "ahash": [row.tobytes().hex() for row in packed],
            })

    return assets.mapInPandas(
        run, "asset_id long, kind string, b0 long, b1 long, b2 long, "
             "b3 long, ahash string")


def ahash_dedup_df(assets: DataFrame, fake: bool = True,
                   rep_via: str = "window") -> DataFrame:
    """Exact perceptual dedup: group assets by their full aHash and
    keep the lowest asset_id per group (the standard first-pass image
    dedup before any hamming-radius search).  The only shuffle keys
    slim (ahash, asset_id, bands) rows — payloads never leave the
    scan.

    ``rep_via="window"`` (default): ONE decode pass and ONE exchange —
    min(asset_id) over a hash-partitioned window.  Because the output
    is per-asset, rows sharing a hash must co-locate in any shuffled
    formulation anyway, so the window's skew exposure equals a
    shuffled join's while halving the decode (measured: the two-pass
    groupBy+join shape re-ran the Arrow decode for each consumer and
    anti-scaled on the 4×8 standalone grid).

    ``rep_via="join"``: groupBy(ahash).min + broadcast-joinable rep
    table — re-decodes the payloads for the second pass but never
    shuffles the probe rows; the right regime when the distinct-hash
    set is small enough to broadcast and the decode is cheap or the
    hash table is already persisted by the caller."""
    h = ahash_df(assets, fake=fake)
    if rep_via == "window":
        rep = F.min("asset_id").over(Window.partitionBy("ahash"))
        return h.select(
            "asset_id", "kind", "b0", "b1", "b2", "b3", "ahash",
            rep.alias("rep_id"),
            (F.col("asset_id") != rep).cast("int").alias("is_dup"))
    grp = h.groupBy("ahash").agg(F.min("asset_id").alias("rep_id"))
    return (h.join(grp, "ahash")
            .select("asset_id", "kind", "b0", "b1", "b2", "b3", "ahash",
                    "rep_id",
                    (F.col("asset_id") != F.col("rep_id"))
                    .cast("int").alias("is_dup")))


def ahash_near_dup_pairs(assets: DataFrame, max_hamming: int = 8,
                         fake: bool = True,
                         bucket_cap: int | None = 1000) -> DataFrame:
    """Hamming-radius perceptual near-dup candidate pairs: two assets
    are candidates when ANY 16-bit chunk of their 128-bit aHash
    matches (8 bands), verified by the exact hamming distance — the
    same banded one-grouping shape as ``simhash_pairs`` (dedup.py),
    sharing its mega-bucket cap rationale.

    Everything after the decode is Column HOFs: chunks via
    ``conv(substr(hex))`` (16-bit values, no 64-bit overflow on any
    engine), candidates via sorted ``collect_list`` + in-bucket
    combinations (one exchange of slim (id, chunks) rows), hamming as
    ``aggregate(zip_with(bit_count(xor)))`` — the decoded hash table
    is consumed ONCE."""
    h = ahash_df(assets, fake=fake).select(
        F.col("asset_id").alias("id"),
        F.expr("transform(sequence(0, 7), j -> "
               "CAST(conv(substr(ahash, j * 4 + 1, 4), 16, 10) "
               "AS BIGINT))").alias("ch"))
    banded = h.select(
        "id", "ch",
        F.explode(F.expr(
            "transform(sequence(0, 7), b -> struct(b AS band, "
            "element_at(ch, b + 1) AS bucket))")).alias("bk"))
    grouped = (banded
               .groupBy(F.col("bk.band").alias("band"),
                        F.col("bk.bucket").alias("bucket"))
               .agg(F.sort_array(F.collect_list(
                   F.struct("id", "ch"))).alias("ms"))
               .where(F.size("ms") >= 2))
    if bucket_cap is not None:
        grouped = grouped.where(F.size("ms") <= bucket_cap)
    return (grouped.select(F.explode(F.expr(
        "flatten(transform(ms, (a, i) -> "
        "transform(slice(ms, i + 2, size(ms)), "
        "b -> struct(a.id AS id_a, b.id AS id_b, "
        "a.ch AS ch_a, b.ch AS ch_b))))")).alias("p"))
        .select("p.id_a", "p.id_b",
                F.expr("aggregate(zip_with(p.ch_a, p.ch_b, "
                       "(x, y) -> bit_count(x ^ y)), 0, "
                       "(acc, v) -> acc + v)").alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
        .where(F.col("hamming") <= max_hamming))


def resize_df(assets: DataFrame, out_h: int = 4, out_w: int = 8,
              fake: bool = True) -> DataFrame:
    """Image resize: decode → block-mean pooling to (out_h, out_w) —
    one Arrow batch pass, one output row per pooled pixel (rows, not
    arrays, so results stay hashable/oracle-comparable).  The real
    resampler would sit where the fake decoder is; the Spark-side
    plumbing (batch shape, explode, schema) is the real thing."""
    fh, fw = 8 // out_h, 16 // out_w

    def run(batches):
        _worker_prep()
        for pdf in batches:
            if not len(pdf):
                continue
            n = len(pdf)
            # decode per asset (the codec integration point), then one
            # stacked pool + np.repeat/np.tile emission for the whole
            # batch — no per-cell Python loop.  np.round(x, 6) is
            # verified bit-identical to Python round() on the fake
            # decoder's discrete value set (s/1020, s in 0..1020).
            px = np.stack([
                (_fake_decode(bytes(p), k) if fake else real_decode(
                    bytes(p), k))
                for p, k in zip(pdf["payload"], pdf["kind"])])
            pooled = (px.astype(np.float64)
                      .reshape(n, out_h, fh, out_w, fw).mean(axis=(2, 4))
                      / 255.0)
            cells = out_h * out_w
            yield pd.DataFrame({
                "asset_id": np.repeat(pdf["asset_id"].to_numpy(), cells),
                "ry": np.tile(np.repeat(np.arange(out_h, dtype=np.int32),
                                        out_w), n),
                "rx": np.tile(np.arange(out_w, dtype=np.int32),
                              out_h * n),
                "value": np.round(pooled.reshape(-1), 6),
            })

    return assets.mapInPandas(
        run, "asset_id long, ry int, rx int, value double")


def frame_sample_df(assets: DataFrame, every_ms: int = 1000,
                    fake: bool = True) -> DataFrame:
    """Video frame sampling: one output row per sampled timestamp —
    pure-Column explode of the sample grid, then batch decode."""
    sampled = (assets
               .where(F.col("kind") == "video")
               .withColumn("frame_ts", F.explode(F.sequence(
                   F.lit(0), F.col("duration_ms") - 1, F.lit(every_ms)))))

    def run(batches):
        _worker_prep()
        for pdf in batches:
            if not len(pdf):
                continue
            digests = []
            # frame key = payload + 8-hex-digit timestamp (ASCII, so a
            # SQL oracle can rebuild the exact hashed bytes).  The
            # payload prefix is hashed ONCE per asset and copied per
            # frame (sha256 midstate reuse) — for a video with F frames
            # that's O(payload + F·key) hashing instead of O(F·payload).
            # The fake-decode digest 4·sum(sha256) equals the old
            # frombuffer((h*8)[:128]).sum() exactly.
            base_cache: dict[int, "hashlib._Hash"] = {}
            for asset_id, payload, ts in zip(pdf["asset_id"],
                                             pdf["payload"], pdf["frame_ts"]):
                if not fake:
                    digests.append(int(real_decode(bytes(payload),
                                                   "video").sum()))
                    continue
                base = base_cache.get(asset_id)
                if base is None:
                    base = hashlib.sha256(bytes(payload))
                    base_cache[asset_id] = base
                hh = base.copy()
                hh.update(format(int(ts), "08x").encode())
                digests.append(4 * sum(hh.digest()))
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "frame_ts": pdf["frame_ts"],
                "frame_digest": digests,
            })

    return sampled.mapInPandas(
        run, "asset_id long, frame_ts long, frame_digest long")
