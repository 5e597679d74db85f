"""Synthetic Common-Crawl-style web-page corpus + geo extraction.

Input shape per BASELINE.json input_hint:
    (url: string, warc_ts: timestamp, html: binary, text: string,
     lang: string)

Generation is fully deterministic **per row**: every column is a pure
function of (doc_id, seed) via splitmix64, independent of partitioning,
executor count, or row order — the property that makes the per-row
invariant testable: extracted ``text`` is byte-identical per ``url``
no matter how the job is parallelized.

Geo extraction: each page's text embeds "geo:" coordinate mentions; the
extractor (an Arrow-batched mapInPandas pass) parses them into GeoJSON
polygon features feeding the tile pyramid — the corpus→geometry bridge
the north_rule asks for.
"""

from __future__ import annotations

import json
import re
import weakref

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .._worker import _worker_prep

_WORDS = np.array([
    "map", "tile", "zoom", "vector", "slice", "clip", "buffer", "extent",
    "pyramid", "quadtree", "mercator", "longitude", "latitude", "feature",
    "polygon", "ring", "simplify", "tolerance", "index", "drill", "page",
    "crawl", "web", "content", "article", "city", "river", "border",
    "region", "street", "north", "south", "east", "west", "coast",
])
_TLDS = np.array(["com", "org", "net", "io", "dev", "info"])
_LANGS = np.array(["en", "de", "fr", "es"])


def _splitmix64(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):  # uint64 wraparound is the algorithm
        x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
        z = x
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _rand_stream(doc_ids: np.ndarray, stream: int, seed: int) -> np.ndarray:
    with np.errstate(over="ignore"):  # uint64 wraparound is the algorithm
        base = doc_ids.astype(np.uint64) * np.uint64(0x100000001B3) \
            + np.uint64(stream) * np.uint64(0x9E3779B97F4A7C15) \
            + np.uint64(seed)
        return _splitmix64(base)


def _uniform(doc_ids, stream, seed) -> np.ndarray:
    return (_rand_stream(doc_ids, stream, seed) >> np.uint64(11)).astype(
        np.float64) / float(1 << 53)


def synth_pages_df(spark: SparkSession, n_docs: int, seed: int = 42,
                   n_partitions: int | None = None,
                   n_geo_points: int = 6) -> DataFrame:
    """Deterministic corpus of n_docs pages (one Arrow batch pass)."""
    if n_partitions is None:
        n_partitions = spark.sparkContext.defaultParallelism

    def gen(batches):
        _worker_prep()
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            yield _gen_batch(ids, seed, n_geo_points)

    return (spark.range(0, n_docs, 1, n_partitions)
            .mapInPandas(gen, "url string, warc_ts timestamp, html binary, "
                              "text string, lang string"))


def _gen_batch(ids: np.ndarray, seed: int, n_geo_points: int) -> pd.DataFrame:
    n = len(ids)
    # clustered geometry: pages cluster around 'metro' hot spots so the
    # corpus exhibits the skew the engine must handle (salting/AQE)
    n_metros = 64
    metro = (_rand_stream(ids, 1, seed) % np.uint64(n_metros)).astype(np.int64)
    metro_lon = (_uniform(np.arange(n_metros), 2, seed) * 340.0) - 170.0
    metro_lat = (_uniform(np.arange(n_metros), 3, seed) * 140.0) - 70.0
    # zipf-ish skew: low metro ids soak up most pages
    hot = (_uniform(ids, 4, seed) ** 2.0)
    metro = np.minimum(metro, (hot * n_metros).astype(np.int64))

    clon = metro_lon[metro]
    clat = metro_lat[metro]
    radius = 0.5 + _uniform(ids, 5, seed) * 2.0

    urls, texts, langs_out = [], [], []
    tlds = _TLDS[(_rand_stream(ids, 6, seed) % np.uint64(len(_TLDS))).astype(int)]
    langs = _LANGS[(_rand_stream(ids, 7, seed) % np.uint64(len(_LANGS))).astype(int)]
    word_picks = [
        _WORDS[(_rand_stream(ids, 16 + w, seed) % np.uint64(len(_WORDS))).astype(int)]
        for w in range(24)
    ]
    for i, doc_id in enumerate(ids):
        words = " ".join(word_picks[w][i] for w in range(12 + int(doc_id) % 12))
        # polygon ring vertices embedded as geo: mentions
        angles = 2 * np.pi * np.arange(n_geo_points) / n_geo_points
        lons = np.round(clon[i] + radius[i] * np.cos(angles), 5)
        lats = np.round(clat[i] + radius[i] * 0.7 * np.sin(angles), 5)
        geo = " ".join(f"geo:{la:.5f},{lo:.5f}" for la, lo in zip(lats, lons))
        urls.append(f"https://site{int(doc_id) % 997:03d}.{tlds[i]}/page/{int(doc_id):010d}")
        texts.append(f"{words} {geo} {words[::-1]}")
        langs_out.append(langs[i])

    ts = pd.to_datetime(
        (np.uint64(1577836800) + _rand_stream(ids, 8, seed)
         % np.uint64(126230400)).astype(np.int64), unit="s")
    html = [f"<html><head><title>doc {int(d)}</title></head><body><p>{t}"
            f"</p></body></html>".encode() for d, t in zip(ids, texts)]
    return pd.DataFrame({
        "url": urls, "warc_ts": ts, "html": html,
        "text": texts, "lang": langs_out,
    })


def pages_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic (url, text) page rows derived from the documents
    table with embedded ``geo:`` mentions, built from PURE Column
    arithmetic (integer centidegrees, no transcendental functions) so a
    SQL oracle can reconstruct the extracted coordinates bit-exactly —
    this is the driver-checkable twin of ``synth_pages_df``.

    Each page embeds a 4-corner rectangle around a doc_id-derived
    center; ``extract_geo_features_df`` turns it into a closed 5-point
    polygon ring."""
    k = F.col("doc_id")

    def _fmt(cents):  # signed centidegrees -> 'sDD.dd'
        a = F.abs(cents)
        return F.concat(
            F.when(cents < 0, F.lit("-")).otherwise(F.lit("")),
            (a / 100).cast("long").cast("string"), F.lit("."),
            F.lpad((a % 100).cast("string"), 2, "0"))

    lat0 = (k * 37 % 13000) - 6500          # [-65.00, 64.99]
    lon0 = (k * 101 % 35000) - 17500        # [-175.00, 174.99]
    dla = 50 + k % 73
    dlo = 60 + k % 97
    corners = [(lat0, lon0), (lat0, lon0 + dlo),
               (lat0 + dla, lon0 + dlo), (lat0 + dla, lon0)]
    mention = [F.concat(F.lit("geo:"), _fmt(la), F.lit(","), _fmt(lo))
               for la, lo in corners]
    return docs.select(
        F.concat(F.lit("https://corpus.example/doc/"),
                 k.cast("string")).alias("url"),
        F.concat(F.col("text"), F.lit(" "),
                 F.concat_ws(" ", *mention)).alias("text"))


_GEO_RX = re.compile(r"geo:(-?\d+\.\d+),(-?\d+\.\d+)")

# extract frame → the pages frame it was extracted from, for the
# convert's fusion (extracted_pages); a frame's entry dies with it
_EXTRACTED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def page_features(urls, texts):
    """(doc_ord, GeoJSON Feature dict) for each page with at least three
    geo: mentions, in input order: the one page parse behind the
    extract stage and the fused extract → convert stage."""
    for url, text in zip(urls, texts):
        pts = [(float(lon), float(lat)) for lat, lon in _GEO_RX.findall(text)]
        if len(pts) < 3:
            continue
        doc_ord = int(url.rsplit("/", 1)[1])
        yield doc_ord, {
            "type": "Feature",
            "id": doc_ord,
            "properties": {"url": url},
            "geometry": {"type": "Polygon", "coordinates": [pts + [pts[0]]]},
        }


def extract_geo_features_df(pages: DataFrame) -> DataFrame:
    """Geo-extraction stage: parse geo: mentions from each page's text
    into one GeoJSON polygon feature per page, emitting the ingest rows
    (input_ord, gen_index, feature_json) the convert stage consumes.
    Only the pages' ``url`` and ``text`` columns reach Python.

    The returned frame is remembered (weakly) with its pages:
    ``pipeline.features_from_json_df`` given this frame, uncached and
    underived, fuses both stages into one (see ``extracted_pages``).

    Per-row invariant: output depends only on (url, text) — re-running
    at any parallelism yields byte-identical features per url."""
    def run(batches):
        _worker_prep()
        for pdf in batches:
            ords, fjs = [], []
            for doc_ord, feature in page_features(pdf["url"], pdf["text"]):
                ords.append(doc_ord)
                fjs.append(json.dumps(feature, separators=(",", ":")))
            ords = pd.Series(ords, dtype="int64")
            yield pd.DataFrame({
                "input_ord": ords,
                "gen_index": ords,
                "feature_json": pd.Series(fjs, dtype="object"),
            })

    out = pages.select("url", "text").mapInPandas(
        run, "input_ord long, gen_index long, feature_json string")
    _EXTRACTED[out] = pages
    return out


def extracted_pages(df: DataFrame) -> DataFrame | None:
    """The pages frame ``df`` was extracted from, when ``df`` is a frame
    ``extract_geo_features_df`` returned and it is not cached; else
    None.  A cached frame keeps its own stage (its rows are already
    materialized or meant to be); a frame derived from it (``where``,
    ``select``, ...) is a different object and is never fused."""
    pages = _EXTRACTED.get(df)
    return None if pages is None or df.is_cached else pages


def html_pages_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic ``(url, html binary)`` page rows derived from the
    documents table — the SQL-constructible twin of ``synth_pages_df``
    for the LINK side of the crawl: each page's html embeds a
    ``<title>`` and ``1 + doc_id % 4`` outbound ``<a href>`` anchors
    whose target hosts are pure integer arithmetic on doc_id, so a
    DuckDB oracle can reconstruct the exact link set the extractor
    must parse back out of the bytes.

    Link rule (mirrored by the oracles in ``__spark_entry__``):
      src host  = h{doc_id % 997:03d}.example
      link j    = https://h{(doc_id*31 + (j+1)*7) % 997:03d}.example
                  /p/{doc_id*13 + j},  anchor "link {j}"
    997 is prime, so one page never emits two links to the same host
    (7*(j1-j2) mod 997 != 0 for |j1-j2| < 4) — the per-(src,dst)
    counts in the graph oracle stay a plain count(*).

    Pure Column ops end to end (concat / lpad / transform / encode):
    whole-stage codegen, no Python, no shuffle."""
    k = F.col("doc_id").cast("long")

    def _host(n):
        return F.concat(F.lit("h"),
                        F.lpad((n % 997).cast("string"), 3, "0"),
                        F.lit(".example"))

    url = F.concat(F.lit("https://"), _host(k), F.lit("/p/"),
                   k.cast("string"))
    links = F.concat_ws("", F.transform(
        F.sequence(F.lit(0).cast("long"), k % 4),
        lambda j: F.concat(
            F.lit('<a href="https://'), _host(k * 31 + (j + 1) * 7),
            F.lit("/p/"), (k * 13 + j).cast("string"),
            F.lit('">link '), j.cast("string"), F.lit("</a>"))))
    html = F.encode(F.concat(
        F.lit("<html><head><title>Doc "), k.cast("string"),
        F.lit("</title></head><body><p>"),
        F.substring(F.col("text"), 1, 80),
        F.lit("</p>"), links, F.lit("</body></html>")), "UTF-8")
    return docs.select(url.alias("url"), html.alias("html"))
