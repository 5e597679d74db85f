"""Structured Streaming surface.

The reference is a bounded batch pipeline (SURVEY.md §2.8 — no
streaming operators), but a web-scale ingestion deployment consumes the
crawl as a stream.  This module provides the streaming twins of the
batch stages that make sense incrementally:

- ``streaming_synth_pages``   rate source → deterministic corpus pages
                              (same splitmix64 generator as the batch
                              source, so batch/stream results agree);
- ``streaming_tile_counts``   per-tile rollup over event-time windows
                              with a watermark for late pages;
- ``streaming_dedup_by_url``  stateful exact dedup on url within the
                              watermark horizon.

Tile *slicing* itself stays batch (the pyramid is a bounded iterative
job); the streaming side feeds/maintains the per-tile stats that
schedule re-slicing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .._worker import _worker_prep
from ..functions.geo import cell_col
from ..sources.corpus import _gen_batch


def streaming_synth_pages(spark: SparkSession, rows_per_second: int = 500,
                          seed: int = 42) -> DataFrame:
    """Rate source → corpus pages; page identity = rate value, so the
    stream replays the exact batch corpus row-for-row."""
    rate = (spark.readStream.format("rate")
            .option("rowsPerSecond", rows_per_second).load())

    def gen(batches):
        _worker_prep()
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["value"].to_numpy(dtype=np.int64)
            out = _gen_batch(ids, seed, 6)
            out["event_ts"] = pdf["timestamp"].to_numpy()
            yield out

    return rate.mapInPandas(
        gen, "url string, warc_ts timestamp, html binary, text string, "
             "lang string, event_ts timestamp")


_GEO_FIRST = r"geo:(-?\d+\.\d+),(-?\d+\.\d+)"


def _page_centroids(pages: DataFrame) -> DataFrame:
    lat = F.regexp_extract("text", _GEO_FIRST, 1).cast("double")
    lon = F.regexp_extract("text", _GEO_FIRST, 2).cast("double")
    return pages.withColumn("lat", lat).withColumn("lon", lon)


def streaming_tile_counts(pages: DataFrame, res: int = 6,
                          window: str = "10 seconds",
                          watermark: str = "30 seconds",
                          ts_col: str = "event_ts") -> DataFrame:
    """Windowed per-tile page counts with late-data handling:
    watermark bounds state, tumbling event-time windows roll up the
    cell counts that drive re-slicing decisions."""
    pts = _page_centroids(pages)
    return (pts
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("win"),
                     cell_col(F.col("lon"), F.col("lat"), res).alias("cell"))
            .agg(F.count(F.lit(1)).alias("n_pages"))
            .select(F.col("win.start").alias("win_start"),
                    "cell", "n_pages"))


def streaming_link_graph(pages: DataFrame, window: str = "10 seconds",
                         watermark: str = "30 seconds",
                         ts_col: str = "warc_ts") -> DataFrame:
    """Incremental host link graph over the crawl stream: stateless
    ``<a href>`` extraction from the html bytes (pure codegen — the
    same expressions as operators/webgraph.extract_links_df run
    unchanged on a streaming plan) feeding a watermarked tumbling
    window count per (src_host, dst_host).  Append mode emits each
    window's edge counts once the watermark passes — the incremental
    feed a periodic PageRank job consumes.  State is bounded by
    watermark × live host pairs (slim string keys); at crawl scale the
    aggregation is the same map-side-partial + slim-key exchange as
    the batch operator."""
    from ..operators.webgraph import _HOST_RE, _HREF_RE
    h = F.decode(F.col("html"), "UTF-8")
    hrefs = F.regexp_extract_all(h, F.lit(_HREF_RE), F.lit(1))
    edges = (pages
             .withWatermark(ts_col, watermark)
             .select(F.col(ts_col),
                     F.regexp_extract("url", _HOST_RE, 1)
                     .alias("src_host"),
                     F.explode(hrefs).alias("href"))
             .select(ts_col, "src_host",
                     F.regexp_extract("href", _HOST_RE, 1)
                     .alias("dst_host")))
    return (edges
            .groupBy(F.window(F.col(ts_col), window).alias("win"),
                     "src_host", "dst_host")
            .agg(F.count(F.lit(1)).alias("n_links"))
            .select(F.col("win.start").alias("win_start"),
                    "src_host", "dst_host", "n_links"))


def streaming_dedup_by_url(pages: DataFrame, watermark: str = "30 seconds",
                           ts_col: str = "event_ts") -> DataFrame:
    """Streaming exact dedup: first sighting of each url wins inside the
    watermark horizon (state bounded by the watermark)."""
    return (pages
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["url"]))


def streaming_heavy_tiles(pages: DataFrame, res: int = 6,
                          max_points: int = 1000,
                          ts_col: str = "warc_ts",
                          idle_timeout_ms: int | None = None
                          ) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): the
    streaming twin of the engine's heavy-tile stop rule.

    Per tile cell, keep a running cumulative page count across
    micro-batches and EMIT a row only when the count first crosses
    ``max_points`` — the signal that a tile has outgrown its slice and
    the batch engine should re-split it.  Cumulative cross-batch state
    with emit-on-transition is not expressible as a windowed aggregate,
    which is exactly what applyInPandasWithState is for; state is one
    (long, bool) per tile.

    .. warning:: **Behavior change (round 3):** the default switched
       from a 1-hour state-eviction timer to ``NoTimeout``.  A
       long-running continuous deployment upgrading across that change
       silently moves to UNBOUNDED per-tile state growth — pass
       ``idle_timeout_ms`` explicitly (e.g. ``3_600_000``) for
       continuous jobs, or use :func:`streaming_heavy_tiles_continuous`
       which keeps eviction on.  The timer-free default exists because
       pending processing-time timers keep ``availableNow`` replays
       scheduling empty micro-batches until the farthest timer fires
       (the latest-capture twin measured 160+ zero-input batches on a
       2k-row replay before this was made opt-in) — bounded
       replays/backfills must run timer-free."""
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)

    cells = (_page_centroids(pages)
             .withColumn("cell", cell_col(F.col("lon"), F.col("lat"), res))
             .select("cell"))

    def track(key, pdfs, state: GroupState):
        _worker_prep()
        new = 0
        for pdf in pdfs:
            new += len(pdf)
        if state.hasTimedOut:
            state.remove()
            return iter(())
        total, fired = state.get if state.exists else (0, False)
        total += new
        crossed = (not fired) and total > max_points
        state.update((total, fired or crossed))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        if crossed:
            yield pd.DataFrame({"cell": [key[0]],
                                "num_points": [total]})

    timeout_conf = (GroupStateTimeout.NoTimeout
                    if idle_timeout_ms is None
                    else GroupStateTimeout.ProcessingTimeTimeout)
    return (cells.groupBy("cell").applyInPandasWithState(
        track,
        outputStructType="cell long, num_points long",
        stateStructType="total long, fired boolean",
        outputMode="append",
        timeoutConf=timeout_conf))


def streaming_heavy_tiles_continuous(pages: DataFrame, res: int = 6,
                                     max_points: int = 1000,
                                     ts_col: str = "warc_ts",
                                     idle_timeout_ms: int = 3_600_000
                                     ) -> DataFrame:
    """:func:`streaming_heavy_tiles` with state eviction ON (1-hour
    idle timeout by default) — the form long-running continuous
    deployments should use so per-tile state tracks the active
    frontier, not every tile ever seen.  Bounded ``availableNow``
    replays should use the timer-free :func:`streaming_heavy_tiles`
    instead (pending timers make such replays spin empty batches)."""
    return streaming_heavy_tiles(pages, res=res, max_points=max_points,
                                 ts_col=ts_col,
                                 idle_timeout_ms=idle_timeout_ms)


def streaming_sessionize(events: DataFrame, gap: str = "30 minutes",
                         watermark: str = "1 hour", ts_col: str = "ts",
                         user_col: str = "user_id",
                         value_col: str = "value") -> DataFrame:
    """Streaming twin of ``operators.sessions.session_stats_df``:
    native ``session_window`` gap sessions per user with a watermark
    bounding state — a session is emitted once the watermark passes
    its end (last event + gap), exactly the incremental version of the
    batch roll-up.  Emits ``(user_id, session_start, session_end,
    n_events, value_cents)`` with the same integer-cent value sums.

    Boundary note: the batch operator starts a new session when the
    inter-event gap is STRICTLY greater than ``gap``; Spark's session
    window splits at exactly-equal gaps too ([t, t+g) half-open
    windows don't overlap [t+g, ...)).  With microsecond event times
    an exactly-gap-sized spacing is measure-zero; the batch/stream
    equivalence test runs on the real events table where the two
    semantics agree row-for-row."""
    cents = F.round(F.col(value_col) * 100).cast("long")
    # watermarks require TIMESTAMP: an NTZ event-time column is
    # interpreted as session-zone wall clock (gap/session math only
    # uses differences, so the zone choice cancels)
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (events
            .withWatermark(ts_col, watermark)
            .groupBy(F.col(user_col),
                     F.session_window(F.col(ts_col), gap).alias("sess"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(cents).alias("value_cents"))
            .select(user_col,
                    F.col("sess.start").alias("session_start"),
                    F.col("sess.end").alias("session_end"),
                    "n_events", "value_cents"))


def streaming_incremental_dedup(pages: DataFrame, base: DataFrame,
                                text_col: str = "text",
                                watermark: str = "1 hour",
                                ts_col: str = "warc_ts",
                                n_tokens: int = 8) -> DataFrame:
    """Streaming twin of ``webtext.incremental_dedup_df``: the
    continuously-ingesting form of snapshot-incremental dedup.  A page
    survives only if its prefix fingerprint is (a) the first sighting
    in-stream within the watermark horizon and (b) absent from the
    static base corpus.

    Plan: the base side collapses to a distinct fingerprint set ONCE
    per micro-batch as a stream-static ``left_anti`` hash join (16-byte
    build rows — document bodies never leave the base scan);
    first-wins state is ``dropDuplicatesWithinWatermark`` keyed on the
    fingerprint, so state size is bounded by the watermark horizon,
    not the stream history."""
    from ..operators.webtext import prefix_fingerprint_col
    fp = prefix_fingerprint_col(F.col(text_col), n_tokens)
    seen = base.select(fp.alias("fp")).distinct()
    return (pages.withColumn("fp", fp)
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["fp"])
            .join(seen, "fp", "left_anti"))


def streaming_latest_capture(pages: DataFrame, url_col: str = "url",
                             ts_col: str = "warc_ts",
                             id_col: str = "doc_id",
                             idle_timeout_ms: int | None = None
                             ) -> DataFrame:
    """Streaming twin of ``webtext.latest_capture_df``: maintain the
    NEWEST capture per canonical URL as the crawl streams in, emitting
    an updated winner row whenever a key's best capture improves or
    its revisit count grows.  The last emission per key therefore
    carries the same ``(keep_id, n_captures)`` the batch operator
    computes over the full corpus (equivalence pinned in
    tests/test_streaming.py).

    Cross-batch max-with-count is cumulative state with
    emit-on-change — not a windowed aggregate — so this uses
    ``applyInPandasWithState``: one ``(best_us, best_id, n)`` triple
    per canonical URL.  Ties on timestamp break to the highest id,
    matching the batch operator, so replaying a WARC twice changes
    nothing but ``n_captures``.

    ``idle_timeout_ms``: for long-running deployments, pass a timeout
    to drop state for URLs the frontier stopped revisiting (state
    becomes the working set, not the corpus).  Default None — pending
    processing-time timers keep an ``availableNow`` replay scheduling
    EMPTY micro-batches until the farthest timer fires, so bounded
    replays/backfills must run timer-free (measured: a 2k-row replay
    ran 160+ empty batches before the 1-hour timers would ever fire;
    the timer-free form terminates with the data)."""
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)

    from ..operators.webtext import canonicalize_url_col

    keyed = pages.select(
        canonicalize_url_col(F.col(url_col)).alias("canon_url"),
        F.col(ts_col).cast("timestamp").alias("_ts"),
        F.col(id_col).alias("_id"))

    def track(key, pdfs, state: GroupState):
        _worker_prep()
        if state.hasTimedOut:
            state.remove()
            return
        best_us, best_id, n = state.get if state.exists else (
            -(1 << 62), -(1 << 62), 0)
        new = 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            new += len(pdf)
            us = pdf["_ts"].astype("int64").to_numpy()
            ids = pdf["_id"].to_numpy()
            j = int(np.lexsort((ids, us))[-1])
            if (int(us[j]), int(ids[j])) > (best_us, best_id):
                best_us, best_id = int(us[j]), int(ids[j])
        if new:
            n += new
            state.update((best_us, best_id, n))
            if idle_timeout_ms is not None:
                state.setTimeoutDuration(idle_timeout_ms)
            yield pd.DataFrame({"canon_url": [key[0]],
                                "keep_id": [best_id],
                                "n_captures": [n]})

    timeout_conf = (GroupStateTimeout.NoTimeout
                    if idle_timeout_ms is None
                    else GroupStateTimeout.ProcessingTimeTimeout)
    return (keyed.groupBy("canon_url").applyInPandasWithState(
        track,
        outputStructType="canon_url string, keep_id long, "
                         "n_captures long",
        stateStructType="best_us long, best_id long, n long",
        outputMode="append",
        timeoutConf=timeout_conf))


def streaming_asof_enrich(events: DataFrame, on: str = "user_id",
                          ts_col: str = "ts", id_col: str = "event_id",
                          side_col: str = "is_build",
                          value_col: str = "value_cents",
                          idle_timeout_ms: int | None = None
                          ) -> DataFrame:
    """Streaming twin of ``operators.temporal.asof_join_df``: one
    stream carries both event kinds (``side_col`` = 1 for build rows,
    0 for probes) and every PROBE row is emitted enriched with the
    most recent build row at-or-before it seen so far — the standard
    streaming enrichment join (events against the latest feature/model
    snapshot), expressed as one ``applyInPandasWithState`` keeping a
    single ``(has, last_us, last_val)`` triple per key.

    Ordering semantics: within a micro-batch the key's rows are
    sorted by ``(ts, build-before-probe)`` exactly like the batch
    operator, so per-key in-order arrival across micro-batches gives
    row-exact batch equivalence (pinned in tests/test_streaming.py).
    A build row arriving LATE (after a later-stamped probe was already
    emitted) enriches only subsequent probes — processing-time as-of,
    the semantic every streaming enrichment join has; the batch
    operator is the backfill/repair path.

    ``idle_timeout_ms``: same contract as streaming_latest_capture —
    None (default) keeps the operator timer-free so bounded
    availableNow replays terminate with the data; pass a timeout in
    continuous deployments so state tracks the live key working set.
    """
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)

    us = F.expr(f"timestampdiff(MICROSECOND,"
                f" TIMESTAMP_NTZ '1970-01-01 00:00:00', {ts_col})")
    keyed = events.select(
        F.col(on).alias("_key"), us.alias("_us"),
        F.col(side_col).cast("long").alias("_side"),
        F.col(id_col).alias("_id"),
        F.col(value_col).cast("long").alias("_val"))

    def enrich(key, pdfs, state: GroupState):
        _worker_prep()
        if state.hasTimedOut:
            state.remove()
            return
        has, last_us, last_val = state.get if state.exists else (0, 0, 0)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 \
            else chunks[0]
        t = pdf["_us"].to_numpy(dtype=np.int64)
        side = pdf["_side"].to_numpy(dtype=np.int64)
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        vals = pdf["_val"].to_numpy(dtype=np.int64)
        # arrival order within the batch is shuffle order — sort the
        # key's rows once: ts ascending, builds before probes at ties
        o = np.lexsort((1 - side, t))
        t, side, ids, vals = t[o], side[o], ids[o], vals[o]
        n = len(t)
        # carry-forward: index of the latest build row at-or-before
        # each row (-1 = none in this batch -> fall back to state)
        carry = np.maximum.accumulate(
            np.where(side == 1, np.arange(n), -1))
        probes = side == 0
        c = carry[probes]
        in_batch = c >= 0
        a_us = np.where(in_batch, t[np.maximum(c, 0)],
                        last_us if has else 0)
        a_val = np.where(in_batch, vals[np.maximum(c, 0)],
                         last_val if has else 0)
        # no build before this probe, in-batch or in-state -> null
        miss = ~in_batch if not has else np.zeros(len(c), dtype=bool)
        bpos = np.where(side == 1)[0]
        if len(bpos):
            state.update((1, int(t[bpos[-1]]), int(vals[bpos[-1]])))
        if idle_timeout_ms is not None and (state.exists or len(bpos)):
            state.setTimeoutDuration(idle_timeout_ms)
        if probes.any():
            if miss.any():
                a_us = a_us.astype(object)
                a_val = a_val.astype(object)
                a_us[miss] = None
                a_val[miss] = None
            yield pd.DataFrame({
                on: np.repeat(key[0], int(probes.sum())),
                id_col: ids[probes],
                "us": t[probes],
                "asof_us": a_us,
                "asof_val": a_val,
            })

    timeout_conf = (GroupStateTimeout.NoTimeout
                    if idle_timeout_ms is None
                    else GroupStateTimeout.ProcessingTimeTimeout)
    return (keyed.groupBy("_key").applyInPandasWithState(
        enrich,
        outputStructType=f"{on} long, {id_col} long, us long, "
                         "asof_us long, asof_val long",
        stateStructType="has long, last_us long, last_val long",
        outputMode="append",
        timeoutConf=timeout_conf))
