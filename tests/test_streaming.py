"""Structured Streaming surface: windowed tile rollups and streaming
dedup over the rate-replayed corpus, plus batch-equivalence oracles —
the same corpus replayed through a file source with an availableNow
trigger must produce exactly the batch rollup/dedup results."""

import time

from pyspark.sql import functions as F


def _drain(query, seconds=20, want_rows=1, spark=None, table=None):
    # Poll instead of processAllAvailable(): a rate source always has
    # new data, so that call can block forever once the host is too
    # busy for the query to ever go idle between micro-batches.
    deadline = time.time() + seconds
    while time.time() < deadline:
        if query.exception() is not None:
            raise query.exception()
        if spark is not None and table is not None:
            if spark.table(table).count() >= want_rows:
                break
        time.sleep(0.5)


def test_streaming_tile_counts(spark, tmp_path):
    from geojson_vt_spark.streaming import (streaming_synth_pages,
                                            streaming_tile_counts)
    pages = streaming_synth_pages(spark, rows_per_second=2000)
    counts = streaming_tile_counts(pages, res=4, window="2 seconds",
                                   watermark="4 seconds")
    q = (counts.writeStream.format("memory").queryName("tile_counts")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck1"))
         .start())
    try:
        time.sleep(6)
        _drain(q, seconds=30, want_rows=1, spark=spark, table="tile_counts")
        rows = spark.table("tile_counts").collect()
    finally:
        q.stop()
    assert len(rows) >= 1
    assert all(r.n_pages > 0 for r in rows)
    # cell ids must be valid z=4 tile ids (low 5 bits == 4)
    assert all(r.cell % 32 == 4 for r in rows)


def test_streaming_dedup_by_url(spark, tmp_path):
    from geojson_vt_spark.streaming import (streaming_dedup_by_url,
                                            streaming_synth_pages)
    pages = streaming_synth_pages(spark, rows_per_second=1000)
    # duplicate every page within the batch: union the stream with itself
    dup = pages.unionByName(pages)
    deduped = streaming_dedup_by_url(dup, watermark="10 seconds")
    q = (deduped.writeStream.format("memory").queryName("deduped")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .start())
    try:
        time.sleep(4)
        _drain(q, seconds=30, want_rows=10, spark=spark, table="deduped")
        urls = [r.url for r in spark.table("deduped").collect()]
    finally:
        q.stop()
    assert len(urls) >= 10
    assert len(urls) == len(set(urls)), "urls must be unique after dedup"


def test_streaming_heavy_tiles_stateful(spark, tmp_path):
    """applyInPandasWithState heavy-tile detector: a tile fires exactly
    once, when its cumulative count first crosses the threshold."""
    from geojson_vt_spark.streaming import (streaming_heavy_tiles,
                                            streaming_synth_pages)
    pages = streaming_synth_pages(spark, rows_per_second=3000)
    heavy = streaming_heavy_tiles(pages, res=2, max_points=50)
    q = (heavy.writeStream.format("memory").queryName("heavy_tiles")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck3"))
         .start())
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if (q.exception() is None
                    and spark.table("heavy_tiles").count() >= 1):
                break
            time.sleep(2)
        rows = spark.table("heavy_tiles").collect()
    finally:
        q.stop()
    assert len(rows) >= 1
    cells = [r.cell for r in rows]
    assert len(cells) == len(set(cells)), "each tile fires at most once"
    assert all(r.num_points > 50 for r in rows)
    assert all(c % 32 == 2 for c in cells), "valid z=2 tile ids"


def _replay_stream(spark, src_dir, schema):
    return spark.readStream.schema(schema).parquet(src_dir)


def test_streaming_tile_counts_equals_batch_rollup(spark, tmp_path):
    """Oracle: streaming_tile_counts over a file-source replay of the
    batch corpus (availableNow trigger) == the batch window rollup,
    restricted to windows the final watermark released (every window
    whose end <= max_ts - watermark delay; the 4-year warc_ts span
    makes that all but the last one)."""
    from geojson_vt_spark.sources.corpus import synth_pages_df
    from geojson_vt_spark.streaming import streaming_tile_counts

    pages = synth_pages_df(spark, 2000, seed=42)
    src = str(tmp_path / "pages_src")
    pages.write.parquet(src)
    static = spark.read.parquet(src)

    stream = _replay_stream(spark, src, static.schema)
    counts = streaming_tile_counts(stream, res=4, window="30 days",
                                   watermark="1 hour", ts_col="warc_ts")
    q = (counts.writeStream.format("memory").queryName("tc_oracle")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_tc"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.win_start, r.cell, r.n_pages)
           for r in spark.table("tc_oracle").collect()}

    from geojson_vt_spark.functions.geo import cell_col
    from geojson_vt_spark.streaming.pipeline import _page_centroids
    max_ts = static.agg(F.max("warc_ts")).collect()[0][0]
    batch = (_page_centroids(static)
             .groupBy(F.window("warc_ts", "30 days").alias("win"),
                      cell_col(F.col("lon"), F.col("lat"), 4).alias("cell"))
             .agg(F.count(F.lit(1)).alias("n_pages"))
             .where(F.col("win.end") <= F.lit(max_ts) - F.expr(
                 "INTERVAL 1 HOUR"))
             .select(F.col("win.start").alias("win_start"), "cell",
                     "n_pages"))
    want = {(r.win_start, r.cell, r.n_pages) for r in batch.collect()}
    assert len(want) > 20
    assert got == want


def test_streaming_dedup_equals_batch_dedup(spark, tmp_path):
    """Oracle: streaming_dedup_by_url over a replayed corpus with every
    page duplicated == the batch url-distinct set (duplicates are
    byte-identical rows, so full-row equality holds regardless of which
    copy wins)."""
    from geojson_vt_spark.sources.corpus import synth_pages_df
    from geojson_vt_spark.streaming import streaming_dedup_by_url

    pages = synth_pages_df(spark, 1000, seed=42)
    src = str(tmp_path / "dup_src")
    pages.unionByName(pages).write.parquet(src)
    static = spark.read.parquet(src)

    stream = _replay_stream(spark, src, static.schema)
    deduped = streaming_dedup_by_url(stream, watermark="1 hour",
                                     ts_col="warc_ts")
    q = (deduped.writeStream.format("memory").queryName("dd_oracle")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_dd"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r.url, r.warc_ts, r.text)
                 for r in spark.table("dd_oracle").collect())
    want = sorted((r.url, r.warc_ts, r.text) for r in pages.collect())
    assert got == want


def test_streaming_sessionize_equals_batch_session_stats(spark, tmp_path):
    """Oracle: streaming_sessionize over a file-source replay of the
    events table (availableNow) == the batch per-session roll-up,
    restricted to sessions the final watermark released (last event +
    gap < max_ts - delay)."""
    from geojson_vt_spark.operators.sessions import (_micros,
                                                     session_stats_df)
    from geojson_vt_spark.streaming import streaming_sessionize
    from pyspark.sql import Window

    static = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "ev_src")
    static.write.parquet(src)
    static = spark.read.parquet(src)

    stream = _replay_stream(spark, src, static.schema)
    sess = streaming_sessionize(stream, gap="30 minutes",
                                watermark="1 hour")
    q = (sess.writeStream.format("memory").queryName("sess_oracle")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_sess"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.user_id, r.session_start, r.n_events, r.value_cents)
           for r in spark.table("sess_oracle").collect()}

    # batch twin: session_stats + per-session start ts + emission cut
    gap_us = 30 * 60_000_000
    delay_us = 3600 * 1_000_000
    max_us = static.select(F.max(_micros("ts"))).collect()[0][0]
    us = _micros("ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(us).over(w)
    tagged = (static
              .withColumn("_us", us)
              .withColumn("session_seq", F.sum(
                  (prev.isNull() | ((us - prev) > gap_us))
                  .cast("long")).over(w)))
    batch = (tagged.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("_us").alias("_last"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
         .alias("value_cents"))
        .where(F.col("_last") + gap_us < max_us - delay_us))
    want = {(r.user_id, r.session_start, r.n_events, r.value_cents)
            for r in batch.collect()}
    assert len(want) > 50
    assert got == want


def test_streaming_incremental_dedup_equals_batch(spark, tmp_path):
    """Oracle: streaming_incremental_dedup over a replayed incoming
    batch (every page duplicated) against a static base == the batch
    incremental_dedup_df keep-set (rows are byte-identical duplicates,
    so full-row equality holds regardless of which copy wins)."""
    from geojson_vt_spark.operators.webtext import (incremental_dedup_df,
                                                    prefix_fingerprint_col)
    from geojson_vt_spark.sources.corpus import synth_pages_df
    from geojson_vt_spark.streaming import streaming_incremental_dedup

    pages = synth_pages_df(spark, 600, seed=42)
    base = pages.where(F.crc32("url") % 5 != 0)
    inc = pages.where(F.crc32("url") % 5 == 0)
    src = str(tmp_path / "inc_src")
    inc.unionByName(inc).write.parquet(src)
    static_inc = spark.read.parquet(src)

    stream = _replay_stream(spark, src, static_inc.schema)
    out = streaming_incremental_dedup(stream, base)
    q = (out.writeStream.format("memory").queryName("incdd")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_incdd"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.table("incdd").collect()

    fp = prefix_fingerprint_col(F.col("text"))
    batch = incremental_dedup_df(
        inc.withColumn("doc_id", F.crc32("url")), base, fp=fp)
    keep_fps = {r.fp for r in batch.where("keep = 1").collect()}
    # every kept fingerprint survives exactly once (fp-collision pairs
    # within the batch may keep either member, so compare by fp)
    assert sorted(r.fp for r in rows) == sorted(keep_fps)
    inc_fp_urls = {(r.url, r.fp)
                   for r in inc.withColumn("fp", fp).collect()}
    assert all((r.url, r.fp) in inc_fp_urls for r in rows)


def test_streaming_latest_capture_equals_batch(spark, tmp_path):
    """Oracle: streaming_latest_capture over a replayed capture log ==
    batch latest_capture_df.  Emissions are monotone per key (winner
    only improves, count only grows), so the max-n_captures emission
    per canonical URL is the final state and must equal the batch
    winner row exactly — including timestamp ties breaking to the
    highest id."""
    from geojson_vt_spark.operators.webtext import latest_capture_df
    from geojson_vt_spark.streaming import streaming_latest_capture

    rows = []
    for i in range(300):
        host = f"h{i % 20}"
        mess = ["https://WWW.%s.example.com/p%d?utm_source=x",
                "https://%s.example.com/p%d/",
                "https://%s.example.com/p%d#frag"][i % 3]
        # colliding timestamps every 5th capture exercise the id tie
        rows.append((i, mess % (host, i % 40), 1_700_000_000 + (i * 37 % 50)))
    pages = spark.createDataFrame(
        rows, "doc_id long, url string, warc_ts long")
    src = str(tmp_path / "cap_src")
    # timestamp column for the stream (state logic uses its int64 form)
    pages.withColumn("warc_ts", F.col("warc_ts").cast("timestamp")) \
         .write.parquet(src)
    static = spark.read.parquet(src)

    stream = _replay_stream(spark, src, static.schema)
    q = (streaming_latest_capture(stream)
         .writeStream.format("memory").queryName("lc_oracle")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_lc"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    emitted = spark.table("lc_oracle").collect()
    final = {}
    for r in emitted:
        cur = final.get(r.canon_url)
        if cur is None or r.n_captures > cur.n_captures:
            final[r.canon_url] = r

    # batch twin on epoch-second timestamps: ordering identical
    want = {r.canon_url: r for r in latest_capture_df(
        static.withColumn("warc_ts", F.col("warc_ts").cast("long")),
        keys_only=False).collect()}
    assert set(final) == set(want) and len(want) >= 40
    for k, w in want.items():
        g = final[k]
        assert (g.keep_id, g.n_captures) == (w.keep_id, w.n_captures), k


def test_streaming_asof_enrich_equals_batch(spark, tmp_path):
    """Oracle: streaming_asof_enrich over an in-order replay ==
    asof_join_df on the same rows — including the null-before-first-
    build probes, the <= tie rule, and state carried ACROSS
    micro-batches (maxFilesPerTrigger=1 over ts-ordered files)."""
    import datetime as dt
    import os
    import time as _time
    from geojson_vt_spark.operators.temporal import asof_join_df
    from geojson_vt_spark.streaming import streaming_asof_enrich

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(600):
        # ts strictly increases with i; every 4th event is a build;
        # every 30th event shares its stamp with the NEXT one so the
        # tie rule (build-at-equal-ts wins) is exercised
        sec = i - (1 if i % 30 == 29 else 0)
        rows.append((i, i % 12, t0 + dt.timedelta(seconds=sec),
                     1 if i % 4 == 0 else 0, (i * 7) % 1000))
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, "
              "is_build long, value_cents long")
    src = str(tmp_path / "asof_src")
    os.makedirs(src)
    # three ts-ordered files -> three micro-batches in order: state
    # (the latest build per user) must survive batch boundaries
    pdf = events.toPandas().sort_values("event_id")
    for j, lo in enumerate((0, 200, 400)):
        part = spark.createDataFrame(pdf.iloc[lo:lo + 200], events.schema)
        part.coalesce(1).write.parquet(f"{src}/f{j}", mode="overwrite")
        _time.sleep(0.05)
    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{src}/f*"))
    q = (streaming_asof_enrich(stream)
         .writeStream.format("memory").queryName("asof_oracle")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_asof"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.event_id: r for r in spark.table("asof_oracle").collect()}

    probe = events.where(F.col("is_build") == 0)
    build = events.where(F.col("is_build") == 1)
    want = {r.event_id: r for r in asof_join_df(
        probe, build, on="user_id", ts_col="ts",
        probe_cols=("event_id",),
        build_values=("value_cents",)).collect()}
    assert set(got) == set(want) and len(want) == 450
    n_null = 0
    for eid, w in want.items():
        g = got[eid]
        assert (g.user_id, g.us) == (w.user_id, w.us), eid
        assert g.asof_us == w.asof_us and g.asof_val == w.asof_value_cents, eid
        n_null += w.asof_us is None
    assert n_null > 0  # the null-before-first-build path was exercised


def test_streaming_link_graph_equals_batch(spark, tmp_path):
    """Oracle: streaming_link_graph over a file-source replay of pages
    WITH <a href> links (the html bridge + synthetic warc_ts) ==
    the batch windowed host-graph rollup, restricted to windows the
    final watermark released."""
    from geojson_vt_spark.operators.webgraph import _HOST_RE, _HREF_RE
    from geojson_vt_spark.sources.corpus import html_pages_from_documents
    from geojson_vt_spark.streaming import streaming_link_graph

    docs = spark.range(0, 1200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text for doc "), F.col("id")).alias("text"))
    pages = html_pages_from_documents(docs).withColumn(
        "warc_ts", F.timestamp_seconds(
            F.lit(1577836800) + F.xxhash64("url") % 126230400))
    src = str(tmp_path / "linked_pages")
    pages.write.parquet(src)
    static = spark.read.parquet(src)

    stream = _replay_stream(spark, src, static.schema)
    g = streaming_link_graph(stream, window="30 days",
                             watermark="1 hour", ts_col="warc_ts")
    q = (g.writeStream.format("memory").queryName("lg_oracle")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_lg"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.win_start, r.src_host, r.dst_host, r.n_links)
           for r in spark.table("lg_oracle").collect()}

    h = F.decode(F.col("html"), "UTF-8")
    max_ts = static.agg(F.max("warc_ts")).collect()[0][0]
    batch = (static
             .select("warc_ts",
                     F.regexp_extract("url", _HOST_RE, 1).alias("src_host"),
                     F.explode(F.regexp_extract_all(
                         h, F.lit(_HREF_RE), F.lit(1))).alias("href"))
             .select("warc_ts", "src_host",
                     F.regexp_extract("href", _HOST_RE, 1)
                     .alias("dst_host"))
             .groupBy(F.window("warc_ts", "30 days").alias("win"),
                      "src_host", "dst_host")
             .agg(F.count(F.lit(1)).alias("n_links"))
             .where(F.col("win.end") <= F.lit(max_ts) - F.expr(
                 "INTERVAL 1 HOUR"))
             .select(F.col("win.start").alias("win_start"),
                     "src_host", "dst_host", "n_links"))
    want = {(r.win_start, r.src_host, r.dst_host, r.n_links)
            for r in batch.collect()}
    assert len(want) > 100
    assert got == want
