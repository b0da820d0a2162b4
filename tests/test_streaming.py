"""Streaming ingest: same results as batch, incremental on new files."""

import shutil

from causalre_spark.oracle.pipeline import doc_spans
from causalre_spark.extract import tokenize
from causalre_spark.config import DEFAULT_CONFIG
from causalre_spark.sources.corpus import gen_page, synth_pages_df
from causalre_spark.streaming.ingest import run_ingest_once

SRC = "/tmp/causalre_stream_src"
OUT = "/tmp/causalre_stream_out"


def test_streaming_matches_batch_and_is_incremental(spark):
    shutil.rmtree(SRC, ignore_errors=True)
    shutil.rmtree(OUT, ignore_errors=True)
    synth_pages_df(spark, 20, partitions=2).write.mode("overwrite").parquet(SRC)
    sinks = run_ingest_once(spark, SRC, OUT)
    spans1 = spark.read.parquet(sinks["spans"])
    n1 = spans1.count()
    assert n1 > 0

    # spot-check one doc against the oracle
    pg = next(gen_page(i) for i in range(20) if gen_page(i)["lang"] == "en")
    want = {(s["start"], s["end"]) for s in doc_spans(tokenize(pg["text"]), DEFAULT_CONFIG)}
    got = {(r.start, r.end) for r in spans1.filter(spans1.url == pg["url"]).collect()}
    assert got == want

    # second batch of files -> only the new docs are appended
    (synth_pages_df(spark, 30, partitions=2)
     .filter("url rlike '/doc/2[0-9]$'")  # exactly docs 20..29
     .write.mode("append").parquet(SRC))
    run_ingest_once(spark, SRC, OUT)
    spans2 = spark.read.parquet(sinks["spans"])
    assert spans2.count() > n1
    # no duplicates for the original urls (checkpoint skipped old files)
    dup = (spans2.groupBy("url", "start", "end").count().filter("count > 1").count())
    assert dup == 0


def test_windowed_counts_with_watermark(spark):
    """Event-time windowed agg + watermark: counts land in the right
    1-hour warc_ts windows (update mode to a memory sink)."""
    import datetime as dt

    from causalre_spark.sources.corpus import PAGES_SCHEMA
    from causalre_spark.streaming.ingest import windowed_page_counts

    src = "/tmp/causalre_stream_win_src"
    shutil.rmtree(src, ignore_errors=True)
    base = dt.datetime(2025, 3, 1, 0, 30)
    rows = [(f"u{i}", base + dt.timedelta(hours=i % 3), b"<p>x</p>", "x", "en")
            for i in range(12)]
    spark.createDataFrame(rows, PAGES_SCHEMA).write.parquet(src)
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(src)
    q = (windowed_page_counts(stream).writeStream.format("memory")
         .queryName("win_counts").outputMode("update")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.window_start.hour, r.n_pages)
           for r in spark.sql("select * from win_counts").collect()}
    assert got == {(0, 4), (1, 4), (2, 4)}


def test_stateful_exact_dedup_across_batches(spark):
    """applyInPandasWithState: first arrival of each content wins within
    AND across micro-batches; state suppresses later duplicates."""
    from causalre_spark.sources.corpus import PAGES_SCHEMA
    from causalre_spark.streaming.ingest import stateful_exact_dedup

    import datetime as dt

    src = "/tmp/causalre_stream_dedup_src"
    out = "/tmp/causalre_stream_dedup_out"
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(out + "_ck", ignore_errors=True)  # stale checkpoint breaks reruns
    ts = dt.datetime(2025, 3, 1)

    def write(rows, name):
        spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(src)

    def drain():
        stream = spark.readStream.schema(PAGES_SCHEMA).parquet(src)
        q = (stateful_exact_dedup(stream).writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", out + "_ck")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        return spark.read.parquet(out).collect()

    write([("u1", ts, b"x", "AAA", "en"), ("u2", ts, b"x", "AAA", "en"),
           ("u3", ts, b"x", "BBB", "en")], "c1")
    rows1 = drain()
    assert {(r.url, r.n_batch_dups) for r in rows1} == {("u1", 1), ("u3", 0)}
    # second batch: repeats of AAA/BBB are suppressed by state; CCC is new
    write([("u4", ts, b"x", "AAA", "en"), ("u5", ts, b"x", "BBB", "en"),
           ("u6", ts, b"x", "CCC", "en")], "c2")
    rows2 = drain()
    assert {(r.url, r.n_batch_dups) for r in rows2} == {
        ("u1", 1), ("u3", 0), ("u6", 0)}


def test_streamed_bridge_matches_batch_pipeline(spark):
    """VERDICT r02 #9: stream pages in two micro-batch rounds, run the
    periodic linking bridge over the streamed sinks, and assert the
    triples are ROW-IDENTICAL to the batch pipeline over the union of
    the same pages — the streamed path and the batch path must never
    drift."""
    import shutil as sh

    from causalre_spark.pipeline import run_pipeline
    from causalre_spark.sources.corpus import synth_pages_df
    from causalre_spark.streaming.ingest import link_streamed_batch

    src = "/tmp/causalre_stream_bridge_src"
    out = "/tmp/causalre_stream_bridge_out"
    sh.rmtree(src, ignore_errors=True)
    sh.rmtree(out, ignore_errors=True)

    # round 1: docs 0..39 land and are drained
    synth_pages_df(spark, 40, partitions=2).write.mode("overwrite").parquet(src)
    sinks = run_ingest_once(spark, src, out)
    # round 2: docs 40..59 land; checkpoint processes only the new files
    (synth_pages_df(spark, 60, partitions=2)
     .filter("url rlike '/doc/[45][0-9]$'")
     .write.mode("append").parquet(src))
    run_ingest_once(spark, src, out)

    spark.catalog.clearCache()
    bridged = link_streamed_batch(spark, sinks)
    # cache contract: the bridge hands back only `entities` cached; the
    # linking tail's intermediates are released after localCheckpoint
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert bridged["entities"].storageLevel.useMemory
    assert cache.numCachedEntries() == 1
    batch = run_pipeline(spark, synth_pages_df(spark, 60, partitions=4))

    cols = ["cause_id", "cause", "predicate", "effect_id", "effect",
            "n_evidence", "max_score"]
    got = {tuple(r) for r in bridged["triples"].select(*cols).collect()}
    want = {tuple(r) for r in batch["triples"].select(*cols).collect()}
    assert got == want and len(want) > 0
    bridged["entities"].unpersist()


def test_session_window_crawl_activity(spark):
    """Dynamic session windows: pages from one domain with <30min gaps
    merge into one session; a >30min gap opens a new one; domains are
    independent."""
    import datetime as dt
    import shutil as _sh

    from causalre_spark.sources.corpus import PAGES_SCHEMA
    from causalre_spark.streaming.ingest import session_crawl_activity

    src = "/tmp/causalre_stream_sess_src"
    _sh.rmtree(src, ignore_errors=True)
    base = dt.datetime(2025, 3, 1, 0, 0)
    m = dt.timedelta(minutes=1)

    def pg(domain, minute, i):
        return (f"https://{domain}/p{i}", base + minute * m,
                b"<p>x</p>", "x", "en")

    rows = (
        # a.example: 3 pages 10 min apart -> ONE session [0, 50)
        [pg("a.example", t, i) for i, t in enumerate((0, 10, 20))]
        # a.example again after a 90-min gap -> a SECOND session
        + [pg("a.example", 110, 3)]
        # b.example: single page -> its own session
        + [pg("b.example", 5, 0)]
    )
    spark.createDataFrame(rows, PAGES_SCHEMA).write.parquet(src)
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(src)
    q = (session_crawl_activity(stream).writeStream.format("memory")
         .queryName("sess_counts").outputMode("complete")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.domain, r.session_start.minute + 60 * r.session_start.hour,
            r.n_pages)
           for r in spark.sql("select * from sess_counts").collect()}
    assert got == {("a.example", 0, 3), ("a.example", 110, 1),
                   ("b.example", 5, 1)}


def test_streaming_curation_gate_matches_batch(spark):
    """The stateless in-stream curation gate produces row-identical
    output to the same projection run in batch over the same files,
    and the repetition signals match the batch repetition_stats values
    exactly (same frozen expressions)."""
    import shutil

    from pyspark.sql import functions as F

    from causalre_spark.operators.textstats import repetition_stats
    from causalre_spark.streaming.ingest import (
        curation_gate_stream, run_curation_gate_once)

    src = "/tmp/causalre_stream_gate_src"
    out = "/tmp/causalre_stream_gate_out"
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    synth_pages_df(spark, 40, partitions=2).write.mode("overwrite").parquet(src)

    sink = run_curation_gate_once(spark, src, out)
    streamed = spark.read.parquet(sink)
    batch = curation_gate_stream(
        spark.read.parquet(src).select("url", "text"))
    key = lambda r: (r["url"],)
    s_rows = sorted(map(tuple, streamed.collect()))
    b_rows = sorted(map(tuple, batch.collect()))
    assert s_rows == b_rows
    assert len(s_rows) == 40
    # gate is non-vacuous on the synthetic corpus
    kept = streamed.filter("keep").count()
    assert 0 < kept < 40

    # dup fracs equal the batch repetition_stats values per url
    rep = repetition_stats(
        spark.read.parquet(src).select(F.col("url").alias("doc_id"), "text"))
    want = {r["doc_id"]: (r["dup_word_frac"], r["dup_trigram_frac"])
            for r in rep.collect()}
    got = {r["url"]: (r["dup_word_frac"], r["dup_trigram_frac"])
           for r in streamed.collect()}
    assert got == want

    # incremental: new files only
    (synth_pages_df(spark, 50, partitions=2)
     .filter("url rlike '/doc/4[0-9]$'")
     .write.mode("append").parquet(src))
    run_curation_gate_once(spark, src, out)
    again = spark.read.parquet(sink)
    assert again.count() == 50
    assert again.select("url").distinct().count() == 50


def test_pipeline_curation_gate_equals_prefiltered_run(spark):
    """run_pipeline with cfg.extra['curation_gate'] produces exactly the
    output of running the ungated pipeline over the pre-filtered pages
    (the gate composes, it does not perturb), and it actually drops
    pages on the synthetic corpus."""
    from dataclasses import replace

    from causalre_spark.config import DEFAULT_CONFIG
    from causalre_spark.pipeline import run_pipeline
    from causalre_spark.streaming.ingest import curation_gate_stream

    pages = synth_pages_df(spark, 60, partitions=4)
    gated_cfg = replace(DEFAULT_CONFIG, extra={"curation_gate": True})
    res_g = run_pipeline(spark, pages, gated_cfg)

    kept_urls = {r["url"] for r in curation_gate_stream(
        pages, extra_cols=("lang",)).filter("keep").collect()}
    assert 0 < len(kept_urls) < 60
    pre = pages.filter(pages.url.isin(list(kept_urls)))
    res_p = run_pipeline(spark, pre)

    for key in ("spans", "triples"):
        a = sorted(map(tuple, res_g[key].collect()))
        b = sorted(map(tuple, res_p[key].collect()))
        assert a == b, key
    assert res_g["docs"].count() == pre.filter("lang = 'en'").count()


def test_stream_stream_interval_join_matches_batch(spark):
    """Watermarked stream-stream interval join == the equivalent batch
    join (row for row), and out-of-window events are dropped."""
    import datetime as dt

    from causalre_spark.sources.corpus import PAGES_SCHEMA
    from causalre_spark.streaming.ingest import join_crawl_events_stream

    psrc = "/tmp/causalre_ssj_pages"
    esrc = "/tmp/causalre_ssj_events"
    shutil.rmtree(psrc, ignore_errors=True)
    shutil.rmtree(esrc, ignore_errors=True)
    base = dt.datetime(2025, 3, 1, 12, 0)
    pages = [(f"u{i}", base + dt.timedelta(minutes=10 * i), b"<p>x</p>", "x", "en")
             for i in range(6)]
    spark.createDataFrame(pages, PAGES_SCHEMA).write.parquet(psrc)
    # one in-window event per page, plus out-of-window and unknown-url noise
    events = (
        [(f"u{i}", base + dt.timedelta(minutes=10 * i + 5), 200) for i in range(6)]
        + [("u0", base + dt.timedelta(hours=3), 500),       # outside +-1h
           ("zz", base, 404)]                               # unknown url
    )
    eschema = "url string, fetch_ts timestamp, status int"
    spark.createDataFrame(events, eschema).write.parquet(esrc)

    joined = join_crawl_events_stream(
        spark.readStream.schema(PAGES_SCHEMA).parquet(psrc),
        spark.readStream.schema(eschema).parquet(esrc))
    q = (joined.writeStream.format("memory").queryName("ssj")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.url, r.fetch_ts, r.status)
           for r in spark.sql("select * from ssj").collect()}
    want = {(f"u{i}", base + dt.timedelta(minutes=10 * i + 5), 200)
            for i in range(6)}
    assert got == want


def test_drop_duplicates_within_watermark(spark):
    """Built-in bounded-state streaming dedup (dropDuplicatesWithinWatermark)
    next to the custom applyInPandasWithState dedup: duplicate urls
    arriving within the watermark window collapse to one row, and state
    is evictable (the watermark bound is what makes url-dedup feasible
    at crawl scale — unbounded dropDuplicates would hold every url ever
    seen)."""
    import datetime as dt

    from causalre_spark.sources.corpus import PAGES_SCHEMA

    src = "/tmp/causalre_ddww_src"
    shutil.rmtree(src, ignore_errors=True)
    base = dt.datetime(2025, 3, 1, 12, 0)
    rows = []
    for i in range(5):
        for rep in range(3):  # 3 near-time duplicates of each url
            rows.append((f"u{i}", base + dt.timedelta(minutes=i, seconds=rep),
                         b"<p>x</p>", "x", "en"))
    spark.createDataFrame(rows, PAGES_SCHEMA).write.parquet(src)
    stream = (spark.readStream.schema(PAGES_SCHEMA).parquet(src)
              .withWatermark("warc_ts", "10 minutes")
              .dropDuplicatesWithinWatermark(["url"]))
    q = (stream.writeStream.format("memory").queryName("ddww")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.sql("select url from ddww").collect()
    assert sorted(r["url"] for r in got) == [f"u{i}" for i in range(5)]


def test_stream_stream_join_honors_custom_skew(spark):
    """Regression for the review finding: with skew='3 hours' an event
    2h after its page (outside the old hardcoded 1h bound, inside the
    watermark) must now MATCH."""
    import datetime as dt

    from causalre_spark.sources.corpus import PAGES_SCHEMA
    from causalre_spark.streaming.ingest import join_crawl_events_stream

    psrc = "/tmp/causalre_ssj_skew_pages"
    esrc = "/tmp/causalre_ssj_skew_events"
    shutil.rmtree(psrc, ignore_errors=True)
    shutil.rmtree(esrc, ignore_errors=True)
    base = dt.datetime(2025, 3, 1, 12, 0)
    spark.createDataFrame(
        [("u0", base, b"<p>x</p>", "x", "en")], PAGES_SCHEMA
    ).write.parquet(psrc)
    eschema = "url string, fetch_ts timestamp, status int"
    spark.createDataFrame(
        [("u0", base + dt.timedelta(hours=2), 200),     # inside 3h skew
         ("u0", base + dt.timedelta(hours=4), 500)],    # outside
        eschema).write.parquet(esrc)
    joined = join_crawl_events_stream(
        spark.readStream.schema(PAGES_SCHEMA).parquet(psrc),
        spark.readStream.schema(eschema).parquet(esrc),
        skew="3 hours")
    q = (joined.writeStream.format("memory").queryName("ssj_skew")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = [(r.url, r.status) for r in spark.sql("select * from ssj_skew").collect()]
    assert got == [("u0", 200)]
