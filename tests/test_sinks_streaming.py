"""S5-S8 sink semantics + Structured Streaming J1/A1 variants."""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from oxford_data_pipeline_spark.sources.catalog import load_table
from oxford_data_pipeline_spark.sources.sinks import (
    existing_partitions,
    incremental_write,
    write_json_report,
    write_partitioned,
    write_text_summary,
)
from tests.conftest import SF_DIR


def _orders_summary(spark):
    return (
        load_table(spark, SF_DIR, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


def test_s5_partitioned_roundtrip(spark):
    df = _orders_summary(spark)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "out")
        write_partitioned(df, path, ["o_orderstatus"])
        back = spark.read.parquet(path)
        assert sorted(map(tuple, back.select("n", "total").collect())) == sorted(
            map(tuple, df.select("n", "total").collect())
        )
        assert existing_partitions(spark, path, "o_orderstatus") == {"O", "F", "P"}


def test_s8_incremental_skips_done_partitions(spark):
    df = _orders_summary(spark)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "out")
        first = incremental_write(df, path, "o_orderstatus")
        assert first == ["F", "O", "P"]
        # second run: everything exists → nothing written
        second = incremental_write(df, path, "o_orderstatus")
        assert second == []
        # recompute forces full overwrite
        third = incremental_write(df, path, "o_orderstatus", recompute=True)
        assert third == ["F", "O", "P"]


def test_s6_s7_report_sinks(spark):
    df = _orders_summary(spark)
    with tempfile.TemporaryDirectory() as d:
        jpath = os.path.join(d, "report.json")
        tpath = os.path.join(d, "report.txt")
        write_json_report(df, jpath)
        write_text_summary(df, tpath, "Order summary")
        data = json.load(open(jpath))
        assert len(data) == 3 and {r["o_orderstatus"] for r in data} == {"O", "F", "P"}
        text = open(tpath).read()
        assert "Order summary" in text and "o_orderstatus" in text


def test_streaming_windowed_agg_matches_batch(spark):
    from oxford_data_pipeline_spark.streaming.event_align import (
        run_available_now,
        streaming_events,
        windowed_event_rates,
    )

    stream = streaming_events(spark, SF_DIR)
    assert stream.isStreaming
    rows = run_available_now(windowed_event_rates(stream), "win_rates")
    assert rows
    # batch equivalent over the same file
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "event_ts", (F.col("ts") / 1_000_000_000).cast("timestamp")
    )
    batch = (
        ev.groupBy(F.window("event_ts", "1 hour").alias("w"), "event_type")
        .agg(F.avg("value").alias("avg_value"), F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "avg_value", "n")
    )
    skey = sorted((str(r.window_start), r.event_type, round(r.avg_value, 9), r.n) for r in rows)
    bkey = sorted(
        (str(r.window_start), r.event_type, round(r.avg_value, 9), r.n)
        for r in batch.collect()
    )
    assert skey == bkey


def test_streaming_trigger_join(spark):
    from oxford_data_pipeline_spark.streaming.event_align import (
        run_available_now,
        stream_trigger_join,
        streaming_events,
    )

    stream = streaming_events(spark, SF_DIR)
    ev = load_table(spark, SF_DIR, "events")
    triggers = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("t_user_id"),
            (F.col("ts") / 1_000_000_000).cast("timestamp").alias("trigger_ts"),
        )
        .limit(20)
    )
    joined = stream_trigger_join(stream, triggers)
    rows = run_available_now(joined, "trig_join")
    assert rows
    assert all(-75 * 60 <= r.t_offset_sec <= 150 * 60 for r in rows)


def test_s3_source_file_discovery(spark):
    from oxford_data_pipeline_spark.sources.catalog import load_table, with_source_file

    df = with_source_file(load_table(spark, SF_DIR, "orders"))
    names = {r.source_file for r in df.select("source_file").distinct().collect()}
    assert names == {"orders"}


def test_stateful_sessionization(spark):
    """applyInPandasWithState gap-sessionization over the event stream,
    checked against a batch window/gap computation."""
    from oxford_data_pipeline_spark.streaming.event_align import (
        run_available_now,
        streaming_events,
    )
    from oxford_data_pipeline_spark.streaming.sessionize import (
        GAP_SECONDS,
        sessionized,
    )
    from pyspark.sql.window import Window as W

    stream = streaming_events(spark, SF_DIR).select("user_id", "event_ts", "value")
    rows = run_available_now(sessionized(stream), "sessions")
    assert rows
    for r in rows:
        assert r.session_start <= r.session_end
        assert r.n_events >= 1

    # batch equivalent: sessions = runs of events with gaps <= GAP
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", (F.col("ts") / 1_000_000_000).alias("sec"), "value"
    )
    w = W.partitionBy("user_id").orderBy("sec")
    batch = (
        ev.withColumn("prev", F.lag("sec").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev").isNull() | (F.col("sec") - F.col("prev") > GAP_SECONDS), 1
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_session").over(
            w.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 6).alias("total_value"))
    )
    batch_sessions = {
        (r.user_id, r.n_events, r.total_value) for r in batch.collect()
    }
    stream_sessions = {
        (r.user_id, r.n_events, round(r.total_value, 6)) for r in rows
    }
    # the stream emits only CLOSED sessions (last session per user may
    # stay open without further input); every emitted session must match
    # a batch session
    assert stream_sessions <= batch_sessions
    # and most sessions do close
    assert len(stream_sessions) >= len(batch_sessions) - ev.select("user_id").distinct().count()


def test_s4_union_conditions(spark):
    """S4 — per-condition sources unioned with a condition tag."""
    from oxford_data_pipeline_spark.sources.catalog import union_conditions

    orders = load_table(spark, SF_DIR, "orders")
    frames = {
        "open": orders.filter(F.col("o_orderstatus") == "O"),
        "finished": orders.filter(F.col("o_orderstatus") == "F"),
    }
    u = union_conditions(frames)
    assert "trial_type" in u.columns
    counts = {r.trial_type: r.n for r in
              u.groupBy("trial_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["open"] == frames["open"].count()
    assert counts["finished"] == frames["finished"].count()


def test_a8_group_count_stats_operator(spark):
    from oxford_data_pipeline_spark.operators.aggregates import group_count_stats

    cust = load_table(spark, SF_DIR, "customer")
    out = group_count_stats(cust, ["c_custkey"], "c_nationkey").collect()
    assert out
    for r in out:
        assert r.min_n <= r.median_n <= r.max_n
        assert r.n_groups >= 1


def test_watermark_finalizes_windows_once(spark, tmp_path):
    """Append-mode windowed aggregation with a watermark emits each
    event-time window exactly once, after the watermark passes its end
    — the no-duplicate-finalization guarantee downstream sinks rely on.
    (Observed Spark 4.1 behavior with the availableNow file source:
    rows arriving in the same micro-batch as the finalization are still
    merged — so this test pins finalize-once, not late-drop.)"""
    import pandas as pd

    d = tmp_path / "stream_in"
    d.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")
    batch1 = pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "event_ts": [base, base + pd.Timedelta(minutes=30),
                         base + pd.Timedelta(hours=6)],
            "value": [10.0, 20.0, 5.0],
        }
    )
    batch2 = pd.DataFrame(
        {
            "user_id": [3, 4],
            "event_ts": [base + pd.Timedelta(minutes=45),
                         base + pd.Timedelta(hours=6, minutes=5)],
            "value": [100.0, 7.0],
        }
    )
    # µs timestamps: the engine session reads TIMESTAMP(NANOS) as raw
    # longs (nanosAsLong), which would fight the declared schema
    batch1.to_parquet(d / "b1.parquet", coerce_timestamps="us")
    batch2.to_parquet(d / "b2.parquet", coerce_timestamps="us")

    schema = "user_id long, event_ts timestamp, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    from pyspark.sql import functions as F2

    agg = (
        stream.withWatermark("event_ts", "10 minutes")
        .groupBy(F2.window("event_ts", "1 hour").alias("w"))
        .agg(F2.sum("value").alias("total"), F2.count(F2.lit(1)).alias("n"))
        .select(F2.col("w.start").alias("ws"), "total", "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("finalize_once")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM finalize_once").collect()
    # each window appears at most once (finalize-once), and the hour-0
    # window (whose end the watermark passed) was emitted
    windows = [str(r.ws) for r in rows]
    assert len(windows) == len(set(windows))
    assert "2024-01-01 00:00:00" in windows
    # the hour-6 window is still open at end-of-input (watermark only
    # reached 05:55) so it must NOT have been emitted
    assert "2024-01-01 06:00:00" not in windows


def test_streaming_dedup_suppresses_reingest(spark, tmp_path):
    """Two micro-batches containing the SAME documents (a re-crawl):
    the streaming dedup emits every distinct fingerprint exactly once."""
    from oxford_data_pipeline_spark.streaming.stream_dedup import dedup_stream

    src_docs = load_table(spark, SF_DIR, "documents").limit(50).select("doc_id", "text")
    d = tmp_path / "docs_stream"
    d.mkdir()
    pdf = src_docs.toPandas()
    pdf.to_parquet(d / "crawl1.parquet")
    pdf.assign(doc_id=pdf.doc_id + 10_000).to_parquet(d / "crawl2.parquet")

    schema = "doc_id long, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = dedup_stream(stream).select("doc_id", "exact_fp")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM dedup_stream_t").collect()
    fps = [r.exact_fp for r in rows]
    # 100 input rows, 50 distinct texts → exactly 50 survivors,
    # no fingerprint twice
    assert len(fps) == 50
    assert len(set(fps)) == 50


def _restart_run(spark, build, src, ckpt, out):
    """Run a streaming plan over the files currently in `src` with
    availableNow + a persistent checkpoint, then read back the file
    sink — the restart-resume harness that makes LATE data testable:
    the second run restores the first run's watermark from the
    checkpoint, so rows below it are genuinely late (unlike
    same-micro-batch arrivals, which Spark still merges)."""
    schema_stream = (
        spark.readStream.schema(build["schema"])
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        build["plan"](schema_stream)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(str(out)).collect()


def test_late_rows_dropped_after_watermark_restart(spark, tmp_path):
    """Windowed agg, restart-resume: run 1 finalizes the hour-0 window
    and persists watermark 05:50; run 2 delivers a row for hour 0 —
    past the restored watermark — which must be DROPPED: the window is
    not re-emitted, not updated, and appears exactly once across both
    runs (round-3 verdict item 7)."""
    import pandas as pd
    from pyspark.sql import functions as F2

    src = tmp_path / "in"
    src.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")
    pd.DataFrame(
        {"user_id": [1, 2],
         "event_ts": [base, base + pd.Timedelta(hours=6)],
         "value": [10.0, 5.0]}
    ).to_parquet(src / "b1.parquet", coerce_timestamps="us")

    build = {
        "schema": "user_id long, event_ts timestamp, value double",
        "plan": lambda s: (
            s.withWatermark("event_ts", "10 minutes")
            .groupBy(F2.window("event_ts", "1 hour").alias("w"))
            .agg(F2.sum("value").alias("total"), F2.count(F2.lit(1)).alias("n"))
            .select(F2.col("w.start").alias("ws"), "total", "n")
        ),
    }
    r1 = _restart_run(spark, build, src, tmp_path / "ckpt", tmp_path / "out")
    assert sorted((str(r.ws), r.total, r.n) for r in r1) == [
        ("2024-01-01 00:00:00", 10.0, 1)
    ]

    # run 2: late row for hour 0 (value 100) + fresh open-window row
    pd.DataFrame(
        {"user_id": [3, 4],
         "event_ts": [base + pd.Timedelta(minutes=30),
                      base + pd.Timedelta(hours=7)],
         "value": [100.0, 7.0]}
    ).to_parquet(src / "b2.parquet", coerce_timestamps="us")
    r2 = _restart_run(spark, build, src, tmp_path / "ckpt", tmp_path / "out")
    # late 100.0 dropped: hour-0 window unchanged and emitted only once;
    # hour-7 window still open (watermark 06:50 < 08:00) -> not emitted
    assert sorted((str(r.ws), r.total, r.n) for r in r2) == [
        ("2024-01-01 00:00:00", 10.0, 1)
    ]


def test_sessionize_timeout_emits_and_drops_late(spark, tmp_path):
    """Stateful sessionization: the event-time timeout closes and emits
    an idle session once the watermark passes start+gap; a LATE event
    for that user below the restored watermark must be dropped — it
    neither reopens the closed session nor creates a new one."""
    import pandas as pd

    from oxford_data_pipeline_spark.streaming.sessionize import sessionized

    src = tmp_path / "in"
    src.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")
    pd.DataFrame(
        {"user_id": [1, 1, 2],
         "event_ts": [base, base + pd.Timedelta(minutes=10),
                      base + pd.Timedelta(hours=6)],
         "value": [1.0, 2.0, 9.0]}
    ).to_parquet(src / "b1.parquet", coerce_timestamps="us")

    build = {
        "schema": "user_id long, event_ts timestamp, value double",
        "plan": sessionized,
    }
    r1 = _restart_run(spark, build, src, tmp_path / "ckpt", tmp_path / "out")
    assert sorted(
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events, r.total_value)
        for r in r1
    ) == [(1, "2024-01-01 00:00:00", "2024-01-01 00:10:00", 2, 3.0)]

    # run 2: late user-1 event at 00:20 (watermark restored at 05:00)
    # + a fresh user-3 event keeping its own session open
    pd.DataFrame(
        {"user_id": [1, 3],
         "event_ts": [base + pd.Timedelta(minutes=20),
                      base + pd.Timedelta(hours=7)],
         "value": [50.0, 4.0]}
    ).to_parquet(src / "b2.parquet", coerce_timestamps="us")
    r2 = _restart_run(spark, build, src, tmp_path / "ckpt", tmp_path / "out")
    assert sorted(
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events, r.total_value)
        for r in r2
    ) == [(1, "2024-01-01 00:00:00", "2024-01-01 00:10:00", 2, 3.0)]


def test_stream_dedup_watermark_eviction_contract(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics, restart-resume:
    a duplicate arriving within the watermark horizon of the first
    sighting is suppressed; a duplicate of an EVICTED fingerprint is
    re-emitted (bounded state, by design); a late row below the
    restored watermark is dropped outright."""
    import pandas as pd

    from oxford_data_pipeline_spark.streaming.stream_dedup import (
        dedup_stream_within_watermark,
    )

    src = tmp_path / "in"
    src.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")
    pd.DataFrame(
        {"doc_id": [1, 2], "text": ["alpha beta gamma", "delta epsilon"],
         "event_ts": [base, base + pd.Timedelta(hours=6)]}
    ).to_parquet(src / "b1.parquet", coerce_timestamps="us")

    build = {
        "schema": "doc_id long, text string, event_ts timestamp",
        "plan": lambda s: dedup_stream_within_watermark(s).select(
            "doc_id", "event_ts", "exact_fp"
        ),
    }
    r1 = _restart_run(spark, build, src, tmp_path / "ckpt", tmp_path / "out")
    assert sorted(r.doc_id for r in r1) == [1, 2]

    # run 2 (watermark restored at 05:00):
    #  doc 11: text of doc 1 at 06:30 -> doc 1 state evicted -> re-emitted
    #  doc 12: text of doc 2 at 06:10 -> within horizon -> suppressed
    #  doc 13: fresh text but LATE at 02:00 -> dropped
    pd.DataFrame(
        {"doc_id": [11, 12, 13],
         "text": ["alpha beta gamma", "delta epsilon", "zeta eta theta"],
         "event_ts": [base + pd.Timedelta(hours=6, minutes=30),
                      base + pd.Timedelta(hours=6, minutes=10),
                      base + pd.Timedelta(hours=2)]}
    ).to_parquet(src / "b2.parquet", coerce_timestamps="us")
    r2 = _restart_run(spark, build, src, tmp_path / "ckpt", tmp_path / "out")
    assert sorted(r.doc_id for r in r2) == [1, 2, 11]


def test_band_signatures_streaming_form_matches_batch(spark):
    """The stateless per-row MinHash band signatures (streaming form)
    must be bit-identical to the batch aggregation formulation on the
    same documents — same md5(seed|shingle) string-min, same band md5."""
    from pyspark.sql import functions as F2

    from oxford_data_pipeline_spark.operators.textops import (
        minhash_band_signatures,
        normalized,
        tokens,
        word_shingles,
    )
    from oxford_data_pipeline_spark.streaming.stream_neardup import (
        band_signature_rows,
    )

    docs = (
        load_table(spark, SF_DIR, "documents")
        .limit(100)
        .select("doc_id", "text", F2.lit(None).cast("timestamp").alias("event_ts"))
    )
    batch_sh = docs.select(
        "doc_id",
        F2.explode(word_shingles(tokens(normalized("text")))).alias("shingle"),
    ).distinct()
    batch = {
        (r.doc_id, r.band, r.sig)
        for r in minhash_band_signatures(batch_sh).collect()
    }
    streaming_form = {
        (r.doc_id, r.band, r.sig)
        for r in band_signature_rows(docs).collect()
    }
    assert batch == streaming_form


def test_neardup_stream_flags_recrawl(spark, tmp_path):
    """Online near-dup: a re-crawled text (new doc_id, same content)
    must emit a candidate row matched to the first-seen doc; novel
    texts must not be flagged."""
    import pandas as pd

    from oxford_data_pipeline_spark.streaming.stream_neardup import neardup_stream

    src = tmp_path / "in"
    src.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")
    originals = (
        load_table(spark, SF_DIR, "documents").limit(30).select("doc_id", "text").toPandas()
    )
    originals["event_ts"] = base
    originals.to_parquet(src / "crawl1.parquet", coerce_timestamps="us")

    recrawl = originals.head(3).copy()
    recrawl["doc_id"] = recrawl["doc_id"] + 100_000
    novel = pd.DataFrame(
        {"doc_id": [200_001, 200_002],
         "text": ["entirely fresh words about turquoise zeppelins floating quietly",
                  "another unrelated sentence mentioning obsidian lighthouses at dawn"]}
    )
    b2 = pd.concat([recrawl, novel], ignore_index=True)
    b2["event_ts"] = base + pd.Timedelta(minutes=10)
    b2.to_parquet(src / "crawl2.parquet", coerce_timestamps="us")

    schema = "doc_id long, text string, event_ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        neardup_stream(stream)
        .writeStream.format("memory")
        .queryName("neardup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM neardup_t").collect()
    matched = {r.doc_id: r.matched_doc for r in rows}
    for _, orig in recrawl.iterrows():
        re_id = int(orig.doc_id)
        assert re_id in matched, f"re-crawled doc {re_id} not flagged"
        assert matched[re_id] == re_id - 100_000
    assert 200_001 not in matched and 200_002 not in matched


def test_sessionize_stream_matches_reference_semantics(spark, tmp_path):
    """The stateful sessionizer must implement exactly the documented
    gap contract (new session iff silence > 30 min, boundary-exact),
    checked against an independent pandas reference over controlled
    whole-second events — including gaps of 1799/1800/1801 s that
    straddle the boundary — across multiple micro-batches."""
    import pandas as pd

    from oxford_data_pipeline_spark.streaming.sessionize import (
        GAP_SECONDS,
        sessionized,
    )

    base = pd.Timestamp("2024-01-01 00:00:00")
    # user 1: gaps 10s, 1799s (same session), 1801s (new session)
    # user 2: gaps exactly 1800s (same session: contract is strict >)
    # user 3: single burst, then a far-future user-4 event advances the
    # watermark enough to time every earlier session out
    events = [
        (1, 0, 1.0), (1, 10, 2.0), (1, 10 + 1799, 3.0), (1, 10 + 1799 + 1801, 4.0),
        (2, 0, 5.0), (2, 1800, 6.0), (2, 3600, 7.0),
        (3, 100, 8.0), (3, 200, 9.0),
        (4, 400_000, 0.5),
    ]
    df = pd.DataFrame(events, columns=["user_id", "off", "value"])
    df["event_ts"] = base + pd.to_timedelta(df.pop("off"), unit="s")

    src = tmp_path / "in"
    src.mkdir()
    # split arrivals mid-session to exercise cross-batch state
    df.iloc[:4].to_parquet(src / "b1.parquet", coerce_timestamps="us")
    df.iloc[4:].to_parquet(src / "b2.parquet", coerce_timestamps="us")

    schema = "user_id long, value double, event_ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        sessionized(stream)
        .writeStream.format("memory")
        .queryName("sess_ref_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events,
         round(r.total_value, 6))
        for r in spark.sql("SELECT * FROM sess_ref_t").collect()
    }

    # independent reference: strict-> gap split per user
    want = set()
    max_ts = int(df["event_ts"].astype("int64").max() // 1_000_000_000)
    watermark_s = max_ts - 3600  # "1 hour" default delay
    for uid, grp in df.groupby("user_id"):
        ts = sorted(
            (int(t // 1_000_000_000), v)
            for t, v in zip(grp["event_ts"].astype("int64"), grp["value"])
        )
        sessions, cur = [], [ts[0]]
        for prev, nxt in zip(ts, ts[1:]):
            if nxt[0] - prev[0] > GAP_SECONDS:
                sessions.append(cur)
                cur = []
            cur.append(nxt)
        sessions.append(cur)
        for s in sessions:
            start, end = s[0][0], s[-1][0]
            # only sessions the watermark definitely closed are emitted
            if end + GAP_SECONDS < watermark_s:
                want.add(
                    (uid, str(pd.Timestamp(start, unit="s")),
                     str(pd.Timestamp(end, unit="s")), len(s),
                     round(sum(v for _, v in s), 6))
                )
    assert want, "reference produced no closed sessions — test data bug"
    assert got == want


def test_streaming_quality_gate_matches_batch(spark, tmp_path):
    """The quality gate is a stateless projection, so running it over a
    file stream must produce BIT-IDENTICAL rows to the batch path —
    including on documents engineered to trip each rule."""
    from oxford_data_pipeline_spark.streaming.stream_quality import quality_gate

    import pandas as pd

    rows = [
        (1, "s", "the quick brown fox jumps over the lazy dog again today"),
        (2, "s", "mail me at someone@example.com about the quick brown fox plan"),
        (3, "s", "broken markup { nested } " + "word " * 10),
        (4, "s", "Lorem ipsum dolor sit amet " + "filler " * 8),
        (5, "s", ""),  # zero words: c4_admitted false, never admitted
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "source", "text"])
    d = tmp_path / "gate_stream"
    d.mkdir()
    pdf.iloc[:3].to_parquet(d / "batch1.parquet")
    pdf.iloc[3:].to_parquet(d / "batch2.parquet")

    schema = "doc_id long, source string, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        quality_gate(stream)
        .writeStream.format("memory")
        .queryName("quality_gate_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["doc_id"]: r for r in spark.sql("SELECT * FROM quality_gate_t").collect()
    }
    batch = {
        r["doc_id"]: r
        for r in quality_gate(spark.createDataFrame(rows, schema)).collect()
    }
    assert set(got) == set(batch) == {1, 2, 3, 4, 5}
    for k in got:
        assert got[k].asDict() == batch[k].asDict()
    # the rules themselves
    assert batch[1]["admitted"]
    assert batch[2]["has_pii"] and not batch[2]["admitted"]
    assert batch[3]["has_curly"] and not batch[3]["admitted"]
    assert batch[4]["has_lorem"] and not batch[4]["admitted"]
    assert not batch[5]["admitted"]


def test_streaming_curation_pipeline_restart_resume(spark, tmp_path):
    """Round-4 verdict stretch item: the composed streaming curation
    pipeline (quality gate -> stateful near-dup) across a restart.
    Run 1 admits two duplicate docs (candidate emitted) and filters a
    PII doc before the state store; run 2 restores the checkpoint and
    matches a re-arriving duplicate against run 1's FIRST-SEEN
    representative — proving gate placement and state both survive
    resume.  The quarantine side runs as its own query and carries the
    rejection reason."""
    import pandas as pd

    from oxford_data_pipeline_spark.streaming.stream_curation import (
        curation_stream,
        quarantine_stream,
    )

    good = ("the quick brown fox jumps over the lazy dog while the "
            "calm river flows past the old stone bridge at dawn")
    src = tmp_path / "crawl"
    src.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "source": ["web", "web", "web"],
            "text": [good, good, "contact me at john@example.com for details "
                                  "about the quarterly earnings report today"],
            "event_ts": [base, base + pd.Timedelta(minutes=1),
                         base + pd.Timedelta(minutes=2)],
        }
    ).to_parquet(src / "b1.parquet", coerce_timestamps="us")

    build = {
        "schema": "doc_id long, source string, text string, event_ts timestamp",
        "plan": curation_stream,
    }
    r1 = _restart_run(spark, build, src, tmp_path / "ckpt", tmp_path / "out")
    matches1 = {(r.doc_id, r.matched_doc) for r in r1}
    assert matches1 == {(2, 1)}  # duplicate matched; PII doc never entered
    assert all(r.doc_id != 3 and r.matched_doc != 3 for r in r1)

    # restart: the same text re-arrives as doc 4 within the watermark —
    # must match run 1's representative (doc 1), not start fresh state
    pd.DataFrame(
        {
            "doc_id": [4],
            "source": ["web"],
            "text": [good],
            "event_ts": [base + pd.Timedelta(minutes=10)],
        }
    ).to_parquet(src / "b2.parquet", coerce_timestamps="us")
    r2 = _restart_run(spark, build, src, tmp_path / "ckpt", tmp_path / "out")
    assert {(r.doc_id, r.matched_doc) for r in r2} == {(2, 1), (4, 1)}

    # quarantine side: second query over the same source, own checkpoint
    qstream = (
        spark.readStream.schema(build["schema"])
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        quarantine_stream(qstream)
        .writeStream.format("memory")
        .queryName("curation_quarantine")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rejected = spark.sql(
        "SELECT doc_id, reason FROM curation_quarantine"
    ).collect()
    assert [(r.doc_id, r.reason) for r in rejected] == [(3, "pii")]


def test_streaming_neardup_state_evicts_after_horizon(spark, tmp_path):
    """The eviction side of the event-time timeout: once the watermark
    passes a key's last activity plus the 1-hour horizon, its state is
    removed — a later re-arrival of the same text becomes a NEW
    representative (no match emitted) instead of matching a forgotten
    first-seen doc.  Bounds the state store by the horizon, the
    contract the module docstring promises."""
    import pandas as pd

    from oxford_data_pipeline_spark.streaming.stream_curation import curation_stream

    good = ("the quick brown fox jumps over the lazy dog while the "
            "calm river flows past the old stone bridge at dawn")
    other = ("many bright stars appear over the quiet valley when the "
             "cold night wind settles between the tall dark pines")
    src = tmp_path / "crawl"
    src.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")
    build = {
        "schema": "doc_id long, source string, text string, event_ts timestamp",
        "plan": curation_stream,
    }
    # run 1: doc 1 seeds state for `good`
    pd.DataFrame(
        {"doc_id": [1], "source": ["web"], "text": [good], "event_ts": [base]}
    ).to_parquet(src / "b1.parquet", coerce_timestamps="us")
    r1 = _restart_run(spark, build, src, tmp_path / "ckpt", tmp_path / "out")
    assert r1 == []

    # run 2: unrelated doc 5 hours later pushes the watermark past
    # doc 1's (last_ts + 1h) timeout -> doc 1's keys are evicted
    pd.DataFrame(
        {"doc_id": [2], "source": ["web"], "text": [other],
         "event_ts": [base + pd.Timedelta(hours=5)]}
    ).to_parquet(src / "b2.parquet", coerce_timestamps="us")
    r2 = _restart_run(spark, build, src, tmp_path / "ckpt", tmp_path / "out")
    assert r2 == []

    # run 3: the same text re-arrives as doc 3 (fresh event time) —
    # with doc 1 evicted it must seed NEW state, not emit (3, 1)
    pd.DataFrame(
        {"doc_id": [3], "source": ["web"], "text": [good],
         "event_ts": [base + pd.Timedelta(hours=5, minutes=1)]}
    ).to_parquet(src / "b3.parquet", coerce_timestamps="us")
    r3 = _restart_run(spark, build, src, tmp_path / "ckpt", tmp_path / "out")
    assert {(r.doc_id, r.matched_doc) for r in r3} == set()

    # and doc 4 duplicating it within the NEW horizon matches doc 3
    pd.DataFrame(
        {"doc_id": [4], "source": ["web"], "text": [good],
         "event_ts": [base + pd.Timedelta(hours=5, minutes=2)]}
    ).to_parquet(src / "b4.parquet", coerce_timestamps="us")
    r4 = _restart_run(spark, build, src, tmp_path / "ckpt", tmp_path / "out")
    assert {(r.doc_id, r.matched_doc) for r in r4} == {(4, 3)}


def test_parse_duration_accepts_watermark_syntax():
    """All interval forms a Spark watermark accepts must parse: multi
    qty/unit pairs, attached units, singular/plural; garbage raises
    ValueError naming the expected syntax."""
    import pytest

    from oxford_data_pipeline_spark.streaming.stream_neardup import (
        _parse_duration_sec as p,
    )

    assert p("90 seconds") == 90
    assert p("10 minutes") == 600
    assert p("1 hour 30 minutes") == 5400
    assert p("90s") == 90
    assert p("10min") == 600
    assert p("2 days") == 172800
    assert p("500 milliseconds") == 0.5
    assert p("500ms") == 0.5
    assert p("2 weeks") == 1209600
    # calendar units are variable-length: rejected, not guessed
    for bad in ["", "abc", "5 fortnights", "1.5 hours", "3 months", "1 year"]:
        with pytest.raises(ValueError):
            p(bad)


def test_streaming_chunking_matches_batch(spark, tmp_path):
    """Chunking is stateless, so streaming the real documents table
    through chunk_stream must produce BIT-IDENTICAL rows to the batch
    text_chunking query (same tokenizer expressions, same windows)."""
    import os

    from oxford_data_pipeline_spark.plans.textops import text_chunking
    from oxford_data_pipeline_spark.streaming.stream_chunking import chunk_stream
    from tests.conftest import SF_DIR

    src = os.path.join(SF_DIR, "documents.parquet")
    batch_docs = spark.read.parquet(src)
    d = str(tmp_path / "docs_stream")
    batch_docs.write.parquet(d)  # file stream source needs a DIRECTORY
    stream = spark.readStream.schema(batch_docs.schema).parquet(d)
    q = (
        chunk_stream(stream.select("doc_id", "text"))
        .writeStream.format("memory")
        .queryName("chunk_stream_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM chunk_stream_t").collect())
    )
    batch = sorted(map(tuple, text_chunking(spark, SF_DIR).collect()))
    assert got == batch
    assert len(got) > 0


def test_streaming_postings_bit_identical_to_batch(spark, tmp_path):
    """Documents replayed through postings_stream must produce
    BIT-IDENTICAL posting rows to the batch postings_relation (same
    tokenizer, per-doc term counts via scan-local HOFs — no state)."""
    import os

    from oxford_data_pipeline_spark.plans.retrieval import (
        doclen_relation,
        postings_relation,
    )
    from oxford_data_pipeline_spark.streaming.stream_retrieval import (
        doclen_stream,
        postings_stream,
    )
    from tests.conftest import SF_DIR

    src = os.path.join(SF_DIR, "documents.parquet")
    batch_docs = spark.read.parquet(src)
    d = str(tmp_path / "docs_stream_ret")
    batch_docs.write.parquet(d)
    stream = spark.readStream.schema(batch_docs.schema).parquet(d)
    q = (
        postings_stream(stream.select("doc_id", "text"))
        .writeStream.format("memory")
        .queryName("postings_stream_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM postings_stream_t").collect())
    )
    batch = sorted(map(tuple, postings_relation(spark, SF_DIR).collect()))
    assert got == batch and len(got) > 0
    # doc-length stream matches the maintained doclen relation
    q2 = (
        doclen_stream(stream.select("doc_id", "text"))
        .writeStream.format("memory")
        .queryName("doclen_stream_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    got2 = sorted(
        map(tuple, spark.sql("SELECT * FROM doclen_stream_t").collect())
    )
    batch2 = sorted(map(tuple, doclen_relation(spark, SF_DIR).collect()))
    assert got2 == batch2 and len(got2) > 0


def test_streaming_ivf_assignment_bit_identical_to_batch(spark, tmp_path):
    """Embeddings replayed through ivf_assign_stream must land in the
    SAME inverted-list cells as the batch incremental append pass
    (frozen base-trained quantizer, scan-local literal-centroid
    affinity — no state, no shuffle)."""
    import os

    from pyspark.sql import functions as F

    from oxford_data_pipeline_spark.plans.similarity import (
        _inc_base_pred,
        _inc_index_parts,
        _trained_centroids,
    )
    from oxford_data_pipeline_spark.streaming.stream_ann import (
        ivf_assign_stream,
    )
    from tests.conftest import SF_DIR

    long_all, norms_all, _ranked, merged = _inc_index_parts(spark, SF_DIR)
    centroids = _trained_centroids(
        long_all.filter(_inc_base_pred()), norms_all.filter(_inc_base_pred())
    )
    src = os.path.join(SF_DIR, "embeddings.parquet")
    batch_embs = spark.read.parquet(src)
    d = str(tmp_path / "embs_stream_ann")
    batch_embs.write.parquet(d)
    stream = spark.readStream.schema(batch_embs.schema).parquet(d)
    q = (
        ivf_assign_stream(stream.select("vec_id", "embedding"), centroids)
        .writeStream.format("memory")
        .queryName("ivf_assign_stream_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["vec_id"], r["cell"])
        for r in spark.sql("SELECT * FROM ivf_assign_stream_t").collect()
    )
    batch = sorted(
        (r["vec_id"], r["cell"]) for r in merged.collect()
    )
    assert got == batch and len(got) > 0


def test_ivf_zero_norm_vector_quarantined_both_paths(spark, tmp_path):
    """An all-zero embedding has no cosine direction: both the batch
    incremental assignment and the streaming assign must route it to
    the -1 quarantine cell (round-7 advisor item — previously NaN
    affinities picked an arbitrary cell), while every nonzero vector
    keeps a real cell and batch/stream stay bit-identical."""
    import hashlib
    import os

    from oxford_data_pipeline_spark.plans.similarity import (
        _inc_base_pred,
        _inc_index_parts,
        _trained_centroids,
    )
    from oxford_data_pipeline_spark.streaming.stream_ann import ivf_assign_stream

    # zero vector in the DELTA split so quantizer training is clean
    zero_id = next(
        i for i in range(1000, 2000)
        if hashlib.md5(str(i).encode()).hexdigest()[0] >= "c"
    )
    rng = __import__("numpy").random.default_rng(11)
    rows = [
        (i, f"l{i % 3}", [float(x) for x in rng.normal(size=8)])
        for i in range(60)
    ] + [(zero_id, "l0", [0.0] * 8)]
    embs = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>"
    )
    sf = str(tmp_path / "sf_zero")
    embs.write.parquet(os.path.join(sf, "embeddings.parquet"))

    long_all, norms_all, _ranked, merged = _inc_index_parts(spark, sf)
    batch = {r["vec_id"]: r["cell"] for r in merged.collect()}
    assert batch[zero_id] == -1
    assert all(c >= 0 for v, c in batch.items() if v != zero_id)

    centroids = _trained_centroids(
        long_all.filter(_inc_base_pred()), norms_all.filter(_inc_base_pred())
    )
    got = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign_stream(
            embs.select("vec_id", "embedding"), centroids
        ).collect()
    }
    assert got == batch


def test_streaming_ivf_tombstones_match_batch_delete(spark, tmp_path):
    """remove_ids replayed as a CDC stream through
    apply_ivf_tombstones, merged batch by batch into the maintained
    inverted list, must leave EXACTLY the rows the batch tombstone
    apply (`sim_ivf_delete`'s equi-keyed anti-join, frozen quantizer,
    no reassignment) leaves — and no tombstoned vector may survive."""
    from oxford_data_pipeline_spark.plans.similarity import (
        _churn_del_pred,
        _inc_index_parts,
    )
    from oxford_data_pipeline_spark.streaming.stream_ann import (
        apply_ivf_tombstones,
    )
    from tests.conftest import SF_DIR

    _l, _n, _r, merged = _inc_index_parts(spark, SF_DIR)
    start = merged.collect()
    tomb = merged.filter(_churn_del_pred()).select("vec_id")
    d = str(tmp_path / "tomb_stream")
    tomb.repartition(2).write.parquet(d)  # 2 files -> chance of 2 batches
    stream = spark.readStream.schema("vec_id long").parquet(d)

    state = {"rows": start}

    def sink(batch, _bid):
        cur = spark.createDataFrame(state["rows"], merged.schema)
        state["rows"] = apply_ivf_tombstones(cur, batch).collect()

    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination()
    got = sorted((r["vec_id"], r["cell"]) for r in state["rows"])
    want = sorted(
        (r["vec_id"], r["cell"])
        for r in merged.join(tomb, "vec_id", "left_anti").collect()
    )
    assert got == want and 0 < len(got) < len(start)
    dead = {r["vec_id"] for r in tomb.collect()}
    assert dead and not dead & {v for v, _ in got}


def test_streaming_bm25_serving_matches_batch(spark, tmp_path):
    """Queries replayed through the foreachBatch serving path must
    rank EXACTLY as the registered batch query: same scorer, same
    static index relations, so online == offline by construction."""
    from oxford_data_pipeline_spark.plans import QUERIES
    from oxford_data_pipeline_spark.plans.retrieval import (
        doclen_relation,
        postings_relation,
    )
    from oxford_data_pipeline_spark.streaming.stream_search import (
        bm25_serving_stream,
    )
    from tests.conftest import SF_DIR

    qdocs = spark.createDataFrame(
        [
            (1, "spark join window"),
            (2, "customer order data"),
            (3, "hash merge stream table"),
        ],
        "query_id int, text string",
    )
    src = str(tmp_path / "queries_in")
    qdocs.write.parquet(src)
    stream = spark.readStream.schema(qdocs.schema).parquet(src)
    out = str(tmp_path / "results_out")

    def sink(ranked, _batch_id):
        ranked.write.mode("append").parquet(out)

    q = bm25_serving_stream(
        stream,
        postings_relation(spark, SF_DIR),
        doclen_relation(spark, SF_DIR),
        sink,
    )
    q.awaitTermination()
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple, QUERIES["text_bm25_topk"](spark, SF_DIR).collect()))
    assert got == want and len(got) > 0


def test_streaming_cms_maintenance_matches_batch(spark, tmp_path):
    """Documents replayed through the CMS maintenance stream, merged
    batch by batch, must yield EXACTLY the counters the batch sketch
    builds over the whole corpus — merge-by-addition is the sketch's
    defining property, and the stream maintainer is only that."""
    import os

    from pyspark.sql import functions as F

    from oxford_data_pipeline_spark.streaming.stream_profile import (
        batch_counters,
        cms_maintenance_stream,
        merge_counters,
    )
    from tests.conftest import SF_DIR

    src = os.path.join(SF_DIR, "documents.parquet")
    batch_docs = spark.read.parquet(src).select("doc_id", "text")
    # two files -> at least the chance of multiple micro-batches; the
    # merge is order-insensitive either way
    d = str(tmp_path / "docs_cms_stream")
    batch_docs.repartition(2).write.parquet(d)
    stream = spark.readStream.schema(batch_docs.schema).parquet(d)

    state = {"counters": None}

    def sink(delta, _bid):
        cur = state["counters"]
        state["counters"] = (
            delta.collect()
            if cur is None
            else merge_counters(
                spark.createDataFrame(cur, "k int, pos string, cnt long"),
                delta,
            ).collect()
        )

    q = cms_maintenance_stream(stream, sink)
    q.awaitTermination()
    got = sorted((r["k"], r["pos"], r["cnt"]) for r in state["counters"])
    want = sorted(
        (r["k"], r["pos"], r["cnt"])
        for r in batch_counters(batch_docs).collect()
    )
    assert got == want and len(got) > 0


def test_streaming_search_example_end_to_end(spark, tmp_path):
    """The composed streaming-search example (round-7 verdict item 8)
    runs in CI: base ingest → checkpointed delta resume (only delta
    rows processed) → maintained-index closure vs batch rebuild →
    fused BM25+IVF serving.  Its internal asserts are the contract;
    this test just drives it and checks the summary shape."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "run_streaming_search", os.path.join(repo, "examples", "run_streaming_search.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    from tests.conftest import SF_DIR

    out = mod.main(spark=spark, sf_dir=SF_DIR, work=str(tmp_path / "stream_search"))
    assert out["queries_served"] == 3
    assert out["fused_rows"] > 0
    assert out["delta_rows"] > 0
    # phase 6 (round-10 verdict item 4): the drift poll over the
    # maintained live cells tripped the documented retrain trigger
    assert out["drift"]["retrain_due"] == 1
    assert out["drift"]["delta_frac"] > 0.2


def test_streaming_phash_bit_identical_to_batch(spark, tmp_path):
    """Documents replayed through phash_stream must produce EXACTLY the
    batch mm_phash relation — the stateless kernel is one code path, so
    online fingerprints cannot drift from the maintained index."""
    import os

    from oxford_data_pipeline_spark.plans import QUERIES
    from oxford_data_pipeline_spark.streaming.stream_multimodal import phash_stream
    from tests.conftest import SF_DIR

    batch = sorted(
        map(tuple, QUERIES["mm_phash"](spark, SF_DIR).collect())
    )
    src = os.path.join(SF_DIR, "documents.parquet")
    docs = spark.read.parquet(src)
    d = str(tmp_path / "docs_stream_phash")
    docs.write.parquet(d)
    stream = spark.readStream.schema(docs.schema).parquet(d)
    q = (
        phash_stream(stream.select("doc_id", "text"))
        .writeStream.format("memory")
        .queryName("phash_stream_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM phash_stream_t").collect())
    )
    assert got == batch and len(got) > 0


def test_streaming_hll_maintenance_matches_batch(spark, tmp_path):
    """Documents replayed through the HLL maintenance stream,
    max-merged batch by batch, must yield EXACTLY the registers the
    batch sketch builds over the whole corpus — and re-merging a batch
    (an at-least-once replay) must change nothing (idempotence, the
    delivery property CMS's sum does NOT have)."""
    import os

    from oxford_data_pipeline_spark.plans import QUERIES
    from oxford_data_pipeline_spark.streaming.stream_profile import (
        batch_registers,
        hll_maintenance_stream,
        merge_registers,
    )
    from tests.conftest import SF_DIR

    src = os.path.join(SF_DIR, "documents.parquet")
    batch_docs = spark.read.parquet(src).select("doc_id", "text")
    d = str(tmp_path / "docs_hll_stream")
    batch_docs.repartition(2).write.parquet(d)
    stream = spark.readStream.schema(batch_docs.schema).parquet(d)

    state = {"regs": None, "last_delta": None}

    def sink(delta, _bid):
        rows = delta.collect()
        state["last_delta"] = rows
        cur = state["regs"]
        state["regs"] = (
            rows
            if cur is None
            else merge_registers(
                spark.createDataFrame(cur, "bucket int, mreg int"),
                spark.createDataFrame(rows, "bucket int, mreg int"),
            ).collect()
        )

    q = hll_maintenance_stream(stream, sink)
    q.awaitTermination()
    got = sorted((r["bucket"], r["mreg"]) for r in state["regs"])
    want = sorted(
        (r["bucket"], r["mreg"]) for r in batch_registers(batch_docs).collect()
    )
    assert got == want and len(got) > 0
    # the registered batch query over the same corpus agrees
    reg = sorted(
        (r["bucket"], r["mreg"])
        for r in QUERIES["cur_vocab_hll"](spark, SF_DIR).collect()
    )
    assert reg == want
    # idempotence: replaying the last delta is a no-op
    replay = merge_registers(
        spark.createDataFrame(state["regs"], "bucket int, mreg int"),
        spark.createDataFrame(state["last_delta"], "bucket int, mreg int"),
    ).collect()
    assert sorted((r["bucket"], r["mreg"]) for r in replay) == got


def test_streaming_weighted_sample_matches_batch(spark, tmp_path):
    """Micro-batch local top-k reservoirs, merged and re-cut, must
    equal the batch A-ES top-k over the whole corpus — the semilattice
    property that makes the weighted sample maintainable online."""
    import os

    from oxford_data_pipeline_spark.plans import QUERIES
    from oxford_data_pipeline_spark.streaming.stream_profile import (
        merge_samples,
        sample_maintenance_stream,
    )
    from tests.conftest import SF_DIR

    src = os.path.join(SF_DIR, "documents.parquet")
    batch_docs = spark.read.parquet(src).select("doc_id", "source", "n_chars")
    d = str(tmp_path / "docs_es_stream")
    batch_docs.repartition(3).write.parquet(d)
    stream = spark.readStream.schema(batch_docs.schema).parquet(d)

    schema = "doc_id long, source string, n_chars long, es_key double"
    state = {"res": None}

    def sink(delta, _bid):
        rows = delta.collect()
        cur = state["res"]
        state["res"] = (
            rows
            if cur is None
            else merge_samples(
                spark.createDataFrame(cur, schema),
                spark.createDataFrame(rows, schema),
            ).collect()
        )

    q = sample_maintenance_stream(stream, sink)
    q.awaitTermination()
    got = sorted(
        (r["doc_id"], r["es_key"]) for r in state["res"]
    )
    want = sorted(
        (r["doc_id"], r["es_key"])
        for r in QUERIES["cur_weighted_sample"](spark, SF_DIR).collect()
    )
    assert got == want and len(got) == 20
    # idempotence: re-merging the final reservoir into itself is a no-op
    again = merge_samples(
        spark.createDataFrame(state["res"], schema),
        spark.createDataFrame(state["res"], schema),
    ).collect()
    assert sorted((r["doc_id"], r["es_key"]) for r in again) == got


def test_streaming_host_counts_match_batch(spark, tmp_path):
    """Documents (with their synthetic URLs) replayed through the
    host-count maintenance stream, merged batch by batch, must yield
    EXACTLY the per-host counts the batch `cur_domain_mix` rollup
    aggregates over the whole corpus — addition-mergeability is the
    maintained table's defining property."""
    import os

    from pyspark.sql import functions as F

    from oxford_data_pipeline_spark.operators.urlops import synthetic_url
    from oxford_data_pipeline_spark.plans.curation import host_counts
    from oxford_data_pipeline_spark.streaming.stream_curation import (
        host_mix_maintenance_stream,
        merge_host_counts,
    )
    from tests.conftest import SF_DIR

    src = os.path.join(SF_DIR, "documents.parquet")
    batch_docs = spark.read.parquet(src).select(
        "doc_id",
        "n_chars",
        synthetic_url(F.col("doc_id"), F.col("source")).alias("url"),
    )
    d = str(tmp_path / "docs_host_stream")
    batch_docs.repartition(2).write.parquet(d)
    stream = spark.readStream.schema(batch_docs.schema).parquet(d)

    state = {"counts": None}

    def sink(delta, _bid):
        cur = state["counts"]
        state["counts"] = (
            delta.collect()
            if cur is None
            else merge_host_counts(
                spark.createDataFrame(
                    cur, "host string, n_docs long, n_chars long"
                ),
                delta,
            ).collect()
        )

    q = host_mix_maintenance_stream(stream, sink)
    q.awaitTermination()
    got = sorted((r["host"], r["n_docs"], r["n_chars"]) for r in state["counts"])
    want = sorted(
        (r["host"], r["n_docs"], r["n_chars"])
        for r in host_counts(batch_docs).collect()
    )
    assert got == want and len(got) > 0


def test_streaming_url_dedup_suppresses_recrawl(spark, tmp_path):
    """URL-tier streaming dedup: a recrawl of the same page under
    scheme/www/fragment/tracking-param noise arriving within the
    watermark horizon is suppressed (exactly ONE representative of the
    pair survives — within a micro-batch Spark's dropDuplicates picks
    an arbitrary one); distinct pages all pass, and URI-less rows
    (label-only source) are NEVER collapsed into each other."""
    import datetime

    from oxford_data_pipeline_spark.streaming.stream_dedup import (
        url_dedup_stream,
    )

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (1, "HTTP://WWW.A.Example/page?utm_source=x&id=7", "first capture", t0),
        (2, "https://a.example/page?id=7#frag", "recrawl bytes",
         t0 + datetime.timedelta(minutes=5)),
        (3, "https://a.example/other", "other page",
         t0 + datetime.timedelta(minutes=6)),
        (4, "https://b.example/page?id=7", "different host",
         t0 + datetime.timedelta(minutes=7)),
        # URI-less records: the connector's corpus-label fallback —
        # both normalize to the same label "URL" but must BOTH survive
        (5, "warc", "uri-less doc one", t0 + datetime.timedelta(minutes=8)),
        (6, "warc", "uri-less doc two", t0 + datetime.timedelta(minutes=9)),
    ]
    src = str(tmp_path / "url_stream")
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string, event_ts timestamp"
    )
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        url_dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("url_dedup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["doc_id"]: r["norm_url"]
        for r in spark.sql("SELECT * FROM url_dedup_t").collect()
    }
    assert len(set(got) & {1, 2}) == 1, got  # exactly one of the pair
    assert {3, 4, 5, 6} <= set(got), got
    kept = (set(got) & {1, 2}).pop()
    assert got[kept] == "a.example/page?id=7"
    assert got[4] == "b.example/page?id=7"


def test_streaming_url_dedup_first_batch_wins_across_batches(spark, tmp_path):
    """Cross-batch determinism: when the original capture and the
    recrawl arrive in SEPARATE micro-batches, the earlier batch's row
    is the one the state store keeps."""
    import datetime

    from oxford_data_pipeline_spark.streaming.stream_dedup import (
        url_dedup_stream,
    )

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    schema = "doc_id long, source string, text string, event_ts timestamp"
    src = str(tmp_path / "url_stream_batches")
    spark.createDataFrame(
        [(1, "https://a.example/page", "original", t0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(2, "HTTP://WWW.A.Example/page#f", "recrawl",
          t0 + datetime.timedelta(minutes=1))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        url_dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("url_dedup_b")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = [r["doc_id"] for r in spark.sql("SELECT * FROM url_dedup_b").collect()]
    assert got == [1], got


def test_streaming_url_compaction_equals_batch_survivors(spark, tmp_path):
    """Round-9 verdict item 2, closed: streamed-then-compacted ==
    `dedup_url_survivors`'s batch rule on the same input.  The fixture
    forces BOTH failure modes compaction exists to fix: (a) within one
    micro-batch the min-doc_id capture arrives second, so the state
    store may keep the wrong representative; (b) across batches a
    LATER batch carries a smaller doc_id, so first-batch-wins keeps
    the wrong one deterministically.  The maintained keeper relation
    (merged batch by batch, the host-count convention) re-resolves
    both; URI-less rows pass through 1:1."""
    import datetime

    from oxford_data_pipeline_spark.operators.urlops import normalize_urls
    from oxford_data_pipeline_spark.plans.dedup import url_survivors_relation
    from oxford_data_pipeline_spark.streaming.stream_dedup import (
        _url_key,
        compact_url_survivors,
        merge_url_keepers,
        url_dedup_stream,
        url_keeper_maintenance_stream,
    )

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    m = datetime.timedelta(minutes=1)
    schema = "doc_id long, source string, text string, event_ts timestamp"
    batch1 = [
        (10, "https://a.example/page?utm_source=x", "arbitrary pick", t0),
        (7, "HTTP://WWW.A.Example/page#f", "min arrives second", t0 + m),
        (3, "https://b.example/page", "other page", t0 + 2 * m),
        (20, "warc", "uri-less one", t0 + 3 * m),
        (21, "warc", "uri-less two", t0 + 4 * m),
    ]
    batch2 = [
        (30, "https://a.example/page", "late recrawl", t0 + 5 * m),
        (2, "https://b.example/page/", "smaller id, later batch", t0 + 6 * m),
    ]
    src = str(tmp_path / "url_compaction_stream")
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    q = (
        url_dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("url_compact_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    survivors = spark.sql("SELECT * FROM url_compact_t")

    keeper_schema = (
        "_url_key string, doc_id long, host string,"
        " norm_url string, n_chars long"
    )
    state = {"keepers": None}

    def sink(delta, _bid):
        cur = state["keepers"]
        state["keepers"] = (
            delta.collect()
            if cur is None
            else merge_url_keepers(
                spark.createDataFrame(cur, keeper_schema), delta
            ).collect()
        )

    q2 = url_keeper_maintenance_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        sink,
    )
    q2.awaitTermination()
    keepers = spark.createDataFrame(state["keepers"], keeper_schema)

    compacted = sorted(
        (r["doc_id"], r["host"], r["norm_url"], r["n_chars"])
        for r in compact_url_survivors(survivors, keepers).collect()
    )
    all_rows = spark.createDataFrame(batch1 + batch2, schema).withColumn(
        "n_chars", F.length("text").cast("long")
    )
    normed = normalize_urls(all_rows, url_col="source").withColumn(
        "_k", _url_key()
    )
    batch_want = sorted(
        (r["doc_id"], r["host"], r["norm_url"], r["n_chars"])
        for r in url_survivors_relation(normed, key_col="_k").collect()
    )
    assert compacted == batch_want, (compacted, batch_want)
    # the two compaction-only corrections actually happened
    kept = {r[0] for r in compacted}
    assert 7 in kept and 10 not in kept and 30 not in kept  # within-batch fix
    assert 2 in kept and 3 not in kept                      # cross-batch fix
    assert {20, 21} <= kept                                 # uri-less 1:1


def test_streaming_url_blocklist_matches_batch_admission(spark, tmp_path):
    """Round-9 verdict item 7: the URL-tier stream takes the domain
    blocklist as a broadcast anti-join BEFORE the dedup state store,
    so blocked hosts are never admitted (and never occupy state).
    Twin equality: the streamed admitted set == the batch anti-join
    admission on the same input (`cur_domain_blocklist`'s gate), and
    a blocked host's recrawl cannot 'shadow' an allowed URL's state."""
    import datetime

    from oxford_data_pipeline_spark.streaming.stream_dedup import (
        url_dedup_stream,
    )
    from oxford_data_pipeline_spark.operators.urlops import normalize_urls

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    m = datetime.timedelta(minutes=1)
    schema = "doc_id long, source string, text string, event_ts timestamp"
    rows = [
        (1, "https://blocked.example/a", "blocked host", t0),
        (2, "https://ok.example/a", "allowed", t0 + m),
        (3, "https://blocked.example/b", "blocked again", t0 + 2 * m),
        (4, "https://ok.example/a#frag", "recrawl of allowed", t0 + 3 * m),
        (5, "https://other.example/x", "allowed other", t0 + 4 * m),
        (6, "warc", "uri-less passes the host gate", t0 + 5 * m),
    ]
    src = str(tmp_path / "url_blocklist_stream")
    df = spark.createDataFrame(rows, schema)
    df.coalesce(1).write.parquet(src)
    blocklist = spark.createDataFrame(
        [("blocked.example",)], "host string"
    )

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        url_dedup_stream(stream, blocklist=blocklist)
        .writeStream.format("memory")
        .queryName("url_block_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got_hosts = {
        r["doc_id"]: r["host"]
        for r in spark.sql("SELECT * FROM url_block_t").collect()
    }
    # batch twin: anti-join admission on the same input, then the
    # batch URL keep-rule (min doc_id per normalized URL)
    normed = normalize_urls(df, url_col="source")
    admitted = normed.join(F.broadcast(blocklist), "host", "left_anti")
    assert set(got_hosts) == {2, 5, 6}
    batch_hosts = {r["host"] for r in admitted.collect()}
    assert set(got_hosts.values()) <= batch_hosts
    assert "blocked.example" not in got_hosts.values()


def test_streaming_paragraph_dedup_matches_batch_segmentation(spark, tmp_path):
    """Paragraph-tier streaming dedup: the streamed novel-paragraph
    set must key by EXACTLY the batch segmentation (same content-
    defined boundaries), suppress a later recrawl's repeated
    paragraphs within the watermark, keep first-batch-wins across
    batches, and never collapse sub-threshold paragraphs."""
    import datetime

    from oxford_data_pipeline_spark.operators.textops import (
        normalized,
        paragraph_array,
        tokens,
    )
    from oxford_data_pipeline_spark.streaming.stream_dedup import (
        paragraph_dedup_stream,
    )

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    m = datetime.timedelta(minutes=1)
    schema = "doc_id long, text string, event_ts timestamp"
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows1 = [
        (1, base + " unique tail one", t0),
        (2, "xy", t0 + m),                   # sub-threshold only
        (3, "xy", t0 + 2 * m),               # same short text, distinct doc
    ]
    rows2 = [
        (4, base + " unique tail two", t0 + 3 * m),  # shares base paragraphs
    ]
    src = str(tmp_path / "para_stream")
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        paragraph_dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("para_dedup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM para_dedup_t").collect()

    # batch segmentation of the same input
    all_rows = spark.createDataFrame(rows1 + rows2, schema)
    batch_paras = (
        all_rows.withColumn("t", tokens(normalized(F.col("text"))))
        .select(
            "doc_id",
            F.posexplode(paragraph_array(F.col("t"))).alias("para_idx", "para"),
        )
        .collect()
    )
    batch_by_occ = {(r["doc_id"], r["para_idx"]): r["para"] for r in batch_paras}
    hashed_batch = {
        p for p in (r["para"] for r in batch_paras) if len(p.split()) >= 3
    }
    hashed_got = [r for r in got if not r["para_fp"].startswith("#short#")]
    # streamed novel set == batch distinct hashed paragraphs, keyed identically
    assert {r["para"] for r in hashed_got} == hashed_batch
    assert len(hashed_got) == len(hashed_batch)  # one sighting per paragraph
    for r in got:  # every sighting is a real batch occurrence
        assert batch_by_occ[(r["doc_id"], r["para_idx"])] == r["para"]
    # first-batch-wins: every shared base paragraph surfaced from docs 1..3
    for r in hashed_got:
        if any(
            batch_by_occ.get((4, i)) == r["para"]
            for i in range(0, 12)
        ):
            # paragraph also present in doc 4 — the sighting must be doc 1's
            if any(batch_by_occ.get((1, i)) == r["para"] for i in range(0, 12)):
                assert r["doc_id"] == 1, r
    # sub-threshold "xy" rows: BOTH docs 2 and 3 pass through
    short_docs = {r["doc_id"] for r in got if r["para_fp"].startswith("#short#")}
    assert {2, 3} <= short_docs


def test_streaming_content_compaction_equals_batch_rule(spark, tmp_path):
    """Content-tier symmetry of the URL compaction contract: streamed
    exact-dedup survivors re-resolved against the maintained
    fingerprint-keeper relation must equal the batch min-doc_id-per-
    fingerprint rule on the same input — including the within-batch
    wrong-representative and smaller-id-in-later-batch cases."""
    import datetime

    from oxford_data_pipeline_spark.operators.textops import normalized
    from oxford_data_pipeline_spark.streaming.stream_dedup import (
        compact_content_survivors,
        content_keeper_maintenance_stream,
        dedup_stream_within_watermark,
        merge_content_keepers,
    )

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    m = datetime.timedelta(minutes=1)
    schema = "doc_id long, text string, event_ts timestamp"
    batch1 = [
        (10, "Duplicate Payload!", t0),          # same fp as doc 7
        (7, "duplicate payload",  t0 + m),       # min arrives second
        (3, "unique one", t0 + 2 * m),
    ]
    batch2 = [
        (2, "unique ONE", t0 + 3 * m),           # smaller id, later batch
        (30, "duplicate payload", t0 + 4 * m),   # recrawl
    ]
    src = str(tmp_path / "content_compaction_stream")
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    q = (
        dedup_stream_within_watermark(stream())
        .writeStream.format("memory")
        .queryName("content_compact_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    survivors = spark.sql("SELECT * FROM content_compact_t")

    keeper_schema = "_fp string, doc_id long, n_chars long"
    state = {"keepers": None}

    def sink(delta, _bid):
        cur = state["keepers"]
        state["keepers"] = (
            delta.collect()
            if cur is None
            else merge_content_keepers(
                spark.createDataFrame(cur, keeper_schema), delta
            ).collect()
        )

    q2 = content_keeper_maintenance_stream(stream(), sink)
    q2.awaitTermination()
    keepers = spark.createDataFrame(state["keepers"], keeper_schema)

    compacted = sorted(
        (r["exact_fp"], r["doc_id"], r["n_chars"])
        for r in compact_content_survivors(survivors, keepers).collect()
    )
    all_rows = spark.createDataFrame(batch1 + batch2, schema)
    batch_rule = sorted(
        (r["exact_fp"], r["doc_id"], r["n_chars"])
        for r in all_rows.withColumn("exact_fp", F.md5(normalized("text")))
        .withColumn("n_chars", F.length("text").cast("long"))
        .groupBy("exact_fp")
        .agg(
            F.min_by(F.struct("doc_id", "n_chars"), F.col("doc_id")).alias("s")
        )
        .select("exact_fp", "s.doc_id", "s.n_chars")
        .collect()
    )
    assert compacted == batch_rule, (compacted, batch_rule)
    kept = {d for _, d, _ in compacted}
    assert 7 in kept and 10 not in kept and 30 not in kept  # within-batch fix
    assert 2 in kept and 3 not in kept                      # cross-batch fix


def test_streaming_paragraph_compaction_equals_batch_rule(spark, tmp_path):
    """The paragraph-tier closure of the URL-tier compaction contract:
    streamed novel-paragraph set -> compaction against the maintained
    keeper relation == `dedup_paragraph_survivors`' keep-rule (first
    (doc_id, para_idx) occurrence per paragraph), transcribed
    independently here.  The fixture forces the cross-batch failure
    mode (a LATER batch carries the smallest doc_id for a shared
    paragraph, so first-batch-wins keeps the wrong representative) and
    includes a sub-threshold paragraph that must pass through 1:1."""
    import datetime

    from oxford_data_pipeline_spark.operators.textops import (
        normalized,
        paragraph_array,
        tokens,
    )
    from oxford_data_pipeline_spark.streaming.stream_dedup import (
        compact_paragraph_survivors,
        merge_paragraph_keepers,
        paragraph_dedup_stream,
        paragraph_keeper_maintenance_stream,
    )

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    m = datetime.timedelta(minutes=1)
    rep = (
        "the quick brown fox jumps over the lazy dog while seven wizards "
        "brew strange potions under a pale winter moon near the river "
        "and every boat drifts slowly past the old stone bridge tonight"
    )
    schema = "doc_id long, text string, event_ts timestamp"
    batch1 = [
        (10, rep + " unique tail alpha beta gamma", t0),
        (7, rep + " different ending words here now", t0 + m),
        (12, "hi", t0 + 2 * m),
    ]
    batch2 = [
        (2, rep + " yet another continuation of text", t0 + 3 * m),
    ]
    src = str(tmp_path / "para_compaction_stream")
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def reader():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    q = (
        paragraph_dedup_stream(reader())
        .writeStream.format("memory")
        .queryName("para_compact_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    novel = spark.sql("SELECT * FROM para_compact_t")

    keeper_schema = "_pfp string, doc_id long, para_idx int, para string"
    state = {"keepers": None}

    def sink(delta, _bid):
        cur = state["keepers"]
        state["keepers"] = (
            delta.collect()
            if cur is None
            else merge_paragraph_keepers(
                spark.createDataFrame(cur, keeper_schema), delta
            ).collect()
        )

    q2 = paragraph_keeper_maintenance_stream(reader(), sink)
    q2.awaitTermination()
    keepers = spark.createDataFrame(state["keepers"], keeper_schema)

    compacted = sorted(
        (r["doc_id"], r["para_idx"], r["para"])
        for r in compact_paragraph_survivors(novel, keepers).collect()
    )

    # batch keep-rule, transcribed (NOT imported from plans/dedup.py):
    # hashed paragraphs -> first (doc_id, para_idx) occurrence;
    # sub-threshold paragraphs -> every occurrence
    all_rows = spark.createDataFrame(batch1 + batch2, schema)
    paras = (
        all_rows.withColumn("t", tokens(normalized(F.col("text"))))
        .filter(F.size("t") > 0)
        .select(
            "doc_id",
            F.posexplode(paragraph_array(F.col("t"))).alias(
                "para_idx", "para"
            ),
        )
        .withColumn("n_toks", F.size(F.split(F.col("para"), " ")))
    )
    hashed = paras.filter(F.col("n_toks") >= 3).collect()
    short = paras.filter(F.col("n_toks") < 3).collect()
    first_occ = {}
    for r in hashed:
        k = r["para"]
        v = (r["doc_id"], r["para_idx"])
        if k not in first_occ or v < first_occ[k]:
            first_occ[k] = v
    batch_want = sorted(
        [(d, i, p) for p, (d, i) in first_occ.items()]
        + [(r["doc_id"], r["para_idx"], r["para"]) for r in short]
    )
    assert compacted == batch_want, (compacted, batch_want)
    # fixture liveness: the shared run produced >= 1 cross-doc repeat,
    # and its batch-canonical occurrence is doc 2 (later batch, smaller
    # id) — the correction compaction exists to make
    from collections import Counter

    occs = Counter(r["para"] for r in hashed)
    shared = [p for p, c in occs.items() if c >= 3]
    assert shared, "fixture must produce a cross-doc repeated paragraph"
    for p in shared:
        assert first_occ[p][0] == 2, (p, first_occ[p])
        assert (2, first_occ[p][1], p) in compacted


def test_streaming_event_analytics_match_batch(spark, tmp_path):
    """The event-analytics twins: events replayed in two checkpointed
    runs (state carried across a restart boundary) must reproduce the
    batch plans exactly — streamed transition deltas + the
    last-event-per-user END fold == `e_markov_transitions`, and
    first-completion funnel stage rows == `e_funnel` stage counts."""
    from oxford_data_pipeline_spark.plans.eventops import (
        e_funnel,
        e_markov_transitions,
    )
    from oxford_data_pipeline_spark.streaming.stream_eventops import (
        funnel_stage_stream,
        markov_matrix_from,
        transition_stream,
    )

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    pdf = ev.toPandas().sort_values(["ts", "event_id"])
    half = len(pdf) // 2
    src = tmp_path / "ev_stream"
    src.mkdir()
    schema = "user_id long, ts long, event_id long, event_type string"
    plans = {
        "trans": transition_stream,
        "funnel": funnel_stage_stream,
    }

    def run_all():
        for name, plan in plans.items():
            _restart_run(
                spark,
                {"schema": schema, "plan": plan},
                src,
                tmp_path / f"{name}_ck",
                tmp_path / f"{name}_out",
            )

    # run 1: first half; run 2: second half (per-user in-order replay,
    # state restored from the checkpoint across the restart)
    pdf.iloc[:half].to_parquet(src / "part1.parquet")
    run_all()
    pdf.iloc[half:].to_parquet(src / "part2.parquet")
    run_all()

    trans = spark.read.parquet(str(tmp_path / "trans_out"))
    last_events = ev.groupBy("user_id").agg(
        F.max_by(
            "event_type", F.struct(F.col("ts"), F.col("event_id"))
        ).alias("event_type")
    )
    got = sorted(
        map(tuple, markov_matrix_from(trans, last_events).collect())
    )
    want = sorted(map(tuple, e_markov_transitions(spark, SF_DIR).collect()))
    assert got == want and len(got) > 0

    stages = spark.read.parquet(str(tmp_path / "funnel_out"))
    got_counts = {
        r["stage"]: r["n"]
        for r in stages.groupBy("stage").agg(F.count("*").alias("n")).collect()
    }
    want_counts = {
        r["stage"]: r["n_users"] for r in e_funnel(spark, SF_DIR).collect()
    }
    assert got_counts == want_counts and want_counts[1] > 0
    # first-completion rows are per-user unique
    n_dupes = (
        stages.groupBy("user_id", "stage").count().filter("count > 1").count()
    )
    assert n_dupes == 0


def test_streaming_dau_registers_match_batch(spark, tmp_path):
    """DAU register maintenance: events replayed as a stream
    (foreachBatch, two micro-batches) and merged bucket-wise must
    equal the batch daily registers EXACTLY, and their weekly
    roll-up must equal the batch direct-weekly sketch — the
    merge-don't-recount contract at the register level."""
    from pyspark.sql import functions as F2

    from oxford_data_pipeline_spark.plans.eventops import user_hll_registers
    from oxford_data_pipeline_spark.streaming.stream_eventops import (
        dau_register_deltas,
        merge_dau_registers,
    )

    ev = load_table(spark, SF_DIR, "events").select("user_id", "ts")
    pdf = ev.toPandas().sort_values("ts")
    d = tmp_path / "dau_stream"
    d.mkdir()
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(d / "b1.parquet")
    pdf.iloc[half:].to_parquet(d / "b2.parquet")

    maintained = {"df": None}

    def fold(batch, _bid):
        delta = dau_register_deltas(batch)
        if maintained["df"] is None:
            maintained["df"] = delta.localCheckpoint()
        else:
            maintained["df"] = merge_dau_registers(
                maintained["df"], delta
            ).localCheckpoint()

    q = (
        spark.readStream.schema("user_id long, ts long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    keyed = ev.select(
        F2.expr("ts DIV 604800000000000").alias("week"),
        F2.expr("ts DIV 86400000000000").alias("day"),
        "user_id",
    )
    batch_daily = sorted(
        map(tuple, user_hll_registers(keyed, ["week", "day"]).collect())
    )
    streamed = sorted(map(tuple, maintained["df"].collect()))
    assert streamed == batch_daily and len(streamed) > 0

    weekly_from_stream = sorted(map(tuple, (
        maintained["df"]
        .groupBy("week", "bucket")
        .agg(F2.max("mreg").cast("int").alias("mreg"))
        .collect()
    )))
    batch_weekly = sorted(
        map(tuple, user_hll_registers(keyed, ["week"]).collect())
    )
    assert weekly_from_stream == batch_weekly


def test_streaming_retention_matches_batch(spark, tmp_path):
    """Cohort-retention maintenance: events replayed as a stream (two
    micro-batches, foreachBatch) folding into the (first-week keeper,
    activity-set) relations must derive EXACTLY the batch e_retention
    matrix — including a user whose first activity arrives in batch 2
    of a week EARLIER than their batch-1 rows (the min-merge corner)."""
    from pyspark.sql import functions as F2

    from oxford_data_pipeline_spark.plans.eventops import e_retention
    from oxford_data_pipeline_spark.streaming.stream_eventops import (
        merge_retention_state,
        retention_deltas,
        retention_matrix_from,
    )

    ev = load_table(spark, SF_DIR, "events").select("user_id", "ts")
    pdf = ev.toPandas()
    # adversarial split: REVERSE time order between the halves, so
    # batch 2 carries EARLIER weeks for many users and the naive
    # "first batch wins" rule would be wrong — only min-merge survives
    pdf = pdf.sort_values("ts", ascending=False)
    half = len(pdf) // 2
    d = tmp_path / "ret_stream"
    d.mkdir()
    pdf.iloc[:half].to_parquet(d / "b1.parquet")
    pdf.iloc[half:].to_parquet(d / "b2.parquet")

    state = {"v": None}

    def fold(batch, _bid):
        fw, ac = retention_deltas(batch)
        merged = merge_retention_state(
            state["v"], (fw.localCheckpoint(), ac.localCheckpoint())
        )
        state["v"] = (
            merged[0].localCheckpoint(),
            merged[1].localCheckpoint(),
        )

    q = (
        spark.readStream.schema("user_id long, ts long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = sorted(map(tuple, retention_matrix_from(state["v"]).collect()))
    want = sorted(map(tuple, e_retention(spark, SF_DIR).collect()))
    assert got == want and len(got) > 0


def test_streaming_daily_counts_match_batch(spark, tmp_path):
    """Daily-count maintenance (the e_rolling_anomaly online half):
    events replayed as two micro-batches and additively merged must
    equal the batch day-grain counts EXACTLY, and the read-time
    z-score derivation over the maintained relation must equal the
    batch anomaly report."""
    from pyspark.sql import functions as F2

    from oxford_data_pipeline_spark.plans.eventops import (
        anomaly_scores_from,
        e_rolling_anomaly,
    )
    from oxford_data_pipeline_spark.streaming.stream_eventops import (
        daily_count_deltas,
        merge_daily_counts,
    )

    ev = load_table(spark, SF_DIR, "events").select("event_type", "ts")
    pdf = ev.toPandas().sort_values("ts")
    d = tmp_path / "cnt_stream"
    d.mkdir()
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(d / "b1.parquet")
    pdf.iloc[half:].to_parquet(d / "b2.parquet")

    maintained = {"df": None}

    def fold(batch, _bid):
        delta = daily_count_deltas(batch)
        if maintained["df"] is None:
            maintained["df"] = delta.localCheckpoint()
        else:
            maintained["df"] = merge_daily_counts(
                maintained["df"], delta
            ).localCheckpoint()

    q = (
        spark.readStream.schema("event_type string, ts long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    batch_daily = sorted(map(tuple, (
        ev.groupBy(
            "event_type", F2.expr("ts DIV 86400000000000").alias("day")
        ).agg(F2.count("*").alias("n")).collect()
    )))
    streamed = sorted(map(tuple, maintained["df"].collect()))
    assert streamed == batch_daily and len(streamed) > 0
    derived = sorted(
        map(tuple, anomaly_scores_from(maintained["df"]).collect())
    )
    batch_report = sorted(
        map(tuple, e_rolling_anomaly(spark, SF_DIR).collect())
    )
    assert derived == batch_report and len(derived) > 0


def test_streaming_value_hists_match_batch(spark, tmp_path):
    """Value-histogram maintenance (the e_value_histogram online
    half): two additively-merged micro-batch deltas must equal the
    batch daily histograms EXACTLY (fixed boundaries lose nothing in
    the merge), and the read-time weekly quantile report over the
    maintained relation must equal the batch query's (minus the
    read-side merge invariant column)."""
    from pyspark.sql import functions as F2

    from oxford_data_pipeline_spark.plans.eventops import (
        e_value_histogram,
        value_hist_buckets,
    )
    from oxford_data_pipeline_spark.streaming.stream_eventops import (
        merge_value_hists,
        value_hist_deltas,
        weekly_hist_report_from,
    )

    ev = load_table(spark, SF_DIR, "events").select("ts", "value")
    pdf = ev.toPandas().sort_values("ts")
    d = tmp_path / "hist_stream"
    d.mkdir()
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(d / "b1.parquet")
    pdf.iloc[half:].to_parquet(d / "b2.parquet")

    maintained = {"df": None}

    def fold(batch, _bid):
        delta = value_hist_deltas(batch)
        if maintained["df"] is None:
            maintained["df"] = delta.localCheckpoint()
        else:
            maintained["df"] = merge_value_hists(
                maintained["df"], delta
            ).localCheckpoint()

    q = (
        spark.readStream.schema("ts long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    batch_daily = sorted(map(tuple, (
        value_hist_buckets(ev)
        .groupBy("day", "week", "bucket")
        .agg(F2.count("*").alias("n"))
        .collect()
    )))
    streamed = sorted(map(tuple, maintained["df"].collect()))
    assert streamed == batch_daily and len(streamed) > 0
    derived = sorted(
        map(tuple, weekly_hist_report_from(maintained["df"]).collect())
    )
    batch_report = sorted(map(tuple, (
        e_value_histogram(spark, SF_DIR)
        .select("week", "n_total", "p50_est", "p90_est")
        .collect()
    )))
    assert derived == batch_report and len(derived) > 0


def test_streaming_attribution_matches_batch(spark, tmp_path):
    """Attribution pair-emitter twin (the e_attribution online half):
    the real driver events replayed as a two-file availableNow stream
    through `attribution_stream` (a restart boundary between the
    files: two separate runs against one checkpoint) must emit
    exactly the batch query's pair relation, and the shared
    read-time tail must reproduce the batch report."""
    from pyspark.sql import functions as F2

    from oxford_data_pipeline_spark.plans.eventops import (
        attribution_report_from,
        e_attribution,
    )
    from oxford_data_pipeline_spark.streaming.stream_eventops import (
        attribution_stream,
    )

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    pdf = ev.toPandas().sort_values(["ts", "event_id"])
    d = tmp_path / "attr_stream"
    d.mkdir()
    half = len(pdf) // 2
    schema = "user_id long, ts long, event_id long, event_type string"

    def run() -> None:
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
            .transform(attribution_stream)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "attr_out"))
            .option("checkpointLocation", str(tmp_path / "attr_ck"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    pdf.iloc[:half].to_parquet(d / "b1.parquet")
    run()                      # first run: batch 1 only
    pdf.iloc[half:].to_parquet(d / "b2.parquet")
    run()                      # restart: state restored, batch 2
    streamed_pairs = spark.read.parquet(str(tmp_path / "attr_out"))
    # emission uniqueness across the restart boundary
    assert (
        streamed_pairs.groupBy("conv_id", "touch_id")
        .count()
        .filter(F2.col("count") > 1)
        .count()
        == 0
    )
    derived = sorted(
        map(tuple, attribution_report_from(streamed_pairs).collect())
    )
    batch_report = sorted(
        map(tuple, e_attribution(spark, SF_DIR).collect())
    )
    assert derived == batch_report and len(derived) > 0


def test_streaming_attribution_same_instant_touch(spark, tmp_path):
    """Same-instant tie replay (r12 advisor item 3): a touch at the
    EXACT purchase timestamp with a LATER event_id must still
    attribute — within a micro-batch, ties replay touches before
    purchases, so the twin is exactly batch-equal regardless of
    event_id order."""
    from oxford_data_pipeline_spark.plans.eventops import (
        attribution_report_from,
        e_attribution,
    )
    from oxford_data_pipeline_spark.streaming.stream_eventops import (
        attribution_stream,
    )

    t0 = 1_700_000_000_000_000_000
    h = 3_600_000_000_000
    rows = [
        # user 1: view 1h before, purchase id 5, then a same-instant
        # view whose event_id (9) FOLLOWS the purchase's
        (1, t0 - h, 2, "view"),
        (1, t0, 5, "purchase"),
        (1, t0, 9, "view"),
        # user 2: same-instant click with a SMALLER id (already ok
        # pre-fix) — both orders must attribute identically
        (2, t0, 3, "click"),
        (2, t0, 7, "purchase"),
    ]
    import pandas as pd2

    pdf = pd2.DataFrame(
        rows, columns=["user_id", "ts", "event_id", "event_type"]
    )
    d = tmp_path / "tie_stream"
    d.mkdir()
    pdf.to_parquet(d / "b1.parquet")
    q = (
        spark.readStream.schema(
            "user_id long, ts long, event_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .transform(attribution_stream)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "tie_out"))
        .option("checkpointLocation", str(tmp_path / "tie_ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed_pairs = spark.read.parquet(str(tmp_path / "tie_out"))
    got = sorted(map(tuple, streamed_pairs.select(
        "conv_id", "touch_id").collect()))
    # conv 5 pairs with touches 2 (earlier) AND 9 (same instant,
    # later id); conv 7 pairs with touch 3
    assert got == [(5, 2), (5, 9), (7, 3)]
    # and the shared tail reproduces the batch report on the same rows
    ev = spark.createDataFrame(
        [(eid, ts, u, t, 1.0, "{}") for (u, ts, eid, t) in rows],
        "event_id long, ts long, user_id long, event_type string,"
        " value double, props string",
    )
    import os as os2

    bd = str(tmp_path / "tie_events")
    os2.makedirs(bd)
    ev.write.parquet(os2.path.join(bd, "events.parquet"))
    assert sorted(
        map(tuple, attribution_report_from(streamed_pairs).collect())
    ) == sorted(map(tuple, e_attribution(spark, bd).collect()))


def test_streaming_daily_counts_serve_seasonality(spark):
    """One maintained relation, two reports: the (event_type, day, n)
    state the daily-count maintainer keeps for the anomaly query also
    derives the weekday-seasonality report EXACTLY (dow is a function
    of the day key, so the rollup is lossless) — streamed two-batch
    merged state -> seasonality_report_from equals the batch
    e_seasonality output."""
    from oxford_data_pipeline_spark.plans.eventops import e_seasonality
    from oxford_data_pipeline_spark.streaming.stream_eventops import (
        daily_count_deltas,
        merge_daily_counts,
        seasonality_report_from,
    )

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    pdf = ev.toPandas().sort_values(["ts", "event_id"])
    half = len(pdf) // 2
    h1 = spark.createDataFrame(pdf.iloc[:half])
    h2 = spark.createDataFrame(pdf.iloc[half:])
    state = merge_daily_counts(
        daily_count_deltas(h1), daily_count_deltas(h2)
    )
    derived = sorted(map(tuple, seasonality_report_from(state).collect()))
    batch = sorted(map(tuple, e_seasonality(spark, SF_DIR).collect()))
    assert derived == batch and len(derived) > 0


def test_streaming_wave3_analytics_match_batch(spark, tmp_path):
    """The wave-3 twins (r13 verdict item 4): events replayed in two
    checkpointed runs (state carried across a restart boundary) must
    reproduce the batch plans exactly through the SHARED report tails —
    streamed path triples + `path_topk_report_from` == `e_path_topk`
    (via the additive `merge_path_counts` maintained relation),
    streamed basket membership + `cooccurrence_report_from` ==
    `e_cooccurrence_lift`, and streamed last-seen gap deltas +
    `interarrival_report_from` == `e_interarrival`."""
    from oxford_data_pipeline_spark.plans.eventops import (
        cooccurrence_report_from,
        e_cooccurrence_lift,
        e_interarrival,
        e_path_topk,
        interarrival_report_from,
        path_topk_report_from,
    )
    from oxford_data_pipeline_spark.streaming.stream_eventops import (
        basket_stream,
        interarrival_gap_stream,
        merge_path_counts,
        path_triple_stream,
    )

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    pdf = ev.toPandas().sort_values(["ts", "event_id"])
    half = len(pdf) // 2
    src = tmp_path / "w3_stream"
    src.mkdir()
    schema = "user_id long, ts long, event_id long, event_type string"
    plans = {
        "paths": path_triple_stream,
        "baskets": basket_stream,
        "gaps": interarrival_gap_stream,
    }

    def run_all():
        for name, plan in plans.items():
            _restart_run(
                spark,
                {"schema": schema, "plan": plan},
                src,
                tmp_path / f"{name}_ck",
                tmp_path / f"{name}_out",
            )

    pdf.iloc[:half].to_parquet(src / "part1.parquet")
    run_all()
    pdf.iloc[half:].to_parquet(src / "part2.parquet")
    run_all()

    # path mining: fold the triple deltas through the additive count
    # merge (split to prove merge associativity), then the shared tail
    triples = spark.read.parquet(str(tmp_path / "paths_out"))
    counts = triples.groupBy("s1", "s2", "s3").agg(
        F.count("*").alias("n_paths")
    )
    c1 = counts.filter(F.col("s1") <= F.col("s3"))
    c2 = counts.filter(F.col("s1") > F.col("s3"))
    maintained = merge_path_counts(c1, c2)
    got = sorted(map(tuple, path_topk_report_from(maintained).collect()))
    want = sorted(map(tuple, e_path_topk(spark, SF_DIR).collect()))
    assert got == want and len(got) > 0

    # baskets: the emitted relation IS the batch distinct basket
    # relation (per-user-session first occurrences), then shared tail
    baskets = spark.read.parquet(str(tmp_path / "baskets_out"))
    n_dupes = (
        baskets.groupBy("user_id", "session_idx", "event_type")
        .count()
        .filter("count > 1")
        .count()
    )
    assert n_dupes == 0
    got = sorted(map(tuple, cooccurrence_report_from(baskets).collect()))
    want = sorted(map(tuple, e_cooccurrence_lift(spark, SF_DIR).collect()))
    assert got == want and len(got) > 0

    # inter-arrival: gap deltas through the shared rollup tail
    gaps = spark.read.parquet(str(tmp_path / "gaps_out"))
    got = sorted(map(tuple, interarrival_report_from(gaps).collect()))
    want = sorted(map(tuple, e_interarrival(spark, SF_DIR).collect()))
    assert got == want and len(got) > 0


def test_streaming_retention_state_serves_growth_accounting(spark):
    """One maintained relation pair, two reports (the daily-count /
    seasonality pattern): the (firstw, active) state the retention
    maintainer keeps also derives the growth-accounting report
    EXACTLY — streamed two-batch merged state -> `growth_report_from`
    equals the batch `e_growth_accounting` output."""
    from oxford_data_pipeline_spark.plans.eventops import (
        e_growth_accounting,
    )
    from oxford_data_pipeline_spark.streaming.stream_eventops import (
        growth_report_from,
        merge_retention_state,
        retention_deltas,
    )

    ev = load_table(spark, SF_DIR, "events").select("user_id", "ts")
    pdf = ev.toPandas().sort_values("ts")
    half = len(pdf) // 2
    h1 = spark.createDataFrame(pdf.iloc[:half])
    h2 = spark.createDataFrame(pdf.iloc[half:])
    state = merge_retention_state(
        retention_deltas(h1), retention_deltas(h2)
    )
    derived = sorted(
        map(tuple, growth_report_from(state).collect()),
        key=lambda t: t[0],
    )
    batch = sorted(
        map(tuple, e_growth_accounting(spark, SF_DIR).collect()),
        key=lambda t: t[0],
    )
    assert derived == batch and len(derived) > 0


# --------------------------------------------------------------------------
# Monoid laws of the maintained-state merges
# --------------------------------------------------------------------------
# (module, merge, state schema, number of key columns, law).  The law
# names the Python fold the merge must equal, per key: "sum", "max" or
# "min" of each value column, or "keeper<n>": the row whose first n
# value columns are smallest wins, the rest travel with it.
_MERGE_LAWS = [
    ("stream_eventops", "merge_daily_counts",
     "event_type string, day long, n long", 2, "sum"),
    ("stream_eventops", "merge_value_hists",
     "day long, week long, bucket int, n long", 3, "sum"),
    ("stream_eventops", "merge_path_counts",
     "s1 string, s2 string, s3 string, n_paths long", 3, "sum"),
    ("stream_eventops", "merge_dau_registers",
     "week long, day long, bucket int, mreg int", 3, "max"),
    ("stream_eventops", "merge_retention_state",
     "user_id long, cohort_week long", 1, "min"),
    ("stream_profile", "merge_counters", "k int, pos string, cnt long", 2, "sum"),
    ("stream_profile", "merge_registers", "bucket int, mreg int", 1, "max"),
    ("stream_curation", "merge_host_counts",
     "host string, n_docs long, n_chars long", 1, "sum"),
    ("stream_dedup", "merge_url_keepers",
     "_url_key string, doc_id long, host string, norm_url string, n_chars long",
     1, "keeper1"),
    ("stream_dedup", "merge_content_keepers",
     "_fp string, doc_id long, n_chars long", 1, "keeper1"),
    ("stream_dedup", "merge_paragraph_keepers",
     "_pfp string, doc_id long, para_idx int, para string", 1, "keeper2"),
]
# key index -> value seed.  Key 2 is in all three states, keys 1 and 3
# in two, keys 0 and 4 in one; for "keeper2" key 2 ties on doc_id
# between A and C, so para_idx decides.
_LAW_A, _LAW_B, _LAW_C = {0: 3, 1: 5, 2: 7}, {1: 2, 2: 9, 3: 4}, {2: 6, 3: 1, 4: 8}


def _law_row(types, n_keys, law, i, v):
    keys = tuple(f"k{i}" if t == "string" else i for t in types[:n_keys])
    if not law.startswith("keeper"):
        return keys + tuple(v * (j + 1) for j in range(len(types) - n_keys))
    n_order = int(law[-1])
    order = (v,) if n_order == 1 else (v // 2, v % 2)
    attrs = tuple(
        f"a{v}" if t == "string" else v * 10 for t in types[n_keys + n_order:]
    )
    return keys + order + attrs


def _law_fold(name, law, n_keys, *states):
    out = {}
    for rows in states:
        for row in rows:
            k, new = row[:n_keys], row[n_keys:]
            old = out.get(k)
            if old is None:
                out[k] = new
            elif law == "sum":
                out[k] = tuple(x + y for x, y in zip(old, new))
            elif law in ("max", "min"):
                pick = max if law == "max" else min
                out[k] = tuple(pick(x, y) for x, y in zip(old, new))
            else:
                n_order = int(law[-1])
                out[k] = min(old, new, key=lambda r: r[:n_order])
    folded = sorted(k + v for k, v in out.items())
    if name == "merge_retention_state":
        return folded, sorted({r for rows in states for r in rows})
    return folded


@pytest.mark.parametrize(
    "module,name,ddl,n_keys,law", _MERGE_LAWS, ids=[c[1] for c in _MERGE_LAWS]
)
def test_maintained_merges_obey_monoid_laws(spark, module, name, ddl, n_keys, law):
    """Every maintained-state merge equals the Python dict fold of the
    same rows, is commutative and associative, and treats an empty
    maintained side as the identity.  MAX, MIN and keeper merges are
    replay-idempotent (merge(s, s) == s); SUM is not — a replayed
    micro-batch double-counts, which is why a CMS sink must dedupe on
    batch_id.  The retention state also carries its activity set,
    merged by union-distinct."""
    import importlib

    merge = getattr(
        importlib.import_module(f"oxford_data_pipeline_spark.streaming.{module}"),
        name,
    )
    types = [f.split()[1] for f in ddl.split(", ")]
    a, b, c = (
        [_law_row(types, n_keys, law, i, v) for i, v in s.items()]
        for s in (_LAW_A, _LAW_B, _LAW_C)
    )

    def state(rows):
        df = spark.createDataFrame(rows, ddl)
        if name == "merge_retention_state":
            return df, df.withColumnRenamed("cohort_week", "week")
        return df

    def got(s):
        if name == "merge_retention_state":
            return tuple(sorted(map(tuple, part.collect())) for part in s)
        return sorted(map(tuple, s.collect()))

    def want(*states):
        return _law_fold(name, law, n_keys, *states)

    sa, sb, sc = state(a), state(b), state(c)
    assert got(merge(sa, sb)) == want(a, b)
    assert got(merge(sb, sa)) == want(a, b)
    assert got(merge(merge(sa, sb), sc)) == want(a, b, c)
    assert got(merge(sa, merge(sb, sc))) == want(a, b, c)
    assert got(merge(state([]), sa)) == want(a)
    twice = got(merge(sa, sa))
    if law == "sum":
        assert twice == want(a, a) and twice != want(a)
    else:
        assert twice == want(a) == got(sa)
