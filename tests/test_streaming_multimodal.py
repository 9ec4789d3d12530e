"""Streaming scoring mode + multimodal plumbing + plan-property tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataquality_ml_spark.operators import multimodal as mm
from dataquality_ml_spark.sources.readers import read_parquet
from dataquality_ml_spark.streaming import score_stream as ss


def test_streaming_windowed_flagging(spark, tmp_path):
    """events parquet replayed as a file stream → watermarked windowed agg
    → threshold flags applied per micro-batch via foreachBatch."""
    src = read_parquet(spark, "/root/testdata/sf0.001/events.parquet")
    stream_dir = str(tmp_path / "in")
    src.limit(2000).write.parquet(stream_dir)

    # frozen batch-derived threshold artifact (the engine contract): P99 of
    # the historical batch, applied unchanged to the stream
    from dataquality_ml_spark.operators.thresholds import percentile_threshold

    t = percentile_threshold(src, "value", 0.99, exact=True)

    stream = spark.readStream.schema(src.schema).parquet(stream_dir)
    stats = ss.windowed_stats(stream, window_duration="1 hour", watermark="2 hours")
    flagged = ss.flag_stream(stats, "max_value", threshold=t)

    collected: list = []

    def sink(batch_df, batch_id):
        collected.extend(flagged_row.asDict() for flagged_row in batch_df.collect())

    q = ss.score_with_batch_operator(
        flagged, sink, checkpoint=str(tmp_path / "ckpt"), trigger_once=True
    )
    q.awaitTermination(120)
    assert collected, "stream produced no windows"
    assert {"n", "mean_value", "max_value", "is_anomaly"} <= set(collected[0].keys())
    assert any(r["is_anomaly"] for r in collected)  # max value 490 > 400
    assert any(not r["is_anomaly"] for r in collected)


def test_multimodal_decode_plumbing(spark):
    """Binary column → metadata extraction (JVM-side) and stub decode via
    mapInPandas with the real batch contract."""
    docs = read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
    with_bin = docs.select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    meta = mm.attach_binary_metadata(with_bin, "payload", "doc_id")
    m = meta.first()
    assert m["n_bytes"] > 0 and len(m["content_hash"]) == 32

    feats = mm.decode_features(with_bin, "payload", "doc_id")
    rows = feats.collect()
    assert len(rows) == docs.count()  # no empty payloads here
    assert all(len(r["features"]) == 8 for r in rows)
    assert all(16 <= r["width"] < 80 for r in rows)


def test_decode_stub_failure_path():
    with pytest.raises(NotImplementedError):
        mm.decode_stub(b"")


def test_plan_properties(spark):
    """The scale assertions (SURVEY §4): pushdown, pruning, broadcast."""
    from dataquality_ml_spark import plans
    import dataquality_ml_spark.queries as q

    sf = "/root/testdata/sf0.001"
    fpc = q.queries()["filter_project_cast"](spark, sf)
    assert any("event_type" in f for f in plans.pushed_filters(fpc))
    read_cols = plans.read_schema_columns(fpc)
    assert "props" in read_cols and "ts" not in read_cols  # pruned

    rev = q.queries()["revenue_by_nation"](spark, sf)
    assert plans.has_broadcast_join(rev)

    q1 = q.queries()["q1_pricing_summary"](spark, sf)
    # scan → partial agg → exchange on group keys → final agg → sort
    # exchange (+ AQE wrapper) — anything more means a lost partial agg
    assert plans.count_shuffles(q1) <= 4


def test_stateful_ew_anomaly_stream(spark, tmp_path):
    """applyInPandasWithState: per-key EW mean/var state over a replayed
    event stream; planted spikes must flag, and state must persist across
    micro-batches."""
    from dataquality_ml_spark.streaming.stateful import ew_anomaly_stream

    # two micro-batch files replayed in order: steady values + two spikes
    rows1 = [(uid, eid, 10.0 + (eid % 3) * 0.1) for uid in (1, 2) for eid in range(20)]
    rows2 = [(uid, eid, 10.0 + (eid % 3) * 0.1) for uid in (1, 2) for eid in range(20, 38)]
    rows2 += [(1, 38, 500.0), (2, 39, -500.0)]  # planted spikes
    src = str(tmp_path / "stream_src")
    schema = "user_id long, event_id long, value double"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    flagged = ew_anomaly_stream(stream, key_col="user_id", z_threshold=5.0)

    out: list = []
    q = (
        flagged.writeStream.foreachBatch(
            lambda df, _id: out.extend(r.asDict() for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    spikes = {(r["key"], r["event_id"]) for r in out}
    assert (1, 38) in spikes and (2, 39) in spikes, f"spikes not flagged: {out}"
    # steady values must NOT flag
    assert all(abs(r["value"]) > 100 for r in out), f"false positives: {out}"


def test_streaming_dedup_and_file_sink(spark, tmp_path):
    """Watermarked streaming dedup + parquet file sink: duplicate event_ids
    injected across micro-batches come out exactly once."""
    from dataquality_ml_spark.streaming.score_stream import dedup_stream

    src_dir = str(tmp_path / "dsrc")
    schema = "event_id long, ts timestamp, value double"
    rows1 = [(i, "2024-01-01 10:00:00", float(i)) for i in range(50)]
    rows2 = [(i, "2024-01-01 10:30:00", float(i)) for i in range(25, 75)]  # 25 dups
    for i, rows in enumerate((rows1, rows2)):
        spark.createDataFrame(rows, "event_id long, ts string, value double").select(
            "event_id", F.col("ts").cast("timestamp").alias("ts"), "value"
        ).coalesce(1).write.mode("append").parquet(src_dir)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src_dir)
    deduped = dedup_stream(stream, ["event_id"], watermark="2 hours")

    out_dir = str(tmp_path / "dout")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "dckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    result = spark.read.parquet(out_dir)
    assert result.count() == 75  # 100 rows in, 25 duplicates dropped
    assert result.select("event_id").distinct().count() == 75


def test_streaming_session_window(spark, tmp_path):
    """Events within the gap merge into one session per key; a gap larger
    than the threshold starts a new session. Run as a file-source stream
    in two micro-batches to exercise incremental session merging."""
    import json
    import os

    from dataquality_ml_spark.streaming.score_stream import session_stats

    src = tmp_path / "sess_src"
    os.makedirs(src)
    schema = "ts timestamp, user_id long, value double"

    def write_batch(name, rows):
        with open(src / name, "w") as f:
            for ts, uid, v in rows:
                f.write(json.dumps({"ts": ts, "user_id": uid, "value": v}) + "\n")

    # user 1: two events 10 min apart (one session), then one 2h later
    write_batch("b1.json", [
        ("2024-01-01T00:00:00", 1, 1.0),
        ("2024-01-01T00:10:00", 1, 2.0),
    ])
    stream = spark.readStream.schema(schema).json(str(src))
    out = session_stats(stream, gap="30 minutes", watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch("b2.json", [("2024-01-01T02:00:00", 1, 5.0)])
        q.processAllAvailable()
        rows = {
            (r["user_id"], r["session_start"].isoformat()): r
            for r in spark.sql("select * from sessions").collect()
        }
    finally:
        q.stop()
    assert len(rows) == 2
    first = rows[(1, "2024-01-01T00:00:00")]
    assert first["n_events"] == 2 and first["total_value"] == 3.0
    # session end = last event + gap
    assert first["session_end"].isoformat() == "2024-01-01T00:40:00"
    second = rows[(1, "2024-01-01T02:00:00")]
    assert second["n_events"] == 1 and second["total_value"] == 5.0


def test_stream_static_broadcast_enrichment(spark, tmp_path):
    """Stream-static join: a micro-batch stream enriched against a static
    broadcast dimension — the standard pattern for attaching reference
    data (thresholds, dimension attributes) to a live stream. The static
    side is re-resolved per micro-batch, never shuffled with the stream."""
    src_dir = str(tmp_path / "ssrc")
    rows = [(i, i % 3, float(i)) for i in range(60)]
    spark.createDataFrame(rows, "event_id long, dim_id long, value double").coalesce(
        2
    ).write.mode("append").parquet(src_dir)

    dim = spark.createDataFrame(
        [(0, "bronze", 1.0), (1, "silver", 2.0), (2, "gold", 3.0)],
        "dim_id long, tier string, mult double",
    )
    stream = spark.readStream.schema("event_id long, dim_id long, value double").parquet(
        src_dir
    )
    enriched = stream.join(F.broadcast(dim), "dim_id").select(
        "event_id", "tier", (F.col("value") * F.col("mult")).alias("scaled")
    )
    out_dir = str(tmp_path / "sout")
    q = (
        enriched.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "sckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    result = spark.read.parquet(out_dir)
    assert result.count() == 60
    gold = result.where(F.col("tier") == "gold")
    assert gold.count() == 20
    # dim_id=2 rows carry value*3.0
    assert gold.where(F.col("scaled") != F.col("event_id") * 3.0).count() == 0


def test_frame_sampling_plumbing(spark):
    """sample_frames: 1 binary row → one row per kept frame, executor-side;
    empty payloads skipped via the decoder failure path."""
    from dataquality_ml_spark.operators.multimodal import sample_frames

    rows = [
        (1, bytes(range(16 * 5))),   # 5 frames → idx 0, 2, 4
        (2, bytes(range(16 * 2))),   # 2 frames → idx 0
        (3, b""),                    # undecodable → dropped
    ]
    df = spark.createDataFrame(rows, "vid long, content binary")
    out = sample_frames(df, "content", "vid", every_n=2).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], []).append(r)
    assert sorted(r["frame_idx"] for r in by_id[1]) == [0, 2, 4]
    assert by_id[1][0]["n_frames"] == 5
    assert sorted(r["frame_idx"] for r in by_id[2]) == [0]
    assert 3 not in by_id
    # frame content is the demuxed slice, not the whole payload
    f0 = next(r for r in by_id[1] if r["frame_idx"] == 0)
    assert bytes(f0["frame_bytes"]) == bytes(range(16))


def test_streaming_drift_monitor_foreachbatch(spark, tmp_path):
    """Streaming drift monitor: each micro-batch is PSI-compared against a
    frozen reference distribution inside foreachBatch (batch operators
    reused verbatim on streaming data). The shifted batch must alarm, the
    in-distribution batch must not."""
    from dataquality_ml_spark.operators.drift import psi_bins

    ref = spark.range(0, 2000).select((F.col("id") % 100).cast("double").alias("v"))

    src_dir = str(tmp_path / "drsrc")
    # batch 0: same uniform shape; batch 1: concentrated (shifted)
    b0 = [(float(i % 100),) for i in range(1000)]
    b1 = [(float(i % 10),) for i in range(1000)]
    for rows in (b0, b1):
        spark.createDataFrame(rows, "v double").coalesce(1).write.mode("append").parquet(
            src_dir
        )

    results: list[tuple[int, float]] = []

    def check(batch_df, batch_id):
        psi = (
            psi_bins(ref, batch_df, "v", lo=0.0, hi=100.0, bins=10)
            .select("psi_total")
            .first()["psi_total"]
        )
        results.append((int(batch_id), float(psi)))

    stream = (
        spark.readStream.schema("v double").option("maxFilesPerTrigger", "1").parquet(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(check)
        .option("checkpointLocation", str(tmp_path / "drckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    psis = dict(results)
    assert len(psis) == 2
    lo_psi, hi_psi = min(psis.values()), max(psis.values())
    assert lo_psi < 0.05, f"in-distribution batch alarmed: {psis}"
    assert hi_psi > 0.2, f"shifted batch did not alarm: {psis}"


def test_bloom_dedup_stream_evolving_state(spark, tmp_path):
    """Streaming content dedup against an evolving corpus bloom: batch-A
    survivors are folded into the filter, so batch-B copies of them are
    rejected; corpus dups are rejected from the start; the returned filter
    reflects everything accepted."""
    from dataquality_ml_spark.operators.dedup import build_fingerprint_bloom

    corpus = spark.createDataFrame(
        [(0, "corpus doc alpha"), (1, "corpus doc beta")],
        "doc_id bigint, text string",
    )
    bloom0 = build_fingerprint_bloom(corpus)

    in_dir = tmp_path / "docs_in"
    in_dir.mkdir()
    schema = "doc_id bigint, text string"
    # file 1: one corpus dup, two new (one duplicated within the batch)
    spark.createDataFrame(
        [(10, "corpus doc alpha"), (11, "new doc one"), (12, "new doc one"),
         (13, "new doc two")],
        schema,
    ).coalesce(1).write.json(str(in_dir / "f1"))
    # file 2: a copy of batch-1's accepted doc + one genuinely new
    spark.createDataFrame(
        [(20, "new doc one"), (21, "new doc three")], schema
    ).coalesce(1).write.json(str(in_dir / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir / "*"))
    )
    accepted: list = []

    def sink(batch_df, batch_id):
        accepted.extend(r["doc_id"] for r in batch_df.collect())

    q, get_bloom = ss.bloom_dedup_stream(
        stream, bloom0, checkpoint=str(tmp_path / "ckpt"), out_fn=sink
    )
    q.awaitTermination(120)

    # 10 dups corpus; 11/12 same content -> min id 11; 20 dups batch-1's
    # accepted "new doc one" (cross-micro-batch state!); 21 is new
    assert sorted(accepted) == [11, 13, 21]
    assert get_bloom().fill_ratio > bloom0.fill_ratio  # state evolved


def test_sequence_score_stream_matches_batch_across_microbatches(spark, tmp_path):
    """Round 4: the stateful sliding-window scorer must produce EXACTLY the
    batch operator's scores — including windows that span micro-batch
    boundaries (file 2's early rows need file 1's tail rows from state) —
    and flag the planted spike against the frozen batch threshold."""
    import numpy as np

    from dataquality_ml_spark.engine import DQEngine
    from dataquality_ml_spark.streaming.stateful import sequence_score_stream

    rng = np.random.default_rng(29)
    schema = "user_id long, ts long, value double"
    all_rows = []
    for uid in (1, 2):
        for t in range(60):
            v = 400.0 if (uid == 2 and t == 45) else float(rng.normal(5, 0.3))
            all_rows.append((uid, t, v))
    df = spark.createDataFrame(all_rows, schema)

    eng = DQEngine(spark)
    fitted = eng.fit_sequence_detector(
        df.where("ts < 40"), key="user_id", order="ts", features="value",
        timesteps=8, detector="pca", n_components=2,
    )
    batch_scores = {
        (r["user_id"], r["ts"]): (r["score"], r["is_anomaly"])
        for r in eng.score_sequences(df, fitted).collect()
    }

    src = str(tmp_path / "seq_src")
    spark.createDataFrame(
        [r for r in all_rows if r[1] < 30], schema
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        [r for r in all_rows if r[1] >= 30], schema
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    out: list = []
    q = (
        sequence_score_stream(stream, fitted)
        .writeStream.foreachBatch(
            lambda bdf, _id: out.extend(r.asDict() for r in bdf.collect())
        )
        .option("checkpointLocation", str(tmp_path / "seq_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {(r["key"], r["order_key"]): (r["score"], r["is_anomaly"]) for r in out}
    assert set(got) == set(batch_scores)  # same windows, incl. boundary-spanning
    for k, (s, flag) in batch_scores.items():
        assert got[k][0] == pytest.approx(s, rel=1e-9), k
        assert got[k][1] == flag, k
    # windows containing the spike flag; ts 30..37 windows REQUIRED state
    assert any(k == 2 and flag for (k, t), (_, flag) in got.items())
    assert (1, 30) in got and (1, 37) in got


def test_span_dedup_stream_keep_first_across_microbatches(spark, tmp_path):
    """Streaming span dedup: 'first occurrence' spans the whole stream.
    In-batch dups resolve to the earliest (doc, pos); spans accepted in
    batch 1 are rejected in batch 2 via the evolving bloom; the result
    equals the batch operator over the concatenated input (ids ordered
    like arrival, no bloom false positives at this size)."""
    from dataquality_ml_spark.operators.dedup import (
        FingerprintBloom,
        dedup_spans,
        reconstruct_spans,
    )
    from dataquality_ml_spark.operators.text import chunk_documents

    schema = "doc_id bigint, text string"
    f1_rows = [(10, "a b c d e f"), (11, "a b c x y z")]
    f2_rows = [(20, "d e f p q r"), (21, "x y z")]

    in_dir = tmp_path / "docs_in"
    in_dir.mkdir()
    spark.createDataFrame(f1_rows, schema).coalesce(1).write.json(
        str(in_dir / "f1")
    )
    spark.createDataFrame(f2_rows, schema).coalesce(1).write.json(
        str(in_dir / "f2")
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir / "*"))
    )
    got: dict[int, tuple[str, int]] = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            got[r["doc_id"]] = (r["clean_text"], r["n_removed"])

    bloom0 = FingerprintBloom(bytes(8192), 65536, 5)
    q, get_bloom = ss.span_dedup_stream(
        stream, bloom0, checkpoint=str(tmp_path / "ckpt"), out_fn=sink
    )
    q.awaitTermination(120)

    assert got[10] == ("a b c d e f", 0)
    assert got[11] == ("x y z", 1)      # "a b c" lost to doc 10 in-batch
    assert got[20] == ("p q r", 1)      # "d e f" accepted in batch 1
    assert got[21] == ("", 1)           # whole doc was already seen
    assert get_bloom().fill_ratio > 0

    # stream == batch operator on the concatenated corpus
    all_docs = spark.createDataFrame(f1_rows + f2_rows, schema)
    batch_out = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in reconstruct_spans(
            dedup_spans(chunk_documents(all_docs, chunk=3, overlap=0))
        ).collect()
    }
    assert batch_out == got


def test_span_dedup_stream_bloom_persists_across_queries(spark, tmp_path):
    """The daily-append story: the bloom returned by a finished query seeds
    a NEW query (new checkpoint, new source) and spans accepted in the
    first run are still rejected — state survives the stream, not just the
    micro-batch loop."""
    from dataquality_ml_spark.operators.dedup import FingerprintBloom

    schema = "doc_id bigint, text string"

    def run(dirname, rows, bloom):
        d = tmp_path / dirname
        d.mkdir()
        spark.createDataFrame(rows, schema).coalesce(1).write.json(
            str(d / "f")
        )
        stream = spark.readStream.schema(schema).json(str(d / "*"))
        got = {}

        def sink(batch_df, batch_id):
            for r in batch_df.collect():
                got[r["doc_id"]] = (r["clean_text"], r["n_removed"])

        q, get_bloom = ss.span_dedup_stream(
            stream, bloom, checkpoint=str(tmp_path / (dirname + "_ckpt")),
            out_fn=sink,
        )
        q.awaitTermination(120)
        return got, get_bloom()

    day1, bloom1 = run("day1", [(1, "a b c d e f")], FingerprintBloom(bytes(8192), 65536, 5))
    assert day1[1] == ("a b c d e f", 0)
    day2, _ = run("day2", [(2, "a b c x y z")], bloom1)
    assert day2[2] == ("x y z", 1)  # "a b c" was accepted yesterday


def test_image_metadata_parses_real_headers(spark):
    """Header parsing is REAL: hand-built PNG/GIF/JPEG headers yield their
    true dimensions; corrupt bytes classify unknown without dropping."""
    import struct

    from dataquality_ml_spark.operators.multimodal import image_metadata

    png = (
        b"\x89PNG\r\n\x1a\n"
        + b"\x00\x00\x00\rIHDR"
        + struct.pack(">II", 640, 480)
        + b"\x08\x06\x00\x00\x00" + b"\x00" * 4
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 6
    # JPEG: SOI, APP0 (16 bytes), SOF0 with height=100 width=150
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", 100, 150) + b"\x03" + b"\x00" * 2
    )
    junk = b"not an image at all, sorry"
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(gif)), (3, bytearray(jpeg)),
         (4, bytearray(junk)), (5, None)],
        "id long, payload binary",
    )
    rows = {r["id"]: r for r in image_metadata(df, "payload", "id").collect()}
    assert (rows[1]["format"], rows[1]["width"], rows[1]["height"]) == ("png", 640, 480)
    assert (rows[2]["format"], rows[2]["width"], rows[2]["height"]) == ("gif", 320, 200)
    assert (rows[3]["format"], rows[3]["width"], rows[3]["height"]) == ("jpeg", 150, 100)
    assert rows[4]["format"] == "unknown" and rows[4]["width"] is None
    assert rows[5]["format"] == "unknown"
    assert len(rows) == 5  # nothing dropped


def test_streaming_dedup_state_evicts_after_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark's bounded-state trade, pinned as a
    test: a duplicate inside the horizon is dropped (batch 2), but once the
    watermark passes the first occurrence's expiry the key's state is
    EVICTED and a later duplicate is re-emitted (batch 3). Plain
    dropDuplicates would dedup batch 3 too — by keeping every key's state
    forever, which is the unbounded-state configuration we refuse."""
    from dataquality_ml_spark.streaming.score_stream import dedup_stream

    src_dir = str(tmp_path / "esrc")
    schema = "event_id long, ts timestamp, value double"
    batches = [
        [(1, "2024-01-01 10:00:00", 1.0)],  # first occurrence; expiry ~10:40
        # dup within horizon (watermark still behind) + an event advancing
        # the watermark to 11:30 at batch end
        [(1, "2024-01-01 10:10:00", 2.0), (2, "2024-01-01 12:00:00", 3.0)],
        # a batch between the advance and the re-occurrence: eviction with
        # the new watermark happens at batch end, one batch behind the data
        [(3, "2024-01-01 12:30:00", 5.0)],
        # state evicted and 12:15 is above the 12:00 watermark (not late)
        [(1, "2024-01-01 12:15:00", 4.0)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, "event_id long, ts string, value double").select(
            "event_id", F.col("ts").cast("timestamp").alias("ts"), "value"
        ).coalesce(1).write.mode("append").parquet(src_dir)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src_dir)
    )
    deduped = dedup_stream(stream, ["event_id"], watermark="30 minutes")
    out_dir = str(tmp_path / "eout")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "eckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = sorted(
        (r["event_id"], r["value"]) for r in spark.read.parquet(out_dir).collect()
    )
    # batch-2 dup (value 2.0) dropped; batch-4 re-occurrence (4.0) kept
    assert got == [(1, 1.0), (1, 4.0), (2, 3.0), (3, 5.0)]


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream attribution join (view→click within 30 min) across
    micro-batches equals the batch join on the concatenated input; both
    state stores are watermark-bounded because the join condition carries
    the event-time interval."""
    from dataquality_ml_spark.streaming.score_stream import stream_stream_interval_join

    vdir, cdir = str(tmp_path / "views"), str(tmp_path / "clicks")
    schema = "user_id long, ts timestamp"
    views = [
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:05:00")],
        [(3, "2024-01-01 11:00:00")],
    ]
    clicks = [
        [(1, "2024-01-01 10:10:00"), (2, "2024-01-01 11:00:00")],  # u2 too late
        [(3, "2024-01-01 11:20:00"), (1, "2024-01-01 10:29:00")],
    ]
    for d, batches in ((vdir, views), (cdir, clicks)):
        for rows in batches:
            spark.createDataFrame(rows, "user_id long, ts string").select(
                "user_id", F.col("ts").cast("timestamp").alias("ts")
            ).coalesce(1).write.mode("append").parquet(d)

    vs = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(vdir)
    cs = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(cdir)
    joined = stream_stream_interval_join(
        vs, cs, key="user_id", watermark="2 hours", within="30 minutes"
    )
    out_dir = str(tmp_path / "jout")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "jckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = sorted(
        (r["l_user_id"], r["l_ts"].isoformat(), r["r_ts"].isoformat())
        for r in spark.read.parquet(out_dir).collect()
    )
    # batch twin on the concatenated inputs
    vb = spark.read.parquet(vdir).selectExpr("user_id AS l_user_id", "ts AS l_ts")
    cb = spark.read.parquet(cdir).selectExpr("user_id AS r_user_id", "ts AS r_ts")
    expect = sorted(
        (r["l_user_id"], r["l_ts"].isoformat(), r["r_ts"].isoformat())
        for r in vb.join(
            cb,
            (F.col("l_user_id") == F.col("r_user_id"))
            & (F.col("r_ts") >= F.col("l_ts"))
            & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 30 minutes")),
        ).collect()
    )
    assert got == expect
    # and the late u2 click (55 min after the view) is not attributed
    assert all(u != 2 for u, _, _ in got)


def test_stream_stream_left_outer_emits_unconverted_views(spark, tmp_path):
    """left_outer attribution: a view with no click inside the bound is
    emitted with null click columns once the watermark proves no match can
    still arrive."""
    from dataquality_ml_spark.streaming.score_stream import stream_stream_interval_join

    vdir, cdir = str(tmp_path / "v2"), str(tmp_path / "c2")
    schema = "user_id long, ts timestamp"
    views = [
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:00:00")],
        # a late view far ahead: advances the watermark so u2's no-match
        # verdict becomes final
        [(9, "2024-01-01 15:00:00")],
    ]
    clicks = [
        [(1, "2024-01-01 10:10:00")],
        [(9, "2024-01-01 15:01:00")],
    ]
    for d, batches in ((vdir, views), (cdir, clicks)):
        for rows in batches:
            spark.createDataFrame(rows, "user_id long, ts string").select(
                "user_id", F.col("ts").cast("timestamp").alias("ts")
            ).coalesce(1).write.mode("append").parquet(d)

    vs = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(vdir)
    cs = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(cdir)
    joined = stream_stream_interval_join(
        vs, cs, key="user_id", watermark="10 minutes", within="30 minutes",
        how="left_outer",
    )
    out_dir = str(tmp_path / "lout")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "lckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    rows = {
        (r["l_user_id"], r["r_user_id"]) for r in spark.read.parquet(out_dir).collect()
    }
    assert (1, 1) in rows          # converted view matched
    assert (2, None) in rows       # unconverted view emitted with nulls


def test_streaming_oov_monitor_foreachbatch(spark, tmp_path):
    """Tokenizer-health stream: a frozen BPE tokenizer scores each
    micro-batch's OOV rate; the in-domain batch stays quiet, the
    foreign-alphabet batch alarms."""
    from dataquality_ml_spark.operators.bpe import train_tokenizer
    from dataquality_ml_spark.streaming.score_stream import oov_monitor_stream

    train = spark.createDataFrame(
        [(i, "hash table scan join batch") for i in range(10)],
        "doc_id bigint, text string",
    )
    tok = train_tokenizer(train, num_merges=4)

    src_dir = str(tmp_path / "oovsrc")
    in_domain = [(100 + i, "hash scan join") for i in range(20)]
    foreign = [(200 + i, "xyzq wvzk qqqq") for i in range(20)]
    for rows in (in_domain, foreign):
        spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
            1
        ).write.mode("append").parquet(src_dir)

    results: list[dict] = []
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = oov_monitor_stream(
        stream,
        tok,
        checkpoint=str(tmp_path / "oovckpt"),
        out_fn=results.append,
        alarm_rate=0.05,
    )
    q.awaitTermination(180)

    assert len(results) == 2
    by_alarm = sorted(results, key=lambda r: r["oov_rate"])
    quiet, loud = by_alarm
    assert quiet["oov_rate"] == 0.0 and not quiet["alarm"]
    assert loud["oov_rate"] > 0.5 and loud["alarm"]
    assert all(r["n_docs"] == 20 for r in results)


def test_url_dedup_stream_collapses_variants(spark, tmp_path):
    """Streaming canonical-URL dedup: case/tracking/trailing-slash
    variants of the same page arriving in DIFFERENT micro-batches emit
    exactly one row per page; distinct pages all survive — and the
    result matches the batch url_dedup on the union of the batches."""
    from dataquality_ml_spark.operators.web import url_dedup
    from dataquality_ml_spark.streaming.score_stream import url_dedup_stream

    src_dir = str(tmp_path / "usrc")
    schema = "doc_id long, ts timestamp, url string"
    batch1 = [(i, "2024-01-01 10:00:00", f"https://site.org/page/{i}")
              for i in range(20)]
    batch2 = (
        [(100 + i, "2024-01-01 10:20:00",
          f"HTTP://WWW.SITE.ORG/page/{i}?utm_source=x") for i in range(10)]
        + [(200 + i, "2024-01-01 10:20:00", f"https://site.org/page/{20 + i}/")
           for i in range(5)]
    )
    for rows in (batch1, batch2):
        spark.createDataFrame(rows, "doc_id long, ts string, url string").select(
            "doc_id", F.col("ts").cast("timestamp").alias("ts"), "url"
        ).coalesce(1).write.mode("append").parquet(src_dir)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    out_dir = str(tmp_path / "uout")
    q = (
        url_dedup_stream(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "uckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir)
    # pages 0-19 from batch1 (batch2's UTM/case variants of 0-9 are dups)
    # + 5 new trailing-slash pages 20-24 = 25 distinct canonical urls
    assert got.count() == 25
    assert got.select("canon_url").distinct().count() == 25

    # matches batch semantics on the union
    allrows = spark.createDataFrame(
        batch1 + batch2, "doc_id long, ts string, url string"
    )
    assert url_dedup(allrows).count() == 25


def test_cms_monitor_stream_matches_batch_sketch(spark, tmp_path):
    """Streaming CMS must equal the batch sketch over the full corpus —
    the associative counter-sum merge across micro-batches is exact, and
    driver-side point estimates never undercount the true frequency."""
    import numpy as np

    from dataquality_ml_spark.operators.sketch import cms_build
    from dataquality_ml_spark.functions.scalar import tokens as tok_fn

    schema = "doc_id bigint, text string"
    rows1 = [(0, "alpha beta alpha"), (1, "beta gamma")]
    rows2 = [(2, "alpha delta"), (3, "gamma gamma beta")]
    in_dir = tmp_path / "cms_in"
    in_dir.mkdir()
    spark.createDataFrame(rows1, schema).coalesce(1).write.json(str(in_dir / "f1"))
    spark.createDataFrame(rows2, schema).coalesce(1).write.json(str(in_dir / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir / "*"))
    )
    q, get_sketch, estimate = ss.cms_monitor_stream(
        stream, checkpoint=str(tmp_path / "cms_ckpt"), width=64, depth=3
    )
    q.awaitTermination(120)

    # stream == batch: the accumulated matrix equals one batch build
    batch_df = spark.createDataFrame(rows1 + rows2, schema)
    toks = batch_df.select(F.explode(tok_fn(F.col("text"))).alias("token"))
    want = np.zeros((3, 64), dtype=np.int64)
    for r in cms_build(toks, "token", width=64, depth=3).collect():
        want[r["cms_depth"], r["cms_bucket"]] = r["cms_cnt"]
    got = get_sketch()
    assert (got == want).all()
    assert int(got.sum()) == 3 * 10  # 10 tokens x 3 depth rows

    # driver-side estimates: >= truth, exact here (tiny token set)
    est = estimate(["alpha", "beta", "gamma", "delta"])
    assert est == {"alpha": 3, "beta": 3, "gamma": 3, "delta": 1}


def test_hll_monitor_stream_matches_batch_sketch(spark, tmp_path):
    """Cross-batch hll_union_agg must reproduce the single-pass batch
    sketch exactly: HLL registers are per-slot maxima, so union is
    order-independent and replay-idempotent."""
    from dataquality_ml_spark.operators.sketch import hll_distinct
    from dataquality_ml_spark.functions.scalar import tokens as tok_fn

    schema = "source string, text string"
    rows1 = [("a", "alpha beta alpha"), ("b", "beta gamma")]
    rows2 = [("a", "alpha delta"), ("b", "gamma epsilon beta")]
    in_dir = tmp_path / "hll_in"
    in_dir.mkdir()
    spark.createDataFrame(rows1, schema).coalesce(1).write.json(str(in_dir / "f1"))
    spark.createDataFrame(rows2, schema).coalesce(1).write.json(str(in_dir / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir / "*"))
    )
    q, get_sketches, estimates = ss.hll_monitor_stream(
        stream, checkpoint=str(tmp_path / "hll_ckpt"), lgk=12
    )
    q.awaitTermination(120)

    est = estimates()
    # tiny cardinalities → sparse mode is exact: a={alpha,beta,delta},
    # b={beta,gamma,epsilon}
    assert {g: round(v) for g, v in est.items()} == {"a": 3, "b": 3}

    # stream == batch: merged estimates equal the one-shot batch sketch
    batch_df = spark.createDataFrame(rows1 + rows2, schema)
    toks = batch_df.select(
        "source", F.explode(tok_fn(F.col("text"))).alias("token")
    )
    want = {
        r["source"]: r["est_hll"]
        for r in hll_distinct(toks, "token", ["source"], lgk=12).collect()
    }
    assert est == want


def test_qsketch_monitor_stream_matches_batch_sketch(spark, tmp_path):
    """Streaming quantile monitor must equal the batch sketch over the
    full corpus (elementwise bin-count sum is exact), and the driver-side
    quantile read must match sketch.qsketch_quantiles on the same data."""
    import numpy as np

    from dataquality_ml_spark.operators import sketch as sk

    schema = "event_id bigint, value double"
    rows1 = [(i, float(i % 50)) for i in range(100)]
    rows2 = [(i + 100, float(i % 80) + 10.0) for i in range(100)]
    in_dir = tmp_path / "qs_in"
    in_dir.mkdir()
    spark.createDataFrame(rows1, schema).coalesce(1).write.json(str(in_dir / "f1"))
    spark.createDataFrame(rows2, schema).coalesce(1).write.json(str(in_dir / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir / "*"))
    )
    q, get_hist, quantiles = ss.qsketch_monitor_stream(
        stream,
        checkpoint=str(tmp_path / "qs_ckpt"),
        value_col="value",
        lo=0.0,
        hi=100.0,
        bins=50,
    )
    q.awaitTermination(120)

    batch_df = spark.createDataFrame(rows1 + rows2, schema)
    want = np.zeros(50, dtype=np.int64)
    for r in sk.qsketch_build(batch_df, "value", 0.0, 100.0, bins=50).collect():
        want[r["qs_bin"]] = r["qs_cnt"]
    got = get_hist()
    assert (got == want).all()
    assert int(got.sum()) == 200

    est_stream = quantiles([0.5, 0.9])
    est_batch = {
        r["q"]: r["est"]
        for r in sk.qsketch_quantiles(
            sk.qsketch_build(batch_df, "value", 0.0, 100.0, bins=50),
            [0.5, 0.9],
            0.0,
            100.0,
            bins=50,
        ).collect()
    }
    for qq in (0.5, 0.9):
        assert abs(est_stream[qq] - est_batch[qq]) < 1e-9

    # (0, 1] domain guard (round-9 ADVICE): q <= 0 would searchsorted to
    # rank 0 and divide by a possibly-empty first bin — must raise, same
    # documented domain as sketch.qsketch_quantiles
    with pytest.raises(ValueError, match=r"\(0, 1\]"):
        quantiles([0.0])
    with pytest.raises(ValueError, match=r"\(0, 1\]"):
        quantiles([1.5])


# ---------------------------------------------------------------------------
# Real-when-importable image decode (round 8, VERDICT r7 item 7)
# ---------------------------------------------------------------------------
def make_fake_pil(pixels, size):
    """A module-shaped fake PIL: Image.open returns an object whose
    convert('L')/size/__array__ yield the given grayscale pixels —
    the same injection pattern as tests/test_keras_adapter.make_fake_keras."""
    import types

    import numpy as np

    class _FakeImg:
        def __init__(self):
            self.size = size  # (w, h)
            self.converted_to = None

        def convert(self, mode):
            self.converted_to = mode
            return self

        def __array__(self, dtype=None, copy=None):
            a = np.asarray(pixels, dtype=dtype or np.uint8)
            return a

    opened = {}

    def _open(buf):
        opened["bytes"] = buf.read()
        img = _FakeImg()
        opened["img"] = img
        return img

    fake = types.SimpleNamespace(Image=types.SimpleNamespace(open=_open))
    return fake, opened


def test_decode_image_with_fake_pil_matches_contract():
    """decode_image under a fake PIL honors the decode_stub contract:
    same (w, h, 8-dim features) tuple, features computed from DECODED
    grayscale pixels, grayscale conversion requested, and the payload
    delivered to the library byte-for-byte."""
    import numpy as np

    pixels = np.arange(12, dtype=np.uint8).reshape(3, 4)  # h=3, w=4
    fake, opened = make_fake_pil(pixels, size=(4, 3))
    payload = b"\x89PNG-fake-payload"
    w, h, feats = mm.decode_image(payload, pil_module=fake)
    assert (w, h) == (4, 3)
    assert opened["bytes"] == payload
    assert opened["img"].converted_to == "L"
    flat = pixels.ravel()
    want = [
        flat.mean(), flat.std(), flat.min(), flat.max(),
        float(flat.size), 4.0, 3.0, float(flat.sum() % 997),
    ]
    assert feats.dtype == np.float32
    assert np.allclose(feats, np.array(want, dtype=np.float32))


def test_decode_image_failure_paths():
    """Empty payloads and library decode errors both surface as the
    documented NotImplementedError skip path."""
    import types

    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        mm.decode_image(b"", pil_module=object())

    def _boom(buf):
        raise OSError("cannot identify image file")

    broken = types.SimpleNamespace(Image=types.SimpleNamespace(open=_boom))
    with _pytest.raises(NotImplementedError):
        mm.decode_image(b"not-an-image", pil_module=broken)


def test_decode_features_auto_falls_back_to_stub_here(spark):
    """In this container (no PIL) decoder='auto' must produce EXACTLY the
    stub output — the fallback changes nothing; decoder='pil' fails
    loudly at execution because the executor cannot import PIL."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, bytearray(b"abcdefgh")), (2, bytearray(b"")), (3, None)],
        "doc_id long, payload binary",
    )
    auto = sorted(
        (r["id"], r["width"], r["height"], tuple(r["features"]))
        for r in mm.decode_features(df, "payload", "doc_id", decoder="auto").collect()
    )
    stub = sorted(
        (r["id"], r["width"], r["height"], tuple(r["features"]))
        for r in mm.decode_features(df, "payload", "doc_id", decoder="stub").collect()
    )
    assert auto == stub and len(auto) == 1  # empty/null payloads skipped

    try:
        import PIL  # noqa: F401

        _pytest.skip("PIL unexpectedly present; forced-pil path not testable")
    except ImportError:
        pass
    with _pytest.raises(Exception):
        mm.decode_features(df, "payload", "doc_id", decoder="pil").collect()


def test_drift_monitor_stream_matches_batch_statistics(spark, tmp_path):
    """Per-batch streaming drift panel == the batch binned operators on
    the same frozen quantizer: psi == psi_bins total, ks_d ==
    ks_statistic(bins=...), cvm_t == cvm_statistic(bins=...) for each
    micro-batch vs the frozen reference."""
    import numpy as np

    from dataquality_ml_spark.operators import drift as dr
    from dataquality_ml_spark.operators import sketch as sk

    schema = "event_id bigint, value double"
    ref_rows = [(i, float((i * 7) % 50)) for i in range(300)]
    b1 = [(i, float(i % 50)) for i in range(120)]          # same range
    b2 = [(i + 200, float(i % 30) + 40.0) for i in range(150)]  # shifted
    in_dir = tmp_path / "dm_in"
    in_dir.mkdir()
    spark.createDataFrame(b1, schema).coalesce(1).write.json(str(in_dir / "f1"))
    spark.createDataFrame(b2, schema).coalesce(1).write.json(str(in_dir / "f2"))

    ref_df = spark.createDataFrame(ref_rows, schema)
    ref_hist = np.zeros(25, dtype=np.int64)
    for r in sk.qsketch_build(ref_df, "value", 0.0, 100.0, bins=25).collect():
        ref_hist[r["qs_bin"]] = r["qs_cnt"]

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir / "*"))
    )
    q, reports = ss.drift_monitor_stream(
        stream,
        checkpoint=str(tmp_path / "dm_ckpt"),
        ref_hist=ref_hist,
        value_col="value",
        lo=0.0,
        hi=100.0,
    )
    q.awaitTermination(120)
    assert len(reports) == 2
    # batches may arrive in either file order: match on batch size
    by_n = {r["n"]: r for r in reports}
    for rows in (b1, b2):
        rep = by_n[len(rows)]
        cur_df = spark.createDataFrame(rows, schema)
        want_psi = (
            dr.psi_bins(ref_df, cur_df, "value", lo=0.0, hi=100.0, bins=25)
            .select("psi_total")
            .first()[0]
        )
        want_ks = dr.ks_statistic(
            ref_df, cur_df, "value", bins=25, lo=0.0, hi=100.0
        ).first()["ks_d"]
        want_cvm = dr.cvm_statistic(
            ref_df, cur_df, "value", bins=25, lo=0.0, hi=100.0
        ).first()["cvm_t"]
        assert abs(rep["psi"] - want_psi) < 1e-12
        assert abs(rep["ks_d"] - want_ks) < 1e-12
        assert abs(rep["cvm_t"] - want_cvm) < 1e-12
    # the shifted batch must alarm much harder than the in-range one
    assert by_n[150]["psi"] > 5 * by_n[120]["psi"]


def test_drift_monitor_replay_equals_live_stream(spark, tmp_path):
    """drift_monitor_replay (the registered face, round 11) must emit the
    EXACT reports a live drift_monitor_stream produces when the same
    slices arrive as real micro-batches — the fold is shared verbatim, so
    any divergence means the replay driver sliced or ordered wrong."""
    import numpy as np

    from dataquality_ml_spark.operators import sketch as sk

    schema = "event_id bigint, value double"
    ref_df = spark.createDataFrame(
        [(i, float((i * 7) % 50)) for i in range(300)], schema
    )
    ref_hist = np.zeros(25, dtype=np.int64)
    for r in sk.qsketch_build(ref_df, "value", 0.0, 100.0, bins=25).collect():
        ref_hist[r["qs_bin"]] = r["qs_cnt"]

    b1 = [(i, float(i % 50)) for i in range(120)]
    b2 = [(i + 200, float(i % 30) + 40.0) for i in range(150)]
    in_dir = tmp_path / "rp_in"
    in_dir.mkdir()
    spark.createDataFrame(b1, schema).coalesce(1).write.json(str(in_dir / "f1"))
    spark.createDataFrame(b2, schema).coalesce(1).write.json(str(in_dir / "f2"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir / "*"))
    )
    q, live = ss.drift_monitor_stream(
        stream, checkpoint=str(tmp_path / "rp_ckpt"), ref_hist=ref_hist,
        value_col="value", lo=0.0, hi=100.0,
    )
    q.awaitTermination(120)
    assert len(live) == 2

    static = spark.createDataFrame(
        [(i, v, 0) for i, v in b1] + [(i, v, 1) for i, v in b2],
        "event_id bigint, value double, batch int",
    )
    got = {
        r["n"]: r
        for r in ss.drift_monitor_replay(
            static, "batch", ref_hist, "value", 0.0, 100.0
        ).collect()
    }
    assert set(got) == {120, 150}
    for rep in live:  # live batch order is nondeterministic: match on n
        g = got[rep["n"]]
        for s in ("psi", "ks_d", "cvm_t"):
            # same fold, same numpy ops on identical integer histograms
            assert g[s] == rep[s], s


def test_drift_panel_replay_equals_live_stream(spark, tmp_path):
    """Keyed replay face == live drift_panel_stream on the same slices:
    the per-segment fold is shared verbatim, so every (segment, stat)
    must match bit-for-bit, including new_segment rows."""
    import numpy as np

    from dataquality_ml_spark.operators import sketch as sk

    schema = "event_id bigint, seg string, value double"
    ref_df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float((i * 7) % 50)) for i in range(300)],
        schema,
    )
    hists: dict = {}
    for r in sk.qsketch_build(
        ref_df, "value", 0.0, 100.0, bins=25, group_cols=["seg"]
    ).collect():
        hists.setdefault(r["seg"], np.zeros(25, dtype=np.int64))[r["qs_bin"]] = r["qs_cnt"]

    b1 = [(i, "a" if i % 2 else "b", float(i % 50)) for i in range(120)]
    b2 = [(i + 200, "a" if i % 3 else "zz_new", float(i % 30) + 40.0) for i in range(90)]
    in_dir = tmp_path / "kp_in"
    in_dir.mkdir()
    spark.createDataFrame(b1, schema).coalesce(1).write.json(str(in_dir / "f1"))
    spark.createDataFrame(b2, schema).coalesce(1).write.json(str(in_dir / "f2"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir / "*"))
    )
    q, live = ss.drift_panel_stream(
        stream, checkpoint=str(tmp_path / "kp_ckpt"), ref_hists=hists,
        value_col="value", key_col="seg", lo=0.0, hi=100.0,
    )
    q.awaitTermination(120)

    static = spark.createDataFrame(
        [(i, s, v, 0) for i, s, v in b1] + [(i, s, v, 1) for i, s, v in b2],
        "event_id bigint, seg string, value double, batch int",
    )
    # live batch order is nondeterministic (file pickup order), so compare
    # the full (key, stats) multisets ignoring batch_id — the fold is
    # shared, so every segment row must match bit-for-bit
    def sig(rows):
        return sorted(
            (
                r["key"], r["new_segment"], r["n"],
                r["psi"], r["ks_d"], r["cvm_t"], r["ad_a2"],
            )
            for r in rows
        )

    got = ss.drift_panel_replay(
        static, "batch", hists, "value", "seg", 0.0, 100.0
    ).collect()
    live_rows = [r for r in live if "key" in r]
    assert len(live_rows) == len(got) > 0
    assert sig(got) == sig(live_rows)
    # the unseen segment surfaced as drift
    assert any(r["new_segment"] and r["key"] == "zz_new" for r in live_rows)


def test_drift_monitor_stream_checkpoint_restart(spark, tmp_path):
    """Kill-and-restart differential (round 9, VERDICT r8 item 5): a
    drift monitor restarted from its checkpoint must NOT re-report (or
    re-count) batches the first run already processed, and the batches
    only the second run sees must score exactly what the batch operators
    give — i.e. restart introduces no double-count and no undercount."""
    import numpy as np

    from dataquality_ml_spark.operators import drift as dr
    from dataquality_ml_spark.operators import sketch as sk

    schema = "event_id bigint, value double"
    ref_rows = [(i, float((i * 7) % 50)) for i in range(300)]
    b1 = [(i, float(i % 50)) for i in range(110)]
    b2 = [(i + 500, float(i % 25) + 60.0) for i in range(130)]
    in_dir = tmp_path / "dmr_in"
    in_dir.mkdir()
    spark.createDataFrame(b1, schema).coalesce(1).write.json(str(in_dir / "f1"))

    ref_df = spark.createDataFrame(ref_rows, schema)
    ref_hist = np.zeros(20, dtype=np.int64)
    for r in sk.qsketch_build(ref_df, "value", 0.0, 100.0, bins=20).collect():
        ref_hist[r["qs_bin"]] = r["qs_cnt"]

    def _run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir / "*"))
        )
        q, reports = ss.drift_monitor_stream(
            stream,
            checkpoint=str(tmp_path / "dmr_ckpt"),
            ref_hist=ref_hist,
            value_col="value",
            lo=0.0,
            hi=100.0,
        )
        q.awaitTermination(120)
        q.stop()
        return reports

    first = _run()  # run 1: sees only f1, then the query stops (kill)
    assert [r["n"] for r in first] == [len(b1)]

    spark.createDataFrame(b2, schema).coalesce(1).write.json(str(in_dir / "f2"))
    second = _run()  # restart from the same checkpoint

    # no double-count: f1's batch is checkpoint-committed, so the restart
    # reports ONLY f2; no undercount: f2's panel == the batch operators
    assert [r["n"] for r in second] == [len(b2)]
    cur_df = spark.createDataFrame(b2, schema)
    want_psi = (
        dr.psi_bins(ref_df, cur_df, "value", lo=0.0, hi=100.0, bins=20)
        .select("psi_total")
        .first()[0]
    )
    want_ks = dr.ks_statistic(
        ref_df, cur_df, "value", bins=20, lo=0.0, hi=100.0
    ).first()["ks_d"]
    want_cvm = dr.cvm_statistic(
        ref_df, cur_df, "value", bins=20, lo=0.0, hi=100.0
    ).first()["cvm_t"]
    assert abs(second[0]["psi"] - want_psi) < 1e-12
    assert abs(second[0]["ks_d"] - want_ks) < 1e-12
    assert abs(second[0]["cvm_t"] - want_cvm) < 1e-12


# ---------------------------------------------------------------------------
# Real-when-importable video demux (round 9, VERDICT r8 item 8)
# ---------------------------------------------------------------------------
def make_fake_av(frame_arrays):
    """A module-shaped fake PyAV: av.open returns a container whose
    decode(video=0) yields frame objects with to_ndarray(format='gray')
    — the make_fake_pil injection pattern for the video twin."""
    import types

    import numpy as np

    opened = {}

    class _FakeFrame:
        def __init__(self, arr):
            self._arr = arr

        def to_ndarray(self, format=None):
            opened.setdefault("formats", []).append(format)
            return np.asarray(self._arr, dtype=np.uint8)

    class _FakeContainer:
        def decode(self, video=None):
            opened["video_stream"] = video
            return iter(_FakeFrame(a) for a in frame_arrays)

    def _open(buf):
        opened["bytes"] = buf.read()
        return _FakeContainer()

    return types.SimpleNamespace(open=_open), opened


def test_demux_frames_with_fake_av_matches_contract():
    """demux_frames under a fake PyAV honors the frame_stub contract:
    list[bytes] of grayscale pixel buffers, payload delivered
    byte-for-byte, video stream 0 decoded, 'gray' format requested."""
    import numpy as np

    f1 = np.arange(8, dtype=np.uint8).reshape(2, 4)
    f2 = (np.arange(8, dtype=np.uint8) + 100).reshape(2, 4)
    fake, opened = make_fake_av([f1, f2])
    payload = b"\x00\x00\x00\x18ftypfake-mp4-payload"
    frames = mm.demux_frames(payload, av_module=fake)
    assert frames == [f1.tobytes(), f2.tobytes()]
    assert opened["bytes"] == payload
    assert opened["video_stream"] == 0
    assert set(opened["formats"]) == {"gray"}


def test_demux_frames_failure_paths():
    """Empty payloads, library demux errors, and frameless containers all
    surface as the documented NotImplementedError skip path — the stub
    contract is unchanged when the library is absent."""
    import types

    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        mm.demux_frames(b"", av_module=object())

    def _boom(buf):
        raise OSError("moov atom not found")

    broken = types.SimpleNamespace(open=_boom)
    with _pytest.raises(NotImplementedError, match="not demuxable"):
        mm.demux_frames(b"corrupt-bytes", av_module=broken)

    empty, _ = make_fake_av([])
    with _pytest.raises(NotImplementedError, match="no video frames"):
        mm.demux_frames(b"header-only", av_module=empty)


def test_sample_frames_auto_falls_back_and_av_fails_loudly(spark):
    """In this container (no PyAV) sample_frames(demuxer='auto') must
    equal the stub path exactly, demuxer='av' must fail loudly, and
    demuxer must be validated — mirroring decode_features' auto|pil|stub
    contract."""
    import pytest as _pytest

    rows = [(1, b"0123456789abcdef" * 3), (2, b"xy" * 20), (3, b"")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    with _pytest.raises(ValueError, match="auto\\|av\\|stub"):
        mm.sample_frames(df, "payload", "doc_id", demuxer="ffmpeg")

    auto = sorted(
        tuple(r) for r in mm.sample_frames(df, "payload", "doc_id", demuxer="auto").collect()
    )
    stub = sorted(
        tuple(r) for r in mm.sample_frames(df, "payload", "doc_id", demuxer="stub").collect()
    )
    assert auto == stub and len(auto) > 0
    assert all(rid != 3 for rid, *_ in auto)  # empty payload skipped

    try:
        import av  # noqa: F401

        _pytest.skip("PyAV unexpectedly present; forced-av path not testable")
    except ImportError:
        pass
    with _pytest.raises(Exception):
        mm.sample_frames(df, "payload", "doc_id", demuxer="av").collect()


# ---------------------------------------------------------------------------
# Real-when-importable audio decode (round 9 — the last media stub closed)
# ---------------------------------------------------------------------------
def make_fake_soundfile(data, rate):
    """A module-shaped fake soundfile: read(buf) returns (data, rate) —
    the make_fake_pil / make_fake_av injection pattern for audio."""
    import types

    opened = {}

    def _read(buf):
        opened["bytes"] = buf.read()
        return data, rate

    return types.SimpleNamespace(read=_read), opened


def test_decode_audio_with_fake_soundfile_matches_contract():
    """decode_audio under a fake soundfile honors the audio_stub contract:
    (sample_rate, n_samples, mono float waveform), multi-channel data
    mono-mixed, payload delivered byte-for-byte, and the shared 8-dim
    descriptor computed from the DECODED waveform."""
    import numpy as np

    stereo = np.array([[0.5, -0.5], [1.0, 0.0], [-1.0, 0.0], [0.25, 0.75]])
    fake, opened = make_fake_soundfile(stereo, 16000)
    payload = b"RIFF-fake-wav-payload"
    rate, n, wave = mm.decode_audio(payload, sf_module=fake)
    assert (rate, n) == (16000, 4)
    assert opened["bytes"] == payload
    want_mono = stereo.mean(axis=1)
    assert np.allclose(wave, want_mono)
    feats = mm._audio_features(rate, wave)
    assert feats.dtype == np.float32 and len(feats) == 8
    assert abs(feats[6] - 16000.0) < 1e-6  # sample rate slot
    assert abs(feats[7] - 4 / 16000.0) < 1e-9  # duration slot


def test_decode_audio_failure_paths():
    """Empty payloads, library errors, and zero-sample reads all surface
    as the documented NotImplementedError skip path."""
    import types

    import numpy as np
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        mm.decode_audio(b"", sf_module=object())

    def _boom(buf):
        raise RuntimeError("Format not recognised")

    with _pytest.raises(NotImplementedError, match="not decodable"):
        mm.decode_audio(b"junk", sf_module=types.SimpleNamespace(read=_boom))

    empty, _ = make_fake_soundfile(np.zeros((0,)), 44100)
    with _pytest.raises(NotImplementedError, match="no audio samples"):
        mm.decode_audio(b"hdr", sf_module=empty)


def test_audio_features_auto_falls_back_and_soundfile_fails_loudly(spark):
    """In this container (no soundfile) audio_features(decoder='auto')
    must equal the stub path exactly; decoder='soundfile' must fail
    loudly; decoder is validated; empty payloads are skipped."""
    import pytest as _pytest

    rows = [(1, bytes(range(64))), (2, b"\x10\xf0" * 30), (3, b"")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    with _pytest.raises(ValueError, match="auto\\|soundfile\\|stub"):
        mm.audio_features(df, "payload", "doc_id", decoder="librosa")

    auto = sorted(tuple(r) for r in mm.audio_features(df, "payload", "doc_id").collect())
    stub = sorted(
        tuple(r)
        for r in mm.audio_features(df, "payload", "doc_id", decoder="stub").collect()
    )
    assert auto == stub and len(auto) == 2
    ids = [r[0] for r in auto]
    assert ids == [1, 2]  # empty payload skipped
    for r in auto:
        assert len(r[4]) == 8
        assert r[3] == _pytest.approx(r[2] / r[1])  # duration == n/rate

    try:
        import soundfile  # noqa: F401

        _pytest.skip("soundfile unexpectedly present; forced path not testable")
    except ImportError:
        pass
    with _pytest.raises(Exception):
        mm.audio_features(df, "payload", "doc_id", decoder="soundfile").collect()


def test_drift_panel_stream_per_segment_matches_batch(spark, tmp_path):
    """Streaming per-segment drift panel == the batch binned operators
    per segment and per micro-batch (the streaming face of the keyed
    drift_panel): known segments score PSI/KS/CvM vs their frozen
    reference histograms; a segment absent from the reference reports
    new_segment=True with NULL stats; the max_segments cap records how
    many unseen segments were dropped."""
    import numpy as np

    from dataquality_ml_spark.operators import drift as dr
    from dataquality_ml_spark.operators import sketch as sk

    schema = "event_id bigint, g string, value double"
    ref_rows = [(i, "a", float(i % 40)) for i in range(200)] + [
        (i + 1000, "b", float((i * 3) % 60) + 20.0) for i in range(150)
    ]
    b1 = (
        [(i, "a", float(i % 40)) for i in range(80)]
        + [(i + 500, "b", float(i % 20) + 70.0) for i in range(60)]  # b drifts
        + [(i + 900, "zz_new", float(i % 10)) for i in range(30)]  # unseen
        + [(i + 2000, "zz2", float(i % 5)) for i in range(10)]  # unseen, smaller
    )
    in_dir = tmp_path / "dps_in"
    in_dir.mkdir()
    spark.createDataFrame(b1, schema).coalesce(1).write.json(str(in_dir / "f1"))

    ref_df = spark.createDataFrame(ref_rows, schema)
    refs = {}
    for r in sk.qsketch_build(
        ref_df, "value", 0.0, 100.0, bins=20, group_cols=["g"]
    ).collect():
        refs.setdefault(r["g"], np.zeros(20, dtype=np.int64))[r["qs_bin"]] = r["qs_cnt"]

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir / "*"))
    )
    q, reports = ss.drift_panel_stream(
        stream,
        checkpoint=str(tmp_path / "dps_ckpt"),
        ref_hists=refs,
        value_col="value",
        key_col="g",
        lo=0.0,
        hi=100.0,
        max_segments=1,  # force the cap onto one of the two unseen segments
    )
    q.awaitTermination(120)

    by_key = {r["key"]: r for r in reports if "key" in r}
    assert set(by_key) == {"a", "b", "zz_new"}  # zz2 dropped by the cap
    drop = [r for r in reports if "dropped_segments" in r]
    assert drop and drop[0]["dropped_segments"] == 1
    assert by_key["zz_new"]["new_segment"] and by_key["zz_new"]["n"] == 30
    assert by_key["zz_new"]["psi"] is None

    batch_df = spark.createDataFrame(b1, schema)
    for g in ("a", "b"):
        rs = ref_df.where(F.col("g") == g)
        cs = batch_df.where(F.col("g") == g)
        want_psi = (
            dr.psi_bins(rs, cs, "value", lo=0.0, hi=100.0, bins=20)
            .select("psi_total").first()[0]
        )
        want_ks = dr.ks_statistic(rs, cs, "value", bins=20, lo=0.0, hi=100.0).first()["ks_d"]
        want_cvm = dr.cvm_statistic(rs, cs, "value", bins=20, lo=0.0, hi=100.0).first()["cvm_t"]
        want_ad = dr.anderson_darling(
            rs, cs, "value", bins=20, lo=0.0, hi=100.0
        ).first()["ad_a2"]
        rep = by_key[g]
        assert abs(rep["psi"] - want_psi) < 1e-12, g
        assert abs(rep["ks_d"] - want_ks) < 1e-12, g
        assert abs(rep["cvm_t"] - want_cvm) < 1e-12, g
        # round 10 (VERDICT r9 item 6): AD joins the streaming panel —
        # binned float formula, so allow agg-order float noise
        assert abs(rep["ad_a2"] - want_ad) < 1e-9 * max(abs(want_ad), 1.0), g
        assert not rep["new_segment"]
    # the drifted segment alarms much harder than the stable one
    assert by_key["b"]["psi"] > 5 * by_key["a"]["psi"]

    # mismatched reference bins lengths must be rejected up front
    import pytest as _pytest

    bad = {"a": np.zeros(20, dtype=np.int64), "b": np.zeros(10, dtype=np.int64)}
    with _pytest.raises(ValueError, match="one bins length"):
        ss.drift_panel_stream(stream, str(tmp_path / "x"), bad)


def test_categorical_drift_stream_matches_batch(spark, tmp_path):
    """Streaming categorical drift == the batch categorical_drift_report
    per column and per micro-batch: PSI/JSD/chi2 vs frozen reference
    category counts, union-of-categories semantics (batch-only and
    reference-only categories both score), NULL categories real, the
    max_categories cap degrades loudly, and replays are idempotent."""
    from dataquality_ml_spark.operators.drift import categorical_drift_report

    schema = "event_id bigint, lang string, source string"
    ref_rows = (
        [(i, "en", "web") for i in range(120)]
        + [(i + 500, "fr", "web") for i in range(60)]
        + [(i + 800, None, "pdf") for i in range(20)]
    )
    cur_rows = (
        [(i, "en", "web") for i in range(50)]
        + [(i + 500, "de", "pdf") for i in range(40)]  # de unseen in ref
        + [(i + 900, None, "web") for i in range(10)]
    )
    ref_df = spark.createDataFrame(ref_rows, schema)
    refs = {}
    for c in ("lang", "source"):
        refs[c] = {
            r[c]: r["n"]
            for r in ref_df.groupBy(c).agg(F.count(F.lit(1)).alias("n")).collect()
        }

    in_dir = tmp_path / "cds_in"
    in_dir.mkdir()
    spark.createDataFrame(cur_rows, schema).coalesce(1).write.json(
        str(in_dir / "f1")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir / "*"))
    )
    q, reports = ss.categorical_drift_stream(
        stream,
        checkpoint=str(tmp_path / "cds_ckpt"),
        ref_counts=refs,
        columns=["lang", "source"],
    )
    q.awaitTermination(120)

    got = {r["column"]: r for r in reports}
    assert set(got) == {"lang", "source"}
    cur_df = spark.createDataFrame(cur_rows, schema)
    want = {
        r["column"]: r
        for r in categorical_drift_report(ref_df, cur_df, ["lang", "source"]).collect()
    }
    for c in ("lang", "source"):
        assert abs(got[c]["psi"] - want[c]["psi"]) < 1e-9, c
        assert abs(got[c]["jsd"] - want[c]["jsd"]) < 1e-9, c
        assert abs(got[c]["chi2"] - want[c]["chi2"]) < 1e-9 * max(want[c]["chi2"], 1.0), c
        assert got[c]["n"] == want[c]["n_b"]
        assert got[c]["dropped_categories"] == 0

    # missing reference → loud
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no reference counts"):
        ss.categorical_drift_stream(
            stream, str(tmp_path / "x"), {"lang": refs["lang"]}, ["lang", "source"]
        )


def test_replay_batch_cardinality_guard(spark):
    """A high-cardinality batch column must FAIL LOUDLY: the replay
    drivers run the fold once per batch driver-side, so unbounded batch
    counts are a contract violation, not a slow surprise."""
    import numpy as np

    ss.MAX_REPLAY_BATCHES  # the knob exists and is documented
    df = spark.range(50).select(
        F.col("id").alias("event_id"),
        (F.col("id") * 1.0).alias("value"),
        F.col("id").alias("batch"),  # one batch per row
    )
    import unittest.mock as mock

    with mock.patch.object(ss, "MAX_REPLAY_BATCHES", 10):
        with pytest.raises(ValueError, match="distinct values"):
            ss.drift_monitor_replay(
                df, "batch", np.ones(8, dtype=np.int64), "value", 0.0, 50.0
            )


def test_cusum_monitor_replay_equals_live_stream(spark, tmp_path):
    """cusum_monitor_replay (the registered face, round 12) must emit
    the EXACT reports a live cusum_monitor_stream produces over the same
    slices IN THE SAME ORDER — CUSUM is stateful across batches, so the
    static frame's batch ids are aligned to the live arrival order
    (identified by batch size) before comparing."""
    schema = "event_id bigint, value double"
    b1 = [(i, 10.0 + (i % 5)) for i in range(120)]          # mean 12
    b2 = [(i + 200, 16.0 + (i % 5)) for i in range(150)]    # mean 18: shift up
    in_dir = tmp_path / "cs_in"
    in_dir.mkdir()
    spark.createDataFrame(b1, schema).coalesce(1).write.json(str(in_dir / "f1"))
    spark.createDataFrame(b2, schema).coalesce(1).write.json(str(in_dir / "f2"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir / "*"))
    )
    q, live = ss.cusum_monitor_stream(
        stream, checkpoint=str(tmp_path / "cs_ckpt"),
        mu0=12.0, value_col="value", slack=0.5, h=3.0,
    )
    q.awaitTermination(120)
    assert len(live) == 2

    # align replay batch order to the live arrival order via batch size
    order = {rep["n"]: i for i, rep in enumerate(live)}
    static = spark.createDataFrame(
        [(i, v, order[120]) for i, v in b1]
        + [(i, v, order[150]) for i, v in b2],
        "event_id bigint, value double, batch int",
    )
    got = ss.cusum_monitor_replay(
        static, "batch", 12.0, "value", slack=0.5, h=3.0
    ).collect()
    assert len(got) == 2
    for rep, g in zip(live, sorted(got, key=lambda r: r["batch_id"])):
        for s in ("n", "mean", "splus", "sminus", "alarm"):
            assert g[s] == rep[s], s
    # Page semantics sanity: if the shifted batch arrived second, the
    # upper CUSUM accumulates (x̄−μ0−k) = 5.5 there and alarms at h=3
    by_mean = {round(r["mean"]): r for r in live}
    assert by_mean[18]["alarm"] == 1
    assert by_mean[12]["splus"] == pytest.approx(
        max(0.0, 12.0 - 12.0 - 0.5), abs=1e-12
    ) or by_mean[12]["splus"] >= 0.0


def test_cusum_fold_textbook_recursion(spark):
    """The fold's prefix-sum identity == the direct Page recursion on a
    hand series, including the reset-at-zero behavior and both sides."""
    mu0, k, h = 10.0, 0.5, 2.0
    means = [10.0, 12.0, 9.0, 9.0, 6.0, 11.0]
    fn, reports = ss._cusum_monitor_fold(mu0, "v", k, h)
    for i, m in enumerate(means):
        fn(spark.createDataFrame([(m,)] * 4, "v double"), i)
    sp = sm = 0.0
    for i, m in enumerate(means):
        sp = max(0.0, sp + (m - mu0 - k))
        sm = max(0.0, sm - (m - mu0 + k))
        assert reports[i]["splus"] == pytest.approx(sp, abs=1e-12), i
        assert reports[i]["sminus"] == pytest.approx(sm, abs=1e-12), i
        assert reports[i]["alarm"] == int(sp > h or sm > h)
    # batch_id idempotence: a replayed batch id is a no-op
    n_before = len(reports)
    fn(spark.createDataFrame([(99.0,)], "v double"), 0)
    assert len(reports) == n_before


def test_ewma_monitor_replay_equals_live_stream(spark, tmp_path):
    """ewma_monitor_replay (the registered face, round 13) must emit the
    EXACT reports a live ewma_monitor_stream produces over the same
    slices in the same order — EWMA is stateful (z and the batch index
    drive the limits), so batch ids are aligned by batch size."""
    schema = "event_id bigint, value double"
    b1 = [(i, 10.0 + (i % 5)) for i in range(120)]          # mean 12
    b2 = [(i + 200, 16.0 + (i % 5)) for i in range(150)]    # mean 18
    in_dir = tmp_path / "ew_in"
    in_dir.mkdir()
    spark.createDataFrame(b1, schema).coalesce(1).write.json(str(in_dir / "f1"))
    spark.createDataFrame(b2, schema).coalesce(1).write.json(str(in_dir / "f2"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir / "*"))
    )
    q, live = ss.ewma_monitor_stream(
        stream, checkpoint=str(tmp_path / "ew_ckpt"),
        mu0=12.0, sigma0=1.0, value_col="value", lam=0.5, nsigma=3.0,
    )
    q.awaitTermination(120)
    assert len(live) == 2

    order = {rep["n"]: i for i, rep in enumerate(live)}
    static = spark.createDataFrame(
        [(i, v, order[120]) for i, v in b1]
        + [(i, v, order[150]) for i, v in b2],
        "event_id bigint, value double, batch int",
    )
    got = ss.ewma_monitor_replay(
        static, "batch", 12.0, 1.0, "value", lam=0.5, nsigma=3.0
    ).collect()
    assert len(got) == 2
    for rep, g in zip(live, sorted(got, key=lambda r: r["batch_id"])):
        for s in ("n", "mean", "ewma", "lcl", "ucl", "ooc"):
            assert g[s] == rep[s], s
    # chart semantics: whichever batch carried mean 18 pushes z at least
    # halfway toward it (lam=0.5) and must be out of control vs sigma0=1
    by_mean = {round(r["mean"]): r for r in live}
    assert by_mean[18]["ooc"] == 1
    # fold idempotence: re-feeding a seen batch id is a no-op
    fn, reports = ss._ewma_monitor_fold(12.0, 1.0, "v", 0.5, 3.0)
    fn(spark.createDataFrame([(13.0,)], "v double"), 0)
    n_before = len(reports)
    fn(spark.createDataFrame([(99.0,)], "v double"), 0)
    assert len(reports) == n_before


def test_drift_monitor_replay_zero_reference_reports_null_stats(spark):
    """An all-zero reference histogram holds no distribution to compare
    against: each batch reports its count with NULL statistics, as the
    keyed panel does for an empty segment, instead of raising inside the
    micro-batch."""
    import numpy as np

    df = spark.createDataFrame(
        [(i, float(i % 10), i % 2) for i in range(40)],
        "event_id bigint, value double, batch int",
    )
    got = ss.drift_monitor_replay(
        df, "batch", np.zeros(5, dtype=np.int64), "value", 0.0, 10.0
    ).collect()
    assert [tuple(r) for r in got] == [
        (0, 20, None, None, None),
        (1, 20, None, None, None),
    ]
