"""Structured-Streaming analogs of topic()/daemon(): incremental delivery
with checkpointed resume."""

from __future__ import annotations

import os

from apache___solr_spark.streaming import daemon_batch, topic_stream


def _write_batch(spark, path, start, n):
    spark.range(start, start + n).toDF("id").write.mode("append").parquet(path)


def test_topic_checkpoint_resume(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink: list[int] = []

    def collect_batch(df, epoch_id):
        sink.extend(r["id"] for r in df.collect())

    _write_batch(spark, src, 0, 5)
    stream = topic_stream(spark, src, "id long", ckpt)
    daemon_batch(stream, ckpt, collect_batch)
    assert sorted(sink) == list(range(5))

    # new data arrives; a second daemon run delivers ONLY the delta
    sink.clear()
    _write_batch(spark, src, 100, 3)
    stream = topic_stream(spark, src, "id long", ckpt)
    daemon_batch(stream, ckpt, collect_batch)
    assert sorted(sink) == [100, 101, 102]
    assert os.path.exists(os.path.join(ckpt, "offsets"))


def test_streaming_incremental_index_equals_batch_build(spark, tmp_path):
    """Two streamed micro-batches indexed via index_topic (readStream ->
    foreachBatch -> add_docs segments) followed by optimize() must score
    identically (per url) to ONE batch build over the union corpus — the
    streaming extension of the add_docs equivalence (TopicStream ->
    /update parity, solrj-streaming/.../stream/TopicStream.java:74-110)."""
    import pyarrow as pa
    import pyarrow.parquet as paq

    from apache___solr_spark.config import IndexConfig
    from apache___solr_spark.corpus import generate_pages
    from apache___solr_spark.index.builder import build_index
    from apache___solr_spark.index.updates import optimize
    from apache___solr_spark.query.engine import SearchEngine
    from apache___solr_spark.streaming import index_topic

    cfg = IndexConfig(salt_range=128, n_buckets=8)
    base_tbl = generate_pages(120, seed=42)
    base_path = str(tmp_path / "base.parquet")
    paq.write_table(base_tbl, base_path)
    idx = str(tmp_path / "idx")
    build_index(spark, base_path, idx, cfg=cfg)

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    src = str(tmp_path / "topic_src")
    os.makedirs(src)
    ckpt = str(tmp_path / "topic_ckpt")

    def _batch(tag: str, texts: list[str]) -> list[dict]:
        return [
            {"url": f"zzs-{tag}-{i}", "warc_ts": None, "html": None,
             "text": t, "lang": "en"}
            for i, t in enumerate(texts)
        ]

    b1 = _batch("a", ["web data streamed page", "qqstreamuniq web merge"])
    b2 = _batch("b", ["data qqstreamuniq", "web web data page site"])
    paq.write_table(
        pa.Table.from_pylist(b1, schema=base_tbl.schema), src + "/b1.parquet"
    )
    index_topic(spark, src, schema, ckpt, idx, cfg=cfg)
    paq.write_table(
        pa.Table.from_pylist(b2, schema=base_tbl.schema), src + "/b2.parquet"
    )
    index_topic(spark, src, schema, ckpt, idx, cfg=cfg)  # delivers ONLY b2
    optimize(spark, idx, cfg=cfg)

    union_rows = base_tbl.to_pylist() + b1 + b2
    fresh_pages = str(tmp_path / "fresh.parquet")
    paq.write_table(
        pa.Table.from_pylist(union_rows, schema=base_tbl.schema), fresh_pages
    )
    fresh_idx = str(tmp_path / "fresh_idx")
    build_index(spark, fresh_pages, fresh_idx, cfg=cfg)

    stream_eng = SearchEngine(spark, idx, cfg=cfg)
    fresh_eng = SearchEngine(spark, fresh_idx, cfg=cfg)
    for q in ("web", "qqstreamuniq", "web AND data", '"web data"'):
        a = {
            (r["url"], round(r["score"], 5))
            for r in stream_eng.search(q, k=200, prune=False).collect()
        }
        b = {
            (r["url"], round(r["score"], 5))
            for r in fresh_eng.search(q, k=200, prune=False).collect()
        }
        assert a == b, q


def _drain_windows(spark, tmp_path, tag, batches, build):
    """Write batches of (ts, user_id) rows as files arriving in order,
    draining the windowed stream after each arrival; returns all emitted
    (append-mode finalized) rows across drains."""
    import os

    from apache___solr_spark.streaming import daemon_batch, topic_stream

    src = str(tmp_path / f"{tag}_src")
    ckpt = str(tmp_path / f"{tag}_ckpt")
    os.makedirs(src, exist_ok=True)
    emitted = []

    def collect(df, _epoch):
        emitted.extend(df.collect())

    for i, rows in enumerate(batches):
        spark.createDataFrame(
            rows, "ts timestamp, user_id long"
        ).coalesce(1).write.mode("append").parquet(src)
        stream = topic_stream(spark, src, "ts timestamp, user_id long", ckpt)
        daemon_batch(build(stream), ckpt, collect)
    return emitted


def test_windowed_agg_watermark_drops_late(spark, tmp_path):
    """Tumbling event-time windows: rows later than the watermark are
    dropped; windows emit once (append mode) when the watermark passes."""
    from datetime import datetime as dt

    from apache___solr_spark.streaming import windowed_agg

    b1 = [
        (dt(2026, 1, 1, 10, 0, 30), 1),
        (dt(2026, 1, 1, 10, 1, 0), 2),
        (dt(2026, 1, 1, 10, 9, 0), 1),
        (dt(2026, 1, 1, 10, 30, 0), 3),  # advances watermark to 10:25
    ]
    # late arrival for the already-closed [10:00, 10:10) window -> dropped
    b2 = [
        (dt(2026, 1, 1, 10, 5, 0), 9),   # LATE (before wm 10:25): dropped
        (dt(2026, 1, 1, 10, 31, 0), 3),
        (dt(2026, 1, 1, 11, 0, 0), 4),   # advances wm past [10:30, 10:40)
    ]
    got = _drain_windows(
        spark,
        tmp_path,
        "w",
        [b1, b2],
        lambda s: windowed_agg(s, "ts", "10 minutes", watermark="5 minutes"),
    )
    by_win = {
        (str(r["window_start"]), r["n"]) for r in got
    }
    # [10:00,10:10) emitted with n=3 (late row NOT counted)
    assert ("2026-01-01 10:00:00", 3) in by_win
    # [10:30,10:40) counted both on-time rows
    assert ("2026-01-01 10:30:00", 2) in by_win
    assert not any(r["n"] == 4 for r in got)


def test_sessionized_agg(spark, tmp_path):
    """session_window: events within the gap chain one session per key."""
    from datetime import datetime as dt

    from apache___solr_spark.streaming import sessionized_agg

    b1 = [
        (dt(2026, 1, 1, 10, 0, 0), 1),
        (dt(2026, 1, 1, 10, 0, 40), 1),   # same session (gap 1m)
        (dt(2026, 1, 1, 10, 5, 0), 1),    # new session
        (dt(2026, 1, 1, 10, 0, 10), 2),
        (dt(2026, 1, 1, 12, 0, 0), 99),   # pushes watermark far ahead
    ]
    got = _drain_windows(
        spark,
        tmp_path,
        "s",
        [b1, [(dt(2026, 1, 1, 13, 0, 0), 99)]],
        lambda s: sessionized_agg(
            s, "ts", "1 minute", keys=["user_id"], watermark="5 minutes"
        ),
    )
    sess = {
        (r["user_id"], str(r["session_start"]), r["n"])
        for r in got
        if r["user_id"] in (1, 2)
    }
    assert (1, "2026-01-01 10:00:00", 2) in sess
    assert (1, "2026-01-01 10:05:00", 1) in sess
    assert (2, "2026-01-01 10:00:10", 1) in sess
