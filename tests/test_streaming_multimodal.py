"""Streaming jobs + multimodal plumbing tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from edgar_crawler_spark.operators import multimodal as M
from edgar_crawler_spark.streaming import stream_fetch_rate
from edgar_crawler_spark.synth import pages_df
from edgar_crawler_spark.tables import load_table

SF = "/root/testdata/sf0.001"


class TestMultimodal:
    def test_decode_meta_batch_shape(self, spark):
        docs = load_table(spark, SF, "documents").limit(50)
        meta = M.decode_meta(M.documents_as_media(docs))
        rows = meta.collect()
        assert len(rows) == 50
        for r in rows:
            assert r.format in M.MEDIA_FORMATS
            assert 64 <= r.width <= 64 + 255 and 64 <= r.height <= 64 + 255
            assert 1 <= r.n_frames <= 16 and r.n_bytes > 0

    def test_frame_sample_udtf_shape(self, spark):
        docs = load_table(spark, SF, "documents").limit(30)
        frames = M.sample_frames(M.documents_as_media(docs), every=4)
        pdf = frames.toPandas()
        meta = M.decode_meta(M.documents_as_media(docs)).toPandas()
        want = meta.n_frames.apply(lambda n: len(range(0, n, 4))).sum()
        assert len(pdf) == want
        assert (pdf.frame_idx % 4 == 0).all()
        assert pdf.frame_hash.str.len().eq(32).all()


class TestStreamFetchRate:
    def test_windowed_fetch_rate_batch_parity(self, spark):
        # run the streaming aggregation logic on a static frame (the
        # streaming plan is identical; watermark is a no-op in batch)
        pages = pages_df(spark, seed=13, n=60).withColumn(
            "status", F.lit("ok")
        ).withColumn("fetched_bytes", F.length("html").cast("long"))
        agg = stream_fetch_rate(
            pages.select("warc_ts", "status", "fetched_bytes")
        )
        pdf = agg.toPandas()
        assert pdf.n_fetched.sum() == 60
        assert (pdf.n_failed == 0).all()
        assert pdf.sum_bytes.sum() > 0


class TestStreamSessionize:
    def test_session_windows_emit_on_watermark(self, spark, tmp_path):
        """Per-user session windows (30s gap) aggregate across
        micro-batches and emit exactly once after the watermark
        passes the session close."""
        from datetime import datetime

        from edgar_crawler_spark.streaming import stream_sessionize

        src = str(tmp_path / "ev_src")
        out = str(tmp_path / "ev_out")
        ckpt = str(tmp_path / "ev_ckpt")
        schema = "user_id long, ts timestamp, event_type string"

        def ts(s_):
            return datetime.fromisoformat(s_)

        # user 1: two sessions (gap > 30s between them); user 2: one.
        # batch file 1 = early events, batch file 2 = the tail of user
        # 1's second session + a far-future sentinel that advances the
        # watermark past every real session's close.
        # coalesce(1): ONE part file per write — with
        # maxFilesPerTrigger=1 each PART is a micro-batch, and parts
        # of a single write otherwise share an mtime tick, letting the
        # sentinel's part process before its siblings and late-drop
        # them via the advanced watermark
        spark.createDataFrame(
            [(1, ts("2024-01-01 00:00:00"), "view"),
             (1, ts("2024-01-01 00:00:10"), "click"),
             (2, ts("2024-01-01 00:00:05"), "view"),
             (1, ts("2024-01-01 00:02:00"), "view")],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)
        # the file source orders batches by modification time; two
        # files written within the same mtime tick can process in
        # either order, and if the sentinel batch ran FIRST the
        # watermark would late-drop the real events — force distinct
        # mtimes so batch order (and thus the watermark walk) is
        # deterministic
        import time as _time

        _time.sleep(2)
        spark.createDataFrame(
            [(1, ts("2024-01-01 00:02:20"), "purchase"),
             (99, ts("2024-01-01 02:00:00"), "sentinel")],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)  # >= 2 micro-batches
            .parquet(src)
        )
        q = (
            stream_sessionize(stream, gap="30 seconds", watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not terminate"
        rows = spark.read.parquet(out).collect()
        # user 1 session A: 2 events (00:00:00-00:00:10); session B: 2
        # events (00:02:00-00:02:20, MERGED across the two batch
        # files); user 2: 1 event. Sentinel session not yet emitted.
        emitted = sorted(
            (r.user_id, r.session_start.strftime("%H:%M:%S"), r.n_events)
            for r in rows
        )
        assert emitted == [
            (1, "00:00:00", 2),
            (1, "00:02:00", 2),
            (2, "00:00:05", 1),
        ]
        # session B absorbed the second batch file's event: it must
        # close 30s after ITS last event, not after the first file's
        b = [r for r in rows if r.user_id == 1 and r.n_events == 2
             and r.session_start.strftime("%H:%M:%S") == "00:02:00"]
        assert b[0].session_end.strftime("%H:%M:%S") == "00:02:50"


class TestSnapshotDiff:
    def test_changelog_between_versions(self, spark, tmp_path):
        from edgar_crawler_spark.frontier.state import SnapshotStore, snapshot_diff

        store = SnapshotStore(str(tmp_path / "snap"))
        v1 = store.commit({
            "t": spark.createDataFrame(
                [("a", 1), ("b", 2), ("c", 3)], "k string, val int")
        })
        v2 = store.commit({
            "t": spark.createDataFrame(
                [("a", 1), ("b", 99), ("d", 4)], "k string, val int")
        })
        diff = snapshot_diff(spark, store, "t", v1, v2, ["k"])
        got = {(r.k, r._change) for r in diff.collect()}
        assert got == {("b", "update"), ("c", "delete"), ("d", "insert")}

    def test_changelog_keys_only_no_payload_shuffle(self, spark, tmp_path):
        """The diff plan shuffles (key, fingerprint) — the payload
        column must not appear in any exchange."""
        import io
        from contextlib import redirect_stdout

        from edgar_crawler_spark.frontier.state import SnapshotStore, snapshot_diff

        store = SnapshotStore(str(tmp_path / "snap2"))
        v1 = store.commit({
            "t": spark.createDataFrame(
                [(f"u{i}", "x" * 50, i) for i in range(200)],
                "url string, payload string, n int")
        })
        v2 = store.commit({
            "t": spark.createDataFrame(
                [(f"u{i}", "x" * 50, i + (i % 7 == 0)) for i in range(150)],
                "url string, payload string, n int")
        })
        diff = snapshot_diff(spark, store, "t", v1, v2, ["url"])
        buf = io.StringIO()
        with redirect_stdout(buf):
            diff.explain("formatted")
        plan = buf.getvalue()
        import re
        for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
            assert "payload" not in m.group(1)
        # semantics: 50 deletes (u150..199) + updates where n changed
        got = {r._change for r in diff.collect()}
        assert got == {"delete", "update"}
        assert diff.filter("_change = 'delete'").count() == 50
        n_upd = sum(1 for i in range(150) if i % 7 == 0)
        assert diff.filter("_change = 'update'").count() == n_upd


class TestSentenceUdtf:
    def test_lateral_fanout_matches_python(self, spark):
        import re

        from edgar_crawler_spark.operators.multimodal import make_sentence_udtf

        spark.udtf.register("split_sentences", make_sentence_udtf())
        df = spark.createDataFrame(
            [(0, "One. Two two! Three?  Four"),
             (1, "no terminators here"),
             (2, None)],
            "doc_id long, text string",
        )
        df.createOrReplaceTempView("udtf_docs")
        rows = spark.sql(
            "SELECT doc_id, s.* FROM udtf_docs, "
            "LATERAL split_sentences(text) AS s"
        ).collect()
        got = {(r.doc_id, r.sent_idx): (r.sentence, r.n_chars) for r in rows}
        want = {}
        for did, text in [(0, "One. Two two! Three?  Four"),
                          (1, "no terminators here")]:
            parts = [p.strip() for p in re.split(r"(?<=[.!?])\s+", text)
                     if p.strip()]
            for i, p in enumerate(parts):
                want[(did, i)] = (p, len(p))
        assert got == want
        assert not any(r.doc_id == 2 for r in rows)  # null row -> no fanout
