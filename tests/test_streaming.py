"""Structured Streaming layer tests (SURVEY.md §2.8, T1-T7).

Strategy: file-drop source + availableNow trigger + memory sink, then assert
the streaming result equals the same operator run in batch — the streaming
wrappers reuse the batch operator logic, so parity is the contract.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineering_project_utn_spark.operators import ema as ema_ops
from data_engineering_project_utn_spark.operators import intervals as iv_ops
from data_engineering_project_utn_spark.streaming import pipeline as sp
from tests.fixtures import flat_rows

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("instance_id", T.LongType()),
        T.StructField("arrival_timestamp", T.TimestampType()),
        T.StructField("was_aborted", T.BooleanType()),
        T.StructField("was_cached", T.BooleanType()),
        T.StructField("compile_duration_ms", T.DoubleType()),
        T.StructField("execution_duration_ms", T.DoubleType()),
    ]
)


def _event_pdf(n: int = 120) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "instance_id": [i % 3 for i in range(n)],
            "arrival_timestamp": pd.date_range("2024-03-01", periods=n, freq="10s"),
            "was_aborted": [i % 7 == 0 for i in range(n)],
            "was_cached": [i % 3 == 0 for i in range(n)],
            "compile_duration_ms": [float((i * 37) % 9000) for i in range(n)],
            "execution_duration_ms": [float(100 + (i * 13) % 4000) for i in range(n)],
        }
    )


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("events_stream"))
    pdf = _event_pdf()
    # two file drops → two micro-batches under maxFilesPerTrigger=1
    spark.createDataFrame(pdf.iloc[:70], EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    spark.createDataFrame(pdf.iloc[70:], EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    return path


def _run_to_memory(stream_df, name, tmp_path, output_mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


class TestWindowCounters:
    def test_matches_batch_window_agg(self, spark, event_dir, tmp_path):
        stream = sp.file_stream(spark, event_dir, EVENT_SCHEMA, max_files_per_trigger=1)
        _run_to_memory(sp.live_window_counters(stream), "wincount", tmp_path)
        got = (
            spark.table("wincount").toPandas().sort_values("start").reset_index(drop=True)
        )

        batch = spark.read.schema(EVENT_SCHEMA).parquet(event_dir)
        exp = (
            batch.groupBy(F.window("arrival_timestamp", "60 seconds").alias("win"))
            .agg(
                F.count(F.lit(1)).alias("total_queries"),
                F.count(F.when(F.col("was_aborted"), 1)).alias("aborted_queries"),
            )
            .select("win.start", "total_queries", "aborted_queries")
            .toPandas()
            .sort_values("start")
            .reset_index(drop=True)
        )
        # append mode emits only watermark-closed windows — every emitted
        # window must match the batch recompute exactly
        merged = got.merge(exp, on="start", suffixes=("_s", "_b"))
        assert len(merged) == len(got) > 0
        assert (merged["total_queries_s"] == merged["total_queries_b"]).all()
        assert (merged["aborted_queries_s"] == merged["aborted_queries_b"]).all()


class TestDedupStream:
    def test_replay_duplicates_dropped(self, spark, tmp_path):
        pdf = _event_pdf(40)
        dup = pd.concat([pdf, pdf.iloc[:15]], ignore_index=True)  # replay
        path = str(tmp_path / "dup_events")
        spark.createDataFrame(dup, EVENT_SCHEMA).coalesce(1).write.parquet(path)
        stream = sp.file_stream(spark, path, EVENT_SCHEMA)
        deduped = sp.dedup_stream(stream, ["instance_id"], watermark="1 hour")
        _run_to_memory(deduped, "dedup", tmp_path)
        got = spark.table("dedup").count()
        assert got == 40


class TestStreamingTopK:
    def test_running_topk_matches_batch_topk(self, spark, event_dir, tmp_path):
        """Accumulated top-k across micro-batches == batch top-k over all
        data (the deque semantics, `Dashboard/app.py:29-56`)."""
        stream = sp.file_stream(spark, event_dir, EVENT_SCHEMA, max_files_per_trigger=1)
        topk = sp.RunningTopK(order_col="compile_duration_ms", k=10)
        q = topk.start(
            stream, checkpoint=str(tmp_path / "ckpt_topk"), availableNow=True
        )
        q.awaitTermination(120)
        got = sorted(topk.top["compile_duration_ms"])
        batch = spark.read.schema(EVENT_SCHEMA).parquet(event_dir)
        exp = sorted(
            r["compile_duration_ms"]
            for r in batch.orderBy(F.desc("compile_duration_ms")).limit(10).collect()
        )
        assert got == exp


class TestKafkaConfigContract:
    """S4/S5 execution evidence, to the extent this container allows: no
    broker AND no spark-sql-kafka connector jars are available, so the
    contract under test is that our source/sink builders hand Spark the
    right format name and options — proven by Spark's own source-resolution
    error naming the kafka artifact.  With the connector on the classpath
    these same tests instead assert the built plan (streaming frame with
    the parsed schema), so they upgrade automatically."""

    def test_kafka_source_reaches_spark_source_resolution(self, spark):
        try:
            df = sp.kafka_json_stream(spark, "broker:9092", "events", EVENT_SCHEMA)
        except Exception as e:  # no connector in this environment
            msg = str(e)
            assert "kafka" in msg.lower()
            pytest.skip(f"kafka connector absent (documented): {msg[:120]}")
        assert df.isStreaming
        assert [f.name for f in df.schema.fields] == [
            f.name for f in EVENT_SCHEMA.fields
        ]

    def test_kafka_sink_reaches_spark_source_resolution(self, spark, tmp_path):
        rate = spark.readStream.format("rate").load()
        writer = sp.to_kafka_json_sink(
            rate, "broker:9092", "events", str(tmp_path / "ckpt_kafka")
        )
        try:
            q = writer.start()
        except Exception as e:
            msg = str(e)
            assert "kafka" in msg.lower()
            pytest.skip(f"kafka connector absent (documented): {msg[:120]}")
        q.stop()


class TestSocketTransport:
    """Real messages over a real network transport (S4/S5 end-to-end, the
    closest this container gets to Kafka: no broker/connector jar exists,
    so the built-in TCP socket source is the one transport that can move
    bytes).  Producer side serializes rows with the Kafka-sink payload
    builder (``io.to_json_rows``), ships them over TCP; consumer side is
    ``socket_json_stream`` → the SAME ``json_value_columns`` parse the
    Kafka source uses → ``live_window_counters``.  Parity with the batch
    aggregation proves serialize → transport → parse → windowed-agg
    round-trips losslessly."""

    def test_json_roundtrip_over_tcp_matches_batch(self, spark, tmp_path):
        import socket
        import threading
        import time

        from data_engineering_project_utn_spark.sources import io as src_io

        pdf = _event_pdf(90)
        batch = spark.createDataFrame(pdf, EVENT_SCHEMA)
        lines = [r["value"] for r in src_io.to_json_rows(batch).collect()]
        payload = ("\n".join(lines) + "\n").encode()

        server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        server.bind(("127.0.0.1", 0))
        server.listen(1)
        port = server.getsockname()[1]
        done = threading.Event()

        def serve():
            conn, _ = server.accept()
            try:
                conn.sendall(payload)
                done.wait(timeout=120)  # hold the connection open until asserted
            finally:
                conn.close()
                server.close()

        t = threading.Thread(target=serve, daemon=True)
        t.start()

        parsed = sp.socket_json_stream(spark, "127.0.0.1", port, EVENT_SCHEMA)
        assert parsed.isStreaming
        counters = sp.live_window_counters(parsed)
        q = (
            counters.writeStream.format("memory")
            .queryName("sock_counters")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt_sock"))
            .start()
        )
        try:
            expected = sorted(
                sp.live_window_counters(batch).collect(),
                key=lambda r: r["start"],
            )
            n_expected = len(pdf)
            deadline = time.time() + 90
            got = []
            while time.time() < deadline:
                q.processAllAvailable()
                got = sorted(
                    spark.sql("SELECT * FROM sock_counters").collect(),
                    key=lambda r: r["start"],
                )
                if sum(r["total_queries"] for r in got) >= n_expected:
                    break
                time.sleep(0.5)
        finally:
            done.set()
            q.stop()

        assert [tuple(r) for r in got] == [tuple(r) for r in expected]


class TestReplayThrottling:
    def test_delay_arithmetic_matches_reference(self):
        """T8 pacing formula parity (`producer_Final.py:152-180`): Δt
        compressed 6480× with a 1 s floor."""
        a = pd.Timestamp("2024-03-01 00:00:00")
        assert sp.replay_delay_seconds(a, a + pd.Timedelta(seconds=12960)) == 2.0
        assert sp.replay_delay_seconds(a, a + pd.Timedelta(seconds=100)) == 1.0
        assert (
            sp.replay_delay_seconds(
                a, a + pd.Timedelta(seconds=100), scaling_factor=10.0
            )
            == 10.0
        )

    def test_file_replay_paced_one_file_per_trigger(self, spark, tmp_path):
        """T8 end-to-end: 4 file drops under throttled_replay must arrive as
        4 separate micro-batches (one file each), spread over at least
        ~(n-1)·interval of wall-clock — admission control, not a bulk read."""
        import time

        path = str(tmp_path / "replay_src")
        pdf = _event_pdf(4)
        for i in range(4):
            spark.createDataFrame(pdf.iloc[i : i + 1], EVENT_SCHEMA).coalesce(
                1
            ).write.mode("append").parquet(path)

        # 2 s interval: batch processing under contention can exceed 1 s
        # (which makes triggers fire back-to-back); at 2 s the cadence
        # dominates processing time so the pacing is observable
        stream, trigger = sp.throttled_replay(
            spark, path, EVENT_SCHEMA, files_per_trigger=1, min_delay_seconds=2.0
        )
        batches: list[tuple[float, int]] = []

        def record(df, _bid):
            n = df.count()
            if n:
                batches.append((time.monotonic(), n))

        q = (
            stream.writeStream.foreachBatch(record)
            .option("checkpointLocation", str(tmp_path / "ckpt_replay"))
            .trigger(**trigger)
            .start()
        )
        try:
            deadline = time.monotonic() + 60
            while len(batches) < 4 and time.monotonic() < deadline:
                time.sleep(0.2)
        finally:
            q.stop()
        assert len(batches) == 4
        assert [n for _, n in batches] == [1, 1, 1, 1]  # one file per batch
        # pacing: 4 batches on a 2 s trigger must span ≥ ~3 s of wall-clock
        # (half the 6 s ideal — generous slack for trigger alignment), where
        # an unthrottled availableNow read admits all files in one batch
        elapsed = batches[-1][0] - batches[0][0]
        assert elapsed >= 3.0


class TestPerTableRefresh:
    def test_fast_table_refreshes_more_often_than_slow(self, spark, tmp_path):
        """T9: two tables fed by one source, 0.5 s vs 3 s cadences — the
        fast table must commit more micro-batches over the same window, and
        each table must carry only its projected columns."""
        import time

        path = str(tmp_path / "t9_src")
        # steady file drops to give triggers something to admit
        pdf = _event_pdf(30)
        for i in range(6):
            spark.createDataFrame(pdf.iloc[i * 5 : (i + 1) * 5], EVENT_SCHEMA).coalesce(
                1
            ).write.mode("append").parquet(path)
        stream = sp.file_stream(spark, path, EVENT_SCHEMA, max_files_per_trigger=1)
        specs = {
            "t9_fast": {
                "columns": ["instance_id", "arrival_timestamp"],
                "interval_seconds": 0.5,
            },
            "t9_slow": {
                "columns": ["instance_id", "was_aborted"],
                "interval_seconds": 3.0,
            },
        }
        queries = sp.per_table_refresh(stream, specs, str(tmp_path / "t9_ckpt"))
        try:
            time.sleep(6.0)
            fast_batches = queries["t9_fast"].lastProgress["batchId"]
            slow_batches = queries["t9_slow"].lastProgress["batchId"]
        finally:
            for q in queries.values():
                q.stop()
        assert fast_batches > slow_batches
        assert spark.table("t9_fast").columns == ["instance_id", "arrival_timestamp"]
        assert spark.table("t9_slow").columns == ["instance_id", "was_aborted"]


class TestResultCache:
    def test_ttl_memo_rebuild_and_unpersist(self, spark):
        """T10: within TTL the same persisted snapshot serves every caller
        (builder runs once); past TTL the next get rebuilds and unpersists
        the stale snapshot."""
        from data_engineering_project_utn_spark.operators.cache import ResultCache

        fake_now = [0.0]
        calls = []

        def build():
            calls.append(1)
            return spark.range(100).groupBy((F.col("id") % 5).alias("k")).count()

        cache = ResultCache(ttl_seconds=10.0, clock=lambda: fake_now[0])
        a = cache.get("hist", build)
        b = cache.get("hist", build)
        assert a is b and len(calls) == 1
        assert a.storageLevel.useMemory  # snapshot persisted
        fake_now[0] = 11.0
        c = cache.get("hist", build)
        assert len(calls) == 2 and c is not a
        assert not a.storageLevel.useMemory  # stale snapshot unpersisted
        assert c.count() == 5
        cache.invalidate()
        assert not c.storageLevel.useMemory

    def test_concurrent_expired_gets_build_once(self, spark):
        """Dashboard serving is concurrent: N threads hitting an expired key
        must produce exactly one rebuild (losers of the build race get the
        winner's snapshot), never duplicate builds or double-unpersists
        (ADVICE r03)."""
        import threading
        import time as _time

        from data_engineering_project_utn_spark.operators.cache import ResultCache

        calls = []

        def build():
            calls.append(1)
            _time.sleep(0.2)  # widen the race window
            return spark.range(100).groupBy((F.col("id") % 5).alias("k")).count()

        cache = ResultCache(ttl_seconds=10.0, clock=lambda: 0.0)
        results: list = [None] * 8
        threads = [
            threading.Thread(target=lambda i=i: results.__setitem__(i, cache.get("h", build)))
            for i in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert len(calls) == 1
        assert all(r is results[0] for r in results)
        cache.invalidate()


class TestResultCacheInvalidation:
    def test_invalidate_during_build_is_not_undone(self, spark):
        """A build that started before invalidate() must not be cached when
        it finishes — it read pre-invalidation source data; caching it would
        silently undo the invalidation for a full TTL (review r04)."""
        import threading
        import time as _time

        from data_engineering_project_utn_spark.operators.cache import ResultCache

        cache = ResultCache(ttl_seconds=100.0, clock=lambda: 0.0)
        gate = threading.Event()
        calls = []

        def slow_build():
            calls.append("slow")
            gate.wait(10)
            return spark.range(10).groupBy((F.col("id") % 2).alias("k")).count()

        t = threading.Thread(target=lambda: cache.get("h", slow_build))
        t.start()
        for _ in range(100):  # wait until the build is actually in flight
            if calls:
                break
            _time.sleep(0.05)
        cache.invalidate("h")
        gate.set()
        t.join()

        def rebuild():
            calls.append("rebuild")
            return spark.range(10).groupBy((F.col("id") % 2).alias("k")).count()

        cache.get("h", rebuild)
        assert calls == ["slow", "rebuild"]  # post-invalidate get rebuilt
        cache.invalidate()

    def test_ttl_aged_orphans_drain_without_invalidate(self, spark):
        """A snapshot orphaned by a mid-build invalidation must be freed by
        any later get() once TTL-aged — an invalidation-free session
        previously kept orphans persisted for its whole lifetime
        (ADVICE r04)."""
        import threading
        import time as _time

        from data_engineering_project_utn_spark.operators.cache import ResultCache

        fake_now = [0.0]
        cache = ResultCache(ttl_seconds=10.0, clock=lambda: fake_now[0])
        gate = threading.Event()
        started: list[int] = []
        res: dict = {}

        def slow_build():
            started.append(1)
            gate.wait(10)
            return spark.range(10).groupBy((F.col("id") % 2).alias("k")).count()

        t = threading.Thread(target=lambda: res.update(df=cache.get("h", slow_build)))
        t.start()
        for _ in range(100):
            if started:
                break
            _time.sleep(0.05)
        cache.invalidate("h")  # voids the in-flight build → orphan on finish
        gate.set()
        t.join()
        orphan = res["df"]
        assert orphan.storageLevel.useMemory  # still materialized for its caller
        fake_now[0] = 11.0  # orphan now TTL-aged
        cache.get(
            "other",
            lambda: spark.range(4).groupBy((F.col("id") % 2).alias("k")).count(),
        )
        assert not orphan.storageLevel.useMemory
        cache.invalidate()

    def test_invalidate_all_tags_first_build_of_uncached_key(self, spark):
        """invalidate() with no key must also reject an in-flight FIRST
        build of a key that was never cached (review r04: a per-key-only
        generation missed this path)."""
        import threading
        import time as _time

        from data_engineering_project_utn_spark.operators.cache import ResultCache

        cache = ResultCache(ttl_seconds=100.0, clock=lambda: 0.0)
        gate = threading.Event()
        calls = []

        def slow_build():
            calls.append("slow")
            gate.wait(10)
            return spark.range(10).groupBy((F.col("id") % 2).alias("k")).count()

        t = threading.Thread(target=lambda: cache.get("never_cached", slow_build))
        t.start()
        for _ in range(100):
            if calls:
                break
            _time.sleep(0.05)
        cache.invalidate()  # all-keys form; "never_cached" has no entry yet
        gate.set()
        t.join()

        def rebuild():
            calls.append("rebuild")
            return spark.range(10).groupBy((F.col("id") % 2).alias("k")).count()

        cache.get("never_cached", rebuild)
        assert calls == ["slow", "rebuild"]
        cache.invalidate()


class TestIncrementalDedupStream:
    def test_per_batch_union_equals_one_shot(self, spark, tmp_path):
        """Streaming incremental dedup: the asymmetric join never compares
        incoming docs to each other, so the union of per-micro-batch results
        must equal the one-shot batch check over all incoming docs."""
        import pandas as pd

        from data_engineering_project_utn_spark.llm.dedup import incremental_neardup

        base = "a long enough shared document body with many words " * 3
        corpus = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [1, 2],
                    "text": [base, "other corpus content entirely unrelated here"],
                }
            )
        )
        inc = pd.DataFrame(
            {
                "doc_id": [10, 11, 12, 13],
                "text": [base, "fresh unseen one", base + " slightly extended",
                         "fresh unseen two"],
            }
        )
        in_dir = str(tmp_path / "docs_in")
        doc_schema = "doc_id long, text string"
        # two file drops → two micro-batches
        spark.createDataFrame(inc.iloc[:2], doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        spark.createDataFrame(inc.iloc[2:], doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

        collected: list = []

        def sink(pairs_df, batch_id):
            collected.extend(
                (r["doc_new"], r["doc_existing"]) for r in pairs_df.collect()
            )

        stream = (
            spark.readStream.schema(doc_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = (
            stream.writeStream.foreachBatch(
                sp.incremental_dedup_batch_fn(corpus, sink)
            )
            .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        one_shot = {
            (r["doc_new"], r["doc_existing"])
            for r in incremental_neardup(
                spark.createDataFrame(inc, doc_schema), corpus
            ).collect()
        }
        assert set(collected) == one_shot
        assert len(collected) == len(set(collected))  # no batch double-counts
        assert (10, 1) in one_shot  # the verbatim copy is flagged

    def test_editdist_arm_per_batch_union_equals_one_shot(self, spark, tmp_path):
        """The edit-distance incremental arm (VERDICT r11 #7) has the same
        batch-independence law: bands propose asymmetrically against the
        corpus, the banded DP verifies batch×candidates — streamed results
        union to the one-shot run."""
        import pandas as pd

        from data_engineering_project_utn_spark.llm.dedup import incremental_neardup

        base = "a long enough shared document body with many words " * 3
        corpus = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [1, 2],
                    "text": [base, "other corpus content entirely unrelated here"],
                }
            )
        )
        inc = pd.DataFrame(
            {
                "doc_id": [10, 11, 12, 13],
                # 10: verbatim copy (sim 1.0); 12: one-char edit (sim just
                # under 1.0, above 0.9); 11/13: fresh (band-match unlikely,
                # verify-fail certain)
                "text": [base, "fresh unseen one", base[:-1] + "!",
                         "fresh unseen two"],
            }
        )
        in_dir = str(tmp_path / "ed_docs_in")
        doc_schema = "doc_id long, text string"
        spark.createDataFrame(inc.iloc[:2], doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        spark.createDataFrame(inc.iloc[2:], doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

        collected: list = []

        def sink(pairs_df, batch_id):
            collected.extend(
                (r["doc_new"], r["doc_existing"], r["edit_distance"])
                for r in pairs_df.collect()
            )

        stream = (
            spark.readStream.schema(doc_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = (
            stream.writeStream.foreachBatch(
                sp.incremental_dedup_batch_fn(
                    corpus, sink, threshold=0.9, verifier="editdist"
                )
            )
            .option("checkpointLocation", str(tmp_path / "ed_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        one_shot = {
            (r["doc_new"], r["doc_existing"], r["edit_distance"])
            for r in incremental_neardup(
                spark.createDataFrame(inc, doc_schema),
                corpus,
                threshold=0.9,
                verifier="editdist",
            ).collect()
        }
        assert set(collected) == one_shot
        assert len(collected) == len(set(collected))
        assert (10, 1, 0) in one_shot  # verbatim copy: distance 0
        assert (12, 1, 1) in one_shot  # one-char rewrite: exact distance 1
        assert not any(p[0] in (11, 13) for p in one_shot)  # fresh docs pass

    def test_streamed_snm_union_equals_one_shot(self, spark, tmp_path):
        """VERDICT r12 #7: the sorted-neighborhood incremental arm —
        streamed per-batch pair sets must union to the one-shot run
        (insertion-rank semantics depend only on (doc, corpus)), with
        the corpus rank structure persisted ONCE per stream and freed by
        the release handle."""
        import pandas as pd

        from data_engineering_project_utn_spark import persist
        from data_engineering_project_utn_spark.llm.dedup import (
            incremental_snm_pairs,
        )

        base = "a long enough shared document body with many words " * 3
        corpus = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [1, 2, 3],
                    "text": [base, "other corpus content entirely unrelated",
                             base + " trailing extra tokens here"],
                }
            )
        )
        inc = pd.DataFrame(
            {
                "doc_id": [10, 11, 12, 13],
                "text": [base, "fresh unseen one", base[:-1] + "!",
                         "fresh unseen two"],
            }
        )
        in_dir = str(tmp_path / "snm_docs_in")
        doc_schema = "doc_id long, text string"
        spark.createDataFrame(inc.iloc[:2], doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        spark.createDataFrame(inc.iloc[2:], doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

        collected: list = []

        def sink(pairs_df, batch_id):
            collected.extend(
                (r["doc_new"], r["doc_existing"]) for r in pairs_df.collect()
            )

        jsc = spark.sparkContext._jsc.sc()
        rdds_before = jsc.getPersistentRDDs().size()
        fn = sp.incremental_snm_batch_fn(corpus, sink, window=2, threshold=0.5)
        stream = (
            spark.readStream.schema(doc_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = (
            stream.writeStream.foreachBatch(fn)
            .option("checkpointLocation", str(tmp_path / "snm_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        # ADVICE r13: the per-trigger rank persists (two with_global_rank
        # calls per micro-batch, tracked on the stream-execution thread
        # where no caller scope is active) must NOT accumulate across
        # triggers — each process() opens its own persist_scope, so once
        # the stream drains only the factory's two frames stay cached:
        # the corpus rank structure and its rank's bucketed frame
        assert jsc.getPersistentRDDs().size() <= rdds_before + 2

        one_shot = {
            (r["doc_new"], r["doc_existing"])
            for r in incremental_snm_pairs(
                spark.createDataFrame(inc, doc_schema), corpus,
                window=2, threshold=0.5,
            ).collect()
        }
        assert set(collected) == one_shot
        assert len(collected) == len(set(collected))
        # the near-verbatim copies flag against their sort-adjacent
        # corpus docs; fresh docs pass
        assert {p[0] for p in one_shot} == {10, 12}
        assert fn.release_corpus_pins() == 1  # the per-stream rank structure
        # executor storage drains too: free the one-shot parity run's
        # frames and the factory's internal rank frame, then the
        # persistent-RDD count must return to its pre-test level
        persist.release_persisted()
        import time

        for _ in range(50):
            if jsc.getPersistentRDDs().size() <= rdds_before:
                break
            time.sleep(0.1)
        assert jsc.getPersistentRDDs().size() <= rdds_before


class TestStatefulEMA:
    def test_matches_batch_ema(self, spark, event_dir, tmp_path):
        stream = sp.file_stream(spark, event_dir, EVENT_SCHEMA, max_files_per_trigger=1)
        ema_stream = sp.stateful_ema(
            stream,
            key_col="instance_id",
            value_col="execution_duration_ms",
            order_col="arrival_timestamp",
            alpha_short=0.02,
            alpha_long=0.005,
        )
        _run_to_memory(ema_stream, "ema", tmp_path, output_mode="update")
        # update mode: last row per key is the final state
        got = (
            spark.table("ema")
            .toPandas()
            .groupby("key")
            .last()["ema_short"]
            .to_dict()
        )

        batch = spark.read.schema(EVENT_SCHEMA).parquet(event_dir)
        exp = {
            str(r["instance_id"]): r["ema"]
            for r in ema_ops.ema_by_key(
                batch,
                ["instance_id"],
                "arrival_timestamp",
                "execution_duration_ms",
                alpha=0.02,
            ).collect()
        }
        assert set(got) == set(exp)
        for k in exp:
            assert abs(got[k] - exp[k]) < 1e-9, k


class TestStatefulEMARestart:
    def test_ema_state_survives_restart(self, spark, tmp_path):
        """The EMA's persisted state must continue across a query restart:
        feed half the series, stop, feed the rest, restart from the same
        checkpoint — final EMA equals the batch fold over the whole series."""
        pdf = _event_pdf(80)
        src = str(tmp_path / "ema_src")
        ckpt = str(tmp_path / "ema_ckpt")
        out = str(tmp_path / "ema_out")

        def run_wave(wave: pd.DataFrame) -> None:
            spark.createDataFrame(wave, EVENT_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            stream = sp.file_stream(spark, src, EVENT_SCHEMA)
            ema_stream = sp.stateful_ema(
                stream,
                key_col="instance_id",
                value_col="execution_duration_ms",
                order_col="arrival_timestamp",
                alpha_short=0.02,
            )

            def sink(batch_df, batch_id):
                batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                    "append"
                ).parquet(out)

            q = (
                ema_stream.writeStream.foreachBatch(sink)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run_wave(pdf.iloc[:40])
        run_wave(pdf.iloc[40:])

        got = (
            spark.read.parquet(out)
            .toPandas()
            .sort_values(["key", "batch_id", "n_obs"])
            .groupby("key")
            .last()["ema_short"]
            .to_dict()
        )
        batch = spark.read.schema(EVENT_SCHEMA).parquet(src)
        from data_engineering_project_utn_spark.operators import ema as ema_ops

        exp = {
            str(r["instance_id"]): r["ema"]
            for r in ema_ops.ema_by_key(
                batch,
                ["instance_id"],
                "arrival_timestamp",
                "execution_duration_ms",
                alpha=0.02,
            ).collect()
        }
        assert set(got) == set(exp)
        for key in exp:
            assert abs(got[key] - exp[key]) < 1e-9, key


class TestCheckpointRecovery:
    def test_restart_from_checkpoint_no_dup_no_loss(self, spark, tmp_path):
        """T6 exactly-once claim: stop a query mid-stream, restart from the
        same checkpoint with more data present — every input row lands in
        the sink exactly once."""
        src = str(tmp_path / "src")
        sink = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")
        pdf = _event_pdf(100)

        spark.createDataFrame(pdf.iloc[:40], EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = sp.file_stream(spark, src, EVENT_SCHEMA)
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        # second wave lands while the query is down; restart from checkpoint
        spark.createDataFrame(pdf.iloc[40:], EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream2 = sp.file_stream(spark, src, EVENT_SCHEMA)
        q2 = (
            stream2.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)

        out = spark.read.parquet(sink).toPandas()
        assert len(out) == 100  # no loss, no replay duplicates
        assert sorted(out["instance_id"].value_counts().to_dict().items()) == sorted(
            pdf["instance_id"].value_counts().to_dict().items()
        )


class TestHoppingBackfill:
    def test_final_hop_equals_batch(self, spark):
        """T4 loop: after the last hop the output equals the one-shot batch
        output_table over the full range, and intermediate hops grow
        monotonically."""
        from datetime import datetime

        from data_engineering_project_utn_spark.operators import intervals as iv_ops

        flat = spark.createDataFrame(flat_rows())
        start = datetime(2024, 3, 1, 0, 0, 0)
        end = datetime(2024, 3, 1, 8, 0, 0)
        sizes = []
        last = None
        for _cur, out in sp.hopping_backfill(flat, start, end, hop_hours=2.0):
            sizes.append(out.count())
            last = out
        assert sizes == sorted(sizes)  # accumulated state only grows

        full = flat.filter(
            (F.col("arrival_timestamp") >= F.lit(start))
            & (F.col("arrival_timestamp") < F.lit(end))
        )
        exp = iv_ops.output_table(full, iv_ops.ingestion_intervals(full))
        assert last.exceptAll(exp).count() == 0
        assert exp.exceptAll(last).count() == 0


class TestSessionWindowStream:
    def test_session_window_stream_matches_batch_sessionization(
        self, spark, tmp_path
    ):
        """Native session_window streaming twin ≡ the batch lag+running-sum
        sessionization (rl_user_sessions logic) on the same tie-free data:
        identical (user, start, end, n_events, duration) session sets."""
        from pyspark.sql import Window

        rows = []
        base = pd.Timestamp("2024-03-01")
        for u in range(4):
            t = base + pd.Timedelta(minutes=3 * u)
            for i in range(40):
                # gaps alternate well below / well above the 30-min gap —
                # never exactly 1800 s, so batch (> gap) and streaming
                # (exclusive end) semantics agree
                step_s = 290 + (i * 37) % 700 if i % 9 else 2405 + 13 * u
                t = t + pd.Timedelta(seconds=step_s)
                rows.append((u, len(rows), t))
        pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "ts"])
        src = str(tmp_path / "sess_src")
        schema = T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
            ]
        )
        # two drops → two micro-batches: sessions must merge across batches
        spark.createDataFrame(pdf.iloc[:90], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        spark.createDataFrame(pdf.iloc[90:], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

        stream = sp.file_stream(spark, src, schema, max_files_per_trigger=1)
        sess = sp.sessionize_stream(stream, gap="30 minutes")
        _run_to_memory(sess, "sessions_mem", tmp_path, output_mode="complete")
        got = (
            spark.table("sessions_mem")
            .toPandas()
            .sort_values(["user_id", "session_start"])
            .reset_index(drop=True)
        )

        e = spark.createDataFrame(pdf, schema)
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
        new_session = F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0)
        marked = e.select(
            "user_id",
            "ts",
            F.sum(new_session)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("session_id"),
        )
        exp = (
            marked.groupBy("user_id", "session_id")
            .agg(
                F.min("ts").alias("session_start"),
                F.max("ts").alias("session_end"),
                F.count(F.lit(1)).alias("n_events"),
                (
                    (
                        F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
                    ).cast("double")
                    / 1_000_000.0
                ).alias("duration_s"),
            )
            .drop("session_id")
            .toPandas()
            .sort_values(["user_id", "session_start"])
            .reset_index(drop=True)
        )
        assert len(got) == len(exp) > 4  # multiple sessions per user
        cols = ["user_id", "session_start", "session_end", "n_events", "duration_s"]
        assert got[cols].equals(exp[cols])


class TestIncrementalHistoricalPipeline:
    def test_foreachbatch_recompute_matches_batch(self, spark, tmp_path):
        flat_pdf = flat_rows()
        src = str(tmp_path / "flat_src")
        spark.createDataFrame(flat_pdf.iloc[:60]).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        spark.createDataFrame(flat_pdf.iloc[60:]).coalesce(1).write.mode(
            "append"
        ).parquet(src)

        schema = spark.read.parquet(src).schema
        pipe = sp.IncrementalHistoricalPipeline(
            spark,
            accumulator_path=str(tmp_path / "acc"),
            output_path=str(tmp_path / "out"),
        )
        stream = sp.file_stream(spark, src, schema, max_files_per_trigger=1)
        q = pipe.start(stream, checkpoint=str(tmp_path / "ckpt_hist"), availableNow=True)
        q.awaitTermination(180)

        got = pipe.read_output()
        flat = spark.read.parquet(src)
        exp = iv_ops.output_table(flat, iv_ops.ingestion_intervals(flat))
        fields = lambda df: [(f.name, f.dataType) for f in df.schema]  # noqa: E731
        assert fields(got) == fields(exp)
        key = ["instance_id", "query_id", "arrival_timestamp", "last_write_table_insert"]
        g = got.select(*key).toPandas().sort_values(key).reset_index(drop=True)
        e = exp.select(*key).toPandas().sort_values(key).reset_index(drop=True)
        assert len(g) == len(e) > 0
        assert g.equals(e)

    def test_batch_replay_is_idempotent(self, spark, tmp_path):
        """foreachBatch is at-least-once: re-running the same (batch_df,
        batch_id) must leave accumulator and output unchanged (the retried
        batch dynamically overwrites exactly its own partitions), and a
        replay that touches fewer instances than its first attempt still
        leaves the one-shot output (the first attempt's partitions stay)."""
        flat_pdf = flat_rows()
        pipe = sp.IncrementalHistoricalPipeline(
            spark,
            accumulator_path=str(tmp_path / "acc"),
            output_path=str(tmp_path / "out"),
        )
        b0 = spark.createDataFrame(flat_pdf.iloc[:60])
        b1 = spark.createDataFrame(flat_pdf.iloc[60:])
        pipe.process_batch(b0, 0)
        pipe.process_batch(b1, 1)
        acc_rows = spark.read.parquet(str(tmp_path / "acc")).count()
        out_pdf = pipe.read_output().toPandas()
        key = ["instance_id", "query_id", "arrival_timestamp", "last_write_table_insert"]

        pipe.process_batch(b1, 1)  # replay after a simulated failure
        assert spark.read.parquet(str(tmp_path / "acc")).count() == acc_rows
        replay_pdf = pipe.read_output().toPandas()
        a = out_pdf.sort_values(key).reset_index(drop=True)
        b = replay_pdf.sort_values(key).reset_index(drop=True)
        assert a.equals(b)

        hot = int(flat_pdf["instance_id"].iloc[-1])
        pipe.process_batch(b1.filter(F.col("instance_id") == hot), 1)
        flat = spark.createDataFrame(flat_pdf)
        want = iv_ops.output_table(flat, iv_ops.ingestion_intervals(flat))
        got = pipe.read_output()
        assert got.count() == want.count() > 0
        assert got.exceptAll(want).count() == 0

    def test_empty_batch_writes_no_output(self, spark, tmp_path):
        import os

        pipe = sp.IncrementalHistoricalPipeline(
            spark,
            accumulator_path=str(tmp_path / "acc"),
            output_path=str(tmp_path / "out"),
        )
        empty = spark.createDataFrame(flat_rows()).limit(0)
        pipe.process_batch(empty, 0)
        assert not os.path.exists(str(tmp_path / "out"))

    def test_batch_and_read_job_counts(self, spark, tmp_path):
        """One batch runs at most 3 Spark jobs (accumulator write, output
        recompute and write) and ``read_output`` none: the touched
        instances come from a directory listing and both reads give their
        schema, so nothing is probed or inferred."""
        flat_pdf = flat_rows()
        pipe = sp.IncrementalHistoricalPipeline(
            spark,
            accumulator_path=str(tmp_path / "acc"),
            output_path=str(tmp_path / "out"),
        )
        pipe.process_batch(spark.createDataFrame(flat_pdf.iloc[:60]), 0)
        b1 = spark.createDataFrame(flat_pdf.iloc[60:])
        sc = spark.sparkContext

        def jobs(group: str, fn) -> int:
            sc.setJobGroup(group, group)
            try:
                fn()
            finally:
                sc.setJobGroup(None, None)
            return len(sc.statusTracker().getJobIdsForGroup(group))

        assert jobs("hist_batch", lambda: pipe.process_batch(b1, 1)) <= 3
        assert jobs("hist_read", pipe.read_output) == 0

    def test_recompute_bounded_to_touched_partitions(self, spark, tmp_path):
        """A batch touching one instance must (a) read only that instance's
        accumulator partitions — partition pruning visible in the scan —
        and (b) rewrite only that instance's output partitions."""
        import os

        flat_pdf = flat_rows()
        instances = sorted(flat_pdf["instance_id"].unique())
        assert len(instances) >= 2
        hot, cold = int(instances[0]), int(instances[1])

        pipe = sp.IncrementalHistoricalPipeline(
            spark,
            accumulator_path=str(tmp_path / "acc"),
            output_path=str(tmp_path / "out"),
        )
        pipe.process_batch(spark.createDataFrame(flat_pdf), 0)

        def partition_mtimes(root: str) -> dict[str, float]:
            out = {}
            for d in os.listdir(root):
                if d.startswith("instance_id="):
                    p = os.path.join(root, d)
                    out[d] = max(
                        os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p)
                    )
            return out

        before = partition_mtimes(str(tmp_path / "out"))

        # the pruned read: only the touched instance's partitions are scanned
        pruned = pipe.accumulated_for([hot])
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "instance_id" in plan

        hot_batch = spark.createDataFrame(
            flat_pdf[flat_pdf["instance_id"] == hot].iloc[:5]
        )
        pipe.process_batch(hot_batch, 1)

        after = partition_mtimes(str(tmp_path / "out"))
        cold_dir = f"instance_id={cold}"
        hot_dir = f"instance_id={hot}"
        assert after[cold_dir] == before[cold_dir]  # untouched partition intact
        assert after[hot_dir] >= before[hot_dir]
        # output for the untouched instance still matches the full recompute
        flat = spark.createDataFrame(flat_pdf)
        exp = iv_ops.output_table(flat, iv_ops.ingestion_intervals(flat)).filter(
            F.col("instance_id") == cold
        )
        got = pipe.read_output().filter(F.col("instance_id") == cold)
        assert got.exceptAll(exp).count() == 0
        assert exp.exceptAll(got).count() == 0


class TestCurationStream:
    def test_per_batch_accepted_union_equals_one_shot(self, spark, tmp_path):
        """Streaming curation (near-dup gate + quality gate): union of
        per-micro-batch accepted docs == the batch twin's one-shot result
        (the oracle-gated llm_curation_gate semantics)."""
        import pandas as pd
        from pyspark.sql import functions as F

        from data_engineering_project_utn_spark.llm import text as tx
        from data_engineering_project_utn_spark.llm.dedup import incremental_neardup

        base = "a long enough shared document body with many words " * 3
        rich = (
            "the market of ideas is open and it is a fair trade of thought "
            "to reason in the open air with many distinct words "
        )
        corpus = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [1, 2],
                    "text": [base, "other corpus content entirely unrelated here"],
                }
            )
        )
        inc = pd.DataFrame(
            {
                "doc_id": [10, 11, 12, 13],
                "text": [base, rich, base + " slightly extended", rich + " again and again"],
            }
        )
        in_dir = str(tmp_path / "cur_in")
        doc_schema = "doc_id long, text string"
        spark.createDataFrame(inc.iloc[:2], doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        spark.createDataFrame(inc.iloc[2:], doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

        got: dict = {}

        def sink(accepted_df, batch_id):
            for r in accepted_df.collect():
                got[r["doc_id"]] = r["quality"]

        stream = (
            spark.readStream.schema(doc_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = (
            stream.writeStream.foreachBatch(
                sp.make_curation_batch_fn(corpus, sink, min_quality=0.3, threshold=0.5)
            )
            .option("checkpointLocation", str(tmp_path / "cur_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        all_inc = spark.createDataFrame(inc, doc_schema)
        flagged = (
            incremental_neardup(all_inc, corpus, threshold=0.5)
            .select(F.col("doc_new").alias("doc_id"))
            .distinct()
        )
        one_shot = {
            r["doc_id"]: r["quality"]
            for r in all_inc.withColumn("quality", tx.quality_score(F.col("text")))
            .filter(F.col("quality") >= 0.3)
            .join(flagged, "doc_id", "left_anti")
            .collect()
        }
        assert got == one_shot
        assert 10 not in got  # verbatim dup of corpus doc 1 rejected
        assert 11 in got  # fresh, quality-passing doc accepted

    def test_curation_batch_replay_deterministic(self, spark):
        """foreachBatch is at-least-once: a retried (batch_df, batch_id)
        must accept the identical doc set with identical scores, so a sink
        keyed on (batch_id, doc_id) overwrites idempotently."""
        import pandas as pd

        corpus = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "text": ["corpus body of words here"]})
        )
        batch = spark.createDataFrame(
            pd.DataFrame(
                {"doc_id": [10, 11], "text": ["fresh doc one", "fresh doc two"]}
            )
        )
        seen: list = []
        fn = sp.make_curation_batch_fn(
            corpus,
            lambda df, bid: seen.append(
                {(bid, r["doc_id"], r["quality"]) for r in df.collect()}
            ),
            min_quality=0.0,
            threshold=0.5,
        )
        fn(batch, 0)
        fn(batch, 0)  # replay after a simulated failure
        assert seen[0] == seen[1] and seen[0]

    def test_curation_editdist_arm_catches_near_verbatim(self, spark):
        """The edit-distance arm enforces near-verbatim rejection
        independently of the Jaccard knob: with the MinHash threshold set
        strict (0.99), a one-char-edited copy slips the Jaccard arm but
        the editdist arm (0.9) flags it; without the arm it is accepted.
        Both arms share the ONE per-stream pinned corpus shingle frame."""
        import pandas as pd

        base = "a long enough shared document body with many words " * 3
        corpus = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "text": [base]})
        )
        batch = spark.createDataFrame(
            pd.DataFrame({"doc_id": [10, 11], "text": [base[:-1] + "!",
                                                       "fresh unseen one"]})
        )
        got: list = []

        def sink(df, bid):
            got.append({r["doc_id"] for r in df.collect()})

        fn_no_arm = sp.make_curation_batch_fn(
            corpus, sink, min_quality=0.0, threshold=0.99
        )
        fn_no_arm(batch, 0)
        fn_armed = sp.make_curation_batch_fn(
            corpus, sink, min_quality=0.0, threshold=0.99,
            editdist_threshold=0.9,
        )
        fn_armed(batch, 0)
        assert 10 in got[0]  # Jaccard 0.99 alone misses the one-char edit
        assert got[1] == {11}  # editdist arm rejects it; fresh doc passes

    def test_editdist_arm_short_circuit_skips_jaccard_flagged(self, spark):
        """VERDICT r12 #6, arm ordering: docs the cheap Jaccard arm
        already flagged never reach the banded DP — the residue fed to
        the edit-distance arm is exactly (batch − jaccard-flagged), which
        strips the DP's measured worst case (accept-heavy true
        near-dups) while the composed flag set stays IDENTICAL.  Pinned
        structurally (DP candidate counts on a dup-heavy batch), not by
        wall-clock."""
        import pandas as pd

        from data_engineering_project_utn_spark.llm.dedup import incremental_neardup

        base = "a long enough shared document body with many words " * 3
        corpus = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "text": [base]})
        )
        # dup-heavy batch: 6 verbatim-ish copies (Jaccard flags them),
        # 1 one-char edit (only editdist catches at tau 0.99), 1 fresh
        rows = {10 + i: base for i in range(6)}
        rows[20] = base[:-1] + "!"
        rows[21] = "fresh unseen content nothing like the corpus"
        batch = spark.createDataFrame(
            pd.DataFrame({"doc_id": list(rows), "text": list(rows.values())})
        )
        jac = incremental_neardup(batch, corpus, threshold=0.99)
        jac_flagged = {r["doc_new"] for r in jac.collect()}
        residue = batch.join(
            jac.select(F.col("doc_new").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        )
        full_dp = incremental_neardup(
            batch, corpus, threshold=0.9, verifier="editdist"
        )
        res_dp = incremental_neardup(
            residue, corpus, threshold=0.9, verifier="editdist"
        )
        # the DP's input shrinks by exactly the Jaccard-flagged docs...
        assert res_dp.count() < full_dp.count()
        # ...and the composed flag set is identical either way
        full_flags = jac_flagged | {r["doc_new"] for r in full_dp.collect()}
        sc_flags = jac_flagged | {r["doc_new"] for r in res_dp.collect()}
        assert sc_flags == full_flags == set(rows) - {21}
        # the factory path agrees end-to-end
        got: list = []
        fn = sp.make_curation_batch_fn(
            corpus, lambda df, bid: got.append({r["doc_id"] for r in df.collect()}),
            min_quality=0.0, threshold=0.99, editdist_threshold=0.9,
        )
        fn(batch, 0)
        assert got[0] == {21}

    def test_curation_gate_at_rest_mode_parity(self, spark, sf_dir):
        """The composed curation gate over the AT-REST structures (band
        index + bucketed corpus): identical accept set to the persisted-
        corpus mode, and NOTHING persisted for the lexical arms."""
        from data_engineering_project_utn_spark.plans.llm_dedup_plans import (
            _dedup_band_index_bucketed,
            _dedup_corpus_bucketed,
        )
        from data_engineering_project_utn_spark.tables import load_table

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        corpus = docs.filter(F.col("doc_id") % 3 != 0)
        batch = docs.filter((F.col("doc_id") % 3 == 0) & (F.col("doc_id") < 90))
        bidx = _dedup_band_index_bucketed(spark, sf_dir).filter(
            F.col("doc_id") % 3 != 0
        )
        bkt = _dedup_corpus_bucketed(spark, sf_dir).filter(
            F.col("doc_id") % 3 != 0
        )
        got: list = []

        def sink(df, bid):
            got.append({r["doc_id"] for r in df.collect()})

        fn_pinned = sp.make_curation_batch_fn(
            corpus, sink, min_quality=0.0, threshold=0.5,
            editdist_threshold=0.9,
        )
        fn_pinned(batch, 0)
        assert fn_pinned.release_corpus_pins() == 1  # the corpus shingles

        jsc = spark.sparkContext._jsc.sc()
        before = jsc.getPersistentRDDs().size()
        fn_idx = sp.make_curation_batch_fn(
            corpus, sink, min_quality=0.0, threshold=0.5,
            editdist_threshold=0.9,
            band_index=bidx, corpus_at_rest=bkt,
        )
        fn_idx(batch, 1)
        # lexical arms persist nothing that outlives the batch
        assert jsc.getPersistentRDDs().size() <= before
        assert got[1] == got[0] and len(got[0]) > 0
        assert fn_idx.release_corpus_pins() == 0

    def test_curation_model_gate_requires_embedding_column(self, spark):
        """A configured learned filter (model_w set) must FAIL LOUDLY when
        the batch lacks the embedding column (e.g. misnamed) — silently
        disabling the gate would accept everything with no signal."""
        import pandas as pd

        corpus = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "text": ["corpus body of words here"]})
        )
        batch = spark.createDataFrame(
            pd.DataFrame({"doc_id": [10], "text": ["fresh doc one"]})
        )
        fn = sp.make_curation_batch_fn(
            corpus,
            lambda df, bid: df.collect(),
            min_quality=0.0,
            threshold=0.5,
            model_w=[1, 0, 0, 0],
        )
        with pytest.raises(ValueError, match="embedding"):
            fn(batch, 0)


class TestSocketSink:
    """Outbound twin of TestSocketTransport: a streaming query's batches are
    serialized with the Kafka-sink payload builder and shipped over a real
    TCP connection; the receiver's parsed lines must equal the batch
    serialization of the same data — the full sink path (serialize →
    network) executed, jar-free."""

    def test_sink_roundtrip_over_tcp(self, spark, tmp_path):
        import json
        import socket
        import threading

        from data_engineering_project_utn_spark.sources import io as src_io

        pdf = _event_pdf(30)
        path = str(tmp_path / "sink_events")
        spark.createDataFrame(pdf, EVENT_SCHEMA).coalesce(1).write.parquet(path)

        server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        server.bind(("127.0.0.1", 0))
        server.listen(2)
        port = server.getsockname()[1]
        received: list[str] = []
        done = threading.Event()

        def serve():
            try:
                while not done.is_set():
                    server.settimeout(60)
                    try:
                        conn, _ = server.accept()
                    except socket.timeout:
                        break
                    with conn:
                        buf = b""
                        while chunk := conn.recv(65536):
                            buf += chunk
                        received.extend(
                            ln for ln in buf.decode().splitlines() if ln
                        )
            finally:
                server.close()

        t = threading.Thread(target=serve, daemon=True)
        t.start()

        stream = sp.file_stream(spark, path, EVENT_SCHEMA)
        q = (
            stream.writeStream.foreachBatch(
                sp.make_tcp_json_sink_batch_fn("127.0.0.1", port)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt_tcp_sink"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        done.set()
        t.join(timeout=10)

        batch = spark.read.schema(EVENT_SCHEMA).parquet(path)
        expected = {r["value"] for r in src_io.to_json_rows(batch).collect()}
        got = set(received)
        assert got == expected and len(received) == len(pdf)
        # messages are valid JSON with the full column set
        sample = json.loads(received[0])
        assert set(sample) == {f.name for f in EVENT_SCHEMA.fields}

    def test_partition_sink_is_executor_side(self, spark, tmp_path):
        """foreachPartition TCP sink: every row arrives intact AND the
        connection count equals the non-empty partitions of the batch —
        one connection per task, which is only possible if each task ships
        its own partition (the driver-collect path would open exactly one
        connection per micro-batch)."""
        import socket
        import threading

        from data_engineering_project_utn_spark.sources import io as src_io

        pdf = _event_pdf(80)
        path = str(tmp_path / "psink_events")
        # 4 files -> the availableNow batch scans 4 partitions
        spark.createDataFrame(pdf, EVENT_SCHEMA).repartition(4).write.parquet(path)

        server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        server.bind(("127.0.0.1", 0))
        server.listen(16)
        port = server.getsockname()[1]
        received: list[str] = []
        n_connections = [0]
        lock = threading.Lock()
        done = threading.Event()

        def handle(conn):
            with conn:
                buf = b""
                while chunk := conn.recv(65536):
                    buf += chunk
            with lock:
                received.extend(ln for ln in buf.decode().splitlines() if ln)

        def serve():
            try:
                while not done.is_set():
                    server.settimeout(60)
                    try:
                        conn, _ = server.accept()
                    except socket.timeout:
                        break
                    with lock:
                        n_connections[0] += 1
                    threading.Thread(target=handle, args=(conn,), daemon=True).start()
            finally:
                server.close()

        t = threading.Thread(target=serve, daemon=True)
        t.start()

        stream = sp.file_stream(spark, path, EVENT_SCHEMA)
        q = (
            stream.writeStream.foreachBatch(
                sp.make_tcp_json_sink_partition_fn("127.0.0.1", port)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt_psink"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        import time

        deadline = time.time() + 30
        while time.time() < deadline and len(received) < len(pdf):
            time.sleep(0.2)
        done.set()

        batch = spark.read.schema(EVENT_SCHEMA).parquet(path)
        expected = {r["value"] for r in src_io.to_json_rows(batch).collect()}
        assert set(received) == expected and len(received) == len(pdf)
        # executor-side evidence: one connection per non-empty partition
        assert n_connections[0] >= 2


RAW_STRING_SCHEMA = T.StructType(
    [
        T.StructField("instance_id", T.StringType()),
        T.StructField("user_id", T.StringType()),
        T.StructField("query_id", T.StringType()),
        T.StructField("arrival_timestamp", T.StringType()),
        T.StructField("compile_duration_ms", T.StringType()),
        T.StructField("execution_duration_ms", T.StringType()),
        T.StructField("was_aborted", T.StringType()),
        T.StructField("was_cached", T.StringType()),
    ]
)

REDSET_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("instance_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("query_id", T.LongType()),
        T.StructField("arrival_timestamp", T.TimestampType()),
        T.StructField("compile_duration_ms", T.DoubleType()),
        T.StructField("execution_duration_ms", T.LongType()),
        T.StructField("was_aborted", T.BooleanType()),
        T.StructField("was_cached", T.BooleanType()),
    ]
)


def _redset_pdf(n: int = 100) -> pd.DataFrame:
    """Producer-shaped redset rows: unique query_id, second-aligned
    timestamps (lossless through the ISO JSON serialization)."""
    return pd.DataFrame(
        {
            "instance_id": [i % 3 for i in range(n)],
            "user_id": [i % 7 for i in range(n)],
            "query_id": list(range(n)),
            "arrival_timestamp": pd.date_range("2024-03-01", periods=n, freq="10s"),
            "compile_duration_ms": [float((i * 37) % 9000) for i in range(n)],
            # 937 coprime to 4000 -> distinct values scattered across the
            # full range (the all-data top-5 spans both replay phases)
            "execution_duration_ms": [100 + (i * 937) % 4000 for i in range(n)],
            "was_aborted": [i % 7 == 0 for i in range(n)],
            "was_cached": [i % 3 == 0 for i in range(n)],
        }
    )


class TestLivePlaneEndToEnd:
    """The reference's full live plane, executed as one wired pipeline
    (`Real Final APP/Dashboard_Main.py` Aggregate View loop /
    `Dashboard_Live_Final.py:93-210`): replay producer → network transport
    → JSON decode → clean_redset → 60 s window counters (memory table +
    TCP JSON sink) ∥ RunningTopK leaderboard.  Two tests split the claims
    by what each transport can prove:

    * live TCP (socket source): serialize → wire → parse → clean →
      stateful window agg → outbound TCP sink, all while the bytes really
      move — parity with the identical batch composition over the same
      payload.
    * checkpoint recovery: the same ``start_live_plane`` wiring on the
      replayable file source (Spark documents the socket source as
      fault-intolerant, so restart semantics are only defined for
      replayable sources — same reason production runs Kafka): stop after
      phase 1, restart against the same checkpoints, and the restored
      window state + restored leaderboard state must absorb phase 2 into
      exactly the all-data batch answer.
    """

    def _expected(self, spark, lines):
        """Batch composition over the same payload lines, byte-identical
        transforms: decode → clean → counters / top-5."""
        raw = spark.createDataFrame([(ln,) for ln in lines], "value string")
        decoded = sp.json_value_columns(raw, RAW_STRING_SCHEMA)
        from data_engineering_project_utn_spark.operators.clean import clean_redset

        cleaned = clean_redset(decoded)
        counters = {
            tuple(r)
            for r in sp.live_window_counters(cleaned).collect()
        }
        top5 = sorted(
            (r["query_id"], r["execution_duration_ms"])
            for r in cleaned.orderBy(
                F.desc("execution_duration_ms"), "query_id"
            ).limit(5).collect()
        )
        return counters, top5

    def test_live_plane_over_tcp_matches_batch(self, spark, tmp_path):
        import json
        import socket
        import threading
        import time

        from data_engineering_project_utn_spark.sources import io as src_io

        pdf = _redset_pdf(100)
        typed = spark.createDataFrame(pdf, REDSET_EVENT_SCHEMA)
        lines = [r["value"] for r in src_io.to_json_rows(typed).collect()]
        payload = ("\n".join(lines) + "\n").encode()

        # replay producer: serves the full payload to EVERY consumer
        # connection (each streaming query is its own consumer, exactly
        # like consumer groups on one Kafka topic)
        producer = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        producer.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        producer.bind(("127.0.0.1", 0))
        producer.listen(8)
        p_port = producer.getsockname()[1]
        done = threading.Event()

        def produce():
            conns = []
            try:
                while not done.is_set():
                    producer.settimeout(1)
                    try:
                        conn, _ = producer.accept()
                    except socket.timeout:
                        continue
                    conn.sendall(payload)
                    conns.append(conn)  # hold open until asserted
            finally:
                for c in conns:
                    c.close()
                producer.close()

        # receiver for the outbound counters sink: per-connection groups
        receiver = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        receiver.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        receiver.bind(("127.0.0.1", 0))
        receiver.listen(8)
        r_port = receiver.getsockname()[1]
        groups: list[list[str]] = []
        glock = threading.Lock()

        def receive():
            try:
                while not done.is_set():
                    receiver.settimeout(1)
                    try:
                        conn, _ = receiver.accept()
                    except socket.timeout:
                        continue
                    with conn:
                        buf = b""
                        while chunk := conn.recv(65536):
                            buf += chunk
                    with glock:
                        groups.append(
                            [ln for ln in buf.decode().splitlines() if ln]
                        )
            finally:
                receiver.close()

        threading.Thread(target=produce, daemon=True).start()
        threading.Thread(target=receive, daemon=True).start()

        raw = sp.socket_json_stream(spark, "127.0.0.1", p_port, RAW_STRING_SCHEMA)
        plane = sp.start_live_plane(
            raw,
            str(tmp_path / "lp_ckpt"),
            counters_sink=sp.make_tcp_json_sink_batch_fn("127.0.0.1", r_port),
            counters_query_name="lp_tcp_counters",
            k=5,
        )
        exp_counters, exp_top5 = self._expected(spark, lines)
        n = len(pdf)
        try:
            deadline = time.time() + 120
            got_counters: set = set()
            got_top5: list = []
            last_group: list[str] = []
            while time.time() < deadline:
                got_counters = {
                    tuple(r) for r in spark.sql(
                        "SELECT * FROM lp_tcp_counters"
                    ).collect()
                }
                if plane["topk"].top is not None:
                    got_top5 = sorted(
                        zip(
                            plane["topk"].top["query_id"],
                            plane["topk"].top["execution_duration_ms"],
                        )
                    )
                with glock:
                    last_group = groups[-1] if groups else []
                if (
                    got_counters == exp_counters
                    and got_top5 == exp_top5
                    and len(last_group) == len(exp_counters)
                ):
                    break
                time.sleep(0.5)
        finally:
            for key in ("counters_query", "sink_query", "topk_query"):
                if plane[key] is not None:
                    plane[key].stop()
            done.set()

        # window counters: streaming complete-mode table == batch answer
        assert got_counters == exp_counters
        # leaderboard: running top-5 == batch top-5
        assert got_top5 == exp_top5
        # outbound sink: the last shipped batch is the full counter set,
        # parsed back from the wire
        shipped = {
            (
                d["start"],
                d["end"],
                d["total_queries"],
                d["aborted_queries"],
                d["cached_queries"],
                d["successful_queries"],
            )
            for d in (json.loads(ln) for ln in last_group)
        }
        expected_shipped = {
            (
                r[0].strftime("%Y-%m-%dT%H:%M:%S"),
                r[1].strftime("%Y-%m-%dT%H:%M:%S"),
                r[2],
                r[3],
                r[4],
                r[5],
            )
            for r in exp_counters
        }
        assert shipped == expected_shipped

    def test_live_plane_checkpoint_recovery(self, spark, tmp_path):
        import time

        pdf = _redset_pdf(100)
        src = str(tmp_path / "lp_rec_src")
        ckpt = str(tmp_path / "lp_rec_ckpt")
        spark.createDataFrame(pdf.iloc[:60], REDSET_EVENT_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(src)

        def run_phase(qname):
            stream = sp.file_stream(
                spark, src, REDSET_EVENT_SCHEMA, max_files_per_trigger=1
            )
            plane = sp.start_live_plane(
                stream,
                ckpt,
                counters_query_name=qname,
                k=5,
                trigger={"availableNow": True},
            )
            plane["counters_query"].awaitTermination(120)
            plane["topk_query"].awaitTermination(120)
            for key in ("counters_query", "sink_query", "topk_query"):
                if plane[key] is not None:
                    plane[key].stop()
            return plane

        plane1 = run_phase("lp_rec_phase1")
        time.sleep(0.2)
        assert (
            sum(
                r["total_queries"]
                for r in spark.sql("SELECT * FROM lp_rec_phase1").collect()
            )
            == 60
        )
        assert plane1["topk"].top is not None  # state file written

        # phase 2: new data lands, new session of the same plane resumes
        # from the same checkpoints — window state and leaderboard state
        # must both carry over
        spark.createDataFrame(pdf.iloc[60:], REDSET_EVENT_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(src)
        plane2 = run_phase("lp_rec_phase2")
        time.sleep(0.2)

        from data_engineering_project_utn_spark.operators.clean import clean_redset

        all_clean = clean_redset(spark.createDataFrame(pdf, REDSET_EVENT_SCHEMA))
        exp_counters = {
            tuple(r) for r in sp.live_window_counters(all_clean).collect()
        }
        got_counters = {
            tuple(r) for r in spark.sql("SELECT * FROM lp_rec_phase2").collect()
        }
        assert got_counters == exp_counters

        exp_top5 = sorted(
            (r["query_id"], r["execution_duration_ms"])
            for r in all_clean.orderBy(
                F.desc("execution_duration_ms"), "query_id"
            ).limit(5).collect()
        )
        got_top5 = sorted(
            zip(
                plane2["topk"].top["query_id"],
                plane2["topk"].top["execution_duration_ms"],
            )
        )
        assert got_top5 == exp_top5
        # the restored leaderboard must include phase-1 rows the phase-2
        # batches never saw — proves it recovered, not recomputed
        phase2_ids = set(pdf.iloc[60:]["query_id"])
        assert any(qid not in phase2_ids for qid, _ in got_top5)


class TestIndexProbeAtRest:
    """The production nightly-batch shape: corpus summaries (n-gram count
    index + Bloom bits) persisted as parquet at rest, new micro-batches
    probed against the READ-BACK frames — no corpus rows touched."""

    def test_stream_probe_matches_one_shot_batch(self, spark, tmp_path):
        from data_engineering_project_utn_spark.llm import sketch as sk
        from data_engineering_project_utn_spark.llm import spans as sn
        from data_engineering_project_utn_spark.llm import text as tx

        doc_schema = "doc_id long, text string"
        corpus_texts = [
            "c1 c2 c3 c4 c5 c6 c7",          # duplicated by incoming doc 100
            "k1 k2 k3 k4 k5 k6",             # clean
            "bench1 bench2 bench3 bench4",   # contamination source
        ]
        corpus = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 2, 3], "text": corpus_texts}), doc_schema
        )
        inc = pd.DataFrame(
            {
                "doc_id": [100, 101, 102, 103],
                "text": [
                    "c1 c2 c3 c4 c5 c6 c7",              # dup of corpus 1
                    "u1 u2 u3 u4 u5 u6 u7",              # clean, unique
                    "zz bench1 bench2 bench3 qq",        # contaminated 3-gram
                    "u1 u2 u3 u4 u5 u6 u7",              # dup WITHIN incoming
                ],
            }
        )

        # --- persist the at-rest structures, then read them back ---
        idx_dir = str(tmp_path / "ngram_index")
        bits_dir = str(tmp_path / "bloom_bits")
        sn.ngram_count_index(corpus, n=5).write.parquet(idx_dir)
        bench_sh = corpus.select(
            F.explode(
                F.array_distinct(F.transform(tx.shingles("text", 3), F.md5))
            ).alias("h")
        ).distinct()
        sk.bloom_bits(bench_sh, "h", m=4096, k=3).write.parquet(bits_dir)
        span_index = spark.read.parquet(idx_dir)
        bloom_bits = spark.read.parquet(bits_dir)

        in_dir = str(tmp_path / "docs_in")
        spark.createDataFrame(inc.iloc[:2], doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        spark.createDataFrame(inc.iloc[2:], doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

        rows: dict = {}

        def sink(df, batch_id):
            for r in df.collect():
                rows[r["doc_id"]] = (
                    r["total_tokens"],
                    r["dup_tokens"],
                    r["contaminated"],
                )

        stream = (
            spark.readStream.schema(doc_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = (
            stream.writeStream.foreachBatch(
                sp.make_index_probe_batch_fn(span_index, bloom_bits, sink)
            )
            .option("checkpointLocation", str(tmp_path / "probe_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        # full dup vs corpus index; bloom (built over ALL corpus shingles)
        # also flags it — duplication IS contamination here
        assert rows[100] == (7, 7, True)
        assert rows[101][2] is False        # clean
        assert rows[102][2] is True         # bloom flags the bench 3-gram
        assert rows[102][1] == 0            # but no 5-gram span dup
        # within-batch duplicate pair 101/103 landed in DIFFERENT micro-
        # batches here, so neither sees the other (corpus-vs-batch terms
        # are batch-independent; within-batch extras are schedule-local)
        assert rows[103][1] == 0 and rows[101][1] == 0

    def test_same_batch_within_duplication_detected(self, spark, tmp_path):
        from data_engineering_project_utn_spark.llm import sketch as sk
        from data_engineering_project_utn_spark.llm import spans as sn

        doc_schema = "doc_id long, text string"
        corpus = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "text": ["k1 k2 k3 k4 k5"]}), doc_schema
        )
        inc = pd.DataFrame(
            {"doc_id": [100, 101], "text": ["w1 w2 w3 w4 w5"] * 2}
        )
        in_dir = str(tmp_path / "docs_in2")
        spark.createDataFrame(inc, doc_schema).coalesce(1).write.parquet(in_dir)

        span_index = sn.ngram_count_index(corpus, n=5)
        bits = sk.bloom_bits(
            corpus.select(F.md5("text").alias("h")), "h", m=4096, k=3
        )
        got: dict = {}

        def sink(df, batch_id):
            for r in df.collect():
                got[r["doc_id"]] = r["dup_tokens"]

        stream = (
            spark.readStream.schema(doc_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = (
            stream.writeStream.foreachBatch(
                sp.make_index_probe_batch_fn(span_index, bits, sink)
            )
            .option("checkpointLocation", str(tmp_path / "probe_ckpt2"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # both copies arrived in ONE micro-batch → mutual duplication seen
        assert got == {100: 5, 101: 5}


class TestWindowedHLL:
    def test_stream_registers_match_batch_and_estimate(self, spark, tmp_path):
        """Streaming per-window HLL registers ≡ the batch grouped sketch
        over the same rows (max is idempotent/commutative → micro-batch
        boundaries are invisible), and the estimate from the streamed
        registers tracks per-window exact distincts."""
        from data_engineering_project_utn_spark.llm import sketch as sk

        pdf = _event_pdf(120)  # 10s apart → 60s windows of 6 events
        path = str(tmp_path / "hll_events")
        spark.createDataFrame(pdf.iloc[:50], EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(path)
        spark.createDataFrame(pdf.iloc[50:], EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(path)

        stream = sp.file_stream(spark, path, EVENT_SCHEMA, max_files_per_trigger=1)
        regs_stream = sp.windowed_hll_registers(
            stream, "compile_duration_ms", b=6
        )
        _run_to_memory(regs_stream, "hll_regs", tmp_path, output_mode="complete")
        streamed = {
            (r["win_start"], r["bucket"]): r["M"]
            for r in spark.table("hll_regs").collect()
        }

        batch = spark.read.schema(EVENT_SCHEMA).parquet(path)
        batch_regs = sk.hll_registers_grouped(
            batch.select(
                F.window("arrival_timestamp", "60 seconds")["start"].alias(
                    "win_start"
                ),
                F.col("compile_duration_ms").cast("string").alias("item"),
            ),
            "item",
            ["win_start"],
            b=6,
        )
        expected = {
            (r["win_start"], r["bucket"]): r["M"] for r in batch_regs.collect()
        }
        assert streamed == expected  # bit-identical registers

        est = sk.hll_estimate_grouped(
            spark.table("hll_regs"), ["win_start"], b=6
        ).toPandas().set_index("win_start")["hll_estimate"]
        exact = (
            batch.select(
                F.window("arrival_timestamp", "60 seconds")["start"].alias("w"),
                "compile_duration_ms",
            )
            .groupBy("w")
            .agg(F.countDistinct("compile_duration_ms").alias("x"))
            .toPandas()
            .set_index("w")["x"]
        )
        for w, x in exact.items():
            assert abs(int(est[w]) - int(x)) <= max(3, 0.5 * x)  # small-n HLL


class TestWindowedCM:
    def test_stream_counters_match_batch_per_window(self, spark, tmp_path):
        from data_engineering_project_utn_spark.llm import sketch as sk

        pdf = _event_pdf(120)
        path = str(tmp_path / "cm_events")
        spark.createDataFrame(pdf.iloc[:60], EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(path)
        spark.createDataFrame(pdf.iloc[60:], EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(path)

        stream = sp.file_stream(spark, path, EVENT_SCHEMA, max_files_per_trigger=1)
        counters = sp.windowed_cm_counters(
            stream, "instance_id", depth=2, width=64
        )
        _run_to_memory(counters, "cm_counters", tmp_path, output_mode="complete")
        streamed = {
            (r["win_start"], r["d"], r["bucket"]): r["cnt"]
            for r in spark.table("cm_counters").collect()
        }

        batch = spark.read.schema(EVENT_SCHEMA).parquet(path)
        wins = batch.select(
            F.window("arrival_timestamp", "60 seconds")["start"].alias("win_start"),
            F.col("instance_id").cast("string").alias("item"),
        )
        expected = {}
        for w in [r["win_start"] for r in wins.select("win_start").distinct().collect()]:
            sub = wins.filter(F.col("win_start") == w)
            for r in sk.cm_counters(sub, "item", depth=2, width=64).collect():
                expected[(w, r["d"], r["bucket"])] = r["cnt"]
        assert streamed == expected  # counter-for-counter


class TestWindowedQuantileSketch:
    def test_stream_sample_matches_batch_and_bounds_state(self, spark, tmp_path):
        """The streamed per-window bottom-k sample at rest must equal the
        batch ``bottomk_sample_grouped`` over every row the stream saw —
        the KMV merge identity makes micro-batch boundaries invisible
        (VERDICT r06 #5) — and hold ≤ k rows per window.  Quantile
        estimates from the streamed sample must match the same order
        statistic computed in batch."""
        from data_engineering_project_utn_spark.llm import sketch as sk

        pdf = _event_pdf(120)
        path = str(tmp_path / "bk_events")
        spark.createDataFrame(pdf.iloc[:55], EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(path)
        spark.createDataFrame(pdf.iloc[55:], EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(path)
        state_dir = str(tmp_path / "bk_state")

        stream = sp.file_stream(spark, path, EVENT_SCHEMA, max_files_per_trigger=1)
        q = (
            stream.writeStream.foreachBatch(
                sp.make_windowed_bottomk_batch_fn(
                    state_dir,
                    key_col="compile_duration_ms",
                    value_col="compile_duration_ms",
                    k=8,
                )
            )
            .option("checkpointLocation", str(tmp_path / "bk_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        streamed = spark.read.parquet(state_dir)
        got = {
            (r["win_start"], r["skey"]) for r in streamed.collect()
        }

        batch = spark.read.schema(EVENT_SCHEMA).parquet(path)
        rows = batch.select(
            F.window("arrival_timestamp", "60 seconds")["start"].alias("win_start"),
            F.col("compile_duration_ms").cast("string").alias("skey"),
            F.col("compile_duration_ms").alias("val"),
        )
        # The batch reference the fn documents: duplicates aggregated to
        # one row per (window, key) with MIN(val) — compile_duration_ms
        # repeats, so this exercises the duplicate-key path (ADVICE r07).
        expected_frame = sk.bottomk_sample_grouped(
            rows.groupBy("win_start", "skey").agg(F.min("val").alias("val")),
            "skey",
            ["win_start"],
            k=8,
        )
        expected = {
            (r["win_start"], r["skey"]) for r in expected_frame.collect()
        }
        assert got == expected  # row-for-row the batch sample

        per_win = streamed.groupBy("win_start").count().collect()
        assert per_win and all(r["count"] <= 8 for r in per_win)

        est_stream = {
            (r["win_start"], r["decile"]): r["est_value"]
            for r in sp.windowed_quantile_estimates(streamed, [5, 9]).collect()
        }
        est_batch = {
            (r["win_start"], r["decile"]): r["est_value"]
            for r in sp.windowed_quantile_estimates(expected_frame, [5, 9]).collect()
        }
        assert est_stream == est_batch and est_stream


class TestStreamStreamJoin:
    def test_interval_join_matches_batch(self, spark, tmp_path):
        """Stream-stream interval join ≡ the identical batch join —
        micro-batch boundaries must be invisible even when matching
        events arrive in DIFFERENT micro-batches (the left/right file
        splits below interleave timestamps across the split point)."""
        pdf = _event_pdf(120)
        left_pdf = pdf.iloc[::2]   # even rows -> "views"
        right_pdf = pdf.iloc[1::2]  # odd rows -> "purchases"
        lpath, rpath = str(tmp_path / "ssj_left"), str(tmp_path / "ssj_right")
        for path, side in ((lpath, left_pdf), (rpath, right_pdf)):
            spark.createDataFrame(side.iloc[:30], EVENT_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(path)
            spark.createDataFrame(side.iloc[30:], EVENT_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(path)

        lstream = sp.file_stream(spark, lpath, EVENT_SCHEMA, max_files_per_trigger=1)
        rstream = sp.file_stream(spark, rpath, EVENT_SCHEMA, max_files_per_trigger=1)
        joined = sp.stream_stream_interval_join(
            lstream, rstream, watermark="30 seconds", within="1 minute"
        )
        _run_to_memory(joined, "ssj", tmp_path)
        got = {
            (r["instance_id"], r["l_ts"], r["r_ts"])
            for r in spark.table("ssj").collect()
        }

        lb = spark.read.schema(EVENT_SCHEMA).parquet(lpath)
        rb = spark.read.schema(EVENT_SCHEMA).parquet(rpath)
        expected = {
            (r["instance_id"], r["l_ts"], r["r_ts"])
            for r in sp.stream_stream_interval_join(
                lb, rb, watermark="30 seconds", within="1 minute"
            ).collect()
        }
        assert expected  # the interleave guarantees matches exist
        assert got == expected

    def test_join_state_is_interval_bounded(self, spark, tmp_path):
        """The two-sided time condition must produce a bounded-state plan:
        Spark derives a state watermark for BOTH sides (visible as
        watermark predicates in the executed plan), so buffered rows
        evict instead of accumulating forever."""
        pdf = _event_pdf(24)
        lpath = str(tmp_path / "ssjb_left")
        spark.createDataFrame(pdf, EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(lpath)
        lstream = sp.file_stream(spark, lpath, EVENT_SCHEMA)
        rstream = sp.file_stream(spark, lpath, EVENT_SCHEMA)
        joined = sp.stream_stream_interval_join(
            lstream, rstream, watermark="30 seconds", within="1 minute"
        )
        q = (
            joined.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ssjb_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        progress = q.lastProgress
        assert progress is not None
        ops = progress["stateOperators"]
        assert ops and ops[0]["operatorName"] == "symmetricHashJoin"


class TestSnapshotRotation:
    """Crash-recovery contract of the state snapshot rotation (ADVICE r08):
    rename/delete return values are checked, a newer COMPLETE .tmp beats
    the older .bak, and an incomplete .tmp never lingers as an ambiguous
    third snapshot."""

    def test_recovery_prefers_complete_tmp(self, spark, tmp_path):
        """Crash between the two rotation renames leaves bak=old +
        tmp=new(complete, _SUCCESS present) and no primary: recovery must
        promote the NEWER tmp and drop the stale bak."""
        import os

        state = str(tmp_path / "rot_state")
        spark.createDataFrame([(1,)], "v int").write.parquet(state + ".bak")
        spark.createDataFrame([(2,)], "v int").write.parquet(state + ".tmp")
        got = sp._read_state(spark, state)
        assert got is not None
        assert [r.v for r in got.collect()] == [2]
        assert not os.path.exists(state + ".bak")
        assert not os.path.exists(state + ".tmp")
        assert os.path.exists(state)

    def test_recovery_falls_back_to_bak_and_drops_torn_tmp(self, spark, tmp_path):
        """Crash mid-.tmp-write (no _SUCCESS marker) plus a missing
        primary: recovery must restore the bak snapshot and delete the
        torn tmp."""
        import os

        state = str(tmp_path / "rot_state2")
        spark.createDataFrame([(1,)], "v int").write.parquet(state + ".bak")
        spark.createDataFrame([(2,)], "v int").write.parquet(state + ".tmp")
        os.remove(state + ".tmp/_SUCCESS")
        got = sp._read_state(spark, state)
        assert got is not None
        assert [r.v for r in got.collect()] == [1]
        assert not os.path.exists(state + ".tmp")

    def test_write_then_read_roundtrip_checks_metadata_ops(self, spark, tmp_path):
        """Normal rotation path with every rename/delete return value
        checked: two successive writes, reader always sees the latest."""
        state = str(tmp_path / "rot_state3")
        df1 = spark.createDataFrame([(1,)], "v int")
        sp._write_state_atomic(df1, spark, state)
        df2 = spark.createDataFrame([(2,)], "v int")
        sp._write_state_atomic(df2, spark, state)
        got = sp._read_state(spark, state)
        assert [r.v for r in got.collect()] == [2]

    def test_must_raises_on_false(self):
        with pytest.raises(IOError):
            sp._must(False, "simulated rename failure")
        sp._must(True, "ok")


class TestIntervalValidation:
    def test_malformed_within_raises_early(self):
        """'10 min' is not a Spark interval unit — it must raise a
        descriptive ValueError up front, not an opaque analysis error at
        join planning time (ADVICE r08)."""
        with pytest.raises(ValueError, match="within"):
            sp.stream_stream_interval_join(None, None, within="10 min")
        with pytest.raises(ValueError, match="watermark"):
            sp.stream_stream_interval_join(
                None, None, within="10 minutes", watermark="1 hr"
            )

    def test_valid_units_accepted(self):
        for ok in ("1 second", "10 minutes", "2 hours", "1 day", "3 weeks"):
            sp._check_interval(ok, "within")


class TestSemanticCurationStream:
    """VERDICT r10 #7: the streaming curation gate's SEMANTIC arm — the
    two-level-quantizer embedding dedup composed into the micro-batch fn
    with batch-vs-corpus asymmetry, plus the batching-independence parity
    the MinHash arm already pins."""

    D = 4

    def _vec(self, seed, eps=0.0):
        base = {
            "a": [1.0, 0.1, 0.0, 0.0],
            "b": [0.0, 1.0, 0.1, 0.0],
            "c": [0.0, 0.0, 1.0, 0.1],
            "d": [0.1, 0.0, 0.0, 1.0],
        }[seed]
        return [x + (eps if i == 0 else 0.0) for i, x in enumerate(base)]

    def _fixture(self, spark):
        """Corpus of 4 docs whose embeddings are also the centroids; the
        incoming batch holds one text near-dup (flagged by MinHash), one
        PARAPHRASE — disjoint text, near-identical embedding (only the
        semantic arm can flag it) — and two genuinely new docs."""
        base = "a long enough shared document body with many words " * 3
        rich = (
            "the market of ideas is open and it is a fair trade of thought "
            "to reason in the open air with many distinct words "
        )
        corpus = spark.createDataFrame(
            [(1, base), (2, "other corpus content entirely unrelated here")],
            "doc_id long, text string",
        )
        cvecs = [self._vec(s) for s in "abcd"]
        corpus_emb = spark.createDataFrame(
            [(i, v) for i, v in enumerate(cvecs)],
            "doc_id long, embedding array<double>",
        )
        centroids = spark.createDataFrame(
            [(i, v) for i, v in enumerate(cvecs)], "cid int, cv array<double>"
        )
        inc = [
            # text near-dup of corpus doc 1, embedding far from everything
            (10, base + " slightly extended", self._vec("b", 0.4)),
            # PARAPHRASE: no shared shingles, embedding ≈ corpus vec 'a'
            (11, rich, self._vec("a", 1e-6)),
            # clean: distinct text AND distinct-direction embeddings
            (12, rich + " but argued from first principles instead",
             self._vec("c", 0.4)),
            (13, "completely different prose goes here with many new words "
                 "arranged in a long and unrepeated order of tokens",
             self._vec("d", 0.4)),
        ]
        return corpus, corpus_emb, centroids, inc

    def test_semantic_probe_is_asymmetric_and_broadcast(self, spark):
        """incremental_semantic_neardup: only batch→corpus pairs (never
        corpus² or batch²), the paraphrase found at the cosine threshold,
        and the corpus cell frame probed WITHOUT a wide exchange — the
        batch side broadcasts."""
        from data_engineering_project_utn_spark.llm.dedup import (
            incremental_semantic_neardup,
        )

        _, corpus_emb, centroids, inc = self._fixture(spark)
        batch = spark.createDataFrame(
            [(i, v) for i, _, v in inc], "doc_id long, embedding array<double>"
        )
        pairs = incremental_semantic_neardup(
            batch, corpus_emb, centroids, threshold=0.99
        )
        got = {(int(r["doc_new"]), int(r["doc_existing"])) for r in pairs.collect()}
        assert got == {(11, 0)}, got
        # symmetric multi-probe descent (both sides s=2) must keep the
        # co-assigned pair — the recovery knob never loses a pair this
        # fixture's single-probe descent already catches
        got2 = {
            (int(r["doc_new"]), int(r["doc_existing"]))
            for r in incremental_semantic_neardup(
                batch, corpus_emb, centroids, threshold=0.99, nprobe_super=2
            ).collect()
        }
        assert got2 >= got, (got2, got)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        # the only permitted hash exchange is the quantizer's k-row
        # centroid groupBy(super) (model-size); neither the corpus cell
        # frame nor the batch may shuffle on data-sized keys
        for ln in plan.splitlines():
            if "Exchange hashpartitioning" in ln:
                assert "super#" in ln, ln
        assert "BroadcastHashJoin" in plan

    def test_streamed_accept_set_equals_one_shot_with_semantic_arm(
        self, spark, tmp_path
    ):
        """Union of per-micro-batch accepted docs == the one-shot batch
        composition (MinHash flags ∪ semantic flags, quality gate) — and
        the paraphrase is rejected ONLY because of the semantic arm."""
        from data_engineering_project_utn_spark.llm import text as tx
        from data_engineering_project_utn_spark.llm.dedup import (
            incremental_neardup,
            incremental_semantic_neardup,
        )

        corpus, corpus_emb, centroids, inc = self._fixture(spark)
        schema = "doc_id long, text string, embedding array<double>"
        in_dir = str(tmp_path / "semcur_in")
        spark.createDataFrame(inc[:2], schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        spark.createDataFrame(inc[2:], schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

        got: dict = {}

        def sink(accepted_df, batch_id):
            for r in accepted_df.collect():
                got[r["doc_id"]] = r["quality"]

        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
            .writeStream.foreachBatch(
                sp.make_curation_batch_fn(
                    corpus,
                    sink,
                    min_quality=0.3,
                    threshold=0.5,
                    corpus_embeddings=corpus_emb,
                    centroids=centroids,
                    semantic_threshold=0.99,
                )
            )
            .option("checkpointLocation", str(tmp_path / "semcur_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        all_inc = spark.createDataFrame(inc, schema)
        text_flags = incremental_neardup(all_inc, corpus, threshold=0.5).select(
            F.col("doc_new").alias("doc_id")
        )
        sem_flags = incremental_semantic_neardup(
            all_inc.select("doc_id", "embedding"), corpus_emb, centroids,
            threshold=0.99,
        ).select(F.col("doc_new").alias("doc_id"))
        flagged = text_flags.unionByName(sem_flags).distinct()
        one_shot = {
            r["doc_id"]: r["quality"]
            for r in all_inc.withColumn("quality", tx.quality_score(F.col("text")))
            .filter(F.col("quality") >= 0.3)
            .join(flagged, "doc_id", "left_anti")
            .collect()
        }
        assert got == one_shot and len(got) > 0
        assert 11 not in got, "paraphrase must be rejected by the semantic arm"
        assert 10 not in got, "text near-dup must stay rejected"
        # and the semantic arm was the DECIDING gate for the paraphrase:
        assert 11 not in {r["doc_id"] for r in text_flags.collect()}


class TestCurationModelArm:
    def test_model_gate_streamed_equals_one_shot(self, spark, tmp_path):
        """The learned-filter arm (perceptron_score > 0) must be
        batching-independent like the other curation arms: union of
        per-micro-batch accepted ids == the one-shot composition, and
        the model rejects exactly the negative-score docs."""
        import pandas as pd

        from data_engineering_project_utn_spark.llm import text as tx
        from data_engineering_project_utn_spark.llm.classify import perceptron_score
        from data_engineering_project_utn_spark.llm.dedup import incremental_neardup

        rich_a = (
            "the market of ideas is open and it is a fair trade of thought "
            "to reason in the open air with many distinct words "
        )
        rich_b = (
            "a river runs through the quiet valley and the light is kind "
            "to every stone it touches on the way down to the sea "
        )
        corpus = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "text": ["other corpus content entirely unrelated here"]})
        )
        # weights: bias 0, first dim decides — accept iff e0 > 0
        w = [0, 1000, 0]
        inc = [
            (10, rich_a, [0.5, 0.1]),
            (11, rich_b, [-0.5, 0.2]),     # model-rejected
            (12, rich_a + " again", [0.25, -0.4]),
            (13, rich_b + " too", [-0.01, 0.9]),  # model-rejected (floor -> -10)
        ]
        doc_schema = "doc_id long, text string, embedding array<float>"
        in_dir = str(tmp_path / "mcur_in")
        spark.createDataFrame(inc[:2], doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        spark.createDataFrame(inc[2:], doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

        got: dict = {}

        def sink(accepted_df, batch_id):
            for r in accepted_df.collect():
                got[r["doc_id"]] = r["quality"]

        stream = (
            spark.readStream.schema(doc_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = (
            stream.writeStream.foreachBatch(
                sp.make_curation_batch_fn(
                    corpus, sink, min_quality=0.3, threshold=0.5, model_w=w
                )
            )
            .option("checkpointLocation", str(tmp_path / "mcur_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        all_inc = spark.createDataFrame(inc, doc_schema)
        flagged = (
            incremental_neardup(all_inc.select("doc_id", "text"), corpus, threshold=0.5)
            .select(F.col("doc_new").alias("doc_id"))
            .distinct()
        )
        one_shot = {
            r["doc_id"]: r["quality"]
            for r in all_inc.withColumn("quality", tx.quality_score(F.col("text")))
            .filter(F.col("quality") >= 0.3)
            .join(flagged, "doc_id", "left_anti")
            .filter(perceptron_score(w) > 0)
            .collect()
        }
        assert got == one_shot
        assert 10 in got and 12 in got
        assert 11 not in got and 13 not in got


class TestIngestLoop:
    """make_ingest_batch_fn: the probe→curate→accept→append loop over the
    at-rest structures — accepted docs must be visible to the NEXT
    batch's probe, appends must preserve the bucket spec, and per-batch
    decisions must be functions of the PRE-append corpus."""

    def test_accepted_docs_join_the_probed_corpus(self, spark, tmp_path):
        import pandas as pd

        from data_engineering_project_utn_spark.llm.dedup import (
            _banded,
            shingle_frame,
        )
        from data_engineering_project_utn_spark.sources.io import (
            write_bucketed_table,
        )

        base = "a long enough shared document body with many words " * 3
        other = "completely different corpus material on another topic " * 3
        corpus = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 2], "text": [base, other]})
        )
        ct, it = "ingest_corpus_t", "ingest_bandidx_t"
        for t in (ct, it):
            spark.sql(f"DROP TABLE IF EXISTS `{t}`")
        write_bucketed_table(spark, corpus, ct, 4, "doc_id")
        write_bucketed_table(
            spark,
            _banded(shingle_frame(corpus, "doc_id", "text", 5), 8, 4),
            it, 4, "band_hash", "band_idx",
        )

        accepted_sets: list = []
        fn = sp.make_ingest_batch_fn(
            spark,
            lambda df, bid: accepted_sets.append(
                {r["doc_id"] for r in df.collect()}
            ),
            ct, it, min_quality=0.0, threshold=0.5, buckets=4,
        )

        fresh = "fresh unseen content nothing like anything stored here " * 3
        batch1 = spark.createDataFrame(
            pd.DataFrame({"doc_id": [10, 11],
                          "text": [base + " tail", fresh]})
        )
        fn(batch1, 0)
        # 10 is a near-dup of corpus doc 1 → rejected; 11 accepted+appended
        assert accepted_sets[0] == {11}
        assert {r["doc_id"] for r in spark.table(ct).collect()} == {1, 2, 11}

        batch2 = spark.createDataFrame(
            pd.DataFrame({"doc_id": [20, 21],
                          "text": [fresh + " x",  # near-dup of APPENDED 11
                                   "yet another novel body of text entirely " * 3]})
        )
        fn(batch2, 1)
        assert accepted_sets[1] == {21}  # 20 caught by the GROWN index
        assert {r["doc_id"] for r in spark.table(ct).collect()} == {1, 2, 11, 21}

        # appends preserved the bucket layout: a keyed read still plans
        # a bucketed scan on both tables
        # (the grouping keys must cover the full bucket-col set for the
        # scan to satisfy the aggregation's clustering)
        for t, keys in ((ct, ["doc_id"]), (it, ["band_hash", "band_idx"])):
            plan = (
                spark.table(t).groupBy(*keys).count()
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert "Bucketed: true" in plan, (t, plan)
        for t in (ct, it):
            spark.sql(f"DROP TABLE IF EXISTS `{t}`")

    @staticmethod
    def _fresh_tables(spark, tag):
        """A tiny corpus + band index pair under unique table names."""
        import pandas as pd

        from data_engineering_project_utn_spark.llm.dedup import (
            _banded,
            shingle_frame,
        )
        from data_engineering_project_utn_spark.sources.io import (
            write_bucketed_table,
        )

        base = "a long enough shared document body with many words " * 3
        other = "completely different corpus material on another topic " * 3
        corpus = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 2], "text": [base, other]})
        )
        ct, it = f"ing_corpus_{tag}", f"ing_bandidx_{tag}"
        for t in (ct, it, f"{ct}__ledger"):
            spark.sql(f"DROP TABLE IF EXISTS `{t}`")
        write_bucketed_table(spark, corpus, ct, 4, "doc_id")
        write_bucketed_table(
            spark,
            _banded(shingle_frame(corpus, "doc_id", "text", 5), 8, 4),
            it, 4, "band_hash", "band_idx",
        )
        return ct, it, base

    def test_full_replay_is_idempotent_without_ledger(self, spark):
        """VERDICT r13 #1, self-flagging convergence: a replayed batch
        whose appends ALL committed (but whose ledger/checkpoint record
        was lost) must be a no-op — every previously appended doc is an
        exact dup of itself in the grown structures, so the retry
        accepts nothing and appends nothing."""
        import pandas as pd

        ct, it, base = self._fresh_tables(spark, "replay")
        sink_calls: list = []
        fn = sp.make_ingest_batch_fn(
            spark,
            lambda df, bid: sink_calls.append({r["doc_id"] for r in df.collect()}),
            ct, it, min_quality=0.0, threshold=0.5, buckets=4,
        )
        batch = spark.createDataFrame(
            pd.DataFrame({"doc_id": [10],
                          "text": ["fresh unseen content unlike anything stored " * 3]})
        )
        fn(batch, 0)
        assert sink_calls[0] == {10}
        corpus_rows = sorted(
            (r["doc_id"], r["text"]) for r in spark.table(ct).collect()
        )
        idx_rows = spark.table(it).count()

        fn(batch, 0)  # foreachBatch at-least-once replay
        assert sink_calls[1] == set()  # 10 self-flags against its own append
        assert sorted(
            (r["doc_id"], r["text"]) for r in spark.table(ct).collect()
        ) == corpus_rows
        assert spark.table(it).count() == idx_rows
        for t in (ct, it):
            spark.sql(f"DROP TABLE IF EXISTS `{t}`")

    def test_ledger_skips_committed_batch(self, spark):
        """The batch-id ledger fast path: a committed batch_id returns
        before the probe — the sink is not re-invoked at all."""
        import pandas as pd

        ct, it, base = self._fresh_tables(spark, "ledger")
        led = f"{ct}__ledger"
        sink_calls: list = []
        fn = sp.make_ingest_batch_fn(
            spark,
            lambda df, bid: sink_calls.append(bid),
            ct, it, min_quality=0.0, threshold=0.5, buckets=4,
            ledger_table=led,
        )
        batch = spark.createDataFrame(
            pd.DataFrame({"doc_id": [10],
                          "text": ["novel body of text for the ledger case " * 3]})
        )
        fn(batch, 7)
        assert sink_calls == [7]
        assert {r["batch_id"] for r in spark.table(led).collect()} == {7}
        fn(batch, 7)  # replay: skipped entirely
        assert sink_calls == [7]
        fn(batch.withColumn("doc_id", F.col("doc_id") + 100), 8)  # next batch runs
        assert sink_calls == [7, 8]
        for t in (ct, it, led):
            spark.sql(f"DROP TABLE IF EXISTS `{t}`")

    def test_crash_between_appends_converges(self, spark, monkeypatch):
        """ADVICE r13 append ordering: the band index appends BEFORE the
        corpus, so a crash between the two leaves an orphan index row
        (harmless — its candidates die in verification) and the retry
        re-accepts the doc and corpus-appends it EXACTLY once.  The
        reverse order would leave an un-indexed corpus doc whose future
        duplicates are silently accepted forever."""
        import pandas as pd

        from data_engineering_project_utn_spark.sources import io as io_mod

        ct, it, base = self._fresh_tables(spark, "crash")
        real_append = io_mod.append_bucketed_table
        state = {"calls": 0, "blow_at": 2}

        def flaky_append(spark_, df, name, buckets, *cols):
            state["calls"] += 1
            if state["calls"] == state["blow_at"]:
                raise RuntimeError("simulated crash between appends")
            return real_append(spark_, df, name, buckets, *cols)

        monkeypatch.setattr(io_mod, "append_bucketed_table", flaky_append)
        sink_calls: list = []
        fn = sp.make_ingest_batch_fn(
            spark,
            lambda df, bid: sink_calls.append({r["doc_id"] for r in df.collect()}),
            ct, it, min_quality=0.0, threshold=0.5, buckets=4,
        )
        batch = spark.createDataFrame(
            pd.DataFrame({"doc_id": [10],
                          "text": ["fresh unseen content for the crash window " * 3]})
        )
        with pytest.raises(RuntimeError, match="simulated crash"):
            fn(batch, 0)  # index appended, corpus append died
        assert {r["doc_id"] for r in spark.table(ct).collect()} == {1, 2}
        assert spark.table(it).filter(F.col("doc_id") == 10).count() > 0  # orphan

        fn(batch, 0)  # at-least-once retry
        # re-accepted exactly once despite the orphan index rows: the
        # orphan's candidates find no corpus row to verify against
        assert sink_calls[-1] == {10}
        assert spark.table(ct).filter(F.col("doc_id") == 10).count() == 1
        # and the grown structures now catch a later near-copy
        copycat = spark.createDataFrame(
            pd.DataFrame({"doc_id": [20],
                          "text": ["fresh unseen content for the crash window " * 3
                                   + " tail"]})
        )
        fn(copycat, 1)
        assert sink_calls[-1] == set()
        for t in (ct, it):
            spark.sql(f"DROP TABLE IF EXISTS `{t}`")

    def test_intra_batch_near_dups_keep_min_id(self, spark):
        """Two near-copies in the SAME micro-batch: the corpus probe sees
        neither (nothing at rest yet) — the intra-batch self pass flags
        the larger doc_id, keeping exactly one copy (min-id
        survivorship, matching dedup_clusters)."""
        import pandas as pd

        ct, it, base = self._fresh_tables(spark, "intra")
        sink_calls: list = []
        fn = sp.make_ingest_batch_fn(
            spark,
            lambda df, bid: sink_calls.append({r["doc_id"] for r in df.collect()}),
            ct, it, min_quality=0.0, threshold=0.5, buckets=4,
        )
        body = "novel content arriving twice within one micro batch " * 3
        batch = spark.createDataFrame(
            pd.DataFrame({"doc_id": [30, 31, 32],
                          "text": [body, body + " tail",
                                   "another unrelated novel body entirely " * 3]})
        )
        fn(batch, 0)
        assert sink_calls[0] == {30, 32}  # 31 deduped against in-batch 30
        assert {r["doc_id"] for r in spark.table(ct).collect()} == {1, 2, 30, 32}
        # opt-out restores the r13 behavior (both copies enter)
        ct2, it2, _ = self._fresh_tables(spark, "intra2")
        fn2 = sp.make_ingest_batch_fn(
            spark, lambda df, bid: None, ct2, it2,
            min_quality=0.0, threshold=0.5, buckets=4, intra_batch=False,
        )
        fn2(batch, 0)
        assert {r["doc_id"] for r in spark.table(ct2).collect()} == {1, 2, 30, 31, 32}
        for t in (ct, it, ct2, it2):
            spark.sql(f"DROP TABLE IF EXISTS `{t}`")

    def test_compaction_policy_knob(self, spark):
        """VERDICT r13 #3: with compact_after_files set, the loop folds
        any table whose delta-file count exceeds the threshold back to
        one file per bucket inline — file counts stay bounded across
        arbitrarily many triggers, rows and probe visibility survive
        each compaction."""
        import pandas as pd

        from data_engineering_project_utn_spark.sources.io import (
            data_file_count,
        )

        ct, it, base = self._fresh_tables(spark, "cadence")
        accepted: list = []
        fn = sp.make_ingest_batch_fn(
            spark,
            lambda df, bid: accepted.append({r["doc_id"] for r in df.collect()}),
            ct, it, min_quality=0.0, threshold=0.5, buckets=4,
            intra_batch=False, compact_after_files=6,
        )
        all_ids = {1, 2}
        for i in range(5):
            ids = [100 + i * 10 + j for j in range(3)]
            batch = spark.createDataFrame(
                pd.DataFrame({
                    "doc_id": ids,
                    "text": [
                        f"novel endurance body {i} {j} " +
                        " ".join(f"w{i}x{j}y{w}" for w in range(20))
                        for j in range(3)
                    ],
                })
            )
            fn(batch, i)
            all_ids |= set(ids)
            # post-trigger invariant: over-threshold tables were folded
            # back to one file per bucket (4), so the count never
            # exceeds the threshold after process() returns
            assert data_file_count(spark, ct) <= 6
            assert data_file_count(spark, it) <= 6
        assert {r["doc_id"] for r in spark.table(ct).collect()} == all_ids
        # probe visibility survives compaction: a near-copy of an
        # earlier-appended doc is still caught
        copycat = spark.createDataFrame(
            pd.DataFrame({"doc_id": [999],
                          "text": ["novel endurance body 0 0 " +
                                   " ".join(f"w0x0y{w}" for w in range(20))]})
        )
        fn(copycat, 99)
        assert accepted[-1] == set()
        for t in (ct, it):
            spark.sql(f"DROP TABLE IF EXISTS `{t}`")


class TestSemanticIngestLoop:
    """make_semantic_ingest_batch_fn: the embedding corpus's
    probe→flag→accept→append loop over the cell-partitioned layout —
    appended vectors must be probe-visible to the next batch, the probe
    read must partition-prune to the batch's cells, and appends must
    land under their cell partitions."""

    def test_appended_vectors_join_the_probed_corpus(self, spark, sf_dir, tmp_path):
        import glob
        import os

        from data_engineering_project_utn_spark.llm import similarity as sim
        from data_engineering_project_utn_spark.tables import load_table

        e = load_table(spark, sf_dir, "embeddings")
        # centroids_df convention: the ids-<k prefix (cid, cv) frame
        cents = e.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
        )
        path = str(tmp_path / "sem_corpus")
        sim.ivf_cells_2level(e, cents).write.partitionBy("cell").parquet(path)

        base = e.orderBy("vec_id").first()
        d = len(base["embedding"])
        mkvec = lambda v, eps: [x + eps for x in v]
        rows = [
            (1000, list(base["embedding"])),          # dup of corpus vec
            (1001, [float(i % 7) - 3.0 for i in range(d)]),  # novel
        ]
        # match the layout's element type exactly — a float layout with
        # double appends would poison the directory for every reader
        batch1 = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

        got: list = []
        fn = sp.make_semantic_ingest_batch_fn(
            spark,
            lambda df, bid: got.append({r["vec_id"] for r in df.collect()}),
            path, cents, threshold=0.999,
        )
        fn(batch1, 0)
        assert got[0] == {1001}  # the verbatim re-embed flagged, novel kept

        # batch2: a near-copy of the APPENDED 1001 → caught by the grown
        # layout; plus another novel vector
        rows2 = [
            (2000, mkvec(rows[1][1], 1e-9)),
            (2001, [float((i * 3) % 11) - 5.0 for i in range(d)]),
        ]
        fn(spark.createDataFrame(rows2, "vec_id long, embedding array<float>"), 1)
        assert got[1] == {2001}

        # appended files landed under cell=... partitions
        assert glob.glob(os.path.join(path, "cell=*", "*.parquet"))
        all_ids = {r["vec_id"] for r in spark.read.parquet(path).collect()}
        assert {1001, 2001} <= all_ids and 1000 not in all_ids

        # the probe's at-rest read partition-prunes to the batch's cells
        probe = spark.read.parquet(path).filter(F.col("cell").isin([0]))
        plan = probe._jdf.queryExecution().executedPlan().toString()
        scan = next(ln for ln in plan.splitlines() if "FileScan" in ln)
        assert "PartitionFilters" in scan
        assert "cell" in scan.split("PartitionFilters", 1)[1].split("]", 1)[0]

    def test_replay_is_idempotent(self, spark, sf_dir, tmp_path):
        """VERDICT r13 #1, semantic side: a replayed batch converges —
        committed replays skip via the ledger; a replay the ledger never
        saw self-flags (each appended vector cosine-duplicates itself at
        1.0) and appends nothing."""
        from data_engineering_project_utn_spark.tables import load_table

        from data_engineering_project_utn_spark.llm import similarity as sim

        e = load_table(spark, sf_dir, "embeddings")
        cents = e.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
        )
        path = str(tmp_path / "sem_replay_corpus")
        sim.ivf_cells_2level(e, cents).write.partitionBy("cell").parquet(path)
        led = "sem_replay_ledger"
        spark.sql(f"DROP TABLE IF EXISTS `{led}`")

        d = len(e.orderBy("vec_id").first()["embedding"])
        batch = spark.createDataFrame(
            [(5000, [float(i % 5) - 2.0 for i in range(d)])],
            "vec_id long, embedding array<float>",
        )
        got: list = []
        fn = sp.make_semantic_ingest_batch_fn(
            spark,
            lambda df, bid: got.append({r["vec_id"] for r in df.collect()}),
            path, cents, threshold=0.999, ledger_table=led,
        )
        fn(batch, 0)
        assert got == [{5000}]
        n_after = spark.read.parquet(path).filter(F.col("vec_id") == 5000).count()
        assert n_after == 1

        fn(batch, 0)  # ledger fast path: sink not re-invoked
        assert got == [{5000}]
        # replay invisible to the ledger (simulate lost ledger row):
        # the vector self-flags against its own appended copy
        spark.sql(f"DROP TABLE IF EXISTS `{led}`")
        fn(batch, 0)
        assert got == [{5000}, set()]
        assert (
            spark.read.parquet(path).filter(F.col("vec_id") == 5000).count() == 1
        )
        spark.sql(f"DROP TABLE IF EXISTS `{led}`")

    def test_intra_batch_vector_dups_keep_min_id(self, spark, sf_dir, tmp_path):
        """Two near-identical vectors in the SAME micro-batch: the corpus
        probe sees neither — the within-cell self pass flags the larger
        vec_id, keeping one copy (the semantic twin of the lexical
        intra-batch pass)."""
        from data_engineering_project_utn_spark.llm import similarity as sim
        from data_engineering_project_utn_spark.tables import load_table

        e = load_table(spark, sf_dir, "embeddings")
        cents = e.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
        )
        path = str(tmp_path / "sem_intra_corpus")
        sim.ivf_cells_2level(e, cents).write.partitionBy("cell").parquet(path)
        d = len(e.orderBy("vec_id").first()["embedding"])
        dup = [10.0 if j == 3 else 0.1 for j in range(d)]
        novel = [10.0 if j == 7 else 0.1 for j in range(d)]
        batch = spark.createDataFrame(
            [(8000, dup), (8001, [x + 1e-6 for x in dup]), (8002, novel)],
            "vec_id long, embedding array<float>",
        )
        got: list = []
        fn = sp.make_semantic_ingest_batch_fn(
            spark,
            lambda df, bid: got.append({r["vec_id"] for r in df.collect()}),
            path, cents, threshold=0.999,
        )
        fn(batch, 0)
        assert got[0] == {8000, 8002}  # 8001 deduped against in-batch 8000
        # opt-out restores the r13 behavior
        path2 = str(tmp_path / "sem_intra_corpus2")
        sim.ivf_cells_2level(e, cents).write.partitionBy("cell").parquet(path2)
        fn2 = sp.make_semantic_ingest_batch_fn(
            spark,
            lambda df, bid: got.append({r["vec_id"] for r in df.collect()}),
            path2, cents, threshold=0.999, intra_batch=False,
        )
        fn2(batch, 0)
        assert got[1] == {8000, 8001, 8002}

    def test_semantic_compaction_policy(self, spark, sf_dir, tmp_path):
        """VERDICT r13 #3, semantic side: the cell-partitioned appends
        have the same small-files growth; with compact_after_files set
        the loop folds the directory back to one file per cell and
        every vector stays probe-visible."""
        import glob
        import os

        from data_engineering_project_utn_spark.llm import similarity as sim
        from data_engineering_project_utn_spark.tables import load_table

        e = load_table(spark, sf_dir, "embeddings")
        cents = e.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
        )
        path = str(tmp_path / "sem_cadence_corpus")
        sim.ivf_cells_2level(e, cents).repartition("cell").write.partitionBy(
            "cell"
        ).parquet(path)
        n_cells = len(glob.glob(os.path.join(path, "cell=*")))
        files = lambda: len(glob.glob(os.path.join(path, "*", "*.parquet")))
        base_files = files()

        d = len(e.orderBy("vec_id").first()["embedding"])
        fn = sp.make_semantic_ingest_batch_fn(
            spark, lambda df, bid: None, path, cents, threshold=0.9999,
            compact_after_files=base_files + 4,
        )
        before = {r["vec_id"] for r in spark.read.parquet(path).collect()}
        new_ids = set()
        for i in range(6):
            vid = 7000 + i
            new_ids.add(vid)
            # near-orthogonal spike vectors: cosine between any two is
            # ~0.02, so every batch is genuinely novel at the 0.9999 bar
            batch = spark.createDataFrame(
                [(vid, [10.0 if j == i else 0.1 for j in range(d)])],
                "vec_id long, embedding array<float>",
            )
            fn(batch, i)
            assert files() <= base_files + 4 + 1  # bounded by the policy
        got = {r["vec_id"] for r in spark.read.parquet(path).collect()}
        assert got == before | new_ids  # nothing lost across compactions


class TestDayInTheLife:
    """VERDICT r13 #7: the composed pipeline — N ingest triggers →
    nightly (compaction + band-stats refresh + SNM rank rebuild) →
    ensemble dedup → golden record → surviving-corpus write-back — must
    equal the ONE-SHOT ensemble over (base ∪ every quality-passing batch
    doc): batching is a schedule, not a semantics change.

    Scope of the identity, stated honestly: it holds for transitively
    CLOSED duplicate groups (verbatim/mirror copies — every pair within
    a group is pairwise-duplicate and equal-length) with monotone
    doc_ids, where greedy ingest-time filtering and at-rest survivorship
    both keep the earliest member.  An OPEN chain (A~B, B~C, A≁C)
    through a rejected middle doc can differ by design: ingest-time
    filtering drops B on arrival and then accepts C, while the one-shot
    clusters {A,B,C} and keeps only A — that divergence is inherent to
    filter-at-ingest, not a bug in either path."""

    def test_surviving_corpus_matches_one_shot(self, spark):
        import pandas as pd

        from data_engineering_project_utn_spark.llm import dedup as dd
        from data_engineering_project_utn_spark.sources.io import (
            write_bucketed_table,
        )

        texts = {
            i: (f"base corpus document {i} with distinctive wording all "
                f"of its own kind ") * 3
            for i in range(1, 5)
        }
        texts[5] = texts[4]  # planted at-rest dup pair (4, 5)
        base = spark.createDataFrame(
            pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
        )
        novel = {
            11: "first novel crawl page with unique content " * 4,
            21: "second novel crawl page unlike the first " * 4,
            30: "third novel crawl page different again " * 4,
        }
        batches = [
            # (doc_id, text): 10 = verbatim copy of base 1; 20 = copy of
            # accepted 11; 31 = intra-batch copy of 30
            [(10, texts[1]), (11, novel[11])],
            [(20, novel[11]), (21, novel[21])],
            [(30, novel[30]), (31, novel[30])],
        ]

        ct, it, st = "dil_corpus", "dil_bandidx", "dil_stats"
        led = "dil_ledger"
        for t in (ct, it, st, led):
            spark.sql(f"DROP TABLE IF EXISTS `{t}`")
        write_bucketed_table(spark, base, ct, 4, "doc_id")
        write_bucketed_table(
            spark,
            dd._banded(dd.shingle_frame(base, "doc_id", "text", 5), 8, 4),
            it, 4, "band_hash", "band_idx",
        )
        fn = sp.make_ingest_batch_fn(
            spark, lambda df, bid: None, ct, it,
            min_quality=0.0, threshold=0.5, buckets=4, ledger_table=led,
        )
        for i, rows in enumerate(batches):
            fn(spark.createDataFrame(rows, "doc_id long, text string"), i)

        # the day's accepted corpus: dups rejected at ingest, base dups
        # untouched (the loop never re-judges what is already at rest)
        day = {r["doc_id"] for r in spark.table(ct).collect()}
        assert day == {1, 2, 3, 4, 5, 11, 21, 30}

        # nightly jobs: compaction, stats, SNM rank rebuild (each the
        # real machinery, composed in the order a deployment runs them)
        from data_engineering_project_utn_spark.sources.io import (
            compact_bucketed_table,
        )

        compact_bucketed_table(spark, ct, 4, "doc_id")
        compact_bucketed_table(spark, it, 4, "band_hash", "band_idx")
        dd.refresh_band_stats(spark, it, st)
        ranked = dd.snm_ranked_corpus(spark.table(ct))
        assert ranked.count() == len(day)  # the rebuilt rank structure

        # nightly ensemble dedup → golden record → surviving write-back
        corpus = spark.table(ct)
        pairs = dd.minhash_neardup(corpus, threshold=0.5)
        labels = dd.dedup_clusters(pairs)
        golden = dd.golden_record(labels, corpus)
        surviving = dd.surviving_corpus(labels, golden, corpus)
        write_bucketed_table(spark, surviving, f"{ct}_surviving", 4, "doc_id")
        got = {r["doc_id"] for r in spark.table(f"{ct}_surviving").collect()}

        # one-shot: the same ensemble over base ∪ EVERY batch doc
        union = base.unionByName(
            spark.createDataFrame(
                [r for b in batches for r in b], "doc_id long, text string"
            )
        )
        pairs_u = dd.minhash_neardup(union, threshold=0.5)
        labels_u = dd.dedup_clusters(pairs_u)
        golden_u = dd.golden_record(labels_u, union)
        surviving_u = dd.surviving_corpus(labels_u, golden_u, union)
        want = {r["doc_id"] for r in surviving_u.collect()}

        assert got == want == {1, 2, 3, 4, 11, 21, 30}
        for t in (ct, it, st, led, f"{ct}_surviving"):
            spark.sql(f"DROP TABLE IF EXISTS `{t}`")


class TestSemanticDrift:
    """VERDICT r13 #6: the semantic loop's static quantizer vs a
    drifting embedding distribution — the monitor must flag planted
    drift (cosine mass falls, cells unbalance), the re-train job must
    recover balance and objective, and the dedup probe must still catch
    near-dups over the retrained layout."""

    D = 16

    def _vec(self, spike, jitter=0.0):
        v = [0.1] * self.D
        v[spike] = 5.0
        if jitter:
            v[(spike + 1) % self.D] += jitter
        return v

    def test_planted_drift_triggers_retrain_and_recovers(self, spark, tmp_path):
        from data_engineering_project_utn_spark.llm import similarity as sim
        from data_engineering_project_utn_spark.llm.dedup import (
            incremental_semantic_neardup,
        )

        # distribution A: four tight direction clusters (dims 0-3)
        a_rows = [
            (i, self._vec(i % 4, jitter=0.01 * (i % 5)))
            for i in range(40)
        ]
        a_df = spark.createDataFrame(a_rows, "vec_id long, embedding array<float>")
        cents = sim.centroids_df(
            spark, sim.train_ivf_centroids(a_df, k=4, n_iter=2)
        )
        path = str(tmp_path / "drift_corpus")
        sim.ivf_cells_2level(a_df, cents).repartition("cell").write.partitionBy(
            "cell"
        ).parquet(path)
        baseline = sim.semantic_layout_drift_report(spark, path, cents)
        assert baseline["mean_cos"] > 0.9  # the quantizer fits A
        assert not sim.should_retrain(baseline, baseline)

        # drift: distribution B (dims 12-13) ingested under the STALE
        # quantizer — exactly what the loop's appends do
        b_rows = [
            (1000 + i, self._vec(12 + i % 2, jitter=0.01 * (i % 3)))
            for i in range(40)
        ]
        b_df = spark.createDataFrame(b_rows, "vec_id long, embedding array<float>")
        sim.ivf_cells_2level(b_df, cents).write.partitionBy("cell").mode(
            "append"
        ).parquet(path)
        drifted = sim.semantic_layout_drift_report(spark, path, cents)
        assert drifted["mean_cos"] < baseline["mean_cos"] - 0.05
        assert sim.should_retrain(baseline, drifted)  # the gate fires

        # the nightly fix: re-train on the layout population and
        # re-partition under the new tree
        new_cents = sim.retrain_semantic_layout(spark, path, k=6, n_iter=3)
        recovered = sim.semantic_layout_drift_report(spark, path, new_cents)
        assert recovered["mean_cos"] > drifted["mean_cos"] + 0.05
        assert recovered["n_rows"] == 80  # nothing lost in the swap
        assert {r["vec_id"] for r in spark.read.parquet(path).collect()} == (
            {i for i in range(40)} | {1000 + i for i in range(40)}
        )

        # recall over the retrained layout: a near-copy of a drifted
        # (B-side) vector still co-assigns and is caught — the probe
        # path is intact end-to-end after the swap.  (Symmetric descent
        # makes exact-dup recall robust even under drift; what retrain
        # buys is balance/pruning and the within-cell objective, both
        # asserted above.)
        probe = spark.createDataFrame(
            [(9999, self._vec(12, jitter=0.0))],
            "vec_id long, embedding array<float>",
        )
        cells = [
            r[0]
            for r in sim.ivf_cells_2level(probe, new_cents)
            .select("cell").distinct().collect()
        ]
        pruned = spark.read.parquet(path).filter(F.col("cell").isin(cells))
        pairs = incremental_semantic_neardup(
            probe, None, new_cents, threshold=0.99,
            vec_col="embedding", id_col="vec_id", corpus_cells=pruned,
        )
        assert pairs.filter(F.col("doc_new") == 9999).count() > 0
