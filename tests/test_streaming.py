"""Streaming semantics tests: batch/stream equivalence, watermark
late-data drop (two-batch scenario), stateful ops."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from psvm_spark import registry
from psvm_spark.catalog import load_table
from psvm_spark.session import scoped_confs

registry.load_all()


class TestStreamRunner:
    def test_scoped_confs_restore_set_and_unset_keys(self, spark):
        """A key that was set gets its value back and one that was unset
        is unset again (not set to its default), also when the body
        raises."""
        import pytest

        set_key = "spark.sql.shuffle.partitions"
        unset_key = "spark.sql.streaming.stateStore.providerClass"
        saved = {k: spark.conf.get(k, None) for k in (set_key, unset_key)}
        spark.conf.set(set_key, "7")
        spark.conf.unset(unset_key)
        inside = {set_key: "3", unset_key: "org.example.Provider"}
        try:
            with scoped_confs(spark, inside):
                assert {k: spark.conf.get(k) for k in inside} == inside
            assert spark.conf.get(set_key) == "7"
            assert spark.conf.get(unset_key, None) is None
            with pytest.raises(RuntimeError, match="body failed"):
                with scoped_confs(spark, inside):
                    raise RuntimeError("body failed")
            assert spark.conf.get(set_key) == "7"
            assert spark.conf.get(unset_key, None) is None
        finally:
            for k, v in saved.items():
                spark.conf.unset(k) if v is None else spark.conf.set(k, v)

    def test_failed_start_restores_shuffle_partitions(self, spark, sf_dir):
        """A query that fails inside start() leaves the session's
        partition count as it was, not at STATE_PARTITIONS."""
        import pytest
        from pyspark.errors import AnalysisException

        from psvm_spark.streaming.jobs import STATE_PARTITIONS, run_to_table, stream_events

        before = spark.conf.get("spark.sql.shuffle.partitions")
        assert before != str(STATE_PARTITIONS)
        # complete mode needs a streaming aggregation: start() refuses it
        with pytest.raises(AnalysisException, match="STREAMING_OUTPUT_MODE"):
            run_to_table(stream_events(spark, sf_dir), "complete")
        assert spark.conf.get("spark.sql.shuffle.partitions") == before


class TestBatchStreamEquivalence:
    def test_session_window_stream_equals_batch(self, spark, sf_dir):
        got = registry.QUERIES["stream_session"](spark, sf_dir)
        ev = load_table(spark, sf_dir, "events")
        batch = (
            ev.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total"),
            )
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events",
                "total",
            )
        )
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


class TestStreamLayouts:
    def test_file_and_directory_layouts_read_the_same_rows(
        self, spark, sf_dir, tmp_path
    ):
        """A table shipped as one parquet FILE and the same rows as a
        DIRECTORY of part files stream identically (an empty stream on
        the directory layout was the round-8 bug)."""
        import pyarrow.parquet as pq

        from psvm_spark.streaming.jobs import (
            run_to_table,
            stream_documents,
            stream_events,
        )

        for table in ("events", "documents"):
            t = pq.read_table(f"{sf_dir}/{table}.parquet")
            part_dir = tmp_path / f"{table}.parquet"
            part_dir.mkdir()
            half = t.num_rows // 2
            pq.write_table(t.slice(0, half), part_dir / "part-00000.parquet")
            pq.write_table(t.slice(half), part_dir / "part-00001.parquet")

        for stream in (stream_events, stream_documents):
            from_file = run_to_table(stream(spark, sf_dir), "append").collect()
            from_dir = run_to_table(stream(spark, str(tmp_path)), "append").collect()
            assert len(from_file) > 0
            assert sorted(map(tuple, from_dir)) == sorted(map(tuple, from_file))


class TestWatermark:
    def test_late_row_dropped_after_restart(self, spark, tmp_path):
        """Run 1 establishes (and checkpoints) watermark = max(ts) - 10min;
        run 2's late row (49min behind the watermark) must be dropped from
        its already-closed window, while the on-time row updates its own.

        NOTE (empirical, Spark 4.1): *within* one availableNow run, rows a
        later micro-batch delivers are NOT filtered by the watermark the
        previous micro-batch established — only state eviction uses it.
        Filtering is enforced against the checkpointed watermark on
        restart, which is what this test pins down.
        """
        def mk(rows):
            return spark.createDataFrame(
                [(i, ts, float(v)) for i, ts, v in rows],
                "event_id long, ts_s string, value double",
            ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")

        d = str(tmp_path / "stream_in")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(d, exist_ok=True)

        def run():
            got = []
            schema = spark.read.parquet(d).schema
            stream = spark.readStream.schema(schema).parquet(d)
            agg = (
                stream.withWatermark("ts", "10 minutes")
                .groupBy(F.window("ts", "10 minutes").alias("w"))
                .agg(F.count(F.lit(1)).alias("n"))
            )
            q = (
                agg.writeStream.outputMode("update")
                .foreachBatch(
                    lambda df, bid: got.extend(
                        (r.w.start.strftime("%H:%M"), r.n) for r in df.collect()
                    )
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return sorted(got)

        mk(
            [
                (1, "2024-01-01 10:00:30", 5),
                (2, "2024-01-01 10:05:00", 5),
                (3, "2024-01-01 11:00:00", 5),  # watermark -> 10:50
            ]
        ).coalesce(1).write.mode("append").parquet(d)
        assert run() == [("10:00", 2), ("11:00", 1)]

        mk(
            [
                (4, "2024-01-01 10:01:00", 5),  # late: window closed at 10:50
                (5, "2024-01-01 11:01:00", 5),  # on time
            ]
        ).coalesce(1).write.mode("append").parquet(d)
        # late row dropped: 10:00 window NOT re-emitted; 11:00 updated to 2
        assert run() == [("11:00", 2)]


class TestStatefulOps:
    def test_stateful_totals_match_batch(self, spark, sf_dir):
        got = {
            r.user_id: (r.n_events, r.total_value)
            for r in registry.QUERIES["stream_stateful"](spark, sf_dir).collect()
        }
        ev = load_table(spark, sf_dir, "events")
        exp = {
            r.user_id: (r.n, round(r.total, 2))
            for r in ev.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
            .collect()
        }
        assert set(got) == set(exp)
        for uid in exp:
            assert got[uid][0] == exp[uid][0]
            assert abs(got[uid][1] - exp[uid][1]) < 0.05

    def test_stream_dedup_keeps_at_most_distinct_pairs(self, spark, sf_dir):
        rows = registry.QUERIES["stream_dedup"](spark, sf_dir).collect()
        ev = load_table(spark, sf_dir, "events")
        distinct_pairs = ev.select("user_id", "event_type").distinct().count()
        assert 0 < sum(r.n_kept for r in rows) <= distinct_pairs * 10

    def test_watermark_query_runs(self, spark, sf_dir):
        assert registry.QUERIES["stream_watermark"](spark, sf_dir).count() > 0


class TestTransformWithState:
    def test_tws_plan_builds_without_protobuf(self, spark, sf_dir):
        """The Spark-4 StatefulProcessor path (B43) must at least build a
        valid streaming plan everywhere; only execution needs protobuf."""
        from psvm_spark.streaming.jobs import stream_events
        from psvm_spark.streaming.stateful import spend_tracker_tws

        out = spend_tracker_tws(stream_events(spark, sf_dir))
        assert out.isStreaming
        assert [f.name for f in out.schema.fields] == [
            "user_id",
            "n_events",
            "total_value",
        ]

    def test_tws_totals_match_batch_when_runtime_present(self, spark, sf_dir):
        """Executes only where the Python workers have protobuf (real
        clusters); this container ships none, so it skips here."""
        import pytest

        from psvm_spark.streaming import stateful
        from psvm_spark.streaming.jobs import run_to_table, stream_events

        if not stateful.tws_runtime_available():
            pytest.skip("google.protobuf absent: TWS state protocol cannot run")
        provider = {"spark.sql.streaming.stateStore.providerClass": stateful.ROCKSDB_PROVIDER}
        with scoped_confs(spark, provider):
            out = run_to_table(
                stateful.spend_tracker_tws(stream_events(spark, sf_dir)), "update"
            )
            got = {r.user_id: (r.n_events, round(r.total_value, 2)) for r in out.collect()}
            ev = load_table(spark, sf_dir, "events")
            exp = {
                r.user_id: (r.n, round(r.total, 2))
                for r in ev.groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
                .collect()
            }
            assert set(got) == set(exp)
            for uid in exp:
                assert got[uid][0] == exp[uid][0]


class TestStreamStreamJoin:
    def test_attribution_matches_batch_band_join(self, spark, sf_dir):
        """Streaming click->purchase attribution must equal the batch
        band join on the same table (stream/batch equivalence)."""
        got = sorted(
            (r.user_id, r.click_id, r.purchase_id, r.gap_us)
            for r in registry.QUERIES["stream_stream_join"](spark, sf_dir).collect()
        )
        ev = load_table(spark, sf_dir, "events")
        c = ev.filter(F.col("event_type") == "click").select(
            "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
        )
        p = ev.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("pu"), F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("pts"),
        )
        exp = sorted(
            (r.user_id, r.click_id, r.purchase_id, r.gap_us)
            for r in c.join(
                p,
                (F.col("user_id") == F.col("pu"))
                & (F.col("pts") >= F.col("cts"))
                & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 2 HOURS")),
            )
            .select(
                "user_id", "click_id", "purchase_id",
                F.expr("timestampdiff(MICROSECOND, cts, pts)").alias("gap_us"),
            )
            .collect()
        )
        assert got == exp
        assert got, "fixture has known click->purchase matches"
        for _, _, _, gap in got:
            assert 0 <= gap <= 2 * 3600 * 1_000_000


class TestPythonStreamingSource:
    def test_replay_is_multi_batch(self, spark, sf_dir):
        """The custom source must actually deliver multiple micro-batches
        (multi-batch state updates), not one availableNow snapshot."""
        import tempfile

        from psvm_spark.sources.replay_stream import register

        register(spark)
        df = (
            spark.readStream.format("events_replay")
            .option("path", f"{sf_dir}/events.parquet")
            .option("batches", "5")
            .load()
        )
        q = (
            df.writeStream.format("memory")
            .queryName("replay_mb")
            .option("checkpointLocation", tempfile.mkdtemp())
            .start()
        )
        q.processAllAvailable()
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        total = sum(p["numInputRows"] for p in batches)
        q.stop()
        from psvm_spark.catalog import load_table

        assert len(batches) == 5
        assert total == load_table(spark, sf_dir, "events").count()

    def test_kill_and_resume_exactly_once(self, spark, sf_dir, tmp_path):
        """Crash-mid-replay resume: stop the query after the first
        batches commit but before the replay finishes, restart from the
        same checkpoint into the same durable sink, and the sink must
        hold every source row exactly once — proving the offset
        protocol (initialOffset / read / readBetweenOffsets) neither
        re-delivers a committed chunk nor skips an uncommitted one."""
        import time

        from psvm_spark.catalog import load_table
        from psvm_spark.sources.replay_stream import register

        register(spark)
        ckpt = str(tmp_path / "ckpt")
        out = str(tmp_path / "out")
        n_batches = 10

        def start(throttled: bool):
            df = (
                spark.readStream.format("events_replay")
                .option("path", f"{sf_dir}/events.parquet")
                .option("batches", str(n_batches))
                .load()
            )
            w = (
                df.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
            )
            if throttled:
                # slow the batch cadence so stop() lands mid-replay
                w = w.trigger(processingTime="500 milliseconds")
            return w.start()

        q = start(throttled=True)
        deadline = time.time() + 120
        while time.time() < deadline:
            if len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2:
                break
            time.sleep(0.05)
        q.stop()  # the "crash": later chunks are still unread
        q.awaitTermination()
        n_first = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        assert 2 <= n_first < n_batches, f"stop landed outside mid-replay: {n_first}"

        q2 = start(throttled=False)
        q2.processAllAvailable()
        q2.stop()
        q2.awaitTermination()

        got = spark.read.parquet(out)
        src_n = load_table(spark, sf_dir, "events").count()
        assert got.count() == src_n  # no loss, no replay
        assert got.select("event_id").distinct().count() == src_n  # no dups


class TestStreamCusum:
    def test_stream_equals_batch(self, spark, sf_dir):
        """The streaming CUSUM's integer-cents state must reproduce the
        batch ts_cusum_drift bit-exactly (same cents, same rounding)."""
        from psvm_spark.registry import QUERIES

        got = {
            r.user_id: (r.n_events, r.peak_cusum, r.n_alarms)
            for r in QUERIES["stream_cusum"](spark, sf_dir).collect()
        }
        want = {
            r.user_id: (r.n_events, r.peak_cusum, r.n_alarms)
            for r in QUERIES["ts_cusum_drift"](spark, sf_dir).collect()
        }
        assert got == want

    def test_vectorized_fold_matches_scalar_reference(self, spark, sf_dir):
        """The r12 NumPy rewrite of the state fold rests on np.rint
        being half-even like Python round(); replay the former scalar
        loop over every fixture value AND a crafted .5-boundary panel
        and assert the vectorized fold's per-step state is identical."""
        import numpy as np

        from psvm_spark.catalog import load_table

        vals = [
            float(r.value)
            for r in load_table(spark, sf_dir, "events").select("value").collect()
        ]
        vals += [0.005, 0.015, 0.025, 5.125, 5.135, -0.005, 123.455, 123.465]
        # scalar reference (the pre-r12 loop)
        p = m = peak = alarms = 0
        ref = []
        for v in vals:
            p += int(round(v * 100)) - 500
            if p < m:
                m = p
            s = p - (m if m < 0 else 0)
            peak = max(peak, s)
            if s > 2000:
                alarms += 1
            ref.append((p, m, peak, alarms))
        # vectorized fold (what stream_cusum's track() does)
        d = np.rint(np.asarray(vals, dtype=np.float64) * 100).astype(np.int64) - 500
        pre = np.cumsum(d)
        m_run = np.minimum.accumulate(np.minimum(pre, 0))
        s = pre - np.minimum(m_run, 0)
        peak_run = np.maximum.accumulate(s)
        alarms_run = np.cumsum(s > 2000)
        got = list(
            zip(
                (int(x) for x in pre),
                (int(x) for x in m_run),
                (int(x) for x in peak_run),
                (int(x) for x in alarms_run),
            )
        )
        assert got == ref


class TestExactlyOnceFileSink:
    def test_rerun_commits_nothing(self, spark, sf_dir):
        from psvm_spark import registry

        registry.load_all()
        row = registry.QUERIES["stream_file_sink_exactly_once"](spark, sf_dir).collect()[0]
        assert row.no_duplicates and row.complete
        assert row.n_sink_first == row.n_batch_rows


class TestStateRecovery:
    def test_restart_recovers_aggregation_state(self, spark, sf_dir):
        from psvm_spark import registry
        from psvm_spark.catalog import load_table
        from pyspark.sql import functions as F

        registry.load_all()
        got = {
            r.event_type: r.n
            for r in registry.QUERIES["stream_state_recovery"](spark, sf_dir).collect()
        }
        want = {
            r.event_type: r.n
            for r in load_table(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == want


class TestSlidingTopK:
    def test_topk_matches_batch_rank(self, spark, sf_dir):
        """Stream/batch equivalence: the streaming windowed counts plus
        post-rank must equal the same computation done fully in batch."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from psvm_spark.catalog import load_table, normalize_event_ts
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        got = sorted(
            map(
                tuple,
                QUERIES["stream_sliding_topk"](spark, sf_dir)
                .select("win_start", "event_type", "n", "rk")
                .collect(),
            )
        )
        ev = normalize_event_ts(load_table(spark, sf_dir, "events"))
        batch = ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        rk = F.row_number().over(
            Window.partitionBy("w").orderBy(F.desc("n"), F.asc("event_type"))
        )
        want = sorted(
            map(
                tuple,
                batch.withColumn("rk", rk.cast("int"))
                .filter(F.col("rk") <= 3)
                .select(F.col("w.start").alias("win_start"), "event_type", "n", "rk")
                .collect(),
            )
        )
        assert got == want


class TestIntervalJoinAndDigestDedup:
    def test_interval_join_matches_batch_band_join(self, spark, sf_dir):
        """Stream/batch equivalence: the watermarked stream-stream
        interval join + post-agg must equal the batch band-join
        operator (join_range) row-for-row."""
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        got = sorted(
            map(tuple, QUERIES["stream_interval_join"](spark, sf_dir).collect())
        )
        want = sorted(map(tuple, QUERIES["join_range"](spark, sf_dir).collect()))
        assert got == want and len(got) > 0

    def test_digest_dedup_matches_batch_distinct(self, spark, sf_dir):
        """The streaming within-watermark dedup must keep exactly one
        doc per (lang, digest) on the replay — equal to the batch
        distinct-digest rollup (sf0.001 happens to have no duplicate
        texts, so kept == corpus there; the equality check is the real
        assertion)."""
        from pyspark.sql import functions as F

        from psvm_spark.catalog import load_table
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        got = {
            r.lang: r.n_kept
            for r in QUERIES["stream_dedup_digest"](spark, sf_dir).collect()
        }
        d = load_table(spark, sf_dir, "documents")
        want = {
            r.lang: r.n
            for r in d.groupBy("lang")
            .agg(F.countDistinct(F.md5("text")).alias("n"))
            .collect()
        }
        assert got == want
        n_docs = d.count()
        assert 0 < sum(got.values()) <= n_docs


class TestChainedStatefulOperators:
    def test_dedup_then_window_matches_batch_distinct(self, spark, sf_dir):
        """Two chained stateful operators (dedup -> windowed agg) in
        ONE streaming query must equal the batch distinct-user windowed
        count after the sentinel flush, and the sentinel itself must
        not leak into the result."""
        from pyspark.sql import functions as F

        from psvm_spark.catalog import load_table, normalize_event_ts
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        res = QUERIES["stream_dedup_windowed_agg"](spark, sf_dir)
        got = {
            (r.win_start, r.event_type): r.n_users for r in res.collect()
        }
        assert all(et != "__sentinel__" for _, et in got)
        ev = normalize_event_ts(load_table(spark, sf_dir, "events"))
        want = {
            (r.w.start, r.event_type): r.n
            for r in ev.groupBy(
                F.window("ts", "10 minutes").alias("w"), "event_type"
            )
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        assert got == want


class TestOuterIntervalJoin:
    def test_matches_batch_left_join_split(self, spark, sf_dir):
        """The watermarked left-outer stream-stream join must classify
        every error as matched/unmatched exactly as the batch left band
        join does — including errors near the stream's end, which only
        flush because BOTH sides get a watermark sentinel."""
        from pyspark.sql import functions as F

        from psvm_spark.catalog import load_table, normalize_event_ts
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        got = {
            r.user_id: (r.n_matched_errors, r.n_unmatched_errors)
            for r in QUERIES["stream_outer_interval_join"](spark, sf_dir).collect()
        }
        ev = normalize_event_ts(load_table(spark, sf_dir, "events"))
        e = ev.filter(F.col("event_type") == "error").select(
            F.col("event_id").alias("error_id"), "user_id",
            F.unix_micros("ts").alias("e_us"),
        )
        c = ev.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"), F.unix_micros("ts").alias("c_us")
        )
        j = e.join(
            c,
            (F.col("user_id") == F.col("c_user"))
            & (F.abs(F.col("e_us") - F.col("c_us")) <= 300_000_000),
            "left",
        ).groupBy("error_id", "user_id").agg(
            F.max(F.col("c_us").isNotNull().cast("int")).alias("m")
        )
        want = {
            r.user_id: (r.nm, r.nu)
            for r in j.groupBy("user_id")
            .agg(
                F.sum("m").cast("bigint").alias("nm"),
                F.sum(1 - F.col("m")).cast("bigint").alias("nu"),
            )
            .collect()
        }
        assert got == want and sum(v[1] for v in got.values()) > 0


class TestDynamicGapSession:
    def test_stream_equals_batch_session_window(self, spark, sf_dir):
        """The streaming dynamic-gap sessionization must equal the SAME
        session_window expression run in batch — Spark's own batch
        evaluator is an independent second implementation of the
        interval-merge semantics the DuckDB oracle replays."""
        from pyspark.sql import functions as F

        from psvm_spark.catalog import load_table
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        got = {
            (r.user_id, r.session_start, r.session_end): (r.n_events, r.total)
            for r in QUERIES["stream_session_dynamic_gap"](spark, sf_dir).collect()
        }
        ev = load_table(spark, sf_dir, "events")
        gap = (
            F.when(F.col("event_type") == "purchase", F.lit("10 minutes"))
            .when(F.col("event_type") == "error", F.lit("2 minutes"))
            .otherwise(F.lit("5 minutes"))
        )
        batch = (
            ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total"),
            )
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events",
                "total",
            )
        )
        want = {
            (r.user_id, r.session_start, r.session_end): (r.n_events, r.total)
            for r in batch.collect()
        }
        assert got == want and len(got) > 0
        # dynamic gap actually bites: some session must end on a
        # 10-minute purchase hold or a 2-minute error cut
        n_events_total = sum(n for n, _ in got.values())
        assert n_events_total == ev.count()


class TestPydsStreamSink:
    def test_commit_protocol_and_roundtrip(self, spark, sf_dir):
        """The custom Python streaming sink must (a) publish a commit
        marker per batch, (b) round-trip every event exactly once, and
        (c) leave uncommitted shards invisible to committed_files."""
        import glob
        import os

        from psvm_spark.registry import QUERIES, load_all

        load_all()
        got = {
            r.event_type: (r.n, r.total)
            for r in QUERIES["sink_pyds_stream_sink"](spark, sf_dir).collect()
        }
        from pyspark.sql import functions as F

        from psvm_spark.catalog import load_table

        want = {
            r.event_type: (r.n, r.total)
            for r in load_table(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total"),
            )
            .collect()
        }
        assert got == want

    def test_uncommitted_and_orphan_shards_invisible(self, tmp_path):
        import json

        from psvm_spark.sources.jsonl_stream_sink import committed_files

        d = str(tmp_path)
        shards = (
            "batch-00000-part-00000.jsonl",  # committed
            "batch-00000-part-00007.jsonl",  # orphan of a dead attempt of batch 0
            "batch-00001-part-00000.jsonl",  # batch never committed
        )
        for name in shards:
            with open(os.path.join(d, name), "w") as fh:
                fh.write('{"event_id": 1}\n')
        with open(os.path.join(d, "_COMMIT-00000"), "w") as fh:
            json.dump({"n_rows": 1, "files": ["batch-00000-part-00000.jsonl"]}, fh)
        # a crashed/in-flight commit and a pre-manifest legacy marker
        # must both be ignored, not read as committed
        with open(os.path.join(d, "_COMMIT-00001.inprogress"), "w") as fh:
            json.dump({"n_rows": 1, "files": ["batch-00001-part-00000.jsonl"]}, fh)
        with open(os.path.join(d, "_COMMIT-00002"), "w") as fh:
            fh.write("3")
        files = committed_files(d)
        # only the marker-LISTED shard: the same-batch orphan, the
        # uncommitted batch, the torn commit, and the legacy marker all
        # stay invisible
        assert [os.path.basename(f) for f in files] == ["batch-00000-part-00000.jsonl"]


class TestFullOuterIntervalJoin:
    def test_both_sides_accounted(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from psvm_spark.catalog import load_table
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        rows = QUERIES["stream_full_outer_interval_join"](spark, sf_dir).collect()
        got_err = sum(r.n_matched_errors + r.n_unmatched_errors for r in rows)
        got_unmatched_clicks = sum(r.n_unmatched_clicks for r in rows)
        ev = load_table(spark, sf_dir, "events")
        n_errors = ev.filter(F.col("event_type") == "error").count()
        n_clicks = ev.filter(F.col("event_type") == "click").count()
        # every error is classified exactly once
        assert got_err == n_errors
        # unmatched clicks are a strict subset of all clicks, and the
        # full-outer join surfaces at least one unmatched click on the
        # fixture (otherwise the right side adds nothing over left-outer)
        assert 0 < got_unmatched_clicks < n_clicks


class TestRocksDBStateStore:
    def test_state_survives_restart_under_rocksdb(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from psvm_spark.catalog import load_table
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        got = {
            (r.event_type, r.day): r.n
            for r in QUERIES["stream_rocksdb_state_store"](spark, sf_dir).collect()
        }
        want = {
            (r.event_type, r.day): r.n
            for r in load_table(spark, sf_dir, "events")
            .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .collect()
        }
        assert got == want and len(got) > 0
        # conf restored after the run (session hygiene)
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            != "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        )


class TestStateStoreReader:
    def test_state_equals_batch_and_carries_partitions(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from psvm_spark.catalog import load_table
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        got = {
            r.event_type: r.n
            for r in QUERIES["scan_state_store_reader"](spark, sf_dir).collect()
        }
        want = {
            r.event_type: r.n
            for r in load_table(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .collect()
        }
        assert got == want and len(got) == 5


class TestSemiIntervalJoin:
    def test_at_most_once_emission_and_batch_truth(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from psvm_spark.catalog import load_table
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        got = QUERIES["stream_semi_interval_join"](spark, sf_dir).collect()
        # semi emits each left row AT MOST once, even with many matches
        assert len(got) == len({r.error_id for r in got})
        ev = load_table(spark, sf_dir, "events")
        e = ev.filter(F.col("event_type") == "error").select(
            F.col("event_id").alias("error_id"), "user_id", F.col("ts").alias("e_ts")
        )
        c = ev.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
        )
        want = (
            e.join(
                c,
                (F.col("user_id") == F.col("c_user"))
                & (F.col("c_ts") >= F.col("e_ts") - F.expr("INTERVAL 5 MINUTES"))
                & (F.col("c_ts") <= F.col("e_ts") + F.expr("INTERVAL 5 MINUTES")),
                "left_semi",
            )
            .select("error_id", "user_id")
            .collect()
        )
        assert sorted((r.error_id, r.user_id) for r in got) == sorted(
            (r.error_id, r.user_id) for r in want
        )


class TestAsymWatermarkJoin:
    def test_global_watermark_is_min_of_sides(self, spark, tmp_path):
        """With different delays per side, the default
        multipleWatermarkPolicy=min sets the GLOBAL watermark to the
        minimum of (side max event time - side delay) — the loose side
        governs.  Run 1 establishes and checkpoints the per-side
        watermarks; run 2's progress reports the committed global
        value.  Also checks the join itself emitted the causal pair."""
        import datetime

        d_err = str(tmp_path / "errors")
        d_clk = str(tmp_path / "clicks")
        ckpt = str(tmp_path / "ckpt")

        def mk(path, col, rows):
            spark.createDataFrame(
                [(i, ts) for i, ts in rows], f"id long, {col}_s string"
            ).select(
                "id", F.col(f"{col}_s").cast("timestamp").alias(col)
            ).coalesce(1).write.mode("append").parquet(path)

        max_e = "2024-01-02 00:00:00"
        max_c = "2024-01-02 00:05:00"
        mk(d_err, "e_ts", [(1, max_e)])
        mk(d_clk, "c_ts", [(1, max_c)])

        def run():
            got = []
            es = spark.read.parquet(d_err).schema
            cs = spark.read.parquet(d_clk).schema
            errors = (
                spark.readStream.schema(es)
                .parquet(d_err)
                .withWatermark("e_ts", "1 day")
                .select(F.col("id").alias("e_id"), "e_ts")
            )
            clicks = (
                spark.readStream.schema(cs)
                .parquet(d_clk)
                .withWatermark("c_ts", "2 hours")
                .select(F.col("id").alias("c_id"), "c_ts")
            )
            j = errors.join(
                clicks,
                (F.col("e_id") == F.col("c_id"))
                & (F.col("c_ts") >= F.col("e_ts"))
                & (
                    F.col("c_ts")
                    <= F.col("e_ts") + F.expr("INTERVAL 10 MINUTES")
                ),
                "inner",
            )
            q = (
                j.writeStream.outputMode("append")
                .foreachBatch(
                    lambda df, bid: got.extend(
                        (r.e_id, r.c_id) for r in df.collect()
                    )
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return got, q.lastProgress

        pairs, _ = run()
        assert pairs == [(1, 1)]

        # fresh on-time rows so run 2 has a data batch to report against
        mk(d_err, "e_ts", [(2, "2024-01-02 01:00:00")])
        mk(d_clk, "c_ts", [(2, "2024-01-02 01:01:00")])
        pairs2, prog = run()
        assert pairs2 == [(2, 2)]
        wm = datetime.datetime.strptime(
            prog["eventTime"]["watermark"], "%Y-%m-%dT%H:%M:%S.%fZ"
        )
        fmt = "%Y-%m-%d %H:%M:%S"
        # run 2's committed watermark reflects run 2's per-side maxima
        side_e = datetime.datetime.strptime(
            "2024-01-02 01:00:00", fmt
        ) - datetime.timedelta(days=1)
        side_c = datetime.datetime.strptime(
            "2024-01-02 01:01:00", fmt
        ) - datetime.timedelta(hours=2)
        assert wm == min(side_e, side_c) == side_e
        assert wm < side_c  # the tight side does NOT govern

    def test_matches_batch_oracle(self, spark, sf_dir):
        from psvm_spark.registry import QUERIES

        got = QUERIES["stream_asym_watermark_join"](spark, sf_dir)
        ev = load_table(spark, sf_dir, "events")
        e = ev.filter(F.col("event_type") == "error").select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        c = ev.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
        )
        want = (
            e.join(
                c,
                (F.col("e_user") == F.col("c_user"))
                & (F.col("c_ts") >= F.col("e_ts"))
                & (
                    F.col("c_ts")
                    <= F.col("e_ts") + F.expr("INTERVAL 10 MINUTES")
                ),
            )
            .groupBy("error_id", "e_user")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert sorted(
            (r.error_id, r.user_id, r.n_following_clicks)
            for r in got.collect()
        ) == sorted((r.error_id, r.e_user, r.n) for r in want.collect())
