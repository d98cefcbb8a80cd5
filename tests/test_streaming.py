"""Structured Streaming ingestion tests: AvailableNow drains exactly the
new files on each run (streaming checkpoint), feeding the batch pipeline."""

import pytest
from pyspark.sql import functions as F

from geococo_spark import schemas
from geococo_spark.sources import datagen
from geococo_spark.streaming import ingest


def write_images(spark, path, n, seed):
    df = spark.createDataFrame(datagen.make_image_rows(n, seed=seed), schemas.IMAGES)
    df = df.withColumn("image_id", F.concat(F.lit(f"s{seed}_"), F.col("image_id")))
    df.coalesce(1).write.mode("append").parquet(path)


class TestAvailableNowIngest:
    def test_incremental_exactly_once(self, spark, tmp_path):
        in_dir = str(tmp_path / "drop")
        ck = str(tmp_path / "stream_ck")
        out: list[list[str]] = []

        def batch_fn(df, epoch_id):
            out.append([r.image_id for r in df.select("image_id").collect()])

        write_images(spark, in_dir, 2, seed=1)
        ingest.run_available_now(spark, in_dir, ck, batch_fn)
        first = sorted(x for b in out for x in b)
        assert len(first) == 2

        # second drop: only NEW files are processed on the next drain
        out.clear()
        write_images(spark, in_dir, 3, seed=2)
        ingest.run_available_now(spark, in_dir, ck, batch_fn)
        second = sorted(x for b in out for x in b)
        assert len(second) == 3
        assert all(x.startswith("s2_") for x in second)

        # nothing new -> nothing processed
        out.clear()
        ingest.run_available_now(spark, in_dir, ck, batch_fn)
        assert sum(len(b) for b in out) == 0

    def test_streaming_pipeline_end_to_end(self, spark, tmp_path):
        # micro-batch -> full COCO pipeline -> parquet append
        from geococo_spark import pipeline
        from geococo_spark.coco import CocoState

        in_dir = str(tmp_path / "drop2")
        ck = str(tmp_path / "ck2")
        out_dir = str(tmp_path / "coco_out")
        labels = datagen.labels_df(spark)

        def batch_fn(df, epoch_id):
            if df.isEmpty():
                return
            state = CocoState.create(df.sparkSession)
            state = pipeline.append_dataset(
                df.sparkSession, state, df, labels, images_dir="d",
                id_attribute="category_id", name_attribute="class_names",
            )
            state.annotations.write.mode("append").parquet(out_dir)

        write_images(spark, in_dir, 1, seed=3)
        ingest.run_available_now(spark, in_dir, ck, batch_fn)
        anns = spark.read.parquet(out_dir)
        assert anns.count() == 5  # fixture labels -> 5 annotations


class TestWindowedCounts:
    def test_batch_and_stream_same_result(self, spark, tmp_path):
        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        batch = ingest.windowed_event_counts(events).orderBy("window_start", "event_type")
        rows_batch = [(str(r.window_start), r.event_type, r.n, r.value_cents) for r in batch.collect()]
        assert len(rows_batch) > 0

        # same query over a file stream, availableNow + memory sink
        stream = (
            spark.readStream.schema(events.schema)
            .parquet("/root/testdata/sf0.001")
        )
        # restrict to the events parquet only: re-write to a clean dir
        events.write.mode("overwrite").parquet(str(tmp_path / "ev"))
        stream = spark.readStream.schema(events.schema).parquet(str(tmp_path / "ev"))
        q = (
            ingest.windowed_event_counts(stream)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("win_counts")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        rows_stream = [
            (str(r.window_start), r.event_type, r.n, r.value_cents)
            for r in spark.sql(
                "select * from win_counts order by window_start, event_type"
            ).collect()
        ]
        assert rows_stream == rows_batch


class TestStatefulDedup:
    def test_exactly_once_per_key_across_batches(self, spark, tmp_path):
        """dedup_stream emits each image_id once per stream LIFETIME:
        re-delivered rows in later drops are dropped by group state
        (applyInPandasWithState), surviving query restarts via the
        streaming checkpoint."""
        from geococo_spark.streaming import stateful

        in_dir = str(tmp_path / "drop")
        ck = str(tmp_path / "state_ck")
        sink = str(tmp_path / "sink")

        def drain():
            stream = ingest.stream_images(spark, in_dir)
            q = (
                stateful.dedup_stream(stream, "image_id")
                .select("image_id", "caption")
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(600)
            return sorted(r.image_id for r in spark.read.parquet(sink).collect())

        # drop 1: ids img_0..img_2 (seed tag s1_)
        write_images(spark, in_dir, 3, seed=1)
        assert drain() == ["s1_img_000000000000", "s1_img_000000000001", "s1_img_000000000002"]

        # drop 2: re-deliver the SAME three ids + two genuinely new ones
        write_images(spark, in_dir, 3, seed=1)  # duplicates (same ids)
        write_images(spark, in_dir, 2, seed=3)
        got = drain()
        assert got == [
            "s1_img_000000000000", "s1_img_000000000001", "s1_img_000000000002",
            "s3_img_000000000000", "s3_img_000000000001",
        ], "duplicate keys leaked through the state store"

    def test_within_batch_duplicates_collapse(self, spark, tmp_path):
        from geococo_spark.streaming import stateful

        in_dir = str(tmp_path / "drop2")
        ck = str(tmp_path / "state_ck2")
        sink = str(tmp_path / "sink2")
        # the same ids written twice BEFORE the first drain: one batch,
        # duplicated keys inside it
        write_images(spark, in_dir, 2, seed=5)
        write_images(spark, in_dir, 2, seed=5)
        stream = ingest.stream_images(spark, in_dir)
        q = (
            stateful.dedup_stream(stream, "image_id")
            .select("image_id")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        rows = [r.image_id for r in spark.read.parquet(sink).collect()]
        assert sorted(rows) == ["s5_img_000000000000", "s5_img_000000000001"]


class TestStreamingAnnotate:
    """StreamingAnnotator: durable incremental append with id continuity
    across batches AND process restarts (streaming/annotate.py)."""

    KW = dict(images_dir="d", id_attribute="category_id", name_attribute="class_names")

    @staticmethod
    def _snap(state):
        def rows(df):
            return sorted(tuple(str(v) for v in r) for r in df.collect())

        return {
            "images": rows(state.images),
            "annotations": rows(state.annotations),
            "categories": rows(state.categories),
            "sources": rows(state.sources),
        }

    def test_restart_continuity_matches_sequential_appends(self, spark, tmp_path):
        from geococo_spark import pipeline
        from geococo_spark.coco import CocoState
        from geococo_spark.streaming.annotate import StreamingAnnotator

        labels = datagen.labels_df(spark)
        in_dir = str(tmp_path / "drop")
        ck = str(tmp_path / "ck")
        sd = str(tmp_path / "state")

        # wave 1 -> drain; then a PROCESS RESTART (fresh annotator on the
        # same state_dir) ingests wave 2 from the committed snapshot
        ann1 = StreamingAnnotator(spark, labels, sd, **self.KW)
        write_images(spark, in_dir, 2, seed=1)
        ann1.run_available_now(in_dir, ck)
        write_images(spark, in_dir, 3, seed=2)
        ann2 = StreamingAnnotator(spark, labels, sd, **self.KW)
        assert ann2.last_epoch == ann1.last_epoch  # resumed, not recreated
        state = ann2.run_available_now(in_dir, ck)

        # reference: the same two waves as sequential BATCH appends
        all_imgs = spark.read.parquet(in_dir)
        ref = CocoState.create(spark)
        for tag in ("s1_", "s2_"):
            wave = all_imgs.filter(F.col("image_id").startswith(tag))
            ref = pipeline.append_dataset(spark, ref, wave, labels, **self.KW)
        assert self._snap(state) == self._snap(ref)
        # ids really continued: wave-2 images got ids AFTER wave 1's
        assert state.cached_counts["images"] == 5
        assert state.info["version"] == ref.info["version"]

    def test_replayed_epoch_is_idempotent(self, spark, tmp_path):
        from geococo_spark.streaming.annotate import StreamingAnnotator

        labels = datagen.labels_df(spark)
        in_dir = str(tmp_path / "drop")
        ck = str(tmp_path / "ck")
        sd = str(tmp_path / "state")
        write_images(spark, in_dir, 2, seed=1)
        ann = StreamingAnnotator(spark, labels, sd, **self.KW)
        state = ann.run_available_now(in_dir, ck)
        before = self._snap(state)
        # crash-between-commit-and-checkpoint simulation: the SAME batch
        # is delivered again with its original epoch id
        replay = spark.read.parquet(in_dir)
        ann.process_batch(replay, ann.last_epoch)
        assert self._snap(ann.state) == before
        # and a drain with nothing new is a no-op too
        state2 = ann.run_available_now(in_dir, ck)
        assert self._snap(state2) == before

    def test_snapshot_pruning_keeps_latest(self, spark, tmp_path):
        import os

        from geococo_spark.coco import CocoState
        from geococo_spark.streaming.annotate import StreamingAnnotator

        labels = datagen.labels_df(spark)
        in_dir = str(tmp_path / "drop")
        ck = str(tmp_path / "ck")
        sd = str(tmp_path / "state")
        ann = StreamingAnnotator(spark, labels, sd, keep_snapshots=1, **self.KW)
        for seed in (1, 2, 3):
            write_images(spark, in_dir, 1, seed=seed)
            ann.run_available_now(in_dir, ck)
        epochs = [d for d in os.listdir(sd) if d.startswith("epoch_")]
        assert len(epochs) == 1  # pruned down to the committed latest
        # the surviving snapshot is loadable and complete
        st = CocoState.load_tables(spark, os.path.join(sd, epochs[0]))
        assert st.cached_counts["images"] == 3

    def test_load_refuses_uncommitted_snapshot(self, spark, tmp_path):
        import os

        from geococo_spark.coco import CocoState

        p = str(tmp_path / "half")
        os.makedirs(p)
        with pytest.raises(FileNotFoundError):
            CocoState.load_tables(spark, p)

    def test_cli_export_round_trips(self, spark, tmp_path):
        # drop dir -> streaming append -> durable state -> `geococo
        # export` -> standard COCO JSON identical to a direct
        # to_json_file of the same state
        from geococo_spark import cli
        from geococo_spark.coco import CocoState
        from geococo_spark.streaming.annotate import StreamingAnnotator

        labels = datagen.labels_df(spark)
        in_dir = str(tmp_path / "drop")
        ck = str(tmp_path / "ck")
        sd = str(tmp_path / "state")
        write_images(spark, in_dir, 2, seed=1)
        ann = StreamingAnnotator(spark, labels, sd, **self.KW)
        state = ann.run_available_now(in_dir, ck)

        out = str(tmp_path / "export.json")
        cli.main(["export", sd, out])
        ref_path = str(tmp_path / "direct.json")
        state.to_json_file(ref_path)
        loaded = CocoState.from_json_file(spark, out)
        ref = CocoState.from_json_file(spark, ref_path)
        assert self._snap(loaded) == self._snap(ref)
        assert loaded.info["version"] == state.info["version"]

    def test_export_without_state_raises(self, spark, tmp_path):
        from geococo_spark.streaming.annotate import load_latest_state

        with pytest.raises(FileNotFoundError):
            load_latest_state(spark, str(tmp_path / "nostate"))


class TestEventsProps:
    """JSON sidecar extraction (q_events_props): get_json_object's
    NULL contract — missing key, malformed JSON, and NULL props must
    all surface as NULL (counted by k_nulls), never as errors or
    dropped rows."""

    def test_json_extraction_null_contract(self, spark):
        from pyspark.sql import functions as F

        rows = [
            (1, "a", '{"k": 5}'),
            (2, "a", '{"k": 7, "x": 1}'),
            (3, "a", "{}"),           # missing key
            (4, "b", "not json"),     # malformed
            (5, "b", None),           # null props
            (6, "b", '{"k": -3}'),
        ]
        ev = spark.createDataFrame(rows, "event_id int, event_type string, props string")
        k = F.get_json_object(F.col("props"), "$.k").cast("long")
        got = {
            r.event_type: (r.n, r.k_sum, r.k_min, r.k_max, r.k_nulls)
            for r in ev.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(k).alias("k_sum"),
                F.min(k).alias("k_min"),
                F.max(k).alias("k_max"),
                F.sum(F.when(k.isNull(), 1).otherwise(0)).cast("long").alias("k_nulls"),
            ).collect()
        }
        assert got == {"a": (3, 12, 5, 7, 1), "b": (3, -3, -3, -3, 2)}

    def test_matches_entry_query_on_testdata(self, spark):
        import sys

        sys.path.insert(0, "/root/repo")
        import __spark_entry__ as E

        out = E.queries()["q_events_props"](spark, "/root/testdata/sf0.001")
        rows = out.collect()
        assert rows and all(r.n >= r.k_nulls >= 0 for r in rows)
        assert all(
            (r.k_min is None) == (r.n == r.k_nulls) for r in rows
        )


class TestSessionize:
    def _ev(self, spark, rows):
        from datetime import datetime, timedelta

        base = datetime(2024, 1, 1)
        data = [
            (eid, uid, base + timedelta(minutes=m))
            for eid, (uid, m) in enumerate(rows)
        ]
        return spark.createDataFrame(
            data, "event_id long, user_id long, ts timestamp_ntz"
        )

    def test_known_boundaries(self, spark):
        from geococo_spark.operators import events as ev_ops

        # user 1: gaps 10, 29, 31 -> sessions {0,10,39}, {70}
        # user 2: single event; gap EXACTLY 30 min stays in-session
        rows = [(1, 0), (1, 10), (1, 39), (1, 70), (2, 5), (2, 35)]
        got = {
            (r.user_id, r.session_idx): r.n_events
            for r in ev_ops.sessionize(self._ev(spark, rows)).collect()
        }
        assert got == {(1, 1): 3, (1, 2): 1, (2, 1): 2}

    def test_matches_python_reference_random(self, spark):
        import random

        from geococo_spark.operators import events as ev_ops

        rng = random.Random(20260818)
        rows, t = [], {}
        for _ in range(400):
            u = rng.randint(1, 8)
            t[u] = t.get(u, 0) + rng.choice([1, 5, 29, 30, 31, 90])
            rows.append((u, t[u]))
        ref = {}
        per_user: dict = {}
        for u, m in sorted(set(rows), key=lambda x: (x[0], x[1])):
            sessions = per_user.setdefault(u, [])
            if not sessions or m - sessions[-1][-1] > 30:
                sessions.append([m])
            else:
                sessions[-1].append(m)
        for u, sessions in per_user.items():
            for i, s in enumerate(sessions, 1):
                ref[(u, i)] = len(s)
        got = {
            (r.user_id, r.session_idx): r.n_events
            for r in ev_ops.sessionize(self._ev(spark, list(dict.fromkeys(rows)))).collect()
        }
        assert got == ref

    def test_single_window_exchange(self, spark):
        """Scale-shape pin for the UNBUCKETED path (bucket=None): both
        analytic windows (lag + running sum) must share ONE Window node
        / one user_id exchange; the final agg adds one more. No global
        (unpartitioned) window anywhere."""
        from geococo_spark.operators import events as ev_ops

        df = ev_ops.sessionize(
            self._ev(spark, [(1, 0), (1, 5), (2, 3)]), bucket=None
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        import re

        # every window spec must be partitioned by user_id (no global
        # window = no single-task sort of the whole corpus)
        specs = re.findall(r"windowspecdefinition\((\w+)", plan)
        assert specs and all(s == "user_id" for s in specs), specs
        # the two Window nodes (lag feeds the running sum, so Spark
        # cannot fuse them into one node) must SHARE one exchange+sort:
        # no Exchange or Sort may sit between them
        lines = plan.splitlines()
        widx = [i for i, l in enumerate(lines) if "Window [" in l]
        assert len(widx) == 2, plan[:2000]
        between = "\n".join(lines[widx[0] + 1: widx[1]])
        assert "Exchange" not in between and "Sort" not in between, between

    def test_bucketed_plan_shape(self, spark):
        """Scale-shape pin for the DEFAULT (bucketed) path (VERDICT r07
        #5): the windows that touch EVENT rows must be partitioned by
        (user_id, bucket) — no task ever holds a hot user's full
        history — and only the segment-level windows (tiny input) key
        on user_id alone. Each pass's two windows share one
        exchange+sort."""
        from geococo_spark.operators import events as ev_ops

        df = ev_ops.sessionize(self._ev(spark, [(1, 0), (1, 5), (2, 3)]))
        plan = df._jdf.queryExecution().executedPlan().toString()
        import re

        specs = re.findall(r"windowspecdefinition\(([^)]*?)specifiedwindowframe", plan)
        assert specs, plan[:2000]
        pass1 = [s for s in specs if "__sb" in s]
        pass2 = [s for s in specs if "__sb" not in s]
        # pass 1 (event rows): partitioned by user AND time bucket
        assert pass1 and all("user_id" in s for s in pass1), specs
        # pass 2 (segment rows): partitioned by user
        assert pass2 and all("user_id" in s for s in pass2), specs
        # no global window anywhere
        assert all("user_id" in s for s in specs), specs
        # exactly two shared exchange+sort groups: 4 Window nodes, and
        # no Exchange/Sort between the two nodes of each pass
        lines = plan.splitlines()
        widx = [i for i, l in enumerate(lines) if "Window [" in l]
        assert len(widx) == 4, plan[:2000]
        for a, b in ((widx[0], widx[1]), (widx[2], widx[3])):
            between = "\n".join(lines[a + 1: b])
            assert "Exchange" not in between and "Sort" not in between, between

    def test_bot_user_split_across_buckets(self, spark):
        """VERDICT r07 #5 adversarial pin: a bot identity with 10^6
        events must be SPLIT across its (user, hour-bucket) groups —
        the largest pass-1 group is bounded by the bucket width, not
        the user's total volume — and the output must still be exact,
        including sessions that span bucket boundaries."""
        from pyspark.sql import functions as F

        from geococo_spark.operators import events as ev_ops

        n = 1_000_000
        # one event every 4 s -> ~46 days of activity, sessions broken
        # only by the planted 31-min holes every 100k events (hole falls
        # mid-hour, so merges and breaks both cross bucket cuts)
        bot = (
            spark.range(n)
            .select(
                F.lit(7).alias("user_id"),
                (
                    F.timestamp_seconds(
                        F.lit(1_600_000_000)
                        + F.col("id") * 4
                        + (F.col("id") / 100_000).cast("long") * 1860
                    )
                ).alias("ts"),
                F.col("id").alias("event_id"),
            )
        )
        # the largest (user, hour) group holds <= 900 events (3600/4):
        # no single task sees the bot's 10^6-event history
        biggest = (
            bot.groupBy("user_id", F.date_trunc("hour", "ts").alias("b"))
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert biggest <= 900, biggest
        got = {
            (r.user_id, r.session_idx): r.n_events
            for r in ev_ops.sessionize(bot).collect()
        }
        # 10 sessions of exactly 100k events (holes every 100k)
        assert got == {(7, i): 100_000 for i in range(1, 11)}, dict(list(got.items())[:5])

    def test_bucketed_equals_unbucketed_randomized(self, spark):
        """Equality pin: the bucketed default must produce EXACTLY the
        single-window result on randomized event sets, across bucket
        granularities, including gap==threshold boundary events placed
        right at bucket cuts."""
        import random
        from datetime import datetime, timedelta

        from geococo_spark.operators import events as ev_ops

        rng = random.Random(80)
        t0 = datetime(2031, 3, 1)
        rows = []
        eid = 0
        for u in range(1, 25):
            t = rng.randrange(0, 120)
            for _ in range(rng.randrange(1, 120)):
                # gaps cluster around the 30-min threshold and hour marks
                t += rng.choice([1, 5, 29, 30, 31, 60, 61, 1440])
                rows.append((u, t0 + timedelta(minutes=t), eid))
                eid += 1
        ev = spark.createDataFrame(
            rows, "user_id long, ts timestamp_ntz, event_id long"
        )
        base = sorted(
            map(tuple, ev_ops.sessionize(ev, bucket=None).collect())
        )
        for unit in ("minute", "hour", "day"):
            got = sorted(
                map(tuple, ev_ops.sessionize(ev, bucket=unit).collect())
            )
            assert got == base, unit

    def test_null_timestamps_both_bucket_modes(self, spark):
        """Events with a NULL ts never merge: each is its own session,
        numbered first in event_id order, in both bucket modes and under
        repartitioning. The bucketed merge pass must order its
        NULL-start segments by the tiebreak, as the single window does."""
        from datetime import datetime, timedelta

        from geococo_spark.operators import events as ev_ops

        t0 = datetime(2024, 1, 1)
        rows = [
            (0, 1, None), (1, 1, 0), (2, 1, 10), (3, 1, None), (4, 1, 70),
            (5, 2, None), (6, 2, None), (7, 2, 5),
        ]
        ev = spark.createDataFrame(
            [(e, u, None if m is None else t0 + timedelta(minutes=m)) for e, u, m in rows],
            "event_id long, user_id long, ts timestamp_ntz",
        )
        at = lambda m: t0 + timedelta(minutes=m)  # noqa: E731
        want = sorted([
            (1, 1, 1, None, None), (1, 2, 1, None, None),
            (1, 3, 2, at(0), at(10)), (1, 4, 1, at(70), at(70)),
            (2, 1, 1, None, None), (2, 2, 1, None, None), (2, 3, 1, at(5), at(5)),
        ], key=str)
        for bucket in (None, "hour", "day"):
            for df in (ev, ev.repartition(5)):
                out = ev_ops.sessionize(df, bucket=bucket)
                assert sorted(map(tuple, out.collect()), key=str) == want, bucket
        plan = ev_ops.sessionize(ev)._jdf.queryExecution().executedPlan().toString()
        import re

        specs = re.findall(r"windowspecdefinition\(([^)]*?)specifiedwindowframe", plan)
        pass2 = [s for s in specs if "__sb" not in s]
        assert pass2 and all("__tb" in s for s in pass2), pass2

    def test_agrees_with_spark_session_window_builtin(self, spark):
        """Cross-validation against an INDEPENDENT implementation:
        Spark's built-in session_window (gap-based dynamic windows)
        must produce the same (user, start, end, n_events) sessions as
        our lag+running-sum composition on the real events table.
        session_window's end is exclusive (last_ts + gap), so compare
        on min/max event time via the agg, not the window bounds."""
        from pyspark.sql import functions as F

        from geococo_spark.operators import events as ev_ops

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        ours = {
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in ev_ops.sessionize(ev, gap_minutes=30).collect()
        }
        builtin = {
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in ev.groupBy(
                "user_id", F.session_window("ts", "30 minutes")
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.min("ts").alias("session_start"),
                F.max("ts").alias("session_end"),
            )
            .select("user_id", "session_start", "session_end", "n_events")
            .collect()
        }
        assert ours == builtin

    def test_skewed_user_stays_bounded_and_correct(self, spark):
        """Per-key boundedness smoke: one bot user with 20k events (in
        one sorted task slice) plus normal users — counts must be exact
        and the job must not need a global window."""
        from geococo_spark.operators import events as ev_ops

        rows = [(1, m) for m in range(0, 20000)]  # 1-min gaps: 1 session
        rows += [(2, m * 60) for m in range(10)]  # 60-min gaps: 10 sessions
        got = {
            (r.user_id, r.session_idx): r.n_events
            for r in ev_ops.sessionize(self._ev(spark, rows)).collect()
        }
        assert got[(1, 1)] == 20000 and sum(1 for (u, _) in got if u == 1) == 1
        assert sum(1 for (u, _) in got if u == 2) == 10


class TestStreamingSessionize:
    def test_batch_and_stream_same_sessions(self, spark, tmp_path):
        """Batch sessionize == streamed session_window drain. Append
        mode only emits sessions the watermark has passed, so the input
        gets one SENTINEL event per stream far past every real event —
        it advances the global watermark and flushes all real sessions;
        the sentinel user's own (still-open) session is excluded from
        the comparison."""
        from pyspark.sql import functions as F

        from geococo_spark.operators import events as ev_ops
        from geococo_spark.streaming import ingest

        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        batch = {
            (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
            for r in ev_ops.sessionize(events, gap_minutes=30).collect()
        }
        # batch-mode sessionized_events must agree with the operator
        batch_sw = {
            (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
            for r in ingest.sessionized_events(events).collect()
        }
        assert batch_sw == batch

        # keep the original column ORDER (parquet schema positional)
        cols = events.columns
        staged = events.select(*cols).unionByName(
            events.agg(
                F.lit(-1).cast("long").alias("event_id"),
                (F.max("ts") + F.expr("INTERVAL '365' DAY")).alias("ts"),
                F.lit(-1).cast("long").alias("user_id"),
                F.lit("sentinel").alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit("{}").alias("props"),
            ).select(*cols)
        )
        staged.write.mode("overwrite").parquet(str(tmp_path / "ev"))
        stream = spark.readStream.schema(staged.schema).parquet(str(tmp_path / "ev"))
        q = (
            ingest.sessionized_events(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("sess_out")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        streamed = {
            (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
            for r in spark.sql("select * from sess_out").collect()
            if r.user_id != -1
        }
        assert streamed == batch
