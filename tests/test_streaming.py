"""Structured-Streaming incremental refresh tests (SURVEY.md §2.D):
exactly-once file processing across refreshes, watermarked windowed
aggregation semantics, and the AUTO → FULL downgrade."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dbt_snowflake_feature_store_spark import Entity, FeatureView, RefreshSpec
from dbt_snowflake_feature_store_spark.sources import read_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def split_events(spark, tmp_path):
    """Events split into two halves by time, written as separate files so
    the second half 'arrives' later."""
    ev = read_table(spark, SF, "events")
    cut = ev.select(F.expr("percentile_approx(cast(ts as double), 0.5)")).head()[0]
    src = str(tmp_path / "events_src")
    half1 = ev.filter(F.col("ts").cast("double") <= cut)
    half2 = ev.filter(F.col("ts").cast("double") > cut)
    half1.coalesce(1).write.mode("overwrite").parquet(src)
    return {
        "src": src,
        "half1": half1.count(),
        "half2": half2.count(),
        "half2_df": half2,
        "total": ev.count(),
    }


def _arrive_half2(split):
    split["half2_df"].coalesce(1).write.mode("append").parquet(split["src"])


class TestStreamingIncremental:
    def test_exactly_once_across_refreshes(self, fs, spark, split_events):
        fs.register_source("STREAM_EVENTS", split_events["src"])
        fs.register_entity(Entity("user", ["user_id"]))
        fv = FeatureView(
            "err_stream",
            ["user"],
            sql="""SELECT user_id, ts, value AS f_value
                   FROM STREAM_EVENTS WHERE event_type = 'error'""",
            timestamp_col="ts",
            refresh=RefreshSpec("1 minute", "INCREMENTAL", "ON_CREATE"),
        )
        fs.register_feature_view(fv, version="1.0")
        n1 = fs.read_feature_view("ERR_STREAM$1.0").count()
        assert n1 > 0

        # no new data → no change
        mode = fs.refresh("err_stream", "1.0")
        assert mode == "INCREMENTAL"
        assert fs.read_feature_view("ERR_STREAM$1.0").count() == n1

        # second half arrives → exactly the new rows appended, no dupes
        _arrive_half2(split_events)
        fs.refresh("err_stream", "1.0")
        out = fs.read_feature_view("ERR_STREAM$1.0")
        batch_expected = (
            spark.read.parquet(split_events["src"])
            .filter(F.col("event_type") == "error")
            .count()
        )
        assert out.count() == batch_expected
        assert out.select("user_id", "ts").distinct().count() == batch_expected

    def test_windowed_agg_with_watermark(self, fs, spark, split_events):
        fs.register_source(
            "STREAM_EVENTS_W",
            split_events["src"],
            watermark_col="ts",
            watermark_delay="1 hour",
        )
        fs.register_entity(Entity("etype", ["event_type"]))
        fv = FeatureView(
            "daily_counts",
            ["etype"],
            sql="""SELECT window(ts, '1 day').start AS day_start,
                          event_type,
                          COUNT(*) AS f_n,
                          SUM(value) AS f_sum
                   FROM STREAM_EVENTS_W
                   GROUP BY window(ts, '1 day'), event_type""",
            refresh=RefreshSpec("1 hour", "INCREMENTAL", "ON_CREATE"),
        )
        fs.register_feature_view(fv, version="1.0")
        # append mode emits a window only once the watermark passes it —
        # "result at most <lag> behind sources" (README.md:232 semantics)
        first = fs.read_feature_view("DAILY_COUNTS$1.0").count()

        _arrive_half2(split_events)
        fs.refresh("daily_counts", "1.0")
        out = fs.read_feature_view("DAILY_COUNTS$1.0")
        n2 = out.count()
        assert n2 > first  # new closed windows emitted after half2
        # emitted windows are exact: compare against batch recompute for
        # the days strictly before the watermark
        batch = (
            spark.read.parquet(split_events["src"])
            .groupBy(F.window("ts", "1 day").getField("start").alias("day_start"), "event_type")
            .agg(F.count("*").alias("f_n"))
        )
        emitted = {
            (r["day_start"], r["event_type"]): r["f_n"] for r in out.collect()
        }
        expected = {
            (r["day_start"], r["event_type"]): r["f_n"] for r in batch.collect()
        }
        for k, v in emitted.items():
            assert expected[k] == v, k
        # no duplicate (window, type) keys: exactly-once emission
        assert len(emitted) == n2

    def test_hopping_window_streaming_matches_batch(self, fs, spark, split_events):
        """Hopping (sliding) windows stream correctly: every emitted
        (window_start) count equals the batch recompute — the streaming
        twin of the oracle-gated q_hopping batch key."""
        fs.register_source(
            "STREAM_EVENTS_H",
            split_events["src"],
            watermark_col="ts",
            watermark_delay="1 hour",
        )
        fs.register_entity(Entity("huser", ["user_id"]))
        fv = FeatureView(
            "hop_counts",
            ["huser"],
            sql="""SELECT window(ts, '1 hour', '30 minutes').start AS w_start,
                          user_id,
                          COUNT(*) AS f_n
                   FROM STREAM_EVENTS_H
                   GROUP BY window(ts, '1 hour', '30 minutes'), user_id""",
            refresh=RefreshSpec("1 hour", "INCREMENTAL", "ON_CREATE"),
        )
        fs.register_feature_view(fv, version="1.0")
        _arrive_half2(split_events)
        fs.refresh("hop_counts", "1.0")
        out = fs.read_feature_view("HOP_COUNTS$1.0")
        batch = (
            spark.read.parquet(split_events["src"])
            .groupBy(
                F.window("ts", "1 hour", "30 minutes")
                .getField("start")
                .alias("w_start"),
                "user_id",
            )
            .agg(F.count("*").alias("f_n"))
        )
        emitted = {
            (r["w_start"], r["user_id"]): r["f_n"] for r in out.collect()
        }
        expected = {
            (r["w_start"], r["user_id"]): r["f_n"] for r in batch.collect()
        }
        assert emitted, "no hopping windows emitted"
        for k, v in emitted.items():
            assert expected[k] == v, k
        assert len(emitted) == out.count()  # exactly-once emission

    def test_event_dedup_streaming_matches_batch(self, fs, spark, split_events):
        """Windowed event dedup streams correctly: keep-first-per-
        (user, type, 10-min window) expressed as a watermarked streaming
        aggregation (min_by over the window group — the streaming twin of
        the oracle-gated q_event_dedup batch key). Every emitted winner
        equals the batch recompute, exactly once."""
        fs.register_source(
            "STREAM_EVENTS_D",
            split_events["src"],
            watermark_col="ts",
            watermark_delay="1 hour",
        )
        fs.register_entity(Entity("duser", ["user_id"]))
        fv = FeatureView(
            "dedup_first",
            ["duser"],
            sql="""SELECT user_id, event_type,
                          window(ts, '10 minutes').start AS w_start,
                          min_by(event_id,
                                 named_struct('t', ts, 'e', event_id))
                              AS f_first_event
                   FROM STREAM_EVENTS_D
                   GROUP BY user_id, event_type, window(ts, '10 minutes')""",
            refresh=RefreshSpec("1 hour", "INCREMENTAL", "ON_CREATE"),
        )
        fs.register_feature_view(fv, version="1.0")
        _arrive_half2(split_events)
        fs.refresh("dedup_first", "1.0")
        out = fs.read_feature_view("DEDUP_FIRST$1.0")
        batch = (
            spark.read.parquet(split_events["src"])
            .groupBy(
                "user_id",
                "event_type",
                F.window("ts", "10 minutes").getField("start").alias("w_start"),
            )
            .agg(
                F.min_by(
                    "event_id", F.struct(F.col("ts"), F.col("event_id"))
                ).alias("f_first_event")
            )
        )
        emitted = {
            (r["user_id"], r["event_type"], r["w_start"]): r["f_first_event"]
            for r in out.collect()
        }
        expected = {
            (r["user_id"], r["event_type"], r["w_start"]): r["f_first_event"]
            for r in batch.collect()
        }
        assert emitted, "no dedup winners emitted"
        for k, v in emitted.items():
            assert expected[k] == v, k
        assert len(emitted) == out.count()  # exactly-once emission

    def test_session_window_streaming_agg(self, fs, spark, split_events):
        """session_window (gap-based session aggregation) as an
        incrementally-maintained managed FV — the streaming counterpart
        of q_sessionize."""
        fs.register_source(
            "STREAM_EVENTS_S",
            split_events["src"],
            watermark_col="ts",
            watermark_delay="1 hour",
        )
        fs.register_entity(Entity("user", ["user_id"]))
        fv = FeatureView(
            "sessions",
            ["user"],
            sql="""SELECT session_window(ts, '30 minutes').start AS s_start,
                          session_window(ts, '30 minutes').end AS s_end,
                          user_id,
                          COUNT(*) AS f_events
                   FROM STREAM_EVENTS_S
                   GROUP BY session_window(ts, '30 minutes'), user_id""",
            refresh=RefreshSpec("1 hour", "INCREMENTAL", "ON_CREATE"),
        )
        fs.register_feature_view(fv, version="1.0")
        _arrive_half2(split_events)
        assert fs.refresh("sessions", "1.0") == "INCREMENTAL"
        out = fs.read_feature_view("SESSIONS$1.0")
        rows = out.collect()
        assert len(rows) > 0
        # session invariants: end - start >= 0; no (user, start) dupes
        assert all(r["s_end"] >= r["s_start"] for r in rows)
        keys = [(r["user_id"], r["s_start"]) for r in rows]
        assert len(keys) == len(set(keys))
        # PARITY with the batch key (q_session_window's groupBy): every
        # emitted session must be identical — same end, same count — to
        # the batch recompute over the full source. Emitted sessions are
        # final by construction: a session emits only once the watermark
        # passes its end + gap, and the half2 cut is > 30 min past every
        # emitted end, so no later event can merge into one.
        batch = (
            spark.read.parquet(split_events["src"])
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count("*").alias("f_events"))
            .select(
                F.col("session_window.start").alias("s_start"),
                F.col("session_window.end").alias("s_end"),
                "user_id",
                "f_events",
            )
        )
        expected = {
            (r["user_id"], r["s_start"]): (r["s_end"], r["f_events"])
            for r in batch.collect()
        }
        for r in rows:
            k = (r["user_id"], r["s_start"])
            assert k in expected, k
            assert expected[k] == (r["s_end"], r["f_events"]), k

    def test_interval_join_streaming_matches_batch(self, fs, spark, split_events):
        """Watermarked STREAM-STREAM interval join (SURVEY §2.D): each
        click joined to the same user's errors within the following 10
        minutes — two watermarked streaming sources, append-mode inner
        join with a time-range condition (state bounded by the
        watermark). The availableNow result must equal the batch range
        join row-for-row, exactly once."""
        fs.register_source(
            "S_CLK", split_events["src"],
            watermark_col="ts", watermark_delay="2 hours",
        )
        fs.register_source(
            "S_ERR", split_events["src"],
            watermark_col="ts", watermark_delay="2 hours",
        )
        fs.register_entity(Entity("juser", ["user_id"]))
        fv = FeatureView(
            "clk_err_join",
            ["juser"],
            sql="""SELECT a.user_id, a.event_id AS click_id,
                          b.event_id AS err_id,
                          a.ts AS click_ts, b.ts AS err_ts
                   FROM (SELECT * FROM S_CLK WHERE event_type = 'click') a
                   JOIN (SELECT * FROM S_ERR WHERE event_type = 'error') b
                     ON a.user_id = b.user_id
                    AND b.ts >= a.ts
                    AND b.ts <= a.ts + INTERVAL 10 MINUTES""",
            timestamp_col="click_ts",
            refresh=RefreshSpec("1 hour", "INCREMENTAL", "ON_CREATE"),
        )
        fs.register_feature_view(fv, version="1.0")
        _arrive_half2(split_events)
        mode = fs.refresh("clk_err_join", "1.0")
        assert mode == "INCREMENTAL"
        out = fs.read_feature_view("CLK_ERR_JOIN$1.0")

        ev = spark.read.parquet(split_events["src"])
        clk = ev.filter("event_type = 'click'").select(
            "user_id", F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        err = ev.filter("event_type = 'error'").select(
            F.col("user_id").alias("u2"), F.col("event_id").alias("err_id"),
            F.col("ts").alias("err_ts"),
        )
        batch = clk.join(
            err,
            (F.col("user_id") == F.col("u2"))
            & (F.col("err_ts") >= F.col("click_ts"))
            & (F.col("err_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")),
        ).select("user_id", "click_id", "err_id", "click_ts", "err_ts")

        got = sorted(map(tuple, out.select(*batch.columns).collect()))
        want = sorted(map(tuple, batch.collect()))
        assert got, "interval join emitted nothing"
        assert got == want  # exactly-once, row-for-row

    def test_keyed_agg_merge_maintenance(self, fs, spark, split_events):
        """NON-WINDOWED keyed aggregation maintained INCREMENTALLY via
        update-mode streaming agg + foreachBatch MERGE (the Dynamic-
        Table keyed-aggregate semantic): per-user lifetime counts/sums,
        refreshed across two source arrivals, must equal the batch
        recompute — with the second refresh reading ONLY the new files
        (state carries the running totals)."""
        import os

        fs.register_source("S_AGG", split_events["src"])
        fs.register_entity(Entity("auser", ["user_id"]))
        fv = FeatureView(
            "user_totals",
            ["auser"],
            sql="""SELECT user_id, COUNT(*) AS f_n,
                          SUM(value) AS f_sum
                   FROM S_AGG GROUP BY user_id""",
            refresh=RefreshSpec("1 minute", "INCREMENTAL", "ON_CREATE"),
        )
        fs.register_feature_view(fv, version="1.0")

        def batch_expect():
            return {
                r["user_id"]: (r["f_n"], r["f_sum"])
                for r in spark.read.parquet(split_events["src"])
                .groupBy("user_id")
                .agg(F.count("*").alias("f_n"), F.sum("value").alias("f_sum"))
                .collect()
            }

        got1 = {
            r["user_id"]: (r["f_n"], r["f_sum"])
            for r in fs.read_feature_view("USER_TOTALS$1.0").collect()
        }
        want1 = batch_expect()
        assert set(got1) == set(want1)
        for k in want1:
            assert got1[k][0] == want1[k][0]
            assert got1[k][1] == pytest.approx(want1[k][1])

        # merge-maintained: merge checkpoint exists, no append file log
        data_path = fs._fv_data_path("user_totals", "1.0")
        assert os.path.isdir(data_path + "_ckpt_merge")
        assert not os.path.isdir(os.path.join(data_path, "_spark_metadata"))

        _arrive_half2(split_events)
        mode = fs.refresh("user_totals", "1.0")
        assert mode == "INCREMENTAL"
        got2 = {
            r["user_id"]: (r["f_n"], r["f_sum"])
            for r in fs.read_feature_view("USER_TOTALS$1.0").collect()
        }
        want2 = batch_expect()
        assert set(got2) == set(want2)
        for k in want2:
            assert got2[k][0] == want2[k][0], k
            assert got2[k][1] == pytest.approx(want2[k][1])
        # exactly-once: a third refresh with no new data changes nothing
        fs.refresh("user_totals", "1.0")
        got3 = {
            r["user_id"]: (r["f_n"], r["f_sum"])
            for r in fs.read_feature_view("USER_TOTALS$1.0").collect()
        }
        assert {k: v[0] for k, v in got3.items()} == {
            k: v[0] for k, v in got2.items()
        }

    def test_merge_maintenance_with_timestamp_col(self, fs, spark, split_events):
        """A merge-maintained FV whose agg output includes timestamp_col
        must survive RESUME (activation and resume see the same
        un-augmented schema — no _fs_dt in the merged table), and a
        forced FULL recompute invalidates the merge checkpoint so the
        next incremental refresh rebuilds instead of replaying stale
        running totals."""
        fs.register_source("S_AGG_TS", split_events["src"])
        fs.register_entity(Entity("tuser", ["user_id"]))
        fv = FeatureView(
            "user_latest",
            ["tuser"],
            sql="""SELECT user_id, MAX(ts) AS ts, COUNT(*) AS f_n
                   FROM S_AGG_TS GROUP BY user_id""",
            timestamp_col="ts",
            refresh=RefreshSpec("1 minute", "INCREMENTAL", "ON_CREATE"),
        )
        fs.register_feature_view(fv, version="1.0")

        def expect():
            return {
                r["user_id"]: r["f_n"]
                for r in spark.read.parquet(split_events["src"])
                .groupBy("user_id").agg(F.count("*").alias("f_n")).collect()
            }

        got1 = {
            r["user_id"]: r["f_n"]
            for r in fs.read_feature_view("USER_LATEST$1.0").collect()
        }
        assert got1 == expect()

        # RESUME with new data: previously crashed on the _fs_dt schema
        # mismatch between activation and resume
        _arrive_half2(split_events)
        assert fs.refresh("user_latest", "1.0") == "INCREMENTAL"
        got2 = {
            r["user_id"]: r["f_n"]
            for r in fs.read_feature_view("USER_LATEST$1.0").collect()
        }
        assert got2 == expect()

        # forced FULL must invalidate the merge checkpoint: the next
        # incremental refresh rebuilds (same totals, no double count)
        import os

        data_path = fs._fv_data_path("user_latest", "1.0")
        assert fs.refresh("user_latest", "1.0", mode="FULL") == "FULL"
        assert not os.path.isdir(data_path + "_ckpt_merge")
        assert fs.refresh("user_latest", "1.0") == "INCREMENTAL"
        got3 = {
            r["user_id"]: r["f_n"]
            for r in fs.read_feature_view("USER_LATEST$1.0").collect()
        }
        assert got3 == expect()

    def test_hdr_sketch_fv_incremental_maintenance(
        self, fs, spark, split_events
    ):
        """Incremental PERCENTILE maintenance end-to-end: an FV whose
        body is the HDR bucket-count sketch (plain SQL — integer
        octave/shift bucketing) is a keyed non-windowed aggregation, so
        the update-mode foreachBatch-MERGE path maintains it across
        arrivals; the maintained bucket counts equal the batch sketch
        EXACTLY (counts add), and quantiles read off the maintained
        table match the batch-sketch quantiles."""
        from dbt_snowflake_feature_store_spark.functions import (
            sketches as SK,
        )

        fs.register_source("S_HDR", split_events["src"])
        fs.register_entity(Entity("etype_bucket", ["event_type", "bucket"]))
        bucket_sql = (
            "CAST(CASE WHEN mv < 16 THEN mv "
            "ELSE (CAST(length(bin(mv)) AS BIGINT) - 4) * 16 "
            "+ shiftright(mv, CAST(length(bin(mv)) AS INT) - 5) - 16 "
            "END AS BIGINT)"
        )
        fv = FeatureView(
            "hdr_sketch",
            ["etype_bucket"],
            sql=f"""SELECT event_type, {bucket_sql} AS bucket,
                           COUNT(*) AS f_cnt
                    FROM (SELECT event_type,
                                 CAST(ROUND(CAST(value AS DOUBLE)
                                      * 1000000.0) AS BIGINT) AS mv
                          FROM S_HDR)
                    GROUP BY event_type, {bucket_sql}""",
            refresh=RefreshSpec("1 minute", "INCREMENTAL", "ON_CREATE"),
        )
        fs.register_feature_view(fv, version="1.0")

        def batch_sketch():
            ev = spark.read.parquet(split_events["src"])
            return {
                (r["event_type"], r["bucket"]): r["cnt"]
                for r in SK.hdr_sketch_by_key(
                    ev, ["event_type"], "value"
                ).collect()
            }

        got1 = {
            (r["event_type"], r["bucket"]): r["f_cnt"]
            for r in fs.read_feature_view("HDR_SKETCH$1.0").collect()
        }
        assert got1 == batch_sketch()

        _arrive_half2(split_events)
        assert fs.refresh("hdr_sketch", "1.0") == "INCREMENTAL"
        maintained = fs.read_feature_view("HDR_SKETCH$1.0")
        got2 = {
            (r["event_type"], r["bucket"]): r["f_cnt"]
            for r in maintained.collect()
        }
        assert got2 == batch_sketch()  # cell-exact after the merge

        # quantiles off the MAINTAINED table == quantiles off the batch
        # sketch (the point: percentile queries never rescan raw events)
        q_m = {
            r["event_type"]: (r["p50"], r["p95"])
            for r in SK.hdr_quantiles(
                maintained.withColumnRenamed("f_cnt", "cnt"),
                ["event_type"],
                [0.5, 0.95],
            ).collect()
        }
        ev = spark.read.parquet(split_events["src"])
        q_b = {
            r["event_type"]: (r["p50"], r["p95"])
            for r in SK.hdr_quantiles(
                SK.hdr_sketch_by_key(ev, ["event_type"], "value"),
                ["event_type"],
                [0.5, 0.95],
            ).collect()
        }
        assert q_m == q_b

    def test_append_rebuild_clears_stale_merge_ckpt(
        self, fs, spark, split_events
    ):
        """When the merge-resume gate falls through (entity keys absent
        from the plan output) and the APPEND path rebuilds the
        materialization, a stale _ckpt_merge must die with it — else a
        later refresh whose keys resolve again would replay obsolete
        running totals against the rebuilt table (ADVICE r7)."""
        import shutil

        fs.register_source("S_REBUILD", split_events["src"])
        fs.register_entity(Entity("muser", ["user_id"]))
        # output LACKS user_id → _entity_merge_keys is empty → append path
        fv = FeatureView(
            "no_key_stream",
            ["muser"],
            sql="SELECT ts, value AS f_value FROM S_REBUILD",
            timestamp_col="ts",
            refresh=RefreshSpec("1 minute", "INCREMENTAL", "ON_CREATE"),
        )
        fs.register_feature_view(fv, version="1.0")
        n1 = fs.read_feature_view("NO_KEY_STREAM$1.0").count()
        assert n1 == split_events["half1"]

        data_path = fs._fv_data_path("no_key_stream", "1.0")
        # simulate the stale state: a leftover merge checkpoint plus a
        # broken append pair (checkpoint gone, file log still present)
        os.makedirs(data_path + "_ckpt_merge", exist_ok=True)
        shutil.rmtree(data_path + "_ckpt")
        assert fs.refresh("no_key_stream", "1.0") == "INCREMENTAL"
        assert not os.path.isdir(data_path + "_ckpt_merge")
        assert (
            fs.read_feature_view("NO_KEY_STREAM$1.0").count()
            == split_events["half1"]
        )

    def test_auto_keeps_keyed_agg_incremental(self, fs, spark, split_events):
        """Round 7: a keyed non-windowed aggregation under AUTO no
        longer downgrades — the update-mode foreachBatch MERGE path
        maintains it incrementally (and exactly)."""
        fs.register_source("STREAM_EVENTS_A", split_events["src"])
        fs.register_entity(Entity("user", ["user_id"]))
        fv = FeatureView(
            "user_counts",
            ["user"],
            sql="""SELECT user_id, COUNT(*) AS f_n
                   FROM STREAM_EVENTS_A GROUP BY user_id""",
            refresh=RefreshSpec("1 hour", "AUTO", "ON_SCHEDULE"),
        )
        fs.register_feature_view(fv, version="1.0")
        mode = fs.refresh("user_counts", "1.0")
        assert mode == "INCREMENTAL"
        out = fs.read_feature_view("USER_COUNTS$1.0")
        batch = (
            spark.read.parquet(split_events["src"]).groupBy("user_id").count()
        )
        assert out.count() == batch.count()
        got = {r["user_id"]: r["f_n"] for r in out.collect()}
        exp = {r["user_id"]: r["count"] for r in batch.collect()}
        assert got == exp

    def test_auto_downgrades_to_full(self, fs, spark, split_events):
        """A genuinely non-incrementalizable plan (streaming sort) still
        takes the AUTO -> FULL downgrade, exactly."""
        fs.register_source("STREAM_EVENTS_A2", split_events["src"])
        fs.register_entity(Entity("user", ["user_id"]))
        fv = FeatureView(
            "sorted_fv",
            ["user"],
            sql="""SELECT user_id, ts, value AS f_v
                   FROM STREAM_EVENTS_A2 ORDER BY ts""",
            refresh=RefreshSpec("1 hour", "AUTO", "ON_SCHEDULE"),
        )
        fs.register_feature_view(fv, version="1.0")
        mode = fs.refresh("sorted_fv", "1.0")
        assert mode == "FULL"
        out = fs.read_feature_view("SORTED_FV$1.0")
        assert out.count() == spark.read.parquet(split_events["src"]).count()

    def test_full_mode_ignores_streaming(self, fs, spark, split_events):
        fs.register_source("STREAM_EVENTS_F", split_events["src"])
        fs.register_entity(Entity("user", ["user_id"]))
        fv = FeatureView(
            "full_fv",
            ["user"],
            sql="SELECT user_id, ts, value FROM STREAM_EVENTS_F",
            timestamp_col="ts",
            refresh=RefreshSpec("1 day", "FULL", "ON_CREATE"),
        )
        fs.register_feature_view(fv, version="1.0")
        assert fs.read_feature_view("FULL_FV$1.0").count() == split_events["half1"]
        _arrive_half2(split_events)
        assert fs.refresh("full_fv", "1.0") == "FULL"
        assert fs.read_feature_view("FULL_FV$1.0").count() == split_events["total"]


class TestStreamingKMV:
    def test_kmv_sketch_fv_incremental_maintenance(
        self, fs, spark, split_events
    ):
        """VERDICT r8 item 5 — incremental DISTINCT-sketch maintenance:
        an FV whose body is the threshold-filtered distinct-hash table
        (functions/sketches.kmv_threshold_sql) is a keyed streaming
        aggregation, so the update-mode foreachBatch-MERGE path
        maintains it across arrivals. The k-min read off the maintained
        table equals the batch KMV sketch EXACTLY after each arrival
        (set parity, not just estimates), and the distinct estimates
        match kmv_estimate over the batch sketch — distinct queries
        never rescan raw events."""
        from dbt_snowflake_feature_store_spark.functions import (
            sketches as SK,
        )

        K, T = 16, 1 << 31
        fs.register_source("S_KMV", split_events["src"])
        fs.register_entity(Entity("etype_h", ["event_type", "h"]))
        fv = FeatureView(
            "kmv_sketch",
            ["etype_h"],
            sql=SK.kmv_threshold_sql(
                "S_KMV", ["event_type"], "event_id", threshold=T
            ),
            refresh=RefreshSpec("1 minute", "INCREMENTAL", "ON_CREATE"),
        )
        fs.register_feature_view(fv, version="1.0")

        def batch_kmin():
            ev = spark.read.parquet(split_events["src"])
            return {
                (r["event_type"], r["h"])
                for r in SK.kmv_sketch_by_key(
                    ev, ["event_type"], "event_id", k=K
                ).collect()
            }

        def batch_est():
            ev = spark.read.parquet(split_events["src"])
            return {
                r["event_type"]: r["kmv_distinct"]
                for r in SK.kmv_estimate(
                    SK.kmv_sketch_by_key(
                        ev, ["event_type"], "event_id", k=K
                    ),
                    ["event_type"],
                    k=K,
                ).collect()
            }

        def maintained():
            return fs.read_feature_view("KMV_SKETCH$1.0")

        # the parity contract requires ≥ K distinct hashes below T per
        # group at every arrival — assert the fixture satisfies it
        m1 = maintained()
        per_grp = {
            r["event_type"]: r["n"]
            for r in m1.groupBy("event_type").agg(
                F.count("*").alias("n")
            ).collect()
        }
        assert all(n >= K for n in per_grp.values()), per_grp

        got1 = {
            (r["event_type"], r["h"])
            for r in SK.kmv_from_maintained(
                m1, ["event_type"], k=K, threshold=T
            ).collect()
        }
        assert got1 == batch_kmin()

        _arrive_half2(split_events)
        assert fs.refresh("kmv_sketch", "1.0") == "INCREMENTAL"
        m2 = maintained()
        got2 = {
            (r["event_type"], r["h"])
            for r in SK.kmv_from_maintained(
                m2, ["event_type"], k=K, threshold=T
            ).collect()
        }
        assert got2 == batch_kmin()  # set-exact after the merge

        est_m = {
            r["event_type"]: r["kmv_distinct"]
            for r in SK.kmv_maintained_estimate(
                m2, ["event_type"], k=K, threshold=T
            ).collect()
        }
        assert est_m == batch_est()

    def test_kmv_threshold_bounds_maintained_rows(self, spark):
        """The threshold filter is the state bound: the maintained table
        keeps ~n·T/space rows per group (half here), and k-min over it
        equals k-min over everything whenever ≥ k hashes survive —
        min-k composes with any superset-preserving filter."""
        from dbt_snowflake_feature_store_spark.functions import (
            sketches as SK,
        )

        ev = read_table(spark, SF, "events")
        T = 1 << 31
        hashed = ev.select(
            "event_type", SK.kmv_hash("event_id").alias("h")
        )
        kept = hashed.filter(F.col("h") < T)
        n_all = hashed.distinct().count()
        n_kept = kept.distinct().count()
        assert 0.3 < n_kept / n_all < 0.7  # ~T/space = 0.5
        a = {
            tuple(r)
            for r in SK.kmv_kmin(kept, ["event_type"], k=16).collect()
        }
        b = {
            tuple(r)
            for r in SK.kmv_kmin(hashed, ["event_type"], k=16).collect()
        }
        assert a == b


class TestStreamingCM:
    def test_cm_sketch_fv_incremental_maintenance(
        self, fs, spark, split_events
    ):
        """VERDICT r9 item 6 — streaming count-min maintenance: an FV
        whose body is the per-key (d, w) cell-count SQL
        (functions/sketches.cm_sketch_sql) rides the keyed-agg
        foreachBatch-MERGE path (HDR r8 / KMV r9 precedents). After
        each arrival the maintained table equals the batch
        cm_sketch_by_key CELL-EXACTLY (counts add across arrivals),
        and heavy-hitter probes read the maintained table — never raw
        events."""
        from dbt_snowflake_feature_store_spark.functions import (
            sketches as SK,
        )

        D, W = 4, 64  # W < cardinality so collisions are real
        fs.register_source("S_CM", split_events["src"])
        fs.register_entity(Entity("etype_cell", ["event_type", "d", "w"]))
        fv = FeatureView(
            "cm_sketch",
            ["etype_cell"],
            sql=SK.cm_sketch_sql(
                "S_CM", ["event_type"], "event_id", depth=D, width=W
            ),
            refresh=RefreshSpec("1 minute", "INCREMENTAL", "ON_CREATE"),
        )
        fs.register_feature_view(fv, version="1.0")

        def batch_cells():
            ev = spark.read.parquet(split_events["src"])
            return {
                (r["event_type"], r["d"], r["w"]): r["cnt"]
                for r in SK.cm_sketch_by_key(
                    ev, ["event_type"], "event_id", depth=D, width=W
                ).collect()
            }

        def maintained_cells():
            return {
                (r["event_type"], r["d"], r["w"]): r["cnt"]
                for r in fs.read_feature_view("CM_SKETCH$1.0").collect()
            }

        assert maintained_cells() == batch_cells()

        _arrive_half2(split_events)
        assert fs.refresh("cm_sketch", "1.0") == "INCREMENTAL"
        m2 = maintained_cells()
        assert m2 == batch_cells()  # cell-exact after the merge
        # bounded state: ≤ D·W rows per key group by construction
        per_group = {}
        for (g, _, _), _c in m2.items():
            per_group[g] = per_group.get(g, 0) + 1
        assert all(n <= D * W for n in per_group.values()), per_group

        # heavy-hitter probe off the MAINTAINED table: pick one group,
        # estimate every distinct item, compare against cm_estimate on
        # the batch sketch — identical cells ⇒ identical estimates, and
        # estimates never underestimate the true count
        ev = spark.read.parquet(split_events["src"])
        g = sorted(per_group)[0]
        items = ev.filter(F.col("event_type") == g).select("event_id").distinct()
        msk = (
            fs.read_feature_view("CM_SKETCH$1.0")
            .filter(F.col("event_type") == g)
            .select("d", "w", "cnt")
        )
        est = {
            r["event_id"]: r["cm_est"]
            for r in SK.cm_estimate(
                msk, items, "event_id", depth=D, width=W
            ).collect()
        }
        truth = {
            r["event_id"]: r["n"]
            for r in ev.filter(F.col("event_type") == g)
            .groupBy("event_id")
            .agg(F.count("*").cast("long").alias("n"))
            .collect()
        }
        assert set(est) == set(truth)
        assert all(est[i] >= truth[i] for i in truth)  # never underestimates


class TestStreamingBloom:
    def test_bloom_fv_incremental_maintenance(self, fs, spark, split_events):
        """Streaming Bloom maintenance (r10): bit_or is a keyed agg and
        OR is monotone-merge-exact, so a bloom_build_sql FV rides the
        foreachBatch-MERGE path. After each arrival the maintained
        words equal the batch build WORD-EXACTLY; probes off the
        maintained table have zero false negatives at both points."""
        from dbt_snowflake_feature_store_spark.functions import (
            sketches as SK,
        )

        BITS, W, D = 1024, 32, 3  # small so collisions/FPs are real
        fs.register_source("S_BLOOM", split_events["src"])
        fs.register_entity(Entity("etype_word", ["event_type", "word"]))
        fv = FeatureView(
            "bloom_fv",
            ["etype_word"],
            sql=SK.bloom_build_sql(
                "S_BLOOM", ["event_type"], "event_id",
                bits=BITS, word=W, depth=D,
            ),
            refresh=RefreshSpec("1 minute", "INCREMENTAL", "ON_CREATE"),
        )
        fs.register_feature_view(fv, version="1.0")

        def batch_words():
            spark.read.parquet(split_events["src"]).createOrReplaceTempView(
                "_bloom_batch_src"
            )
            return {
                (r["event_type"], r["word"]): r["bw"]
                for r in spark.sql(
                    SK.bloom_build_sql(
                        "_bloom_batch_src", ["event_type"], "event_id",
                        bits=BITS, word=W, depth=D,
                    )
                ).collect()
            }

        def maintained():
            return fs.read_feature_view("BLOOM_FV$1.0")

        def assert_no_false_negatives():
            ev = spark.read.parquet(split_events["src"])
            items = ev.select("event_type", "event_id").distinct()
            probed = SK.bloom_contains(
                maintained(), ["event_type"], items, "event_id",
                bits=BITS, word=W, depth=D,
            )
            n_items = items.count()
            n_pos = probed.agg(F.sum("bloom_positive")).head()[0]
            assert n_pos == n_items  # every true member probes positive

        got1 = {
            (r["event_type"], r["word"]): r["bw"]
            for r in maintained().collect()
        }
        assert got1 == batch_words()
        assert_no_false_negatives()
        # state bound: ≤ bits/word rows per key group
        per_group = {}
        for (g, _), _bw in got1.items():
            per_group[g] = per_group.get(g, 0) + 1
        assert all(n <= BITS // W for n in per_group.values()), per_group

        _arrive_half2(split_events)
        assert fs.refresh("bloom_fv", "1.0") == "INCREMENTAL"
        got2 = {
            (r["event_type"], r["word"]): r["bw"]
            for r in maintained().collect()
        }
        assert got2 == batch_words()  # word-exact after the merge
        assert_no_false_negatives()
        # monotone: no bit ever cleared by the second arrival
        for k, bw in got1.items():
            assert (got2[k] & bw) == bw, k


class TestStreamingHLL:
    def test_hll_registers_fv_incremental_maintenance(
        self, fs, spark, split_events
    ):
        """Streaming HLL maintenance (r11): the portable register table
        is a keyed MAX aggregation — idempotent and monotone, so it
        rides the foreachBatch-MERGE path like Bloom's bit_or. After
        each arrival the maintained registers equal the batch build
        REGISTER-EXACTLY, and the harmonic estimate off the maintained
        table lands within the 13%-σ band of the exact distinct count.
        This closes streaming maintenance across the sketch family:
        HDR (SUM), count-min (SUM), KMV (threshold), Bloom (bit_or),
        HLL (MAX)."""
        from dbt_snowflake_feature_store_spark.functions import (
            sketches as SK,
        )

        fs.register_source("S_HLL", split_events["src"])
        fs.register_entity(Entity("etype_reg", ["event_type", "idx"]))
        fv = FeatureView(
            "hll_regs",
            ["etype_reg"],
            sql=SK.hll_registers_sql("S_HLL", ["event_type"], "user_id"),
            refresh=RefreshSpec("1 minute", "INCREMENTAL", "ON_CREATE"),
        )
        fs.register_feature_view(fv, version="1.0")

        def batch_regs():
            ev = spark.read.parquet(split_events["src"])
            return {
                (r["event_type"], r["idx"]): r["reg"]
                for r in SK.hll_registers_by_key(
                    ev, ["event_type"], "user_id"
                ).collect()
            }

        def maintained_regs():
            return {
                (r["event_type"], r["idx"]): r["reg"]
                for r in fs.read_feature_view("HLL_REGS$1.0").collect()
            }

        assert maintained_regs() == batch_regs()

        _arrive_half2(split_events)
        assert fs.refresh("hll_regs", "1.0") == "INCREMENTAL"
        m2 = maintained_regs()
        assert m2 == batch_regs()  # register-exact after the merge
        # bounded state: ≤ m rows per key group by construction
        per_group = {}
        for (g, _), _r in m2.items():
            per_group[g] = per_group.get(g, 0) + 1
        assert all(n <= SK.HLL_M for n in per_group.values()), per_group

        # estimate off the MAINTAINED table vs exact distinct per group.
        # The maintained table carries RAW harmonic estimates (bias
        # corrections are production policy, hll_estimate_from_registers
        # docstring); the standard HLL range policy applies here in the
        # consumer: LINEAR COUNTING m·ln(m/empty) when registers are
        # sparse (n ≲ 2.5m — raw HLL is known-biased there), raw
        # harmonic otherwise. Both read ONLY the maintained registers.
        import math

        ev = spark.read.parquet(split_events["src"])
        raw = {
            r["event_type"]: r["hll_est"]
            for r in SK.hll_estimate_from_registers(
                fs.read_feature_view("HLL_REGS$1.0"), ["event_type"]
            ).collect()
        }
        truth = {
            r["event_type"]: r["n"]
            for r in ev.filter(F.col("user_id").isNotNull())
            .groupBy("event_type")
            .agg(F.countDistinct("user_id").cast("long").alias("n"))
            .collect()
        }
        assert set(raw) == set(truth)
        m = SK.HLL_M
        for g, n in truth.items():
            empty = m - per_group[g]
            est = (
                m * math.log(m / empty) if empty > 0 and raw[g] < 2.5 * m
                else raw[g]
            )
            # σ ≈ 1.04/√64 ≈ 13% → generous 3σ band (sketch-test norm)
            assert abs(est - n) <= max(0.4 * n, 4), (g, est, raw[g], n)


class TestStreamingDrift:
    """VERDICT r11 next #9 — drift monitors off MAINTAINED state: the
    KS point frame (v, c1, c2) and the TVD bin frame (_o, c1, c2) are
    keyed SUM aggregates, so an incremental FV maintains them exactly
    via the foreachBatch-MERGE path and ks_from_points /
    tvd_from_cells read the maintained table — a drift monitor never
    rescans raw history."""

    def test_ks_from_maintained_points_matches_batch(
        self, fs, spark, split_events
    ):
        from dbt_snowflake_feature_store_spark.operators.stats import (
            ks_from_points,
        )

        fs.register_source("S_KS", split_events["src"])
        fs.register_entity(Entity("vpoint", ["v"]))
        # two-sample split: error events vs everything else, point
        # domain = value in integer cents (half-up)
        sql = """
            SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v,
                   CAST(SUM(CASE WHEN event_type = 'error' THEN 1
                            ELSE 0 END) AS BIGINT) AS c1,
                   CAST(SUM(CASE WHEN event_type <> 'error' THEN 1
                            ELSE 0 END) AS BIGINT) AS c2
            FROM S_KS WHERE value IS NOT NULL GROUP BY 1
        """
        fv = FeatureView(
            "ks_points",
            ["vpoint"],
            sql=sql,
            refresh=RefreshSpec("1 minute", "INCREMENTAL", "ON_CREATE"),
        )
        fs.register_feature_view(fv, version="1.0")

        def batch_ks():
            ev = spark.read.parquet(split_events["src"]).filter(
                F.col("value").isNotNull()
            )
            pts = ev.select(
                F.expr(
                    "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"
                ).alias("v"),
                F.when(F.col("event_type") == "error", 1)
                .otherwise(0)
                .alias("_a"),
                F.when(F.col("event_type") != "error", 1)
                .otherwise(0)
                .alias("_b"),
            ).groupBy("v").agg(
                F.sum("_a").cast("long").alias("c1"),
                F.sum("_b").cast("long").alias("c2"),
            )
            return ks_from_points(pts).head()

        def maintained_ks():
            pts = fs.read_feature_view("KS_POINTS$1.0").select(
                "v", "c1", "c2"
            )
            return ks_from_points(pts).head()

        b1, m1 = batch_ks(), maintained_ks()
        assert (m1["f_n1"], m1["f_n2"], m1["f_ks_ppm"]) == (
            b1["f_n1"], b1["f_n2"], b1["f_ks_ppm"],
        )
        assert m1["f_n1"] > 0 and m1["f_n2"] > 0

        _arrive_half2(split_events)
        assert fs.refresh("ks_points", "1.0") == "INCREMENTAL"
        b2, m2 = batch_ks(), maintained_ks()
        assert (m2["f_n1"], m2["f_n2"], m2["f_ks_ppm"]) == (
            b2["f_n1"], b2["f_n2"], b2["f_ks_ppm"],
        )
        # the arrival actually changed the state (not a vacuous rerun)
        assert (m2["f_n1"], m2["f_n2"]) != (m1["f_n1"], m1["f_n2"])

    def test_tvd_from_maintained_cells_matches_batch(
        self, fs, spark, split_events
    ):
        from dbt_snowflake_feature_store_spark.operators.stats import (
            tvd_from_cells,
        )

        fs.register_source("S_TVD", split_events["src"])
        fs.register_entity(Entity("octave", ["_o"]))
        sql = """
            SELECT CAST(length(bin(CAST(FLOOR(ABS(value) * 100 + 0.5)
                        AS BIGINT) + 1)) - 1 AS BIGINT) AS _o,
                   CAST(SUM(CASE WHEN event_type = 'error' THEN 1
                            ELSE 0 END) AS BIGINT) AS c1,
                   CAST(SUM(CASE WHEN event_type <> 'error' THEN 1
                            ELSE 0 END) AS BIGINT) AS c2
            FROM S_TVD WHERE value IS NOT NULL GROUP BY 1
        """
        fv = FeatureView(
            "tvd_cells",
            ["octave"],
            sql=sql,
            refresh=RefreshSpec("1 minute", "INCREMENTAL", "ON_CREATE"),
        )
        fs.register_feature_view(fv, version="1.0")

        def batch_tvd():
            ev = spark.read.parquet(split_events["src"]).filter(
                F.col("value").isNotNull()
            )
            cell = ev.select(
                F.expr(
                    "CAST(length(bin(CAST(FLOOR(ABS(value) * 100 + 0.5)"
                    " AS BIGINT) + 1)) - 1 AS BIGINT)"
                ).alias("_o"),
                F.when(F.col("event_type") == "error", 1)
                .otherwise(0)
                .alias("_a"),
                F.when(F.col("event_type") != "error", 1)
                .otherwise(0)
                .alias("_b"),
            ).groupBy("_o").agg(
                F.sum("_a").cast("long").alias("c1"),
                F.sum("_b").cast("long").alias("c2"),
            )
            return tvd_from_cells(cell).head()

        def maintained_tvd():
            cell = fs.read_feature_view("TVD_CELLS$1.0").select(
                "_o", "c1", "c2"
            )
            return tvd_from_cells(cell).head()

        b1, m1 = batch_tvd(), maintained_tvd()
        assert (m1["f_n1"], m1["f_n2"], m1["f_bins"], m1["f_tvd_ppm"]) == (
            b1["f_n1"], b1["f_n2"], b1["f_bins"], b1["f_tvd_ppm"],
        )

        _arrive_half2(split_events)
        assert fs.refresh("tvd_cells", "1.0") == "INCREMENTAL"
        b2, m2 = batch_tvd(), maintained_tvd()
        assert (m2["f_n1"], m2["f_n2"], m2["f_bins"], m2["f_tvd_ppm"]) == (
            b2["f_n1"], b2["f_n2"], b2["f_bins"], b2["f_tvd_ppm"],
        )
        assert (m2["f_n1"], m2["f_n2"]) != (m1["f_n1"], m1["f_n2"])

    def test_cusum_from_maintained_days_matches_batch(
        self, fs, spark, split_events
    ):
        """r12: the CUSUM period frame (day, count) is a keyed COUNT —
        the same maintained-state discipline as KS points / TVD cells:
        cusum_from_days over the incrementally-maintained FV equals the
        batch statistic at every arrival."""
        from dbt_snowflake_feature_store_spark.operators.stats import (
            cusum_from_days,
        )

        fs.register_source("S_CUSUM", split_events["src"])
        fs.register_entity(Entity("day_key", ["_d"]))
        sql = """
            SELECT date_trunc('day', ts) AS _d,
                   CAST(COUNT(*) AS BIGINT) AS _x
            FROM S_CUSUM
            WHERE ts IS NOT NULL AND event_type = 'error'
            GROUP BY 1
        """
        fv = FeatureView(
            "cusum_days",
            ["day_key"],
            sql=sql,
            refresh=RefreshSpec("1 minute", "INCREMENTAL", "ON_CREATE"),
        )
        fs.register_feature_view(fv, version="1.0")

        def batch_cusum():
            ev = spark.read.parquet(split_events["src"]).filter(
                F.col("ts").isNotNull() & (F.col("event_type") == "error")
            )
            day = ev.groupBy(
                F.date_trunc("day", F.col("ts")).alias("_d")
            ).agg(F.count("*").cast("long").alias("_x"))
            return cusum_from_days(day).head()

        def maintained_cusum():
            day = fs.read_feature_view("CUSUM_DAYS$1.0").select("_d", "_x")
            return cusum_from_days(day).head()

        b1, m1 = batch_cusum(), maintained_cusum()
        assert (m1["f_days"], m1["f_total"], m1["f_cusum_max"],
                m1["f_peak_day"]) == (
            b1["f_days"], b1["f_total"], b1["f_cusum_max"],
            b1["f_peak_day"],
        )
        assert m1["f_days"] > 0

        _arrive_half2(split_events)
        assert fs.refresh("cusum_days", "1.0") == "INCREMENTAL"
        b2, m2 = batch_cusum(), maintained_cusum()
        assert (m2["f_days"], m2["f_total"], m2["f_cusum_max"],
                m2["f_peak_day"]) == (
            b2["f_days"], b2["f_total"], b2["f_cusum_max"],
            b2["f_peak_day"],
        )
        assert m2["f_total"] > m1["f_total"]

    def test_autocorr_from_maintained_days_matches_batch(
        self, fs, spark, split_events
    ):
        """r13 (VERDICT r12 next #5 — the fourth maintained-state drift
        monitor): the autocorrelation day frame (_ds, _x) is a keyed
        COUNT, so the incremental FV maintains it exactly and
        autocorr_from_days over the maintained table equals the batch
        statistic at every arrival."""
        from dbt_snowflake_feature_store_spark.operators.stats import (
            autocorr_from_days,
        )

        fs.register_source("S_ACF", split_events["src"])
        fs.register_entity(Entity("day_key", ["_ds"]))
        sql = """
            SELECT CAST(unix_timestamp(date_trunc('day', ts)) AS BIGINT)
                       AS _ds,
                   CAST(COUNT(*) AS BIGINT) AS _x
            FROM S_ACF
            WHERE ts IS NOT NULL
            GROUP BY 1
        """
        fv = FeatureView(
            "acf_days",
            ["day_key"],
            sql=sql,
            refresh=RefreshSpec("1 minute", "INCREMENTAL", "ON_CREATE"),
        )
        fs.register_feature_view(fv, version="1.0")

        def batch_acf():
            ev = spark.read.parquet(split_events["src"]).filter(
                F.col("ts").isNotNull()
            )
            day = ev.groupBy(
                F.expr(
                    "CAST(unix_timestamp(date_trunc('day', ts)) AS BIGINT)"
                ).alias("_ds")
            ).agg(F.count("*").cast("long").alias("_x"))
            return [tuple(r) for r in autocorr_from_days(day).collect()]

        def maintained_acf():
            day = fs.read_feature_view("ACF_DAYS$1.0").select("_ds", "_x")
            return [tuple(r) for r in autocorr_from_days(day).collect()]

        b1, m1 = batch_acf(), maintained_acf()
        assert m1 == b1 and len(m1) >= 1

        _arrive_half2(split_events)
        assert fs.refresh("acf_days", "1.0") == "INCREMENTAL"
        b2, m2 = batch_acf(), maintained_acf()
        assert m2 == b2
        assert sum(r[1] for r in m2) > sum(r[1] for r in m1)

    def test_psi_from_maintained_cells_matches_batch(
        self, fs, spark, split_events
    ):
        """r13 — the fifth maintained-state drift monitor: the PSI cell
        frame is the SAME keyed-SUM octave binning as TVD's, so
        psi_from_cells over the incrementally-maintained FV equals the
        batch statistic at every arrival (drift family complete:
        KS / TVD / CUSUM / autocorr / PSI)."""
        from dbt_snowflake_feature_store_spark.operators.stats import (
            psi_from_cells,
        )

        fs.register_source("S_PSI", split_events["src"])
        fs.register_entity(Entity("psi_octave", ["_o"]))
        sql = """
            SELECT CAST(length(bin(CAST(FLOOR(ABS(value) * 100 + 0.5)
                        AS BIGINT) + 1)) - 1 AS BIGINT) AS _o,
                   CAST(SUM(CASE WHEN event_type = 'error' THEN 1
                            ELSE 0 END) AS BIGINT) AS c1,
                   CAST(SUM(CASE WHEN event_type <> 'error' THEN 1
                            ELSE 0 END) AS BIGINT) AS c2
            FROM S_PSI WHERE value IS NOT NULL GROUP BY 1
        """
        fv = FeatureView(
            "psi_cells",
            ["psi_octave"],
            sql=sql,
            refresh=RefreshSpec("1 minute", "INCREMENTAL", "ON_CREATE"),
        )
        fs.register_feature_view(fv, version="1.0")

        def batch_psi():
            ev = spark.read.parquet(split_events["src"]).filter(
                F.col("value").isNotNull()
            )
            cell = ev.select(
                F.expr(
                    "CAST(length(bin(CAST(FLOOR(ABS(value) * 100 + 0.5)"
                    " AS BIGINT) + 1)) - 1 AS BIGINT)"
                ).alias("_o"),
                F.when(F.col("event_type") == "error", 1)
                .otherwise(0)
                .alias("_a"),
                F.when(F.col("event_type") != "error", 1)
                .otherwise(0)
                .alias("_b"),
            ).groupBy("_o").agg(
                F.sum("_a").cast("long").alias("c1"),
                F.sum("_b").cast("long").alias("c2"),
            )
            return psi_from_cells(cell).head()

        def maintained_psi():
            cell = fs.read_feature_view("PSI_CELLS$1.0").select(
                "_o", "c1", "c2"
            )
            return psi_from_cells(cell).head()

        b1, m1 = batch_psi(), maintained_psi()
        assert (
            m1["f_n1"], m1["f_n2"], m1["f_bins"], m1["f_psi_bits_ppm"]
        ) == (
            b1["f_n1"], b1["f_n2"], b1["f_bins"], b1["f_psi_bits_ppm"],
        )
        assert m1["f_n1"] > 0 and m1["f_n2"] > 0

        _arrive_half2(split_events)
        assert fs.refresh("psi_cells", "1.0") == "INCREMENTAL"
        b2, m2 = batch_psi(), maintained_psi()
        assert (
            m2["f_n1"], m2["f_n2"], m2["f_bins"], m2["f_psi_bits_ppm"]
        ) == (
            b2["f_n1"], b2["f_n2"], b2["f_bins"], b2["f_psi_bits_ppm"],
        )
        assert (m2["f_n1"], m2["f_n2"]) != (m1["f_n1"], m1["f_n2"])

    def test_benford_from_maintained_digits_matches_batch(
        self, fs, spark, split_events
    ):
        """r13 — the SIXTH maintained-state drift monitor: the Benford
        digit frame (f_digit, f_n) is a keyed COUNT, so
        benford_from_digits over the incrementally-maintained 9-row FV
        equals the batch audit at every arrival (drift family:
        KS / TVD / CUSUM / autocorr / PSI / Benford)."""
        from dbt_snowflake_feature_store_spark.operators.stats import (
            benford_from_digits,
        )

        fs.register_source("S_BEN", split_events["src"])
        fs.register_entity(Entity("ben_digit", ["f_digit"]))
        sql = """
            SELECT CAST(substring(CAST(CAST(FLOOR(ABS(value) * 100 + 0.5)
                        AS BIGINT) AS STRING), 1, 1) AS BIGINT) AS f_digit,
                   CAST(COUNT(*) AS BIGINT) AS f_n
            FROM S_BEN WHERE value IS NOT NULL AND ABS(value) >= 0.01
            GROUP BY 1
        """
        fv = FeatureView(
            "benford_digits",
            ["ben_digit"],
            sql=sql,
            refresh=RefreshSpec("1 minute", "INCREMENTAL", "ON_CREATE"),
        )
        fs.register_feature_view(fv, version="1.0")

        def batch_rows():
            ev = spark.read.parquet(split_events["src"]).filter(
                F.col("value").isNotNull()
                & (F.abs(F.col("value")) >= 0.01)
            )
            dig = ev.select(
                F.expr(
                    "CAST(substring(CAST(CAST(FLOOR(ABS(value) * 100"
                    " + 0.5) AS BIGINT) AS STRING), 1, 1) AS BIGINT)"
                ).alias("f_digit")
            ).groupBy("f_digit").agg(
                F.count("*").cast("long").alias("f_n")
            )
            return [
                tuple(r) for r in benford_from_digits(dig).collect()
            ]

        def maintained_rows():
            dig = fs.read_feature_view("BENFORD_DIGITS$1.0").select(
                "f_digit", "f_n"
            )
            return [
                tuple(r) for r in benford_from_digits(dig).collect()
            ]

        b1, m1 = batch_rows(), maintained_rows()
        assert m1 == b1 and len(m1) > 0

        _arrive_half2(split_events)
        assert fs.refresh("benford_digits", "1.0") == "INCREMENTAL"
        b2, m2 = batch_rows(), maintained_rows()
        assert m2 == b2
        # the arrival actually changed the state (not a vacuous rerun)
        assert m2 != m1

