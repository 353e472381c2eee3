"""Point-in-time correctness tests — the spec is the reference's own PIT
test ("Features should be from BEFORE the event_time",
/root/reference/integration_tests/python_tests/
test_feature_store_workflows.py:60-184): 10 customers × 5 snapshots at
30/20/10/5/1 days back, spine at 7 days back → the join must pick the
10-days-back snapshot, never a future one. Plus edge cases from SURVEY.md
§7's risk register: ties, duplicate timestamps, no-prior-row nulls,
multi-FV folding, strategy equivalence.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from dbt_snowflake_feature_store_spark import Entity, FeatureView, asof_join, pit
from dbt_snowflake_feature_store_spark.pit import _plan_size_bytes

BASE = dt.datetime(2024, 6, 30, 12, 0, 0)


def _days_back(n: int) -> dt.datetime:
    return BASE - dt.timedelta(days=n)


@pytest.fixture(scope="module")
def snapshots(spark):
    """customer_base_table: 10 customers × 5 snapshots (FIXTURES.md §1)."""
    rows = []
    for cid in range(10):
        for back in (30, 20, 10, 5, 1):
            rows.append(
                (
                    cid,
                    _days_back(back),
                    20 + cid + (30 - back),  # age changes per snapshot
                    "US" if cid % 2 == 0 else "DE",
                    "Gold" if cid % 3 == 0 else "Silver",
                )
            )
    return spark.createDataFrame(
        rows, "customer_id long, updated_at timestamp, age int, country string, tier string"
    )


@pytest.fixture(scope="module")
def spine(spark):
    """training_spine: spine at 7 days back — strictly between the
    10-day and 5-day snapshots."""
    rows = [(cid, _days_back(7), cid % 2) for cid in range(10)]
    return spark.createDataFrame(
        rows, "customer_id long, event_time timestamp, label int"
    )


class TestAsofJoin:
    def test_picks_latest_before_not_future(self, spark, snapshots, spine):
        out = asof_join(
            spine,
            snapshots,
            on=["customer_id"],
            spine_ts="event_time",
            feature_ts="updated_at",
        ).collect()
        assert len(out) == 10  # spine preserved
        for r in out:
            # spine at 7 days back → latest snapshot <= that is 10 days back
            # → age = 20 + cid + (30-10)
            assert r["age"] == 20 + r["customer_id"] + 20, r
            assert r["country"] is not None

    def test_no_prior_row_gives_nulls(self, spark, snapshots):
        early_spine = spark.createDataFrame(
            [(0, _days_back(40)), (1, _days_back(31))],
            "customer_id long, event_time timestamp",
        )
        out = asof_join(
            early_spine,
            snapshots,
            on=["customer_id"],
            spine_ts="event_time",
            feature_ts="updated_at",
        ).collect()
        assert len(out) == 2
        assert all(r["age"] is None and r["tier"] is None for r in out)

    def test_tie_timestamp_included(self, spark, snapshots):
        """fv.ts == spine.ts must match (<= semantics)."""
        tie_spine = spark.createDataFrame(
            [(3, _days_back(5))], "customer_id long, event_time timestamp"
        )
        out = asof_join(
            tie_spine,
            snapshots,
            on=["customer_id"],
            spine_ts="event_time",
            feature_ts="updated_at",
        ).collect()
        assert out[0]["age"] == 20 + 3 + 25  # the 5-days-back snapshot itself

    def test_unknown_key_gives_nulls(self, spark, snapshots):
        ghost = spark.createDataFrame(
            [(999, _days_back(1))], "customer_id long, event_time timestamp"
        )
        out = asof_join(
            ghost, snapshots, on=["customer_id"], spine_ts="event_time",
            feature_ts="updated_at",
        ).collect()
        assert len(out) == 1 and out[0]["age"] is None

    def test_duplicate_spine_rows_preserved(self, spark, snapshots):
        dup = spark.createDataFrame(
            [(2, _days_back(7)), (2, _days_back(7))],
            "customer_id long, event_time timestamp",
        )
        out = asof_join(
            dup, snapshots, on=["customer_id"], spine_ts="event_time",
            feature_ts="updated_at",
        ).collect()
        assert len(out) == 2
        assert out[0]["age"] == out[1]["age"] == 20 + 2 + 20

    def test_strategies_agree(self, spark, snapshots, spine):
        a = asof_join(
            spine, snapshots, on=["customer_id"], spine_ts="event_time",
            feature_ts="updated_at", strategy="union",
        )
        b = asof_join(
            spine, snapshots, on=["customer_id"], spine_ts="event_time",
            feature_ts="updated_at", strategy="broadcast",
        )
        ka = sorted(tuple(r) for r in a.collect())
        kb = sorted(tuple(r) for r in b.select(a.columns).collect())
        assert ka == kb

    def test_forward_picks_earliest_at_or_after(self, spark, snapshots, spine):
        out = asof_join(
            spine, snapshots, on=["customer_id"], spine_ts="event_time",
            feature_ts="updated_at", direction="forward",
        ).collect()
        assert len(out) == 10  # spine preserved
        for r in out:
            # spine at 7 days back → earliest snapshot >= that is 5 days
            # back → age = 20 + cid + (30-5)
            assert r["age"] == 20 + r["customer_id"] + 25, r

    def test_forward_tie_included_and_no_future_nulls(self, spark, snapshots):
        tie_spine = spark.createDataFrame(
            [(3, _days_back(5)), (4, _days_back(0))],
            "customer_id long, event_time timestamp",
        )
        out = {
            r["customer_id"]: r
            for r in asof_join(
                tie_spine, snapshots, on=["customer_id"],
                spine_ts="event_time", feature_ts="updated_at",
                direction="forward",
            ).collect()
        }
        # ts == spine ts matches (>= inclusive)
        assert out[3]["age"] == 20 + 3 + 25
        # spine after every snapshot → no at-or-after row → NULLs
        assert out[4]["age"] is None and out[4]["tier"] is None

    def test_forward_strategies_agree(self, spark, snapshots, spine):
        a = asof_join(
            spine, snapshots, on=["customer_id"], spine_ts="event_time",
            feature_ts="updated_at", strategy="union", direction="forward",
        )
        b = asof_join(
            spine, snapshots, on=["customer_id"], spine_ts="event_time",
            feature_ts="updated_at", strategy="broadcast", direction="forward",
        )
        assert sorted(tuple(r) for r in a.collect()) == sorted(
            tuple(r) for r in b.select(a.columns).collect()
        )

    def test_forward_tolerance_cuts_far_future(self, spark, snapshots, spine):
        # spine at 7 days back; nearest at-or-after snapshot is 5 days
        # back (2 days ahead). A 1-day lookahead cap must null it out.
        out = asof_join(
            spine, snapshots, on=["customer_id"], spine_ts="event_time",
            feature_ts="updated_at", direction="forward", tolerance="1 days",
        ).collect()
        assert all(r["age"] is None for r in out)

    def test_nearest_picks_closer_side(self, spark, snapshots, spine):
        """Spine at 7 days back: backward candidate is 10 days back
        (3 away), forward is 5 days back (2 away) -> forward wins."""
        out = asof_join(
            spine, snapshots, on=["customer_id"], spine_ts="event_time",
            feature_ts="updated_at", direction="nearest",
        ).collect()
        assert len(out) == 10
        for r in out:
            assert r["age"] == 20 + r["customer_id"] + 25, r  # 5-day snap

    def test_nearest_tie_prefers_backward(self, spark, snapshots):
        """Spine at 7.5 days back: 10-day (2.5 back) vs 5-day (2.5
        ahead) — equal distance prefers the BACKWARD row (pandas
        merge_asof convention); exact-ts match wins at distance 0."""
        half = _days_back(7) - dt.timedelta(hours=12)
        sp = spark.createDataFrame(
            [(2, half), (3, _days_back(10))],
            "customer_id long, event_time timestamp",
        )
        out = {
            r["customer_id"]: r
            for r in asof_join(
                sp, snapshots, on=["customer_id"], spine_ts="event_time",
                feature_ts="updated_at", direction="nearest",
            ).collect()
        }
        assert out[2]["age"] == 20 + 2 + 20  # 10-day snapshot (backward)
        assert out[3]["age"] == 20 + 3 + 20  # exact match, distance 0

    def test_nearest_tolerance_and_null_ts(self, spark, snapshots):
        """Tolerance bounds BOTH sides; a NULL-ts spine row attaches
        nothing in nearest mode (neither candidate is valid)."""
        sp = spark.createDataFrame(
            [(5, _days_back(7)), (6, None)],
            "customer_id long, event_time timestamp",
        )
        out = {
            r["customer_id"]: r
            for r in asof_join(
                sp, snapshots, on=["customer_id"], spine_ts="event_time",
                feature_ts="updated_at", direction="nearest",
                tolerance="1 days",
            ).collect()
        }
        # nearest is 2 days away > 1 day tolerance -> NULL
        assert out[5]["age"] is None
        assert out[6]["age"] is None

    def test_nearest_rejects_broadcast(self, spark, snapshots, spine):
        from dbt_snowflake_feature_store_spark.errors import ValidationError

        with pytest.raises(ValidationError, match="nearest"):
            asof_join(
                spine, snapshots, on=["customer_id"], spine_ts="event_time",
                feature_ts="updated_at", direction="nearest",
                strategy="broadcast",
            )

    def test_bad_direction_rejected(self, spark, snapshots, spine):
        from dbt_snowflake_feature_store_spark.errors import ValidationError

        with pytest.raises(ValidationError):
            asof_join(
                spine, snapshots, on=["customer_id"], spine_ts="event_time",
                feature_ts="updated_at", direction="sideways",
            )

    def test_salted_union_agrees_with_unsalted(self, spark, snapshots, spine):
        base = asof_join(
            spine, snapshots, on=["customer_id"], spine_ts="event_time",
            feature_ts="updated_at", strategy="union",
        )
        salted = asof_join(
            spine, snapshots, on=["customer_id"], spine_ts="event_time",
            feature_ts="updated_at", strategy="union", salt=4,
        )
        assert sorted(tuple(r) for r in base.collect()) == sorted(
            tuple(r) for r in salted.select(base.columns).collect()
        )
        assert "__fs_salt" not in salted.columns

    def test_auto_broadcasts_small_feature_side(
        self, spark, snapshots, spine, tmp_path
    ):
        """strategy='auto' must pick the broadcast plan when Catalyst's
        estimate for the feature side is under the threshold, and the
        union plan when it is not. The feature side is parquet-backed
        (like a real materialized FV) so Catalyst has a file-size
        estimate; RDD-backed frames have no estimate and conservatively
        stay on the union path."""
        path = str(tmp_path / "snap")
        snapshots.write.parquet(path)
        snapshots = spark.read.parquet(path)
        auto = asof_join(
            spine, snapshots, on=["customer_id"], spine_ts="event_time",
            feature_ts="updated_at", strategy="auto",
        )
        plan = auto._jdf.queryExecution().executedPlan().toString()
        assert "Broadcast" in plan, plan[:2000]
        assert "Window" not in plan  # broadcast path has no as-of window

        forced_union = asof_join(
            spine, snapshots, on=["customer_id"], spine_ts="event_time",
            feature_ts="updated_at", strategy="auto", broadcast_threshold=0,
        )
        uplan = forced_union._jdf.queryExecution().executedPlan().toString()
        assert "Window" in uplan
        assert sorted(tuple(r) for r in auto.collect()) == sorted(
            tuple(r) for r in forced_union.select(auto.columns).collect()
        )

    @pytest.fixture()
    def sized(self, spark, tmp_path):
        """A parquet spine far smaller than its parquet feature side, and
        a threshold between their file-size estimates. Feature rows every
        15 minutes from 40 days back, so both directions find rows."""
        spark.createDataFrame(
            [(c, _days_back(b), c % 2) for c in range(10) for b in (7, 3)],
            "customer_id long, event_time timestamp, label int",
        ).coalesce(1).write.parquet(str(tmp_path / "spine"))
        spark.range(4000).select(
            (F.col("id") % 10).alias("customer_id"),
            (F.lit(_days_back(40)) + F.make_interval(mins=F.col("id") * 15)).alias(
                "updated_at"
            ),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
            *[(F.col("id") * i).cast("double").alias(f"e{i}") for i in range(48)],
        ).write.parquet(str(tmp_path / "feats"))
        sp = spark.read.parquet(str(tmp_path / "spine"))
        ft = spark.read.parquet(str(tmp_path / "feats"))
        lo, hi = _plan_size_bytes(sp), _plan_size_bytes(ft)
        assert 0 < 64 * lo < hi
        return sp, ft, 2 * lo

    _KW = dict(on=["customer_id"], spine_ts="event_time", feature_ts="updated_at")

    @staticmethod
    def _nodes(df):
        """Every operator of ``df``'s final adaptive plan."""
        df.count()  # finalises the adaptive plan
        todo = [df._jdf.queryExecution().executedPlan()]
        while todo:
            n = todo.pop()
            yield n
            if n.nodeName() == "AdaptiveSparkPlan":
                todo.append(n.executedPlan())
            elif "QueryStage" in n.nodeName():
                todo.append(n.plan())
            else:
                ch = n.children()
                todo.extend(ch.apply(i) for i in range(ch.size()))

    def _carriers(self, df, col: str) -> set[str]:
        """The shuffles, sorts, windows and unions whose output carries
        ``col``, as a column or inside a struct."""
        out = set()
        for n in self._nodes(df):
            if n.nodeName() in ("Exchange", "Sort", "Window", "Union"):
                attrs = n.output()
                for i in range(attrs.size()):
                    a = attrs.apply(i)
                    if col in f"{a.name()}:{a.dataType().catalogString()}":
                        out.add(n.nodeName())
        return out

    def test_auto_bounds_a_large_feature_side_by_a_small_spine(self, sized):
        """Feature side above the gate, the cut side under it: the feature
        side is cut down and broadcast-folded. The union, sort and window
        that pick the rows see keys and timestamps only; no shuffle, sort,
        window or union carries a feature column."""
        spine, feats, gate = sized
        feats = feats.select("customer_id", "updated_at", "payload")
        for direction in ("backward", "forward"):
            auto = asof_join(spine, feats, broadcast_threshold=gate,
                             direction=direction, **self._KW)
            assert self._carriers(auto, "payload") == set()
            assert "LeftSemi" in {
                str(n.joinType()) for n in self._nodes(auto)
                if n.nodeName() == "BroadcastHashJoin"
            }
            union = asof_join(spine, feats, strategy="union",
                              direction=direction, **self._KW)
            got = sorted(map(tuple, auto.collect()))
            assert got == sorted(map(tuple, union.collect()))
            assert all(r[-1] is not None for r in got)

    def test_auto_unions_when_the_spine_is_large_salted_or_random(self, sized):
        """The other sides of the gate: a threshold of 0 (cut side too
        large), ``salt`` (a hot key would make the fold quadratic) and a
        nondeterministic spine (a cut would read it twice) all take the
        union plan, which shuffles the payload."""
        spine, feats, gate = sized
        feats = feats.select("customer_id", "updated_at", "payload")
        carried = {"Exchange", "Sort", "Window", "Union"}
        assert self._carriers(
            asof_join(spine, feats, broadcast_threshold=0, **self._KW), "payload"
        ) == carried
        assert self._carriers(
            asof_join(spine, feats, broadcast_threshold=gate, salt=2, **self._KW),
            "payload",
        ) == carried
        rnd = spine.withColumn("r", F.rand(seed=3))
        assert _plan_size_bytes(rnd) <= gate
        assert self._carriers(
            asof_join(rnd, feats, broadcast_threshold=gate, **self._KW), "payload"
        ) == carried

    def test_auto_sizes_the_cut_side_at_the_feature_row_width(self, sized):
        """The broadcast after the cut holds up to one feature row per
        spine row, so a wide feature row (48 more double columns) pushes
        a spine that passes for a narrow one back to the union; a
        threshold scaled by the width ratio takes the cut again."""
        spine, feats, gate = sized
        assert self._carriers(
            asof_join(spine, feats, broadcast_threshold=gate, **self._KW), "e47"
        ) == {"Exchange", "Sort", "Window", "Union"}
        wide = asof_join(spine, feats, broadcast_threshold=16 * gate, **self._KW)
        assert self._carriers(wide, "e47") == set()
        union = asof_join(spine, feats, strategy="union", **self._KW)
        assert sorted(map(tuple, wide.collect())) == sorted(
            map(tuple, union.collect())
        )

    def test_auto_unions_a_spine_with_a_hot_key(self, spark, tmp_path):
        """The cut compares each feature row with every spine ts of its
        key, and the fold scans the key's cut rows once per spine row. A
        key with ``SPINE_TS_PER_KEY_MAX`` distinct spine timestamps (each
        on two rows) still takes the cut; one more takes the union. Both
        attach what the union attaches, in both directions, with three
        feature rows tied on every ts."""
        cap = pit.SPINE_TS_PER_KEY_MAX
        base = _days_back(30)
        spark.range(4000).select(
            F.lit(1).cast("long").alias("customer_id"),
            (F.lit(base) + F.make_interval(mins=(F.col("id") / 3).cast("int") * 10)).alias(
                "updated_at"
            ),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        ).write.parquet(str(tmp_path / "feats"))
        feats = spark.read.parquet(str(tmp_path / "feats"))
        for marks, carried in ((cap, set()), (cap + 1, {"Exchange", "Sort", "Window", "Union"})):
            path = str(tmp_path / f"spine{marks}")
            spark.range(2 * marks).select(
                F.lit(1).cast("long").alias("customer_id"),
                (F.lit(base) + F.make_interval(mins=(F.col("id") / 2).cast("int") * 97)).alias(
                    "event_time"
                ),
            ).coalesce(1).write.parquet(path)
            spine = spark.read.parquet(path)
            gate = 4 * _plan_size_bytes(spine)
            assert _plan_size_bytes(feats) > gate
            for direction in ("backward", "forward"):
                auto = asof_join(spine, feats, broadcast_threshold=gate,
                                 direction=direction, **self._KW)
                assert self._carriers(auto, "payload") == carried
                union = asof_join(spine, feats, strategy="union",
                                  direction=direction, **self._KW)
                assert sorted(map(tuple, auto.collect())) == sorted(
                    map(tuple, union.collect())
                )

    def test_tolerance_cuts_stale_features(self, spark, snapshots, spine):
        out = asof_join(
            spine, snapshots, on=["customer_id"], spine_ts="event_time",
            feature_ts="updated_at", tolerance="2 days",
        ).collect()
        # nearest prior snapshot is 3 days older than the spine → cut
        assert all(r["age"] is None for r in out)
        out2 = asof_join(
            spine, snapshots, on=["customer_id"], spine_ts="event_time",
            feature_ts="updated_at", tolerance="4 days",
        ).collect()
        assert all(r["age"] is not None for r in out2)


class TestGenerateDataset:
    @pytest.fixture()
    def ready_fs(self, fs, spark, snapshots):
        snapshots.createOrReplaceTempView("cust_snapshots")
        fs.register_entity(Entity("customer", ["customer_id"]))
        fs.register_feature_view(
            FeatureView(
                "cust_profile",
                ["customer"],
                sql="""SELECT customer_id, updated_at,
                              age AS f_age, country AS f_country, tier AS f_tier
                       FROM cust_snapshots""",
                timestamp_col="updated_at",
            ),
            version="1.0",
        )
        return fs

    def test_dataset_columns_and_pit(self, ready_fs, spark, spine):
        """Column assertions mirror test_feature_store_workflows.py:128-151
        (CUSTOMER_ID / EVENT_TIME / LABEL / features)."""
        fv = ready_fs.get_feature_view("cust_profile", "1.0")
        ds = ready_fs.generate_dataset(
            "train",
            spine,
            [fv],
            version="1",
            spine_timestamp_col="event_time",
            spine_label_cols=["label"],
        )
        pdf = ds.read.to_pandas()
        assert set(pdf.columns) == {
            "customer_id",
            "event_time",
            "label",
            "f_age",
            "f_country",
            "f_tier",
        }
        assert len(pdf) == 10  # every spine row preserved
        # PIT: features from BEFORE event_time (never the 5/1-day snapshots)
        assert (pdf["f_age"] == 20 + pdf["customer_id"] + 20).all()

    def test_multi_fv_fold_mixed_types(self, ready_fs, spark, spine, snapshots):
        """Mixed static+timestamped FVs (test_feature_store_workflows.py:
        494-530): second FV has no timestamp_col → plain left equi-join."""
        snapshots.groupBy("customer_id").count().withColumnRenamed(
            "count", "f_n_snapshots"
        ).createOrReplaceTempView("cust_counts")
        ready_fs.register_feature_view(
            FeatureView(
                "cust_counts_fv",
                ["customer"],
                sql="SELECT customer_id, f_n_snapshots FROM cust_counts",
            ),
            version="1.0",
        )
        fvs = [
            ready_fs.get_feature_view("cust_profile", "1.0"),
            ready_fs.get_feature_view("cust_counts_fv", "1.0"),
        ]
        df = ready_fs.dataset_df(spine, fvs, spine_timestamp_col="event_time")
        rows = df.collect()
        assert len(rows) == 10
        assert all(r["f_n_snapshots"] == 5 for r in rows)
        assert all(r["f_age"] is not None for r in rows)

    def test_retrieve_feature_values(self, ready_fs, spark, spine):
        """snowflake-ml-compatible retrieve_feature_values: same PIT
        result as generate_dataset, nothing saved, exclude_columns
        dropped case-insensitively."""
        fv = ready_fs.get_feature_view("cust_profile", "1.0")
        df = ready_fs.retrieve_feature_values(
            spine, [fv], spine_timestamp_col="event_time"
        )
        rows = df.collect()
        assert len(rows) == 10
        assert all(r["f_age"] == 20 + r["customer_id"] + 20 for r in rows)
        # nothing saved: no dataset registered
        assert ready_fs.list_datasets().count() == 0

        df2 = ready_fs.retrieve_feature_values(
            spine,
            [fv],
            spine_timestamp_col="event_time",
            exclude_columns=["F_TIER", "f_country"],
        )
        assert set(df2.columns) == {"customer_id", "event_time", "label", "f_age"}
        from dbt_snowflake_feature_store_spark import ValidationError

        with pytest.raises(ValidationError, match="exclude_columns"):
            ready_fs.retrieve_feature_values(
                spine, [fv], spine_timestamp_col="event_time",
                exclude_columns=["nope"],
            )

    def test_timeless_spine_gets_latest_snapshot(self, ready_fs, spark):
        """Timestamped FV + spine WITHOUT a timestamp → latest snapshot
        per key, spine row count preserved (never one row per snapshot)."""
        spine = spark.createDataFrame(
            [(cid, cid % 2) for cid in range(10)], "customer_id long, label int"
        )
        fv = ready_fs.get_feature_view("cust_profile", "1.0")
        rows = ready_fs.dataset_df(spine, [fv]).collect()
        assert len(rows) == 10  # not 10 × 5 snapshots
        for r in rows:
            # latest snapshot is 1 day back → age = 20 + cid + 29
            assert r["f_age"] == 20 + r["customer_id"] + 29

    def test_colliding_feature_columns_suffixed(self, ready_fs, spark, spine, snapshots):
        """Two FVs emitting the same feature column name: the second gets
        an FV-name suffix instead of silently shadowing (SURVEY §7 risk
        'column collisions across FVs')."""
        snapshots.createOrReplaceTempView("cust_snapshots2")
        ready_fs.register_feature_view(
            FeatureView(
                "cust_profile_b",
                ["customer"],
                sql="""SELECT customer_id, updated_at, age + 100 AS f_age
                       FROM cust_snapshots2""",
                timestamp_col="updated_at",
            ),
            version="1.0",
        )
        fvs = [
            ready_fs.get_feature_view("cust_profile", "1.0"),
            ready_fs.get_feature_view("cust_profile_b", "1.0"),
        ]
        df = ready_fs.dataset_df(spine, fvs, spine_timestamp_col="event_time")
        assert "f_age" in df.columns
        assert "f_age_CUST_PROFILE_B" in df.columns
        rows = df.collect()
        assert len(rows) == 10
        assert all(
            r["f_age_CUST_PROFILE_B"] == r["f_age"] + 100 for r in rows
        )

    def test_dataset_lifecycle(self, ready_fs, spark, spine):
        fv = ready_fs.get_feature_view("cust_profile", "1.0")
        ready_fs.generate_dataset(
            "ds_life", spine, [fv], version="2.0",
            spine_timestamp_col="event_time",
        )
        got = ready_fs.get_dataset("ds_life", "2.0")
        assert got.read.to_df().count() == 10
        lst = ready_fs.list_datasets()
        assert lst.filter("NAME = 'DS_LIFE' AND VERSION = '2.0'").count() == 1


class TestBracketAssertUnique:
    """asof_join_bracket's assert_unique guard (ADVICE r17): the fused
    bracket's exact-tie semantics require a unique (key, feature_ts)
    feature side; the opt-in check must pass through clean inputs
    unchanged and fail LOUDLY on duplicates instead of silently
    diverging from the two-pass spelling."""

    def test_unique_side_passes_and_matches_unchecked(self, spark):
        from dbt_snowflake_feature_store_spark.pit import asof_join_bracket

        feats = spark.createDataFrame(
            [(1, dt.datetime(2024, 1, d), float(d)) for d in (1, 3, 5)],
            "k long, fts timestamp, v double",
        )
        spine = spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 3)), (1, dt.datetime(2024, 1, 4))],
            "k long, sts timestamp",
        )
        kw = dict(
            on=["k"], spine_ts="sts", feature_ts="fts", feature_cols=["v"]
        )
        got = sorted(
            map(
                tuple,
                asof_join_bracket(
                    spine, feats, assert_unique=True, **kw
                ).collect(),
            )
        )
        want = sorted(
            map(tuple, asof_join_bracket(spine, feats, **kw).collect())
        )
        assert got == want
        # exact-tie: the 1/3 spine row's backward AND forward are day 3
        row = [r for r in got if r[1] == dt.datetime(2024, 1, 3)][0]
        assert row[2] == 3.0 and row[3] == 3.0

    def test_duplicate_side_fails_loudly(self, spark):
        from dbt_snowflake_feature_store_spark.pit import asof_join_bracket

        feats = spark.createDataFrame(
            [
                (1, dt.datetime(2024, 1, 3), 1.0),
                (1, dt.datetime(2024, 1, 3), 2.0),  # dup (key, ts)
            ],
            "k long, fts timestamp, v double",
        )
        spine = spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 4))], "k long, sts timestamp"
        )
        out = asof_join_bracket(
            spine,
            feats,
            on=["k"],
            spine_ts="sts",
            feature_ts="fts",
            feature_cols=["v"],
            assert_unique=True,
        )
        with pytest.raises(Exception, match="unique per"):
            out.collect()
