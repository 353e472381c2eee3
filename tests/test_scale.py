"""Scale-behavior tests: the properties that keep plans efficient at
100 TB — partition pruning on managed FVs, filter pushdown through
registered views, single-shuffle as-of, broadcast of small dimensions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_snowflake_feature_store_spark import Entity, FeatureView, RefreshSpec
from dbt_snowflake_feature_store_spark.sources import read_table

SF = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestScaleProperties:
    def test_managed_fv_partition_pruning(self, fs, spark):
        """Managed FVs materialize partitioned by day of timestamp_col;
        a time-range read must prune partitions, not scan them all."""
        read_table(spark, SF, "events").createOrReplaceTempView("sc_events")
        fs.register_entity(Entity("user", ["user_id"]))
        fs.register_feature_view(
            FeatureView(
                "pruned_fv",
                ["user"],
                sql="SELECT user_id, ts, value FROM sc_events",
                timestamp_col="ts",
                refresh=RefreshSpec("1 hour", "FULL", "ON_CREATE"),
            ),
            version="1",
        )
        path = fs._fv_data_path("PRUNED_FV", "1")
        raw = spark.read.parquet(path)
        pruned = raw.filter(F.col("_fs_dt") == "2024-01-05")
        # partition filter reaches the scan: at execution time only the
        # matching partition directory's files are read
        files_all = raw.select(F.input_file_name()).distinct().count()
        files_pruned = pruned.select(F.input_file_name()).distinct().count()
        assert files_pruned < files_all
        assert files_pruned >= 1
        assert "_fs_dt" in _executed_plan(pruned)
        assert pruned.count() > 0

    def test_static_fv_pushdown_through_view(self, fs, spark):
        """Reading a static FV and filtering must push the predicate
        through the inlined view body into the parquet scan."""
        read_table(spark, SF, "customer").createOrReplaceTempView("sc_customer")
        fs.register_entity(Entity("customer", ["c_custkey"]))
        fs.register_feature_view(
            FeatureView(
                "pushdown_fv",
                ["customer"],
                sql="SELECT c_custkey, c_acctbal AS f_bal, c_mktsegment AS f_seg FROM sc_customer",
            ),
            version="1",
        )
        df = fs.read_feature_view("PUSHDOWN_FV$1").filter(F.col("f_bal") > 5000)
        plan = _executed_plan(df)
        assert "PushedFilters: [" in plan
        assert "GreaterThan(c_acctbal,5000" in plan.replace(" ", "")

    def test_asof_union_single_shuffle(self, spark):
        """The union as-of strategy must introduce exactly ONE
        hash-partitioning exchange (on the join keys) — no join, no
        second shuffle, no explosion."""
        from dbt_snowflake_feature_store_spark import asof_join

        ev = read_table(spark, SF, "events")
        spine = ev.filter("event_type = 'purchase'").select(
            "event_id", "user_id", F.col("ts").alias("event_time")
        )
        feats = ev.filter("event_type = 'error'").select("user_id", "ts", "value")
        out = asof_join(
            spine, feats, on=["user_id"], spine_ts="event_time",
            feature_ts="ts", strategy="union",
        )
        plan = _executed_plan(out)
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Join" not in plan  # pure union+window formulation

    def test_small_dim_join_broadcasts(self, spark):
        """Catalyst/AQE must broadcast the 25-row nation dim, not
        shuffle the fact side."""
        from dbt_snowflake_feature_store_spark.operators.sql import q_join_equi

        plan = _executed_plan(q_join_equi(spark, SF))
        assert "BroadcastHashJoin" in plan

    def test_topk_never_global_sorts(self, spark):
        """ORDER BY + LIMIT must plan TakeOrderedAndProject (per-partition
        top-k + driver merge), never a global Sort."""
        from dbt_snowflake_feature_store_spark.operators.sql import q_sort_limit

        plan = _executed_plan(q_sort_limit(spark, SF))
        assert "TakeOrderedAndProject" in plan

    def test_cross_join_broadcast_nested_loop(self, spark):
        """Tiny-dim cross join plans BroadcastNestedLoopJoin — never a
        shuffled CartesianProduct."""
        from dbt_snowflake_feature_store_spark.operators.sql import (
            q_cross_join,
        )

        plan = _executed_plan(q_cross_join(spark, SF))
        assert "BroadcastNestedLoopJoin" in plan
        assert "CartesianProduct" not in plan

    def test_dedup_ngram_filter_not_in_join_condition(self, spark):
        """The Jaccard threshold must stay ABOVE the aggregation barrier:
        if Catalyst substitutes it into the join condition the
        array_intersect runs 3× per key-matching pair (measured 6×
        slower). Exactly one array_intersect may appear in the plan, and
        never inside the join node's condition."""
        from dbt_snowflake_feature_store_spark.operators.ext_text import (
            q_dedup_ngram,
        )

        plan = _executed_plan(q_dedup_ngram(spark, SF))
        assert plan.count("array_intersect") == 1
        join_lines = [
            ln for ln in plan.splitlines() if "Join" in ln and "condition" in ln.lower()
        ] or [ln for ln in plan.splitlines() if "HashJoin" in ln]
        for ln in join_lines:
            assert "array_intersect" not in ln

    def test_stats_moments_single_aggregate_exchange(self, spark):
        """Sufficient-statistics moments must be ONE hash aggregate pair
        (partial+final) with a single exchange on the group key — not a
        per-statistic replan."""
        from dbt_snowflake_feature_store_spark.operators.stats import (
            q_stats_moments,
        )

        plan = _executed_plan(q_stats_moments(spark, SF))
        assert plan.count("Exchange hashpartitioning") == 1

    def test_bucketed_join_avoids_shuffle(self, spark, tmp_path):
        """Pre-bucketing both join sides on the key removes the join
        shuffle entirely — the strategy for repeated 100 TB fact⋈fact
        joins (SURVEY.md §4.3: 'pre-bucket FVs by join key')."""
        orders = read_table(spark, SF, "orders")
        customer = read_table(spark, SF, "customer")
        orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey").option(
            "path", str(tmp_path / "b_orders")
        ).mode("overwrite").saveAsTable("b_orders")
        customer.withColumnRenamed("c_custkey", "o_custkey").write.bucketBy(
            8, "o_custkey"
        ).sortBy("o_custkey").option("path", str(tmp_path / "b_customer")).mode(
            "overwrite"
        ).saveAsTable("b_customer")
        j = spark.table("b_orders").join(
            spark.table("b_customer").hint("merge"), "o_custkey"
        )
        plan = _executed_plan(j)
        assert "Exchange hashpartitioning" not in plan  # co-located join
        assert j.count() == orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()

    def test_no_collect_in_operators(self):
        """Operator modules must not collect data to the driver (the
        only allowed driver-side values are scalar query parameters)."""
        import inspect

        from dbt_snowflake_feature_store_spark.functions import similarity, text
        from dbt_snowflake_feature_store_spark.operators import (
            ext_text,
            sql,
            temporal,
            tpch,
        )

        for mod in (sql, tpch, text):
            src = inspect.getsource(mod)
            assert ".collect()" not in src, mod.__name__
        # temporal and ext_text each collect exactly one aggregated row:
        # the q_join_interval_adaptive width probe and the opt-in
        # log_dropped block diagnostic of the n-gram dedup. Every other
        # key in them (as-of, range, session, explode_tokens, ...) stays
        # on the executors.
        for mod, fn in (
            (temporal, temporal.q_join_interval_adaptive),
            (ext_text, ext_text._ngram_blocked_pairs),
        ):
            assert inspect.getsource(mod).count(".collect()") == 1, mod.__name__
            assert ".collect()" in inspect.getsource(fn), fn.__name__
        # similarity collects exactly three bounded things: the
        # query-vector parameter (1 row), the opt-in log_dropped
        # bucket-count diagnostic (1 aggregated row, off by default),
        # and the PQIndex.build training sample (hash-ordered top-N cap,
        # index-BUILD time only — the same bounded-sample pattern as
        # IVFIndex.build, which shares its collect with the query-vector
        # count here) — never unbounded data, never in a query path
        assert inspect.getsource(similarity).count(".collect()") <= 3


class TestPackBfdProperty:
    """Property-based bin-packing invariants for pack_sequences_bfd on
    arbitrary token-count distributions (hypothesis)."""

    def test_bfd_invariants_random_sizes(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from dbt_snowflake_feature_store_spark.functions.text import (
            pack_sequences_bfd,
        )

        @settings(
            max_examples=8,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(
            st.lists(
                st.integers(min_value=1, max_value=3000),
                min_size=1,
                max_size=40,
            )
        )
        def _run(sizes):
            rows = [
                (i, "en", " ".join(["w"] * n)) for i, n in enumerate(sizes)
            ]
            df = spark.createDataFrame(
                rows, "doc_id long, lang string, text string"
            )
            out = pack_sequences_bfd(df, bin_tokens=2048, shard_docs=256)
            got = out.collect()
            assert len(got) == len(sizes)  # every doc exactly once
            bins: dict = {}
            for r in got:
                bins.setdefault(r["f_pack"], []).append(r["n_toks"])
            for toks in bins.values():
                # capacity holds unless a single doc alone exceeds it
                if len(toks) > 1:
                    assert sum(toks) <= 2048
            # oversized docs are always alone in their bin
            for toks in bins.values():
                if any(t > 2048 for t in toks):
                    assert len(toks) == 1

        _run()
