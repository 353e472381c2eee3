"""Online-store export (store.py export_online_store / read_online /
online_lookup): latest-per-entity-key serving snapshot, crash-safe
replace, key-predicate pushdown, FV-delete cleanup."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dbt_snowflake_feature_store_spark import (
    Entity,
    FeatureView,
    ValidationError,
)


@pytest.fixture
def fv_with_history(fs, spark, tmp_path):
    path = str(tmp_path / "hist.parquet")
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 10.0),
            (1, "2024-02-01 00:00:00", 20.0),
            (2, "2024-01-15 00:00:00", 30.0),
        ],
        "cust_id INT, ts STRING, f_spend DOUBLE",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("overwrite").parquet(path)
    fs.register_source("cust_hist", path)
    fs.register_entity(Entity(name="cust", join_keys=["cust_id"]))
    fv = FeatureView(
        name="spend_fv",
        entities=["cust"],
        sql="SELECT cust_id, ts, f_spend FROM cust_hist",
        timestamp_col="ts",
    )
    return fs.register_feature_view(fv, version="1.0")


def test_export_keeps_latest_row_per_key(fs, fv_with_history):
    path = fs.export_online_store("spend_fv", "1.0")
    assert os.path.isdir(path)
    online = fs.read_online("spend_fv", "1.0")
    rows = {r["cust_id"]: r for r in online.collect()}
    assert len(rows) == 2  # one row per entity key
    assert rows[1]["f_spend"] == 20.0  # the LATER version won
    assert rows[2]["f_spend"] == 30.0


def test_reexport_replaces_atomically(fs, spark, tmp_path, fv_with_history):
    fs.export_online_store("spend_fv", "1.0")
    # newer history arrives
    df = spark.createDataFrame(
        [(1, "2024-03-01 00:00:00", 99.0)],
        "cust_id INT, ts STRING, f_spend DOUBLE",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("append").parquet(str(tmp_path / "hist.parquet"))
    fs.export_online_store("spend_fv", "1.0")
    rows = {r["cust_id"]: r for r in fs.read_online("spend_fv", "1.0").collect()}
    assert rows[1]["f_spend"] == 99.0


def test_online_lookup_filters_and_pushes_down(fs, fv_with_history):
    fs.export_online_store("spend_fv", "1.0")
    hit = fs.online_lookup("spend_fv", "1.0", {"cust_id": 2})
    assert [r["f_spend"] for r in hit.collect()] == [30.0]
    # the key equality reaches the parquet scan as a pushed filter
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "cust_id" in plan
    with pytest.raises(ValidationError, match="not in online table"):
        fs.online_lookup("spend_fv", "1.0", {"nope": 1})


def test_read_without_export_fails_loudly(fs, fv_with_history):
    with pytest.raises(ValidationError, match="no online export"):
        fs.read_online("spend_fv", "1.0")


def test_delete_fv_drops_online_export(fs, fv_with_history):
    path = fs.export_online_store("spend_fv", "1.0")
    fs.delete_feature_view("spend_fv", "1.0")
    assert not os.path.isdir(path)
    with pytest.raises(ValidationError, match="no online export"):
        fs.read_online("spend_fv", "1.0")


def test_staleness_probe_counts_new_and_changed_keys(
    fs, spark, tmp_path, fv_with_history
):
    fs.export_online_store("spend_fv", "1.0")
    fresh = fs.online_staleness("spend_fv", "1.0")
    assert fresh["stale_keys"] == 0
    assert fresh["total_keys"] == 2
    assert fresh["max_lag_seconds"] == 0
    assert fresh["age_seconds"] >= 0
    # newer history for cust 1 + a brand-new key 3 → both stale
    df = spark.createDataFrame(
        [
            (1, "2024-03-01 00:00:00", 99.0),
            (3, "2024-03-01 00:00:00", 7.0),
        ],
        "cust_id INT, ts STRING, f_spend DOUBLE",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("append").parquet(str(tmp_path / "hist.parquet"))
    probe = fs.online_staleness("spend_fv", "1.0")
    assert probe["stale_keys"] == 2
    assert probe["total_keys"] == 3
    # cust 1's online row is 2024-02-01, offline now 2024-03-01
    assert probe["max_lag_seconds"] == 29 * 24 * 3600


def test_refresh_online_store_is_staleness_gated(
    fs, spark, tmp_path, fv_with_history
):
    fs.export_online_store("spend_fv", "1.0")
    rep = fs.refresh_online_store("spend_fv", "1.0")
    assert rep["refreshed"] is False  # fresh export untouched
    df = spark.createDataFrame(
        [(2, "2024-04-01 00:00:00", 55.0)],
        "cust_id INT, ts STRING, f_spend DOUBLE",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("append").parquet(str(tmp_path / "hist.parquet"))
    rep = fs.refresh_online_store("spend_fv", "1.0")
    assert rep["refreshed"] is True and rep["stale_keys"] == 1
    rows = {r["cust_id"]: r for r in fs.read_online("spend_fv", "1.0").collect()}
    assert rows[2]["f_spend"] == 55.0
    assert fs.online_staleness("spend_fv", "1.0")["stale_keys"] == 0
    # TTL path: an in-date, in-sync export refreshes only under max_age
    rep = fs.refresh_online_store("spend_fv", "1.0", max_age_seconds=0.0)
    assert rep["refreshed"] is True
    # force path
    rep = fs.refresh_online_store("spend_fv", "1.0", force=True)
    assert rep["refreshed"] is True


def test_staleness_probe_timeless_fingerprints(fs, spark, tmp_path):
    path = str(tmp_path / "tl.parquet")
    spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "acct_id INT, f_tier STRING"
    ).write.mode("overwrite").parquet(path)
    fs.register_source("acct_src", path)
    fs.register_entity(Entity(name="acct", join_keys=["acct_id"]))
    fs.register_feature_view(
        FeatureView(
            name="tier_fv",
            entities=["acct"],
            sql="SELECT acct_id, f_tier FROM acct_src",
            timestamp_col=None,
        ),
        version="1.0",
    )
    fs.export_online_store("tier_fv", "1.0")
    probe = fs.online_staleness("tier_fv", "1.0")
    assert probe["stale_keys"] == 0 and probe["max_lag_seconds"] is None
    # change one row's value + add a key → 2 stale fingerprints
    spark.createDataFrame(
        [(1, "platinum"), (2, "silver"), (3, "bronze")],
        "acct_id INT, f_tier STRING",
    ).write.mode("overwrite").parquet(path)
    probe = fs.online_staleness("tier_fv", "1.0")
    assert probe["stale_keys"] == 2 and probe["total_keys"] == 3


def test_staleness_probe_without_export_fails_loudly(fs, fv_with_history):
    with pytest.raises(ValidationError, match="no online export"):
        fs.online_staleness("spend_fv", "1.0")


def test_export_matches_retrieve_latest_semantics(fs, spark, fv_with_history):
    """Online snapshot == retrieve_feature_values on a timeless spine
    (the latest-per-key contract both paths share)."""
    fs.export_online_store("spend_fv", "1.0")
    online = {
        r["cust_id"]: r["f_spend"]
        for r in fs.read_online("spend_fv", "1.0").collect()
    }
    spine = spark.createDataFrame([(1,), (2,)], "cust_id INT")
    fv = fs.get_feature_view("spend_fv", "1.0")
    served = {
        r["cust_id"]: r["f_spend"]
        for r in fs.retrieve_feature_values(spine, [fv]).collect()
    }
    assert online == served


def test_exact_ts_tie_serves_the_row_training_attaches(fs, spark, tmp_path):
    """Six rows share one (key, ts). The row both as-of strategies attach
    is the one a timeless-spine retrieve and the online export keep: all
    four paths order "latest" by ts, then the same struct hash."""
    import datetime as dt

    from dbt_snowflake_feature_store_spark import asof_join

    t = dt.datetime(2024, 1, 1)
    path = str(tmp_path / "tied.parquet")
    spark.createDataFrame(
        [(1, t - dt.timedelta(days=1), -1.0)] + [(1, t, float(v)) for v in range(6)],
        "cust_id INT, ts TIMESTAMP, v DOUBLE",
    ).coalesce(1).write.parquet(path)  # one file: a fixed arrival order
    fs.register_source("tied", path)
    fs.register_entity(Entity(name="cust", join_keys=["cust_id"]))
    fv = fs.register_feature_view(
        FeatureView("tied_fv", ["cust"], sql="SELECT cust_id, ts, v FROM tied",
                    timestamp_col="ts"),
        version="1.0",
    )
    feats = spark.read.parquet(path)
    spine = spark.createDataFrame([(1, t)], "cust_id INT, event_time TIMESTAMP")
    got = {
        s: asof_join(spine, feats, ["cust_id"], "event_time", "ts", ["v"],
                     strategy=s).collect()[0]["v"]
        for s in ("union", "broadcast")
    }
    got["timeless"] = fs.retrieve_feature_values(
        spark.createDataFrame([(1,)], "cust_id INT"), [fv]
    ).collect()[0]["v"]
    fs.export_online_store("tied_fv", "1.0")
    got["online"] = fs.read_online("tied_fv", "1.0").collect()[0]["v"]
    assert len(set(got.values())) == 1, got
    assert got["union"] >= 0.0  # a tied row at t, never the older one


def test_map_feature_column_exports_and_serves_the_training_row(fs, spark, tmp_path):
    """A MAP feature column, with three rows tied on one (key, ts): Spark
    neither hashes nor orders maps, so the tie hash reads the row's JSON.
    Export, the timeless-spine retrieve and both as-of strategies run and
    keep the same tied row."""
    import datetime as dt

    from dbt_snowflake_feature_store_spark import asof_join

    t = dt.datetime(2024, 1, 1)
    path = str(tmp_path / "mapped.parquet")
    spark.createDataFrame(
        [(1, t, {"v": float(v)}, float(v)) for v in range(3)]
        + [(2, t - dt.timedelta(days=1), {"v": 9.0}, 9.0)],
        "cust_id INT, ts TIMESTAMP, m MAP<STRING, DOUBLE>, v DOUBLE",
    ).coalesce(1).write.parquet(path)
    fs.register_source("mapped", path)
    fs.register_entity(Entity(name="cust", join_keys=["cust_id"]))
    fv = fs.register_feature_view(
        FeatureView("mapped_fv", ["cust"], sql="SELECT cust_id, ts, m, v FROM mapped",
                    timestamp_col="ts"),
        version="1.0",
    )
    feats = spark.read.parquet(path)
    spine = spark.createDataFrame([(1, t), (2, t)], "cust_id INT, event_time TIMESTAMP")

    def rows(df):
        return sorted((r["cust_id"], r["m"]["v"], r["v"]) for r in df.collect())

    got = {
        s: rows(asof_join(spine, feats, ["cust_id"], "event_time", "ts", ["m", "v"],
                          strategy=s))
        for s in ("union", "broadcast")
    }
    got["timeless"] = rows(fs.retrieve_feature_values(
        spark.createDataFrame([(1,), (2,)], "cust_id INT"), [fv]
    ))
    fs.export_online_store("mapped_fv", "1.0")
    got["online"] = rows(fs.read_online("mapped_fv", "1.0"))
    assert len({repr(v) for v in got.values()}) == 1, got
    (k1, m1, v1), (k2, m2, v2) = got["union"]
    assert (k1, k2, m2, v2) == (1, 2, 9.0, 9.0) and m1 == v1


def test_retrieve_online_features_batch_join(fs, spark, fv_with_history):
    fs.export_online_store("spend_fv", "1.0")
    spine = spark.createDataFrame([(1,), (2,), (7,)], "cust_id INT")
    out = fs.retrieve_online_features(spine, ["spend_fv"], ["1.0"])
    rows = {r["cust_id"]: r for r in out.collect()}
    assert rows[1]["f_spend"] == 20.0  # latest row won at export
    assert rows[2]["f_spend"] == 30.0
    assert rows[7]["f_spend"] is None  # unknown key → left-join null
    # parity with the PIT path on a timeless spine
    fv = fs.get_feature_view("spend_fv", "1.0")
    served = {
        r["cust_id"]: r["f_spend"]
        for r in fs.retrieve_feature_values(
            spark.createDataFrame([(1,), (2,)], "cust_id INT"), [fv]
        ).collect()
    }
    assert {k: rows[k]["f_spend"] for k in (1, 2)} == served
    # missing spine key fails loudly
    bad = spark.createDataFrame([(1,)], "other INT")
    with pytest.raises(ValidationError, match="missing join key"):
        fs.retrieve_online_features(bad, ["spend_fv"], ["1.0"])


def test_sweep_online_stores_store_wide(fs, spark, tmp_path, fv_with_history):
    fs.export_online_store("spend_fv", "1.0")
    rep = fs.sweep_online_stores()
    assert len(rep) == 1 and rep[0]["stale"] is False
    # new history → sweep reports stale; refresh=True repairs in place
    df = spark.createDataFrame(
        [(1, "2024-05-01 00:00:00", 77.0)],
        "cust_id INT, ts STRING, f_spend DOUBLE",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("append").parquet(str(tmp_path / "hist.parquet"))
    rep = fs.sweep_online_stores()
    assert rep[0]["stale"] is True and rep[0]["stale_keys"] == 1
    rep = fs.sweep_online_stores(refresh=True)
    assert rep[0]["refreshed"] is True
    assert fs.sweep_online_stores()[0]["stale"] is False


def test_versionless_string_resolves_single_version(fs, fv_with_history):
    """ADVICE r10: version=None used to become the literal registry key
    'None' and fail with a misleading error. A versionless string name
    resolves to the only registered version across the whole online
    surface; with a second version registered it raises the
    disambiguation error instead of guessing."""
    path = fs.export_online_store("spend_fv")  # no version
    assert os.path.isdir(path)
    assert fs.read_online("spend_fv").count() == 2
    assert fs.online_lookup("spend_fv", keys={"cust_id": 1}).count() == 1
    probe = fs.online_staleness("spend_fv")
    assert probe["stale_keys"] == 0

    fv2 = FeatureView(
        name="spend_fv",
        entities=["cust"],
        sql="SELECT cust_id, ts, f_spend FROM cust_hist",
        timestamp_col="ts",
    )
    fs.register_feature_view(fv2, version="2.0")
    with pytest.raises(ValidationError, match="2 registered versions"):
        fs.read_online("spend_fv")


def test_retrieve_online_features_rejects_column_collision(
    fs, spark, fv_with_history
):
    """ADVICE r10: a spine already carrying a column named like a
    requested feature must raise, not silently drop the feature."""
    fs.export_online_store("spend_fv", "1.0")
    spine = spark.createDataFrame(
        [(1, 0.0), (2, 0.0)], "cust_id INT, f_spend DOUBLE"
    )
    with pytest.raises(ValidationError, match="collide"):
        fs.retrieve_online_features(spine, ["spend_fv"], versions=["1.0"])


def test_retrieve_two_fvs_sharing_timestamp_column(fs, spark, fv_with_history):
    """Review r11: two timestamped FVs share a 'ts' column — the second
    join must suffix-rename (no caller-side fix exists for a collision
    an earlier FV join introduced), never raise, never drop."""
    fv2 = FeatureView(
        name="spend2_fv",
        entities=["cust"],
        sql="SELECT cust_id, ts, f_spend * 2 AS f_spend2 FROM cust_hist",
        timestamp_col="ts",
    )
    fs.register_feature_view(fv2, version="1.0")
    fs.export_online_store("spend_fv", "1.0")
    fs.export_online_store("spend2_fv", "1.0")
    spine = spark.createDataFrame([(1,), (2,)], "cust_id INT")
    out = fs.retrieve_online_features(
        spine, ["spend_fv", "spend2_fv"], versions=["1.0", "1.0"]
    )
    cols = set(out.columns)
    assert "f_spend" in cols and "f_spend2" in cols
    assert "ts" in cols  # the first FV's as-of stamp
    assert "ts__SPEND2_FV" in cols  # the second renamed, not dropped
    rows = {r["cust_id"]: r for r in out.collect()}
    assert rows[1]["f_spend2"] == 40.0


def test_retrieve_same_fv_repeatedly_rejects_suffix_collision(
    fs, spark, fv_with_history
):
    """ADVICE r11: the suffixed rename target itself can collide —
    listing the same FV three times makes the third join's
    f_spend__SPEND_FV target an existing output column. Duplicate
    output names are silent downstream poison: raise."""
    fs.export_online_store("spend_fv", "1.0")
    spine = spark.createDataFrame([(1,), (2,)], "cust_id INT")
    # twice is legal: the suffixed names are still unique
    out = fs.retrieve_online_features(
        spine, ["spend_fv", "spend_fv"], versions=["1.0", "1.0"]
    )
    assert len(out.columns) == len(set(c.upper() for c in out.columns))
    with pytest.raises(ValidationError, match="still collides"):
        fs.retrieve_online_features(
            spine,
            ["spend_fv", "spend_fv", "spend_fv"],
            versions=["1.0", "1.0", "1.0"],
        )
