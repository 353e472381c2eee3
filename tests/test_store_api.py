"""Lifecycle/API tests mirroring the reference's integration structure
(/root/reference/integration_tests/python_tests/test_feature_store_api.py,
test_metadata_compatibility.py). Snowflake-free: registry JSON instead of
tags; same assertions on shapes, names, and metadata structure.
"""

from __future__ import annotations

import json

import pytest

from dbt_snowflake_feature_store_spark import (
    ConfigurationChangeError,
    Entity,
    EntityNotFoundError,
    FeatureView,
    FeatureViewNotFoundError,
    RefreshSpec,
    ValidationError,
)


@pytest.fixture()
def customer_entity(fs):
    return fs.register_entity(
        Entity("customer", ["c_custkey"], desc="Customer entity")
    )


class TestEntities:
    def test_register_and_get(self, fs, customer_entity):
        e = fs.get_entity("customer")
        assert e.name == "CUSTOMER"
        assert e.join_keys == ["C_CUSTKEY"]
        assert e.desc == "Customer entity"

    def test_get_case_insensitive(self, fs, customer_entity):
        assert fs.get_entity("CuStOmEr").name == "CUSTOMER"

    def test_list_entities_has_name_col(self, fs, customer_entity):
        df = fs.list_entities()
        assert "NAME" in df.columns
        assert df.filter("NAME = 'CUSTOMER'").count() == 1

    def test_missing_entity_raises_reference_message(self, fs):
        with pytest.raises(EntityNotFoundError, match="Entity 'NOPE' not found"):
            fs.get_entity("nope")

    def test_entity_requires_join_keys(self):
        with pytest.raises(ValidationError):
            Entity("x", [])

    def test_register_idempotent(self, fs, customer_entity):
        fs.register_entity(Entity("customer", ["c_custkey"]))
        assert fs.list_entities().filter("NAME = 'CUSTOMER'").count() == 1


FV_SQL = """
SELECT c_custkey, c_name AS f_name, c_acctbal AS f_acctbal
FROM customer
"""


class TestFeatureViews:
    def test_register_static_fv(self, fs, tables, customer_entity):
        fv = FeatureView("customer_features", ["customer"], sql=FV_SQL)
        out = fs.register_feature_view(fv, version="1.0")
        assert out.version == "1.0"
        assert out.fv_type == "EXTERNAL_FEATURE_VIEW"
        assert out.logical_name == "CUSTOMER_FEATURES$1.0"
        assert out.physical_name == "CUSTOMER_FEATURES__v1_0"

    def test_read_back(self, fs, tables, customer_entity):
        fv = FeatureView("customer_features", ["customer"], sql=FV_SQL)
        fs.register_feature_view(fv, version="1.0")
        df = fs.read_feature_view("CUSTOMER_FEATURES$1.0")
        assert df.count() == tables["customer"].count()
        assert set(df.columns) == {"c_custkey", "f_name", "f_acctbal"}

    def test_dual_spelling_resolution(self, fs, tables, customer_entity):
        """Every identifier a user can observe reads back the SAME FV:
        the logical ``NAME$1.0``, the Snowflake-mangled ``NAME$1_0``,
        and the physical/registry ``name__v1_0`` (the reference uses the
        first two interchangeably, test_feature_store_api.py:128, :178;
        the third is what appears on disk and in metadata_df)."""
        fv = FeatureView("customer_features", ["customer"], sql=FV_SQL)
        fs.register_feature_view(fv, version="1.0")
        a = fs.read_feature_view("CUSTOMER_FEATURES$1.0")
        b = fs.read_feature_view("CUSTOMER_FEATURES$1_0")
        c = fs.read_feature_view("customer_features__v1_0")
        assert a.columns == b.columns == c.columns
        rows = sorted(map(tuple, a.collect()))
        assert rows == sorted(map(tuple, b.collect()))
        assert rows == sorted(map(tuple, c.collect()))
        # a name that itself contains __v resolves on the LAST marker
        fs.register_entity(Entity("part", ["p_partkey"]))
        fs.register_feature_view(
            FeatureView(
                "doc__vault", ["part"],
                sql="SELECT p_partkey, p_retailprice AS f_p FROM part",
            ),
            version="2",
        )
        d = fs.read_feature_view("DOC__VAULT__v2")
        assert d.columns == ["p_partkey", "f_p"]
        # an unversioned name merely CONTAINING __v keeps raising the
        # not-versioned error (never resolves to a different FV)
        with pytest.raises(ValidationError, match="Not a versioned"):
            fs.read_feature_view("events__volume")

    def test_metadata_object_form(self, fs, tables, customer_entity):
        """Canonical entities are OBJECTS {name, joinKeys} — the structure
        the reference's newest artifacts require (SURVEY.md §1.2;
        test_feature_view_metadata_structure.sql:25-50)."""
        fv = FeatureView("customer_features", ["customer"], sql=FV_SQL)
        fs.register_feature_view(fv, version="1.0")
        doc = fs.registry.get("feature_views", "CUSTOMER_FEATURES__v1_0")
        meta = doc["metadata"]
        assert isinstance(meta["entities"], list)
        ent = meta["entities"][0]
        assert ent["name"] == "CUSTOMER"  # uppercase
        assert ent["joinKeys"] == ["C_CUSTKEY"]  # non-empty, uppercase
        # timestamp_col quirk: literal string 'NULL' when absent
        # (feature_view.sql:72-75; test_metadata_compatibility.py:226-239)
        assert meta["timestamp_col"] == "NULL"
        assert isinstance(meta["timestamp_col"], str)
        info = doc["object_info"]
        assert info["type"] == "EXTERNAL_FEATURE_VIEW"
        assert info["pkg_version"] == "1.0.0"
        json.dumps(doc)  # fully JSON-serializable

    def test_unknown_entity_rejected(self, fs, tables):
        fv = FeatureView("f", ["ghost"], sql=FV_SQL)
        with pytest.raises(EntityNotFoundError):
            fs.register_feature_view(fv, version="1")

    def test_get_and_list(self, fs, tables, customer_entity):
        fv = FeatureView("customer_features", ["customer"], sql=FV_SQL, desc="d")
        fs.register_feature_view(fv, version="2.1")
        got = fs.get_feature_view("customer_features", "2.1")
        assert got.name == "CUSTOMER_FEATURES"
        assert got.version == "2.1"
        assert got.entities == ["CUSTOMER"]
        assert got.timestamp_col is None
        assert got.status == "ACTIVE"
        lst = fs.list_feature_views()
        assert "NAME" in lst.columns
        assert lst.filter("NAME = 'CUSTOMER_FEATURES' AND VERSION = '2.1'").count() == 1

    def test_missing_fv_raises(self, fs):
        with pytest.raises(FeatureViewNotFoundError):
            fs.get_feature_view("nope", "1")

    def test_versions_are_distinct_objects(self, fs, tables, customer_entity):
        fs.register_feature_view(
            FeatureView("cf", ["customer"], sql=FV_SQL), version="1.0"
        )
        fs.register_feature_view(
            FeatureView(
                "cf", ["customer"], sql="SELECT c_custkey, c_acctbal * 2 AS f_x FROM customer"
            ),
            version="2.0",
        )
        assert set(fs.read_feature_view("CF$1.0").columns) == {
            "c_custkey",
            "f_name",
            "f_acctbal",
        }
        assert set(fs.read_feature_view("CF$2.0").columns) == {"c_custkey", "f_x"}

    def test_idempotent_rerun_no_op(self, fs, tables, customer_entity):
        """Unchanged re-register is a no-op (feature_view.sql:175-180;
        test_feature_store_api.py:266-287)."""
        fs.register_feature_view(
            FeatureView("cf", ["customer"], sql=FV_SQL), version="1.0"
        )
        doc1 = fs.registry.get("feature_views", "CF__v1_0")
        fs.register_feature_view(
            FeatureView("cf", ["customer"], sql=FV_SQL), version="1.0"
        )
        doc2 = fs.registry.get("feature_views", "CF__v1_0")
        assert doc1 == doc2

    def test_config_only_change_updates_metadata(self, fs, tables, customer_entity):
        """refresh-config-only change → ALTER-equivalent metadata update
        (feature_view.sql:145-163)."""
        fs.register_feature_view(
            FeatureView(
                "cf", ["customer"], sql=FV_SQL, refresh=RefreshSpec("1 minute")
            ),
            version="1.0",
        )
        fs.register_feature_view(
            FeatureView(
                "cf", ["customer"], sql=FV_SQL, refresh=RefreshSpec("1 hour")
            ),
            version="1.0",
        )
        got = fs.get_feature_view("cf", "1.0")
        assert got.refresh_freq == "1 hour"

    def test_definition_change_policies(self, fs, tables, customer_entity):
        fs.register_feature_view(
            FeatureView("cf", ["customer"], sql=FV_SQL), version="1.0"
        )
        changed = "SELECT c_custkey, c_acctbal AS f_other FROM customer"
        with pytest.raises(ConfigurationChangeError):
            fs.register_feature_view(
                FeatureView("cf", ["customer"], sql=changed),
                version="1.0",
                on_configuration_change="fail",
            )
        # continue → keep old
        fs.register_feature_view(
            FeatureView("cf", ["customer"], sql=changed),
            version="1.0",
            on_configuration_change="continue",
        )
        assert "f_name" in fs.read_feature_view("CF$1.0").columns
        # apply → recreate
        fs.register_feature_view(
            FeatureView("cf", ["customer"], sql=changed),
            version="1.0",
            on_configuration_change="apply",
        )
        assert "f_other" in fs.read_feature_view("CF$1.0").columns

    def test_delete_feature_view(self, fs, tables, customer_entity):
        fs.register_feature_view(
            FeatureView("cf", ["customer"], sql=FV_SQL), version="1.0"
        )
        fs.delete_feature_view("cf", "1.0")
        with pytest.raises(FeatureViewNotFoundError):
            fs.get_feature_view("cf", "1.0")

    def test_entity_delete_blocked_while_referenced(
        self, fs, tables, customer_entity
    ):
        fs.register_feature_view(
            FeatureView("cf", ["customer"], sql=FV_SQL), version="1.0"
        )
        with pytest.raises(ValidationError, match="referenced"):
            fs.delete_entity("customer")
        fs.delete_feature_view("cf", "1.0")
        fs.delete_entity("customer")


class TestDataFrameRegistration:
    """FVs registered from a DataFrame instead of SQL text: session-scoped
    for static FVs (the SQL text is the only cross-session plan carrier),
    fully durable for managed FVs (data materialized)."""

    def test_static_df_fv_in_session(self, fs, tables, customer_entity):
        df = tables["customer"].selectExpr(
            "c_custkey", "c_acctbal * 2 AS f_double_bal"
        )
        fs.register_feature_view(
            FeatureView("df_fv", ["customer"], df=df), version="1"
        )
        out = fs.read_feature_view("DF_FV$1")
        assert out.count() == tables["customer"].count()
        assert "f_double_bal" in out.columns

    def test_managed_df_fv_cross_instance(self, fs, spark, tables, customer_entity):
        df = tables["customer"].selectExpr("c_custkey", "c_acctbal AS f_bal")
        fs.register_feature_view(
            FeatureView(
                "df_managed", ["customer"], df=df,
                refresh=RefreshSpec("1 hour", "FULL", "ON_CREATE"),
            ),
            version="1",
        )
        # a NEW FeatureStore instance (no df cache) still reads the data
        from dbt_snowflake_feature_store_spark import FeatureStore

        fs2 = FeatureStore(spark, fs.root, name=fs.name)
        assert fs2.read_feature_view("DF_MANAGED$1").count() == tables[
            "customer"
        ].count()

    def test_static_df_fv_other_session_errors(self, fs, spark, tables, customer_entity):
        df = tables["customer"].selectExpr("c_custkey", "c_acctbal AS f_bal")
        fs.register_feature_view(
            FeatureView("df_static", ["customer"], df=df), version="1"
        )
        from dbt_snowflake_feature_store_spark import FeatureStore

        fs2 = FeatureStore(spark, fs.root, name=fs.name)
        with pytest.raises(ValidationError, match="not materialized"):
            fs2.read_feature_view("DF_STATIC$1")

    def test_fv_requires_sql_or_df(self):
        with pytest.raises(ValidationError, match="sql body or a DataFrame"):
            FeatureView("x", ["customer"])


class TestManagedFeatureViews:
    def test_managed_fv_materializes_on_create(self, fs, tables, customer_entity):
        fv = FeatureView(
            "managed_cf",
            ["customer"],
            sql=FV_SQL,
            refresh=RefreshSpec("1 minute", "FULL", "ON_CREATE"),
        )
        out = fs.register_feature_view(fv, version="1.0")
        assert out.fv_type == "MANAGED_FEATURE_VIEW"
        assert out.refresh_freq == "1 minute"
        assert out.refresh_mode == "FULL"
        df = fs.read_feature_view("MANAGED_CF$1.0")
        assert df.count() == tables["customer"].count()

    def test_on_schedule_defers_materialization(self, fs, tables, customer_entity):
        fv = FeatureView(
            "deferred_cf",
            ["customer"],
            sql=FV_SQL,
            refresh=RefreshSpec("1 hour", "FULL", "ON_SCHEDULE"),
        )
        fs.register_feature_view(fv, version="1.0")
        with pytest.raises(ValidationError, match="not been refreshed"):
            fs.read_feature_view("DEFERRED_CF$1.0")
        fs.refresh("deferred_cf", "1.0")
        assert fs.read_feature_view("DEFERRED_CF$1.0").count() > 0


class TestUIMetadataParserSimulation:
    """Golden mirror of the reference's Snowsight-UI parser simulation
    (/root/reference/integration_tests/python_tests/
    test_metadata_compatibility.py:284-331): parse registry metadata
    exactly the way the UI's getFeatureNamesForAllFeatureViews does,
    and reproduce the documented string-form regression — the JS
    "Cannot read properties of undefined (reading 'joinKeys')" error
    old feature views triggered (reference README.md:379-404)."""

    @staticmethod
    def _ui_parse(meta: dict) -> list[tuple[str, list[str]]]:
        """The UI's access pattern, verbatim semantics: iterate
        `metadata.entities`, read `entity.name` / `entity.joinKeys` as
        JS property accesses. On a non-object entity a property access
        yields `undefined`, and reading `.joinKeys` off it throws the
        exact error the reference documents — simulated here as
        AssertionError with the same message."""
        out = []
        for entity in meta["entities"]:
            if not isinstance(entity, dict):
                raise AssertionError(
                    "Cannot read properties of undefined "
                    "(reading 'joinKeys')"
                )
            assert "name" in entity, "Entity dict missing 'name' field"
            assert "joinKeys" in entity, "Entity dict missing 'joinKeys'"
            out.append((entity["name"], entity["joinKeys"]))
        # timestamp_col renders as a plain string cell in the UI table:
        # must be a column name or the literal 'NULL', never None/json null
        assert isinstance(meta["timestamp_col"], str)
        return out

    def test_ui_parses_current_format(self, fs, tables, customer_entity):
        """OK format: every registered FV's metadata passes the UI
        parser with uppercase names and NON-EMPTY joinKeys."""
        fv = FeatureView("ui_cf", ["customer"], sql=FV_SQL)
        fs.register_feature_view(fv, version="1.0")
        doc = fs.registry.get("feature_views", "UI_CF__v1_0")
        parsed = self._ui_parse(doc["metadata"])
        assert parsed == [("CUSTOMER", ["C_CUSTKEY"])]
        for name, join_keys in parsed:
            assert name == name.upper()
            assert join_keys, "UI requires non-empty joinKeys"

    def test_ui_fails_on_legacy_string_form(self, fs, tables, customer_entity):
        """OLD/BAD format: entities as plain strings (pre-fix artifacts,
        cleanup_old_metadata.py:70-85) must reproduce the UI error —
        and migrate_metadata must repair exactly those docs so the
        parser passes afterward."""
        fv = FeatureView("ui_old_cf", ["customer"], sql=FV_SQL)
        fs.register_feature_view(fv, version="1.0")
        doc = fs.registry.get("feature_views", "UI_OLD_CF__v1_0")
        doc["metadata"]["entities"] = ["CUSTOMER"]  # the legacy regression
        fs.registry.put("feature_views", "UI_OLD_CF__v1_0", doc)
        with pytest.raises(AssertionError, match="reading 'joinKeys'"):
            self._ui_parse(
                fs.registry.get("feature_views", "UI_OLD_CF__v1_0")["metadata"]
            )
        report = fs.migrate_metadata(dry_run=False)
        assert [r["status"] for r in report] == ["OLD_FORMAT"]
        repaired = fs.registry.get("feature_views", "UI_OLD_CF__v1_0")
        assert self._ui_parse(repaired["metadata"]) == [
            ("CUSTOMER", ["C_CUSTKEY"])
        ]


class TestDatasetSourceBinding:
    def test_sources_bound_once_per_dataset_and_rebound_next_call(
        self, fs, spark, tmp_path
    ):
        """One dataset plan over two static FVs binds the registered
        sources once; a source rewritten between two calls is still seen
        by the next call (nothing stale is served)."""
        import datetime as dt

        base = dt.datetime(2024, 1, 1)
        path = str(tmp_path / "ev")

        def land(v):
            spark.createDataFrame(
                [(1, base, v)], "user_id long, ts timestamp, v double"
            ).write.mode("overwrite").parquet(path)

        land(1.0)
        fs.register_source("ev_src", path)
        fs.register_entity(Entity("user", ["user_id"]))
        fvs = [
            fs.register_feature_view(
                FeatureView(
                    f"fv{i}", ["user"], timestamp_col="ts",
                    sql=f"SELECT user_id, ts, v AS f{i} FROM ev_src",
                ),
                "1",
            )
            for i in range(2)
        ]
        calls = []
        bind = fs._bind_batch_sources
        fs._bind_batch_sources = lambda: (calls.append(1), bind())[1]
        spine = spark.createDataFrame(
            [(1, base)], "user_id long, event_time timestamp"
        )

        def row():
            return fs.dataset_df(
                spine, fvs, spine_timestamp_col="event_time"
            ).collect()[0]

        first = row()
        assert len(calls) == 1 and (first["f0"], first["f1"]) == (1.0, 1.0)
        land(2.0)
        second = row()
        assert len(calls) == 2 and (second["f0"], second["f1"]) == (2.0, 2.0)
