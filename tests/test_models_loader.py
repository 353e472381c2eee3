"""Declarative model loader (models.py) — the dbt front-end analog.

The project fixture is the reference's own integration-test project
translated verbatim (/root/reference/integration_tests/models/): two
entity models, a static FV, a source-reading base FV, a derived FV
chaining off it via {{ ref(...) }}, and a managed (Dynamic Table
analog) FV. The only translation: the managed model's fully-qualified
``rsureshbabu.FEATURE_STORE.customer_base_table`` becomes
``{{ source('test_sources', 'customer_base_table') }}`` — Snowflake
three-part names have no Spark-local analog (documented in models.py).
"""

from __future__ import annotations

import pytest

from dbt_snowflake_feature_store_spark import ValidationError, load_project
from dbt_snowflake_feature_store_spark.models import parse_model

ENTITY_CUSTOMER = """\
{{
  config(
    materialized='entity',
    join_keys=['customer_id'],
    desc='Test customer entity for integration testing'
  )
}}

SELECT 1 WHERE FALSE
"""

ENTITY_ORDER = """\
{{
  config(
    materialized='entity',
    join_keys=['order_id'],
    desc='Test order entity'
  )
}}

SELECT 1 WHERE FALSE
"""

FV_STATIC = """\
{{
  config(
    materialized='feature_view',
    entities=['test_customer_entity'],
    feature_view_version='1.0',
    timestamp_col='updated_at',
    desc='Customer features for testing'
  )
}}

SELECT
  1 AS customer_id,
  CURRENT_TIMESTAMP() AS updated_at,
  25 AS f_age,
  'US' AS f_country
"""

FV_BASE = """\
{{
  config(
    materialized='feature_view',
    entities=['test_customer_entity'],
    feature_view_version='1.0',
    timestamp_col='updated_at',
    desc='Base customer features - source for derived features'
  )
}}

-- Base features directly from source table
SELECT
  customer_id,
  updated_at,
  age AS f_base_age,
  country AS f_base_country,
  tier AS f_base_tier
FROM {{ source('test_sources', 'customer_base_table') }}
"""

FV_DERIVED = """\
{{
  config(
    materialized='feature_view',
    entities=['test_customer_entity'],
    feature_view_version='1.0',
    timestamp_col='updated_at',
    desc='Derived customer features - uses base features as source'
  )
}}

-- Derived features that transform base features
-- This demonstrates feature view chaining: base_fv -> derived_fv
SELECT
  customer_id,
  updated_at,

  f_base_age,
  f_base_country,

  CASE
    WHEN f_base_age < 25 THEN 'Young'
    WHEN f_base_age < 40 THEN 'Middle'
    WHEN f_base_age < 60 THEN 'Senior'
    ELSE 'Elder'
  END AS f_age_group,

  CASE
    WHEN f_base_country = 'US' THEN 'Domestic'
    ELSE 'International'
  END AS f_customer_segment,

  f_base_age * 12 AS f_age_in_months

FROM {{ ref('test_base_customer_features') }}
"""

FV_MANAGED = """\
{{
  config(
    materialized='feature_view',
    entities=['test_customer_entity'],
    feature_view_version='1.0',
    timestamp_col='updated_at',
    refresh_freq='1 minute',
    warehouse='ADMIN_WH',
    desc='Managed customer features (DYNAMIC TABLE)'
  )
}}

-- Dynamic Tables require at least one base table (not a view)
SELECT
  customer_id,
  updated_at,
  age AS f_age,
  tier AS f_tier
FROM {{ source('test_sources', 'customer_base_table') }}
"""


def _write_project(root, models: dict[str, str]) -> str:
    proj = root / "models"
    for rel, text in models.items():
        p = proj / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(text)
    return str(proj)


REFERENCE_PROJECT = {
    "entities/test_customer_entity.sql": ENTITY_CUSTOMER,
    "entities/test_order_entity.sql": ENTITY_ORDER,
    "features/test_static_customer_features.sql": FV_STATIC,
    "features/test_base_customer_features.sql": FV_BASE,
    "features/test_derived_customer_features.sql": FV_DERIVED,
    "features/test_managed_customer_features.sql": FV_MANAGED,
}


@pytest.fixture()
def base_table(spark, tmp_path):
    path = str(tmp_path / "customer_base_table")
    spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 23, "US", "gold"),
            (2, "2024-01-01 00:00:00", 35, "DE", "silver"),
            (3, "2024-01-02 00:00:00", 61, "US", "bronze"),
        ],
        schema="customer_id int, updated_at string, age int, country string, tier string",
    ).selectExpr(
        "customer_id", "CAST(updated_at AS timestamp) updated_at",
        "age", "country", "tier",
    ).write.mode("overwrite").parquet(path)
    return path


def test_reference_project_loads(fs, tmp_path, base_table):
    proj = _write_project(tmp_path, REFERENCE_PROJECT)
    fs.register_source("customer_base_table", base_table)

    report = load_project(fs, proj)

    assert report["entities"] == ["TEST_CUSTOMER_ENTITY", "TEST_ORDER_ENTITY"]
    assert ("TEST_BASE_CUSTOMER_FEATURES", "1.0") in report["feature_views"]
    assert len(report["feature_views"]) == 4
    # base must register before derived (ref dependency)
    order = report["order"]
    assert order.index("test_base_customer_features") < order.index(
        "test_derived_customer_features"
    )

    # derived FV: chaining produced the derived columns from base rows
    derived = fs.read_feature_view("TEST_DERIVED_CUSTOMER_FEATURES", "1.0")
    rows = {r["customer_id"]: r for r in derived.collect()}
    assert rows[1]["f_age_group"] == "Young"
    assert rows[2]["f_age_group"] == "Middle"
    assert rows[3]["f_age_group"] == "Elder"
    assert rows[1]["f_customer_segment"] == "Domestic"
    assert rows[2]["f_customer_segment"] == "International"
    assert rows[2]["f_age_in_months"] == 420

    # managed FV materialized on registration (initialize=ON_CREATE)
    managed = fs.get_feature_view("TEST_MANAGED_CUSTOMER_FEATURES", "1.0")
    assert managed.is_managed
    assert managed.refresh.warehouse == "ADMIN_WH"
    assert fs.read_feature_view(managed).count() == 3

    # static FV evaluates its verbatim body
    static = fs.read_feature_view("TEST_STATIC_CUSTOMER_FEATURES", "1.0")
    srow = static.collect()[0]
    assert srow["f_age"] == 25 and srow["f_country"] == "US"


def test_reload_is_idempotent(fs, tmp_path, base_table):
    proj = _write_project(tmp_path, REFERENCE_PROJECT)
    fs.register_source("customer_base_table", base_table)
    load_project(fs, proj)
    # second run: unchanged specs -> no-op (feature_view.sql:175-180),
    # including under on_configuration_change='fail'
    report = load_project(fs, proj, on_configuration_change="fail")
    assert len(report["feature_views"]) == 4


def test_chained_static_sql_is_self_contained(fs, tmp_path, base_table, spark):
    """The stored SQL of a ref()-chained static FV inlines its parent as
    a CTE, so a SECOND store instance (fresh registry read, no loader
    state) can still read it."""
    from dbt_snowflake_feature_store_spark import FeatureStore

    proj = _write_project(tmp_path, REFERENCE_PROJECT)
    fs.register_source("customer_base_table", base_table)
    load_project(fs, proj)

    fs2 = FeatureStore(spark, fs.root, name="TEST_FS")
    derived = fs2.read_feature_view("TEST_DERIVED_CUSTOMER_FEATURES", "1.0")
    assert derived.count() == 3
    doc_sql = fs2.get_feature_view("TEST_DERIVED_CUSTOMER_FEATURES", "1.0").sql
    assert "test_base_customer_features AS (" in doc_sql


def test_two_hop_static_chain_nested_ctes(fs, tmp_path, base_table, spark):
    """a <- b <- c static chain: c's stored SQL nests b's CTE (which
    itself nests a's) — Spark parses nested WITH inside a CTE body, and
    a fresh store re-plans it."""
    from dbt_snowflake_feature_store_spark import FeatureStore

    proj = _write_project(
        tmp_path,
        {
            "entities/test_customer_entity.sql": ENTITY_CUSTOMER,
            "a.sql": "{{ config(materialized='feature_view', entities="
            "['test_customer_entity'], feature_view_version='1.0') }}\n"
            "SELECT customer_id, age*2 AS f1 FROM "
            "{{ source('test_sources','customer_base_table') }}",
            "b.sql": "{{ config(materialized='feature_view', entities="
            "['test_customer_entity'], feature_view_version='1.0') }}\n"
            "SELECT customer_id, f1+1 AS f2 FROM {{ ref('a') }}",
            "c.sql": "{{ config(materialized='feature_view', entities="
            "['test_customer_entity'], feature_view_version='1.0') }}\n"
            "SELECT customer_id, f2*10 AS f3 FROM {{ ref('b') }}",
        },
    )
    fs.register_source("customer_base_table", base_table)
    load_project(fs, proj)
    fs2 = FeatureStore(spark, fs.root, name="TEST_FS")
    rows = {r["customer_id"]: r["f3"] for r in fs2.read_feature_view("C", "1.0").collect()}
    assert rows == {1: 470.0, 2: 710.0, 3: 1230.0}


def test_ref_to_managed_resolves_to_physical_table(fs, tmp_path, base_table):
    """A model ref()ing a MANAGED model reads the materialized table by
    physical name, not a recomputation (Dynamic-Table chaining)."""
    project = dict(REFERENCE_PROJECT)
    project["features/test_on_managed.sql"] = """\
{{ config(materialized='feature_view', entities=['test_customer_entity'],
          feature_view_version='2.0', desc='reads managed') }}
SELECT customer_id, f_age FROM {{ ref('test_managed_customer_features') }}
"""
    proj = _write_project(tmp_path, project)
    fs.register_source("customer_base_table", base_table)
    load_project(fs, proj)
    fv = fs.get_feature_view("TEST_ON_MANAGED", "2.0")
    assert "TEST_MANAGED_CUSTOMER_FEATURES__v1_0" in fv.sql
    assert fs.read_feature_view(fv).count() == 3


@pytest.mark.parametrize(
    "model,msg",
    [
        (
            "{{ config(materialized='entity', desc='x') }}\nSELECT 1",
            "requires 'join_keys' config",
        ),
        (
            "{{ config(materialized='feature_view', feature_view_version='1.0') }}\nSELECT 1",
            "requires 'entities' config",
        ),
        (
            "{{ config(materialized='feature_view', entities=['e']) }}\nSELECT 1",
            "requires 'feature_view_version' config",
        ),
        (
            "{{ config(materialized='feature_view', entities=['e'],"
            " feature_view_version='1.0', refresh_freq='1 minute') }}\nSELECT 1",
            "requires 'warehouse' config",
        ),
        (
            "{{ config(materialized='table') }}\nSELECT 1",
            "unknown materialization",
        ),
    ],
)
def test_reference_shaped_validation_errors(fs, tmp_path, model, msg):
    proj = _write_project(tmp_path, {"bad_model.sql": model})
    with pytest.raises(ValidationError, match=msg):
        load_project(fs, proj, dry_run=True)


def test_circular_ref_detected(fs, tmp_path):
    proj = _write_project(
        tmp_path,
        {
            "a.sql": "{{ config(materialized='feature_view', entities=['e'],"
            " feature_view_version='1.0') }}\nSELECT * FROM {{ ref('b') }}",
            "b.sql": "{{ config(materialized='feature_view', entities=['e'],"
            " feature_view_version='1.0') }}\nSELECT * FROM {{ ref('a') }}",
        },
    )
    with pytest.raises(ValidationError, match="Circular ref"):
        load_project(fs, proj, dry_run=True)


def test_unknown_ref_and_unregistered_source(fs, tmp_path):
    proj = _write_project(
        tmp_path,
        {
            "a.sql": "{{ config(materialized='feature_view', entities=['e'],"
            " feature_view_version='1.0') }}\nSELECT * FROM {{ ref('nope') }}"
        },
    )
    with pytest.raises(ValidationError, match="unknown model 'nope'"):
        load_project(fs, proj, dry_run=True)

    proj2 = _write_project(
        tmp_path / "p2",
        {
            "b.sql": "{{ config(materialized='feature_view', entities=['e'],"
            " feature_view_version='1.0') }}\n"
            "SELECT * FROM {{ source('s', 'no_such_table') }}"
        },
    )
    with pytest.raises(ValidationError, match="not a registered source"):
        load_project(fs, proj2, dry_run=True)


def test_entity_missing_for_fv(fs, tmp_path, base_table):
    """Reference error shape: Entity 'X' not found (feature_view.sql:46-56)."""
    from dbt_snowflake_feature_store_spark import EntityNotFoundError

    proj = _write_project(
        tmp_path,
        {"f.sql": FV_BASE},  # references test_customer_entity, never registered
    )
    fs.register_source("customer_base_table", base_table)
    with pytest.raises(EntityNotFoundError, match="not found"):
        load_project(fs, proj)


def test_parse_model_extracts_config_and_deps(tmp_path):
    p = tmp_path / "m.sql"
    p.write_text(FV_DERIVED)
    mdl = parse_model(str(p))
    assert mdl.name == "m"
    assert mdl.config["feature_view_version"] == "1.0"
    assert mdl.refs == ["test_base_customer_features"]
    assert "config" not in mdl.body


class TestDataTests:
    """run_data_tests — the reference's fail-if-rows-returned assertion
    layer (tests/test_feature_view_tags.sql style) executed against
    loaded models."""

    def _project_with_tests(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark.models import load_project

        proj = _write_project(tmp_path, REFERENCE_PROJECT)
        fs.register_source("customer_base_table", base_table)
        load_project(fs, proj)
        tests = tmp_path / "models" / "tests"
        tests.mkdir()
        # passes: no base customer has a negative age
        (tests / "test_no_negative_age.sql").write_text(
            "SELECT * FROM {{ ref('test_base_customer_features') }}\n"
            "WHERE f_base_age < 0\n"
        )
        # passes: managed FV ref binds to the materialized table
        (tests / "test_managed_nonempty.sql").write_text(
            "SELECT 1 WHERE (SELECT COUNT(*) FROM "
            "{{ ref('test_managed_customer_features') }}) = 0\n"
        )
        # fails: every row returned
        (tests / "test_always_fails.sql").write_text(
            "SELECT * FROM {{ source('fs_sources', 'customer_base_table') }}\n"
        )
        return proj

    def test_results_and_strict(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark.errors import ValidationError
        from dbt_snowflake_feature_store_spark.models import run_data_tests

        proj = self._project_with_tests(fs, tmp_path, base_table)
        results = {r["name"]: r for r in run_data_tests(fs, proj)}
        assert results["test_no_negative_age"]["passed"]
        assert results["test_managed_nonempty"]["passed"]
        assert not results["test_always_fails"]["passed"]
        assert results["test_always_fails"]["rows"] == 3
        with pytest.raises(ValidationError, match="test_always_fails"):
            run_data_tests(fs, proj, strict=True)

    def test_load_project_skips_tests_dir(self, fs, tmp_path, base_table):
        """load_project on a directory that ALREADY contains data tests
        (the dbt layout run_data_tests expects) must not choke on the
        config-less test SQL — the r5 ADVICE: the two APIs share one
        project dir (tests/ created BEFORE load_project here)."""
        from dbt_snowflake_feature_store_spark.models import (
            load_project,
            run_data_tests,
        )

        proj = _write_project(tmp_path, REFERENCE_PROJECT)
        tests = tmp_path / "models" / "tests"
        tests.mkdir()
        (tests / "test_no_negative_age.sql").write_text(
            "SELECT * FROM {{ ref('test_base_customer_features') }}\n"
            "WHERE f_base_age < 0\n"
        )
        fs.register_source("customer_base_table", base_table)
        report = load_project(fs, proj)  # would raise 'no config block'
        assert report["feature_views"]
        results = {r["name"]: r for r in run_data_tests(fs, proj)}
        assert results["test_no_negative_age"]["passed"]

    def test_unknown_ref_and_missing_dir(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark.errors import ValidationError
        from dbt_snowflake_feature_store_spark.models import run_data_tests

        proj = self._project_with_tests(fs, tmp_path, base_table)
        (tmp_path / "models" / "tests" / "test_bad_ref.sql").write_text(
            "SELECT * FROM {{ ref('no_such_model') }}"
        )
        with pytest.raises(ValidationError, match="no_such_model"):
            run_data_tests(fs, proj)
        with pytest.raises(ValidationError, match="data-test directory"):
            run_data_tests(fs, str(tmp_path / "nowhere"))


def test_cluster_by_config_wired_through_loader(fs, tmp_path, base_table):
    """A model's cluster_by config must reach the registered FV (and
    therefore the sorted-file materialization)."""
    from dbt_snowflake_feature_store_spark.models import load_project

    project = dict(REFERENCE_PROJECT)
    project["features/test_clustered_features.sql"] = """\
{{
  config(
    materialized='feature_view',
    entities=['test_customer_entity'],
    feature_view_version='1.0',
    timestamp_col='updated_at',
    refresh_freq='1 hour',
    refresh_mode='FULL',
    initialize='ON_CREATE',
    warehouse='wh',
    cluster_by=['customer_id']
  )
}}

SELECT customer_id, updated_at, age AS f_age
FROM {{ source('fs_sources', 'customer_base_table') }}
"""
    proj = _write_project(tmp_path, project)
    fs.register_source("customer_base_table", base_table)
    load_project(fs, proj)
    fv = fs.get_feature_view("test_clustered_features", "1.0")
    assert fv.cluster_by == ["customer_id"]


def test_data_tests_sibling_dir_not_swallowed(fs, tmp_path, base_table):
    """A model dir named tests_shared/ (sharing the tests/ prefix) must
    still be loaded as models by run_data_tests."""
    from dbt_snowflake_feature_store_spark.models import run_data_tests

    project = dict(REFERENCE_PROJECT)
    project["tests_shared/shared_model.sql"] = """\
{{
  config(
    materialized='feature_view',
    entities=['test_customer_entity'],
    feature_view_version='1.0'
  )
}}

SELECT customer_id, age AS f_age
FROM {{ source('fs_sources', 'customer_base_table') }}
"""
    proj = _write_project(tmp_path, project)
    fs.register_source("customer_base_table", base_table)
    from dbt_snowflake_feature_store_spark.models import load_project

    load_project(fs, proj)
    tests = tmp_path / "models" / "tests"
    tests.mkdir()
    (tests / "test_shared_ref.sql").write_text(
        "SELECT * FROM {{ ref('shared_model') }} WHERE f_age < 0"
    )
    results = run_data_tests(fs, proj)
    assert [r["name"] for r in results] == ["test_shared_ref"]
    assert results[0]["passed"]


class TestFullJinja:
    """Round-10 closure of VERDICT 'missing #2': models beyond the
    config/ref/source regex subset ({% set %}, {% for %}, {% if %},
    {# comments #}, var(), project macros/) render through a real
    jinja2 environment with dbt semantics; unknown names still fail
    LOUDLY (StrictUndefined)."""

    JINJA_FV = """\
{{ config(materialized='feature_view',
          entities=['test_customer_entity'],
          feature_view_version='1.0') }}
{# a comment that the old loader rejected #}
{% set metrics = ['age', 'age'] %}
{% set threshold = var('min_age', 18) %}
SELECT customer_id,
  {% for m in metrics %}
  {{ m }} AS f_{{ m }}_{{ loop.index }},
  {% endfor %}
  {% if threshold > 20 %}
  CAST(age >= {{ threshold }} AS INT) AS f_above
  {% else %}
  CAST(0 AS INT) AS f_above
  {% endif %}
FROM {{ source('test_sources', 'customer_base_table') }}
"""

    MACRO = """\
{% macro age_bucket(col, width) -%}
CAST(FLOOR({{ col }} / {{ width }}) AS INT)
{%- endmacro %}
"""

    MACRO_FV = """\
{{ config(materialized='feature_view',
          entities=['test_customer_entity'],
          feature_view_version='1.0') }}
SELECT customer_id, {{ age_bucket('age', 10) }} AS f_decade
FROM {{ source('test_sources', 'customer_base_table') }}
"""

    def _proj(self, tmp_path, models):
        proj = _write_project(
            tmp_path, {"entities/test_customer_entity.sql": ENTITY_CUSTOMER}
        )
        for rel, text in models.items():
            p = tmp_path / "models" / rel
            p.parent.mkdir(parents=True, exist_ok=True)
            p.write_text(text)
        return proj

    def test_set_for_if_var_render(self, fs, tmp_path, base_table):
        proj = self._proj(tmp_path, {"features/jinja_fv.sql": self.JINJA_FV})
        fs.register_source("customer_base_table", base_table)
        load_project(fs, proj, model_vars={"min_age": 30})
        df = fs.read_feature_view("JINJA_FV", "1.0")
        rows = {r["customer_id"]: r for r in df.collect()}
        assert set(df.columns) == {
            "customer_id", "f_age_1", "f_age_2", "f_above"
        }
        assert rows[1]["f_above"] == 0 and rows[3]["f_above"] == 1
        # var default path: threshold=18 ≤ 20 → the else branch
        fs2_root = str(tmp_path / "fs2")
        from dbt_snowflake_feature_store_spark import FeatureStore

        fs2 = FeatureStore(fs.spark, fs2_root)
        fs2.register_source("customer_base_table", base_table)
        load_project(fs2, proj)
        assert all(
            r["f_above"] == 0
            for r in fs2.read_feature_view("JINJA_FV", "1.0").collect()
        )

    def test_project_macros_dir(self, fs, tmp_path, base_table):
        proj = self._proj(tmp_path, {"features/macro_fv.sql": self.MACRO_FV})
        (tmp_path / "models" / "macros").mkdir(parents=True, exist_ok=True)
        (tmp_path / "models" / "macros" / "helpers.sql").write_text(self.MACRO)
        fs.register_source("customer_base_table", base_table)
        load_project(fs, proj)
        rows = {
            r["customer_id"]: r["f_decade"]
            for r in fs.read_feature_view("MACRO_FV", "1.0").collect()
        }
        assert rows == {1: 2, 2: 3, 3: 6}

    def test_undefined_name_fails_loudly(self, fs, tmp_path, base_table):
        bad = """\
{{ config(materialized='feature_view',
          entities=['test_customer_entity'],
          feature_view_version='1.0') }}
SELECT {{ not_a_macro('age') }} AS f_x
FROM {{ source('test_sources', 'customer_base_table') }}
"""
        proj = self._proj(tmp_path, {"features/bad_fv.sql": bad})
        fs.register_source("customer_base_table", base_table)
        with pytest.raises(ValidationError, match="Jinja render failed"):
            load_project(fs, proj)

    def test_missing_var_fails_loudly(self, fs, tmp_path, base_table):
        bad = """\
{{ config(materialized='feature_view',
          entities=['test_customer_entity'],
          feature_view_version='1.0') }}
SELECT customer_id, {{ var('no_default_here') }} AS f_x
FROM {{ source('test_sources', 'customer_base_table') }}
"""
        proj = self._proj(tmp_path, {"features/badvar_fv.sql": bad})
        fs.register_source("customer_base_table", base_table)
        with pytest.raises(ValidationError, match="no_default_here"):
            load_project(fs, proj)

    def test_jinja_model_can_ref_static_model(self, fs, tmp_path, base_table):
        """ref() emitted from the Jinja path goes through the SAME CTE
        inlining as the regex path — the stored SQL stays
        self-contained."""
        base = """\
{{ config(materialized='feature_view',
          entities=['test_customer_entity'],
          feature_view_version='1.0') }}
SELECT customer_id, age FROM {{ source('test_sources', 'customer_base_table') }}
"""
        derived = """\
{{ config(materialized='feature_view',
          entities=['test_customer_entity'],
          feature_view_version='1.0') }}
{% set factor = 2 %}
SELECT customer_id, age * {{ factor }} AS f_double FROM {{ ref('jbase_fv') }}
"""
        proj = self._proj(
            tmp_path,
            {"features/jbase_fv.sql": base, "features/jderived_fv.sql": derived},
        )
        fs.register_source("customer_base_table", base_table)
        load_project(fs, proj)
        rows = {
            r["customer_id"]: r["f_double"]
            for r in fs.read_feature_view("JDERIVED_FV", "1.0").collect()
        }
        assert rows == {1: 46, 2: 70, 3: 122}


class TestSeeds:
    """dbt SEEDS (r10): seeds/*.csv register as named CSV sources;
    models and data tests reference them via ref('<stem>')."""

    SEED_CSV = "region_code,region_name,weight\nUS,United States,3\nDE,Germany,2\n"

    SEED_FV = """\
{{ config(materialized='feature_view',
          entities=['test_customer_entity'],
          feature_view_version='1.0') }}
SELECT b.customer_id, b.age, s.weight AS f_weight
FROM {{ source('test_sources', 'customer_base_table') }} b
JOIN {{ ref('region_codes') }} s ON b.country = s.region_code
"""

    def _proj(self, tmp_path):
        proj = _write_project(
            tmp_path,
            {
                "entities/test_customer_entity.sql": ENTITY_CUSTOMER,
                "features/seed_fv.sql": self.SEED_FV,
            },
        )
        sdir = tmp_path / "models" / "seeds"
        sdir.mkdir(parents=True, exist_ok=True)
        (sdir / "region_codes.csv").write_text(self.SEED_CSV)
        return proj

    def test_seed_registers_and_model_refs_it(self, fs, tmp_path, base_table):
        proj = self._proj(tmp_path)
        fs.register_source("customer_base_table", base_table)
        report = load_project(fs, proj)
        assert report["seeds"] == ["REGION_CODES"]
        rows = {
            r["customer_id"]: r["f_weight"]
            for r in fs.read_feature_view("SEED_FV", "1.0").collect()
        }
        assert rows == {1: 3, 2: 2, 3: 3}

    def test_seed_schema_pin(self, fs, tmp_path, base_table):
        """seed_schemas pins column types (dbt column_types) — no
        inference read, exact types."""
        proj = self._proj(tmp_path)
        fs.register_source("customer_base_table", base_table)
        load_project(
            fs,
            proj,
            seed_schemas={
                "region_codes":
                    "region_code string, region_name string, weight bigint"
            },
        )
        df = fs.read_feature_view("SEED_FV", "1.0")
        assert dict(df.dtypes)["f_weight"] == "bigint"

    def test_unknown_ref_still_fails(self, fs, tmp_path, base_table):
        bad = self.SEED_FV.replace("region_codes", "no_such_seed")
        proj = _write_project(
            tmp_path,
            {
                "entities/test_customer_entity.sql": ENTITY_CUSTOMER,
                "features/bad_fv.sql": bad,
            },
        )
        fs.register_source("customer_base_table", base_table)
        with pytest.raises(ValidationError, match="no_such_seed"):
            load_project(fs, proj)


class TestSourcesYml:
    """dbt ``sources.yml`` (r11): declared (source, table) pairs bind via
    identifier and GATE {{ source(...) }} references, exactly the layout
    the reference project ships
    (/root/reference/integration_tests/models/sources.yml:1-9)."""

    YML = """\
version: 2

sources:
  - name: test_sources
    database: "{{ target.database }}"
    schema: FEATURE_STORE
    tables:
      - name: customer_base_table
        description: "Base table for customer data used in feature views"
"""

    def test_reference_sources_yml_loads(self, fs, tmp_path, base_table):
        proj = _write_project(
            tmp_path, {**REFERENCE_PROJECT, "sources.yml": self.YML}
        )
        fs.register_source("customer_base_table", base_table)
        report = load_project(fs, proj)
        assert len(report["feature_views"]) == 4
        managed = fs.get_feature_view("TEST_MANAGED_CUSTOMER_FEATURES", "1.0")
        assert fs.read_feature_view(managed).count() == 3

    def test_identifier_rebinds_physical_name(self, fs, tmp_path, base_table):
        yml = self.YML.replace(
            "- name: customer_base_table",
            "- name: customer_base_table\n        identifier: cust_raw",
        )
        proj = _write_project(
            tmp_path, {**REFERENCE_PROJECT, "sources.yml": yml}
        )
        fs.register_source("cust_raw", base_table)  # physical name only
        report = load_project(fs, proj)
        assert len(report["feature_views"]) == 4

    def test_undeclared_source_fails_loudly(self, fs, tmp_path, base_table):
        yml = self.YML.replace("customer_base_table", "some_other_table")
        proj = _write_project(
            tmp_path, {**REFERENCE_PROJECT, "sources.yml": yml}
        )
        fs.register_source("customer_base_table", base_table)
        with pytest.raises(ValidationError, match="not\\s+declared"):
            load_project(fs, proj)

    def test_explicit_source_map_overrides_yml(self, fs, tmp_path, base_table):
        proj = _write_project(
            tmp_path, {**REFERENCE_PROJECT, "sources.yml": self.YML}
        )
        fs.register_source("elsewhere", base_table)
        report = load_project(
            fs,
            proj,
            source_map={("test_sources", "customer_base_table"): "elsewhere"},
        )
        assert len(report["feature_views"]) == 4

    def test_yml_less_project_keeps_bare_binding(self, fs, tmp_path, base_table):
        proj = _write_project(tmp_path, REFERENCE_PROJECT)
        fs.register_source("customer_base_table", base_table)
        assert len(load_project(fs, proj)["feature_views"]) == 4


class TestSchemaTests:
    """dbt generic (schema) tests (r11): yml-attached column assertions
    over models and sources — the yml half of dbt's test surface beside
    run_data_tests' singular SQL tests."""

    YML = """\
version: 2

sources:
  - name: test_sources
    tables:
      - name: customer_base_table
        columns:
          - name: customer_id
            tests:
              - unique
              - not_null
          - name: tier
            tests:
              - accepted_values:
                  values: ['gold', 'silver', 'bronze']

models:
  - name: test_base_customer_features
    columns:
      - name: customer_id
        tests:
          - unique
          - not_null
          - relationships:
              to: source('test_sources', 'customer_base_table')
              field: customer_id
"""

    def _load(self, fs, tmp_path, base_table, yml=None):
        proj = _write_project(
            tmp_path, {**REFERENCE_PROJECT, "schema.yml": yml or self.YML}
        )
        fs.register_source("customer_base_table", base_table)
        load_project(fs, proj)
        return proj

    def test_all_pass_on_clean_data(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark import run_schema_tests

        proj = self._load(fs, tmp_path, base_table)
        results = run_schema_tests(fs, proj, strict=True)
        assert len(results) == 6
        assert all(r["passed"] for r in results)
        names = [r["name"] for r in results]
        assert "unique_test_sources.customer_base_table_customer_id" in names
        assert (
            "relationships_test_base_customer_features_customer_id" in names
        )

    def test_violations_counted_and_strict_raises(
        self, fs, spark, tmp_path, base_table
    ):
        from dbt_snowflake_feature_store_spark import run_schema_tests

        # poison the base table: duplicate id, null id, bad tier
        spark.createDataFrame(
            [
                (1, "2024-01-01 00:00:00", 23, "US", "gold"),
                (1, "2024-01-02 00:00:00", 24, "US", "gold"),
                (None, "2024-01-01 00:00:00", 35, "DE", "platinum"),
            ],
            schema=(
                "customer_id int, updated_at string, age int, "
                "country string, tier string"
            ),
        ).selectExpr(
            "customer_id", "CAST(updated_at AS timestamp) updated_at",
            "age", "country", "tier",
        ).write.mode("overwrite").parquet(base_table)
        proj = self._load(fs, tmp_path, base_table)
        results = {r["name"]: r for r in run_schema_tests(fs, proj)}
        assert not results[
            "unique_test_sources.customer_base_table_customer_id"
        ]["passed"]
        assert not results[
            "not_null_test_sources.customer_base_table_customer_id"
        ]["passed"]
        assert results[
            "accepted_values_test_sources.customer_base_table_tier"
        ]["rows"] == 1  # 'platinum'
        with pytest.raises(ValidationError, match="schema test"):
            run_schema_tests(fs, proj, strict=True)

    def test_unknown_test_name_fails_loudly(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark import run_schema_tests

        yml = self.YML.replace("- unique\n", "- positive_values\n", 1)
        proj = self._load(fs, tmp_path, base_table, yml)
        with pytest.raises(ValidationError, match="Unknown schema test"):
            run_schema_tests(fs, proj)


class TestSchemaTestConfigs:
    """dbt test configs on generic tests (r11): `where:` filters the
    tested rows; `severity: warn` records the failure without failing
    strict mode — both the inline and nested-config spellings."""

    YML = """\
version: 2

sources:
  - name: test_sources
    tables:
      - name: customer_base_table
        columns:
          - name: tier
            tests:
              - accepted_values:
                  values: ['gold']
                  severity: warn
          - name: age
            tests:
              - not_null:
                  config:
                    where: "country = 'US'"
"""

    def test_warn_and_where(self, fs, spark, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark import run_schema_tests

        # age is NULL only for a non-US row -> the where-filtered
        # not_null passes; tier has non-gold values -> warn-only failure
        spark.createDataFrame(
            [
                (1, "2024-01-01 00:00:00", 23, "US", "gold"),
                (2, "2024-01-01 00:00:00", None, "DE", "silver"),
            ],
            schema=(
                "customer_id int, updated_at string, age int, "
                "country string, tier string"
            ),
        ).selectExpr(
            "customer_id", "CAST(updated_at AS timestamp) updated_at",
            "age", "country", "tier",
        ).write.mode("overwrite").parquet(base_table)
        proj = _write_project(
            tmp_path, {**REFERENCE_PROJECT, "schema.yml": self.YML}
        )
        fs.register_source("customer_base_table", base_table)
        load_project(fs, proj)
        results = {
            r["name"]: r for r in run_schema_tests(fs, proj, strict=True)
        }  # strict does NOT raise: the only failure is warn-severity
        warn = results["accepted_values_test_sources.customer_base_table_tier"]
        assert not warn["passed"] and warn["severity"] == "warn"
        assert results[
            "not_null_test_sources.customer_base_table_age"
        ]["passed"]  # the DE null is outside the where filter


class TestExposures:
    """dbt exposures (r11): downstream-consumer declarations closing the
    lineage graph — validated refs/sources, registry round-trip,
    list_exposures API."""

    YML = """\
version: 2

sources:
  - name: test_sources
    tables:
      - name: customer_base_table

exposures:
  - name: churn_dashboard
    type: dashboard
    owner:
      name: data-team
      email: data@example.com
    url: https://bi.example.com/churn
    maturity: high
    depends_on:
      - ref('test_derived_customer_features')
      - source('test_sources', 'customer_base_table')
"""

    def test_exposures_load_and_list(self, fs, tmp_path, base_table):
        proj = _write_project(
            tmp_path, {**REFERENCE_PROJECT, "schema.yml": self.YML}
        )
        fs.register_source("customer_base_table", base_table)
        report = load_project(fs, proj)
        assert report["exposures"] == ["CHURN_DASHBOARD"]
        rows = {r["NAME"]: r for r in fs.list_exposures().collect()}
        exp = rows["CHURN_DASHBOARD"]
        assert exp["TYPE"] == "dashboard"
        assert exp["OWNER_EMAIL"] == "data@example.com"
        assert exp["N_DEPS"] == 2
        doc = fs.registry.get("exposures", "CHURN_DASHBOARD")
        assert {d["kind"] for d in doc["depends_on"]} == {"ref", "source"}

    def test_unknown_ref_fails(self, fs, tmp_path, base_table):
        yml = self.YML.replace(
            "ref('test_derived_customer_features')", "ref('nope')"
        )
        proj = _write_project(
            tmp_path, {**REFERENCE_PROJECT, "schema.yml": yml}
        )
        fs.register_source("customer_base_table", base_table)
        with pytest.raises(ValidationError, match="does not match any model"):
            load_project(fs, proj)

    def test_bad_type_fails(self, fs, tmp_path, base_table):
        yml = self.YML.replace("type: dashboard", "type: spreadsheet")
        proj = _write_project(
            tmp_path, {**REFERENCE_PROJECT, "schema.yml": yml}
        )
        fs.register_source("customer_base_table", base_table)
        with pytest.raises(ValidationError, match="type must be one of"):
            load_project(fs, proj)


def test_schema_test_list_params_fail_loudly(fs, tmp_path, base_table):
    """Review r11: `accepted_values: ['gold']` (params as a bare list, a
    common misspelling) must raise ValidationError, not AttributeError."""
    from dbt_snowflake_feature_store_spark import run_schema_tests

    yml = """\
version: 2

sources:
  - name: test_sources
    tables:
      - name: customer_base_table
        columns:
          - name: tier
            tests:
              - accepted_values: ['gold']
"""
    proj = _write_project(tmp_path, {**REFERENCE_PROJECT, "schema.yml": yml})
    fs.register_source("customer_base_table", base_table)
    load_project(fs, proj)
    with pytest.raises(ValidationError, match="must be a mapping"):
        run_schema_tests(fs, proj)


class TestBuildProject:
    """build_project (r11): the `dbt build` analog — seeds/models/
    exposures, snapshots, then both test surfaces in phase order, with
    the exit-nonzero contract aggregated across all tests."""

    SNAP = """\
{% snapshot cust_snap %}
{{
  config(
    strategy='timestamp',
    unique_key='customer_id',
    updated_at='updated_at'
  )
}}
SELECT customer_id, tier, updated_at
FROM {{ source('test_sources', 'customer_base_table') }}
{% endsnapshot %}
"""

    YML = """\
version: 2

sources:
  - name: test_sources
    tables:
      - name: customer_base_table
        columns:
          - name: customer_id
            tests:
              - not_null
"""

    def test_full_build(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark import build_project

        _write_project(
            tmp_path, {**REFERENCE_PROJECT, "schema.yml": self.YML}
        )
        snap_dir = tmp_path / "models" / "snapshots"
        snap_dir.mkdir(parents=True, exist_ok=True)
        (snap_dir / "cust.sql").write_text(self.SNAP)
        fs.register_source("customer_base_table", base_table)
        report = build_project(
            fs, str(tmp_path / "models"), at="2024-02-01 00:00:00"
        )
        assert len(report["models"]["feature_views"]) == 4
        assert report["snapshots"]["CUST_SNAP"]["rows"] == 3
        assert len(report["schema_tests"]) == 1
        assert all(r["passed"] for r in report["schema_tests"])
        assert report["data_tests"] == []  # no tests/ dir

    def test_build_without_tests_or_snapshots(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark import build_project

        _write_project(tmp_path, REFERENCE_PROJECT)
        fs.register_source("customer_base_table", base_table)
        report = build_project(fs, str(tmp_path / "models"))
        assert report["snapshots"] is None
        assert report["schema_tests"] == []

    def test_strict_aggregates_failures(self, fs, spark, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark import build_project

        spark.createDataFrame(
            [(None, "2024-01-01 00:00:00", 23, "US", "gold")],
            schema=(
                "customer_id int, updated_at string, age int, "
                "country string, tier string"
            ),
        ).selectExpr(
            "customer_id", "CAST(updated_at AS timestamp) updated_at",
            "age", "country", "tier",
        ).write.mode("overwrite").parquet(base_table)
        _write_project(
            tmp_path, {**REFERENCE_PROJECT, "schema.yml": self.YML}
        )
        fs.register_source("customer_base_table", base_table)
        with pytest.raises(ValidationError, match="build: 1 test"):
            build_project(fs, str(tmp_path / "models"))


def test_schema_tests_honor_source_map(fs, spark, tmp_path, base_table):
    """Review r11 (2nd pass): schema tests must resolve sources through
    the SAME effective binding as the models — an explicit source_map
    override (either spelling) wins over the yml identifier."""
    from dbt_snowflake_feature_store_spark import run_schema_tests

    yml = """\
version: 2

sources:
  - name: test_sources
    tables:
      - name: customer_base_table
        columns:
          - name: customer_id
            tests:
              - not_null
"""
    proj = _write_project(tmp_path, {**REFERENCE_PROJECT, "schema.yml": yml})
    fs.register_source("elsewhere", base_table)
    # STRING-key override: previously shadowed by the declared tuple key
    load_project(
        fs, proj, source_map={"test_sources.customer_base_table": "elsewhere"}
    )
    results = run_schema_tests(
        fs,
        proj,
        strict=True,
        source_map={"test_sources.customer_base_table": "elsewhere"},
    )
    assert len(results) == 1 and results[0]["passed"]


def test_build_project_tolerates_empty_snapshots_dir(fs, tmp_path, base_table):
    """Review r11 (2nd pass): a snapshots/ dir with no .sql files (e.g.
    only .gitkeep) must not abort the build."""
    from dbt_snowflake_feature_store_spark import build_project

    _write_project(tmp_path, REFERENCE_PROJECT)
    snap_dir = tmp_path / "models" / "snapshots"
    snap_dir.mkdir(parents=True, exist_ok=True)
    (snap_dir / ".gitkeep").write_text("")
    fs.register_source("customer_base_table", base_table)
    report = build_project(fs, str(tmp_path / "models"))
    assert report["snapshots"] is None


class TestCustomGenericTests:
    """Project-defined GENERIC tests (VERDICT r11 missing #2): a
    {% test name(model, column_name, ...) %} block in tests/generic/
    (or a test_* macro in macros/) resolves by name from yml `tests:`
    lists with dbt's signature contract — model + column_name + yml
    kwargs — composing with where/severity configs."""

    GENERIC_SQL = """\
{% test positive_values(model, column_name) %}
SELECT * FROM {{ model }} WHERE {{ column_name }} <= 0
{% endtest %}

{% test at_least(model, column_name, min_value) %}
SELECT * FROM {{ model }} WHERE {{ column_name }} < {{ min_value }}
{% endtest %}
"""

    MACRO_SQL = """\
{% macro test_matches_source_ids(model, column_name) %}
SELECT m.{{ column_name }} FROM {{ model }} m
LEFT ANTI JOIN {{ source('test_sources', 'customer_base_table') }} s
ON m.{{ column_name }} = s.customer_id
{% endmacro %}
"""

    def _proj(self, fs, tmp_path, base_table, yml):
        proj = _write_project(
            tmp_path,
            {
                **REFERENCE_PROJECT,
                "schema.yml": yml,
                "tests/generic/custom.sql": self.GENERIC_SQL,
                "macros/test_macro_defined.sql": self.MACRO_SQL,
            },
        )
        fs.register_source("customer_base_table", base_table)
        load_project(fs, proj)
        return proj

    def test_passing_failing_and_param_kwargs(
        self, fs, tmp_path, base_table
    ):
        from dbt_snowflake_feature_store_spark import run_schema_tests

        yml = """\
version: 2

sources:
  - name: test_sources
    tables:
      - name: customer_base_table
        columns:
          - name: age
            tests:
              - positive_values
              - at_least:
                  min_value: 100
          - name: customer_id
            tests:
              - matches_source_ids
"""
        proj = self._proj(fs, tmp_path, base_table, yml)
        results = {r["name"]: r for r in run_schema_tests(fs, proj)}
        assert results[
            "positive_values_test_sources.customer_base_table_age"
        ]["passed"]  # all ages positive
        al = results["at_least_test_sources.customer_base_table_age"]
        assert not al["passed"] and al["rows"] > 0  # nobody is 100+
        assert results[
            "matches_source_ids_test_sources.customer_base_table_customer_id"
        ]["passed"]  # macro-defined test + source() resolution inside

    def test_warn_severity_and_where_compose(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark import run_schema_tests

        yml = """\
version: 2

sources:
  - name: test_sources
    tables:
      - name: customer_base_table
        columns:
          - name: age
            tests:
              - at_least:
                  min_value: 100
                  severity: warn
              - at_least:
                  min_value: 0
                  where: "age > 1000"
"""
        proj = self._proj(fs, tmp_path, base_table, yml)
        # warn severity: recorded as failed but strict does not raise
        results = run_schema_tests(fs, proj, strict=True)
        by = {}
        for r in results:
            by.setdefault(r["name"], []).append(r)
        recs = by["at_least_test_sources.customer_base_table_age"]
        assert sorted(r["passed"] for r in recs) == [False, True]
        warn = [r for r in recs if not r["passed"]][0]
        assert warn["severity"] == "warn"

    def test_unknown_name_still_fails_loudly(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark import run_schema_tests

        yml = """\
version: 2

sources:
  - name: test_sources
    tables:
      - name: customer_base_table
        columns:
          - name: age
            tests:
              - no_such_generic_test
"""
        proj = self._proj(fs, tmp_path, base_table, yml)
        with pytest.raises(ValidationError, match="Unknown schema test"):
            run_schema_tests(fs, proj)

    def test_signature_mismatch_names_the_contract(
        self, fs, tmp_path, base_table
    ):
        from dbt_snowflake_feature_store_spark import run_schema_tests

        yml = """\
version: 2

sources:
  - name: test_sources
    tables:
      - name: customer_base_table
        columns:
          - name: age
            tests:
              - positive_values:
                  not_a_param: 1
"""
        proj = self._proj(fs, tmp_path, base_table, yml)
        with pytest.raises(ValidationError, match="signature mismatch"):
            run_schema_tests(fs, proj)

    def test_generic_defs_not_collected_as_singular_tests(
        self, fs, tmp_path, base_table
    ):
        from dbt_snowflake_feature_store_spark import run_data_tests

        proj = self._proj(fs, tmp_path, base_table, "version: 2\n")
        tdir = tmp_path / "models" / "tests"
        (tdir / "ok_singular.sql").write_text(
            "SELECT * FROM {{ source('test_sources', "
            "'customer_base_table') }} WHERE age < 0"
        )
        results = run_data_tests(fs, proj, strict=True)
        assert [r["name"] for r in results] == ["ok_singular"]


class TestManifestExport:
    """dbt-docs-style manifest.json (VERDICT r11 missing #3): nodes +
    parent_map/child_map lineage over models, seeds, sources,
    snapshots, exposures and tests, written to target/manifest.json."""

    YML = TestExposures.YML + """\

models:
  - name: test_base_customer_features
    columns:
      - name: customer_id
        tests:
          - unique
"""

    def _proj(self, fs, tmp_path, base_table):
        proj = _write_project(
            tmp_path,
            {
                **REFERENCE_PROJECT,
                "schema.yml": self.YML,
                "tests/no_negative_age.sql": (
                    "SELECT * FROM {{ source('test_sources', "
                    "'customer_base_table') }} WHERE age < 0"
                ),
            },
        )
        fs.register_source("customer_base_table", base_table)
        return proj

    def test_schema_nodes_and_edges(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark import export_manifest

        proj = self._proj(fs, tmp_path, base_table)
        man = export_manifest(fs, proj)
        # top-level contract
        assert set(man) == {
            "metadata", "nodes", "sources", "exposures",
            "parent_map", "child_map",
        }
        # every project surface became a node with its resource_type
        assert (
            man["nodes"]["model.project.test_derived_customer_features"][
                "resource_type"
            ]
            == "model"
        )
        src_uid = "source.project.test_sources.customer_base_table"
        assert man["sources"][src_uid]["source_name"] == "test_sources"
        exp_uid = "exposure.project.CHURN_DASHBOARD"
        assert man["exposures"][exp_uid]["type"] == "dashboard"
        # lineage edges: derived model refs base model; base reads the
        # declared source; the exposure depends on both kinds
        pm = man["parent_map"]
        assert (
            "model.project.test_base_customer_features"
            in pm["model.project.test_derived_customer_features"]
        )
        assert src_uid in pm["model.project.test_base_customer_features"]
        assert set(pm[exp_uid]) == {
            "model.project.test_derived_customer_features",
            src_uid,
        }
        # tests: the yml schema test hangs off its model; the singular
        # test off its source
        t_uid = (
            "test.project.unique_test_base_customer_features_customer_id"
        )
        assert pm[t_uid] == ["model.project.test_base_customer_features"]
        assert pm["test.project.no_negative_age"] == [src_uid]
        # child_map is the exact inverse of parent_map
        inverted: dict[str, list[str]] = {}
        for child, parents in pm.items():
            for p in parents:
                inverted.setdefault(p, []).append(child)
        for uid, kids in man["child_map"].items():
            assert sorted(inverted.get(uid, [])) == kids
        # and the file landed at dbt's location
        import json as _json
        import os as _os

        with open(_os.path.join(proj, "target", "manifest.json")) as f:
            disk = _json.load(f)
        assert disk["parent_map"] == {
            k: v for k, v in sorted(pm.items())
        }

    def test_unknown_model_test_entry_fails_loudly(
        self, fs, tmp_path, base_table
    ):
        """ADVICE r12 #3: a yml models: test entry naming an unknown
        model must raise (run_schema_tests would fail loudly on the
        same project) instead of silently emitting a dangling test node
        with an empty parent_map."""
        import os as _os

        from dbt_snowflake_feature_store_spark import export_manifest

        proj = self._proj(fs, tmp_path, base_table)
        bad = self.YML.replace(
            "- name: test_base_customer_features\n    columns:",
            "- name: no_such_model\n    columns:",
        )
        with open(_os.path.join(proj, "schema.yml"), "w") as f:
            f.write(bad)
        with pytest.raises(ValidationError, match="no_such_model"):
            export_manifest(fs, proj)

    def test_round_trip_matches_walkers(self, fs, tmp_path, base_table):
        """The manifest's exposure edges equal what load_exposures
        registered, and model edges match the loaded project's refs."""
        from dbt_snowflake_feature_store_spark import export_manifest

        proj = self._proj(fs, tmp_path, base_table)
        load_project(fs, proj)
        man = export_manifest(fs, proj)
        doc = fs.registry.get("exposures", "CHURN_DASHBOARD")
        want = set()
        for d in doc["depends_on"]:
            if d["kind"] == "ref":
                want.add(
                    "model.project.test_derived_customer_features"
                )
            else:
                want.add(f"source.project.{d['target']}")
        assert set(
            man["parent_map"]["exposure.project.CHURN_DASHBOARD"]
        ) == want

    def test_build_project_writes_manifest(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark import build_project

        proj = self._proj(fs, tmp_path, base_table)
        report = build_project(fs, proj)
        assert report["manifest"]["metadata"]["generator"] == (
            "dbt_snowflake_feature_store_spark"
        )
        import os as _os

        assert _os.path.exists(
            _os.path.join(proj, "target", "manifest.json")
        )


class TestSemanticLayer:
    """dbt-1.9 `semantic_models:` / `metrics:` blocks (VERDICT r11
    missing #4): validated refs, measure/metric resolution, registry
    kinds, list APIs — the exposures pattern."""

    YML = """\
version: 2

semantic_models:
  - name: customers_sem
    model: ref('test_base_customer_features')
    entities:
      - name: customer
        type: primary
    dimensions:
      - name: country
        type: categorical
    measures:
      - name: avg_age
        agg: average
        expr: age
      - name: n_customers
        agg: count

metrics:
  - name: average_age
    label: "Average age"
    type: simple
    type_params:
      measure: avg_age
  - name: age_per_customer
    type: ratio
    type_params:
      numerator: avg_age
      denominator: n_customers
  - name: double_age
    type: derived
    type_params:
      metrics:
        - average_age
"""

    def _proj(self, fs, tmp_path, base_table, yml=None):
        proj = _write_project(
            tmp_path, {**REFERENCE_PROJECT, "schema.yml": yml or self.YML}
        )
        fs.register_source("customer_base_table", base_table)
        return proj

    def test_load_validates_and_registers(self, fs, tmp_path, base_table):
        proj = self._proj(fs, tmp_path, base_table)
        report = load_project(fs, proj)
        assert report["semantic_layer"] == {
            "semantic_models": ["CUSTOMERS_SEM"],
            "metrics": ["AGE_PER_CUSTOMER", "AVERAGE_AGE", "DOUBLE_AGE"],
            "saved_queries": [],
        }
        sm = fs.registry.get("semantic_models", "CUSTOMERS_SEM")
        assert sm["model"] == "TEST_BASE_CUSTOMER_FEATURES"
        assert [m["name"] for m in sm["measures"]] == [
            "avg_age", "n_customers",
        ]
        mt = fs.registry.get("metrics", "AGE_PER_CUSTOMER")
        assert mt["type_params"] == {
            "numerator": "avg_age", "denominator": "n_customers",
        }
        # list APIs
        sems = {r["NAME"]: r for r in fs.list_semantic_models().collect()}
        assert sems["CUSTOMERS_SEM"]["N_MEASURES"] == 2
        mets = {r["NAME"]: r for r in fs.list_metrics().collect()}
        assert mets["DOUBLE_AGE"]["TYPE"] == "derived"

    def test_unknown_model_ref_fails_loudly(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark import load_semantic_layer

        yml = self.YML.replace(
            "ref('test_base_customer_features')", "ref('nope')"
        )
        proj = self._proj(fs, tmp_path, base_table, yml)
        with pytest.raises(ValidationError, match="ref\\('nope'\\)"):
            load_semantic_layer(fs, proj)

    def test_unknown_measure_fails_loudly(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark import load_semantic_layer

        yml = self.YML.replace("measure: avg_age", "measure: no_such")
        proj = self._proj(fs, tmp_path, base_table, yml)
        with pytest.raises(ValidationError, match="no_such"):
            load_semantic_layer(fs, proj)

    def test_unknown_derived_input_fails_loudly(
        self, fs, tmp_path, base_table
    ):
        from dbt_snowflake_feature_store_spark import load_semantic_layer

        yml = self.YML.replace("- average_age", "- not_a_metric")
        proj = self._proj(fs, tmp_path, base_table, yml)
        with pytest.raises(ValidationError, match="not_a_metric"):
            load_semantic_layer(fs, proj)

    def test_bad_metric_type_fails_loudly(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark import load_semantic_layer

        yml = self.YML.replace("type: simple", "type: bogus")
        proj = self._proj(fs, tmp_path, base_table, yml)
        with pytest.raises(ValidationError, match="bogus"):
            load_semantic_layer(fs, proj)

    def test_two_primary_entities_fail_loudly(
        self, fs, tmp_path, base_table
    ):
        # r15 (ADVICE r14 #2): at most ONE primary entity per semantic
        # model — the entity-path planner's N:1 left-join contract
        # rides the primary key's per-row uniqueness
        from dbt_snowflake_feature_store_spark import load_semantic_layer

        yml = self.YML.replace(
            "      - name: customer\n        type: primary\n",
            "      - name: customer\n        type: primary\n"
            "      - name: country_e\n        type: primary\n"
            "        expr: country\n",
        )
        proj = self._proj(fs, tmp_path, base_table, yml)
        with pytest.raises(ValidationError, match="primary entities"):
            load_semantic_layer(fs, proj)

    def test_unique_entity_allowed(self, fs, tmp_path, base_table):
        # type: unique coexists with a primary (both are join targets
        # for the entity-path planner)
        from dbt_snowflake_feature_store_spark import load_semantic_layer

        yml = self.YML.replace(
            "      - name: customer\n        type: primary\n",
            "      - name: customer\n        type: primary\n"
            "      - name: country_e\n        type: unique\n"
            "        expr: country\n",
        )
        proj = self._proj(fs, tmp_path, base_table, yml)
        report = load_semantic_layer(fs, proj)
        assert report["semantic_models"] == ["CUSTOMERS_SEM"]

    def test_manifest_carries_semantic_nodes(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark import export_manifest

        proj = self._proj(fs, tmp_path, base_table)
        man = export_manifest(fs, proj)
        sem_uid = "semantic_model.project.CUSTOMERS_SEM"
        assert man["nodes"][sem_uid]["resource_type"] == "semantic_model"
        assert man["parent_map"][sem_uid] == [
            "model.project.test_base_customer_features"
        ]
        assert man["parent_map"]["metric.project.AVERAGE_AGE"] == [sem_uid]
        assert man["parent_map"]["metric.project.DOUBLE_AGE"] == [
            "metric.project.AVERAGE_AGE"
        ]
        assert set(
            man["parent_map"]["metric.project.AGE_PER_CUSTOMER"]
        ) == {sem_uid}


class TestEvaluateMetric:
    """r13: evaluate_metric compiles registered simple/ratio/derived/
    cumulative metrics into Spark queries (VERDICT r12 next #2 —
    MetricFlow-shaped evaluation over the registered semantic layer).
    Values pinned against the 3-row base_table by hand."""

    YML = """\
version: 2

semantic_models:
  - name: customers_sem
    model: ref('test_base_customer_features')
    entities:
      - name: customer
        type: primary
        expr: customer_id
    dimensions:
      - name: country
        type: categorical
        expr: f_base_country
      - name: tier_dim
        type: categorical
        expr: f_base_tier
      - name: updated_at
        type: time
    measures:
      - name: total_age
        agg: sum
        expr: f_base_age
      - name: mean_age
        agg: average
        expr: f_base_age
      - name: n_customers
        agg: count
        expr: customer_id
      - name: n_tiers
        agg: count_distinct
        expr: f_base_tier
      - name: gold_ids
        agg: count
        expr: CASE WHEN f_base_tier = 'gold' THEN customer_id END
      - name: min_age
        agg: min
        expr: f_base_age
      - name: max_age
        agg: max
        expr: f_base_age
  - name: static_sem
    model: ref('test_static_customer_features')
    entities:
      - name: customer
        type: foreign
        expr: customer_id
    dimensions:
      - name: country
        type: categorical
        expr: f_country
    measures:
      - name: static_age
        agg: sum
        expr: f_age

metrics:
  - name: total_age_m
    type: simple
    type_params:
      measure: total_age
  - name: mean_age_m
    type: simple
    type_params:
      measure: mean_age
  - name: tier_variety
    type: simple
    type_params:
      measure: n_tiers
  - name: age_per_customer
    type: ratio
    type_params:
      numerator: total_age
      denominator: n_customers
  - name: age_vs_static
    type: ratio
    type_params:
      numerator: total_age
      denominator: static_age
  - name: age_vs_static_f
    type: ratio
    type_params:
      numerator: total_age
      denominator: static_age
    filter: f_base_age > 0
  - name: double_age
    type: derived
    type_params:
      metrics:
        - total_age_m
      expr: total_age_m * 2
  - name: alias_age
    type: derived
    type_params:
      metrics:
        - total_age_m
  - name: age_dod
    type: derived
    type_params:
      expr: cur_age - prev_age
      metrics:
        - name: total_age_m
          alias: cur_age
        - name: total_age_m
          alias: prev_age
          offset_window: 1 day
  - name: cum_min_age
    type: cumulative
    type_params:
      measure: min_age
  - name: cum_max_age
    type: cumulative
    type_params:
      measure: max_age
  - name: cum_mean_age
    type: cumulative
    type_params:
      measure: mean_age
  - name: cum_age
    type: cumulative
    type_params:
      measure: total_age
  - name: win_age
    type: cumulative
    type_params:
      measure: total_age
      window: 1 day
  - name: wk_age
    type: cumulative
    type_params:
      measure: total_age
      window: 1 week
  - name: mon_age
    type: cumulative
    type_params:
      measure: total_age
      window: 1 month
  - name: dtd_age
    type: cumulative
    type_params:
      measure: total_age
      grain_to_date: day
  - name: mtd_age
    type: cumulative
    type_params:
      measure: total_age
      grain_to_date: month
  - name: signup_conv
    type: conversion
    type_params:
      conversion_type_params:
        base_measure: n_customers
        conversion_measure: gold_ids
        entity: customer
  - name: signup_conv_n
    type: conversion
    type_params:
      conversion_type_params:
        base_measure: n_customers
        conversion_measure: gold_ids
        entity: customer
        calculation: conversions
        window: 1 day
  - name: adult_age
    type: simple
    type_params:
      measure: total_age
    filter: f_base_age >= 30
  - name: de_age
    type: simple
    type_params:
      measure: total_age
    filter: f_base_country = 'DE'
  - name: age_spine
    type: simple
    type_params:
      measure:
        name: total_age
        join_to_timespine: true
        fill_nulls_with: 0
  - name: static_by_tier
    type: simple
    type_params:
      measure: static_age
  - name: us_age_tpl
    type: simple
    type_params:
      measure: total_age
    filter: "{{ Dimension('country') }} = 'US'"
  - name: gold_static_age
    type: simple
    type_params:
      measure: static_age
    filter: "{{ Dimension('customer__tier_dim') }} = 'gold'"
  - name: late_age_tpl
    type: simple
    type_params:
      measure: total_age
    filter: "{{ TimeDimension('metric_time', 'day') }} >=
      TIMESTAMP '2024-01-02'"
  - name: small_id_age
    type: simple
    type_params:
      measure: total_age
    filter: "{{ Entity('customer') }} <= 2"
  - name: gold_conv_evt
    type: conversion
    type_params:
      conversion_type_params:
        base_measure: n_customers
        conversion_measure: gold_ids
        entity: customer
        attribution: event
  - name: gold_conv_evt_n
    type: conversion
    type_params:
      conversion_type_params:
        base_measure: n_customers
        conversion_measure: gold_ids
        entity: customer
        attribution: event
        calculation: conversions
        window: 1 day

saved_queries:
  - name: country_kpis
    description: total vs DE-only age by country
    query_params:
      metrics: [total_age_m, de_age]
      group_by: [country]
      where: TOTAL_AGE_M > 0
  - name: daily_age
    query_params:
      metrics: [total_age_m]
      group_by: [metric_time__day]
"""

    def _loaded(self, fs, tmp_path, base_table):
        proj = _write_project(
            tmp_path, {**REFERENCE_PROJECT, "schema.yml": self.YML}
        )
        fs.register_source("customer_base_table", base_table)
        load_project(fs, proj)
        return proj

    def test_simple_by_dimension(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark import evaluate_metric

        self._loaded(fs, tmp_path, base_table)
        rows = {
            r["country"]: r["TOTAL_AGE_M"]
            for r in evaluate_metric(
                fs, "total_age_m", group_by=["country"]
            ).collect()
        }
        assert rows == {"US": 23 + 61, "DE": 35}
        # no group_by → one global row
        glob = evaluate_metric(fs, "total_age_m").collect()
        assert len(glob) == 1 and glob[0]["TOTAL_AGE_M"] == 119

    def test_average_ratio_and_count_distinct(
        self, fs, tmp_path, base_table
    ):
        from dbt_snowflake_feature_store_spark import evaluate_metric

        self._loaded(fs, tmp_path, base_table)
        mean = {
            r["country"]: r["MEAN_AGE_M"]
            for r in evaluate_metric(
                fs, "mean_age_m", group_by=["country"]
            ).collect()
        }
        assert mean == {"US": 42.0, "DE": 35.0}
        ratio = {
            r["country"]: r["AGE_PER_CUSTOMER"]
            for r in evaluate_metric(
                fs, "age_per_customer", group_by=["country"]
            ).collect()
        }
        assert ratio == {"US": 42.0, "DE": 35.0}
        tiers = {
            r["country"]: r["TIER_VARIETY"]
            for r in evaluate_metric(
                fs, "tier_variety", group_by=["country"]
            ).collect()
        }
        assert tiers == {"US": 2, "DE": 1}

    def test_derived_expr_and_identity(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark import evaluate_metric

        self._loaded(fs, tmp_path, base_table)
        dbl = {
            r["country"]: r["DOUBLE_AGE"]
            for r in evaluate_metric(
                fs, "double_age", group_by=["country"]
            ).collect()
        }
        assert dbl == {"US": 168, "DE": 70}
        ident = {
            r["country"]: r["ALIAS_AGE"]
            for r in evaluate_metric(
                fs, "alias_age", group_by=["country"]
            ).collect()
        }
        assert ident == {"US": 84, "DE": 35}

    def test_cumulative_needs_and_uses_grain(
        self, fs, tmp_path, base_table
    ):
        from dbt_snowflake_feature_store_spark import evaluate_metric

        self._loaded(fs, tmp_path, base_table)
        with pytest.raises(ValidationError, match="time_grain"):
            evaluate_metric(fs, "cum_age")
        rows = (
            evaluate_metric(fs, "cum_age", time_grain="day")
            .orderBy("metric_time")
            .collect()
        )
        assert [r["CUM_AGE"] for r in rows] == [58, 119]
        assert rows[0]["metric_time"].day == 1

    def test_cumulative_window_and_grain_to_date(
        self, fs, tmp_path, base_table
    ):
        """dbt cumulative `window:` / `grain_to_date:` (r13): a trailing
        '1 day' window keeps only each day's own grain row (vs the
        unbounded cum's [58, 119]); grain_to_date restarts accumulation
        at each reset-grain boundary (day-to-date at day grain = every
        partition restarts; month-to-date over the one-month fixture
        equals the unbounded cum). Multi-month boundary behavior is
        hash-gated by the q_metric_window oracle key."""
        from dbt_snowflake_feature_store_spark import evaluate_metric

        self._loaded(fs, tmp_path, base_table)

        def _vals(name):
            return [
                r[name.upper()]
                for r in evaluate_metric(fs, name, time_grain="day")
                .orderBy("metric_time")
                .collect()
            ]

        assert _vals("win_age") == [58, 61]
        assert _vals("dtd_age") == [58, 61]
        assert _vals("mtd_age") == [58, 119]

    def test_cumulative_min_max_and_average_refusal(
        self, fs, tmp_path, base_table
    ):
        """r16 (VERDICT-r15 missing #4): the cumulative accumulator
        follows the measure's own agg — min-of-mins / max-of-maxes,
        never a silent SUM of per-grain extrema; a cumulative over an
        AVERAGE measure refuses loudly (per-grain means don't
        compose)."""
        from dbt_snowflake_feature_store_spark import evaluate_metric

        self._loaded(fs, tmp_path, base_table)

        def _vals(name):
            return [
                r[name.upper()]
                for r in evaluate_metric(fs, name, time_grain="day")
                .orderBy("metric_time")
                .collect()
            ]

        # day mins [23, 61] -> running min [23, 23];
        # day maxes [35, 61] -> running max [35, 61]
        assert _vals("cum_min_age") == [23, 23]
        assert _vals("cum_max_age") == [35, 61]
        with pytest.raises(ValidationError, match="sum/count/min/max"):
            evaluate_metric(fs, "cum_mean_age", time_grain="day")
        # reset grain finer than the evaluation grain is refused
        with pytest.raises(ValidationError, match="finer"):
            evaluate_metric(fs, "dtd_age", time_grain="month")

    def test_derived_offset_window_and_alias(
        self, fs, tmp_path, base_table
    ):
        """r13: derived inputs take alias: (the name the expr sees) and
        offset_window: '<N> <grain>' (MetricFlow period-over-period —
        the input's value from N grains earlier aligns with each
        metric_time row). age_dod references total_age_m TWICE under
        different aliases, one shifted by 1 day: day-grain totals are
        [58, 61], so only day 2 survives the inner join, with
        61 − 58 = 3. Offset without time_grain is refused at eval."""
        from dbt_snowflake_feature_store_spark import evaluate_metric

        self._loaded(fs, tmp_path, base_table)
        rows = (
            evaluate_metric(fs, "age_dod", time_grain="day")
            .orderBy("metric_time")
            .collect()
        )
        assert [(r["metric_time"].day, r["AGE_DOD"]) for r in rows] == [
            (2, 3)
        ]
        with pytest.raises(ValidationError, match="offset_window"):
            evaluate_metric(fs, "age_dod")

    def test_derived_offset_load_validation(
        self, fs, tmp_path, base_table
    ):
        """Loader contract (r13): offset_window must be
        '<N> day|week|month|quarter|year[s]'; two inputs landing on the
        same effective name (same metric twice without aliases) fail
        loudly."""
        from dbt_snowflake_feature_store_spark import load_semantic_layer

        proj = self._loaded(fs, tmp_path, base_table)
        import os as _os

        base_block = """  - name: age_dod
    type: derived
    type_params:
      expr: cur_age - prev_age
      metrics:
        - name: total_age_m
          alias: cur_age
        - name: total_age_m
          alias: prev_age
          offset_window: 1 day
"""

        def _reload_with(block):
            with open(_os.path.join(proj, "schema.yml"), "w") as f:
                f.write(self.YML.replace(base_block, block))
            load_semantic_layer(fs, proj)

        with pytest.raises(ValidationError, match="offset_window"):
            _reload_with(
                """  - name: age_dod
    type: derived
    type_params:
      expr: cur_age - prev_age
      metrics:
        - name: total_age_m
          alias: cur_age
        - name: total_age_m
          alias: prev_age
          offset_window: 90 minutes
"""
            )
        with pytest.raises(ValidationError, match="appears twice"):
            _reload_with(
                """  - name: age_dod
    type: derived
    type_params:
      expr: total_age_m * 2
      metrics:
        - total_age_m
        - name: total_age_m
          offset_window: 1 day
"""
            )

    def test_saved_query_full_outer_and_where(
        self, fs, tmp_path, base_table
    ):
        """r13: evaluate_saved_query compiles a registered
        saved_queries: entry — metrics FULL-OUTER join on the group
        keys (US has no DE-filtered age → NULL, the row an inner join
        would drop), the where: predicate runs over the joined output,
        and metric_time__<grain> group_by entries request the time
        grain."""
        from dbt_snowflake_feature_store_spark import (
            evaluate_saved_query,
        )

        self._loaded(fs, tmp_path, base_table)
        rows = {
            r["country"]: (r["TOTAL_AGE_M"], r["DE_AGE"])
            for r in evaluate_saved_query(fs, "country_kpis").collect()
        }
        assert rows == {"US": (84, None), "DE": (35, 35)}
        daily = (
            evaluate_saved_query(fs, "daily_age")
            .orderBy("metric_time")
            .collect()
        )
        assert [r["TOTAL_AGE_M"] for r in daily] == [58, 61]
        with pytest.raises(ValidationError, match="not registered"):
            evaluate_saved_query(fs, "no_such_query")

    def test_join_to_timespine_grouped_fill(
        self, fs, tmp_path, base_table
    ):
        """r13: measure-input join_to_timespine/fill_nulls_with — the
        grain spine crosses with the OBSERVED group combinations, so
        DE (which only has a day-1 row) gains a zero-filled day-2 row;
        timespine without time_grain is refused. Gap-month carry-over
        of the cumulative variant is hash-gated by q_metric_timespine."""
        from dbt_snowflake_feature_store_spark import evaluate_metric

        self._loaded(fs, tmp_path, base_table)
        rows = {
            (r["country"], r["metric_time"].day): r["AGE_SPINE"]
            for r in evaluate_metric(
                fs, "age_spine", group_by=["country"], time_grain="day"
            ).collect()
        }
        assert rows == {
            ("US", 1): 23, ("US", 2): 61, ("DE", 1): 35, ("DE", 2): 0,
        }
        with pytest.raises(ValidationError, match="join_to_timespine"):
            evaluate_metric(fs, "age_spine", group_by=["country"])

    def test_timespine_load_validation(self, fs, tmp_path, base_table):
        """Loader contract (r13): fill_nulls_with must be an integer;
        join_to_timespine/fill_nulls_with refused on ratio measures."""
        from dbt_snowflake_feature_store_spark import load_semantic_layer

        proj = self._loaded(fs, tmp_path, base_table)
        import os as _os

        base_block = """  - name: de_age
    type: simple
    type_params:
      measure: total_age
    filter: f_base_country = 'DE'
"""

        def _reload_with(block):
            with open(_os.path.join(proj, "schema.yml"), "w") as f:
                f.write(self.YML.replace(base_block, block))
            load_semantic_layer(fs, proj)

        with pytest.raises(ValidationError, match="integer"):
            _reload_with(
                """  - name: de_age
    type: simple
    type_params:
      measure:
        name: total_age
        fill_nulls_with: zero
"""
            )
        with pytest.raises(ValidationError, match="simple/"):
            _reload_with(
                """  - name: de_age
    type: ratio
    type_params:
      numerator:
        name: total_age
        join_to_timespine: true
      denominator: n_customers
"""
            )

    def test_saved_query_load_validation(
        self, fs, tmp_path, base_table
    ):
        """Loader contract (r13): saved queries fail loudly on unknown
        metrics, bad metric_time grains, and bare metric_time."""
        from dbt_snowflake_feature_store_spark import load_semantic_layer

        proj = self._loaded(fs, tmp_path, base_table)
        import os as _os

        base_block = """saved_queries:
  - name: country_kpis
"""

        def _reload_with(block):
            with open(_os.path.join(proj, "schema.yml"), "w") as f:
                f.write(self.YML.replace(base_block, block))
            load_semantic_layer(fs, proj)

        with pytest.raises(ValidationError, match="not declared"):
            _reload_with(
                """saved_queries:
  - name: bad_q
    query_params:
      metrics: [no_such_metric]
  - name: country_kpis
"""
            )
        with pytest.raises(ValidationError, match="grain must be"):
            _reload_with(
                """saved_queries:
  - name: bad_q
    query_params:
      metrics: [total_age_m]
      group_by: [metric_time__hourly]
  - name: country_kpis
"""
            )
        with pytest.raises(ValidationError, match="metric_time__"):
            _reload_with(
                """saved_queries:
  - name: bad_q
    query_params:
      metrics: [total_age_m]
      group_by: [metric_time]
  - name: country_kpis
"""
            )

    def test_saved_query_exports(self, fs, tmp_path, base_table):
        """r15 (VERDICT-r14 #5): dbt 1.7 saved-query exports — a table
        export materializes through the TableFormat's crash-safe swap
        and survives reopening the store; a view export registers a
        session view; refusals name the defect."""
        import os as _os

        from dbt_snowflake_feature_store_spark import (
            FeatureStore,
            evaluate_saved_query,
            export_saved_query,
            load_semantic_layer,
            read_saved_export,
        )

        proj = self._loaded(fs, tmp_path, base_table)
        with open(_os.path.join(proj, "schema.yml")) as f:
            yml = f.read()
        yml = yml.replace(
            "      where: TOTAL_AGE_M > 0\n",
            "      where: TOTAL_AGE_M > 0\n"
            "    exports:\n"
            "      - name: kpis_tbl\n"
            "        config:\n"
            "          export_as: table\n"
            "          schema: marts\n"
            "          alias: kpi_table\n"
            "      - name: kpis_view\n"
            "        config:\n"
            "          export_as: view\n",
        )
        with open(_os.path.join(proj, "schema.yml"), "w") as f:
            f.write(yml)
        load_semantic_layer(fs, proj)
        res = export_saved_query(fs, "country_kpis")
        by_name = {r["name"]: r for r in res}
        assert by_name["KPIS_TBL"]["export_as"] == "table"
        assert by_name["KPIS_TBL"]["rows"] == 2
        assert by_name["KPIS_VIEW"]["rows"] is None
        # the view is queryable in-session under schema__alias
        v = fs.spark.sql("SELECT * FROM EXPORTS__KPIS_VIEW").collect()
        assert len(v) == 2
        # table round-trip matches the live evaluation
        live = {
            (r["country"], r["TOTAL_AGE_M"])
            for r in evaluate_saved_query(fs, "country_kpis").collect()
        }
        exported = {
            (r["country"], r["TOTAL_AGE_M"])
            for r in read_saved_export(fs, "kpis_tbl").collect()
        }
        assert exported == live
        # persistence: a SECOND store instance on the same root reads
        # the materialized table without re-evaluating
        fs2 = FeatureStore(fs.spark, fs.root, name="Q_FS2")
        assert read_saved_export(fs2, "kpis_tbl").count() == 2
        # refusals
        with pytest.raises(ValidationError, match="no export"):
            export_saved_query(fs, "country_kpis", "nope")
        with pytest.raises(ValidationError, match="no exports"):
            export_saved_query(fs, "daily_age")
        with pytest.raises(ValidationError, match="does not exist"):
            read_saved_export(fs, "never_exported")

    def test_saved_query_order_by_limit(self, fs, tmp_path, base_table):
        """r15: dbt 1.7 query_params order_by ('-col' descending,
        validated against the output columns) + limit; bad entries
        refuse at load."""
        import os as _os

        from dbt_snowflake_feature_store_spark import (
            evaluate_saved_query,
            load_semantic_layer,
        )

        proj = self._loaded(fs, tmp_path, base_table)
        with open(_os.path.join(proj, "schema.yml")) as f:
            base = f.read()

        def _reload_with(extra):
            yml = base.replace(
                "      where: TOTAL_AGE_M > 0\n",
                "      where: TOTAL_AGE_M > 0\n" + extra,
            )
            with open(_os.path.join(proj, "schema.yml"), "w") as f:
                f.write(yml)
            load_semantic_layer(fs, proj)

        _reload_with(
            "      order_by: ['-total_age_m', country]\n"
            "      limit: 1\n"
        )
        rows = evaluate_saved_query(fs, "country_kpis").collect()
        assert len(rows) == 1
        assert rows[0]["country"] == "US"  # 84 > 35
        with pytest.raises(ValidationError, match="names no output"):
            _reload_with("      order_by: [no_such_col]\n")
        with pytest.raises(ValidationError, match="positive integer"):
            _reload_with("      limit: 0\n")

    def test_saved_query_exports_load_validation(
        self, fs, tmp_path, base_table
    ):
        """export_as: cache / unknown config keys / duplicate export
        names refuse at load."""
        import os as _os

        from dbt_snowflake_feature_store_spark import load_semantic_layer

        proj = self._loaded(fs, tmp_path, base_table)
        with open(_os.path.join(proj, "schema.yml")) as f:
            base = f.read()

        def _reload_with(exports_block):
            yml = base.replace(
                "      where: TOTAL_AGE_M > 0\n",
                "      where: TOTAL_AGE_M > 0\n" + exports_block,
            )
            with open(_os.path.join(proj, "schema.yml"), "w") as f:
                f.write(yml)
            load_semantic_layer(fs, proj)

        with pytest.raises(ValidationError, match="'cache' is"):
            _reload_with(
                "    exports:\n"
                "      - name: c\n"
                "        config:\n"
                "          export_as: cache\n"
            )
        with pytest.raises(ValidationError, match="unknown config"):
            _reload_with(
                "    exports:\n"
                "      - name: c\n"
                "        config:\n"
                "          export_as: table\n"
                "          database: nope\n"
            )
        with pytest.raises(ValidationError, match="duplicate export"):
            _reload_with(
                "    exports:\n"
                "      - name: c\n"
                "        config: {export_as: table}\n"
                "      - name: c\n"
                "        config: {export_as: view}\n"
            )
        with pytest.raises(ValidationError, match="needs a name"):
            _reload_with(
                "    exports:\n"
                "      - config: {export_as: table}\n"
            )

    def test_cumulative_window_load_validation(
        self, fs, tmp_path, base_table
    ):
        """Loader contract (r13): window XOR grain_to_date; window must
        be '<N> days'; grain_to_date must be a known grain."""
        from dbt_snowflake_feature_store_spark import load_semantic_layer

        proj = self._loaded(fs, tmp_path, base_table)
        import os as _os

        base_block = """  - name: win_age
    type: cumulative
    type_params:
      measure: total_age
      window: 1 day
"""

        def _reload_with(block):
            with open(_os.path.join(proj, "schema.yml"), "w") as f:
                f.write(self.YML.replace(base_block, block))
            load_semantic_layer(fs, proj)

        with pytest.raises(ValidationError, match="not both"):
            _reload_with(
                """  - name: win_age
    type: cumulative
    type_params:
      measure: total_age
      window: 1 day
      grain_to_date: month
"""
            )
        with pytest.raises(ValidationError, match="must be"):
            _reload_with(
                """  - name: win_age
    type: cumulative
    type_params:
      measure: total_age
      window: 2 hours
"""
            )
        with pytest.raises(ValidationError, match="grain_to_date"):
            _reload_with(
                """  - name: win_age
    type: cumulative
    type_params:
      measure: total_age
      grain_to_date: hourly
"""
            )

    def test_metric_filter_applies_and_derived_refuses(
        self, fs, tmp_path, base_table
    ):
        from dbt_snowflake_feature_store_spark import evaluate_metric

        proj = self._loaded(fs, tmp_path, base_table)
        rows = {
            r["country"]: r["ADULT_AGE"]
            for r in evaluate_metric(
                fs, "adult_age", group_by=["country"]
            ).collect()
        }
        # age 23 (US) filtered out pre-aggregation
        assert rows == {"US": 61, "DE": 35}
        # derived metrics refuse filter: at LOAD time
        import os as _os

        bad = self.YML.replace(
            """  - name: alias_age
    type: derived
    type_params:
      metrics:
        - total_age_m
""",
            """  - name: alias_age
    type: derived
    type_params:
      metrics:
        - total_age_m
    filter: f_base_age >= 30
""",
        )
        with open(_os.path.join(proj, "schema.yml"), "w") as f:
            f.write(bad)
        from dbt_snowflake_feature_store_spark import load_semantic_layer

        with pytest.raises(ValidationError, match="cannot carry"):
            load_semantic_layer(fs, proj)

    def test_validation_errors(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark import evaluate_metric

        self._loaded(fs, tmp_path, base_table)
        with pytest.raises(ValidationError, match="not registered"):
            evaluate_metric(fs, "no_such_metric")
        with pytest.raises(ValidationError, match="tier"):
            evaluate_metric(fs, "total_age_m", group_by=["tier"])
        with pytest.raises(ValidationError, match="time_grain must be"):
            evaluate_metric(fs, "total_age_m", time_grain="hourly")
        with pytest.raises(ValidationError, match="no time dimension"):
            evaluate_metric(
                fs, "total_age_m", time_grain="day", time_dimension="nope"
            )
        with pytest.raises(ValidationError, match="named 'nope'"):
            evaluate_metric(
                fs, "signup_conv", time_dimension="nope"
            )

    def test_conversion_first_touch(self, fs, tmp_path, base_table):
        """r13: conversion metrics evaluate at entity grain with
        first-touch attribution: customer 1 is the only gold row, so
        1 of 3 customers converts; by country the US cohort is 1/2 and
        DE 0/1. calculation='conversions' with a 1-day window counts
        the converting entity (same-instant conversion is inclusive)."""
        from dbt_snowflake_feature_store_spark import evaluate_metric

        self._loaded(fs, tmp_path, base_table)
        one = evaluate_metric(fs, "signup_conv").collect()
        assert len(one) == 1
        assert abs(one[0]["SIGNUP_CONV"] - 1.0 / 3.0) < 1e-12
        by_c = {
            r["country"]: r["SIGNUP_CONV"]
            for r in evaluate_metric(
                fs, "signup_conv", group_by=["country"]
            ).collect()
        }
        assert by_c == {"US": 0.5, "DE": 0.0}
        n = evaluate_metric(fs, "signup_conv_n").collect()
        assert n[0]["SIGNUP_CONV_N"] == 1
        # time_grain: metric_time is the first-base-event day
        days = evaluate_metric(
            fs, "signup_conv_n", time_grain="day"
        ).collect()
        got = {
            str(r["metric_time"]): r["SIGNUP_CONV_N"] for r in days
        }
        assert got == {
            "2024-01-01 00:00:00": 1,
            "2024-01-02 00:00:00": 0,
        }

    def test_cross_model_ratio(self, fs, tmp_path, base_table):
        """r13: a ratio whose numerator and denominator live in
        DIFFERENT semantic models evaluates each side on its own model
        and joins on the requested keys: total_age (customers_sem,
        23+35+61=119) / static_age (static_sem, 25) = 4.76; grouped by
        the shared `country` name the US cohort is 84/25 and DE drops
        (inner join — static_sem has no DE row). A metric-level filter
        is refused as ambiguous."""
        from dbt_snowflake_feature_store_spark import evaluate_metric

        self._loaded(fs, tmp_path, base_table)
        one = evaluate_metric(fs, "age_vs_static").collect()
        assert len(one) == 1
        assert abs(one[0]["AGE_VS_STATIC"] - 119.0 / 25.0) < 1e-12
        by_c = {
            r["country"]: r["AGE_VS_STATIC"]
            for r in evaluate_metric(
                fs, "age_vs_static", group_by=["country"]
            ).collect()
        }
        assert by_c == {"US": 84.0 / 25.0}
        with pytest.raises(ValidationError, match="cannot carry filter"):
            evaluate_metric(fs, "age_vs_static_f")

    def test_conversion_load_validation(self, fs, tmp_path, base_table):
        """r13: the loader rejects malformed conversion specs loudly —
        missing conversion_type_params (the pre-r13 invented shape),
        unknown calculation, undeclared entity."""
        from dbt_snowflake_feature_store_spark.models import (
            load_semantic_layer,
        )

        proj = self._loaded(fs, tmp_path, base_table)

        def _with(repl: str) -> str:
            import os as _os

            bad = TestEvaluateMetric.YML.replace(
                """      conversion_type_params:
        base_measure: n_customers
        conversion_measure: gold_ids
        entity: customer
  - name: signup_conv_n""",
                repl + "\n  - name: signup_conv_n",
            )
            with open(_os.path.join(proj, "schema.yml"), "w") as f:
                f.write(bad)
            return proj

        with pytest.raises(
            ValidationError, match="conversion_type_params"
        ):
            load_semantic_layer(
                fs, _with("      measure: n_customers"), dry_run=True
            )
        with pytest.raises(ValidationError, match="calculation"):
            load_semantic_layer(
                fs,
                _with(
                    """      conversion_type_params:
        base_measure: n_customers
        conversion_measure: gold_ids
        entity: customer
        calculation: nope"""
                ),
                dry_run=True,
            )
        with pytest.raises(ValidationError, match="entity 'nobody'"):
            load_semantic_layer(
                fs,
                _with(
                    """      conversion_type_params:
        base_measure: n_customers
        conversion_measure: gold_ids
        entity: nobody"""
                ),
                dry_run=True,
            )

    def test_model_version_disambiguation(
        self, fs, tmp_path, base_table
    ):
        from dbt_snowflake_feature_store_spark import evaluate_metric
        from dbt_snowflake_feature_store_spark.objects import FeatureView

        self._loaded(fs, tmp_path, base_table)
        fv1 = fs.get_feature_view("TEST_BASE_CUSTOMER_FEATURES", "1.0")
        fs.register_feature_view(
            FeatureView(
                "test_base_customer_features",
                fv1.entities,
                sql=fv1.sql,
            ),
            version="2.0",
        )
        with pytest.raises(ValidationError, match="model_version"):
            evaluate_metric(fs, "total_age_m")
        glob = evaluate_metric(
            fs, "total_age_m", model_version="1.0"
        ).collect()
        assert glob[0]["TOTAL_AGE_M"] == 119
        with pytest.raises(ValidationError, match="no version"):
            evaluate_metric(fs, "total_age_m", model_version="9.9")

    def test_cumulative_week_and_month_windows(
        self, fs, tmp_path, base_table
    ):
        """r14: week windows ride the fixed-length RANGE frame;
        month windows the calendar self-join. Days 01-01 (ages 23+35)
        and 01-02 (61): both 1-week and 1-month trailing windows give
        58 then 119 (vs the 1-day window's 58 then 61)."""
        from dbt_snowflake_feature_store_spark import evaluate_metric

        self._loaded(fs, tmp_path, base_table)
        wk = {
            r["metric_time"].day: r["WK_AGE"]
            for r in evaluate_metric(
                fs, "wk_age", time_grain="day"
            ).collect()
        }
        assert wk == {1: 58, 2: 119}
        mo = {
            r["metric_time"].day: r["MON_AGE"]
            for r in evaluate_metric(
                fs, "mon_age", time_grain="day"
            ).collect()
        }
        assert mo == {1: 58, 2: 119}
        by_c = {
            (r["country"], r["metric_time"].day): r["MON_AGE"]
            for r in evaluate_metric(
                fs, "mon_age", time_grain="day", group_by=["country"]
            ).collect()
        }
        assert by_c == {
            ("US", 1): 23,
            ("US", 2): 84,
            ("DE", 1): 35,
        }

    def test_entity_path_group_by(self, fs, tmp_path, base_table):
        """r14 (VERDICT-r13 #4): `<entity>__<dimension>` group_by pulls
        a dimension across semantic models through the shared entity —
        static_sem declares `customer` (foreign); customers_sem
        declares it PRIMARY plus `tier_dim`, so static_age groups by
        the pulled tier. The static model's single row is customer 1
        (gold, age 25). The primary-entity prefix of a LOCAL dimension
        resolves locally (no join)."""
        from dbt_snowflake_feature_store_spark import evaluate_metric

        self._loaded(fs, tmp_path, base_table)
        rows = {
            r["customer__tier_dim"]: r["STATIC_BY_TIER"]
            for r in evaluate_metric(
                fs, "static_by_tier", group_by=["customer__tier_dim"]
            ).collect()
        }
        assert rows == {"gold": 25}
        local = {
            r["customer__country"]: r["TOTAL_AGE_M"]
            for r in evaluate_metric(
                fs, "total_age_m", group_by=["customer__country"]
            ).collect()
        }
        assert local == {"US": 84, "DE": 35}

    def test_entity_path_errors(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark import evaluate_metric

        self._loaded(fs, tmp_path, base_table)
        with pytest.raises(ValidationError, match="reaches through"):
            evaluate_metric(
                fs, "static_by_tier", group_by=["nosuch__tier_dim"]
            )
        with pytest.raises(
            ValidationError, match="needs exactly one"
        ):
            evaluate_metric(
                fs, "static_by_tier", group_by=["customer__nosuchdim"]
            )
        # multi-hop (r14 late): a missing BRIDGE entity names itself
        with pytest.raises(ValidationError, match="bridge entity"):
            evaluate_metric(
                fs, "static_by_tier", group_by=["customer__bogus__x"]
            )

    def test_templated_filters(self, fs, tmp_path, base_table):
        """r14 (VERDICT-r13 #5): dbt's real `filter:` templating —
        local Dimension, entity-path Dimension (forces the planner
        join), TimeDimension('metric_time', grain) and Entity all
        resolve against the registered semantic model."""
        from dbt_snowflake_feature_store_spark import evaluate_metric

        self._loaded(fs, tmp_path, base_table)
        assert (
            evaluate_metric(fs, "us_age_tpl").collect()[0]["US_AGE_TPL"]
            == 84
        )
        assert (
            evaluate_metric(fs, "gold_static_age").collect()[0][
                "GOLD_STATIC_AGE"
            ]
            == 25
        )
        assert (
            evaluate_metric(fs, "late_age_tpl").collect()[0][
                "LATE_AGE_TPL"
            ]
            == 61
        )
        assert (
            evaluate_metric(fs, "small_id_age").collect()[0][
                "SMALL_ID_AGE"
            ]
            == 58
        )

    def test_tdim_entity_path(self, fs, tmp_path, base_table):
        """r15 (VERDICT-r14 #8 / ADVICE-r14 #1): entity-prefixed
        TimeDimension filter references walk the entity-path planner —
        and refuse non-time targets loudly instead of silently binding
        a local dimension that happens to share the suffix name."""
        from dbt_snowflake_feature_store_spark import evaluate_metric

        self._loaded(fs, tmp_path, base_table)
        # resolves: static_sem metric filtered by customers_sem's
        # `updated_at` (type: time) pulled through the shared customer
        # entity — row-preserving predicate keeps the single static row
        fs.registry.put(
            "metrics",
            "STATIC_TDIM_PATH",
            {
                "name": "STATIC_TDIM_PATH",
                "type": "simple",
                "type_params": {"measure": "static_age"},
                "filter": "{{ TimeDimension('customer__updated_at',"
                " 'year') }} IS NOT NULL",
            },
        )
        assert (
            evaluate_metric(fs, "STATIC_TDIM_PATH").collect()[0][
                "STATIC_TDIM_PATH"
            ]
            == 25
        )
        # refusal: the path resolves to a CATEGORICAL dimension
        fs.registry.put(
            "metrics",
            "STATIC_TDIM_BAD",
            {
                "name": "STATIC_TDIM_BAD",
                "type": "simple",
                "type_params": {"measure": "static_age"},
                "filter": "{{ TimeDimension('customer__tier_dim',"
                " 'day') }} IS NOT NULL",
            },
        )
        with pytest.raises(ValidationError, match="not `type: time`"):
            evaluate_metric(fs, "STATIC_TDIM_BAD")
        # refusal: the path resolves nowhere
        fs.registry.put(
            "metrics",
            "STATIC_TDIM_NONE",
            {
                "name": "STATIC_TDIM_NONE",
                "type": "simple",
                "type_params": {"measure": "static_age"},
                "filter": "{{ TimeDimension('customer__nosuch',"
                " 'day') }} IS NOT NULL",
            },
        )
        with pytest.raises(ValidationError, match="needs exactly one"):
            evaluate_metric(fs, "STATIC_TDIM_NONE")

    def test_conversion_event_grain(self, fs, tmp_path, base_table):
        """r14 (VERDICT-r13 #6): attribution: event — every base event
        counts; each conversion event attributes to the LATEST base
        event of its entity at-or-before it. With one event per
        customer: 1 gold conversion / 3 base events, US cohort 1/2."""
        from dbt_snowflake_feature_store_spark import evaluate_metric

        self._loaded(fs, tmp_path, base_table)
        one = evaluate_metric(fs, "gold_conv_evt").collect()
        assert len(one) == 1
        assert abs(one[0]["GOLD_CONV_EVT"] - 1.0 / 3.0) < 1e-12
        by_c = {
            r["country"]: r["GOLD_CONV_EVT"]
            for r in evaluate_metric(
                fs, "gold_conv_evt", group_by=["country"]
            ).collect()
        }
        assert by_c == {"US": 0.5, "DE": 0.0}
        n = evaluate_metric(fs, "gold_conv_evt_n").collect()
        assert n[0]["GOLD_CONV_EVT_N"] == 1

    def test_offset_to_grain(self, fs, tmp_path, base_table):
        """r14: offset_to_grain joins each row to the input's value at
        the START of its grain period. Days 01-01 (58) / 01-02 (61) vs
        the month-start (01-01) value: deltas 0 and 3."""
        from dbt_snowflake_feature_store_spark import evaluate_metric

        self._loaded(fs, tmp_path, base_table)
        fs.registry.put(
            "metrics",
            "AGE_VS_MSTART",
            {
                "name": "AGE_VS_MSTART",
                "type": "derived",
                "type_params": {
                    "expr": "CUR - MSTART",
                    "metrics": [
                        {"name": "total_age_m", "alias": "CUR"},
                        {
                            "name": "total_age_m",
                            "alias": "MSTART",
                            "offset_to_grain": "month",
                        },
                    ],
                },
            },
        )
        rows = {
            r["metric_time"].day: r["AGE_VS_MSTART"]
            for r in evaluate_metric(
                fs, "AGE_VS_MSTART", time_grain="day"
            ).collect()
        }
        assert rows == {1: 0, 2: 3}
        with pytest.raises(ValidationError, match="needs time_grain"):
            evaluate_metric(fs, "AGE_VS_MSTART")
        fs.registry.put(
            "metrics",
            "ALL_OFFSET",
            {
                "name": "ALL_OFFSET",
                "type": "derived",
                "type_params": {
                    "metrics": [
                        {
                            "name": "total_age_m",
                            "alias": "M1",
                            "offset_to_grain": "month",
                        }
                    ]
                },
            },
        )
        with pytest.raises(ValidationError, match="anchor metric_time"):
            evaluate_metric(fs, "ALL_OFFSET", time_grain="day")
        fs.registry.put(
            "metrics",
            "FINER",
            {
                "name": "FINER",
                "type": "derived",
                "type_params": {
                    "expr": "CUR - DSTART",
                    "metrics": [
                        {"name": "total_age_m", "alias": "CUR"},
                        {
                            "name": "total_age_m",
                            "alias": "DSTART",
                            "offset_to_grain": "day",
                        },
                    ],
                },
            },
        )
        with pytest.raises(ValidationError, match="finer than"):
            evaluate_metric(fs, "FINER", time_grain="month")

    def test_conversion_constant_properties(
        self, fs, tmp_path, base_table
    ):
        """r14: constant_properties restrict attribution to base
        events AGREEING on the property (MetricFlow's same-session
        constraint), in both attribution modes. cid 1 converts with a
        MISMATCHED property (A→B), cid 2 with a matching one (A→A):
        constrained metrics count 1, the unconstrained twin counts 2."""
        from dbt_snowflake_feature_store_spark import evaluate_metric
        from dbt_snowflake_feature_store_spark.objects import (
            Entity,
            FeatureView,
        )

        self._loaded(fs, tmp_path, base_table)
        spark = fs.spark
        spark.createDataFrame(
            [
                (1, "2024-01-01 00:00:00", "A", 1, None),
                (1, "2024-01-02 00:00:00", "B", None, 1),
                (2, "2024-01-01 00:00:00", "A", 1, None),
                (2, "2024-01-02 00:00:00", "A", None, 1),
            ],
            schema="cid int, ts string, prop string, b int, c int",
        ).selectExpr(
            "cid", "CAST(ts AS timestamp) ts", "prop", "b", "c"
        ).createOrReplaceTempView("cp_events")
        fs.register_entity(Entity("cp_cust", ["cid"]))
        fs.register_feature_view(
            FeatureView(
                "cp_model", ["cp_cust"], sql="SELECT * FROM cp_events"
            ),
            version="1.0",
        )
        fs.registry.put(
            "semantic_models",
            "CP_SEM",
            {
                "name": "CP_SEM",
                "model": "CP_MODEL",
                "entities": [
                    {"name": "cp_cust_e", "type": "primary", "expr": "cid"}
                ],
                "dimensions": [
                    {"name": "cp_when", "type": "time", "expr": "ts"},
                    {
                        "name": "cp_prop",
                        "type": "categorical",
                        "expr": "prop",
                    },
                ],
                "measures": [
                    {"name": "cp_base", "agg": "count", "expr": "b"},
                    {"name": "cp_conv", "agg": "count", "expr": "c"},
                ],
            },
        )
        for nm, attrd, cps in [
            ("CPC_EVT", "event", True),
            ("CPC_EVT_ALL", "event", False),
            ("CPC_FT", "first_touch", True),
        ]:
            ctp = {
                "base_measure": "cp_base",
                "conversion_measure": "cp_conv",
                "entity": "cp_cust_e",
                "calculation": "conversions",
                "attribution": attrd,
            }
            if cps:
                ctp["constant_properties"] = [
                    {
                        "base_property": "cp_prop",
                        "conversion_property": "cp_prop",
                    }
                ]
            fs.registry.put(
                "metrics",
                nm,
                {
                    "name": nm,
                    "type": "conversion",
                    "type_params": {"conversion_type_params": ctp},
                },
            )
        assert evaluate_metric(fs, "CPC_EVT").collect()[0]["CPC_EVT"] == 1
        assert (
            evaluate_metric(fs, "CPC_EVT_ALL").collect()[0]["CPC_EVT_ALL"]
            == 2
        )
        assert evaluate_metric(fs, "CPC_FT").collect()[0]["CPC_FT"] == 1
        fs.registry.put(
            "metrics",
            "CPC_BAD",
            {
                "name": "CPC_BAD",
                "type": "conversion",
                "type_params": {
                    "conversion_type_params": {
                        "base_measure": "cp_base",
                        "conversion_measure": "cp_conv",
                        "entity": "cp_cust_e",
                        "constant_properties": [
                            {
                                "base_property": "nope",
                                "conversion_property": "cp_prop",
                            }
                        ],
                    }
                },
            },
        )
        with pytest.raises(ValidationError, match="constant property"):
            evaluate_metric(fs, "CPC_BAD")

    def test_cross_model_conversion(self, fs, tmp_path, base_table):
        """r14: base and conversion measures on DIFFERENT semantic
        models join through the shared entity — the conversion side
        reads its own model via its own entity expr and time
        dimension. 2 base entities, 1 converting via the other model's
        event → rate 0.5 in both attribution modes. Cross-model filter
        refused; a conversion model without the shared entity refused."""
        from dbt_snowflake_feature_store_spark import evaluate_metric
        from dbt_snowflake_feature_store_spark.objects import (
            Entity,
            FeatureView,
        )

        self._loaded(fs, tmp_path, base_table)
        spark = fs.spark
        spark.createDataFrame(
            [(1, "2024-01-01 00:00:00", 1), (2, "2024-01-01 00:00:00", 1)],
            schema="cid int, ts string, b int",
        ).selectExpr(
            "cid", "CAST(ts AS timestamp) ts", "b"
        ).createOrReplaceTempView("xm_base")
        spark.createDataFrame(
            [(1, "2024-01-03 00:00:00", 1)],
            schema="cid2 int, ts2 string, c2 int",
        ).selectExpr(
            "cid2", "CAST(ts2 AS timestamp) ts2", "c2"
        ).createOrReplaceTempView("xm_conv")
        fs.register_entity(Entity("xm_cust", ["cid"]))
        fs.register_entity(Entity("xm_cust2", ["cid2"]))
        fs.register_feature_view(
            FeatureView(
                "xm_base_m", ["xm_cust"], sql="SELECT * FROM xm_base"
            ),
            version="1.0",
        )
        fs.register_feature_view(
            FeatureView(
                "xm_conv_m", ["xm_cust2"], sql="SELECT * FROM xm_conv"
            ),
            version="1.0",
        )
        fs.registry.put(
            "semantic_models",
            "XMB_SEM",
            {
                "name": "XMB_SEM",
                "model": "XM_BASE_M",
                "entities": [
                    {"name": "xm_e", "type": "primary", "expr": "cid"}
                ],
                "dimensions": [
                    {"name": "xm_when", "type": "time", "expr": "ts"}
                ],
                "measures": [
                    {"name": "xm_base_n", "agg": "count", "expr": "b"}
                ],
            },
        )
        fs.registry.put(
            "semantic_models",
            "XMC_SEM",
            {
                "name": "XMC_SEM",
                "model": "XM_CONV_M",
                "entities": [
                    {"name": "xm_e", "type": "foreign", "expr": "cid2"}
                ],
                "dimensions": [
                    {"name": "xm_when2", "type": "time", "expr": "ts2"}
                ],
                "measures": [
                    {"name": "xm_conv_n", "agg": "count", "expr": "c2"}
                ],
            },
        )
        for nm, attrd in [
            ("XM_RATE", "event"),
            ("XM_RATE_FT", "first_touch"),
        ]:
            fs.registry.put(
                "metrics",
                nm,
                {
                    "name": nm,
                    "type": "conversion",
                    "type_params": {
                        "conversion_type_params": {
                            "base_measure": "xm_base_n",
                            "conversion_measure": "xm_conv_n",
                            "entity": "xm_e",
                            "attribution": attrd,
                        }
                    },
                },
            )
        assert evaluate_metric(fs, "XM_RATE").collect()[0]["XM_RATE"] == 0.5
        assert (
            evaluate_metric(fs, "XM_RATE_FT").collect()[0]["XM_RATE_FT"]
            == 0.5
        )
        fs.registry.put(
            "metrics",
            "XM_FLT",
            {
                "name": "XM_FLT",
                "type": "conversion",
                "filter": "b = 1",
                "type_params": {
                    "conversion_type_params": {
                        "base_measure": "xm_base_n",
                        "conversion_measure": "xm_conv_n",
                        "entity": "xm_e",
                    }
                },
            },
        )
        with pytest.raises(
            ValidationError, match="outside a template"
        ):
            evaluate_metric(fs, "XM_FLT")
        # r15: a fully TEMPLATED filter resolves on the BASE side and
        # is accepted on cross-model conversion (row-preserving
        # predicate → same rate as unfiltered)
        fs.registry.put(
            "metrics",
            "XM_FLT_TPL",
            {
                "name": "XM_FLT_TPL",
                "type": "conversion",
                "filter": "{{ Entity('xm_e') }} IS NOT NULL",
                "type_params": {
                    "conversion_type_params": {
                        "base_measure": "xm_base_n",
                        "conversion_measure": "xm_conv_n",
                        "entity": "xm_e",
                    }
                },
            },
        )
        assert (
            evaluate_metric(fs, "XM_FLT_TPL").collect()[0]["XM_FLT_TPL"]
            == 0.5
        )
        fs.registry.put(
            "semantic_models",
            "XMC2_SEM",
            {
                "name": "XMC2_SEM",
                "model": "XM_CONV_M",
                "entities": [],
                "dimensions": [
                    {"name": "w2", "type": "time", "expr": "ts2"}
                ],
                "measures": [
                    {"name": "xm_conv2_n", "agg": "count", "expr": "c2"}
                ],
            },
        )
        fs.registry.put(
            "metrics",
            "XM_NOENT",
            {
                "name": "XM_NOENT",
                "type": "conversion",
                "type_params": {
                    "conversion_type_params": {
                        "base_measure": "xm_base_n",
                        "conversion_measure": "xm_conv2_n",
                        "entity": "xm_e",
                    }
                },
            },
        )
        with pytest.raises(
            ValidationError,
            match="not a declared entity of the conversion",
        ):
            evaluate_metric(fs, "XM_NOENT")

    def test_saved_where_templating(self, fs, tmp_path, base_table):
        """r14: saved-query where templating maps Dimension/Entity
        references onto the saved group_by columns and TimeDimension
        onto metric_time at the saved grain."""
        from dbt_snowflake_feature_store_spark import evaluate_saved_query

        self._loaded(fs, tmp_path, base_table)
        fs.registry.put(
            "saved_queries",
            "TPL_KPIS",
            {
                "name": "TPL_KPIS",
                "metrics": ["total_age_m"],
                "group_by": ["country"],
                "time_grain": "day",
                "where": (
                    "{{ Dimension('customer__country') }} = 'US' AND "
                    "{{ TimeDimension('metric_time', 'day') }} >= "
                    "TIMESTAMP '2024-01-02'"
                ),
            },
        )
        rows = evaluate_saved_query(fs, "TPL_KPIS").collect()
        assert len(rows) == 1
        assert rows[0]["country"] == "US"
        assert rows[0]["TOTAL_AGE_M"] == 61
        fs.registry.put(
            "saved_queries",
            "TPL_BAD",
            {
                "name": "TPL_BAD",
                "metrics": ["total_age_m"],
                "group_by": ["country"],
                "time_grain": None,
                "where": "{{ Dimension('nope') }} = 1",
            },
        )
        with pytest.raises(
            ValidationError, match="does not match a saved group_by"
        ):
            evaluate_saved_query(fs, "TPL_BAD")

    def test_filter_template_load_validation(
        self, fs, tmp_path, base_table
    ):
        """Load-time gates: unrecognized templates, bad TimeDimension
        grains, and bad attribution values fail at load_semantic_layer
        with named errors."""
        for extra, msg in [
            (
                "  - name: bad_tpl\n    type: simple\n    type_params:\n"
                "      measure: total_age\n"
                '    filter: "{{ Metric(\'x\') }} = 1"\n',
                "unrecognized filter template",
            ),
            (
                "  - name: bad_grain\n    type: simple\n"
                "    type_params:\n      measure: total_age\n"
                "    filter: \"{{ TimeDimension('metric_time',"
                " 'hourly') }} = 1\"\n",
                "TimeDimension grain",
            ),
            (
                "  - name: bad_attr\n    type: conversion\n"
                "    type_params:\n      conversion_type_params:\n"
                "        base_measure: n_customers\n"
                "        conversion_measure: gold_ids\n"
                "        entity: customer\n"
                "        attribution: last_touch\n",
                "attribution must be",
            ),
            (
                "  - name: bad_cp\n    type: conversion\n"
                "    type_params:\n      conversion_type_params:\n"
                "        base_measure: n_customers\n"
                "        conversion_measure: gold_ids\n"
                "        entity: customer\n"
                "        constant_properties:\n"
                "          - base_property: country\n",
                "needs base_property and conversion_property",
            ),
            (
                "  - name: bad_otg\n    type: derived\n"
                "    type_params:\n      metrics:\n"
                "        - name: total_age_m\n"
                "          offset_to_grain: hourly\n",
                "offset_to_grain must be",
            ),
            (
                "  - name: bad_ikey\n    type: derived\n"
                "    type_params:\n      metrics:\n"
                "        - name: total_age_m\n"
                "          offset_grain: month\n",
                "unsupported keys",
            ),
        ]:
            bad_yml = self.YML.replace(
                "saved_queries:", extra + "saved_queries:"
            )
            proj = _write_project(
                tmp_path,
                {**REFERENCE_PROJECT, "schema.yml": bad_yml},
            )
            fs.register_source("customer_base_table", base_table)
            with pytest.raises(ValidationError, match=msg):
                load_project(fs, proj)

    def test_filter_template_resolution_errors(
        self, fs, tmp_path, base_table
    ):
        """Evaluate-time template resolution errors name the missing
        dimension/entity. Built via direct registry puts (the load
        path is syntax-gated only)."""
        from dbt_snowflake_feature_store_spark import evaluate_metric

        self._loaded(fs, tmp_path, base_table)
        fs.registry.put(
            "metrics",
            "BAD_DIM_M",
            {
                "name": "BAD_DIM_M",
                "type": "simple",
                "type_params": {"measure": "total_age"},
                "filter": "{{ Dimension('nope') }} = 1",
            },
        )
        with pytest.raises(ValidationError, match="Dimension\\('nope'\\)"):
            evaluate_metric(fs, "BAD_DIM_M")
        fs.registry.put(
            "metrics",
            "BAD_ENT_M",
            {
                "name": "BAD_ENT_M",
                "type": "simple",
                "type_params": {"measure": "total_age"},
                "filter": "{{ Entity('nope') }} = 1",
            },
        )
        with pytest.raises(ValidationError, match="Entity\\('nope'\\)"):
            evaluate_metric(fs, "BAD_ENT_M")


class TestModelContracts:
    """r13: dbt model contracts (dbt-core 1.5) — config.contract.
    enforced pins the model's EXACT output schema: declared columns
    must exist with the declared data_type (normalized through
    Spark's DDL parser), actual columns must all be declared, every
    declared column needs a data_type; violations aggregate into
    build_project's strict raise."""

    GOOD = """\
version: 2
models:
  - name: test_base_customer_features
    config:
      contract:
        enforced: true
    columns:
      - name: customer_id
        data_type: int
      - name: updated_at
        data_type: timestamp
      - name: f_base_age
        data_type: integer
      - name: f_base_country
        data_type: string
      - name: f_base_tier
        data_type: string
"""

    def _loaded(self, fs, tmp_path, base_table, yml):
        proj = _write_project(
            tmp_path, {**REFERENCE_PROJECT, "contract.yml": yml}
        )
        fs.register_source("customer_base_table", base_table)
        load_project(fs, proj)
        return proj

    def test_exact_contract_passes(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark import run_model_contracts

        proj = self._loaded(fs, tmp_path, base_table, self.GOOD)
        res = run_model_contracts(fs, proj)
        assert res == [
            {
                "model": "TEST_BASE_CUSTOMER_FEATURES",
                "passed": True,
                "errors": [],
            }
        ]

    def test_violations_named_and_aggregated(
        self, fs, tmp_path, base_table
    ):
        from dbt_snowflake_feature_store_spark import (
            build_project,
            run_model_contracts,
        )

        bad = self.GOOD.replace(
            "      - name: f_base_age\n        data_type: integer\n",
            "      - name: f_base_age\n        data_type: bigint\n"
            "      - name: f_phantom\n        data_type: string\n",
        ).replace(
            "      - name: f_base_tier\n        data_type: string\n", ""
        )
        proj = self._loaded(fs, tmp_path, base_table, bad)
        res = run_model_contracts(fs, proj, strict=False)
        assert not res[0]["passed"]
        errs = " | ".join(res[0]["errors"])
        assert "declared bigint, actual int" in errs
        assert "'f_phantom' missing" in errs
        assert "undeclared column 'f_base_tier'" in errs
        with pytest.raises(ValidationError, match="contract violations"):
            run_model_contracts(fs, proj)
        with pytest.raises(
            ValidationError,
            match="contract:TEST_BASE_CUSTOMER_FEATURES",
        ):
            build_project(fs, proj)

    def test_contract_completeness_and_targets(
        self, fs, tmp_path, base_table
    ):
        from dbt_snowflake_feature_store_spark import run_model_contracts

        proj = self._loaded(
            fs,
            tmp_path,
            base_table,
            self.GOOD.replace("        data_type: timestamp\n", ""),
        )
        with pytest.raises(ValidationError, match="needs data_type"):
            run_model_contracts(fs, proj)
        # unknown model target fails loudly
        proj2 = self._loaded(
            fs,
            tmp_path / "p2",
            base_table,
            self.GOOD.replace(
                "test_base_customer_features", "no_such_model"
            ),
        )
        with pytest.raises(ValidationError, match="not found"):
            run_model_contracts(fs, proj2)

    def test_constraints_pass(self, fs, tmp_path, base_table):
        """r14 (VERDICT-r13 #7): column not_null + check and
        model-level check/not_null constraints enforce as
        zero-violation scans; a clean model passes."""
        from dbt_snowflake_feature_store_spark import run_model_contracts

        yml = self.GOOD.replace(
            "      - name: customer_id\n        data_type: int\n",
            "      - name: customer_id\n        data_type: int\n"
            "        constraints:\n"
            "          - type: not_null\n"
            "          - type: check\n"
            "            expression: customer_id > 0\n",
        ) + (
            "    constraints:\n"
            "      - type: not_null\n"
            "        columns: [f_base_country, f_base_tier]\n"
            "      - type: check\n"
            "        expression: f_base_age BETWEEN 0 AND 150\n"
        )
        proj = self._loaded(fs, tmp_path, base_table, yml)
        res = run_model_contracts(fs, proj)
        assert res[0]["passed"] and res[0]["errors"] == []

    def test_constraint_violations_counted(
        self, fs, tmp_path, base_table
    ):
        """Violating rows are counted per constraint; a NULL check
        predicate counts as a violation (a constraint that cannot
        prove itself fails)."""
        from dbt_snowflake_feature_store_spark import run_model_contracts

        yml = self.GOOD + (
            "    constraints:\n"
            "      - type: check\n"
            "        expression: f_base_age < 50\n"
            "      - type: check\n"
            "        expression: f_base_age > NULLIF(0, 0)\n"
        )
        proj = self._loaded(fs, tmp_path, base_table, yml)
        res = run_model_contracts(fs, proj, strict=False)
        errs = res[0]["errors"]
        assert not res[0]["passed"]
        assert any(
            "check (f_base_age < 50) violated: 1 row(s)" in e
            for e in errs
        )
        assert any(
            "f_base_age > NULLIF(0, 0)) violated: 3 row(s)" in e
            for e in errs
        )
        with pytest.raises(ValidationError, match="violated"):
            run_model_contracts(fs, proj)

    def test_constraint_refusals(self, fs, tmp_path, base_table):
        """unique/primary_key/foreign_key refuse loudly toward generic
        tests; malformed constraint blocks name the defect."""
        from dbt_snowflake_feature_store_spark import run_model_contracts

        cases = [
            (
                "    constraints:\n      - type: unique\n"
                "        columns: [customer_id]\n",
                "generic test",
            ),
            (
                "    constraints:\n      - type: exotic\n",
                "unknown constraint type",
            ),
            (
                "    constraints:\n      - type: not_null\n",
                "needs columns:",
            ),
            (
                "    constraints:\n      - type: check\n",
                "needs expression:",
            ),
            (
                "    constraints:\n      - type: not_null\n"
                "        columns: [no_such_col]\n",
                "undeclared column",
            ),
        ]
        for i, (extra, msg) in enumerate(cases):
            proj = self._loaded(
                fs, tmp_path / f"c{i}", base_table, self.GOOD + extra
            )
            with pytest.raises(ValidationError, match=msg):
                run_model_contracts(fs, proj)

    def test_check_expression_prevalidated(
        self, fs, tmp_path, base_table
    ):
        """r15 (ADVICE r14 #4): a typo'd check expression refuses as a
        ValidationError NAMING the contract before the aggregate scan —
        never a raw AnalysisException at agg time."""
        from dbt_snowflake_feature_store_spark import run_model_contracts

        bad = (
            self.GOOD
            + "    constraints:\n      - type: check\n"
            "        expression: f_no_such_col > 0\n"
        )
        proj = self._loaded(fs, tmp_path, base_table, bad)
        with pytest.raises(
            ValidationError,
            match="Contract on model .*does not parse/resolve",
        ):
            run_model_contracts(fs, proj)


class TestGroupsAccess:
    """r13: dbt groups + access governance (dbt-core 1.6) — private
    models are only ref()-able inside their own group; validated at
    compilation; manifest stamps group/access on model nodes."""

    def _yml(self, access="private", group="core", ref_group="core"):
        return f"""\
version: 2

groups:
  - name: core
    owner:
      name: platform
  - name: analytics
    owner:
      name: insights

models:
  - name: test_base_customer_features
    group: {group}
    access: {access}
  - name: test_derived_customer_features
    group: {ref_group}
"""

    def _proj(self, fs, tmp_path, base_table, yml):
        proj = _write_project(
            tmp_path, {**REFERENCE_PROJECT, "gov.yml": yml}
        )
        fs.register_source("customer_base_table", base_table)
        return proj

    def test_same_group_ref_allowed_and_manifest_stamped(
        self, fs, tmp_path, base_table
    ):
        from dbt_snowflake_feature_store_spark import export_manifest

        proj = self._proj(fs, tmp_path, base_table, self._yml())
        load_project(fs, proj)  # derived refs base, same group: fine
        man = export_manifest(fs, proj)
        node = man["nodes"]["model.project.test_base_customer_features"]
        assert node["group"] == "core" and node["access"] == "private"
        derived = man["nodes"][
            "model.project.test_derived_customer_features"
        ]
        # access defaults to protected (== public in a single-package
        # engine) when only group is declared
        assert derived["access"] == "protected"

    def test_cross_group_private_ref_fails(
        self, fs, tmp_path, base_table
    ):
        proj = self._proj(
            fs, tmp_path, base_table, self._yml(ref_group="analytics")
        )
        with pytest.raises(ValidationError, match="private model"):
            load_project(fs, proj)

    def test_governance_validation(self, fs, tmp_path, base_table):
        proj = self._proj(
            fs, tmp_path, base_table,
            self._yml().replace("group: core\n    access: private",
                                "access: private"),
        )
        with pytest.raises(ValidationError, match="requires a group"):
            load_project(fs, proj)
        proj2 = self._proj(
            fs, tmp_path / "p2", base_table,
            self._yml(group="no_such_group"),
        )
        with pytest.raises(ValidationError, match="not declared"):
            load_project(fs, proj2)
        proj3 = self._proj(
            fs, tmp_path / "p3", base_table, self._yml(access="secret")
        )
        with pytest.raises(ValidationError, match="access must be"):
            load_project(fs, proj3)


class TestDbtProjectYml:
    """r13: dbt_project.yml at the project root — name validated
    (dbt's contract), vars: merged UNDER caller model_vars (CLI
    --vars precedence), dbt CONFIG TREES (models:/seeds: mappings)
    skipped by the schema-yml walkers, nonstandard model-paths
    refused loudly."""

    PROJECT_YML = """\
name: demo_project
version: '1.0.0'
profile: ignored_here
vars:
  min_age: 30
models:
  demo_project:
    +materialized: feature_view
"""

    def _proj(self, tmp_path, project_yml):
        proj = _write_project(
            tmp_path,
            {
                "entities/test_customer_entity.sql": ENTITY_CUSTOMER,
                "features/jinja_fv.sql": TestFullJinja.JINJA_FV,
            },
        )
        import os as _os

        with open(_os.path.join(proj, "dbt_project.yml"), "w") as f:
            f.write(project_yml)
        return proj

    def test_vars_default_and_override(self, fs, tmp_path, base_table):
        proj = self._proj(tmp_path, self.PROJECT_YML)
        fs.register_source("customer_base_table", base_table)
        # project vars supply min_age=30 with NO caller model_vars:
        # threshold 30 > 20 → the CAST(age >= 30) branch
        load_project(fs, proj)
        rows = {
            r["customer_id"]: r["f_above"]
            for r in fs.read_feature_view("JINJA_FV", "1.0").collect()
        }
        assert rows == {1: 0, 2: 1, 3: 1}
        # caller model_vars override the project default (dbt --vars)
        from dbt_snowflake_feature_store_spark import FeatureStore

        fs2 = FeatureStore(fs.spark, str(tmp_path / "fs2"))
        fs2.register_source("customer_base_table", base_table)
        load_project(fs2, proj, model_vars={"min_age": 5})
        assert all(
            r["f_above"] == 0
            for r in fs2.read_feature_view("JINJA_FV", "1.0").collect()
        )

    def test_validation_failures(self, fs, tmp_path, base_table):
        fs.register_source("customer_base_table", base_table)
        proj = self._proj(tmp_path, "version: '1.0'\n")
        import os as _os

        pj = _os.path.join(proj, "dbt_project.yml")
        with pytest.raises(ValidationError, match="needs name"):
            load_project(fs, proj)
        with open(pj, "w") as f:
            f.write("name: demo\nvars: [a, b]\n")
        with pytest.raises(ValidationError, match="vars: must be"):
            load_project(fs, proj)
        with open(pj, "w") as f:
            f.write("name: demo\nmodel-paths: ['transforms']\n")
        with pytest.raises(ValidationError, match="model-paths"):
            load_project(fs, proj)

    def test_reference_root_layout_loads_verbatim(
        self, fs, tmp_path, base_table
    ):
        """r15 (VERDICT-r14 #4): the reference repo's OWN dbt layout —
        dbt_project.yml at the root with model-paths:
        ['integration_tests/models'] and test-paths:
        ['integration_tests/tests'] (/root/reference/dbt_project.yml)
        — loads verbatim: models come from the declared subtree (and
        ONLY it), schema ymls resolve there, singular tests run from
        the declared test path, macros from macro-paths."""
        import os as _os

        from dbt_snowflake_feature_store_spark import run_data_tests

        root = tmp_path / "refproj"
        mdir = root / "integration_tests" / "models"
        for rel, text in REFERENCE_PROJECT.items():
            p = mdir / rel
            p.parent.mkdir(parents=True, exist_ok=True)
            p.write_text(text)
        # a decoy .sql OUTSIDE the declared model path must NOT load
        (root / "scripts").mkdir(parents=True)
        (root / "scripts" / "not_a_model.sql").write_text(
            "SELECT broken FROM nowhere"
        )
        tdir = root / "integration_tests" / "tests"
        tdir.mkdir(parents=True)
        (tdir / "test_nonempty_base.sql").write_text(
            "SELECT * FROM {{ ref('test_base_customer_features') }} "
            "WHERE f_base_age < 0"
        )
        (root / "macros").mkdir()
        (root / "macros" / "noop.sql").write_text(
            "{% macro noop() %}1{% endmacro %}"
        )
        (root / "dbt_project.yml").write_text(
            "name: refshape\n"
            "model-paths: ['integration_tests/models']\n"
            "test-paths: ['integration_tests/tests']\n"
            "macro-paths: ['macros']\n"
        )
        fs.register_source("customer_base_table", base_table)
        report = load_project(fs, str(root))
        assert len(report["feature_views"]) == 4  # decoy not loaded
        res = run_data_tests(fs, str(root))
        assert [r["name"] for r in res] == ["test_nonempty_base"]
        assert res[0]["passed"]
        # manifest sees the same models through the same layout
        from dbt_snowflake_feature_store_spark import export_manifest

        man = export_manifest(fs, str(root))
        assert (
            "model.project.test_base_customer_features" in man["nodes"]
        )
        assert not any("not_a_model" in k for k in man["nodes"])

    def test_checksums_stable_across_layout_change(
        self, fs, tmp_path, base_table
    ):
        """r15 (VERDICT-r14 #4): moving the same model FILES from the
        bare-tree layout into a dbt root layout must not trip
        state:modified — checksums are content-based, path-free."""
        import os as _os
        import shutil as _sh

        from dbt_snowflake_feature_store_spark import export_manifest

        flat = _write_project(tmp_path, REFERENCE_PROJECT)
        fs.register_source("customer_base_table", base_table)
        load_project(fs, flat)
        state = export_manifest(fs, flat)

        root = tmp_path / "rooted"
        mdir = root / "warehouse" / "models"
        mdir.parent.mkdir(parents=True)
        _sh.copytree(flat, mdir)
        _os.remove(str(mdir / "target" / "manifest.json"))
        _os.rmdir(str(mdir / "target"))
        (root / "dbt_project.yml").write_text(
            "name: rooted\nmodel-paths: ['warehouse/models']\n"
        )
        report = load_project(
            fs, str(root), select=["state:modified"], state=state
        )
        assert report["selected"] == []
        report2 = load_project(
            fs, str(root), select=["state:new"], state=state
        )
        assert report2["selected"] == []

    def test_config_trees_do_not_leak_into_schema_walkers(
        self, fs, tmp_path, base_table
    ):
        """dbt_project.yml's models:/seeds: keys are CONFIG TREES —
        the sources/schema-test/exposure walkers must skip the file by
        name or they'd parse the mapping as a schema-yml list."""
        from dbt_snowflake_feature_store_spark import run_schema_tests

        proj = self._proj(tmp_path, self.PROJECT_YML)
        fs.register_source("customer_base_table", base_table)
        load_project(fs, proj)
        # no schema ymls in this project; the config tree must not
        # masquerade as one
        assert run_schema_tests(fs, proj, allow_empty=True) == []


class TestSelectorsYml:
    """r15: dbt selectors.yml — named, reusable selection definitions
    (dbt --selector): string atoms, method/value mappings,
    union/intersection with nested exclude, a default: true selector
    applied when no selection flags are given; refusals name the
    defect."""

    SEL_YML = """\
selectors:
  - name: base_up
    description: base model and its ancestors
    definition: '+test_base_customer_features'
  - name: base_down_minus
    definition:
      union:
        - method: fqn
          value: test_base_customer_features
          children: true
        - exclude:
            - test_derived_customer_features
"""

    def _proj(self, fs, tmp_path, base_table, sel_yml=None):
        proj = _write_project(tmp_path, REFERENCE_PROJECT)
        import os as _os

        with open(_os.path.join(proj, "selectors.yml"), "w") as f:
            f.write(sel_yml or self.SEL_YML)
        fs.register_source("customer_base_table", base_table)
        return proj

    def test_selector_matches_equivalent_select(
        self, fs, tmp_path, base_table
    ):
        proj = self._proj(fs, tmp_path, base_table)
        a = load_project(fs, proj, selector="base_up")["selected"]
        b = load_project(
            fs, proj, select=["+test_base_customer_features"]
        )["selected"]
        assert a == b and a  # non-empty and identical
        c = load_project(fs, proj, selector="base_down_minus")[
            "selected"
        ]
        d = load_project(
            fs,
            proj,
            select=["test_base_customer_features+"],
            exclude=["test_derived_customer_features"],
        )["selected"]
        assert c == d and "TEST_DERIVED_CUSTOMER_FEATURES" not in c

    def test_default_selector_applies_without_flags(
        self, fs, tmp_path, base_table
    ):
        yml = self.SEL_YML.replace(
            "  - name: base_up\n",
            "  - name: base_up\n    default: true\n",
        )
        proj = self._proj(fs, tmp_path, base_table, yml)
        rep = load_project(fs, proj)
        assert rep["selected"] == load_project(
            fs, proj, selector="base_up"
        )["selected"]
        # explicit select= overrides the default selector
        all_rep = load_project(fs, proj, select=list(
            {"test_derived_customer_features"}
        ))
        assert "TEST_DERIVED_CUSTOMER_FEATURES" in all_rep["selected"]

    def test_refusals(self, fs, tmp_path, base_table):
        proj = self._proj(fs, tmp_path, base_table)
        with pytest.raises(ValidationError, match="not both"):
            load_project(
                fs, proj, selector="base_up", select=["x"]
            )
        with pytest.raises(ValidationError, match="not defined"):
            load_project(fs, proj, selector="nope")
        import os as _os

        def _with(yml):
            with open(_os.path.join(proj, "selectors.yml"), "w") as f:
                f.write(yml)
            return load_project(fs, proj, selector="s")

        with pytest.raises(ValidationError, match="not supported"):
            _with(
                "selectors:\n  - name: s\n    definition:\n"
                "      method: package\n      value: somepkg\n"
            )
        with pytest.raises(ValidationError, match="INSIDE a"):
            _with(
                "selectors:\n  - name: s\n    definition:\n"
                "      exclude: [test_base_customer_features]\n"
            )
        with pytest.raises(ValidationError, match="at most one"):
            _with(
                "selectors:\n"
                "  - name: s\n    default: true\n"
                "    definition: test_base_customer_features\n"
                "  - name: t\n    default: true\n"
                "    definition: test_base_customer_features\n"
            )
        with pytest.raises(ValidationError, match="needs a definition"):
            _with("selectors:\n  - name: s\n")


class TestHooksAndRunOperation:
    """r13: dbt on-run-start/on-run-end hooks (dbt_project.yml, executed
    at build_project's phase boundaries with macros + vars rendered)
    and run-operation (invoke a project macro by name — the admin SQL
    escape hatch)."""

    MACRO = """\
{% macro audit_row(tag) -%}
SELECT '{{ tag }}' AS tag, {{ var('answer', 42) }} AS answer
{%- endmacro %}

{% macro silent_macro() %}{% endmacro %}
"""

    def _proj(self, fs, tmp_path, base_table, project_yml):
        proj = _write_project(tmp_path, REFERENCE_PROJECT)
        import os as _os

        mdir = _os.path.join(proj, "macros")
        _os.makedirs(mdir, exist_ok=True)
        with open(_os.path.join(mdir, "ops.sql"), "w") as f:
            f.write(self.MACRO)
        if project_yml is not None:
            with open(_os.path.join(proj, "dbt_project.yml"), "w") as f:
                f.write(project_yml)
        fs.register_source("customer_base_table", base_table)
        return proj

    def test_hooks_run_at_phase_boundaries(
        self, fs, tmp_path, base_table
    ):
        from dbt_snowflake_feature_store_spark import build_project

        proj = self._proj(
            fs,
            tmp_path,
            base_table,
            """\
name: hooked
on-run-start:
  - CREATE OR REPLACE TEMPORARY VIEW hook_start AS SELECT 1 AS one
on-run-end:
  - CREATE OR REPLACE TEMPORARY VIEW hook_end AS SELECT 2 AS two
  - "{{ '' }}"
""",
        )
        report = build_project(fs, proj)
        assert fs.spark.table("hook_start").collect()[0]["one"] == 1
        assert fs.spark.table("hook_end").collect()[0]["two"] == 2
        assert len(report["on_run_start"]) == 1
        # the empty-render hook is skipped, not executed
        assert len(report["on_run_end"]) == 1
        # a failing hook names itself loudly
        import os as _os

        with open(_os.path.join(proj, "dbt_project.yml"), "w") as f:
            f.write(
                "name: hooked\non-run-start:\n"
                "  - SELECT no_such_column FROM hook_start\n"
            )
        with pytest.raises(ValidationError, match="on-run-start hook #0"):
            build_project(fs, proj)

    def test_run_operation_renders_and_executes(
        self, fs, tmp_path, base_table
    ):
        from dbt_snowflake_feature_store_spark import run_operation

        proj = self._proj(
            fs, tmp_path, base_table, "name: hooked\nvars:\n  answer: 7\n"
        )
        out = run_operation(
            fs, proj, "audit_row", args={"tag": "t1"}
        )
        assert out["rows"][0]["tag"] == "t1"
        # project vars reach the macro; caller vars override
        assert out["rows"][0]["answer"] == 7
        out2 = run_operation(
            fs, proj, "audit_row", args={"tag": "t2"},
            model_vars={"answer": 9},
        )
        assert out2["rows"][0]["answer"] == 9
        # dry-run renders without executing
        dry = run_operation(
            fs, proj, "audit_row", args={"tag": "t3"}, execute=False
        )
        assert dry["rows"] is None and "t3" in dry["sql"]
        # empty render is a no-op, not an error
        silent = run_operation(fs, proj, "silent_macro")
        assert silent["sql"] == "" and silent["rows"] is None
        # unknown macros fail loudly, listing what exists
        with pytest.raises(ValidationError, match="audit_row"):
            run_operation(fs, proj, "no_such_macro")


class TestStateSelection:
    """r13: dbt slim-CI state selectors — state:modified / state:new
    against a previous manifest (export_manifest carries a raw-file
    sha256 checksum per model node), composing with the closure
    affixes (state:modified+ = modified and downstream)."""

    def _loaded(self, fs, tmp_path, base_table):
        proj = _write_project(tmp_path, REFERENCE_PROJECT)
        fs.register_source("customer_base_table", base_table)
        load_project(fs, proj)
        from dbt_snowflake_feature_store_spark import export_manifest

        return proj, export_manifest(fs, proj)

    def test_unchanged_project_selects_nothing(
        self, fs, tmp_path, base_table
    ):
        proj, man = self._loaded(fs, tmp_path, base_table)
        report = load_project(
            fs, proj, select=["state:modified"], state=man
        )
        assert report["selected"] == []

    def test_modified_and_descendants(self, fs, tmp_path, base_table):
        import os as _os

        proj, man = self._loaded(fs, tmp_path, base_table)
        # touch the BASE model's file: checksum changes, config doesn't
        p = _os.path.join(
            proj, "features/test_base_customer_features.sql"
        )
        with open(p, "a") as f:
            f.write("\n-- slim-ci touch\n")
        report = load_project(
            fs, proj, select=["state:modified"], state=man
        )
        assert report["selected"] == ["TEST_BASE_CUSTOMER_FEATURES"]
        # the + affix pulls the downstream build set (derived refs base)
        report = load_project(
            fs, proj, select=["state:modified+"], state=man
        )
        assert report["selected"] == [
            "TEST_BASE_CUSTOMER_FEATURES",
            "TEST_DERIVED_CUSTOMER_FEATURES",
        ]
        # state accepts a manifest.json path or its directory too
        import json as _json

        target = tmp_path / "prev_target"
        target.mkdir()
        (target / "manifest.json").write_text(_json.dumps(man))
        report = load_project(
            fs, proj, select=["state:modified"], state=str(target)
        )
        assert report["selected"] == ["TEST_BASE_CUSTOMER_FEATURES"]

    def test_new_model_counts_as_new_and_modified(
        self, fs, tmp_path, base_table
    ):
        import os as _os

        proj, man = self._loaded(fs, tmp_path, base_table)
        with open(
            _os.path.join(proj, "features/test_fresh_model.sql"), "w"
        ) as f:
            f.write(
                "{{ config(materialized='feature_view', "
                "feature_view_version='1.0', "
                "entities=['test_customer_entity'], "
                "timestamp_col='updated_at') }}\n"
                "SELECT customer_id, updated_at, "
                "f_base_age AS f_new_age "
                "FROM {{ ref('test_base_customer_features') }}\n"
            )
        new_sel = load_project(
            fs, proj, select=["state:new"], state=man
        )
        assert new_sel["selected"] == ["TEST_FRESH_MODEL"]
        mod_sel = load_project(
            fs, proj, select=["state:modified"], state=man
        )
        assert mod_sel["selected"] == ["TEST_FRESH_MODEL"]

    def test_state_selector_without_state_fails(
        self, fs, tmp_path, base_table
    ):
        proj, _man = self._loaded(fs, tmp_path, base_table)
        with pytest.raises(ValidationError, match="needs state="):
            load_project(fs, proj, select=["state:modified"])
        with pytest.raises(ValidationError, match="not found"):
            load_project(
                fs, proj, select=["state:modified"],
                state=str(tmp_path / "nope"),
            )


class TestSourceFreshness:
    """r13: dbt `source freshness` — check_source_freshness computes
    MAX(loaded_at_field) per declared table with an effective
    freshness: block and rolls age into pass/warn/error at an explicit
    as_of instant. base_table's max updated_at is 2024-01-02 00:00:00;
    thresholds warn 1 day / error 3 days."""

    YML = """\
version: 2

sources:
  - name: raw
    loaded_at_field: updated_at
    freshness:
      warn_after: {count: 1, period: day}
      error_after: {count: 3, period: day}
    tables:
      - name: base
        identifier: customer_base_table
      - name: silent
        identifier: customer_base_table
        freshness: null
"""

    def _proj(self, fs, tmp_path, base_table, yml=None):
        proj = tmp_path / "fresh_proj"
        proj.mkdir(exist_ok=True)
        (proj / "schema.yml").write_text(yml or self.YML)
        fs.register_source("customer_base_table", base_table)
        return str(proj)

    def test_ntz_source_normalized(self, fs, tmp_path, base_table):
        """r14 (ADVICE-r13 medium): every registered-source read goes
        through _load_source's read_table normalization — a parquet
        source whose timestamps land as TIMESTAMP_NTZ still yields a
        tz-aware MAX(loaded_at) (no .tzinfo crash, no silent oracle
        divergence), and model reads see TIMESTAMP, not NTZ."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from dbt_snowflake_feature_store_spark import (
            check_source_freshness,
        )

        ntz_path = str(tmp_path / "ntz_src.parquet")
        pq.write_table(
            pa.table(
                {
                    "customer_id": pa.array([1, 2], pa.int32()),
                    "updated_at": pa.array(
                        [1704067200000000, 1704153600000000],
                        pa.timestamp("us"),  # no tz → Spark infers NTZ
                    ),
                    "age": pa.array([23, 35], pa.int32()),
                    "country": pa.array(["US", "DE"]),
                    "tier": pa.array(["gold", "silver"]),
                }
            ),
            ntz_path,
        )
        # sanity: the raw read really is NTZ (the drift this guards)
        raw = fs.spark.read.parquet(ntz_path)
        assert dict(raw.dtypes)["updated_at"] == "timestamp_ntz"
        proj = self._proj(fs, tmp_path, ntz_path)
        res = check_source_freshness(
            fs, proj, as_of="2024-01-02 12:00:00"
        )
        base = next(r for r in res if r["table"] == "base")
        assert base["status"] == "pass"
        assert base["age_seconds"] == 12 * 3600
        doc = fs.registry.get("sources", "CUSTOMER_BASE_TABLE")
        assert dict(fs._load_source(doc).dtypes)["updated_at"] == (
            "timestamp"
        )

    def test_status_rollup_and_opt_out(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark import (
            check_source_freshness,
        )

        proj = self._proj(fs, tmp_path, base_table)
        # 12h old → pass; the freshness:null table is skipped entirely
        res = check_source_freshness(
            fs, proj, as_of="2024-01-02 12:00:00"
        )
        assert [(r["table"], r["status"]) for r in res] == [
            ("base", "pass")
        ]
        assert res[0]["age_seconds"] == 43200
        assert res[0]["warn_after_seconds"] == 86400
        assert res[0]["error_after_seconds"] == 3 * 86400
        assert res[0]["loaded_at"].day == 2
        # strictly-greater comparison: exactly 1 day is still pass
        res = check_source_freshness(
            fs, proj, as_of="2024-01-03 00:00:00"
        )
        assert res[0]["status"] == "pass"
        res = check_source_freshness(
            fs, proj, as_of="2024-01-03 00:00:01"
        )
        assert res[0]["status"] == "warn"
        res = check_source_freshness(
            fs, proj, as_of="2024-01-10 00:00:00"
        )
        assert res[0]["status"] == "error"

    def test_validation_failures(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark import (
            ValidationError,
            check_source_freshness,
        )

        base = self._proj(fs, tmp_path, base_table)

        def _with(yml):
            (tmp_path / "fresh_proj" / "schema.yml").write_text(yml)
            return check_source_freshness(
                fs, base, as_of="2024-01-02 00:00:00"
            )

        with pytest.raises(ValidationError, match="loaded_at_field"):
            _with(
                """version: 2
sources:
  - name: raw
    freshness:
      warn_after: {count: 1, period: day}
    tables:
      - name: base
        identifier: customer_base_table
"""
            )
        with pytest.raises(ValidationError, match="period"):
            _with(
                """version: 2
sources:
  - name: raw
    loaded_at_field: updated_at
    freshness:
      warn_after: {count: 1, period: fortnight}
    tables:
      - name: base
        identifier: customer_base_table
"""
            )
        with pytest.raises(ValidationError, match="positive"):
            _with(
                """version: 2
sources:
  - name: raw
    loaded_at_field: updated_at
    freshness:
      warn_after: {count: 0, period: day}
    tables:
      - name: base
        identifier: customer_base_table
"""
            )
        with pytest.raises(ValidationError, match="warn_after and/or"):
            _with(
                """version: 2
sources:
  - name: raw
    loaded_at_field: updated_at
    freshness: {}
    tables:
      - name: base
        identifier: customer_base_table
"""
            )
        with pytest.raises(ValidationError, match="not a registered"):
            _with(
                """version: 2
sources:
  - name: raw
    loaded_at_field: updated_at
    freshness:
      warn_after: {count: 1, period: day}
    tables:
      - name: base
        identifier: never_registered_tbl
"""
            )

    def test_table_level_override(self, fs, tmp_path, base_table):
        """Table-level loaded_at_field/freshness override the source
        level (dbt's layering); expressions are allowed."""
        from dbt_snowflake_feature_store_spark import (
            check_source_freshness,
        )

        proj = self._proj(
            fs,
            tmp_path,
            base_table,
            yml="""version: 2
sources:
  - name: raw
    loaded_at_field: updated_at
    freshness:
      warn_after: {count: 1, period: day}
    tables:
      - name: base
        identifier: customer_base_table
        loaded_at_field: updated_at + INTERVAL 1 DAY
        freshness:
          warn_after: {count: 1, period: hour}
""",
        )
        res = check_source_freshness(
            fs, proj, as_of="2024-01-03 00:30:00"
        )
        # shifted max = 2024-01-03; 30 min old under a 1-hour warn
        assert res[0]["status"] == "pass"
        assert res[0]["age_seconds"] == 1800
        assert res[0]["warn_after_seconds"] == 3600
        assert res[0]["error_after_seconds"] is None


def test_export_catalog_columns(fs, tmp_path, base_table):
    """dbt-docs catalog.json (r12): column names/types per manifest node
    from ANALYZED schemas only — no job runs."""
    from dbt_snowflake_feature_store_spark import export_catalog

    yml = TestExposures.YML
    proj = _write_project(
        tmp_path, {**REFERENCE_PROJECT, "schema.yml": yml}
    )
    fs.register_source("customer_base_table", base_table)
    load_project(fs, proj)
    cat = export_catalog(fs, proj)
    mdl = cat["nodes"]["model.project.test_base_customer_features"]
    assert "customer_id" in mdl["columns"]
    assert mdl["columns"]["customer_id"]["type"] in ("int", "bigint")
    src = cat["sources"]["source.project.test_sources.customer_base_table"]
    cols = src["columns"]
    assert set(cols) >= {"customer_id", "age", "tier"}
    # index reflects schema position, 0-based and dense
    assert sorted(c["index"] for c in cols.values()) == list(
        range(len(cols))
    )
    # entity models carry no relation: not in the catalog
    assert not any("entity" in k for k in cat["nodes"])
    import json as _json
    import os as _os

    with open(_os.path.join(proj, "target", "catalog.json")) as f:
        disk = _json.load(f)
    assert disk["nodes"].keys() == cat["nodes"].keys()


class TestNodeSelection:
    """dbt --select node selection (r12): [+]name[+] grammar over the
    ref() graph (entity-config edges count as ancestors); selection
    scopes registration, schema tests (source tests excluded), and
    singular tests (eager indirect selection); snapshots skip."""

    def test_select_with_ancestors_registers_closure(
        self, fs, tmp_path, base_table
    ):
        proj = _write_project(tmp_path, REFERENCE_PROJECT)
        fs.register_source("customer_base_table", base_table)
        report = load_project(
            fs, proj, select=["+test_derived_customer_features"]
        )
        # derived refs base; base names the customer entity
        assert report["selected"] == [
            "TEST_BASE_CUSTOMER_FEATURES",
            "TEST_CUSTOMER_ENTITY",
            "TEST_DERIVED_CUSTOMER_FEATURES",
        ]
        regs = {n for n, _v in report["feature_views"]}
        assert regs == {
            "TEST_BASE_CUSTOMER_FEATURES", "TEST_DERIVED_CUSTOMER_FEATURES",
        }
        assert report["entities"] == ["TEST_CUSTOMER_ENTITY"]
        # unselected models are NOT registered
        from dbt_snowflake_feature_store_spark.errors import (
            FeatureViewNotFoundError,
        )

        with pytest.raises(FeatureViewNotFoundError):
            fs.read_feature_view("TEST_STATIC_CUSTOMER_FEATURES$1.0")

    def test_select_descendants(self, fs, tmp_path, base_table):
        proj = _write_project(tmp_path, REFERENCE_PROJECT)
        fs.register_source("customer_base_table", base_table)
        report = load_project(
            fs, proj,
            select=["test_base_customer_features+", "+test_base_customer_features"],
        )
        regs = {n for n, _v in report["feature_views"]}
        # base's descendants include derived; its ancestors the entity
        assert "TEST_DERIVED_CUSTOMER_FEATURES" in regs
        assert "TEST_BASE_CUSTOMER_FEATURES" in regs

    def test_unknown_selector_fails_loudly(self, fs, tmp_path, base_table):
        proj = _write_project(tmp_path, REFERENCE_PROJECT)
        fs.register_source("customer_base_table", base_table)
        with pytest.raises(ValidationError, match="does not match"):
            load_project(fs, proj, select=["no_such_model"])
        with pytest.raises(ValidationError, match="does not match"):
            load_project(fs, proj, exclude=["no_such_model"])

    def test_exclude_subtracts_from_full_project(
        self, fs, tmp_path, base_table
    ):
        """dbt --exclude (r13): without select, exclude subtracts its
        closure from the FULL project; descendants of an excluded model
        follow it out via the + grammar."""
        proj = _write_project(tmp_path, REFERENCE_PROJECT)
        fs.register_source("customer_base_table", base_table)
        report = load_project(
            fs, proj, exclude=["test_base_customer_features+"]
        )
        # base AND its descendant derived are out; everything else in
        assert "TEST_BASE_CUSTOMER_FEATURES" not in report["selected"]
        assert "TEST_DERIVED_CUSTOMER_FEATURES" not in report["selected"]
        regs = {n for n, _v in report["feature_views"]}
        assert regs == {
            "TEST_STATIC_CUSTOMER_FEATURES",
            "TEST_MANAGED_CUSTOMER_FEATURES",
        }
        assert set(report["entities"]) == {
            "TEST_CUSTOMER_ENTITY", "TEST_ORDER_ENTITY",
        }

    def test_exclude_composes_with_select(self, fs, tmp_path, base_table):
        proj = _write_project(tmp_path, REFERENCE_PROJECT)
        fs.register_source("customer_base_table", base_table)
        report = load_project(
            fs, proj,
            select=["+test_derived_customer_features"],
            exclude=["test_derived_customer_features"],
        )
        # the select closure minus the excluded node itself
        assert report["selected"] == [
            "TEST_BASE_CUSTOMER_FEATURES", "TEST_CUSTOMER_ENTITY",
        ]
        regs = {n for n, _v in report["feature_views"]}
        assert regs == {"TEST_BASE_CUSTOMER_FEATURES"}

    def test_build_select_scopes_tests(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark import build_project

        yml = TestSchemaTests.YML
        proj = _write_project(
            tmp_path,
            {
                **REFERENCE_PROJECT,
                "schema.yml": yml,
                "tests/base_no_null_age.sql": (
                    "SELECT * FROM"
                    " {{ ref('test_base_customer_features') }}"
                    " WHERE f_base_age IS NULL"
                ),
                "tests/static_no_null.sql": (
                    "SELECT * FROM"
                    " {{ ref('test_static_customer_features') }}"
                    " WHERE customer_id IS NULL"
                ),
            },
        )
        fs.register_source("customer_base_table", base_table)
        report = build_project(
            fs, proj, select=["+test_base_customer_features"]
        )
        # schema tests: only the selected model's yml tests ran (the
        # source-table tests are excluded by model selection)
        names = {r["name"] for r in report["schema_tests"]}
        assert names == {
            "unique_test_base_customer_features_customer_id",
            "not_null_test_base_customer_features_customer_id",
            "relationships_test_base_customer_features_customer_id",
        }
        # singular tests: eager indirect selection — only the test
        # ref()ing the selected model ran
        assert [r["name"] for r in report["data_tests"]] == [
            "base_no_null_age"
        ]
        assert report["snapshots"] is None


class TestUnitTests:
    """dbt unit_tests: (r13 — dbt-core 1.8's third test surface):
    fixture-driven logic tests for model transformations. given rows
    mock every direct parent (typed by the real relation's schema,
    omitted columns become typed NULLs); expect rows are the complete
    output multiset over the columns they name."""

    UT_YML = """\
version: 2

unit_tests:
  - name: ut_age_grouping
    model: test_derived_customer_features
    given:
      - input: ref('test_base_customer_features')
        rows:
          - {customer_id: 1, updated_at: '2024-01-01 00:00:00',
             f_base_age: 23, f_base_country: US}
          - {customer_id: 2, f_base_age: 61, f_base_country: DE}
    expect:
      rows:
        - {customer_id: 1, f_age_group: Young,
           f_customer_segment: Domestic, f_age_in_months: 276}
        - {customer_id: 2, f_age_group: Elder,
           f_customer_segment: International, f_age_in_months: 732}
  - name: ut_source_mock
    model: test_base_customer_features
    given:
      - input: source('test_sources', 'customer_base_table')
        rows:
          - {customer_id: 9, age: 50, country: FR, tier: gold}
    expect:
      rows:
        - {customer_id: 9, f_base_age: 50, f_base_country: FR}
"""

    def _loaded(self, fs, tmp_path, base_table, yml=None):
        proj = _write_project(
            tmp_path,
            {**REFERENCE_PROJECT, "unit.yml": yml or self.UT_YML},
        )
        fs.register_source("customer_base_table", base_table)
        load_project(fs, proj)
        return proj

    def test_pass_and_fixture_isolation(self, fs, tmp_path, base_table):
        """Fixtures fully replace real data (base_table has 3 rows; the
        fixture has 2) and typed-NULL completion holds for omitted
        columns; string timestamps coerce through the real schema."""
        from dbt_snowflake_feature_store_spark import run_unit_tests

        proj = self._loaded(fs, tmp_path, base_table)
        res = run_unit_tests(fs, proj, strict=True)
        assert [r["name"] for r in res] == [
            "ut_age_grouping", "ut_source_mock",
        ]
        assert all(r["passed"] for r in res)
        assert res[0]["rows"] == 2 and res[0]["expected"] == 2

    def test_failure_reported_and_strict_raises(
        self, fs, tmp_path, base_table
    ):
        from dbt_snowflake_feature_store_spark import run_unit_tests

        bad = self.UT_YML.replace("f_age_in_months: 276", "f_age_in_months: 999")
        proj = self._loaded(fs, tmp_path, base_table, yml=bad)
        res = run_unit_tests(fs, proj)
        byname = {r["name"]: r for r in res}
        assert not byname["ut_age_grouping"]["passed"]
        assert byname["ut_source_mock"]["passed"]
        with pytest.raises(ValidationError, match="ut_age_grouping"):
            run_unit_tests(fs, proj, strict=True)

    def test_unmocked_parent_and_dangling_fixture(
        self, fs, tmp_path, base_table
    ):
        from dbt_snowflake_feature_store_spark import run_unit_tests

        # derived model's only parent missing from given → loud error
        missing = """\
version: 2
unit_tests:
  - name: ut_missing
    model: test_derived_customer_features
    given: []
    expect:
      rows: []
"""
        proj = self._loaded(fs, tmp_path, base_table, yml=missing)
        with pytest.raises(ValidationError, match="must be mocked"):
            run_unit_tests(fs, proj)
        # a fixture matching nothing the model reads → loud error
        extra = self.UT_YML.replace(
            """  - name: ut_source_mock
    model: test_base_customer_features
    given:
      - input: source('test_sources', 'customer_base_table')
""",
            """  - name: ut_source_mock
    model: test_base_customer_features
    given:
      - input: source('test_sources', 'customer_base_table')
        rows: []
      - input: ref('test_static_customer_features')
""",
        )
        import os as _os

        with open(_os.path.join(proj, "unit.yml"), "w") as f:
            f.write(extra)
        with pytest.raises(ValidationError, match="match nothing"):
            run_unit_tests(fs, proj)

    def test_contract_validation(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark import run_unit_tests

        proj = self._loaded(fs, tmp_path, base_table)
        import os as _os

        def _with(yml):
            with open(_os.path.join(proj, "unit.yml"), "w") as f:
                f.write(yml)
            return run_unit_tests(fs, proj)

        with pytest.raises(ValidationError, match="overrides"):
            _with(
                """\
version: 2
unit_tests:
  - name: u1
    model: test_base_customer_features
    overrides: {macros: {}}
    given: []
    expect: {rows: []}
"""
            )
        with pytest.raises(ValidationError, match="must be text"):
            _with(
                """\
version: 2
unit_tests:
  - name: u1
    model: test_base_customer_features
    given:
      - input: source('test_sources', 'customer_base_table')
        format: csv
        rows: []
    expect: {rows: []}
"""
            )
        with pytest.raises(ValidationError, match="format 'tsv'"):
            _with(
                """\
version: 2
unit_tests:
  - name: u1
    model: test_base_customer_features
    given:
      - input: source('test_sources', 'customer_base_table')
        format: tsv
        rows: []
    expect: {rows: []}
"""
            )
        with pytest.raises(
            ValidationError, match="must not reference"
        ):
            _with(
                """\
version: 2
unit_tests:
  - name: u1
    model: test_base_customer_features
    given:
      - input: source('test_sources', 'customer_base_table')
        format: sql
        rows: |
          SELECT * FROM {{ ref('test_base_customer_features') }}
    expect: {rows: []}
"""
            )
        with pytest.raises(ValidationError, match="not found"):
            _with(
                """\
version: 2
unit_tests:
  - name: u1
    model: test_base_customer_features
    given:
      - input: source('test_sources', 'customer_base_table')
        format: csv
        fixture: no_such_fixture
    expect: {rows: []}
"""
            )
        with pytest.raises(ValidationError, match="fixture column 'nope'"):
            _with(
                """\
version: 2
unit_tests:
  - name: u1
    model: test_base_customer_features
    given:
      - input: source('test_sources', 'customer_base_table')
        rows:
          - {nope: 1}
    expect: {rows: []}
"""
            )
        with pytest.raises(ValidationError, match="not found"):
            _with(
                """\
version: 2
unit_tests:
  - name: u1
    model: no_such_model
    given: []
    expect: {rows: []}
"""
            )
        with pytest.raises(ValidationError, match="expect column 'zzz'"):
            _with(
                """\
version: 2
unit_tests:
  - name: u1
    model: test_base_customer_features
    given:
      - input: source('test_sources', 'customer_base_table')
        rows: []
    expect:
      rows:
        - {zzz: 1}
"""
            )

    def test_empty_fixture_and_empty_expect(self, fs, tmp_path, base_table):
        """rows: [] mocks an EMPTY relation; expect rows: [] asserts
        empty output — the degenerate ends of the contract."""
        from dbt_snowflake_feature_store_spark import run_unit_tests

        yml = """\
version: 2
unit_tests:
  - name: ut_empty
    model: test_base_customer_features
    given:
      - input: source('test_sources', 'customer_base_table')
        rows: []
    expect:
      rows: []
"""
        proj = self._loaded(fs, tmp_path, base_table, yml=yml)
        res = run_unit_tests(fs, proj, strict=True)
        assert res[0]["passed"] and res[0]["rows"] == 0

    def test_csv_and_sql_fixtures(self, fs, tmp_path, base_table):
        """r15 (VERDICT-r14 #7): dbt 1.8 `format: csv` (inline text or
        tests/fixtures/<name>.csv file) and `format: sql` fixtures —
        both typed/completed by the REAL relation's schema exactly like
        dict rows; empty csv cells are NULLs."""
        import os as _os

        from dbt_snowflake_feature_store_spark import run_unit_tests

        yml = """\
version: 2
unit_tests:
  - name: ut_csv_inline
    model: test_base_customer_features
    given:
      - input: source('test_sources', 'customer_base_table')
        format: csv
        rows: |
          customer_id,age,country
          9,50,FR
          10,,DE
    expect:
      format: csv
      rows: |
        customer_id,f_base_age,f_base_country
        9,50,FR
        10,,DE
  - name: ut_csv_file
    model: test_base_customer_features
    given:
      - input: source('test_sources', 'customer_base_table')
        format: csv
        fixture: cust_fix
    expect:
      rows:
        - {customer_id: 11, f_base_age: 41, f_base_country: BR}
  - name: ut_sql_fix
    model: test_base_customer_features
    given:
      - input: source('test_sources', 'customer_base_table')
        format: sql
        rows: |
          SELECT 7 AS customer_id, 30 AS age, 'JP' AS country
    expect:
      format: sql
      rows: |
        SELECT 7 AS customer_id, 30 AS f_base_age, 'JP' AS f_base_country
"""
        proj = self._loaded(fs, tmp_path, base_table, yml=yml)
        fixdir = _os.path.join(proj, "tests", "fixtures")
        _os.makedirs(fixdir, exist_ok=True)
        with open(_os.path.join(fixdir, "cust_fix.csv"), "w") as f:
            f.write("customer_id,age,country\n11,41,BR\n")
        res = run_unit_tests(fs, proj, strict=True)
        assert [r["name"] for r in res] == [
            "ut_csv_file", "ut_csv_inline", "ut_sql_fix",
        ]
        assert all(r["passed"] for r in res)
        assert res[1]["rows"] == 2  # the NULL-age csv row survived

    def test_build_project_runs_unit_tests(self, fs, tmp_path, base_table):
        from dbt_snowflake_feature_store_spark import build_project

        proj = self._loaded(fs, tmp_path, base_table)
        # _loaded already registered models; a fresh store avoids
        # double-registration noise
        report = build_project(fs, proj, strict_tests=True)
        assert [r["name"] for r in report["unit_tests"]] == [
            "ut_age_grouping", "ut_source_mock",
        ]
        assert all(r["passed"] for r in report["unit_tests"])
        # a failing unit test fails the build
        import os as _os

        bad = self.UT_YML.replace("f_age_group: Young", "f_age_group: Wrong")
        with open(_os.path.join(proj, "unit.yml"), "w") as f:
            f.write(bad)
        with pytest.raises(ValidationError, match="ut_age_grouping"):
            build_project(fs, proj, strict_tests=True)


def test_manifest_carries_unit_test_nodes(fs, tmp_path, base_table):
    """r13: unit_tests: blocks export as unit_test.project.<name>
    manifest nodes parented on their target model; an unknown target
    fails the manifest exactly as run_unit_tests would."""
    from dbt_snowflake_feature_store_spark import export_manifest

    proj = _write_project(
        tmp_path,
        {**REFERENCE_PROJECT, "unit.yml": TestUnitTests.UT_YML},
    )
    fs.register_source("customer_base_table", base_table)
    load_project(fs, proj)
    man = export_manifest(fs, proj)
    uid = "unit_test.project.ut_age_grouping"
    assert man["nodes"][uid]["resource_type"] == "unit_test"
    assert man["parent_map"][uid] == [
        "model.project.test_derived_customer_features"
    ]
    assert uid in man["child_map"][
        "model.project.test_derived_customer_features"
    ]
    import os as _os

    bad = TestUnitTests.UT_YML.replace(
        "model: test_base_customer_features", "model: nope_model"
    )
    with open(_os.path.join(proj, "unit.yml"), "w") as f:
        f.write(bad)
    with pytest.raises(ValidationError, match="nope_model"):
        export_manifest(fs, proj)


class TestR13ReviewRegressions:
    """Round-13 self-review pins: mixed-case source declarations in
    unit-test fixtures, the duplicate-model guard in run_unit_tests'
    walk, exclude-only builds still running snapshots, and manifest
    duplicate unit-test names failing loudly."""

    MIXED_FV = """\
{{
  config(
    materialized='feature_view',
    entities=['test_customer_entity'],
    feature_view_version='1.0',
    timestamp_col='updated_at',
    desc='mixed-case source consumer'
  )
}}
SELECT customer_id, updated_at, age AS f_age
FROM {{ source('RAW_SRC', 'Cust_Base') }}
"""

    MIXED_SOURCES_YML = """\
version: 2

sources:
  - name: RAW_SRC
    tables:
      - name: Cust_Base
        identifier: customer_base_table
"""

    MIXED_UT_YML = """\
version: 2

unit_tests:
  - name: ut_mixed_case_source
    model: mixed_case_fv
    given:
      - input: source('RAW_SRC', 'Cust_Base')
        rows:
          - {customer_id: 7, age: 40}
    expect:
      rows:
        - {customer_id: 7, f_age: 40}
"""

    def test_mixed_case_source_declaration_binds_fixture(
        self, fs, tmp_path, base_table
    ):
        """Review r13 #2: unit-test fixture keys are lowercased, but
        sources.yml declarations keep their original case — the
        identifier remap must still bind (load_project resolves the
        same project fine; run_unit_tests must agree)."""
        from dbt_snowflake_feature_store_spark import run_unit_tests

        proj = _write_project(
            tmp_path,
            {
                "entities/test_customer_entity.sql": ENTITY_CUSTOMER,
                "features/mixed_case_fv.sql": self.MIXED_FV,
                "sources.yml": self.MIXED_SOURCES_YML,
                "unit.yml": self.MIXED_UT_YML,
            },
        )
        fs.register_source("customer_base_table", base_table)
        load_project(fs, proj)  # the build path resolves this fine
        res = run_unit_tests(fs, proj, strict=True)
        assert [r["name"] for r in res] == ["ut_mixed_case_source"]
        assert res[0]["passed"]

    def test_duplicate_model_name_raises_in_unit_tests(
        self, fs, tmp_path, base_table
    ):
        """Review r13 #4: run_unit_tests' project walk must enforce the
        same duplicate-model-name guard as load_project/run_data_tests
        — a silent overwrite could validate a test against the wrong
        model body."""
        from dbt_snowflake_feature_store_spark import run_unit_tests

        proj = _write_project(
            tmp_path,
            {
                **REFERENCE_PROJECT,
                "extra/test_base_customer_features.sql": FV_BASE,
                "unit.yml": TestUnitTests.UT_YML,
            },
        )
        fs.register_source("customer_base_table", base_table)
        with pytest.raises(ValidationError, match="Duplicate model name"):
            run_unit_tests(fs, proj)

    def test_exclude_only_build_still_runs_snapshots(
        self, fs, tmp_path, base_table
    ):
        """Review r13 #3: dbt `build --exclude m` (no --select) runs
        everything not excluded INCLUDING snapshots — the exclude
        grammar can only subtract models."""
        from dbt_snowflake_feature_store_spark import build_project

        _write_project(tmp_path, REFERENCE_PROJECT)
        snap_dir = tmp_path / "models" / "snapshots"
        snap_dir.mkdir(parents=True, exist_ok=True)
        (snap_dir / "cust.sql").write_text(TestBuildProject.SNAP)
        fs.register_source("customer_base_table", base_table)
        report = build_project(
            fs, str(tmp_path / "models"),
            at="2024-02-01 00:00:00",
            exclude=["test_derived_customer_features"],
        )
        assert report["snapshots"] is not None
        assert report["snapshots"]["CUST_SNAP"]["rows"] == 3
        # ... while a positive selection still skips them, as in dbt
        fs2_report = build_project(
            fs, str(tmp_path / "models"),
            at="2024-02-01 00:00:00",
            select=["test_base_customer_features"],
        )
        assert fs2_report["snapshots"] is None

    def test_manifest_duplicate_unit_test_name_raises(
        self, fs, tmp_path, base_table
    ):
        """Review r13 #6: export_manifest must refuse duplicate
        unit-test names (run_unit_tests' loud contract) instead of
        silently overwriting the node and its parent edge."""
        from dbt_snowflake_feature_store_spark import export_manifest

        dup_a = """\
version: 2

unit_tests:
  - name: ut_dup
    model: test_base_customer_features
    given:
      - input: source('test_sources', 'customer_base_table')
        rows: []
    expect:
      rows: []
"""
        dup_b = dup_a.replace(
            "test_base_customer_features", "test_derived_customer_features"
        ).replace(
            "input: source('test_sources', 'customer_base_table')",
            "input: ref('test_base_customer_features')",
        )
        proj = _write_project(
            tmp_path,
            {**REFERENCE_PROJECT, "ua.yml": dup_a, "ub.yml": dup_b},
        )
        fs.register_source("customer_base_table", base_table)
        load_project(fs, proj)
        with pytest.raises(ValidationError, match="Duplicate unit test"):
            export_manifest(fs, proj)


_YAML_FIXTURE = """\
defaults: &defaults
  materialized: feature_view
  tags: [a, b]
  on: yes
models:
  - name: m1
    <<: *defaults
    meta: {created: 2024-01-31, at: 2024-01-31 10:20:30, flag: on, off_flag: off}
    columns:
      - name: c1
        tests: [not_null, {accepted_values: {values: [1, 2.5, ~, "x"]}}]
      - name: c2
        nested: [[1, [2, 3]], {k: [yes, no, null]}]
  - name: m2
    <<: *defaults
    text: |
      multi
      line
"""


@pytest.mark.parametrize("source", ["metric_yml", "fixture"])
def test_c_and_python_yaml_loaders_build_equal_objects(source):
    """``_load_yaml`` takes libyaml's C loader when PyYAML has it; it must
    build exactly what the pure-Python SafeLoader builds."""
    import io

    yaml = pytest.importorskip("yaml")
    from dbt_snowflake_feature_store_spark.models import _load_yaml
    from dbt_snowflake_feature_store_spark.operators.feature_queries import (
        _METRIC_YML,
    )

    text = _METRIC_YML if source == "metric_yml" else _YAML_FIXTURE
    expected = yaml.load(text, Loader=yaml.SafeLoader)
    assert expected and _load_yaml(io.StringIO(text)) == expected
    if not yaml.__with_libyaml__:
        pytest.skip("PyYAML built without libyaml")
    assert yaml.load(text, Loader=yaml.CSafeLoader) == expected
