"""FeatureStore — the user-facing API (SURVEY.md §2.A / §2.C).

Mirrors the ``snowflake-ml-python`` FeatureStore surface the reference
certifies compatibility with (/root/reference/integration_tests/
python_tests/test_feature_store_api.py, test_feature_store_workflows.py),
re-expressed Spark-first:

- registration/materialization lifecycle with change detection
  (/root/reference/macros/materializations/feature_view.sql:101-181)
- static FVs stay lazy SQL re-planned by Catalyst at read time (predicate
  pushdown into the view body is free — feature_view.sql:183-195)
- managed FVs materialize to partitioned Parquet and are refreshed by
  ``refresh()`` (FULL recompute / INCREMENTAL streaming — see refresh.py)
- ``generate_dataset`` does the point-in-time join (pit.py) per FV and
  folds left-to-right over the spine, preserving the spine row count.
"""

from __future__ import annotations

import hashlib
import json
import os
from functools import partial
from typing import Any, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import pit
from .errors import (
    ConfigurationChangeError,
    DatasetNotFoundError,
    EntityNotFoundError,
    FeatureViewNotFoundError,
    ValidationError,
)
from .objects import (
    Dataset,
    Entity,
    FeatureView,
    RefreshSpec,
    canonical_name,
    parse_logical_fv_name,
    physical_fv_name,
)
from .registry import Registry
from .storage import get_format


class _DocVanished(Exception):
    """Raised inside a locked_update mutator when the document was
    deleted between the caller's existence check and the locked read —
    the caller decides whether that is an error or a no-op."""


_FREQ_UNITS = {
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
}


def parse_freq(freq: str):
    """Parse a target-lag string like '1 minute' / '2 hours' into a
    timedelta (the refresh_freq surface, README.md:153, :232)."""
    import datetime as _dt

    parts = freq.strip().lower().split()
    if len(parts) != 2 or not parts[0].isdigit() or parts[1] not in _FREQ_UNITS:
        raise ValidationError(f"Invalid refresh_freq: {freq!r}")
    return _dt.timedelta(seconds=int(parts[0]) * _FREQ_UNITS[parts[1]])


def _spec_hash(doc: dict[str, Any]) -> str:
    """Stable hash of a feature-view spec — the no-recreate guarantee
    (feature_view.sql:175-180; test_feature_store_api.py:266-287)."""
    return hashlib.sha256(
        json.dumps(doc, sort_keys=True, default=str).encode()
    ).hexdigest()


class FeatureStore:
    """``FeatureStore(spark, root, name)`` — root is a directory (local,
    HDFS, or object store in production); all data lives under it."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        name: str = "FEATURE_STORE",
        create_if_not_exists: bool = True,
        table_format: str = "parquet",
        snapshot_history: int = 0,
    ):
        self.spark = spark
        self.root = os.path.abspath(root)
        self.name = canonical_name(name)
        self.registry = Registry(self.root)
        # managed-table storage backend: 'parquet' (snapshot-swap merge
        # emulation, always available) or 'delta' (real MERGE INTO when
        # delta-spark is present; silently falls back here — storage.py).
        # snapshot_history=N keeps the last N replaced managed-table
        # snapshots for time-travel (read_feature_view_snapshot).
        self.storage = get_format(table_format, history=snapshot_history)
        # session-scoped DataFrame cache for FVs registered from a df
        self._df_cache: dict[str, DataFrame] = {}
        # inside dataset_df: False until the first static FV binds the
        # batch sources, True after (one binding serves the whole plan);
        # None outside, where every plan binds afresh so a source changed
        # between two calls is seen by the next one
        self._sources_bound: bool | None = None
        if create_if_not_exists:
            self.registry.initialize()
        elif not self.registry.is_initialized():
            raise ValidationError(f"Feature store not initialized at {self.root}")

    # ------------------------------------------------------------------
    # Entities (entity.sql materialization ≡ register_entity)
    # ------------------------------------------------------------------
    def register_entity(self, entity: Entity) -> Entity:
        """Idempotent upsert (CREATE TAG IF NOT EXISTS semantics,
        entity.sql:30-34)."""
        self.registry.put("entities", entity.name, entity.to_doc())
        return entity

    def get_entity(self, name: str) -> Entity:
        doc = self.registry.get("entities", canonical_name(name))
        if doc is None:
            raise EntityNotFoundError(canonical_name(name), self.name)
        return Entity.from_doc(doc)

    def list_entities(self) -> DataFrame:
        """DataFrame with NAME / JOIN_KEYS / DESC columns
        (list_entities.sql:24-28; test_feature_store_api.py:53-59)."""
        rows = [
            (d["name"], d["join_keys"], d.get("desc", ""))
            for d in self.registry.list("entities")
        ]
        return self.spark.createDataFrame(
            rows, schema="NAME string, JOIN_KEYS array<string>, DESC string"
        )

    @staticmethod
    def _entity_names_of(doc: dict[str, Any]) -> list[str]:
        """Entity names from FV metadata, tolerating the legacy string
        form alongside canonical objects (SURVEY.md §1.2)."""
        return [
            e if isinstance(e, str) else e["name"]
            for e in doc.get("metadata", {}).get("entities", [])
        ]

    def delete_entity(self, name: str) -> None:
        name = canonical_name(name)
        users = [
            f"{d['name']}${d['version']}"
            for d in self.registry.list("feature_views")
            if name in self._entity_names_of(d)
        ]
        if users:
            raise ValidationError(
                f"Entity '{name}' is referenced by feature views: {users}"
            )
        if not self.registry.delete("entities", name):
            raise EntityNotFoundError(name, self.name)

    def _validate_entities_exist(self, names: Sequence[str]) -> list[Entity]:
        """validate_entity_exists.sql:13-27 — raise on first missing."""
        return [self.get_entity(n) for n in names]

    # ------------------------------------------------------------------
    # Sources (≡ dbt {{ source(...) }} bindings, sources.yml:4-9)
    # ------------------------------------------------------------------
    def register_source(
        self,
        name: str,
        path: str,
        format: str = "parquet",
        watermark_col: str | None = None,
        watermark_delay: str | None = None,
        schema: str | None = None,
        options: dict[str, str] | None = None,
    ) -> None:
        """Register a named source table. FV SQL references sources by
        name; the engine binds them to batch reads at plan time and to
        streaming reads at incremental-refresh time (streaming/
        incremental.py). ``watermark_col``/``watermark_delay`` set the
        late-data contract for streaming aggregations.

        ``format`` is any Spark DataSource (parquet, csv, json, orc,
        text, delta where the jar exists); ``schema`` (DDL string) and
        ``options`` (e.g. ``{"header": "true"}`` for CSV) make the
        non-self-describing formats usable — without an explicit schema
        CSV/JSON fall back to Spark inference, which costs an extra read
        of the data and can drift between runs, so production sources
        should always pin one."""
        key = canonical_name(name)
        self.registry.put(
            "sources",
            key,
            {
                "kind": "source",
                "name": name,
                "path": path,
                "format": format,
                "watermark_col": watermark_col,
                "watermark_delay": watermark_delay,
                "schema": schema,
                "options": options or {},
            },
        )

    def list_sources(self) -> DataFrame:
        rows = [
            (d["name"], d["path"], d.get("format", "parquet"))
            for d in self.registry.list("sources")
        ]
        return self.spark.createDataFrame(
            rows, schema="NAME string, PATH string, FORMAT string"
        )

    def _source_reader(self, doc: dict[str, Any]):
        reader = self.spark.read.format(doc.get("format", "parquet"))
        if doc.get("schema"):
            reader = reader.schema(doc["schema"])
        for k, v in (doc.get("options") or {}).items():
            reader = reader.option(k, v)
        return reader

    def _load_source(self, doc: dict[str, Any]) -> DataFrame:
        """Load a registered source with the SAME timestamp-layout
        normalization as ``sources.read_table`` (the hard invariant:
        every source read sees UTC TIMESTAMP whether the file stores
        ns-int64 or timestamp[us]/NTZ — ADVICE-r13 medium: freshness /
        model reads previously bypassed it). Footer-probed for parquet;
        other formats still get the dtype-driven NTZ repair."""
        from .sources import normalize_frame

        if doc.get("format", "parquet") == "parquet":
            self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = self._source_reader(doc).load(doc["path"])
        probe = (
            doc["path"] if doc.get("format", "parquet") == "parquet" else None
        )
        return normalize_frame(df, path=probe, table=doc.get("name", "?"))

    def _load_materialized(self, path: str) -> DataFrame:
        df = self.storage.read(self.spark, path)
        # drop the internal date-partition column (refresh.py) — it
        # exists for partition pruning, not for users
        return df.drop("_fs_dt") if "_fs_dt" in df.columns else df

    def _bind_batch_sources(self) -> None:
        """(Re-)create the temp views FV SQL resolves against: one per
        registered source, by name, and one per materialized managed FV,
        by physical name. The loads go through the session's signature
        cache (``sources.tables.cached_frame``): a source or
        materialization whose files have not changed since the last bind
        reuses its analyzed frame, so registering N views over S sources
        costs S loads, not N·S. Any file landed, rewritten or removed
        under a path — or a source re-registered with another path,
        format, schema or options — loads afresh, so nothing stale is
        served. The views themselves are re-created on every call: their
        names are session-global and must point at this store."""
        from .sources.tables import cached_frame

        for doc in self.registry.list("sources"):
            variant = (
                "source",
                doc.get("format", "parquet"),
                doc.get("schema"),
                json.dumps(doc.get("options") or {}, sort_keys=True, default=str),
            )
            try:
                df = cached_frame(
                    self.spark, doc["path"], partial(self._load_source, doc), variant
                )
                df.createOrReplaceTempView(doc["name"])
            except Exception:
                # a broken source must not block FVs that don't reference
                # it; an FV that DOES gets a clear unresolved-view error
                continue
        # Managed, materialized FVs are also addressable from SQL by
        # physical name (NAME__v1_0) — the analog of referencing a
        # Dynamic Table from a downstream model ({{ ref(...) }},
        # test_derived_customer_features.sql:1-12). A parquet-scan temp
        # view is cheap to bind (lazy, no job) and cannot recurse: only
        # materialized data is bound, never a re-planned SQL body.
        for doc in self.registry.list("feature_views"):
            path = doc.get("data_path")
            if not path:
                continue
            try:
                # repair an interrupted snapshot swap BEFORE the
                # signature is taken — a hit must not outlive it
                self.storage.recover(path)
                if not os.path.isdir(path):
                    continue
                df = cached_frame(
                    self.spark,
                    path,
                    partial(self._load_materialized, path),
                    ("feature_view", self.storage.name),
                )
                df.createOrReplaceTempView(
                    physical_fv_name(doc["name"], doc["version"])
                )
            except Exception:
                continue

    # ------------------------------------------------------------------
    # Feature views (feature_view.sql materialization)
    # ------------------------------------------------------------------
    def _fv_key(self, name: str, version: str) -> str:
        return physical_fv_name(name, version)

    def _fv_catalog_name(self, name: str, version: str) -> str:
        """Catalog table name for a bucketed materialization, prefixed
        with the store name: two FeatureStores in one session (or one
        metastore) must not collide on a same-named FV."""
        return f"{self.name}__{physical_fv_name(name, version)}"

    def _fv_data_path(self, name: str, version: str) -> str:
        return os.path.join(self.root, "feature_views", physical_fv_name(name, version))

    def register_feature_view(
        self,
        feature_view: FeatureView,
        version: str,
        overwrite: bool = False,
        on_configuration_change: str = "apply",
    ) -> FeatureView:
        """Register (and, for managed FVs with initialize=ON_CREATE,
        materialize) a feature view.

        Change-detection semantics per feature_view.sql:131-181:
        unchanged spec → no-op; refresh-config-only change → metadata
        update, no data rewrite; query change → recreate if
        ``on_configuration_change='apply'`` (or ``overwrite=True``), warn
        no-op if 'continue', raise if 'fail'.
        """
        fv = feature_view
        fv.version = str(version)
        entities = self._validate_entities_exist(fv.entity_names())
        fv.entity_docs = [
            {"name": e.name, "joinKeys": e.join_keys} for e in entities
        ]
        fv.fv_type = "MANAGED_FEATURE_VIEW" if fv.is_managed else "EXTERNAL_FEATURE_VIEW"

        df = self._plan(fv)
        # Catalyst analysis at registration = early error detection + schema
        # capture (schema-on-write per version, SURVEY.md §1.4)
        fv.schema_json = df.schema.json()
        if fv.timestamp_col and fv.timestamp_col not in [
            c.upper() for c in df.columns
        ]:
            raise ValidationError(
                f"timestamp_col '{fv.timestamp_col}' not in feature view output"
            )

        key = self._fv_key(fv.name, fv.version)
        new_doc = self._fv_doc(fv)
        old_doc = self.registry.get("feature_views", key)

        # cache BEFORE any early return: re-registering a DataFrame-backed
        # FV in a new session must restore readability even when the spec
        # is unchanged (the no-op branch below)
        if fv.df is not None and fv.sql is None:
            self._df_cache[key] = fv.df

        if old_doc is not None and not overwrite:
            old_core = {k: old_doc[k] for k in ("sql", "metadata", "schema")}
            new_core = {k: new_doc[k] for k in ("sql", "metadata", "schema")}
            if _spec_hash(old_core) == _spec_hash(new_core):
                if old_doc.get("refresh") == new_doc.get("refresh"):
                    # identical spec → no-op (feature_view.sql:175-180)
                    return self.get_feature_view(fv.name, fv.version)
                # config-only change → ALTER-equivalent: update registry row
                # only, never rewrite data (feature_view.sql:145-163)
                old_doc["refresh"] = new_doc["refresh"]
                self.registry.put("feature_views", key, old_doc)
                return self.get_feature_view(fv.name, fv.version)
            # query/schema changed
            policy = on_configuration_change.lower()
            if policy == "fail":
                raise ConfigurationChangeError(
                    f"Feature view '{fv.logical_name}' definition changed "
                    "and on_configuration_change='fail'"
                )
            if policy == "continue":
                return self.get_feature_view(fv.name, fv.version)
            # 'apply' falls through to full re-create: the previous
            # definition's materialization is now stale — drop it (and its
            # streaming checkpoint) so reads never serve old-query data
            self._drop_materialization(fv.name, fv.version)

        fv.status = "ACTIVE"
        self.registry.put("feature_views", key, self._fv_doc(fv))

        if fv.is_managed and fv.refresh.initialize == "ON_CREATE":
            self.refresh(fv.name, fv.version)
        return self.get_feature_view(fv.name, fv.version)

    def _fv_doc(self, fv: FeatureView) -> dict[str, Any]:
        return {
            "kind": "feature_view",
            "name": fv.name,
            "version": fv.version,
            "sql": fv.sql,
            "metadata": fv.metadata_json(),
            "object_info": fv.object_info_json(),
            "schema": fv.schema_json,
            "refresh": fv.refresh.to_doc() if fv.refresh else None,
            "buckets": fv.buckets,
            "cluster_by": fv.cluster_by,
            "desc": fv.desc,
            "status": fv.status,
            "data_path": self._fv_data_path(fv.name, fv.version)
            if fv.is_managed
            else None,
        }

    def _fv_from_doc(self, doc: dict[str, Any]) -> FeatureView:
        fv = FeatureView.__new__(FeatureView)
        fv.name = doc["name"]
        fv.version = doc["version"]
        fv.sql = doc["sql"]
        fv.df = self._df_cache.get(self._fv_key(doc["name"], doc["version"]))
        ts = doc["metadata"]["timestamp_col"]
        fv.timestamp_col = None if ts == "NULL" else ts
        fv.desc = doc.get("desc", "")
        fv.refresh = RefreshSpec.from_doc(doc.get("refresh"))
        fv.buckets = doc.get("buckets")
        fv.cluster_by = doc.get("cluster_by")
        fv.schema_json = doc.get("schema")
        fv.status = doc.get("status", "ACTIVE")
        fv.fv_type = doc["object_info"]["type"]
        # tolerate legacy string-form entities (readable pre-migration;
        # migrate_metadata upgrades them in the registry)
        fv.entity_docs = [
            {"name": canonical_name(e), "joinKeys": []} if isinstance(e, str) else e
            for e in doc["metadata"]["entities"]
        ]
        fv.entities = [e["name"] for e in fv.entity_docs]
        return fv

    def get_feature_view(self, name: str, version: str) -> FeatureView:
        doc = self.registry.get("feature_views", self._fv_key(name, str(version)))
        if doc is None:
            raise FeatureViewNotFoundError(canonical_name(name), str(version))
        return self._fv_from_doc(doc)

    def list_exposures(self) -> DataFrame:
        """Enumerate dbt exposures (models.load_exposures) — name, type,
        owner, dependency count, url — the impact-analysis index."""
        rows = [
            (
                d["name"],
                d["type"],
                (d.get("owner") or {}).get("name", ""),
                (d.get("owner") or {}).get("email", ""),
                len(d.get("depends_on") or []),
                d.get("url", ""),
            )
            for d in self.registry.list("exposures")
        ]
        return self.spark.createDataFrame(
            rows,
            schema=(
                "NAME string, TYPE string, OWNER_NAME string,"
                " OWNER_EMAIL string, N_DEPS int, URL string"
            ),
        )

    def list_semantic_models(self) -> DataFrame:
        """Enumerate dbt semantic models (models.load_semantic_layer) —
        name, bound model, entity/dimension/measure counts."""
        rows = [
            (
                d["name"],
                d["model"],
                len(d.get("entities") or []),
                len(d.get("dimensions") or []),
                len(d.get("measures") or []),
            )
            for d in self.registry.list("semantic_models")
        ]
        return self.spark.createDataFrame(
            rows,
            schema=(
                "NAME string, MODEL string, N_ENTITIES int,"
                " N_DIMENSIONS int, N_MEASURES int"
            ),
        )

    def list_metrics(self) -> DataFrame:
        """Enumerate dbt metrics (models.load_semantic_layer) — name,
        type, label, the measure/metric inputs."""
        rows = [
            (
                d["name"],
                d["type"],
                d.get("label", ""),
                json.dumps(d.get("type_params") or {}, sort_keys=True),
            )
            for d in self.registry.list("metrics")
        ]
        return self.spark.createDataFrame(
            rows,
            schema="NAME string, TYPE string, LABEL string, INPUTS string",
        )

    def list_feature_views(self) -> DataFrame:
        rows = [
            (
                d["name"],
                d["version"],
                d["object_info"]["type"],
                (d.get("refresh") or {}).get("refresh_freq"),
                (d.get("refresh") or {}).get("refresh_mode"),
                d.get("status", "ACTIVE"),
                d.get("desc", ""),
            )
            for d in self.registry.list("feature_views")
        ]
        return self.spark.createDataFrame(
            rows,
            schema=(
                "NAME string, VERSION string, TYPE string, REFRESH_FREQ string,"
                " REFRESH_MODE string, STATUS string, DESC string"
            ),
        )

    def _drop_materialization(self, name: str, version: str) -> None:
        """Remove an FV's data directory AND its streaming checkpoint —
        a stale checkpoint would make a later incremental refresh skip
        every already-processed source file (silent data loss). Also the
        catalog entry a bucketed materialization may hold."""
        import shutil

        self.spark.sql(
            f"DROP TABLE IF EXISTS {self._fv_catalog_name(name, version)}"
        )
        path = self._fv_data_path(name, version)
        for p in (path, path + "_ckpt"):
            if os.path.isdir(p):
                shutil.rmtree(p)

    def delete_feature_view(self, name: str, version: str) -> None:
        """Drop registry row + materialized data + streaming checkpoint
        (cleanup_old_metadata.py:28-105 ≡ DROP VIEW / DYNAMIC TABLE)."""
        key = self._fv_key(name, str(version))
        doc = self.registry.get("feature_views", key)
        if doc is None:
            raise FeatureViewNotFoundError(canonical_name(name), str(version))
        self.registry.delete("feature_views", key)
        self._df_cache.pop(key, None)
        self._drop_materialization(canonical_name(name), str(version))
        # online export is derived state — drop it with its FV
        okey = physical_fv_name(canonical_name(name), str(version))
        odoc = self.registry.get("online_stores", okey)
        if odoc is not None:
            self.registry.delete("online_stores", okey)
            import shutil

            shutil.rmtree(odoc.get("path", ""), ignore_errors=True)

    # -- planning / reading --------------------------------------------
    def _plan(self, fv: FeatureView) -> DataFrame:
        """Logical plan for the FV body: SQL text re-planned by Catalyst
        (view inlining + pushdown are free), or the cached DataFrame.
        Registered sources are bound as batch views first."""
        if fv.sql is not None:
            if not self._sources_bound:
                self._bind_batch_sources()
                if self._sources_bound is False:
                    self._sources_bound = True
            return self.spark.sql(fv.sql)
        if fv.df is not None:
            return fv.df
        raise ValidationError(
            f"Feature view '{fv.logical_name}' was registered from a "
            "DataFrame in another session and is not materialized; "
            "re-register it or use a managed feature view"
        )

    def read_feature_view(self, fv: FeatureView | str, version: str | None = None) -> DataFrame:
        """Read an FV as a DataFrame (≡ session.table('NAME$1.0'),
        test_feature_store_api.py:128-138).

        Managed + materialized → partitioned Parquet scan (pushdown,
        pruning). Static → lazy re-plan of the SQL body.
        """
        if isinstance(fv, str):
            if version is None:
                name, version = parse_logical_fv_name(fv)
            else:
                name = fv
            fv = self.get_feature_view(name, version)
        if fv.is_managed:
            path = self._fv_data_path(fv.name, fv.version)
            # bucketed FV: prefer the catalog table — that is where the
            # bucket metadata lives, and reading it is what eliminates
            # the FV-side Exchange in joins (objects.FeatureView.buckets)
            tbl = self._fv_catalog_name(fv.name, fv.version)
            if fv.buckets and self.spark.catalog.tableExists(tbl):
                return self.spark.table(tbl)
            # repair any interrupted snapshot swap BEFORE the existence
            # check — a crash between swap renames leaves no target dir
            self.storage.recover(path)
            if os.path.isdir(path):
                return self._load_materialized(path)
            if fv.refresh.initialize == "ON_SCHEDULE":
                raise ValidationError(
                    f"Managed feature view '{fv.logical_name}' has not been "
                    "refreshed yet (initialize=ON_SCHEDULE); call refresh()"
                )
        return self._plan(fv)

    def explain_feature_view(
        self, fv: FeatureView | str, version: str | None = None
    ) -> str:
        """Scale audit of an FV read: the one-line plan summary the
        PLANS.md audit uses (shuffle count, join strategies, top-k
        form, Python stages, pushed filters — plans/inspect.py)
        followed by Spark's physical plan. Planning only — no job
        runs."""
        from .plans.inspect import summarize

        df = self.read_feature_view(fv, version)
        line = summarize(df).line()
        plan = df._jdf.queryExecution().executedPlan().toString()
        return f"{line}\n\n{plan}"

    def profile_feature_view(
        self,
        fv: FeatureView | str,
        version: str | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Per-column data-quality profile of an FV (nulls, cardinality,
        range, moments) — one row per column, computed in a SINGLE
        aggregation pass over the FV regardless of column count
        (functions/profile.py). The sanity report behind the reference's
        own all-rows-have-features workflow assertions
        (test_feature_store_workflows.py:178-183)."""
        from .functions.profile import profile

        return profile(self.read_feature_view(fv, version), columns)

    def list_feature_view_snapshots(
        self, name: str, version: str
    ) -> list[int]:
        """Retained time-travel versions of a managed FV's table (empty
        unless the store was built with ``snapshot_history > 0``)."""
        fv = self.get_feature_view(name, version)
        if not fv.is_managed:
            raise ValidationError(
                f"Feature view '{fv.logical_name}' is static; no snapshots"
            )
        return getattr(self.storage, "snapshots", lambda p: [])(
            self._fv_data_path(fv.name, fv.version)
        )

    def read_feature_view_snapshot(
        self, name: str, version: str, snapshot: int
    ) -> DataFrame:
        """Time-travel read: the managed FV's table as it was BEFORE the
        replace that superseded retained snapshot ``snapshot`` — the
        reproducibility hook for re-running training against the exact
        state a past job saw."""
        fv = self.get_feature_view(name, version)
        if not fv.is_managed:
            raise ValidationError(
                f"Feature view '{fv.logical_name}' is static; no snapshots"
            )
        if not hasattr(self.storage, "read_version"):
            raise ValidationError(
                "time travel requires the parquet snapshot format "
                "(Delta keeps its own log-based versions)"
            )
        df = self.storage.read_version(
            self.spark, self._fv_data_path(fv.name, fv.version), snapshot
        )
        return df.drop("_fs_dt") if "_fs_dt" in df.columns else df

    def feature_view_changes(
        self,
        name: str,
        version: str,
        from_snapshot: int,
        to_snapshot: int | None = None,
    ) -> DataFrame:
        """Change feed between two states of a managed FV — the engine-
        side analog of Delta's Change Data Feed / a Dynamic Table's
        refresh delta: every row that differs between retained snapshot
        ``from_snapshot`` and ``to_snapshot`` (``None`` = the current
        table), labeled in ``_change_type`` with the Delta CDF
        vocabulary: ``insert`` / ``delete`` /
        ``update_preimage`` / ``update_postimage``.

        Row-level semantics: the diff is an exact row MULTISET
        difference (``exceptAll`` both ways — duplicate rows count);
        rows whose entity key appears on BOTH sides of the diff are
        labeled updates (pre/post), keys on one side only are plain
        inserts/deletes. For FVs whose entity key is not unique per row
        (timestamped histories), update labeling is key-grain: any
        changed key's rows are all pre/postimage.

        Scale: two exceptAll anti-diffs (one shuffle each on the full
        row hash), one DISTINCT key intersection (shuffles only the
        already-diffed rows — the delta, not the table), and broadcast
        semi/anti labeling of the delta against the changed-key set."""
        fv = self.get_feature_view(name, version)
        old = self.read_feature_view_snapshot(name, version, from_snapshot)
        new = (
            self.read_feature_view_snapshot(name, version, to_snapshot)
            if to_snapshot is not None
            else self.read_feature_view(fv)
        )
        new = new.select(old.columns)
        from .refresh import _merge_keys

        keys = _merge_keys(self, fv, old)
        if not keys:
            raise ValidationError(
                f"feature_view_changes('{fv.logical_name}'): no entity join "
                "keys present in the FV output"
            )
        added = new.exceptAll(old)
        removed = old.exceptAll(new)
        upd_keys = (
            added.select(keys).intersect(removed.select(keys))
        )  # DISTINCT by construction (intersect is set semantics)
        # NULL-safe labeling: intersect treats NULL keys as equal, so
        # upd_keys can contain NULL-keyed rows — the semi/anti joins must
        # match them too (eqNullSafe), else a changed NULL-keyed row is
        # mislabeled insert+delete instead of update_pre/postimage.
        uk = upd_keys.select(
            *[F.col(k).alias(f"_fs_uk_{k}") for k in keys]
        )
        cond = None
        for k in keys:
            term = F.col(k).eqNullSafe(F.col(f"_fs_uk_{k}"))
            cond = term if cond is None else cond & term
        post = added.join(F.broadcast(uk), cond, "left_semi").withColumn(
            "_change_type", F.lit("update_postimage")
        )
        ins = added.join(F.broadcast(uk), cond, "left_anti").withColumn(
            "_change_type", F.lit("insert")
        )
        pre = removed.join(F.broadcast(uk), cond, "left_semi").withColumn(
            "_change_type", F.lit("update_preimage")
        )
        dele = removed.join(F.broadcast(uk), cond, "left_anti").withColumn(
            "_change_type", F.lit("delete")
        )
        return post.unionAll(ins).unionAll(pre).unionAll(dele)

    def backfill(
        self,
        name: str,
        version: str,
        start: str,
        end: str,
        step_days: int = 1,
        strict: bool = False,
    ) -> list[int | str]:
        """Chunked historical materialization of a managed FV over
        [start, end) (ISO dates): one bounded job per ``step_days``
        slice, committed via dynamic partition overwrite — idempotent
        per chunk, resumable, bounded executor memory at any corpus
        size. ``strict=True`` REJECTS plans whose aggregation/window/
        dedup keys don't include the event timestamp (those groups span
        chunk boundaries → silent partial results); the default warns.
        See refresh.backfill_feature_view."""
        from .refresh import backfill_feature_view

        fv = self.get_feature_view(name, version)
        if not fv.is_managed:
            raise ValidationError(
                f"Feature view '{fv.logical_name}' is static; nothing to backfill"
            )
        return backfill_feature_view(self, fv, start, end, step_days, strict)

    # -- managed refresh --------------------------------------------------
    def refresh(self, name: str, version: str, mode: str | None = None) -> str:
        """Refresh a managed FV's materialization; returns the effective
        mode used. FULL → overwrite recompute; INCREMENTAL/AUTO → see
        refresh.py (streaming availableNow or high-watermark append,
        falling back to FULL when the plan isn't incrementalizable —
        mirrors Snowflake's AUTO downgrade, README.md:234)."""
        from .refresh import refresh_feature_view

        fv = self.get_feature_view(name, version)
        if not fv.is_managed:
            raise ValidationError(
                f"Feature view '{fv.logical_name}' is static; nothing to refresh"
            )
        if fv.status == "SUSPENDED":
            raise ValidationError(
                f"Feature view '{fv.logical_name}' is SUSPENDED; resume it first"
            )
        return refresh_feature_view(self, fv, mode=mode)

    def suspend_feature_view(self, name: str, version: str) -> FeatureView:
        """Pause a managed FV's refreshes (snowflake-ml
        ``FeatureStore.suspend_feature_view`` surface; the reference
        certifies wire-compat with that API, README.md:7-10, and asserts
        the ``status`` attribute, test_feature_store_api.py:97). The
        materialized data stays readable; ``refresh`` raises and
        ``due_for_refresh`` is False until resumed."""
        return self._set_fv_status(name, version, "SUSPENDED", managed_only=True)

    def resume_feature_view(self, name: str, version: str) -> FeatureView:
        """Re-activate a suspended managed FV (status → ACTIVE)."""
        return self._set_fv_status(name, version, "ACTIVE", managed_only=True)

    def _set_fv_status(
        self, name: str, version: str, status: str, managed_only: bool = False
    ) -> FeatureView:
        fv = self.get_feature_view(name, version)
        if managed_only and not fv.is_managed:
            raise ValidationError(
                f"Feature view '{fv.logical_name}' is static; "
                f"suspend/resume applies to managed feature views"
            )
        key = self._fv_key(fv.name, fv.version)

        def _mut(doc: dict[str, Any] | None) -> dict[str, Any]:
            if doc is None:
                raise _DocVanished()
            doc["status"] = status
            return doc

        try:
            self.registry.locked_update("feature_views", key, _mut)
        except _DocVanished:
            raise FeatureViewNotFoundError(fv.name, fv.version) from None
        fv.status = status
        return fv

    # ------------------------------------------------------------------
    # ANN indexes (IVF coarse quantizer + cell-partitioned layout):
    # build once at ingest, probe via partition pruning, and REFRESH ON
    # DRIFT — when the corpus walks away from the trained centroids the
    # coarse quantizer concentrates vectors in few cells and probe
    # recall decays, so refresh re-trains from a fresh bounded sample
    # and re-materializes the layout (the FAISS re-train discipline,
    # wired into the store's refresh surface).
    # ------------------------------------------------------------------
    def _ann_index_dir(self, name: str) -> str:
        return os.path.join(self.root, "ann_indexes", canonical_name(name))

    def _ann_current_dir(self, name: str) -> str:
        """Resolve the LIVE index version: ``CURRENT`` (written last,
        atomically via os.replace) names the version directory holding
        a matched (index.json, data) pair — centroids and the layout
        they partitioned can never be observed mismatched."""
        d = self._ann_index_dir(name)
        cur = os.path.join(d, "CURRENT")
        if not os.path.isfile(cur):
            raise ValidationError(
                f"ANN index '{name}' has no committed version on disk"
            )
        with open(cur) as f:
            token = f.read().strip()
        vdir = os.path.join(d, f"v_{token}")
        if not os.path.isdir(vdir):
            raise ValidationError(
                f"ANN index '{name}': CURRENT points at missing {vdir}"
            )
        return vdir

    def _ann_commit_version(self, name: str, write_fn) -> None:
        """Write a NEW (index file(s), data) version dir fully via
        ``write_fn(vdir)``, then flip ``CURRENT`` atomically. A crash at
        any point leaves the previous version live (the compact()/
        storage.replace commit-ordering discipline). Pruning retains the
        IMMEDIATELY-PREVIOUS generation and deletes only N-2 and older:
        a lazily-evaluated DataFrame from a prior ``ann_search`` (or a
        reader that resolved CURRENT just before the flip) keeps its
        parquet files through one refresh instead of failing mid-scan
        (ADVICE r8); two refreshes between a plan's creation and its
        action are out of contract."""
        import shutil
        import uuid as _uuid

        d = self._ann_index_dir(name)
        os.makedirs(d, exist_ok=True)
        cur_path = os.path.join(d, "CURRENT")
        prev_token = None
        if os.path.isfile(cur_path):
            with open(cur_path) as f:
                prev_token = f.read().strip()
        token = _uuid.uuid4().hex[:8]
        vdir = os.path.join(d, f"v_{token}")
        os.makedirs(vdir)
        write_fn(vdir)
        tmp = os.path.join(d, f"CURRENT.{token}.tmp")
        with open(tmp, "w") as f:
            f.write(token)
        os.replace(tmp, cur_path)  # the commit point
        keep = {f"v_{token}"}
        if prev_token:
            keep.add(f"v_{prev_token}")
        for entry in os.listdir(d):
            if entry.startswith("v_") and entry not in keep:
                shutil.rmtree(os.path.join(d, entry), ignore_errors=True)

    def _ann_load(self, doc: dict[str, Any], vdir: str):
        """(ivf_index | None, pq_index | None) for a committed version,
        per the registered index_type."""
        from .functions.similarity import IVFIndex, PQIndex

        itype = doc.get("index_type", "ivf")
        ivf = pq = None
        if itype in ("ivf", "ivfpq"):
            fname = "index.json" if itype == "ivf" else "ivf.json"
            ivf = IVFIndex.load(os.path.join(vdir, fname))
        if itype in ("pq", "ivfpq"):
            fname = "index.json" if itype == "pq" else "pq.json"
            pq = PQIndex.load(os.path.join(vdir, fname))
        return ivf, pq

    def _ann_write_version(
        self, doc: dict[str, Any], ivf, pq, df: DataFrame, vdir: str
    ) -> None:
        """Materialize one index version into ``vdir`` per type:

        - ``ivf``: corpus partitioned by nearest-centroid cell (probe =
          partition pruning) + centroids file.
        - ``pq``: codes-only table (id, _pq) — the raw vectors leave hot
          storage; scans stream m smallint codes per row + codebooks.
        - ``ivfpq``: codes partitioned by cell — probe prunes cells THEN
          streams codes (the FAISS IVFADC composition) + both files.
        """
        from pyspark.sql import functions as F

        itype = doc.get("index_type", "ivf")
        emb_col, id_col = doc["emb_col"], doc["id_col"]
        data = os.path.join(vdir, "data")
        if itype == "ivf":
            ivf.materialize(df, data, emb_col=emb_col)
            ivf.save(os.path.join(vdir, "index.json"))
        elif itype == "pq":
            (
                pq.encode(df, emb_col=emb_col, codes_col="_pq")
                .select(id_col, "_pq")
                .write.mode("overwrite")
                .parquet(data)
            )
            pq.save(os.path.join(vdir, "index.json"))
        elif itype == "ivfpq":
            enc = pq.encode(
                ivf.assign(df, emb_col, "_cell"), emb_col=emb_col, codes_col="_pq"
            ).select(id_col, "_pq", "_cell")
            enc.write.mode("overwrite").partitionBy("_cell").parquet(data)
            ivf.save(os.path.join(vdir, "ivf.json"))
            pq.save(os.path.join(vdir, "pq.json"))
        else:  # pragma: no cover — registry docs are closed-world
            raise ValidationError(f"unknown ANN index_type {itype!r}")

    def _ann_train(self, doc: dict[str, Any], df: DataFrame):
        from .functions.similarity import IVFIndex, PQIndex

        itype = doc.get("index_type", "ivf")
        ivf = pq = None
        if itype in ("ivf", "ivfpq"):
            ivf = IVFIndex.build(
                df,
                emb_col=doc["emb_col"],
                id_col=doc["id_col"],
                num_centroids=doc["num_centroids"],
                max_sample=doc["max_sample"],
            )
        if itype in ("pq", "ivfpq"):
            pq = PQIndex.build(
                df,
                emb_col=doc["emb_col"],
                id_col=doc["id_col"],
                m=doc["pq_m"],
                k=doc["pq_k"],
                max_sample=doc["max_sample"],
            )
        return ivf, pq

    def build_ann_index(
        self,
        name: str,
        df: DataFrame,
        emb_col: str = "embedding",
        id_col: str = "vec_id",
        index_type: str = "ivf",
        num_centroids: int = 16,
        max_sample: int = 10_000,
        pq_m: int = 8,
        pq_k: int = 16,
    ) -> None:
        """Train the chosen index family on a bounded deterministic
        sample of ``df`` (the ONLY collects in the build) and
        materialize the read layout:

        - ``index_type='ivf'``: coarse quantizer + corpus partitioned by
          nearest-centroid cell — probes prune to n_probe/num_centroids
          of the files.
        - ``'pq'``: product-quantizer codebooks + a codes-only table —
          ~32× smaller scans, asymmetric-distance scoring.
        - ``'ivfpq'``: both — cell pruning over codes (FAISS IVFADC).

        State on disk: a VERSIONED (index file(s) + layout) pair
        committed by an atomic ``CURRENT`` pointer flip; the registry
        records the parameters for introspection."""
        if index_type not in ("ivf", "pq", "ivfpq"):
            raise ValidationError(
                f"index_type must be 'ivf' | 'pq' | 'ivfpq', got {index_type!r}"
            )
        name = canonical_name(name)
        doc = {
            "name": name,
            "emb_col": emb_col,
            "id_col": id_col,
            "index_type": index_type,
            "num_centroids": num_centroids,
            "max_sample": max_sample,
            "pq_m": pq_m,
            "pq_k": pq_k,
            "refresh_count": 0,
        }
        ivf, pq = self._ann_train(doc, df)
        self._ann_commit_version(
            name, lambda vdir: self._ann_write_version(doc, ivf, pq, df, vdir)
        )
        self.registry.put("ann_indexes", name, doc)

    def refresh_ann_index(
        self,
        name: str,
        df: DataFrame,
        drift_factor: float = 1.5,
        force: bool = False,
    ) -> str:
        """Drift-aware maintenance: probe the current corpus against the
        index's build-time baseline (one scalar action per trained
        component — mean cell residual for IVF, mean reconstruction
        error for PQ; ``ivfpq`` refreshes when EITHER drifted); if it
        exceeds ``drift_factor``× (or ``force``), re-train from a fresh
        bounded sample and re-materialize the layout AS A NEW VERSION,
        committed by the atomic CURRENT flip — a failure mid-refresh
        leaves the old matched (quantizers, layout) pair live, never new
        centroids over an old layout. Returns ``'REFRESHED'`` or
        ``'SKIPPED'`` — the same vocabulary as FV refresh modes."""
        name = canonical_name(name)
        doc = self.registry.get("ann_indexes", name)
        if doc is None:
            raise ValidationError(f"ANN index '{name}' is not registered")
        vdir = self._ann_current_dir(name)
        ivf, pq = self._ann_load(doc, vdir)
        if not force:
            drifted = False
            for idx in (ivf, pq):
                if idx is not None and idx.needs_refresh(
                    df,
                    emb_col=doc["emb_col"],
                    id_col=doc["id_col"],
                    drift_factor=drift_factor,
                    max_sample=doc["max_sample"],
                ):
                    drifted = True
                    break
            if not drifted:
                return "SKIPPED"
        new_ivf, new_pq = self._ann_train(doc, df)
        self._ann_commit_version(
            name,
            lambda v: self._ann_write_version(doc, new_ivf, new_pq, df, v),
        )
        doc["refresh_count"] = int(doc.get("refresh_count", 0)) + 1
        self.registry.put("ann_indexes", name, doc)
        return "REFRESHED"

    def ann_search(
        self,
        name: str,
        query_vec: list[float],
        k: int = 10,
        n_probe: int = 4,
    ) -> DataFrame:
        """Probe the materialized layout. ``ivf``: the cell ``isin``
        filter is a PartitionFilter on the parquet scan — only n_probe
        cells' files are read (plan-asserted in tests/test_scale_plans
        .py); returns (id, cosine). ``pq``: ADC top-k over the codes
        table; ``ivfpq``: cell pruning then ADC — both return (id,
        adc_dist), ascending squared distance."""
        from pyspark.sql import functions as F

        name = canonical_name(name)
        doc = self.registry.get("ann_indexes", name)
        if doc is None:
            raise ValidationError(f"ANN index '{name}' is not registered")
        vdir = self._ann_current_dir(name)
        ivf, pq = self._ann_load(doc, vdir)
        data = os.path.join(vdir, "data")
        itype = doc.get("index_type", "ivf")
        id_col = doc["id_col"]
        if itype == "ivf":
            return ivf.search_materialized(
                self.spark,
                data,
                query_vec,
                k=k,
                n_probe=n_probe,
                emb_col=doc["emb_col"],
                id_col=id_col,
            )
        codes = self.spark.read.parquet(data)
        if itype == "ivfpq":
            cells = ivf.probe_cells(query_vec, n_probe)
            codes = codes.filter(F.col("_cell").isin(cells)).drop("_cell")
        return (
            codes.withColumn("_adc", pq.adc_expr(query_vec, "_pq"))
            .select(id_col, F.col("_adc").alias("adc_dist"))
            .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
            .limit(k)
        )

    # ------------------------------------------------------------------
    # Online store (offline → serving sync)
    # ------------------------------------------------------------------
    def _online_path(self, name: str, version: str) -> str:
        return os.path.join(
            self.root, "_online", physical_fv_name(name, version)
        )

    def _fv_join_keys(self, fv: FeatureView) -> list[str]:
        keys: list[str] = []
        for e in fv.entity_docs or [
            {"name": n, "joinKeys": self.get_entity(n).join_keys}
            for n in fv.entity_names()
        ]:
            keys.extend(e["joinKeys"])
        fv_map = {c.upper(): c for c in self.read_feature_view(fv).columns}
        missing = [k for k in keys if k not in fv_map]
        if missing:
            raise ValidationError(
                f"join keys {missing} missing from feature view "
                f"'{fv.logical_name}'"
            )
        return [fv_map[k] for k in keys]

    def _resolve_fv(
        self, fv: "FeatureView | str", version: str | None
    ) -> FeatureView:
        """FeatureView from any user spelling: a FeatureView passes
        through; a string resolves via the explicit ``version``
        argument, the ``NAME$VERSION`` logical form, or — when exactly
        one version of NAME is registered — that version. A versionless
        name with several registered versions raises (guessing would
        serve the wrong table); ADVICE r10: the old paths turned
        ``version=None`` into the literal registry key ``'None'`` and
        failed with a misleading not-found/no-export error."""
        if not isinstance(fv, str):
            return fv
        if version is not None:
            return self.get_feature_view(fv, version)
        try:
            name, ver = parse_logical_fv_name(fv)
            return self.get_feature_view(name, ver)
        except ValidationError:
            pass  # not a versioned spelling — resolve by registry scan
        cname = canonical_name(fv)
        versions = sorted(
            d["version"]
            for d in self.registry.list("feature_views")
            if canonical_name(d["name"]) == cname
        )
        if not versions:
            raise FeatureViewNotFoundError(cname, "<any>")
        if len(versions) > 1:
            raise ValidationError(
                f"Feature view '{fv}' has {len(versions)} registered "
                f"versions {versions}; pass version= (or 'NAME$VERSION') "
                "to disambiguate"
            )
        return self.get_feature_view(fv, versions[0])

    def export_online_store(
        self, fv: FeatureView | str, version: str | None = None
    ) -> str:
        """Materialize the LATEST feature row per entity key into a
        compact serving table — the offline→online sync every feature
        store performs so request-path lookups never scan history. The
        snapshot is ONE aggregate (``pit.latest_per_key``: the timestamp,
        then the as-of join's tiebreak hash, so an exact (key, ts) tie
        serves the row training attaches; no window sort; the
        q_fv_latest_snapshot plan shape), written through the store's
        crash-safe TableFormat swap. Timeless FVs export as-is (their
        body already has one row per key by the spine-invariant
        contract). Returns the table path; re-export replaces
        atomically. Read with ``read_online`` / point-filter with
        ``online_lookup`` (key predicates push down to the scan)."""
        fv = self._resolve_fv(fv, version)
        df = self.read_feature_view(fv)
        join_keys = self._fv_join_keys(fv)
        if fv.timestamp_col:
            ts_map = {c.upper(): c for c in df.columns}
            ts_col = ts_map[canonical_name(fv.timestamp_col)]
            snap = pit.latest_per_key(
                df, join_keys, ts_col, [c for c in df.columns if c not in join_keys]
            )
        else:
            snap = df
        path = self._online_path(fv.name, fv.version)
        self.storage.replace(self.spark, path, snap)
        import time as _time

        self.registry.put(
            "online_stores",
            physical_fv_name(fv.name, fv.version),
            {
                "name": fv.name,
                "version": fv.version,
                "path": path,
                "join_keys": join_keys,
                "exported_at": _time.time(),
            },
        )
        return path

    def read_online(
        self, fv: FeatureView | str, version: str | None = None
    ) -> DataFrame:
        """Read the exported online snapshot (one row per entity key)."""
        if isinstance(fv, str) and version is not None:
            # explicit version: the export registry alone decides (the
            # FV itself may have been deleted, leaving a repairable
            # orphan export — fsck's business, not a resolution error)
            name = canonical_name(fv)
        else:
            fv = self._resolve_fv(fv, version)
            name, version = fv.name, fv.version
        doc = self.registry.get(
            "online_stores", physical_fv_name(name, str(version))
        )
        if doc is None:
            raise ValidationError(
                f"Feature view '{name}' v{version} has no online export; "
                "call export_online_store first"
            )
        self.storage.recover(doc["path"])
        return self.storage.read(self.spark, doc["path"])

    def online_lookup(
        self,
        fv: FeatureView | str,
        version: str | None = None,
        keys: dict[str, Any] | None = None,
    ) -> DataFrame:
        """Point lookup against the online snapshot: equality predicates
        on the entity keys, pushed down to the parquet scan."""
        df = self.read_online(fv, version)
        col_map = {c.upper(): c for c in df.columns}
        for k, v in (keys or {}).items():
            ck = canonical_name(k)
            if ck not in col_map:
                raise ValidationError(f"lookup key '{k}' not in online table")
            df = df.filter(F.col(col_map[ck]) == F.lit(v))
        return df

    def retrieve_online_features(
        self,
        spine: DataFrame,
        fvs: Sequence["FeatureView | str"],
        versions: Sequence[str] | None = None,
    ) -> DataFrame:
        """Batch serving read: left-join the spine against each FV's
        ONLINE snapshot on its entity keys — the bulk form of
        ``online_lookup`` (scoring jobs, not request paths). Unlike
        ``retrieve_feature_values`` there is no point-in-time logic:
        the online table IS the latest-per-key state by construction,
        so each join is a plain equi-join (AQE broadcasts the snapshot
        when it is small; at entity-scale both sides shuffle on the
        key). Missing exports fail loudly; the FV's timestamp column
        (if any) rides along as the snapshot's as-of stamp."""
        out = spine
        original_spine = {c.upper() for c in spine.columns}
        for i, fv in enumerate(fvs):
            fv = self._resolve_fv(fv, versions[i] if versions else None)
            online = self.read_online(fv)
            keys = [c for c in online.columns if c.upper() in {
                k.upper() for k in self._fv_join_keys(fv)
            }]
            spine_map = {c.upper(): c for c in out.columns}
            missing = [k for k in keys if k.upper() not in spine_map]
            if missing:
                raise ValidationError(
                    f"spine is missing join key(s) {missing} for "
                    f"feature view '{fv.name}'"
                )
            cond = None
            for k in keys:
                c = out[spine_map[k.upper()]] == online[k]
                cond = c if cond is None else cond & c
            feature_cols = [c for c in online.columns if c not in keys]
            # Collisions with the CALLER's spine are the caller's to fix
            # — raise (silently dropping a requested feature is worse;
            # ADVICE r10). Collisions with columns an EARLIER FV join
            # added (e.g. two timestamped FVs sharing a ts column name)
            # have no caller-side fix — deterministically suffix with
            # the FV name instead (review r11).
            spine_clash = [
                c for c in feature_cols if c.upper() in original_spine
            ]
            if spine_clash:
                raise ValidationError(
                    f"feature column(s) {spine_clash} of feature view "
                    f"'{fv.name}' collide with columns already on the "
                    "spine — rename the spine columns or select them "
                    "off before retrieval"
                )
            renames = {
                c: f"{c}__{fv.name}"
                for c in feature_cols
                if c.upper() in spine_map
            }
            # The suffixed names themselves can still collide — listing
            # the same FV twice, or a column literally named x__fvname
            # on an earlier FV (ADVICE r11). Duplicate output columns
            # are silent downstream poison: raise.
            taken = {c.upper() for c in out.columns}
            taken |= {
                c.upper() for c in feature_cols if c not in renames
            }
            seen_targets: set[str] = set()
            for src, target in renames.items():
                tu = target.upper()
                if tu in taken or tu in seen_targets:
                    raise ValidationError(
                        f"renamed feature column '{target}' (from "
                        f"'{src}' of feature view '{fv.name}') still "
                        "collides with an existing output column — was "
                        "the same feature view listed twice?"
                    )
                seen_targets.add(tu)
            joined = out.join(online, cond, "left")
            out = joined.select(
                *[out[c] for c in out.columns],
                *[
                    online[c].alias(renames.get(c, c))
                    for c in feature_cols
                ],
            )
        return out

    def online_staleness(
        self, fv: FeatureView | str, version: str | None = None
    ) -> dict[str, Any]:
        """Staleness probe for an online export — the serving-side twin
        of the ANN drift probes: compare the CURRENT offline FV body
        against the exported snapshot and report how far serving has
        fallen behind. Returns ``exported_at`` / ``age_seconds`` (wall
        clock since export) plus, for timestamped FVs, ``stale_keys``
        (entity keys whose latest offline row is NEWER than the online
        row, including keys missing from the export entirely),
        ``total_keys`` and ``max_lag_seconds``; timeless FVs compare
        per-key row fingerprints instead (a changed or new key is
        stale). One aggregate over the offline body + one join against
        the (entity-cardinality-sized) online table — no window, no
        collect beyond the 1-row summary."""
        fv = self._resolve_fv(fv, version)
        doc = self.registry.get(
            "online_stores", physical_fv_name(fv.name, fv.version)
        )
        if doc is None:
            raise ValidationError(
                f"Feature view '{fv.name}' v{fv.version} has no online "
                "export; call export_online_store first"
            )
        import time as _time

        online = self.read_online(fv)
        offline = self.read_feature_view(fv)
        join_keys = self._fv_join_keys(fv)
        out: dict[str, Any] = {
            "exported_at": doc["exported_at"],
            "age_seconds": max(0.0, _time.time() - doc["exported_at"]),
        }
        if fv.timestamp_col:
            ts_map = {c.upper(): c for c in offline.columns}
            ts_col = ts_map[canonical_name(fv.timestamp_col)]
            off_latest = offline.groupBy(*join_keys).agg(
                F.max(ts_col).alias("__fs_off_ts")
            )
            on_ts = online.select(
                *join_keys, F.col(ts_col).alias("__fs_on_ts")
            )
            j = off_latest.join(on_ts, join_keys, "left")
            row = j.agg(
                F.count("*").alias("total"),
                F.sum(
                    (
                        F.col("__fs_on_ts").isNull()
                        | (F.col("__fs_off_ts") > F.col("__fs_on_ts"))
                    ).cast("long")
                ).alias("stale"),
                F.max(
                    F.when(
                        F.col("__fs_on_ts").isNotNull(),
                        F.unix_timestamp("__fs_off_ts")
                        - F.unix_timestamp("__fs_on_ts"),
                    )
                ).alias("lag"),
            ).collect()[0]
            out["total_keys"] = row["total"]
            out["stale_keys"] = row["stale"] or 0
            out["max_lag_seconds"] = max(0, row["lag"] or 0)
        else:
            cols = sorted(c for c in offline.columns if c not in join_keys)
            fp = F.md5(
                F.concat_ws(
                    "\x00",
                    *[
                        F.coalesce(F.col(c).cast("string"), F.lit("\x01"))
                        for c in cols
                    ],
                )
            )
            off_fp = offline.select(*join_keys, fp.alias("__fs_off_fp"))
            on_fp = online.select(*join_keys, fp.alias("__fs_on_fp"))
            j = off_fp.join(on_fp, join_keys, "left")
            row = j.agg(
                F.count("*").alias("total"),
                F.sum(
                    (
                        F.col("__fs_on_fp").isNull()
                        | (F.col("__fs_off_fp") != F.col("__fs_on_fp"))
                    ).cast("long")
                ).alias("stale"),
            ).collect()[0]
            out["total_keys"] = row["total"]
            out["stale_keys"] = row["stale"] or 0
            out["max_lag_seconds"] = None
        return out

    def refresh_online_store(
        self,
        fv: FeatureView | str,
        version: str | None = None,
        max_age_seconds: float | None = None,
        force: bool = False,
    ) -> dict[str, Any]:
        """Staleness-gated re-export (the refresh_ann_index contract):
        re-run ``export_online_store`` when the probe finds stale keys,
        when the export is older than ``max_age_seconds`` (the serving
        TTL), or when ``force``. Returns the probe dict plus
        ``refreshed``; a fresh export is skipped, not rewritten."""
        fv = self._resolve_fv(fv, version)
        probe = self.online_staleness(fv)
        stale = (
            force
            or probe["stale_keys"] > 0
            or (
                max_age_seconds is not None
                and probe["age_seconds"] > max_age_seconds
            )
        )
        if stale:
            self.export_online_store(fv)
        return {**probe, "refreshed": stale}

    def sweep_online_stores(
        self,
        max_age_seconds: float | None = None,
        refresh: bool = False,
    ) -> list[dict[str, Any]]:
        """Store-wide serving-freshness sweep — one call covering every
        online export (the scheduler-side loop `freshness_report` plays
        for managed FVs): probe each export with ``online_staleness``,
        optionally re-export the stale ones (``refresh=True`` applies
        the ``refresh_online_store`` gate with the same TTL). Returns
        one dict per export: name, version, the probe fields, and
        ``refreshed``. Exports whose FV has vanished are reported with
        ``error`` instead of crashing the sweep (fsck's job to
        repair)."""
        out: list[dict[str, Any]] = []
        for doc in self.registry.list("online_stores"):
            row: dict[str, Any] = {
                "name": doc["name"],
                "version": doc["version"],
            }
            try:
                fv = self.get_feature_view(doc["name"], doc["version"])
                if refresh:
                    row.update(
                        self.refresh_online_store(
                            fv, max_age_seconds=max_age_seconds
                        )
                    )
                else:
                    probe = self.online_staleness(fv)
                    stale = probe["stale_keys"] > 0 or (
                        max_age_seconds is not None
                        and probe["age_seconds"] > max_age_seconds
                    )
                    row.update({**probe, "stale": stale})
            except Exception as e:
                row["error"] = str(e)[:200]
            out.append(row)
        return out

    # ------------------------------------------------------------------
    # Metadata introspection & maintenance
    # ------------------------------------------------------------------
    def metadata_df(self) -> DataFrame:
        """The whole registry as a queryable DataFrame — our equivalent of
        INFORMATION_SCHEMA.TAG_REFERENCES introspection
        (/root/reference/integration_tests/python_tests/
        test_metadata_compatibility.py:107-128). Columns: KIND, NAME,
        VERSION, METADATA (JSON string parseable with from_json)."""
        import json as _json

        rows = []
        for kind in ("entities", "feature_views", "datasets", "sources"):
            for d in self.registry.list(kind):
                rows.append(
                    (kind, d.get("name"), d.get("version"), _json.dumps(d))
                )
        return self.spark.createDataFrame(
            rows, schema="KIND string, NAME string, VERSION string, METADATA string"
        )

    def migrate_metadata(self, dry_run: bool = True) -> list[dict[str, Any]]:
        """Find feature views whose ``entities`` metadata uses the legacy
        STRING form and upgrade them to the canonical object form
        ``{"name", "joinKeys"}`` — the engine-side equivalent of the
        reference's cleanup script, which classifies string-entities as
        OLD/BAD and object-entities as OK
        (/root/reference/scripts/cleanup_old_metadata.py:70-85;
        background: SURVEY.md §1.2 strings-vs-objects inconsistency).

        Returns a report row per affected FV; applies the rewrite when
        ``dry_run=False``."""
        report: list[dict[str, Any]] = []
        for key in self.registry.keys("feature_views"):
            doc = self.registry.get("feature_views", key)
            ents = doc.get("metadata", {}).get("entities", [])
            bad = [e for e in ents if isinstance(e, str)]
            if not bad:
                continue
            fixed = []
            for e in ents:
                if isinstance(e, str):
                    try:
                        jk = self.get_entity(e).join_keys
                    except EntityNotFoundError:
                        jk = []
                    fixed.append({"name": canonical_name(e), "joinKeys": jk})
                else:
                    fixed.append(e)
            report.append(
                {
                    "feature_view": f"{doc['name']}${doc['version']}",
                    "status": "OLD_FORMAT",
                    "string_entities": bad,
                    "action": "upgraded" if not dry_run else "would upgrade",
                }
            )
            if not dry_run:

                def _mut(
                    cur: dict[str, Any] | None, fixed: list = fixed
                ) -> dict[str, Any]:
                    if cur is None:
                        raise _DocVanished()
                    cur.setdefault("metadata", {})["entities"] = fixed
                    return cur

                try:
                    self.registry.locked_update("feature_views", key, _mut)
                except _DocVanished:
                    pass
        return report

    def compact(
        self,
        name: str,
        version: str,
        target_partitions_per_day: int = 1,
        max_records_per_file: int | None = None,
    ) -> int:
        """Rewrite a managed FV's materialization into few large files per
        date partition. Incremental refreshes append one file per
        micro-batch — at high refresh frequency that degrades scans
        (small-files problem). Copy-on-write snapshot swap, same safety
        as functions/merge.py. Returns the resulting file count.

        ``max_records_per_file`` (r8) bounds file size from above — the
        scale guard for skewed days: one task per day directory still
        writes MULTIPLE right-sized files when a hot day exceeds the
        cap, so compaction can never produce a single monster file."""
        import shutil
        import uuid

        fv = self.get_feature_view(name, version)
        if not fv.is_managed:
            raise ValidationError(
                f"Feature view '{fv.logical_name}' is static; nothing to compact"
            )
        path = self._fv_data_path(fv.name, fv.version)
        if not os.path.isdir(path):
            return 0
        if os.path.isdir(os.path.join(path, "_spark_metadata")):
            # streaming-sink dirs track files in _spark_metadata; a batch
            # rewrite would orphan the log (reads would miss compacted
            # files). Needs a log-aware rewrite — out of scope for v1.
            raise ValidationError(
                f"Feature view '{fv.logical_name}' is maintained by a "
                "streaming sink; compaction of streaming materializations "
                "is not supported (run a FULL refresh first)"
            )
        df = self.storage.read(self.spark, path)
        # crash-safe snapshot swap (storage.replace commit-marker
        # protocol) — a failure at any point leaves a readable table.
        # cluster_by layouts are re-established here: incremental
        # appends land unsorted, compaction restores the sorted files.
        cluster = list(fv.cluster_by or [])
        opts = (
            {"maxRecordsPerFile": str(max_records_per_file)}
            if max_records_per_file
            else None
        )
        if "_fs_dt" in df.columns:
            out_df = df.repartition(target_partitions_per_day, "_fs_dt")
            if cluster:
                out_df = out_df.sortWithinPartitions("_fs_dt", *cluster)
            self.storage.replace(
                self.spark, path, out_df, partition_by=["_fs_dt"],
                options=opts,
            )
        else:
            out_df = df.coalesce(max(1, target_partitions_per_day))
            if cluster:
                out_df = out_df.sortWithinPartitions(*cluster)
            self.storage.replace(self.spark, path, out_df, options=opts)
        out = self.storage.read(self.spark, path)
        return len(out.inputFiles())

    def fsck(self, repair_orphans: bool = False) -> list[dict[str, Any]]:
        """Store-wide integrity audit — the engine-side analog of the
        reference's stale-metadata scan
        (/root/reference/scripts/cleanup_old_metadata.py:28-105):
        cross-check the registry against on-disk state and report one
        finding per inconsistency.

        Checks: managed FVs registered ON_CREATE whose data directory
        is missing; materializations whose columns diverge from the
        registered schema; unreadable materializations; orphan data
        directories with no registry row (deleted when
        ``repair_orphans=True``); datasets whose files are gone.
        Returns ``[{"kind", "object", "issue", ...}]`` (empty = clean).
        Read-only unless ``repair_orphans``."""
        import json as _json
        import shutil as _shutil

        findings: list[dict[str, Any]] = []
        fv_phys: set[str] = set()
        for doc in self.registry.list("feature_views"):
            name, version = doc["name"], doc["version"]
            fv_phys.add(physical_fv_name(name, version))
            if doc.get("data_path") is None:
                continue  # static FV: nothing materialized
            path = doc["data_path"]
            initialize = (doc.get("refresh") or {}).get(
                "initialize", "ON_CREATE"
            )
            # recover BEFORE the existence check — a crash between the
            # swap renames leaves no target dir but a committed
            # __snapshot_<token> sibling; read_feature_view orders these
            # the same way (store.py read path)
            try:
                self.storage.recover(path)
            except Exception:
                pass
            if not os.path.isdir(path):
                if initialize == "ON_CREATE":
                    findings.append(
                        {
                            "kind": "feature_view",
                            "object": f"{name}${version}",
                            "issue": "missing_data",
                            "path": path,
                        }
                    )
                continue
            try:
                df = self.storage.read(self.spark, path)
                got = {c for c in df.columns if c != "_fs_dt"}
            except Exception as e:
                findings.append(
                    {
                        "kind": "feature_view",
                        "object": f"{name}${version}",
                        "issue": "unreadable",
                        "path": path,
                        "error": str(e)[:200],
                    }
                )
                continue
            if doc.get("schema"):
                want = {
                    f["name"] for f in _json.loads(doc["schema"])["fields"]
                }
                if got != want:
                    findings.append(
                        {
                            "kind": "feature_view",
                            "object": f"{name}${version}",
                            "issue": "schema_drift",
                            "missing": sorted(want - got),
                            "unexpected": sorted(got - want),
                        }
                    )
        def _is_maintenance_dir(d: str) -> bool:
            # ParquetSnapshotFormat siblings of a registered FV path:
            # <name>__history (time travel), transient __snapshot_<id> /
            # __old_<id> (crash-safe swap, cleaned by recover) — never
            # orphans when their base FV is registered (storage.py:25-28,
            # :142-159)
            for marker in ("__history", "__snapshot_", "__old_"):
                idx = d.rfind(marker)
                if idx > 0 and d[:idx] in fv_phys:
                    return True
            return False

        fv_root = os.path.join(self.root, "feature_views")
        if os.path.isdir(fv_root):
            for d in sorted(os.listdir(fv_root)):
                if d not in fv_phys and not _is_maintenance_dir(d):
                    finding = {
                        "kind": "feature_view",
                        "object": d,
                        "issue": "orphan_data",
                        "path": os.path.join(fv_root, d),
                    }
                    if repair_orphans:
                        _shutil.rmtree(os.path.join(fv_root, d))
                        finding["repaired"] = True
                    findings.append(finding)
        ds_paths: set[str] = set()
        for doc in self.registry.list("datasets"):
            path = doc.get("path")
            if path:
                ds_paths.add(os.path.abspath(path))
            if path and not os.path.isdir(path):
                findings.append(
                    {
                        "kind": "dataset",
                        "object": f"{doc['name']}.v{doc['version']}",
                        "issue": "missing_data",
                        "path": path,
                    }
                )
        # the reverse audit (VERDICT r6 item 8, the cleanup_old_metadata
        # stale-object scan applied to datasets): data directories under
        # datasets/<name>/<version> with no registry row are orphans —
        # reported always, deleted only under repair_orphans, same
        # opt-in contract as the FV orphan sweep above
        ds_root = os.path.join(self.root, "datasets")
        if os.path.isdir(ds_root):
            for nm in sorted(os.listdir(ds_root)):
                nd = os.path.join(ds_root, nm)
                if not os.path.isdir(nd):
                    continue
                for ver in sorted(os.listdir(nd)):
                    p = os.path.join(nd, ver)
                    if not os.path.isdir(p) or os.path.abspath(p) in ds_paths:
                        continue
                    finding = {
                        "kind": "dataset",
                        "object": f"{nm}.v{ver}",
                        "issue": "orphan_data",
                        "path": p,
                    }
                    if repair_orphans:
                        _shutil.rmtree(p)
                        finding["repaired"] = True
                    findings.append(finding)
                if repair_orphans and os.path.isdir(nd) and not os.listdir(nd):
                    os.rmdir(nd)
        # online exports and dbt snapshots joined the store surface in
        # r10 — audit both sides the same way: registered-but-missing
        # data is reported, on-disk dirs with no registry row are
        # orphans (deleted only under repair_orphans)
        for kind, subdir in (
            ("online_store", "_online"),
            ("snapshot", "_snapshots"),
        ):
            reg_kind = "online_stores" if kind == "online_store" else "snapshots"
            known: set[str] = set()
            for doc in self.registry.list(reg_kind):
                if kind == "online_store":
                    p = doc["path"]
                    obj = physical_fv_name(doc["name"], doc["version"])
                else:
                    p = os.path.join(self.root, "_snapshots", doc["name"])
                    obj = doc["name"]
                known.add(os.path.basename(p))
                try:
                    self.storage.recover(p)
                except Exception:
                    pass
                if not os.path.isdir(p):
                    findings.append(
                        {
                            "kind": kind,
                            "object": obj,
                            "issue": "missing_data",
                            "path": p,
                        }
                    )
            root = os.path.join(self.root, subdir)
            if os.path.isdir(root):
                for d in sorted(os.listdir(root)):
                    if d in known or any(
                        d[: d.rfind(m)] in known
                        for m in ("__history", "__snapshot_", "__old_")
                        if d.rfind(m) > 0
                    ):
                        continue
                    finding = {
                        "kind": kind,
                        "object": d,
                        "issue": "orphan_data",
                        "path": os.path.join(root, d),
                    }
                    if repair_orphans:
                        _shutil.rmtree(os.path.join(root, d))
                        finding["repaired"] = True
                    findings.append(finding)
        return findings

    def due_for_refresh(self, name: str, version: str) -> bool:
        """Freshness decision honoring ``refresh_freq`` (the Dynamic
        Table target-lag contract, README.md:232: "result is at most N
        behind sources"): True when the last completed refresh is older
        than the target lag (or there is none). The external scheduler —
        which lives outside the engine, as Snowflake's refresh service
        lives outside the dbt package — calls this per FV."""
        import datetime as _dt

        fv = self.get_feature_view(name, version)
        if not fv.is_managed or fv.status == "SUSPENDED":
            return False
        doc = self.registry.get("feature_views", self._fv_key(fv.name, fv.version))
        hist = doc.get("refresh_history", [])
        if not hist:
            return True
        last = _dt.datetime.fromisoformat(hist[-1]["completed_at"])
        lag = parse_freq(fv.refresh.refresh_freq)
        return _dt.datetime.now(_dt.timezone.utc) - last >= lag

    def freshness_report(self) -> DataFrame:
        """Store-wide target-lag audit — one row per MANAGED FV: the
        engine-side analog of monitoring DYNAMIC_TABLE_REFRESH_HISTORY
        lag (README.md:232 "result is at most N behind sources").
        Columns: NAME, VERSION, STATUS, TARGET_LAG, LAST_REFRESH_AT
        (ISO or null), LAG_SECONDS (age of the last refresh; null if
        never), DUE (the due_for_refresh decision), LAST_ROWS. The
        external scheduler reads this to decide what to refresh —
        registry-only, no table scans."""
        import datetime as _dt

        now = _dt.datetime.now(_dt.timezone.utc)
        rows = []
        for doc in self.registry.list("feature_views"):
            if not (doc.get("refresh") or {}).get("refresh_freq"):
                continue
            hist = doc.get("refresh_history", [])
            last = hist[-1] if hist else None
            lag = None
            if last:
                lag = int(
                    (
                        now - _dt.datetime.fromisoformat(last["completed_at"])
                    ).total_seconds()
                )
            rows.append(
                (
                    doc["name"],
                    doc["version"],
                    doc.get("status", "ACTIVE"),
                    doc["refresh"]["refresh_freq"],
                    last["completed_at"] if last else None,
                    lag,
                    self.due_for_refresh(doc["name"], doc["version"]),
                    last.get("rows") if last else None,
                )
            )
        return self.spark.createDataFrame(
            rows,
            schema=(
                "NAME string, VERSION string, STATUS string, "
                "TARGET_LAG string, LAST_REFRESH_AT string, "
                "LAG_SECONDS bigint, DUE boolean, LAST_ROWS bigint"
            ),
        )

    def refresh_history(self, name: str, version: str) -> DataFrame:
        """Refresh audit log for a managed FV — the engine-side
        DYNAMIC_TABLE_REFRESH_HISTORY equivalent. Columns: MODE,
        COMPLETED_AT (ISO string), ROWS."""
        key = self._fv_key(name, str(version))
        doc = self.registry.get("feature_views", key)
        if doc is None:
            raise FeatureViewNotFoundError(canonical_name(name), str(version))
        rows = [
            (h["mode"], h["completed_at"], h.get("rows"))
            for h in doc.get("refresh_history", [])
        ]
        return self.spark.createDataFrame(
            rows, schema="MODE string, COMPLETED_AT string, ROWS bigint"
        )

    def _record_refresh(self, fv: FeatureView, mode: str, n_rows: int | None) -> None:
        import datetime as _dt

        key = self._fv_key(fv.name, fv.version)
        entry = {
            "mode": mode,
            "completed_at": _dt.datetime.now(_dt.timezone.utc).isoformat(),
            "rows": n_rows,
        }

        # locked read-modify-write: a concurrent refresh of the same FV
        # (or a suspend/resume) must not clobber this history append
        def _mut(doc: dict[str, Any] | None) -> dict[str, Any]:
            if doc is None:
                raise _DocVanished()
            doc.setdefault("refresh_history", []).append(entry)
            return doc

        try:
            self.registry.locked_update("feature_views", key, _mut)
        except _DocVanished:
            pass

    # ------------------------------------------------------------------
    # Datasets (generate_dataset — the PIT training-set generator)
    # ------------------------------------------------------------------
    def generate_dataset(
        self,
        name: str,
        spine_df: DataFrame,
        features: Sequence[FeatureView],
        version: str = "1",
        spine_timestamp_col: str | None = None,
        spine_label_cols: Sequence[str] | None = None,
        desc: str = "",
        save: bool = True,
    ) -> Dataset:
        """Spine → fold as-of joins over each FV (test_feature_store_
        workflows.py:128-151): FVs with a timestamp_col get the PIT as-of
        join; FVs without get a plain left equi-join on the entity keys.
        The spine row count is invariant (:143, :178-183)."""
        name = canonical_name(name)
        spine_label_cols = list(spine_label_cols or [])
        for c in spine_label_cols:
            if c not in spine_df.columns:
                raise ValidationError(f"spine_label_col '{c}' missing from spine")
        if spine_timestamp_col and spine_timestamp_col not in spine_df.columns:
            raise ValidationError(
                f"spine_timestamp_col '{spine_timestamp_col}' missing from spine"
            )

        out = self.dataset_df(spine_df, features, spine_timestamp_col)
        ds = Dataset(
            name=name,
            version=str(version),
            path=os.path.join(self.root, "datasets", name, str(version)),
            spine_timestamp_col=spine_timestamp_col,
            spine_label_cols=spine_label_cols,
            feature_views=[fv.logical_name for fv in features],
            desc=desc,
            _spark=self.spark,
        )
        ds._storage = self.storage  # type: ignore[attr-defined]
        if save:
            self.storage.write_full(out, ds.path)
            self.registry.put(
                "datasets", f"{name}__v{ds.version}".replace(".", "_"), ds.to_doc()
            )
        else:
            ds._df = out  # type: ignore[attr-defined]
        return ds

    def dataset_df(
        self,
        spine_df: DataFrame,
        features: Sequence[FeatureView],
        spine_timestamp_col: str | None = None,
    ) -> DataFrame:
        """The unsaved dataset plan (for tests / previews). The batch
        sources are bound at most once per call, not once per static FV."""
        out = spine_df
        self._sources_bound = False
        try:
            for fv in features:
                out = self._join_one_fv(out, fv, spine_timestamp_col)
        finally:
            self._sources_bound = None
        return out

    def retrieve_feature_values(
        self,
        spine_df: DataFrame,
        features: Sequence[FeatureView],
        spine_timestamp_col: str | None = None,
        exclude_columns: Sequence[str] | None = None,
    ) -> DataFrame:
        """Enrich a spine with feature values WITHOUT saving a dataset —
        the ``snowflake-ml-python`` ``FeatureStore.retrieve_feature_values``
        surface the reference certifies wire-compat with
        (/root/reference/README.md:7-10; same PIT semantics as
        ``generate_dataset``, /root/reference/integration_tests/
        python_tests/test_feature_store_workflows.py:153-184). Lazy: the
        returned DataFrame is the join plan; nothing is materialized."""
        out = self.dataset_df(spine_df, features, spine_timestamp_col)
        if exclude_columns:
            have = {c.upper(): c for c in out.columns}
            missing = [c for c in exclude_columns if c.upper() not in have]
            if missing:
                raise ValidationError(
                    f"exclude_columns not in result: {missing}"
                )
            out = out.drop(*[have[c.upper()] for c in exclude_columns])
        return out

    def _join_one_fv(
        self,
        spine: DataFrame,
        fv: FeatureView,
        spine_timestamp_col: str | None,
    ) -> DataFrame:
        fv_df = self.read_feature_view(fv) if fv.version else self._plan(fv)
        # resolve join keys from the FV's entity docs (registry objects)
        keys: list[str] = []
        for e in fv.entity_docs or [
            {"name": n, "joinKeys": self.get_entity(n).join_keys}
            for n in fv.entity_names()
        ]:
            keys.extend(e["joinKeys"])
        # map canonical (UPPER) keys onto actual column spellings
        spine_map = {c.upper(): c for c in spine.columns}
        fv_map = {c.upper(): c for c in fv_df.columns}
        join_keys = []
        for k in keys:
            if k not in spine_map:
                raise ValidationError(f"join key '{k}' missing from spine")
            if k not in fv_map:
                raise ValidationError(
                    f"join key '{k}' missing from feature view '{fv.logical_name}'"
                )
            join_keys.append(spine_map[k])
            if fv_map[k] != spine_map[k]:
                fv_df = fv_df.withColumnRenamed(fv_map[k], spine_map[k])

        feature_cols = [c for c in fv_df.columns if c not in join_keys]
        ts_col = None
        if fv.timestamp_col:
            ts_col = fv_map.get(fv.timestamp_col, fv.timestamp_col.lower())
            feature_cols = [c for c in feature_cols if c != ts_col]
        # avoid column collisions across FVs (keep the first occurrence —
        # later FVs would otherwise shadow; collisions get a suffix).
        # Compare case-insensitively: Spark resolves names that way by
        # default, so 'F_TOTAL' vs 'f_total' is a real collision.
        spine_upper = {c.upper() for c in spine.columns}
        collisions = {c for c in feature_cols if c.upper() in spine_upper}
        if collisions:
            for c in collisions:
                fv_df = fv_df.withColumnRenamed(c, f"{c}_{fv.name}")
            feature_cols = [
                f"{c}_{fv.name}" if c in collisions else c for c in feature_cols
            ]

        if fv.timestamp_col and spine_timestamp_col:
            return pit.asof_join(
                spine,
                fv_df,
                on=join_keys,
                spine_ts=spine_timestamp_col,
                feature_ts=ts_col,
                feature_cols=feature_cols,
            )
        if fv.timestamp_col and not spine_timestamp_col:
            # timestamped FV, timeless spine → join the LATEST snapshot per
            # key (one aggregate, no window sort; ties broken as the as-of
            # join breaks them). A plain equi-join would duplicate spine
            # rows — violating the spine row-count invariant
            # (test_feature_store_workflows.py:143).
            latest = pit.latest_per_key(fv_df, join_keys, ts_col, feature_cols)
            return spine.join(latest, on=join_keys, how="left")
        return spine.join(
            fv_df.select(*join_keys, *feature_cols), on=join_keys, how="left"
        )

    def delete_dataset(self, name: str, version: str) -> None:
        key = f"{canonical_name(name)}__v{version}".replace(".", "_")
        doc = self.registry.get("datasets", key)
        if doc is None:
            raise DatasetNotFoundError(canonical_name(name), str(version))
        self.registry.delete("datasets", key)
        path = doc.get("path")
        if path and os.path.isdir(path):
            import shutil

            shutil.rmtree(path)

    def get_dataset(self, name: str, version: str) -> Dataset:
        key = f"{canonical_name(name)}__v{version}".replace(".", "_")
        doc = self.registry.get("datasets", key)
        if doc is None:
            raise DatasetNotFoundError(canonical_name(name), str(version))
        return Dataset.from_doc(doc, spark=self.spark)

    def list_datasets(self) -> DataFrame:
        rows = [
            (d["name"], d["version"], d.get("desc", ""))
            for d in self.registry.list("datasets")
        ]
        return self.spark.createDataFrame(
            rows, schema="NAME string, VERSION string, DESC string"
        )
