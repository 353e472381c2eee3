"""Per-layer tracing for the benchmark, installed from outside the program.

``Tracer.install`` wraps the functions each layer is reached through
(registry, store facade, pit, refresh, streaming, storage, sources,
models). A name bound with ``from ... import`` lives in every importing
module, so each wrapper replaces every module attribute that holds the
original function. Each wrapped call records a span (name, start, end,
parent, op id) in memory.

``Tracer.op`` marks one benchmark operation. With tracing on it tags the
operation's Spark jobs with ``setJobGroup``, and when the operation ends
it reads the stages it ran from Spark's status store, before the
retained-stage limit can drop them, and lists the files the operation
left under the store root. Streaming micro-batches run on their own
thread under their own job group, so stages are attributed by id range:
with one client in a closed loop, every stage submitted during an
operation belongs to it. With tracing off ``op`` still times the
operation and reads its stages (outside the timed region), but no
wrapper is installed, no job group set and no file listed.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
from dataclasses import dataclass, field

PKG = "dbt_snowflake_feature_store_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    op: int = -1
    info: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Op:
    kind: str
    cycle: int
    start: float
    end: float = 0.0
    stages: dict = field(default_factory=dict)
    files: int = 0
    live_bytes: int = 0
    info: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class SparkStages:
    """Reads the stages submitted since the last harvest from the status
    store (``lastStageAttempt``; readable with the UI disabled)."""

    FIELDS = (
        "executorCpuTime",
        "executorRunTime",
        "shuffleReadBytes",
        "shuffleWriteBytes",
        "inputBytes",
        "inputRecords",
        "outputBytes",
        "diskBytesSpilled",
        "memoryBytesSpilled",
    )

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self.next_id = 0
        self.harvest()

    def _attempt(self, sid: int):
        try:
            return self._store.lastStageAttempt(sid)
        except Exception:  # py4j wraps NoSuchElementException
            return None

    def harvest(self) -> dict:
        """Totals over every stage submitted since the last harvest."""
        self._sc.listenerBus().waitUntilEmpty()
        tot = dict.fromkeys(self.FIELDS, 0)
        tot.update(stages=0, skipped=0, busy_s=0.0)
        intervals = []
        misses, sid = 0, self.next_id
        while misses < 3:
            sd = self._attempt(sid)
            sid += 1
            if sd is None:
                misses += 1
                continue
            misses, self.next_id = 0, sid
            if sd.status().toString() == "SKIPPED":
                tot["skipped"] += 1
                continue
            tot["stages"] += 1
            for k in self.FIELDS:
                tot[k] += int(getattr(sd, k)())
            sub, done = sd.submissionTime(), sd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        # busy time is the union of the stage intervals (stages overlap)
        end = None
        for s, e in sorted(intervals):
            if end is None or s > end:
                tot["busy_s"] += e - s
                end = e
            elif e > end:
                tot["busy_s"] += e - end
                end = e
        return tot


def data_files(root: str) -> dict[str, int]:
    """Size of every data file under ``root``, by relative path."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".crc") or f.startswith("."):
                continue
            p = os.path.join(d, f)
            try:
                out[os.path.relpath(p, root)] = os.path.getsize(p)
            except OSError:
                continue  # removed while listing
    return out


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.stages = SparkStages(spark)
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self.cycle = -1
        self.store_root: str | None = None
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def wrap(self, fn, name: str, post=None):
        tracer = self

        def traced(*args, **kwargs):
            ops = tracer.ops
            sp = Span(
                name,
                time.perf_counter(),
                parent=tracer._stack[-1] if tracer._stack else -1,
                op=len(ops) - 1 if ops and not ops[-1].end else -1,
            )
            tracer.spans.append(sp)
            tracer._stack.append(len(tracer.spans) - 1)
            try:
                out = fn(*args, **kwargs)
            finally:
                sp.end = time.perf_counter()
                tracer._stack.pop()
            if post is not None:
                post(sp, args, kwargs, out)
            return out

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced

    def self_times(self) -> list[float]:
        """Each span's duration minus the time its direct children cover."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent >= 0:
                child[sp.parent] += sp.dur
        return [sp.dur - c for sp, c in zip(self.spans, child)]

    def dump_spans(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                rec = {
                    "id": i, "name": sp.name, "start": sp.start, "end": sp.end,
                    "parent": sp.parent, "op": sp.op, "self_s": selfs[i], **sp.info,
                }
                f.write(json.dumps(rec) + "\n")

    # -- operations ----------------------------------------------------
    @contextlib.contextmanager
    def op(self, kind: str):
        """Time one operation and read the Spark stages it ran. Stages of
        untimed work in between (output checks) belong to no operation."""
        sc = self.spark.sparkContext
        self.stages.harvest()
        before = data_files(self.store_root) if self.enabled and self.store_root else None
        if self.enabled:
            sc.setJobGroup(f"bench-{len(self.ops)}", kind)
        op = Op(kind, self.cycle, time.perf_counter())
        self.ops.append(op)
        try:
            yield op
        finally:
            op.end = time.perf_counter()
            if self.enabled:
                sc.setJobGroup("bench-idle", "between operations")
            op.stages = self.stages.harvest()
            if before is not None:
                after = data_files(self.store_root)
                new = [p for p in after if before.get(p) != after[p]]
                op.files = len(new)
                tables = {os.path.join(*p.split(os.sep)[:2]) for p in new}
                op.live_bytes = sum(
                    s for p, s in after.items() if os.path.join(*p.split(os.sep)[:2]) in tables
                )

    # -- patching ------------------------------------------------------
    def _patch_everywhere(self, orig, replacement) -> None:
        """Replace every module-level binding of ``orig`` in the package."""
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == PKG or mname.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._restore.append((mod, attr, orig))
                    setattr(mod, attr, replacement)

    def _patch_method(self, cls, meth: str, name: str, post=None) -> None:
        orig = cls.__dict__[meth]
        self._restore.append((cls, meth, orig))
        setattr(cls, meth, self.wrap(orig, name, post))

    def install(self) -> None:
        import importlib

        from dbt_snowflake_feature_store_spark import models, pit, refresh, storage
        from dbt_snowflake_feature_store_spark.operators import registry as op_registry
        from dbt_snowflake_feature_store_spark.registry import Registry
        from dbt_snowflake_feature_store_spark.sources import tables
        from dbt_snowflake_feature_store_spark.store import FeatureStore
        from dbt_snowflake_feature_store_spark.streaming import incremental

        op_registry.queries()  # imports every operator module that binds a layer function
        for m in ("functions.text", "functions.sketches", "functions.ranks"):
            importlib.import_module(f"{PKG}.{m}")

        for meth in ("get", "put", "locked_update", "list", "delete", "exists", "keys"):
            self._patch_method(Registry, meth, f"registry.{meth}", post=_doc_size)
        for meth in (
            "generate_dataset", "read_feature_view", "dataset_df", "online_lookup",
            "retrieve_online_features", "export_online_store", "refresh",
        ):
            self._patch_method(FeatureStore, meth, f"store.{meth}")
        fmt = storage.ParquetSnapshotFormat
        for meth in ("write_full", "append", "replace", "merge", "recover"):
            self._patch_method(fmt, meth, f"storage.{meth}")
        for mod, fname, name, post in (
            (pit, "asof_join", "pit.asof_join", _pit_strategy),
            (refresh, "refresh_feature_view", "refresh.refresh_feature_view", _refresh_mode),
            (incremental, "incremental_refresh", "streaming.incremental_refresh", None),
            (tables, "read_table", "sources.read_table", None),
            (tables, "normalize_frame", "sources.normalize_frame", None),
            (models, "evaluate_metric", "models.evaluate_metric", None),
        ):
            orig = getattr(mod, fname)
            self._patch_everywhere(orig, self.wrap(orig, name, post))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._restore):
            setattr(obj, attr, orig)
        self._restore.clear()


# -- span annotations --------------------------------------------------
def _doc_size(span: Span, args, kwargs, out) -> None:
    doc = out if span.name == "registry.get" else (args[3] if span.name == "registry.put" else None)
    if isinstance(doc, dict) and doc.get("kind") == "feature_view":
        span.info["doc_bytes"] = len(json.dumps(doc))


def _pit_strategy(span: Span, args, kwargs, out) -> None:
    """The strategy the returned plan used: the union strategy adds a Union
    node to the spine's plan, the broadcast strategy adds none."""

    def unions(df) -> int:
        return df._jdf.queryExecution().logical().toString().count("Union")

    span.info["strategy"] = "union" if unions(out) > unions(args[0]) else "broadcast"


def _refresh_mode(span: Span, args, kwargs, out) -> None:
    fv = args[1]
    requested = kwargs.get("mode") or (args[2] if len(args) > 2 else None)
    span.info["requested"] = (requested or fv.refresh.refresh_mode or "AUTO").upper()
    span.info["effective"] = out
