"""Per-layer metrics of a traced run, and the benchmark's metric catalogue.

Names are ``<layer>.<op>.<counter>``. Every metric is reported on every
workload; a layer the workload bypasses reads 0. Two aggregation rules:

* times (``*_s``, ``*_ms``) are medians over the measured operations of
  that kind (or over measured cycles, for per-cycle totals);
* counts (calls, stages, files, bytes, strategy counts) are taken from
  the first measured cycle only, averaged per operation, so two traced
  runs on one seed report the same counts however many cycles each
  fitted into its time.

Run ``python3 perfbench/layers.py`` to print the ``BENCHMARK.json`` this
catalogue implies.
"""

from __future__ import annotations

import json
import statistics

OPS = ["dataset", "refresh_incr", "refresh_full", "export", "lookup", "retrieve", "metric", "text", "analytics"]
STORE_OPS = OPS[:6]
QUERY_OPS = OPS[6:]
WRITE_OPS = ["dataset", "refresh_incr", "refresh_full", "export"]
PLAN_OPS = ["dataset", "export", "lookup", "retrieve"]
QUERY_KEYS = ["q_metric_conv_events", "q_dedup_near_portable", "q_cluster_kmeans"]
STORAGE_WRITES = ("storage.write_full", "storage.append", "storage.replace", "storage.merge")

WORKLOADS = [
    ("pit_training", "a PIT training set over four feature views, then a sweep of three query keys: pit, models and operators work; refresh, streaming and serving idle"),
    ("refresh_serve", "land a batch, refresh three managed views, export, serve point lookups and a batch retrieve: pit, models and operators idle"),
]

END_TO_END = [
    ("setup_s", "s", 0.25),
    ("cpu_s", "s", 0.25),
    ("peak_rss_mb", "MB", 0.15),
]


def _per_layer() -> list[tuple[str, str]]:
    m: list[tuple[str, str]] = []
    for op in OPS:
        m += [
            (f"spark.{op}.cpu_s", "s"), (f"spark.{op}.driver_s", "s"), (f"spark.{op}.shuffle_mb", "MB"),
            (f"spark.{op}.input_mb", "MB"), (f"spark.{op}.stages", "count"),
        ]
    m.append(("spark.spill_mb", "MB"))
    for op in STORE_OPS:
        m += [(f"registry.{op}.calls", "count"), (f"registry.{op}.s", "s")]
    m += [("registry.query.calls", "count"), ("registry.doc_kb", "KB")]
    m += [(f"store.{op}.plan_s", "s") for op in PLAN_OPS]
    m += [("pit.calls", "count"), ("pit.plan_s", "s"), ("pit.union", "count"), ("pit.broadcast", "count")]
    m += [
        ("refresh.calls.FULL", "count"), ("refresh.calls.INCREMENTAL", "count"),
        ("refresh.downgrades", "count"), ("refresh.useful_ratio", "ratio"),
        ("refresh.recompute_s", "s"), ("refresh.post_s", "s"),
    ]
    m += [("streaming.calls", "count"), ("streaming.s", "s"), ("streaming.rescan_ratio", "ratio"), ("streaming.merge_mb", "MB")]
    for op in WRITE_OPS:
        m += [
            (f"storage.{op}.write_calls", "count"), (f"storage.{op}.write_s", "s"),
            (f"storage.{op}.files_written", "count"), (f"storage.{op}.bytes_written_mb", "MB"),
        ]
    m += [("storage.recover_s", "s"), ("storage.write_amp", "ratio")]
    m += [("sources.calls", "count"), ("sources.s", "s"), ("models.calls", "count"), ("models.plan_s", "s")]
    for key in QUERY_KEYS:
        m += [(f"{key}.wall_s", "s"), (f"{key}.cpu_s", "s")]
    m += [
        ("dataset_s", "s"), ("refresh_incr_s", "s"), ("refresh_full_s", "s"), ("freshness_s", "s"),
        ("lookup_ms.p50", "ms"), ("lookup_ms.p95", "ms"), ("retrieve_s", "s"),
        ("query_s.metric", "s"), ("query_s.text", "s"), ("query_s.analytics", "s"),
        ("failed_ratio", "ratio"), ("trace.cycle_s", "s"),
        *[(f"trace.{n}", u) for n, u, _ in END_TO_END],
        ("harness.gen_s", "s"), ("harness.verify_s", "s"), ("harness.session_s", "s"), ("harness.control_s", "s"),
    ]
    return m


PER_LAYER = _per_layer()


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 10,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": "lower", "bound": b} for n, u, b in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": "higher" if n == "refresh.useful_ratio" else "lower"}
            for n, u in PER_LAYER
        ],
    }


# ----------------------------------------------------------------------
def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class _View:
    """Spans grouped by the operation they ran in."""

    def __init__(self, tracer) -> None:
        self.ops = tracer.ops
        self.spans = tracer.spans
        self.by_op: dict[int, list] = {}
        for sp in tracer.spans:
            if sp.op >= 0:
                self.by_op.setdefault(sp.op, []).append(sp)

    def measured(self, kinds=None):
        return [
            (i, o) for i, o in enumerate(self.ops) if o.cycle >= 0 and (kinds is None or o.kind in kinds)
        ]

    def first(self, kinds=None):
        return [(i, o) for i, o in self.measured(kinds) if o.cycle == 0]

    def outer(self, i: int, prefix) -> list:
        """Spans of op ``i`` named with ``prefix`` whose parent is not."""
        spans = self.by_op.get(i, [])
        return [
            s for s in spans
            if s.name.startswith(prefix)
            and not (s.parent >= 0 and self.spans[s.parent].name.startswith(prefix))
        ]

    def count(self, kinds, prefix, per_op: bool = True) -> float:
        first = self.first(kinds)
        n = sum(len(self.outer(i, prefix)) for i, _ in first)
        return n / len(first) if (first and per_op) else float(n)

    def time_per_op(self, kinds, prefix) -> float:
        return _median([sum(s.dur for s in self.outer(i, prefix)) for i, _ in self.measured(kinds)])

    def time_per_cycle(self, prefix) -> float:
        per: dict[int, float] = {}
        for i, o in self.measured():
            per[o.cycle] = per.get(o.cycle, 0.0) + sum(s.dur for s in self.outer(i, prefix))
        return _median(list(per.values()))


def per_layer(tracer, wl) -> dict:
    v = _View(tracer)
    out: dict[str, float] = {}

    def first_mean(kind, f):
        xs = [f(i, o) for i, o in v.first([kind])]
        return sum(xs) / len(xs) if xs else 0.0

    def med(kinds, f):
        return _median([f(i, o) for i, o in v.measured(kinds)])

    # spark engine, from the status store
    for op in OPS:
        out[f"spark.{op}.cpu_s"] = med([op], lambda i, o: o.stages["executorCpuTime"] / 1e9)
        out[f"spark.{op}.driver_s"] = med([op], lambda i, o: max(o.wall - o.stages["busy_s"], 0.0))
        out[f"spark.{op}.shuffle_mb"] = first_mean(op, lambda i, o: o.stages["shuffleWriteBytes"] / 1e6)
        out[f"spark.{op}.input_mb"] = first_mean(op, lambda i, o: o.stages["inputBytes"] / 1e6)
        out[f"spark.{op}.stages"] = first_mean(op, lambda i, o: o.stages["stages"])
    out["spark.spill_mb"] = sum(
        (o.stages["diskBytesSpilled"] + o.stages["memoryBytesSpilled"]) / 1e6 for _, o in v.first()
    )

    # registry
    for op in STORE_OPS:
        out[f"registry.{op}.calls"] = v.count([op], "registry.")
        out[f"registry.{op}.s"] = v.time_per_op([op], "registry.")
    out["registry.query.calls"] = v.count(QUERY_OPS, "registry.", per_op=False)
    docs = [
        s.info["doc_bytes"] for i, _ in v.first() for s in v.by_op.get(i, []) if "doc_bytes" in s.info
    ]
    out["registry.doc_kb"] = max(docs) / 1024 if docs else 0.0

    # store facade: time until the lazy DataFrame returns, physical writes excluded
    def plan_s(i, o):
        facade = sum(s.dur for s in v.outer(i, "store."))
        return facade - sum(s.dur for s in v.outer(i, "storage.") if s.name in STORAGE_WRITES)

    for op in PLAN_OPS:
        out[f"store.{op}.plan_s"] = med([op], plan_s)

    # pit
    pit = [s for i, _ in v.first() for s in v.outer(i, "pit.")]
    out["pit.calls"] = float(len(pit))
    out["pit.plan_s"] = v.time_per_cycle("pit.")
    out["pit.union"] = float(sum(s.info.get("strategy") == "union" for s in pit))
    out["pit.broadcast"] = float(sum(s.info.get("strategy") == "broadcast" for s in pit))

    # refresh
    def refreshes(ops):
        return [s for i, _ in ops for s in v.outer(i, "refresh.")]

    first_r, all_r = refreshes(v.first()), refreshes(v.measured())
    out["refresh.calls.FULL"] = float(sum(s.info["effective"] == "FULL" for s in first_r))
    out["refresh.calls.INCREMENTAL"] = float(sum(s.info["effective"].startswith("INCREMENTAL") for s in first_r))

    def downgraded(s):
        return s.info["requested"] in ("INCREMENTAL", "AUTO") and s.info["effective"] == "FULL"

    out["refresh.downgrades"] = float(sum(downgraded(s) for s in first_r))
    out["refresh.useful_ratio"] = (
        sum(not downgraded(s) for s in all_r) / len(all_r) if all_r else 0.0
    )
    out["refresh.recompute_s"] = _median([s.dur for s in all_r])
    posts = []
    for i, _ in v.measured(["refresh_incr", "refresh_full"]):
        outer = v.outer(i, "store.refresh")
        inner = v.outer(i, "refresh.")
        if outer and inner:
            posts.append(sum(s.dur for s in outer) - sum(s.dur for s in inner))
    out["refresh.post_s"] = _median(posts)

    # streaming
    first_incr = v.first(["refresh_incr"])
    n_stream = sum(len(v.outer(i, "streaming.")) for i, _ in first_incr)
    out["streaming.calls"] = float(sum(len(v.outer(i, "streaming.")) for i, _ in v.first()))
    out["streaming.s"] = _median(
        [s.dur for i, _ in v.measured(["refresh_incr"]) for s in v.outer(i, "streaming.")]
    )
    landed = getattr(wl, "N_BATCH", 0)
    read = sum(o.stages["inputRecords"] for _, o in first_incr)
    out["streaming.rescan_ratio"] = read / (n_stream * landed) if n_stream and landed else 0.0
    out["streaming.merge_mb"] = sum(
        o.stages["outputBytes"] / 1e6
        for i, o in first_incr
        if any(s.name == "storage.merge" for s in v.by_op.get(i, []))
    )

    # storage
    for op in WRITE_OPS:
        out[f"storage.{op}.write_calls"] = first_mean(
            op, lambda i, o: sum(s.name in STORAGE_WRITES for s in v.outer(i, "storage."))
        )
        out[f"storage.{op}.write_s"] = med(
            [op], lambda i, o: sum(s.dur for s in v.outer(i, "storage.") if s.name in STORAGE_WRITES)
        )
        out[f"storage.{op}.files_written"] = first_mean(op, lambda i, o: o.files)
        out[f"storage.{op}.bytes_written_mb"] = first_mean(op, lambda i, o: o.stages["outputBytes"] / 1e6)
    out["storage.recover_s"] = _median(
        [
            sum(s.dur for i, o in v.measured() if o.cycle == c for s in v.by_op.get(i, []) if s.name == "storage.recover")
            for c in {o.cycle for _, o in v.measured()}
        ]
    )
    writes = v.first(WRITE_OPS)
    live = sum(o.live_bytes for _, o in writes)
    out["storage.write_amp"] = sum(o.stages["outputBytes"] for _, o in writes) / live if live else 0.0

    # sources, models
    out["sources.calls"] = v.count(None, "sources.", per_op=False)
    out["sources.s"] = v.time_per_cycle("sources.")
    out["models.calls"] = v.count(None, "models.", per_op=False)
    out["models.plan_s"] = v.time_per_cycle("models.")

    # operators: per query key
    for key in QUERY_KEYS:
        out[f"{key}.wall_s"] = _median(wl.samples.get(f"{key}.wall_s", []))
        out[f"{key}.cpu_s"] = _median(
            [o.stages["executorCpuTime"] / 1e9 for _, o in v.measured(QUERY_OPS) if o.info.get("key") == key]
        )

    # the workload's own latencies, measured under tracing
    e2e = wl.e2e()
    for name in (
        "dataset_s", "refresh_incr_s", "refresh_full_s", "freshness_s", "lookup_ms.p50",
        "lookup_ms.p95", "retrieve_s", "query_s.metric", "query_s.text", "query_s.analytics",
    ):
        out[name] = e2e.get(name, 0.0)
    out["harness.verify_s"] = wl.verify_s
    return out


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
