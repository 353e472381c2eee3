"""Plan inspection utilities — the engine's `.explain()` feedback loop.

Summarizes an executed plan into the scale-relevant facts: which filters
reached the scan, which joins broadcast vs shuffle, how many exchanges
(shuffles) the plan pays, whether top-k avoided a global sort. Used by the
scale tests and by ``python -m dbt_snowflake_feature_store_spark.plans.inspect``
to regenerate ``PLANS.md``.

Two scale-audit facts beyond raw operator counts:

- **Forced broadcast hints** (``forced-broadcast=[...]``): parsed from
  the OPTIMIZED logical plan (the executed plan can't distinguish a
  forced ``F.broadcast`` from an AQE size-checked choice — hints bypass
  ``autoBroadcastJoinThreshold`` and are honored at ANY size, so a hint
  on an SF-proportional table is a 100 TB failure even when the sf0.1
  plan looks fine). Each hint is labeled with the base table(s) under
  the hinted join side; a side that passed through an Aggregate /
  Deduplicate / Limit is labeled ``reduced(...)`` — bounded by its
  group-key domain, not the fact cardinality.
- **Checkpoint boundaries**: operators built on
  ``localCheckpoint`` (ranks.global_row_number / global_ntile — the
  range-exchange global-order primitives) sever lineage, so the final
  plan is a bare RDD scan and naive inspection reports
  ``shuffles=0 aggs=0`` — exactly the plans the audit exists to watch.
  Those primitives register their pre-checkpoint frames via
  ``register_subplan``; ``capture_subplans`` + ``summarize(df,
  extra_plans=...)`` fold the upstream counts back in and the PLANS.md
  row carries ``subplans=N`` instead of a vacuous stub.
"""

from __future__ import annotations

import contextlib
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from ..functions.literal import LIT_MARKER

# First column of each driver table → table name (used to label the
# relations under a broadcast hint).
_COL2TABLE = {
    "r_regionkey": "region",
    "n_nationkey": "nation",
    "c_custkey": "customer",
    "s_suppkey": "supplier",
    "p_partkey": "part",
    "o_orderkey": "orders",
    "l_orderkey": "lineitem",
    "event_id": "events",
    "doc_id": "documents",
    "vec_id": "embeddings",
}

# Tables whose size does NOT grow with scale factor — the only ones a
# forced broadcast hint is ever allowed on (plus derived/reduced frames).
BOUNDED_TABLES = frozenset({"region", "nation"})

_MARKER_RE = re.compile(r"^([ :]*)[+:]- ")
_HINT_RE = re.compile(r"(left|right)Hint=\([^)]*strategy=broadcast[^)]*\)")
_REDUCING_NODES = ("Aggregate", "Deduplicate", "GlobalLimit", "Expand")

# A Filter that pins a TABLE KEY column to a literal bounds the side to a
# constant row count regardless of SF (r11, VERDICT-r10 #3: q_rrf_fusion's
# ``vec_id == 0`` query-vector pick is one row at any scale — label it
# reduced so the registry-wide forced-broadcast sweep stays precise).
# l_orderkey equality is ≤7 lineitems — still a constant bound.
# A SMALL upper range bound (``key < 200`` / ``key <= 200``) is equally
# constant: every table key here is a non-negative integer, so at most
# ``literal`` distinct key values survive at ANY SF (× the schema-bounded
# per-key multiplicity, ≤7 for lineitem) — the r17 q_knn_join
# ``vec_id < 200`` exactness slice. Only literals ≤ _KEY_RANGE_MAX count;
# ``key >/>=`` keeps n−literal rows and must stay flagged (the regex
# requires the key on the LEFT and ``<``/``<=``/``=`` with a leading
# space, so `` >= lit`` never matches).
# NEGATED comparisons keep n−k rows — _filter_is_key_eq strips
# ``NOT (...)`` segments before matching so ``key != literal`` (and
# ``NOT (key < literal)``) slices of scaling tables stay FLAGGED (review
# r11: the bare regex matched inside the NOT and waved the exact weak
# class this sweep exists to catch).
_KEY_RANGE_MAX = 10_000
_KEY_EQ_RE = re.compile(
    r"\(?(?:cast\()?(?:"
    + "|".join(sorted(_COL2TABLE))
    + r")#\d+L?(?: as \w+\))? (=|<=?) (-?\d+)",
)
def _strip_not_segments(line: str) -> str:
    """Remove every ``NOT (...)`` segment with BALANCED parens — a bare
    regex can't strip ``NOT (cast(vec_id#5 as bigint) = 0)`` (nested
    parens), and an unstripped negated equality would be mislabeled
    reduced (review r11)."""
    out, i = [], 0
    while True:
        j = line.find("NOT (", i)
        if j < 0:
            out.append(line[i:])
            return "".join(out)
        out.append(line[i:j])
        depth, k = 0, j + 4  # j+4 = the opening paren
        while k < len(line):
            if line[k] == "(":
                depth += 1
            elif line[k] == ")":
                depth -= 1
                if depth == 0:
                    break
            k += 1
        i = k + 1


def _filter_is_key_eq(text: str) -> bool:
    for line in text.splitlines():
        if "Filter " not in line:
            continue
        for m in _KEY_EQ_RE.finditer(_strip_not_segments(line)):
            op, lit = m.group(1), int(m.group(2))
            if op == "=":
                return True
            # key < / <= small-literal: ≤ lit(+1) non-negative key values
            if 0 <= lit <= _KEY_RANGE_MAX:
                return True
    return False


def _marker_pos(line: str) -> int | None:
    m = _MARKER_RE.match(line)
    return len(m.group(1)) if m else None


def _child_subtrees(lines: list[str], idx: int) -> list[list[str]]:
    """Direct child subtrees of the tree node at ``lines[idx]`` in a
    Catalyst ``toString`` rendering (children indent the marker by 3)."""
    pos = _marker_pos(lines[idx])
    child_pos = 0 if pos is None else pos + 3
    subtrees: list[list[str]] = []
    current: list[str] | None = None
    for line in lines[idx + 1 :]:
        p = _marker_pos(line)
        if p is None:
            break  # back at an unindented root — past this subtree
        if p < child_pos:
            break  # left this node's subtree entirely
        if p == child_pos:
            current = [line]
            subtrees.append(current)
        elif current is not None:
            current.append(line)
    return subtrees


def _label_hinted_side(subtree: list[str]) -> str:
    text = "\n".join(subtree)
    tables = []
    # Literal driver-side data (codebooks, probe tables, constant dims) is
    # fixed-size BY CONSTRUCTION, never SF-proportional. It appears either
    # as a LocalRelation node (SQL VALUES) or — the PySpark-normal path —
    # as a LogicalRDD whose rows carry the functions.literal.LIT_MARKER
    # first column; both are excluded from the scaling-relation scan
    # (`(?<!Local)`: the old pattern matched the `Relation [` substring
    # inside LocalRelation and flagged 7 literal-frame keys as unbounded).
    literal_seen = "LocalRelation" in text
    for rel in re.finditer(r"(?:(?<!Local)Relation|LogicalRDD) \[([^\]#]+)", text):
        first_col = rel.group(1).split("#")[0].strip()
        if first_col == LIT_MARKER:
            literal_seen = True
            continue
        tables.append(_COL2TABLE.get(first_col, first_col or "?"))
    if not tables and literal_seen:
        return "literal"
    inner = ",".join(tables) if tables else "derived"
    if any(node in text for node in _REDUCING_NODES) or _filter_is_key_eq(text):
        return f"reduced({inner})"
    return inner


def forced_broadcasts(optimized_plan: str) -> list[str]:
    """Labels for every FORCED broadcast hint in an optimized logical
    plan — one entry per hinted join side, naming the base table(s)
    underneath (``reduced(...)`` when an aggregate/dedup/limit bounds
    the side before the hint)."""
    lines = optimized_plan.splitlines()
    out: list[str] = []
    for i, line in enumerate(lines):
        hints = [m.group(1) for m in _HINT_RE.finditer(line)]
        if not hints:
            continue
        children = _child_subtrees(lines, i)
        for side in hints:
            if len(children) >= 2:
                subtree = children[0] if side == "left" else children[1]
                out.append(_label_hinted_side(subtree))
            else:  # defensive: unexpected arity — still surface the hint
                out.append("?")
    return out


@dataclass
class PlanSummary:
    pushed_filters: list[str] = field(default_factory=list)
    read_schemas: list[str] = field(default_factory=list)
    broadcast_joins: int = 0
    sortmerge_joins: int = 0
    shuffledhash_joins: int = 0
    nestedloop_joins: int = 0
    shuffles: int = 0
    take_ordered: int = 0
    window_ops: int = 0
    hash_aggregates: int = 0
    python_evals: int = 0  # Pandas-UDF / mapInPandas stages (slow path)
    forced_broadcast_tables: list[str] = field(default_factory=list)
    rdd_scans: int = 0
    subplans: int = 0

    def unbounded_forced_broadcasts(self) -> list[str]:
        """Forced hints on SF-proportional sides — the 100 TB killers.
        Bounded dims and reduced/derived frames are fine."""
        bad = []
        for label in self.forced_broadcast_tables:
            if label.startswith("reduced(") or label in ("derived", "literal"):
                continue
            if all(t in BOUNDED_TABLES for t in label.split(",")):
                continue
            bad.append(label)
        return bad

    def line(self) -> str:
        joins = []
        if self.broadcast_joins:
            joins.append(f"{self.broadcast_joins}×broadcast")
        if self.sortmerge_joins:
            joins.append(f"{self.sortmerge_joins}×sort-merge")
        if self.shuffledhash_joins:
            joins.append(f"{self.shuffledhash_joins}×shuffled-hash")
        if self.nestedloop_joins:
            joins.append(f"{self.nestedloop_joins}×nested-loop")
        parts = [
            f"shuffles={self.shuffles}",
            f"joins=[{', '.join(joins) or 'none'}]",
            f"aggs={self.hash_aggregates}",
            f"windows={self.window_ops}",
        ]
        if self.take_ordered:
            parts.append("topk=TakeOrderedAndProject")
        if self.python_evals:
            parts.append(f"python-stages={self.python_evals}")
        if self.pushed_filters:
            parts.append(f"pushed-filters={len(self.pushed_filters)}")
        if self.forced_broadcast_tables:
            parts.append(
                f"forced-broadcast=[{', '.join(self.forced_broadcast_tables)}]"
            )
        if self.subplans:
            parts.append(f"subplans={self.subplans}(merged)")
        elif self.rdd_scans and not (
            self.shuffles or self.hash_aggregates or self.window_ops
        ):
            parts.append("checkpoint-boundary(upstream-not-captured)")
        return " ".join(parts)


# --- subplan capture (checkpoint-boundary visibility) ---------------------

_CAPTURE: list[str] | None = None


def register_subplan(df: DataFrame) -> None:
    """Called by checkpoint-based primitives (ranks._ranked) with the
    frame that is ABOUT to be materialized behind a lineage cut, so plan
    audits can still see its exchanges/sorts. No-op (and free) unless a
    ``capture_subplans`` block is active."""
    global _CAPTURE
    if _CAPTURE is None:
        return
    try:
        _CAPTURE.append(df._jdf.queryExecution().executedPlan().toString())
    except Exception:  # pragma: no cover — audit must never break the op
        pass


def checkpoint(df: DataFrame) -> DataFrame:
    """Register-then-checkpoint: a lazy lineage cut for a multiply-
    referenced frame, with the pre-cut plan registered so plan audits
    still see its exchanges."""
    register_subplan(df)
    return df.localCheckpoint(eager=False)


@contextlib.contextmanager
def capture_subplans():
    global _CAPTURE
    prev, _CAPTURE = _CAPTURE, []
    try:
        yield _CAPTURE
    finally:
        _CAPTURE = prev


# --- summarization ---------------------------------------------------------

def _count_into(s: PlanSummary, plan: str) -> None:
    for m in re.finditer(r"PushedFilters: \[([^\]]+)\]", plan):
        if m.group(1).strip():
            s.pushed_filters.append(m.group(1).strip())
    for m in re.finditer(r"ReadSchema: (struct<[^\n]+)", plan):
        s.read_schemas.append(m.group(1)[:120])
    s.broadcast_joins += plan.count("BroadcastHashJoin")
    s.sortmerge_joins += plan.count("SortMergeJoin")
    s.shuffledhash_joins += plan.count("ShuffledHashJoin")
    s.nestedloop_joins += plan.count("BroadcastNestedLoopJoin")
    s.shuffles += plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )
    s.take_ordered += plan.count("TakeOrderedAndProject")
    s.window_ops += plan.count("Window ") + plan.count("RunningWindowFunction")
    s.hash_aggregates += plan.count("HashAggregate")
    s.python_evals += (
        plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas")
    )
    s.rdd_scans += plan.count("Scan ExistingRDD")


def summarize(df: DataFrame, extra_plans: list[str] | None = None) -> PlanSummary:
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    s = PlanSummary()
    _count_into(s, plan)
    try:
        s.forced_broadcast_tables = forced_broadcasts(
            qe.optimizedPlan().toString()
        )
    except Exception:  # pragma: no cover
        pass
    for sub in extra_plans or []:
        _count_into(s, sub)
        s.subplans += 1
    return s


def main() -> None:
    import os
    import sys

    sys.path.insert(0, os.getcwd())
    from ..session import get_spark

    spark = get_spark("plan-inspect")
    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    lines = [
        "# PLANS — executed-plan summaries per query key",
        "",
        f"Generated by `python -m dbt_snowflake_feature_store_spark.plans.inspect` at `{sf_dir}`.",
        "Facts per plan: shuffle count, join strategies, aggregate/window",
        "operators, top-k form, Python (Arrow) stages, filters pushed to scans,",
        "FORCED broadcast hints (labeled with the tables under the hinted side —",
        "only bounded dims / reduced frames are acceptable), and checkpoint",
        "subplan merges (ranks-based keys register their pre-checkpoint frames",
        "so their rows are not vacuous RDD-scan stubs).",
        "",
    ]
    for key in sorted(queries):
        try:
            with capture_subplans() as subs:
                df = queries[key](spark, sf_dir)
                s = summarize(df, extra_plans=subs)
            lines.append(f"- `{key}`: {s.line()}")
        except Exception as e:  # pragma: no cover
            lines.append(f"- `{key}`: ERROR {e}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
