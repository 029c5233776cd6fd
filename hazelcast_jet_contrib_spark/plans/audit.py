"""Physical-plan audits: executable assertions about what matters at
100 TB — filters reaching the scan, projections pruned, small sides
broadcast, expressions staying inside whole-stage codegen, no
Python-UDF stages in hot paths.

The reference has no optimizer to audit (SURVEY.md §4.1) — its
"pushdown" is whatever the user passed into the client query. Here the
optimizer is Catalyst, so the engine's scale claims are checkable from
the formatted physical plan; these helpers turn `.explain("formatted")`
into assertions the test suite runs on every headline query
(tests/test_plan_audits.py).
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@dataclass
class PlanAudit:
    plan: str
    notes: list[str] = field(default_factory=list)
    # Count of WholeStageCodegen subtrees from the "codegen" explain
    # mode, captured by audit(). The formatted plan of an un-executed
    # AdaptiveSparkPlan carries no codegen markers at all, so a regex
    # over `plan` alone would report 0 even for fully-compiled queries.
    codegen_subtrees: int | None = None

    # -- scan-level ----------------------------------------------------
    def pushed_filters(self) -> list[str]:
        """Filters that reached the parquet scan (PushedFilters: [...])."""
        out: list[str] = []
        for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", self.plan):
            if m.group(1).strip():
                out.extend(p.strip() for p in m.group(1).split(","))
        return out

    def read_schemas(self) -> list[str]:
        """ReadSchema of every scan — what column pruning left behind."""
        return [m.group(1) for m in re.finditer(r"ReadSchema: (\S+)", self.plan)]

    def scans_read_only(self, *cols: str) -> bool:
        """True if every file scan reads a subset of `cols` (projection
        pruning worked; a scan reading all columns for a 2-column query
        is a bug at scale)."""
        want = set(cols)
        for schema in self.read_schemas():
            got = set(re.findall(r"(\w+):", schema))
            if not got <= want:
                self.notes.append(f"scan reads {sorted(got - want)} beyond {sorted(want)}")
                return False
        return True

    # -- join strategy -------------------------------------------------
    def broadcast_joins(self) -> int:
        return len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", self.plan))

    def shuffle_joins(self) -> int:
        return len(re.findall(r"SortMergeJoin|ShuffledHashJoin", self.plan))

    def exchanges(self) -> int:
        """Shuffle count (each Exchange is a full rewrite of the data —
        the thing to minimize). Counts only numbered operator nodes of
        THIS query's plan: the formatted tree header and any cached-plan
        text embedded in an InMemoryRelation detail block are unnumbered
        duplicates (a persisted subtree's exchange runs once at cache
        build, not per consumer), and ReusedExchange is excluded because
        a reused shuffle is exactly the rewrite we avoided."""
        return len(re.findall(r"^\(\d+\) Exchange", self.plan, re.M))

    def reused_exchanges(self) -> int:
        return len(re.findall(r"ReusedExchange", self.plan))

    # -- execution mode ------------------------------------------------
    def codegen_stages(self) -> int:
        if self.codegen_subtrees is not None:
            return self.codegen_subtrees
        return len(set(re.findall(r"WholeStageCodegen \((\d+)\)", self.plan)))

    def python_stages(self) -> int:
        """Python-boundary operators in the plan (BatchEvalPython =
        row-at-a-time UDF — never acceptable in a hot path; ArrowEval /
        MapInPandas / FlatMapGroupsInPandas = vectorized, acceptable
        where declared)."""
        return len(re.findall(r"BatchEvalPython", self.plan))

    def arrow_python_stages(self) -> int:
        """PHYSICAL Arrow-boundary operators, deduplicated by plan node
        id. The formatted plan prints every node twice (tree line +
        detail entry), and a persisted subtree's node is additionally
        re-printed under each InMemoryTableScan that consumes it — but
        a cached kernel runs ONCE at cache build, not per consumer
        (same rationale as exchanges()). Counting text occurrences
        would call a persist that *halves* the Python work a
        regression; counting unique node ids calls it what it is."""
        pat = r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas"
        ids = set(re.findall(rf"(?:{pat}) \((\d+)\)", self.plan))
        ids |= set(re.findall(rf"^\((\d+)\) (?:{pat})", self.plan, re.M))
        if ids:
            return len(ids)
        # un-numbered plan text (simple-mode explain): fall back to the
        # raw occurrence count so a Python stage can never hide
        return len(re.findall(pat, self.plan))


def _codegen_subtree_count(df: DataFrame, execute: bool) -> int | None:
    """Number of WholeStageCodegen subtrees Spark actually compiles for
    this query ("codegen" explain mode header: `Found N WholeStageCodegen
    subtrees.`). This is the span count to widen at 100 TB — every
    subtree is one fused JVM loop; anything outside them is interpreted
    row-at-a-time. Under AQE the subtrees only exist once the adaptive
    plan is finalized, so an accurate count requires running the query
    (`execute=True`; do this on a small SF) — without execution the
    header honestly reports "Found 0" and we return None instead."""
    try:
        if execute:
            # collect() runs THIS DataFrame's QueryExecution (count()
            # would plan a different query), finalizing the adaptive
            # plan so the codegen header is real. Small-SF only.
            df.collect()
        jqe = df._jdf.queryExecution()
        mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "codegen"
        )
        header = jqe.explainString(mode).splitlines()[0]
        m = re.search(r"Found (\d+) WholeStageCodegen subtrees", header)
        if m is None:
            return None
        n = int(m.group(1))
        return n if (n > 0 or execute) else None
    except Exception:  # py4j surface changed or plan not compilable
        return None


def _walk_executed_plan(df: DataFrame, visit, include_cached: bool = True) -> None:
    """Shared traversal of a finished execution's final adaptive plan:
    descends AdaptiveSparkPlan -> executedPlan, QueryStage -> plan, and
    cached (InMemoryTableScan) subtrees; skips ReusedExchange subtrees
    (their child is the original, already visited) and revisits no node
    (identity-hash seen-set). ``visit(simple_class_name, node)`` is
    called once per plan node — the per-metric leaf logic lives in the
    callers, the traversal lives HERE so a fix to the walk (a new AQE
    node type, the cachedPlan guard) cannot drift between them.

    ``include_cached=False`` stops at InMemoryTableScan without
    descending into the cached relation's BUILD plan: the metrics of a
    cached build's exchanges are frozen at materialization time but are
    otherwise indistinguishable from this execution's own, so a loop
    that re-reads a cache every iteration sees the same constant build
    contribution in every per-iteration measurement — excluding it
    isolates the shuffles THIS execution actually performed.

    ``visit`` may optionally accept a third positional argument: True
    when the node sits inside a cached relation's build plan (lets one
    traversal produce both the total and the live view —
    ``executed_shuffle_stats_with_live``)."""
    import inspect

    jvm = df.sparkSession._jvm
    seen: set[int] = set()
    try:
        wants_cached_flag = len(inspect.signature(visit).parameters) >= 3
    except (ValueError, TypeError):
        # some callables (builtins, certain partials) have no
        # introspectable signature — degrade to the 2-arg protocol
        # instead of failing inside the walk (ADVICE r13 #2)
        wants_cached_flag = False

    def walk(node, in_cached: bool) -> None:
        i = jvm.System.identityHashCode(node)
        if i in seen:
            return
        seen.add(i)
        cname = node.getClass().getSimpleName()
        if cname.startswith("AdaptiveSparkPlan"):
            walk(node.executedPlan(), in_cached)
            return
        if "QueryStage" in cname:
            walk(node.plan(), in_cached)
            return
        if "ReusedExchange" in cname:
            return
        if wants_cached_flag:
            visit(cname, node, in_cached)
        else:
            visit(cname, node)
        if "InMemoryTableScan" in cname and include_cached:
            try:
                walk(node.relation().cachedPlan(), True)
            except Exception:
                pass
        ch = node.children()
        for k in range(ch.size()):
            walk(ch.apply(k), in_cached)

    walk(df._jdf.queryExecution().executedPlan(), False)


def _sql_metrics(node) -> dict[str, int]:
    out: dict[str, int] = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def executed_shuffle_stats(df: DataFrame, include_cached: bool = True) -> dict[str, int]:
    """Measured shuffle totals of THIS DataFrame's finished execution,
    read from the executed plan's SQL metrics (the same accumulators the
    SparkListener bus publishes to the UI): summed ``shuffleRecordsWritten``
    / ``shuffleBytesWritten`` over every ShuffleExchange in the final
    adaptive plan, descending into query stages and cached (InMemoryScan)
    subtrees. The caller must have run an action on ``df`` itself
    (``collect()``; ``count()`` plans a different query). ReusedExchange
    and repeated scans of one cached relation are counted once — a reused
    shuffle is exactly the rewrite that was avoided.

    This is what turns "the LSH shuffle grows linearly" from a docstring
    claim into an executable assertion (tests/test_scale_rehearsal.py).

    ``include_cached=False`` excludes exchanges nested inside cached
    relations' build plans (frozen at materialization, re-reported
    verbatim by every later execution that scans the cache) — the view
    an iterative loop needs to measure what ONE sweep actually shuffles
    (tests/test_scale_rehearsal_analytics.py pagerank no-broadcast law).
    """
    totals = {"shuffle_records": 0, "shuffle_bytes": 0, "exchanges": 0}

    def visit(cname, node):
        if "ShuffleExchange" in cname:
            m = _sql_metrics(node)
            totals["exchanges"] += 1
            totals["shuffle_records"] += int(m.get("shuffleRecordsWritten", 0))
            totals["shuffle_bytes"] += int(m.get("shuffleBytesWritten", 0))

    _walk_executed_plan(df, visit, include_cached=include_cached)
    return totals


def executed_shuffle_stats_with_live(df: DataFrame) -> dict[str, int]:
    """Both shuffle views from ONE plan traversal: the
    ``executed_shuffle_stats`` totals plus ``live_*`` keys that exclude
    exchanges nested inside cached relations' build plans (frozen at
    materialization, re-reported verbatim by every later execution that
    scans the cache). The per-round view of an iterative operator
    (pagerank, connected components, kmeans, the classifier GD loop),
    read from each round's materialized frame by the rehearsal tests'
    collector (tests/test_scale_rehearsal_analytics.py)."""
    totals = {
        "shuffle_records": 0,
        "shuffle_bytes": 0,
        "exchanges": 0,
        "live_shuffle_records": 0,
        "live_shuffle_bytes": 0,
        "live_exchanges": 0,
    }

    def visit(cname, node, in_cached):
        if "ShuffleExchange" in cname:
            m = _sql_metrics(node)
            rec = int(m.get("shuffleRecordsWritten", 0))
            byt = int(m.get("shuffleBytesWritten", 0))
            totals["exchanges"] += 1
            totals["shuffle_records"] += rec
            totals["shuffle_bytes"] += byt
            if not in_cached:
                totals["live_exchanges"] += 1
                totals["live_shuffle_records"] += rec
                totals["live_shuffle_bytes"] += byt

    _walk_executed_plan(df, visit)
    return totals


def executed_scan_stats(df: DataFrame) -> dict[str, int]:
    """Measured file-scan totals of THIS DataFrame's finished execution:
    summed ``numFiles`` / ``filesSize`` over every file-source scan in
    the final adaptive plan. This is how partition pruning is PROVEN
    rather than claimed: a date-filtered query over a date-partitioned
    table must report fewer files than the table holds
    (tests/test_plan_audits.py). Caller must have run an action on
    ``df`` itself."""
    totals = {"files": 0, "bytes": 0, "scans": 0}

    def visit(cname, node):
        if "FileSourceScan" in cname:
            m = _sql_metrics(node)
            totals["scans"] += 1
            totals["files"] += int(m.get("numFiles", 0))
            totals["bytes"] += int(m.get("filesSize", 0))

    _walk_executed_plan(df, visit)
    return totals


def audit(df: DataFrame, execute: bool = False) -> PlanAudit:
    """Audit `df`'s physical plan. With `execute=True` the query is run
    first (use a small scale factor) so AQE-finalized facts — the
    whole-stage-codegen span count — are real rather than absent."""
    return PlanAudit(
        formatted_plan(df), codegen_subtrees=_codegen_subtree_count(df, execute)
    )
