"""Capture .explain("formatted") for named registry queries into
plans/r<N>/<query>_<tag>.txt, N being the registry's rotation round
(``registry._ROTATION_ROUND``) — the before/after plan evidence for the
optimization rounds.

Usage: python scripts/capture_plans.py <tag> <query-name> [...]
       (tag is e.g. "before" or "after"; query names are exact, live or
       retired)

Notes: EAGER queries (local-k collect, lineage-cut loops) return a frame
whose plan is only the final leg — often just a scan of the collected
result, which shows nothing of the operators that built it. The script
warns when a captured plan is only such a scan; dump the operator-level
relation with scripts/capture_op_plans.py instead.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from hazelcast_jet_contrib_spark.registry import _ROTATION_ROUND  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
OUT = REPO / "plans" / f"r{_ROTATION_ROUND}"
_RESULT_SCANS = ("Scan ExistingRDD", "LocalTableScan")


def _is_result_scan(plan: str) -> bool:
    """True when the physical plan tree is a lone scan of an already
    computed result (an eager query's collected rows or checkpoint)."""
    tree = plan.split("== Physical Plan ==", 1)[-1].strip().split("\n\n", 1)[0]
    nodes = [line.lstrip(" :+-*") for line in tree.splitlines()]
    return len(nodes) == 1 and nodes[0].startswith(_RESULT_SCANS)


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    from hazelcast_jet_contrib_spark import get_spark
    from hazelcast_jet_contrib_spark.registry import QUERIES, RETIRED_QUERIES

    spark = get_spark(app_name=f"capture_plans_{tag}")
    OUT.mkdir(parents=True, exist_ok=True)
    for name in names:
        fn = QUERIES[name] if name in QUERIES else RETIRED_QUERIES[name]
        df = fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out = OUT / f"{name}_{tag}.txt"
        out.write_text(plan)
        print(f"wrote {out.relative_to(REPO)} ({len(plan)} chars)")
        if _is_result_scan(plan):
            print(
                f"WARNING: {name}'s plan is only a scan of its computed "
                "result; dump its operator relation with "
                "scripts/capture_op_plans.py"
            )
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
