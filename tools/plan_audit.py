"""Physical-plan inventory for every registered query.

Writes PLANS.md: one row per query with the plan features that matter
at scale — join strategies, exchange (shuffle) count, Python lanes,
scan pushdown, codegen spans. The table makes plan regressions diffable
across rounds (a query silently gaining an Exchange or losing pushdown
shows up in `git diff PLANS.md`), and gives a reviewer the at-scale
story per query without re-deriving 96 explain outputs.

Usage:
    python tools/plan_audit.py [sf_dir]          # default sf0.01
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import queries  # noqa: E402
from etl_wlg_metlink_spark.session import build_session  # noqa: E402

#: (column label, plan-string marker) — counted per query. No codegen
#: column: AQE only annotates codegen ids in the executed final plan
#: (tests/test_plans.py pins codegen presence after collect()).
_FEATURES = (
    ("BHJ", "BroadcastHashJoin"),
    ("SMJ", "SortMergeJoin"),
    ("BNLJ", "BroadcastNestedLoopJoin"),
    # 'Exch' counts REAL exchanges only: formatted plans name shuffle
    # nodes bare 'Exchange', so that substring also hits every
    # 'ReusedExchange' — a reused shuffle counted as an extra exchange
    # overstates shuffle counts and produces spurious PLANS.md diffs
    # when reuse kicks in or out. Subtract reuse and report it in its
    # own column.
    ("Exch", "Exchange"),
    ("Reuse", "ReusedExchange"),
    ("Py", None),  # python lanes, see _PY_MARKERS
)
_PY_MARKERS = (
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "BatchEvalPython",
    "PythonUDTF",
    "MapInArrow",
)


def _plan_string(df) -> str:
    jdf = df._jdf
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return jdf.queryExecution().explainString(mode.fromString("formatted"))


def _count(plan: str, marker: str) -> int:
    return len(re.findall(re.escape(marker), plan))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # start from a clean artifact store (r13): consumer lanes plan as
    # a parquet read when a persisted artifact exists and as the full
    # mining pipeline when it doesn't, so a leftover store from a
    # previous process would make PLANS.md depend on run history.
    # Cold start + fixed registry order = deterministic output.
    from etl_wlg_metlink_spark import artifacts

    artifacts.clear(remove_persisted=True)
    spark = build_session(
        app_name="plan_audit",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    lines = [
        "# PLANS — physical-plan inventory "
        f"(generated by tools/plan_audit.py at {os.path.basename(sf_dir)})",
        "",
        "Legend: BHJ/SMJ/BNLJ = join operators; Exch = exchanges "
        "(shuffles/broadcasts, reused ones excluded); Reuse = "
        "ReusedExchange nodes; Py = Python eval lanes "
        "(Arrow-batched only — row-at-a-time would fail the plan tests; "
        "formatted mode lists each operator twice, tree + detail, so "
        "counts are 2x the operator count); Pushed = scan-level filter "
        "pushdown present. Codegen spans aren't listed — AQE only "
        "annotates them in executed plans (pinned by test_plans instead). "
        "Streaming lanes (s4-s7) materialize through a memory sink, so "
        "their rows reflect the post-run result table. Lanes that "
        "eagerly materialize (the LSH pair family l6/l7 and its "
        "consumers, l23's checkpointed rollup, iterative l22/l45) show "
        "near-empty plans here — their physical work ran at "
        "construction; their at-scale shapes are documented in the "
        "operator docstrings and pinned by test_plans.",
        "",
        "| query | BHJ | SMJ | BNLJ | Exch | Reuse | Py | Pushed |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, fn in queries().items():
        try:
            plan = _plan_string(fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            lines.append(f"| {name} | ERROR: {type(e).__name__} | | | | | | |")
            continue
        counts = {
            label: (
                sum(_count(plan, m) for m in _PY_MARKERS)
                if marker is None
                else _count(plan, marker)
            )
            for label, marker in _FEATURES
        }
        counts["Exch"] -= counts["Reuse"]
        pushed = "yes" if "PushedFilters: [" in plan.replace(
            "PushedFilters: []", ""
        ) else ""
        lines.append(
            f"| {name} | {counts['BHJ'] or ''} | {counts['SMJ'] or ''} "
            f"| {counts['BNLJ'] or ''} | {counts['Exch'] or ''} "
            f"| {counts['Reuse'] or ''} | {counts['Py'] or ''} | {pushed} |"
        )
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(lines)} lines)")


if __name__ == "__main__":
    main()
