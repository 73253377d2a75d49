"""Generate PLANS.md: a physical-plan audit of every declared query.

For each `queries()` entry (planned against sf0.001): number of
exchanges (shuffles), join strategies, pushed filters present, and
whether Python (Arrow) stages appear. Run after plan-affecting changes:

    python tools/plan_audit.py
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(p: str) -> dict:
    def count_node(node: str) -> int:
        return len(re.findall(rf"^\(\d+\) {re.escape(node)}", p, re.M))

    joins = []
    for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        c = count_node(j)
        if c:
            joins.append(f"{j.replace('Join', '')}×{c}")
    return {
        "exchanges": count_node("Exchange"),
        "joins": " ".join(joins) or "—",
        "pushdown": "yes" if re.search(r"PushedFilters: \[[^\]]", p) else "—",
        "python": "arrow" if re.search(
            r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas"
            r"|MapInArrow", p) else "jvm",
        "aqe": "yes" if "AdaptiveSparkPlan" in p else "—",
    }


def main() -> None:
    import __spark_entry__ as em
    from tools.measure import session

    spark = session("plan-audit")
    rows = []
    for name, fn in em.queries().items():
        try:
            rows.append((name, audit(plan_of(fn(spark, SF)))))
        except Exception as exc:  # noqa: BLE001
            # keep the markdown table intact: exception text routinely
            # contains newlines and pipes
            msg = str(exc).splitlines()[0].replace("|", " ")[:60]
            rows.append((name, {"exchanges": "ERR", "joins": msg,
                                "pushdown": "", "python": "", "aqe": ""}))
        # audit STANDALONE plans, as the bench/driver run them: an
        # earlier query's persisted fragment would otherwise rewrite a
        # later query's plan around an InMemoryRelation
        spark.catalog.clearCache()
    with open("PLANS.md", "w") as f:
        f.write(
            "# PLANS — physical-plan audit of every declared query\n\n"
            "Auto-generated by `tools/plan_audit.py` (planned at sf0.001, "
            "AQE on; counts are physical-plan nodes before adaptive "
            "re-planning). 'python=arrow' marks queries whose semantics "
            "need an Arrow-batched stage (MinHash/SimHash signatures, "
            "GEMM groups, media decode, S2, local LR) — everything else "
            "is whole-stage-codegen JVM.\n\n"
            "| query | shuffles | joins | pushdown | row path | AQE |\n"
            "|---|---|---|---|---|---|\n")
        for name, a in rows:
            f.write(f"| {name} | {a['exchanges']} | {a['joins']} | "
                    f"{a['pushdown']} | {a['python']} | {a['aqe']} |\n")
    print(f"wrote PLANS.md ({len(rows)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
