"""Plan introspection utilities.

The engine adds no custom Catalyst rules (SURVEY §4 — the reference's
hand-rolled tactics are all subsumed by Catalyst/AQE); what it adds instead
is plan *auditing*: every query's physical plan is reducible to a digest of
scale-relevant facts (pushed filters, join strategies, exchange count,
Python stage count) that tests assert over.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_formatted(df: DataFrame, mode: str = "formatted") -> str:
    """The explain string without printing (what ``df.explain`` prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def plan_digest(df_or_plan: DataFrame | str) -> dict[str, object]:
    """Scale-relevant facts from a physical plan.

    - ``exchanges``: shuffle/broadcast boundaries (each is cluster traffic)
    - ``joins``: strategies chosen (broadcast for dims, SMJ for fact-fact)
    - ``pushed_filters``: scans that received predicate pushdown
    - ``python_stages``: Arrow-batched Python hops (the slow path — should
      appear only where semantics require Python)
    - ``codegen_spans``: whole-stage codegen regions (wider is better)

    A frame taken with :func:`scholarmind_spark.util.lazy_checkpoint`
    plans as a ``LogicalRDD`` scan; the digest then also counts the plan
    of the frame the checkpoint was taken from (its ``_sm_checkpoint_of``
    tag), which runs once behind that scan.
    """
    plan = (
        df_or_plan if isinstance(df_or_plan, str) else explain_formatted(df_or_plan)
    )
    # "formatted" mode prints each node twice (tree + numbered detail), so
    # count node occurrences from the detail headers "(N) NodeName" only.
    nodes = re.findall(r"^\(\d+\) (\w+(?: parquet)?)", plan, re.M)
    joins = sorted(
        {
            n
            for n in nodes
            if n
            in (
                "BroadcastHashJoin",
                "SortMergeJoin",
                "ShuffledHashJoin",
                "BroadcastNestedLoopJoin",
                "CartesianProduct",
            )
        }
    )
    digest = {
        # "Exchange" = shuffle; BroadcastExchange intentionally excluded
        "exchanges": nodes.count("Exchange"),
        "joins": joins,
        "pushed_filters": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "scans": nodes.count("Scan parquet"),
        "python_stages": sum(
            nodes.count(n)
            for n in ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython")
        ),
        # formatted-mode plans annotate codegen as "[codegen id : N]" on
        # detail headers; "WholeStageCodegen (N)" only appears in
        # simple/codegen modes, so the old pattern always counted 0
        "codegen_spans": len(set(re.findall(r"\[codegen id : (\d+)\]", plan))),
    }
    src = getattr(df_or_plan, "_sm_checkpoint_of", None)
    if src is not None:
        inner = plan_digest(src)
        for k, v in inner.items():
            digest[k] = sorted({*digest[k], *v}) if k == "joins" else digest[k] + v
    return digest
