"""Physical-plan inspection helpers.

Used two ways:
- engine `::explain` output enrichment (the reference emits a
  stratum/rule/atom table, db.rs:968-1191; we additionally surface the
  Catalyst physical plan);
- plan-quality assertions in tests and tuning: did the filter reach the
  scan (PushedFilters)? is the projection pruned (ReadSchema)? did the
  small side broadcast? how much of the plan is inside whole-stage codegen?

These are the observable properties that decide whether a plan survives a
100× scale-up — asserting them in CI keeps regressions out.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def _formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted")


def explain_summary(df: DataFrame) -> str:
    """The formatted physical plan (what .explain('formatted') prints)."""
    try:
        return _formatted(df)
    except Exception:
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()


def plan_properties(df: DataFrame) -> dict:
    """Extract the load-bearing properties from the physical plan."""
    plan = explain_summary(df)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    read_schema = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    return {
        "pushed_filters": [p for p in pushed if p.strip()],
        "read_schemas": read_schema,
        "n_broadcast_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "n_sortmerge_joins": len(re.findall(r"SortMergeJoin", plan)),
        "n_shuffles": len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)", plan)),
        "n_codegen_stages": len(set(re.findall(r"codegen id : (\d+)", plan))
                                | set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))),
        "has_take_ordered": "TakeOrderedAndProject" in plan or "TakeOrdered" in plan,
        "batched_scan": "Batched: true" in plan,
        "plan": plan,
    }


def whole_stage_method_bytes(df: DataFrame) -> list[int]:
    """``maxMethodCodeSize`` of each whole-stage codegen subtree of the
    plan ``df`` executed, in bytes of bytecode. Call it after an action on
    ``df`` itself, such as ``collect()``: under AQE the plan before one has
    no final query stages, and ``count()`` runs a different plan."""
    jvm = df._sc._jvm  # noqa: SLF001
    text = jvm.org.apache.spark.sql.execution.debug.package.codegenString(
        df._jdf.queryExecution().executedPlan())
    return [int(n) for n in re.findall(r"maxMethodCodeSize:(\d+)", text)]


def max_method_bytes(df: DataFrame) -> int:
    """The largest generated method that runs as whole-stage code, after an
    action. A subtree over ``spark.sql.codegen.hugeMethodLimit`` is left
    out: at execution it falls back to per-operator code, which splits
    its expressions into smaller methods. HotSpot never JIT-compiles a method over 8000
    bytes, so a figure above 8000 is a stage that runs interpreted."""
    limit = int(df.sparkSession.conf.get("spark.sql.codegen.hugeMethodLimit"))
    return max((n for n in whole_stage_method_bytes(df) if n <= limit),
               default=0)
