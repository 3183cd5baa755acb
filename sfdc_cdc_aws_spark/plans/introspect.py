"""Physical-plan introspection helpers.

The engine's scale posture (SURVEY.md §4, §7) is only real if the
plans Catalyst actually produces have the right shape: filters reach
the parquet scan, small dimensions broadcast, aggregates combine
map-side, nothing degenerates to a cartesian product. These helpers
make those properties assertable in tests instead of eyeballed in
``.explain()`` output.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (same content as ``df.explain(mode)``,
    returned instead of printed)."""
    jdf = df._jdf  # classic (non-Connect) PySpark
    jvm = df.sparkSession._jvm
    explain_mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return jdf.queryExecution().explainString(explain_mode)


def pushed_filters(df: DataFrame) -> list[str]:
    """Every ``PushedFilters: [...]`` list in the plan, flattened —
    the predicates that reached the parquet reader (row-group stats /
    page pruning at scale)."""
    plan = plan_string(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """Every ``ReadSchema`` struct in the plan — what each parquet scan
    actually reads after column pruning."""
    return re.findall(r"ReadSchema: (struct<[^>]*>)", plan_string(df))


def join_kinds(df: DataFrame) -> set[str]:
    """The physical join operator names present in the plan."""
    plan = plan_string(df)
    kinds = {
        "BroadcastHashJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    }
    return {k for k in kinds if k in plan}


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges (not broadcast exchanges) in the
    plan — the metric to minimize at 100 TB."""
    plan = plan_string(df)
    # formatted mode: shuffle nodes appear as "(n) Exchange" headers,
    # broadcasts as "(n) BroadcastExchange"; simple mode inlines the
    # partitioning ("Exchange hashpartitioning(...)")
    return len(re.findall(r"\(\d+\) Exchange\b", plan)) + len(
        re.findall(r"Exchange (?:hash|range)partitioning", plan)
    )


def executed_plan_string(df: DataFrame) -> str:
    """The AQE FINAL plan as text: runs the frame once (discarding
    rows executor-side) so adaptive decisions — skew-join splits,
    partition coalescing, runtime join demotions — are materialized,
    then renders the executed plan. ``plan_string`` shows the static
    plan; execution-time properties live only here."""
    df.foreachPartition(lambda it: None)
    return df._jdf.queryExecution().executedPlan().toString()


def aqe_skew_join_applied(df: DataFrame) -> bool:
    """True iff AQE's OptimizeSkewedJoin actually split a partition
    for this frame (``SortMergeJoin(skew=true)`` / ``skewed`` shuffle
    reads in the final plan)."""
    plan = executed_plan_string(df)
    return "skew=true" in plan


def codegen_stage_count(df: DataFrame) -> int:
    """How many whole-stage-codegen spans the plan compiled. AQE only
    finalizes (and codegen-annotates) the plan on execution, so this
    runs the frame once (discarding rows executor-side) and reads the
    executed plan's ``WholeStageCodegen (n)`` spans."""
    df.foreachPartition(lambda it: None)
    executed = df._jdf.queryExecution().executedPlan().toString()
    return len(set(re.findall(r"\*\((\d+)\)", executed)))


def has_partial_aggregate(df: DataFrame) -> bool:
    """True when the plan contains a map-side partial aggregate
    (``partial_...`` function markers) feeding a final aggregate —
    i.e. the shuffle carries combined state, not raw rows."""
    return bool(re.search(r"\bpartial_", plan_string(df)))


def lambda_bodies(df: DataFrame) -> list[str]:
    """Every ``lambdafunction(...)`` body in the optimized logical
    plan, cut out by balanced parentheses (nested lambdas appear both
    inside their parent's body and on their own). Catalyst does not
    eliminate common subexpressions inside lambda bodies, so whatever
    a body contains runs once per array element. The plan prints one
    operator per line, so a body never crosses a newline; a line cut
    short (a truncated cached-relation plan) ends its open bodies."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    opener = "lambdafunction("
    bodies: list[str] = []
    for line in plan.splitlines():
        start = line.find(opener)
        while start >= 0:
            i = j = start + len(opener)
            depth = 1
            while depth and j < len(line):
                depth += {"(": 1, ")": -1}.get(line[j], 0)
                j += 1
            bodies.append(line[i : j - 1] if depth == 0 else line[i:])
            start = line.find(opener, i)
    return bodies
