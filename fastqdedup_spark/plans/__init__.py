"""Physical-plan introspection helpers — the engine's answer to the
reference's trie stats (O14, /root/reference/src/fastqdedup/
_triemodule.c:929-964): instead of node histograms we audit the
Catalyst physical plan for the properties that matter at 100 TB.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def plan_audit(df: DataFrame) -> dict:
    """Counts the plan features we optimize for: exchanges (shuffles),
    whole-stage-codegen spans, pushed filters, broadcast joins."""
    plan = formatted_plan(df)
    # nodes print once in the tree and once in the detail section; count
    # only the numbered detail headers
    groups = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    return {
        "exchanges": len(re.findall(r"\(\d+\) Exchange", plan)),
        "codegen_spans": len(set(re.findall(r"codegen id : (\d+)", plan))),
        # true iff at least one scan actually pushed something: the
        # plan prints "PushedFilters: []" for a scan that pushed
        # NOTHING, so presence of the line alone proves nothing (an
        # earlier escaped-literal check compared against the four-char
        # string 'PushedFilters: \[\]', which never occurs in plan
        # text, and reported every scan as pushed)
        "pushed_filters": any(g.strip() for g in groups),
        "broadcast_joins": len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)),
        "sort_merge_joins": len(re.findall(r"\(\d+\) SortMergeJoin", plan)),
    }
