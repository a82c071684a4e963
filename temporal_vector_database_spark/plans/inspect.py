"""Plan-inspection utilities: extract the scale-relevant physical-plan
facts (exchanges, broadcasts, pushed filters, scan schemas) from a
DataFrame so users — and the regression suite — can assert on plan SHAPE
instead of eyeballing ``explain()`` output.

These read the same strings ``df.explain("formatted")`` prints; nothing
here executes the plan.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The ``explain("formatted")`` text, returned instead of printed."""
    jqe = df._jdf.queryExecution()
    return df.sparkSession._jvm.PythonSQLUtils.explainString(jqe, "formatted")


@dataclass
class PlanSummary:
    """The facts that decide whether a plan survives a 100× scale-up."""

    n_shuffle_exchanges: int = 0
    n_broadcast_exchanges: int = 0
    # round-robin exchanges counted SEPARATELY from the keyed shuffles:
    # the producers in this codebase are the adaptive small-input
    # spreads — `plans.registry._spread_path` (r12, scans) and
    # `operators.dedup._spread` (dedup inputs before their row-local
    # set or digest builds, and the candidate-pair list on the verify
    # side of the two exact self-joins) — which fire only when the
    # input's partition count is below the session parallelism: at
    # production scale the condition is never met and the node is absent,
    # so the keyed-shuffle pins (the 100-TB posture guards) stay
    # meaningful with the spread present locally.
    n_roundrobin_exchanges: int = 0
    has_cartesian_product: bool = False
    has_sort_merge_join: bool = False
    shuffle_keysets: set = field(default_factory=set)
    pushed_filters: list = field(default_factory=list)
    read_schemas: list = field(default_factory=list)

    def assert_no_cartesian(self) -> "PlanSummary":
        assert not self.has_cartesian_product, "plan contains CartesianProduct"
        return self

    def assert_max_shuffles(
        self, n: int, max_roundrobin: int = 2
    ) -> "PlanSummary":
        """Bound the keyed shuffles at ``n`` AND (ADVICE r12) the
        round-robin exchanges at ``max_roundrobin`` (default 2 — the
        adaptive small-scan spread adds at most one per spread input and
        no pinned query spreads more than two), so a future
        unconditional ``repartition(n)`` still fails plan-posture tests
        instead of hiding in the separately-tallied round-robin count."""
        assert self.n_shuffle_exchanges <= n, (
            f"{self.n_shuffle_exchanges} shuffle exchanges (max {n}): "
            f"{sorted(self.shuffle_keysets)}"
        )
        assert self.n_roundrobin_exchanges <= max_roundrobin, (
            f"{self.n_roundrobin_exchanges} round-robin exchanges "
            f"(max {max_roundrobin})"
        )
        return self


def summarize_plan(df: DataFrame) -> PlanSummary:
    """Parse the formatted plan into a :class:`PlanSummary`.

    ``explain("formatted")`` prints each physical node as a detail
    header ``(N) Exchange`` with its partitioning on a separate
    ``Arguments: hashpartitioning(...)`` line (NOT on one line — a
    single-line match silently counts zero, which made every
    ``assert_max_shuffles`` vacuous until round 3; pinned by
    ``test_plan_summary_counts_shuffles``). Shuffle exchanges are the
    ``(N) Exchange`` headers — hash, range, AND single-partition — while
    broadcasts print as the distinct ``(N) BroadcastExchange`` node.
    Round-robin exchanges (the adaptive small-scan spread, r12) are
    tallied separately in ``n_roundrobin_exchanges`` — see the field
    comment for why they do not count against the keyed-shuffle pins."""
    plan = formatted_plan(df)
    s = PlanSummary()
    s.has_cartesian_product = "CartesianProduct" in plan
    s.has_sort_merge_join = "SortMergeJoin" in plan
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if re.match(r"^\(\d+\) BroadcastExchange\b", line):
            s.n_broadcast_exchanges += 1
            continue
        if not re.match(r"^\(\d+\) Exchange\b", line):
            continue
        is_roundrobin = False
        for j in range(i + 1, min(i + 8, len(lines))):
            if "Arguments: RoundRobinPartitioning(" in lines[j]:
                is_roundrobin = True
                break
            if not lines[j].strip() or lines[j].startswith("("):
                break
        if is_roundrobin:
            s.n_roundrobin_exchanges += 1
            continue
        s.n_shuffle_exchanges += 1
        for j in range(i + 1, min(i + 8, len(lines))):
            lj = lines[j]
            if not lj.strip() or lj.startswith("("):
                break
            m = re.search(
                r"Arguments: (?:hash|range)partitioning\(([^)]*)\)", lj
            )
            if m:
                # bigint attribute refs print as name#12L — strip the
                # exprId AND its type suffix
                keys = re.sub(r"#\d+L?", "", m.group(1))
                s.shuffle_keysets.add(re.sub(r",\s*\d+$", "", keys))
                break
    s.pushed_filters = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    s.read_schemas = re.findall(r"ReadSchema: (\S+)", plan)
    return s
