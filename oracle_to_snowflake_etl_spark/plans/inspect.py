"""Physical-plan inspection helpers.

"Every operator, after it works, `.explain("formatted")` until it's the
plan you'd want" — these helpers make that discipline executable:
tests assert the scale-critical physical properties (filters reach the
parquet scan, small dims broadcast, shuffle counts stay flat) so a
regression in plan shape fails CI, not a 100 TB run.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (DataFrame.explain only prints)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's file scans."""
    plan = plan_string(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters:\s*\[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema struct strings of every file scan (column pruning
    check: a scan reading all columns for a narrow projection is a bug)."""
    plan = plan_string(df)
    return [m.group(1) for m in re.finditer(r"ReadSchema:\s*(\S+)", plan)]


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in the physical plan — the
    metric to hold flat as queries evolve. Counts detail-section headers
    only (formatted mode prints each node in the tree AND as a
    "(n) Exchange" section); BroadcastExchange is excluded — broadcasts
    are the cheap alternative being asserted FOR."""
    plan = plan_string(df)
    return len(re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.MULTILINE))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_string(df)


def has_sort_merge_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in plan_string(df)


def has_top_k(df: DataFrame) -> bool:
    """TakeOrderedAndProject = true distributed top-k (per-partition
    heap + driver merge), vs a global sort feeding a limit."""
    return "TakeOrderedAndProject" in plan_string(df)


def executed_plan_string(df: DataFrame) -> str:
    """The FINAL physical plan after execution — for properties only the
    adaptive runtime decides (skew-join split, runtime broadcast,
    partition coalescing), which never appear in the static explain.
    Call after an action has run; with AQE the string carries
    isFinalPlan=true and per-node runtime annotations like skew=true."""
    return df._jdf.queryExecution().executedPlan().toString()


def partition_filters(df: DataFrame) -> list[str]:
    """PartitionFilters entries of every file scan: predicates resolved
    against the directory layout at PLANNING time — entire partition
    directories are skipped before any file is opened. The cheapest scan
    is the one that never happens; at 100 TB this is the difference
    between reading one day and reading seven years."""
    plan = plan_string(df)
    out: list[str] = []
    for m in re.finditer(r"PartitionFilters:\s*\[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def window_partition_cols(df: DataFrame) -> list[list[str]]:
    """Partition-key column names of every window spec in the plan, one
    list per windowspecdefinition. A WindowExec funnels EVERY occurrence
    of one partition-key value into a single task — unlike join/agg
    exchanges there is no AQE skew split and no partial aggregation —
    so a window partitioned on a power-law key (shingle hash, user id)
    is a straggler at scale; scale-path plans assert such keys never
    appear here."""
    plan = plan_string(df)
    out: list[list[str]] = []
    # Parse each windowspecdefinition(...) with real paren counting so a
    # partition key that is an EXPRESSION — xxhash64(s#3, 42), CASE WHEN
    # (...) — is not silently skipped (a naive [^()]* regex cannot cross
    # its parens, and a skipped spec would let the no-hot-key-window
    # assertions pass vacuously). Partition args are the depth-0
    # comma-separated tokens before the first ordered token ("x ASC/
    # DESC ...") or the specifiedwindowframe arg; every attribute
    # reference inside a partition expression is reported.
    marker = "windowspecdefinition("
    pos = 0
    while True:
        start = plan.find(marker, pos)
        if start < 0:
            break
        i = start + len(marker)
        depth = 1
        args: list[str] = []
        buf: list[str] = []
        while i < len(plan) and depth > 0:
            c = plan[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    args.append("".join(buf).strip())
                    break
            elif c == "," and depth == 1:
                args.append("".join(buf).strip())
                buf = []
                i += 1
                continue
            buf.append(c)
            i += 1
        pos = i
        cols: list[str] = []
        for tok in args:
            if tok.startswith("specifiedwindowframe"):
                break
            # A sort-order token is "<child> ASC|DESC NULLS FIRST|LAST"
            # — anchor to that TRAILING structure. A bare \b(ASC|DESC)\b
            # anywhere would also fire on a partition-key EXPRESSION
            # whose printed form merely contains the word (CASE over a
            # string literal 'ASC', a column named like it), truncating
            # the partition list and letting the no-hot-key-window
            # asserts pass vacuously.
            if re.search(r"\b(ASC|DESC) NULLS (FIRST|LAST)$", tok):
                break
            cols.extend(re.findall(r"(\w+)#\d+", tok))
        out.append(cols)
    return out
