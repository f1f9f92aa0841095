"""Plan audit helpers: .explain("formatted") as a string + predicates for
the plan properties that matter at 100 TB (pushdown, pruning, broadcast,
partial aggregation, top-k short-circuits, codegen coverage).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def pushed_filters(plan: str) -> list[str]:
    """All non-empty PushedFilters lists in parquet scans."""
    out = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if m.group(1).strip():
            out.append(m.group(1))
    return out


def read_schemas(plan: str) -> list[str]:
    return [m.group(1) for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan)]


def has(plan: str, node: str) -> bool:
    return node in plan


def plan_nodes(plan: str) -> list[str]:
    """Operator names from a formatted plan's numbered tree — one entry
    per physical node (the details section repeats names; this doesn't)."""
    return [
        m.group(1)
        for m in re.finditer(r"^[\s:+\-*]*\(\d+\)\s+([A-Za-z][A-Za-z0-9]*)", plan, re.M)
    ]


def count_nodes(plan: str, node: str) -> int:
    return sum(1 for n in plan_nodes(plan) if n == node)


def codegen_stage_count(build_df) -> int:
    """Distinct whole-stage-codegen stages for the plan produced by
    `build_df()` (a thunk). AQE's lazy wrapper hides codegen markers, so
    the plan is built once with AQE off — codegen stage structure is the
    same either way."""
    import contextlib
    import io

    from pyspark.sql import SparkSession

    from ..session import scoped_confs

    spark = SparkSession.getActiveSession()
    df = build_df()  # builders may (re)set session confs — build first
    buf = io.StringIO()
    with scoped_confs(spark, {"spark.sql.adaptive.enabled": "false"}):
        with contextlib.redirect_stdout(buf):
            df.explain()  # physical planning happens here, with AQE off
    return len(set(re.findall(r"\*\((\d+)\)", buf.getvalue())))


def _tree_edges(plan: str) -> dict[int, tuple[str, int | None]]:
    """Parse the numbered tree section of a formatted plan into
    {node_id: (operator_name, parent_id)}. Indentation depth defines
    parenthood; works for chains and bushy (join) trees alike."""
    nodes: dict[int, tuple[str, int | None]] = {}
    stack: list[tuple[int, int]] = []  # (indent, node_id)
    for line in plan.splitlines():
        m = re.match(r"^([\s:+\-*]*)([A-Za-z][A-Za-z0-9 ]*?)\s*\((\d+)\)\s*$", line)
        if not m:
            if nodes and line.strip().startswith("("):
                break  # details section reached
            continue
        indent, name, nid = len(m.group(1)), m.group(2).strip(), int(m.group(3))
        while stack and stack[-1][0] >= indent:
            stack.pop()
        parent = stack[-1][1] if stack else None
        nodes[nid] = (name, parent)
        stack.append((indent, nid))
    return nodes


def _single_partition_ids(plan: str) -> set[int]:
    """Node ids of Exchanges whose detail block says SinglePartition.
    The details section is split into per-node blocks so an Arguments
    line can't be attributed to the wrong (earlier) exchange."""
    sp_ids = set()
    for m in re.finditer(r"^\((\d+)\) Exchange\b(.*?)(?=^\(\d+\) |\Z)", plan, re.M | re.S):
        if "Arguments: SinglePartition" in m.group(2):
            sp_ids.add(int(m.group(1)))
    return sp_ids


def single_partition_subtrees(plan: str) -> list[list[str]]:
    """For every SinglePartition exchange, the operator names of its
    whole subtree (descendants). A scale-safe plan collapses volume with
    an aggregate somewhere BELOW each single-partition exchange; a
    subtree that reaches a scan with no intervening aggregate means a
    fact table is being globally sorted."""
    nodes = _tree_edges(plan)
    sp_ids = _single_partition_ids(plan)
    children: dict[int, list[int]] = {}
    for nid, (_, parent) in nodes.items():
        if parent is not None:
            children.setdefault(parent, []).append(nid)
    out = []
    for sp in sorted(sp_ids):
        seen, stack = [], list(children.get(sp, []))
        while stack:
            nid = stack.pop()
            seen.append(nodes[nid][0])
            stack.extend(children.get(nid, []))
        out.append(seen)
    return out


def plan_fingerprint(df: DataFrame) -> str:
    """Stable hash of the NORMALIZED physical plan (round-7 verdict task
    6): wall-time alone cannot distinguish a plan regression (lost
    broadcast, new exchange) from box noise, so BENCH_FULL records this
    fingerprint next to the timing for the most expensive queries and
    tests/test_plans.py flags changes against the committed PLAN_FP.json
    baseline. Normalization strips everything run- or path-dependent:
    expression ids (#123, both bare and in exprId= form), parquet file
    locations (the sf_dir varies), statistics/size annotations, and the
    numbered-node ids' whitespace; what remains is the operator tree with
    its join strategies, exchanges, pushed filters, and read schemas —
    the properties a regression would flip."""
    import hashlib

    return hashlib.md5(normalize_plan(formatted_plan(df)).encode()).hexdigest()[:16]


_PARTITIONING = re.compile(r"partitioning\(", re.IGNORECASE)


def _strip_partition_counts(s: str) -> str:
    """Blank the trailing count of every ``*partitioning(...)`` call
    (``hashpartitioning(x#, 200)`` and ``RoundRobinPartitioning(4)``
    alike) via a paren-balanced scan (handles any nesting depth; the old
    regex matched only one level — ADVICE r11). Inner literal args that
    are NOT the trailing count are preserved, so plans differing in an
    expression literal still get distinct fingerprints."""
    out = []
    i = 0
    while True:
        m = _PARTITIONING.search(s, i)
        if not m:
            out.append(s[i:])
            break
        start = m.end()
        depth, k = 1, start
        while k < len(s) and depth:
            c = s[k]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            k += 1
        if depth:  # unbalanced tail — leave untouched
            out.append(s[i:])
            break
        inner = _strip_partition_counts(s[start : k - 1])
        inner = re.sub(r"(^|, )\d+$", r"\1", inner)
        out.append(s[i:start])
        out.append(inner)
        out.append(")")
        i = k
    return "".join(out)


def normalize_plan(plan: str) -> str:
    """The run-/path-/tuning-independent form a fingerprint hashes —
    exposed for unit tests (the partition-count regex has to survive
    nested parenthesized calls, ADVICE r10)."""
    s = plan
    s = re.sub(r"#\d+[L]?", "#", s)
    # lambda-variable names carry a session-global counter (lambda x_1
    # in a fresh session, x_6 after other queries ran); so do the
    # common-expression aliases Spark plans for NULLIF
    s = re.sub(r"\blambda ([A-Za-z]+)_\d+", r"lambda \1_", s)
    s = re.sub(r"\b_common_expr_\d+", "_common_expr_", s)
    # checkpointed/cached RDD lineage labels carry RDD ids
    s = re.sub(r"ExistingRDD\b[^\n]*", "ExistingRDD", s)
    s = re.sub(r"MapPartitionsRDD\[\d+\]", "MapPartitionsRDD[]", s)
    # RDD creation call sites are JVM-runtime-dependent, not plan shape:
    # the SAME localCheckpoint scan prints "at localCheckpoint at
    # NativeMethodAccessorImpl.java:0" in a fresh JVM but "at
    # localCheckpoint at <unknown>:0" once reflection inflation replaces
    # the py4j accessor (~hundreds of calls into a long session) — the
    # r12 pytest-order flake on q294/q276 was exactly this string, with
    # the physical plan byte-identical otherwise.
    s = re.sub(r" at [^,\n]+:\d+", " at :", s)
    s = re.sub(r"Location: \S+", "Location:", s)
    s = re.sub(r"file:[^,\]\s]+", "file:", s)
    s = re.sub(r"Statistics\([^)]*\)", "Statistics()", s)
    s = re.sub(r"size=\S+", "size=", s)
    s = re.sub(r"plan_id=\d+", "plan_id=", s)
    # shuffle partition COUNTS are box/input tuning (AQE initial
    # partition num scales with deployment), not plan shape — a lost
    # broadcast or a new exchange still changes the fingerprint. The
    # expression list may itself contain parenthesized calls with
    # trailing integer args (hashpartitioning(coalesce(x#1, 0), 200)),
    # nested to ARBITRARY depth — Spark wraps double-typed keys two
    # levels deep (knownfloatingpointnormalized(normalizenanandzero(x#)))
    # — so a balanced-paren scan replaces the one-level regex; residual
    # counts would make the fingerprint box-dependent now that
    # shuffle.partitions defaults to os.cpu_count() (ADVICE r10/r11).
    s = _strip_partition_counts(s)
    s = re.sub(r"REPARTITION_BY_NUM\(\d+\)", "REPARTITION_BY_NUM()", s)
    s = re.sub(r"cachedrdd-\d+", "cachedrdd-", s)
    s = re.sub(r"[ \t]+", " ", s)
    return s
