"""Physical-plan audit: dump explain(formatted) for the headline queries and
check the plan properties that matter at 100 TB:

- parquet scans carry PushedFilters / pruned ReadSchema;
- small-side joins are BroadcastHashJoin (no shuffle of the big side);
- expressions stay inside WholeStageCodegen spans;
- no CartesianProduct except where the operator is quadratic by definition.

Beyond the plan text, two SOURCE-level anti-pattern scans over each bench
query's implementation (the plan can't show these):

- complete-mode memory sinks (the whole aggregate lands in the driver every
  micro-batch — never acceptable in a headline/scale-path query);
- row-at-a-time Python loops (``iterrows``/``itertuples``/``collect()``
  iteration) inside the query body — Arrow-batched or JVM-side only.

Plus a package-wide PERSIST AUDIT (round-11 VERDICT task 4): every
``.persist()``/``.cache()`` call site whose enclosing function contains no
matching ``.unpersist()`` is "caller-managed" — the function returns a lazy
plan that reads the cache, so an in-function release would fire before any
job runs (measured: queries/graph.py round-11).  Each such site must carry a
written rationale in UNRELEASED_PERSIST_BY_CONTRACT below; the count is
pinned in PLANSCAN so growth is visible, and an unlisted site (or a stale
allowlist entry) is a FLAG.

Usage: python tools/plan_audit.py [--sf DIR] [name ...]   (writes PLANS.md)
Exits non-zero if any FLAG fires on a bench query.
"""

from __future__ import annotations

import argparse
import ast
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MARKERS = [
    ("PushedFilters: \\[[^]]*(IsNotNull|GreaterThan|LessThan|EqualTo)", "filter pushdown to parquet"),
    ("BroadcastHashJoin|BroadcastNestedLoopJoin", "broadcast join (no big-side shuffle)"),
    ("codegen id", "whole-stage codegen span"),
    ("CartesianProduct", "cartesian product (check intent!)"),
    ("hashpartitioning\\(", "hash shuffle"),
    ("rangepartitioning\\(", "range shuffle"),
    ("SortMergeJoin", "sort-merge join"),
    ("ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", "Arrow-batched Python"),
    ("HashAggregate", "hash aggregate (map-side partials)"),
]


def source_flags(fn) -> list[str]:
    """Scan the query fn's own source (and same-module helpers it calls,
    one level deep) for scale anti-patterns the physical plan can't show."""
    import inspect

    flags: list[str] = []
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        return flags
    mod = inspect.getmodule(fn)
    # pull in same-module helpers referenced by the query body
    for name in re.findall(r"\b(\w+)\s*\(", src):
        helper = getattr(mod, name, None) if mod else None
        if callable(helper) and getattr(helper, "__module__", None) == getattr(
            fn, "__module__", ""
        ):
            try:
                src += "\n" + inspect.getsource(helper)
            except (OSError, TypeError):
                pass
    if re.search(r"output_mode\s*=\s*[\"']complete[\"']|outputMode\(\s*[\"']complete", src):
        flags.append("FLAG: complete-mode sink (driver accumulates full aggregate)")
    if re.search(r"\.iterrows\(\)|\.itertuples\(\)", src):
        flags.append("FLAG: row-at-a-time pandas loop (use vectorized ops)")
    if re.search(r"for\s+\w+\s+in\s+\w*\.?collect\(\)", src):
        flags.append("FLAG: driver-side loop over collect() (not distributed)")
    return flags


_TREE_LINE = re.compile(r"^[\s:+\-]*(?:\*\s*)?(\w[\w ]*?)\s+\((\d+)\)\s*$")
# block-local: an Exchange detail block is exactly header + Input + Arguments;
# a DOTALL .*? here would skip past this block's own Arguments line and bind
# the id to a LATER exchange's SinglePartition (measured false positive)
_SP_EXCHANGE = re.compile(
    r"^\((\d+)\) Exchange\s*\nInput[^\n]*\nArguments: SinglePartition", re.M
)
# ancestors that legitimately reduce data before/at a single-partition
# exchange: global aggregates see one row per map task; limits are bounded
# by their literal
_BENIGN_ANCESTORS = (
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "GlobalLimit",
    "CollectLimit",
    "TakeOrderedAndProject",
)
# operators that pass unbounded data through unchanged — keep walking up
_PASSTHROUGH_ANCESTORS = ("Sort", "Project", "Filter", "ColumnarToRow")


def single_partition_window_count(plan: str) -> int:
    """Count Exchange SinglePartition nodes that feed a WINDOW (directly or
    through sort/project passthroughs) — the plan shape where EVERY row of
    an unbounded relation funnels through ONE task (a no-partition
    ``Window.orderBy``).  Global-aggregate and limit single-partition
    exchanges are benign (their input is already reduced map-side) and are
    not counted; an UNKNOWN ancestor counts, conservatively, so new plan
    shapes surface as flags instead of slipping past the audit."""
    sp_ids = {m.group(1) for m in _SP_EXCHANGE.finditer(plan)}
    if not sp_ids:
        return 0
    # (depth, name, id) for every operator line of every plan/subquery tree
    tree: list[tuple[int, str, str]] = []
    for line in plan.splitlines():
        m = _TREE_LINE.match(line)
        if m:
            tree.append((line.index(m.group(1)), m.group(1).strip(), m.group(2)))
    n = 0
    for i, (depth, name, nid) in enumerate(tree):
        if nid not in sp_ids or name != "Exchange":
            continue
        cur = depth
        for j in range(i - 1, -1, -1):
            d, nm, _ = tree[j]
            if d >= cur:
                continue
            cur = d
            if nm.startswith("Window"):  # Window / WindowGroupLimit
                n += 1
                break
            if nm in _BENIGN_ANCESTORS:
                break
            if nm in _PASSTHROUGH_ANCESTORS:
                continue
            n += 1  # unknown consumer of a single-partition exchange
            break
    return n


# Queries whose physical plan may legitimately contain a single-partition
# window exchange because the windowed relation is BOUNDED BY CONTRACT —
# a constant or slowly-growing domain, not data volume.  Adjudicated one
# by one in round 11 (the last unaudited plan-shape class); any query with
# winSP > 0 not in this dict is a FLAG and the scan exits non-zero.
SINGLEPART_BY_CONTRACT: dict[str, str] = {
    "dedup_threshold_sweep": (
        "cumulative window over the Jaccard-decile band histogram — the "
        "windowed relation is <= 11 rows (bands 0..10) at ANY data size"
    ),
    "events_session_depth_histogram": (
        "cumulative-share window over the per-depth session histogram — "
        "bounded by the maximum observed session depth (~1e3 for a "
        "10-minute gap rule), not by event volume"
    ),
    "olap_order_backlog": (
        "running balance over per-DAY open/close deltas — the windowed "
        "relation is one row per calendar day (~1e4 rows over three "
        "decades), aggregated before the window"
    ),
    "pipeline_mixture_budget": (
        "greedy prefix-sum over one row per corpus SOURCE (a handful; "
        "grows with catalog curation, not data volume)"
    ),
}


# Queries whose physical plan may legitimately contain a CartesianProduct,
# name -> justification.  MEASURED EMPTY: the full-registry scan found zero
# CartesianProduct nodes — even the quadratic-by-contract baselines
# (ts_user_similarity_topk's all-pairs form, the bounded ANN/Kendall audit
# samples) express their pair spaces as equi-joins or 1-row/bounded
# broadcast NLJs.  Any cartesian appearing in any query is therefore a
# scale bug until a justification is added here — the scan exits non-zero.
CARTESIAN_BY_CONTRACT: dict[str, str] = {}


# Caller-managed persist sites: functions that .persist()/.cache() a frame
# and intentionally do NOT release it, because the function returns a LAZY
# plan that reads the cache — an in-function unpersist (even try/finally)
# fires before any job runs, so the cache would never exist during execution
# (measured at queries/graph.py in round 11; the r10 audit mislabeled that
# site as a working release).  Reclamation is Spark's LRU storage eviction
# plus the harness's clearCache between bench reps.  Keyed
# "pkg-relative-path:function"; every unreleased site found by the AST scan
# must appear here with a rationale, and every entry here must still exist
# in the source — either mismatch is a FLAG and the scan exits non-zero, so
# the set cannot grow or rot silently (round-11 VERDICT task 4).
UNRELEASED_PERSIST_BY_CONTRACT: dict[str, str] = {
    "operators/row_compare.py:mismatch_blocks": (
        "the bounds collect plus BOTH global-rank passes of the returned "
        "lazy plan read `diff`; cache must outlive the function"
    ),
    "pipeline/clustering.py:kmeans_fit": (
        "every k-means round re-reads the feature frame; the returned "
        "assignment plan still reads through the cache"
    ),
    "pipeline/components.py:connected_components": (
        "adjacency + seed labels are re-read by every label-propagation "
        "round; the returned converged plan reads their lineage"
    ),
    "pipeline/components.py:connected_components_star": (
        "the vertex base is read by every convergence round and the final "
        "left join; per-round edge caches ARE released in-loop (the +1 is "
        "the seed), only the vertex cache is caller-managed"
    ),
    "pipeline/corpus_io.py:split_corrupt": (
        "both returned (clean, corrupt) views re-read the materialized "
        "parse — the documented _corrupt_record pattern requires it"
    ),
    "queries/cdc.py:_merged_with_rank": (
        "the frontier collect plus the returned lazy rank plan both read "
        "`merged`"
    ),
    "queries/graph.py:q_pagerank_bipartite": (
        "every pagerank iteration plus the degree pass reads `edges` "
        "(hash-partitioned on src before the persist so consumers reuse "
        "one exchange, r15), and both iteration left-joins plus the init "
        "vector read `deg` — two caller-managed persists since r15; "
        "without the live edge cache the join+distinct edge derivation "
        "recomputes per iteration (the flaky 8 g heap death at sf10); "
        "both are count()-materialized in-function so consumers plan "
        "against the known partitioning"
    ),
    "queries/pipeline3.py:incremental_dedup_status": (
        "both the incoming and corpus sides of the returned status union "
        "read the fingerprint/shingle base"
    ),
    "queries/pipeline3.py:q_semdedup": (
        "the GEMM prefilter, both exact-verify join sides and the rollup "
        "read the assignment projection `ev`, whose k×dim argmin fold is "
        "the expensive column (r15); same lazy-return persist pattern as "
        "kmeans_fit's input cache"
    ),
    "queries/pipeline4.py:q_corpus_build_funnel": (
        "the five funnel stage counts share the dominant quality scan; "
        "the returned one-job union is lazy by registry contract"
    ),
}


# Functions whose persist AND unpersist counts are both nonzero.  The net
# heuristic above assumes the in-function unpersist releases a frame
# persisted in that same function — a persist of frame A plus an unpersist
# of unrelated frame B would net to zero and hide an unreleased persist
# (round-12 ADVICE).  Each mixed function is adjudicated here by reading
# the release target; an unlisted mixed function is a FLAG.
MIXED_PERSIST_RELEASE_BY_CONTRACT: dict[str, str] = {
    "operators/merge.py:grouped_prefix_sum": (
        "the empty-input early return releases the SAME persisted input "
        "(nothing downstream reads it — r15 ADVICE leak fix); on the "
        "normal path the bounds agg, the (group, bucket) totals collect "
        "and the RETURNED bucketed window plan all read the cache, so "
        "release there is caller-managed (the r15 rationale: uncached, "
        "each pass re-derived the caller's projection from source)"
    ),
    "operators/merge.py:global_prefix_sum": (
        "the empty-input early return releases the SAME persisted `d` "
        "(the returned plan reads the un-persisted original `df` on that "
        "path — r15 ADVICE leak fix); normal path is the three-pass "
        "grouped_prefix_sum shape whose returned window plan reads the "
        "cache — caller-managed release"
    ),
    "pipeline/components.py:connected_components_star": (
        "the in-loop unpersist releases the SAME per-round edge frame `e` "
        "after its convergence signature is collected; the surviving net "
        "+1 is the vertex seed (see UNRELEASED entry)"
    ),
    "queries/pipeline6.py:q_coreset_fps": (
        "try/finally releases the SAME persisted candidate frame `ev` "
        "after the k-iteration argmax loop — every collect runs before "
        "the release"
    ),
    "operators/selection.py:exact_group_kth": (
        "releases the SAME persisted (g, v) projection `base` after the "
        "stats / bucket-count / batched-residual collects all drain it "
        "(r15: the projection previously re-executed the caller's whole "
        "upstream DAG once per pass and once per group×label target)"
    ),
    "streaming/change_feed.py:run_once": (
        "try/finally releases the SAME persisted micro-batch frame "
        "`batch` after its count/position job and the sink write drain it"
    ),
    "streaming/snapshot_stream.py:next_page": (
        "the empty-page branch releases the SAME cached `page` frame; a "
        "non-empty page is RETURNED cached and released by the caller "
        "(streaming/pipeline_run.py:75, the audit's one net-negative "
        "function) after the commit drains it"
    ),
}


def persist_audit(
    pkg_root: str | None = None,
) -> tuple[dict[str, int], list[str]]:
    """Package-wide AST scan: net .persist()/.cache() minus .unpersist()
    calls per enclosing function (keyed by QUALIFIED name — the visitor
    stack joined with '.', so same-named nested helpers in one file cannot
    merge into one site; round-12 ADVICE).  A positive net is an unreleased
    (caller-managed) persist site and must be adjudicated in
    UNRELEASED_PERSIST_BY_CONTRACT; a contract entry whose site no longer
    nets positive is stale.  Functions where persist and unpersist are BOTH
    nonzero can hide a persist-A/release-B mismatch behind a zero net, so
    each must be adjudicated in MIXED_PERSIST_RELEASE_BY_CONTRACT.  Any
    mismatch returns a FLAG."""
    pkg_root = pkg_root or _pkg_root_default()
    sites: dict[str, int] = {}
    mixed: dict[str, tuple[int, int]] = {}
    for root, _dirs, files in os.walk(pkg_root):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, pkg_root).replace(os.sep, "/")
            with open(path) as f:
                tree = ast.parse(f.read())

            class _V(ast.NodeVisitor):
                def __init__(self) -> None:
                    self.stack: list[str] = []
                    self.acquire: dict[str, int] = {}
                    self.release: dict[str, int] = {}

                def visit_FunctionDef(self, node):  # noqa: N802
                    self.stack.append(node.name)
                    self.generic_visit(node)
                    self.stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef  # noqa: N815

                def visit_Call(self, node):  # noqa: N802
                    f = node.func
                    if isinstance(f, ast.Attribute) and f.attr in (
                        "persist",
                        "cache",
                        "unpersist",
                    ):
                        k = ".".join(self.stack) or "<module>"
                        d = self.release if f.attr == "unpersist" else self.acquire
                        d[k] = d.get(k, 0) + 1
                    self.generic_visit(node)

            v = _V()
            v.visit(tree)
            for fn_name in set(v.acquire) | set(v.release):
                a = v.acquire.get(fn_name, 0)
                r = v.release.get(fn_name, 0)
                if a - r > 0:
                    sites[f"{rel}:{fn_name}"] = a - r
                if a and r:
                    mixed[f"{rel}:{fn_name}"] = (a, r)
    flags: list[str] = []
    for site in sorted(sites):
        if site not in UNRELEASED_PERSIST_BY_CONTRACT:
            flags.append(
                f"FLAG: unreleased persist without rationale: {site} (×{sites[site]})"
            )
    for site in sorted(UNRELEASED_PERSIST_BY_CONTRACT):
        if site not in sites:
            flags.append(
                f"FLAG: stale UNRELEASED_PERSIST_BY_CONTRACT entry (site gone): {site}"
            )
    for site in sorted(mixed):
        if site not in MIXED_PERSIST_RELEASE_BY_CONTRACT:
            flags.append(
                f"FLAG: mixed persist/unpersist function without same-frame "
                f"rationale: {site} {mixed[site]}"
            )
    for site in sorted(MIXED_PERSIST_RELEASE_BY_CONTRACT):
        if site not in mixed:
            flags.append(
                f"FLAG: stale MIXED_PERSIST_RELEASE_BY_CONTRACT entry (site gone): {site}"
            )
    return sites, flags


def _iter_defs(tree):
    """(qualified_name, node) for every def: a nested def is yielded under
    its own dotted name and EXCLUDED from its parent's scan (_own_walk), so
    no site double-counts and taint cannot leak scopes (round-13 ADVICE)."""

    def rec(node, prefix):
        for c in ast.iter_child_nodes(node):
            if isinstance(c, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield prefix + c.name, c
                yield from rec(c, prefix + c.name + ".")
            else:
                yield from rec(c, prefix)

    yield from rec(tree, "")


def _own_walk(node, *, root_is_def: bool = True):
    """ast.walk limited to the node's own scope (nested def subtrees are
    scanned separately).  root_is_def=False also skips a def passed AS the
    root — for body-statement iteration."""
    if not root_is_def and isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        return
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        stack.extend(
            c
            for c in ast.iter_child_nodes(n)
            if not isinstance(c, (ast.FunctionDef, ast.AsyncFunctionDef))
        )


def _pkg_root_default() -> str:
    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "sqlserver_cdc_to_kafka_spark",
    )


def _iter_pkg_defs(pkg_root: str):
    """(rel_path, qualified_name, def_node) for every def in the package."""
    for root, _dirs, files in os.walk(pkg_root):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, pkg_root).replace(os.sep, "/")
            for qual, node in _iter_defs(ast.parse(open(path).read())):
                yield rel, qual, node


def _contract_flags(sites: dict[str, int], contract: dict[str, str], what: str) -> list[str]:
    """Unlisted member or stale contract entry -> FLAG."""
    flags = [
        f"FLAG: {what} without rationale: {s} (x{sites[s]}) — fix or adjudicate"
        for s in sorted(sites)
        if s not in contract
    ]
    flags += [
        f"FLAG: stale contract entry (site gone): {s}"
        for s in sorted(contract)
        if s not in sites
    ]
    return flags


# Float-sum-boundary allowlist (round-12 VERDICT task 1).  The class: a
# floor()/ceil()/int-cast whose input derives from an order-dependent FLOAT
# AGGREGATE (sum/avg of doubles — partial-aggregation combine order moves
# the low bits) without an intervening round() snap.  When the floored
# value sits analytically on an integer, those bits decide the floor — the
# r12 end-of-round witness caught pipeline_domain_mixture's n_target
# flapping by 1-2 between identical sweeps (fixed: ROUND(x,6) before FLOOR,
# mirrored in the oracle; queries/pipeline2.py:334).  The scan is a
# conservative over-approximation (taint is per-function / per-statement,
# not per-dataflow), so every member here carries a written rationale for
# why ITS floor is order-independent; an unlisted member — or a stale
# entry — is a FLAG, so the class cannot reopen silently.
FLOAT_BOUNDARY_BY_CONTRACT: dict[str, str] = {
    "queries/pipeline2.py:q_domain_mixture": (
        "the remaining unrounded floor is `thresh` = floor(GRAIN * "
        "n_target / n_total): both operands are exact integers (n_target "
        "is itself the ROUND-snapped floor), the product stays far below "
        "2^53, and IEEE division of exact integers is correctly rounded — "
        "deterministic regardless of combine order; the float-sum taint "
        "(z = SUM(pow(n,alpha))) only reaches this site through the "
        "already-snapped n_target"
    ),
    "queries/pipeline3.py:q_embedding_quantize": (
        "two floors in the residual expression quantize PER-ELEMENT "
        "x/scale + 0.5 where scale = max|x|/127 — max is order-"
        "independent, x is a raw column, no aggregate feeds the floor; "
        "the tainting float aggregate (AVG(rel_err)) is DOWNSTREAM of the "
        "floors and ROUND(,6)-snapped at exposure"
    ),
    "queries/audit.py:q_metrics_rollup": (
        "the int-cast is the per-row interval bucket ((us - us % I)/1e6) — "
        "exact division, no aggregate feeds it; the tainting sum(value) is "
        "DECIMAL(18,6)-cast first, an EXACT order-independent sum by design"
    ),
    "queries/behavior.py:q_gapfill_hourly": (
        "the int-cast is the per-row hour bucket (us/3.6e9): correctly-"
        "rounded IEEE division of exact ints < 2^53, no aggregate feeds "
        "it; the tainting sum(value) is DECIMAL-cast (exact) before summing"
    ),
    "queries/behavior.py:q_gapfill_locf": (
        "same per-row hour-bucket int-cast and DECIMAL-cast sum as "
        "q_gapfill_hourly (shared grid) — no float aggregate reaches a cast"
    ),
    "oracle:pipeline_domain_mixture": (
        "SQL mirror of the q_domain_mixture thresh floor — exact-integer "
        "operands, correctly-rounded division (see the Python entry)"
    ),
    "oracle:pipeline_embedding_quantize": (
        "SQL mirror of the per-element quantizer floors — scale is "
        "max-derived (order-independent), AVG is downstream and "
        "ROUND-snapped (see the Python entry)"
    ),
}

# Aggregates whose float result depends on combine order even when inputs
# are "nice" (avg divides; stddev/var/corr accumulate float sums).
_FLOAT_AGG_ALWAYS = {
    "avg", "mean", "stddev", "stddev_pop", "stddev_samp",
    "variance", "var_pop", "var_samp", "corr", "covar_pop", "covar_samp",
}
# sum() is order-dependent only over floats; these markers in its argument
# subtree mean the summand is float-valued (integer sums are exact).
_FLOATISH_FNS = {"pow", "sqrt", "exp", "log", "log2", "log10", "ln"}
_INT_TYPES = {"int", "bigint", "long", "integer", "smallint", "tinyint", "short", "byte"}
# Base-schema DOUBLE columns: a sum over one is a float sum even with no
# float marker in the expression (round-13 ADVICE false-negative).  Residual
# documented gap: a double ALIASED elsewhere taints only the function whose
# derivation (div/float-literal/cast-to-double) appears — no cross-function
# dataflow.
_DOUBLE_COLS = {
    "c_acctbal", "value", "l_discount", "l_extendedprice", "l_quantity",
    "l_tax", "o_totalprice", "p_retailprice", "s_acctbal", "embedding",
}
# textual (SQL / expr-string) float-aggregate taint: always-float aggs, or
# sum over an explicitly float-producing head function / base double column
_FLOAT_AGG_SQL = re.compile(
    r"\b(avg|stddev\w*|var_pop|var_samp|variance|corr|covar\w*)\s*\("
    r"|sum\s*\(\s*(pow|sqrt|exp|ln|log)\b"
    r"|sum\s*\(\s*\(?\s*\w*\.?(" + "|".join(sorted(_DOUBLE_COLS)) + r")\b",
    re.I,
)


def _sql_balanced_arg(s: str, i: int) -> str:
    """s[i] == '(': return the contents up to the matching close paren."""
    depth = 0
    for j in range(i, len(s)):
        if s[j] == "(":
            depth += 1
        elif s[j] == ")":
            depth -= 1
            if depth == 0:
                return s[i + 1 : j]
    return s[i + 1 :]


def _sql_boundary_sites(text: str) -> int:
    """Count floor/ceil calls without a round() in their argument, plus
    int-casts whose argument is float-producing (division / pow / sqrt)
    with no round/floor/ceil snap, in an ALREADY-TAINTED statement."""
    n = 0
    for m in re.finditer(r"\b(floor|ceil)\s*\(", text):
        if "round(" not in _sql_balanced_arg(text, m.end() - 1):
            n += 1
    for m in re.finditer(r"\bcast\s*\(", text):
        arg = _sql_balanced_arg(text, m.end() - 1)
        if (
            re.search(r"\bas\s+(int|bigint|integer|long|smallint)\b", arg)
            and not re.search(r"\b(round|floor|ceil)\s*\(", arg)
            and re.search(r"/|\bpow\s*\(|\bsqrt\s*\(", arg)
        ):
            n += 1
    return n


def float_boundary_audit(pkg_root: str | None = None) -> tuple[dict[str, int], list[str]]:
    """Static detector for the float-sum-boundary class (the flake the r12
    witness caught dynamically).  Two scans, both conservative:

    - Python AST, per function: if the function contains an order-dependent
      float aggregate (always-float agg call, sum() with a float-valued
      argument subtree, or a float-agg token in a body string literal),
      then count (a) floor/ceil calls without round() in their argument
      subtree, (b) int-casts of a float-producing expression with no
      round/floor/ceil, and (c) floor/ceil/int-cast sites inside body
      string literals (expr()/selectExpr() SQL) by the textual rule.
      Decorator strings (the DuckDB oracles) and docstrings are excluded —
      oracles are scanned separately below.

    - Registry oracles, per statement: same textual rule over each
      registered query's oracle SQL, keyed ``oracle:<query_name>``.

    Taint is function/statement-granular, not dataflow-exact, so members
    are expected — each needs a rationale in FLOAT_BOUNDARY_BY_CONTRACT
    proving ITS floor order-independent (or a ROUND-before-FLOOR fix,
    mirrored in the oracle).  Unlisted member or stale entry → FLAG."""
    scan_oracles = pkg_root is None  # a custom root exercises the AST scan only
    pkg_root = pkg_root or _pkg_root_default()

    def _calls(node):
        for n in _own_walk(node):
            if isinstance(n, ast.Call):
                f = n.func
                name = (
                    f.attr
                    if isinstance(f, ast.Attribute)
                    else (f.id if isinstance(f, ast.Name) else None)
                )
                if name:
                    yield name, n

    def _floatish(node, *, cols: bool = False) -> bool:
        """Float markers; with cols=True also base-schema double columns
        (round-13 ADVICE) — used for sum-taint only, not boundary sites."""
        for n in _own_walk(node):
            if cols and (
                isinstance(n, ast.Constant) and n.value in _DOUBLE_COLS
                or isinstance(n, ast.Name) and n.id in _DOUBLE_COLS
                or isinstance(n, ast.Attribute) and n.attr in _DOUBLE_COLS
            ):
                return True
            if isinstance(n, ast.Call):
                f = n.func
                name = (
                    f.attr
                    if isinstance(f, ast.Attribute)
                    else (f.id if isinstance(f, ast.Name) else None)
                )
                if name in _FLOATISH_FNS:
                    return True
                if name == "cast" and any(
                    isinstance(a, ast.Constant) and a.value in ("double", "float")
                    for a in n.args
                ):
                    return True
            if isinstance(n, ast.BinOp) and isinstance(n.op, ast.Div):
                return True
            if isinstance(n, ast.Constant) and isinstance(n.value, float):
                return True
        return False

    def _has_call(node, names) -> bool:
        return any(name in names for name, _ in _calls(node))

    sites: dict[str, int] = {}
    for rel, qual, node in _iter_pkg_defs(pkg_root):
        # body-only strings: decorators hold the oracle (scanned via
        # the registry), the docstring is prose
        body = node.body[1:] if ast.get_docstring(node) is not None else node.body
        text = "\n".join(
            n.value.lower()
            for stmt in body
            for n in _own_walk(stmt, root_is_def=False)
            if isinstance(n, ast.Constant) and isinstance(n.value, str)
        )
        tainted = bool(_FLOAT_AGG_SQL.search(text))
        if not tainted:
            for name, call in _calls(node):
                if name in _FLOAT_AGG_ALWAYS or (
                    name == "sum" and call.args and _floatish(call.args[0], cols=True)
                ):
                    tainted = True
                    break
        if not tainted:
            continue
        n_sites = _sql_boundary_sites(text)
        for name, call in _calls(node):
            if name in ("floor", "ceil"):
                arg = call.args[0] if call.args else None
                if arg is not None and not _has_call(arg, {"round", "bround"}):
                    n_sites += 1
            elif name == "cast" and isinstance(call.func, ast.Attribute):
                t = (
                    call.args[0].value
                    if call.args and isinstance(call.args[0], ast.Constant)
                    else None
                )
                tgt = call.func.value
                if (
                    isinstance(t, str)
                    and t.lower() in _INT_TYPES
                    and _floatish(tgt)
                    and not _has_call(tgt, {"round", "bround", "floor", "ceil"})
                ):
                    n_sites += 1
        if n_sites:
            sites[f"{rel}:{qual}"] = n_sites

    if scan_oracles:
        # registry oracle scan — imports the package, no SparkSession needed
        from sqlserver_cdc_to_kafka_spark.registry import load_all

        for name, q in sorted(load_all().items()):
            sql = getattr(q, "oracle", None)
            if not sql:
                continue
            low = sql.lower()
            if not _FLOAT_AGG_SQL.search(low):
                continue
            n = _sql_boundary_sites(low)
            if n:
                sites[f"oracle:{name}"] = n

    return sites, _contract_flags(
        sites,
        FLOAT_BOUNDARY_BY_CONTRACT,
        "unrounded floor/ceil/int-cast fed by a float aggregate",
    )


# Unordered-collect / nondeterministic-order allowlist (round-13 VERDICT
# task 1 — the float boundary's sibling, the last enumerated order-dependence
# class without a static gate).  Members: collect_list/collect_set (array
# order = combine order), first/any_value/last/nth_value (which row wins),
# rand/monotonically_increasing_id (partition placement) reaching output
# without a detected structural discipline (array_sort / sort_array /
# map_from_entries wrapping; oracle-side internal ORDER BY).  Everything else
# needs a rationale here; unlisted member or stale entry -> FLAG, so the
# class cannot reopen silently.  (Reference analog: ordering is its core
# invariant, cdc_kafka/main.py:329-331.)
ORDER_DEPENDENCE_BY_CONTRACT: dict[str, str] = {
    "operators/asof.py:asof_join": (
        "last(ignorenulls) over (keys | __t, __tag): version-time uniqueness "
        "is a documented docstring precondition, and tied probe rows are "
        "null-payload rows skipped by ignorenulls — carry is tie-invariant"
    ),
    "pipeline/dedup.py:cross_split_contamination": (
        "the capped collect_list is immediately exploded back to (shingle, "
        "doc) pairs — set semantics; array order never reaches output"
    ),
    "queries/behavior.py:q_gapfill_locf": (
        "last(ignorenulls) over hour within user_id: the exploded grid is "
        "UNIQUE per (user_id, hour) — total window order, deterministic LOCF"
    ),
    "queries/pipeline2.py:q_domain_mixture": (
        "three first() picks of values broadcast-joined from a 1-row-per-"
        "source frame keyed by the groupBy key — group-CONSTANT, any order ties"
    ),
    "queries/pipeline6.py:q_window_suite": (
        "first/last/nth_value over windows ordered by (day, o_orderkey); "
        "o_orderkey is unique -> TOTAL order, every pick deterministic"
    ),
    "oracle:events_gapfill_locf": (
        "SQL mirror of q_gapfill_locf — last_value over the unique "
        "(user_id, hour) grid (see the Python entry)"
    ),
    "oracle:olap_window_suite": (
        "SQL mirror of q_window_suite — window picks ordered by the unique "
        "o_orderkey -> total order (see the Python entry)"
    ),
}

# NOT in scope: rank/dense_rank/percent_rank/cume_dist (functions of the
# order-key VALUE — tie-stable); lead/lag/row_number tie wobble is the O6
# ordering-contract class, exercised by its own tests.
_ORDER_DEP_FNS = {
    "collect_list", "collect_set", "first", "any_value", "last", "nth_value",
    "first_value", "last_value", "rand", "randn", "shuffle",
    "monotonically_increasing_id",
}
_ORDER_DEP_SQL = re.compile(r"\b(" + "|".join(sorted(_ORDER_DEP_FNS)) + r")\s*\(", re.I)
_ORDER_DISCIPLINES = {"array_sort", "sort_array", "map_from_entries"}
_ORDER_DISCIPLINE_SQL = re.compile(
    r"\b(array_sort|sort_array|map_from_entries)\s*\(", re.I
)
# DuckDB oracle side: aggs with an optional internal ORDER BY (the ordered
# form is deterministic), window picks (order totality is not statically
# checkable — always members), and randomness.
_ORACLE_ORDERED_AGGS = re.compile(
    r"\b(list|array_agg|string_agg|group_concat|first|any_value|arbitrary|last)\s*\(",
    re.I,
)
_ORACLE_ALWAYS = re.compile(
    r"\b(first_value|last_value|nth_value|random|setseed)\s*\(", re.I
)


def _sql_order_sites(text: str) -> int:
    """Order-dependent constructs in an expr-string, outside the argument
    spans of array_sort/sort_array/map_from_entries."""
    spans = [
        (m.end(), m.end() + len(_sql_balanced_arg(text, m.end() - 1)))
        for m in _ORDER_DISCIPLINE_SQL.finditer(text)
    ]
    return sum(
        1
        for m in _ORDER_DEP_SQL.finditer(text)
        if not any(a <= m.start() < b for a, b in spans)
    )


def order_dependence_audit(pkg_root: str | None = None) -> tuple[dict[str, int], list[str]]:
    """float_boundary_audit's sibling (round-13 VERDICT task 1): per-function
    scoped AST + body expr-string scan over the package (docstrings and
    decorator strings excluded), plus a textual scan of every registered
    oracle.  array_sort/sort_array/map_from_entries wrapping is recognized
    structurally; everything else must be adjudicated in
    ORDER_DEPENDENCE_BY_CONTRACT."""
    scan_oracles = pkg_root is None
    pkg_root = pkg_root or _pkg_root_default()

    def _name(call):
        f = call.func
        return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)

    sites: dict[str, int] = {}
    for rel, qual, node in _iter_pkg_defs(pkg_root):
        disciplined: set[int] = set()
        for n in _own_walk(node):
            if isinstance(n, ast.Call) and _name(n) in _ORDER_DISCIPLINES:
                disciplined |= {
                    id(m)
                    for m in _own_walk(n)
                    if m is not n and isinstance(m, ast.Call)
                }
        n_sites = sum(
            1
            for n in _own_walk(node)
            if isinstance(n, ast.Call)
            and _name(n) in _ORDER_DEP_FNS
            and id(n) not in disciplined
        )
        body = node.body[1:] if ast.get_docstring(node) is not None else node.body
        n_sites += sum(
            _sql_order_sites(n.value.lower())
            for stmt in body
            for n in _own_walk(stmt, root_is_def=False)
            if isinstance(n, ast.Constant) and isinstance(n.value, str)
        )
        if n_sites:
            sites[f"{rel}:{qual}"] = n_sites

    if scan_oracles:
        from sqlserver_cdc_to_kafka_spark.registry import load_all

        for name, q in sorted(load_all().items()):
            low = (getattr(q, "oracle", None) or "").lower()
            n = sum(
                1
                for m in _ORACLE_ORDERED_AGGS.finditer(low)
                if " order by " not in _sql_balanced_arg(low, m.end() - 1)
            ) + len(_ORACLE_ALWAYS.findall(low))
            if n:
                sites[f"oracle:{name}"] = n

    return sites, _contract_flags(
        sites,
        ORDER_DEPENDENCE_BY_CONTRACT,
        "order-dependent construct reaching output without discipline",
    )


def scan_all(spark, registry, names, args) -> int:
    """Registry-wide anti-pattern scan: one table row per query (no full
    plan dumps — 264 plans would be unreadable).  Flags a CartesianProduct
    in any query not in CARTESIAN_BY_CONTRACT, plus the source-level scans;
    records join/shuffle/Python counts for every query so reviewers can see
    at a glance where the shuffles are."""
    lines = [
        "# PLANSCAN — registry-wide physical-plan anti-pattern scan",
        "",
        f"Generated by `tools/plan_audit.py --scan-all` at sf dir `{args.sf}`.",
        "Every registered query's initial physical plan, summarized:",
        "cartesians (legal only for the documented quadratic-by-contract",
        "baselines below), broadcast / sort-merge joins, hash shuffles,",
        "Arrow-batched Python stages, plus the source-level scans",
        "(complete-mode sinks, row-at-a-time loops).",
        "",
        "| query | cart | bcast | smj | shuffle | winSP | pyArrow | flags |",
        "|---|---|---|---|---|---|---|---|",
    ]
    n_flags = 0
    cart_seen: dict[str, int] = {}
    winsp_seen: dict[str, int] = {}
    for name in names:
        q = registry[name]
        try:
            df = q.fn(spark, args.sf)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as exc:  # noqa: BLE001 — scan must report, not die
            lines.append(f"| {name} | - | - | - | - | - | - | ERROR: {exc} |")
            n_flags += 1
            print(f"{name}: ERROR {exc}")
            continue
        cart = len(re.findall(r"CartesianProduct", plan))
        bcast = len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", plan))
        smj = len(re.findall(r"SortMergeJoin", plan))
        shuf = len(re.findall(r"hashpartitioning\(|rangepartitioning\(", plan))
        pya = len(
            re.findall(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas", plan)
        )
        winsp = single_partition_window_count(plan)
        flags = source_flags(q.fn)
        if cart:
            cart_seen[name] = cart
            if name not in CARTESIAN_BY_CONTRACT:
                flags.append("FLAG: undocumented CartesianProduct")
        if winsp:
            winsp_seen[name] = winsp
            if name not in SINGLEPART_BY_CONTRACT:
                flags.append("FLAG: undocumented single-partition window")
        n_flags += len(flags)
        lines.append(
            f"| {name} | {cart} | {bcast} | {smj} | {shuf} | {winsp} | {pya} | "
            f"{'; '.join(flags) if flags else ''} |"
        )
    lines += ["", "## Single-partition windows by contract", ""]
    if SINGLEPART_BY_CONTRACT:
        for name, why in sorted(SINGLEPART_BY_CONTRACT.items()):
            hit = (
                f"×{winsp_seen[name]}" if name in winsp_seen else "not present in plan"
            )
            lines.append(f"- `{name}` ({hit}): {why}")
    else:
        lines.append("(none)")
    psites, pflags = persist_audit()
    n_flags += len(pflags)
    lines += [
        "",
        "## Caller-managed persists (unreleased by design)",
        "",
        f"Package-wide AST audit (`tools/plan_audit.py persist_audit`): "
        f"**{sum(psites.values())} unreleased persist/cache calls across "
        f"{len(psites)} functions** — pinned; growth without a written "
        "rationale in UNRELEASED_PERSIST_BY_CONTRACT is a FLAG. These are "
        "the lazy-return sites where an in-function release would fire "
        "before any job runs; reclamation is LRU eviction + the harness's "
        "clearCache between bench reps.",
        "",
    ]
    for site in sorted(psites):
        why = UNRELEASED_PERSIST_BY_CONTRACT.get(site, "**UNADJUDICATED**")
        lines.append(f"- `{site}` (×{psites[site]}): {why}")
    for site in sorted(MIXED_PERSIST_RELEASE_BY_CONTRACT):
        lines.append(
            f"- `{site}` (mixed persist+release, net counted above or zero): "
            f"{MIXED_PERSIST_RELEASE_BY_CONTRACT[site]}"
        )
    for fl in pflags:
        lines.append(f"- **{fl}**")
        print(fl)
    fsites, fflags = float_boundary_audit()
    n_flags += len(fflags)
    lines += [
        "",
        "## Float-sum-boundary sites by contract",
        "",
        f"Static detector (`tools/plan_audit.py float_boundary_audit`) for "
        f"the class the r12 witness caught dynamically — floor/ceil/int-cast "
        f"fed by an order-dependent float aggregate without a ROUND snap: "
        f"**{sum(fsites.values())} sites across {len(fsites)} "
        f"functions/oracles**, each adjudicated below; a new member without "
        "a rationale (or a ROUND fix) is a FLAG.",
        "",
    ]
    for site in sorted(fsites):
        why = FLOAT_BOUNDARY_BY_CONTRACT.get(site, "**UNADJUDICATED**")
        lines.append(f"- `{site}` (×{fsites[site]}): {why}")
    for fl in fflags:
        lines.append(f"- **{fl}**")
        print(fl)
    osites, oflags = order_dependence_audit()
    n_flags += len(oflags)
    lines += [
        "",
        "## Order-dependence sites by contract",
        "",
        f"Static detector (`order_dependence_audit`) for the unordered-"
        f"collect / nondeterministic-order class (collect_list/first/"
        f"any_value/rand/... reaching output undisciplined): "
        f"**{sum(osites.values())} sites across {len(osites)} "
        f"functions/oracles**, adjudicated below; a new member without a "
        "rationale is a FLAG.",
        "",
    ]
    for site in sorted(osites):
        why = ORDER_DEPENDENCE_BY_CONTRACT.get(site, "**UNADJUDICATED**")
        lines.append(f"- `{site}` (×{osites[site]}): {why}")
    for fl in oflags:
        lines.append(f"- **{fl}**")
        print(fl)
    lines += ["", "## Cartesians by contract", ""]
    if CARTESIAN_BY_CONTRACT:
        for name, why in sorted(CARTESIAN_BY_CONTRACT.items()):
            hit = f"×{cart_seen[name]}" if name in cart_seen else "not present in plan"
            lines.append(f"- `{name}` ({hit}): {why}")
    else:
        lines.append(
            "(none — the registry-wide scan measures ZERO CartesianProduct "
            "nodes; even the documented quadratic-by-contract baselines use "
            "equi-joins / bounded broadcast NLJs for their pair spaces)"
        )
    with open(args.out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(
        f"wrote {args.out} — {len(names)} queries, "
        + (f"{n_flags} FLAGS" if n_flags else "no flags")
    )
    return 1 if n_flags else 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="PLANS.md")
    ap.add_argument(
        "--scan-all",
        action="store_true",
        help="scan EVERY registered query (not just bench) for scale "
        "anti-patterns; writes a compact per-query table instead of full "
        "plans — the registry-wide audit artifact (PLANSCAN.md)",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from sqlserver_cdc_to_kafka_spark.registry import load_all
    from sqlserver_cdc_to_kafka_spark.session import get_spark

    registry = load_all()
    if args.scan_all:
        names = args.names or sorted(registry)
        if args.out == "PLANS.md":
            args.out = "PLANSCAN.md"
    else:
        names = args.names or sorted(n for n, q in registry.items() if q.bench)
    spark = get_spark("plan-audit")

    if args.scan_all:
        return scan_all(spark, registry, names, args)

    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `tools/plan_audit.py` at sf dir `{args.sf}`. For each",
        "bench query: the plan-property summary (pushdown, broadcast, codegen,",
        "shuffles) and the formatted physical plan. Regenerate after any",
        "operator change.",
        "",
    ]
    n_flags = 0
    for name in names:
        q = registry[name]
        df = q.fn(spark, args.sf)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        found = []
        for pat, label in MARKERS:
            n = len(re.findall(pat, plan))
            if n:
                found.append(f"{label} ×{n}")
        flags = source_flags(q.fn)
        n_flags += len(flags)
        lines += [
            f"## {name}",
            "",
            "Properties: " + ("; ".join(found) if found else "(none matched)"),
        ]
        if flags:
            lines += [""] + [f"**{f}**" for f in flags]
        lines += [
            "",
            "```",
            plan.strip(),
            "```",
            "",
        ]
        print(f"{name}: {'; '.join(found + flags)}")
    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {args.out}" + (f" — {n_flags} FLAGS" if n_flags else ", no flags"))
    return 1 if n_flags else 0


if __name__ == "__main__":
    raise SystemExit(main())
