"""Mimics the driver's t2 gate: every registered query must match its
DuckDB oracle at sf0.001 (fast) — the driver itself runs sf0.01."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_database_application_for_recommendations_spark import registry

from .conftest import SF_SMALL
from .oracle_utils import compare, duck_con


def _type_kind(t: str) -> str:
    """Collapse an engine type name to the kind the driver's value-hash
    distinguishes: int vs float vs bool vs string vs temporal. Spark
    simpleString()s and DuckDB type names both map through here."""
    t = t.upper()
    if t in ("BOOLEAN", "BOOL"):
        return "bool"
    if any(k in t for k in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "INT")):
        return "int"
    if any(k in t for k in ("FLOAT", "DOUBLE", "REAL")):
        return "float"
    if any(k in t for k in ("VARCHAR", "STRING", "CHAR", "TEXT")):
        return "string"
    if "TIMESTAMP" in t:
        return "timestamp"
    if "DATE" in t:
        return "date"
    return t


def _oracle_kind_mismatches(spark_schema, rel) -> list[str]:
    """Column-by-column dtype-kind diff between a Spark schema and a lazy
    DuckDB relation (neither side executes). Column-name mismatches are the
    schema check's job, not this one's — only shared names are compared."""
    duck_kinds = {
        c: _type_kind(str(t)) for c, t in zip(rel.columns, rel.types)
    }
    out = []
    for f in spark_schema.fields:
        dk = duck_kinds.get(f.name)
        sk = _type_kind(f.dataType.simpleString())
        if dk is not None and dk != sk:
            out.append(f"{f.name}: spark={sk} oracle={dk}")
    return out

CASES = sorted(registry.oracle_sql().keys())

# ---- corpus-sized unpartitioned-Window guard (round-4 VERDICT item 3) ----
# An unpartitioned Window forces its whole input through ONE task's sort.
# That is only acceptable when the input is provably bounded: every path
# from the window down to a leaf must pass through an Aggregate (value
# histogram / vocab / distinct dimension), a Limit (top-k), or a
# Deduplicate before reaching a scan. LocalRelation/OneRowRelation leaves
# are driver-literal and bounded by construction. This is a cardinality
# heuristic, not a proof (an Aggregate keyed by a corpus-unique column
# would slip through), but it catches exactly the anti-pattern class the
# round-4 verdict flagged twice (IVF seeding, quality-deciles NTILE).

_BOUNDING = {"Aggregate", "GlobalLimit", "LocalLimit", "Deduplicate", "Distinct"}
_BOUNDED_LEAVES = {"LocalRelation", "OneRowRelation"}


def _kids(node):
    s = node.children()
    return [s.apply(i) for i in range(s.size())]


def _reaches_unbounded_leaf(node) -> bool:
    if node.nodeName() in _BOUNDING:
        return False
    cs = _kids(node)
    if not cs:
        return node.nodeName() not in _BOUNDED_LEAVES
    return any(_reaches_unbounded_leaf(c) for c in cs)


def unpartitioned_corpus_windows(df) -> list[str]:
    """Offending Window nodes in ``df``'s optimized logical plan."""

    def walk(n):
        yield n
        for c in _kids(n):
            yield from walk(c)

    plan = df._jdf.queryExecution().optimizedPlan()
    return [
        node.simpleString(60)
        for node in walk(plan)
        if node.nodeName() == "Window"
        and node.partitionSpec().isEmpty()
        and _reaches_unbounded_leaf(_kids(node)[0])
    ]


# ---- unbounded-broadcast-hint + low-cardinality-window guards (r7 item 5) --
# Round 7 shipped two operators whose forced F.broadcast() hinted a frame
# that is UNBOUNDED at corpus scale (source_signatures' vocab-sized df
# table) or bounded only by a runtime count the plan can't show
# (bootstrap_ci's unit table), plus per-source top-k windows whose frames
# were vocab-proportional. These guards ban both classes engine-wide:
#
#  * a broadcast hint must sit over a frame the LOGICAL PLAN proves small:
#    a limit, a driver-literal leaf, a dimension-table scan, a point/IN
#    literal filter, an aggregate whose key domain is bounded (value
#    histograms, buckets, sketch words, at most ONE entity-dimension key —
#    two entity keys together are fact grain), or the __gated_bounded__
#    witness alias that only functions/hints.gated_broadcast emits behind
#    an actual count()/stats gate;
#  * a Window partitioned ONLY by low-cardinality columns (source, lang,
#    event_type, ...) must have a bounded input by the same predicate —
#    otherwise one task sorts a corpus-proportional frame per group.
#
# Like the unpartitioned-window guard above, these are cardinality
# HEURISTICS keyed to this engine's schema vocabulary, not proofs — the
# point is that the two shapes round 7 shipped can no longer land silently.

# bounded key DOMAINS: buckets, 6dp-rounded signal histograms, char
# bigrams, cluster/community/model ids, block/file metadata grain,
# time buckets (stream-span/granularity, not corpus rows)
_BOUNDED_VALUE_KEYS = {
    "source", "lang", "language", "event_type", "rule",
    "q_bucket", "bucket", "_bkt", "_pfx", "count", "_c", "_b", "b",
    "band", "tid", "pid", "cid", "code", "byte", "cell", "layout", "_blk",
    "decile", "bucket_len", "cluster", "community", "bigram", "c1", "_c1",
    "bucket_us", "window_start_us", "hour", "day", "dow", "minute", "week",
    "sw", "_sw", "lm", "_lm", "lex", "_lex", "stopword_ratio",
    "n_tokens", "n_chars",  # value histograms (distinct lengths, not rows)
    # round-9: stratified_sample's struct-wrapped stratum key (the
    # null-safe join fix) — same |strata| domain as the raw column
    "_strat",
}
# entity-dimension keys: an aggregate at exactly ONE entity's grain is
# dimension-sized; two or more together = fact/pair grain = unbounded
_DIM_KEYS = {"user_id", "isbn", "vec_id", "u1", "u2", "i1", "i2"}
# dimension-table parquet scans (the reference's node tables): broadcast
# by design in the serving catalog. Fact/corpus tables are NOT here.
_DIM_LEAF_COLS = ("c_custkey", "p_partkey", "n_nationkey", "r_regionkey", "s_suppkey")
_BROADCAST_BOUNDED_LEAVES = _BOUNDED_LEAVES | {"LogicalRDD", "Range"}
_BOUNDED_EXPR_HEADS = ("substring(", "pmod(", "shiftright(")

import re as _re


_LIT = r"(?:cast\()?(\d+)(?: as \w+\))?"


def _filter_cond_bounds(cond: str) -> bool:
    """Point lookups, IN literal lists, and small top-of-id-space range
    slices bound a frame; general predicates (rating >= 6) do not."""
    if _re.search(r"\w+#\d+L? IN \(", cond):
        return True
    if _re.search(rf"\w+#\d+L? = {_LIT}\)", cond):
        return True
    m = _re.search(rf"\w+#\d+L? <=? {_LIT}\)", cond)
    if m and int(m.group(1)) <= 4096:
        return True
    return False


def _subtree_has_in_filter_on(node, keys: set[str]) -> bool:
    todo = [node]
    left = set(keys)
    while todo and left:
        n = todo.pop()
        if n.nodeName() == "Filter":
            cond = n.condition().toString()
            for k in list(left):
                if _re.search(rf"\b{_re.escape(k)}#\d+L? IN \(", cond):
                    left.discard(k)
        todo.extend(_kids(n))
    return not left


def _bounded_key_expr(e: str) -> bool:
    if e.startswith(_BOUNDED_EXPR_HEADS):
        return True
    if _re.match(r"^\(\w+#\d+L? div cast\(\d+ as bigint\)\)", e):
        return True  # two-level histogram bucket
    if _re.search(r"% (?:cast\()?\d+", e):
        return True  # mod-by-constant: domain bounded by the modulus
    return False


def _resolve_extracted_grouping(node, ref: str) -> str | None:
    """The optimizer pulls computed grouping keys into a child Project as
    ``<expr> AS _groupingexpression#N`` — chase the attribute back to the
    expression text so the bounded-domain predicates can judge it."""
    for kid in _kids(node):
        if kid.nodeName() != "Project":
            continue
        pl = kid.projectList()
        for i in range(pl.size()):
            s = pl.apply(i).toString()
            if s.endswith(f"AS {ref}"):
                return s[: -len(f" AS {ref}")]
    return None


def _grouping_bounded(node) -> bool:
    gs = node.groupingExpressions()
    if gs.isEmpty():
        return True
    dims = set()
    bad = set()
    for i in range(gs.size()):
        e = gs.apply(i).toString()
        m = _re.match(r"^([A-Za-z_][A-Za-z0-9_]*)#\d+", e)
        if m:
            nm = m.group(1)
            if nm in _BOUNDED_VALUE_KEYS:
                continue
            if nm in _DIM_KEYS:
                dims.add(nm)
                continue
            if nm == "_groupingexpression":
                src = _resolve_extracted_grouping(node, e)
                if src is not None and _bounded_key_expr(src):
                    continue
            bad.add(nm)
            continue
        if _bounded_key_expr(e):
            continue
        bad.add(e[:50])
    if bad:
        # term-filtered aggregates (BM25's df over token IN (...)) bound
        return _subtree_has_in_filter_on(node, bad)
    return len(dims) <= 1


def _plan_bounded(node) -> bool:
    nn = node.nodeName()
    if nn == "Aggregate":
        return _grouping_bounded(node)
    if nn in _BOUNDING:
        return True
    if nn == "SubqueryAlias":
        if "__gated_bounded__" in node.simpleString(80):
            return True
        kids = _kids(node)
        return _plan_bounded(kids[0]) if kids else False
    if nn == "Filter":
        kids = _kids(node)
        # per-group top-k: Filter(rn <= k) over (Project*) Window
        probe = kids[0] if kids else None
        while probe is not None and probe.nodeName() == "Project":
            pk = _kids(probe)
            probe = pk[0] if pk else None
        if probe is not None and probe.nodeName() == "Window":
            return True
        if _filter_cond_bounds(node.condition().toString()):
            return True
        return _plan_bounded(kids[0]) if kids else False
    kids = _kids(node)
    if not kids:
        if nn in _BROADCAST_BOUNDED_LEAVES:
            return True
        s = node.simpleString(200)
        return any(c in s for c in _DIM_LEAF_COLS)
    return all(_plan_bounded(c) for c in kids)


def unbounded_broadcast_hints(df) -> list[str]:
    """Broadcast hints in the ANALYZED plan (ResolvedHint survives there)
    whose hinted frame the plan cannot prove bounded."""

    def walk(n):
        yield n
        for c in _kids(n):
            yield from walk(c)

    plan = df._jdf.queryExecution().analyzed()
    return [
        _kids(node)[0].nodeName() + ":" + _kids(node)[0].simpleString(80)
        for node in walk(plan)
        if node.nodeName() == "ResolvedHint" and not _plan_bounded(_kids(node)[0])
    ]


_LOW_CARD_PARTITION = {"source", "lang", "language", "event_type", "rule"}


def lowcard_corpus_windows(df) -> list[str]:
    """Window nodes partitioned ONLY by low-cardinality columns whose
    input frame the plan cannot prove bounded — one task sorts a
    corpus-proportional frame per group."""

    def walk(n):
        yield n
        for c in _kids(n):
            yield from walk(c)

    plan = df._jdf.queryExecution().optimizedPlan()
    out = []
    for node in walk(plan):
        if node.nodeName() != "Window":
            continue
        ps = node.partitionSpec()
        if ps.isEmpty():
            continue
        names = set(_re.findall(r"([A-Za-z_][A-Za-z0-9_]*)#\d+", ps.mkString(",")))
        if names and names <= _LOW_CARD_PARTITION and not _plan_bounded(_kids(node)[0]):
            out.append(node.simpleString(100))
    return out


def test_broadcast_guard_flags_the_round7_shapes(spark):
    """Sensitivity: the guard must flag the exact shapes round 7 shipped
    (forced broadcast of a token-keyed aggregate; forced broadcast of a
    unit-keyed aggregate with no witness; per-source top-k window over a
    vocab-proportional frame) and pass the sanctioned ones."""
    from graph_database_application_for_recommendations_spark.functions.hints import gated_broadcast
    from graph_database_application_for_recommendations_spark.functions.text import tokens

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    tok = docs.select("source", F.explode(tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("source", "token").count()
    # r7 source_signatures: broadcast of the vocab-sized sdf table
    sdf = tf.groupBy("token").agg(F.count(F.lit(1)).alias("sdf"))
    bad = tf.join(F.broadcast(sdf), "token")
    assert unbounded_broadcast_hints(bad), "guard missed a vocab-sized broadcast"
    # r7 bootstrap_ci: broadcast of the full unit table, no witness
    units = docs.selectExpr("doc_id AS _u", "n_chars AS _v").groupBy("_u").agg(
        F.max("_v").alias("_v")
    )
    bad2 = docs.join(F.broadcast(units), docs.doc_id == units._u)
    assert unbounded_broadcast_hints(bad2), "guard missed an unbounded unit broadcast"
    # the witnessed twin passes
    ok = docs.join(gated_broadcast(units, "test: counted"), docs.doc_id == units._u)
    assert not unbounded_broadcast_hints(ok), "guard flagged a witnessed broadcast"
    # bounded-key aggregate passes (histogram grain)
    hist = docs.groupBy("source").count()
    assert not unbounded_broadcast_hints(docs.join(F.broadcast(hist), "source"))
    # r7 source_signatures top-k: per-source window over vocab-sized frame
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.desc("count"), F.asc("token"))
    bad3 = tf.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 5)
    assert lowcard_corpus_windows(bad3), "guard missed a low-card corpus window"
    # two-level twin passes: bucketed local top-k first
    loc = Window.partitionBy("source", "bkt").orderBy(F.desc("count"), F.asc("token"))
    local = (
        tf.withColumn("bkt", F.pmod(F.hash("token"), F.lit(64)))
        .withColumn("rn", F.row_number().over(loc))
        .where(F.col("rn") <= 5)
        .drop("rn", "bkt")
    )
    ok2 = local.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 5)
    assert not lowcard_corpus_windows(ok2), "guard flagged the two-level top-k"


def test_gated_broadcast_marker_is_single_sourced():
    """The __gated_bounded__ witness may only be emitted by
    functions/hints.gated_broadcast — an alias slapped on elsewhere would
    be an unverified bypass of the broadcast guard."""
    import glob
    import os

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "graph_database_application_for_recommendations_spark",
    )
    offenders = []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, root)
        with open(path) as fh:
            src = fh.read()
        if "__gated_bounded__" in src and rel != os.path.join("functions", "hints.py"):
            offenders.append(rel)
    assert not offenders, f"__gated_bounded__ emitted outside hints.py: {offenders}"


def test_broadcast_budget_is_single_sourced():
    """The engine has one byte budget for broadcasts and driver-held
    tables, ``plans.NODE_VECTOR_BUDGET_BYTES``, asked through
    ``plans.node_vector_fits``; setting it to 0 is how tests force every
    byte-sized gate onto its shuffle branch. A second copy of the 256 MiB
    figure anywhere else in the package is a gate that setting cannot
    reach. The scan is an AST walk over numeric constant expressions
    (``256 * 1024 * 1024``, ``256 << 20``, ``268435456``, ...), so a
    comment or a docstring that names the figure does not trip it."""
    import ast
    import glob
    import os

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "graph_database_application_for_recommendations_spark",
    )
    budget = 256 * 1024 * 1024

    def numeric(node) -> bool:
        if isinstance(node, ast.Constant):
            return type(node.value) in (int, float)
        if isinstance(node, ast.UnaryOp):
            return numeric(node.operand)
        if isinstance(node, ast.BinOp):
            return numeric(node.left) and numeric(node.right)
        return False

    offenders = []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, root)
        if rel == os.path.join("plans", "__init__.py"):
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if isinstance(node, (ast.Constant, ast.UnaryOp, ast.BinOp)) and numeric(node):
                expr = ast.Expression(body=node)
                try:
                    value = eval(compile(expr, rel, "eval"))
                except ArithmeticError:
                    continue
                if value == budget:
                    offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, (
        f"256 MiB byte budget spelled outside plans/__init__.py: {offenders} — "
        "ask plans.node_vector_fits instead"
    )


def test_lazy_pins_are_single_sourced():
    """The lazy round boundary (cache, one fill aggregate, lazy
    ``localCheckpoint``, then release of the cache and the checkpoint
    blocks) has one implementation: ``plans.pin`` with ``plans.release``.
    An AST walk fails on a ``localCheckpoint(eager=False)`` in any other
    function, on a ``release_checkpoint`` call outside
    ``plans/__init__.py`` (``plans.release`` is the drop-in that also frees
    a pin's cache), and on an allow-list entry that no longer matches."""
    import ast
    import glob
    import os

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "graph_database_application_for_recommendations_spark",
    )
    home = os.path.join("plans", "__init__.py")
    allowed = {
        f"{home}::pin": "the one lazy round boundary",
        os.path.join("plans", "louvain.py") + "::_local_move": (
            "cache-free sweep checkpoint: the label table is read twice and "
            "filled by the move count itself, with no cache behind it"
        ),
    }

    def lazy(call) -> bool:
        return (
            isinstance(call.func, ast.Attribute)
            and call.func.attr == "localCheckpoint"
            and any(
                k.arg == "eager" and isinstance(k.value, ast.Constant)
                and k.value.value is False
                for k in call.keywords
            )
        )

    def named(call, name) -> bool:
        f = call.func
        return (f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)) == name

    found, stray_releases = {}, []

    def visit(node, rel, owner):
        for child in ast.iter_child_nodes(node):
            inner = (
                child.name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                else owner
            )
            if isinstance(child, ast.Call):
                if lazy(child):
                    found.setdefault(f"{rel}::{owner}", []).append(child.lineno)
                if named(child, "release_checkpoint") and rel != home:
                    stray_releases.append(f"{rel}:{child.lineno}")
            visit(child, rel, inner)

    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, root)
        with open(path) as fh:
            visit(ast.parse(fh.read()), rel, "<module>")
    offenders = [
        f"{site}:{line}" for site in sorted(set(found) - set(allowed))
        for line in found[site]
    ]
    assert not offenders, (
        f"lazy localCheckpoint outside plans.pin: {offenders} — use plans.pin"
    )
    assert not stray_releases, (
        f"release_checkpoint called outside plans/__init__.py: {stray_releases} "
        "— use plans.release"
    )
    assert set(allowed) <= set(found), (
        f"stale allow-list entries: {sorted(set(allowed) - set(found))}"
    )


def test_no_raw_broadcast_hints_engine_wide():
    """Every broadcast hint in the engine must route through
    ``gated_broadcast`` (via ``gate_node_vector_broadcast`` for counted
    node vectors), never raw ``F.broadcast``. Two reasons the ban is at
    SOURCE level rather than plan level: (a) iterative drivers execute
    their per-round joins eagerly inside the Python loop, so the
    registered query's final plan never contains them — the plan-walking
    guard is structurally blind there (round-8 VERDICT item 2:
    pagerank/eigenvector/hits re-broadcast the full |V| score vector
    every iteration, ungated — ~24 GB per round at 10⁹ nodes); (b) the
    witness's ``reason`` string is the greppable audit record of WHY each
    frame is bounded, which a bare hint never carries (round-9 VERDICT
    item 4: uniform engine-wide, not per-directory). Scope: the whole
    package except ``functions/hints.py`` (the one sanctioned emitter).
    The scan is an AST walk, not a text match (round-9 ADVICE: a
    commented-out call or a docstring example must not trip the ban) —
    which also catches line-wrapped calls a text scan would miss, and
    flags a direct ``from pyspark.sql.functions import broadcast`` as
    the bypass it would be."""
    import ast
    import glob
    import os

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "graph_database_application_for_recommendations_spark",
    )
    offenders = []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, root)
        if rel == os.path.join("functions", "hints.py"):
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read(), filename=rel)
        # names bound to the pyspark functions module in THIS module —
        # the ban follows the binding, not the conventional name "F"
        # (round-10 code review: "import ... as sf" silently bypassed)
        fn_aliases = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql":
                for alias in node.names:
                    if alias.name == "functions":
                        fn_aliases.add(alias.asname or alias.name)
            if isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name == "pyspark.sql.functions":
                        fn_aliases.add(alias.asname or "pyspark")
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id in fn_aliases
            ):
                offenders.append(f"{rel}:{node.lineno} functions.broadcast call")
            # DataFrame.hint('broadcast') is the same forced hint through
            # the other API door — ban it anywhere in the engine
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "hint"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and isinstance(node.args[0].value, str)
                and node.args[0].value.lower() == "broadcast"
            ):
                offenders.append(f"{rel}:{node.lineno} .hint('broadcast') call")
            if isinstance(node, ast.ImportFrom) and node.module and node.module.endswith(
                "pyspark.sql.functions"
            ):
                for alias in node.names:
                    if alias.name == "broadcast":
                        offenders.append(
                            f"{rel}:{node.lineno} direct broadcast import"
                        )
    assert not offenders, (
        f"raw broadcast hint in engine sources (use gated_broadcast with a "
        f"reason naming the boundedness evidence, or "
        f"gate_node_vector_broadcast for counted node vectors): {offenders}"
    )


def test_no_module_level_cache_containers():
    """Stage results a session reuses have ONE owner: the registry's
    ``_session_memo`` over ``_STAGE_CACHE``. A library module that binds a
    module-level ``_*CACHE*`` / ``_*MEMO*`` dict or list grows a second,
    unowned memo whose entries outlive every query that filled them and
    escape ``registry.reset_caches()``. AST walk over each module's
    top-level assignments (a docstring or comment mentioning such a name
    does not trip it)."""
    import ast
    import glob
    import os
    import re

    allowed = {
        "registry.py::_STAGE_CACHE": "the single per-session stage memo",
        os.path.join("operators", "pq.py") + "::_LAST_ROTATED_CACHE": (
            "one-slot rotated-corpus release until a query-scoped owner "
            "exists (ROADMAP direction 3)"
        ),
    }
    containers = (ast.Dict, ast.List, ast.DictComp, ast.ListComp)
    factories = {"dict", "list", "defaultdict", "OrderedDict"}

    def is_container(value) -> bool:
        if isinstance(value, containers):
            return True
        if isinstance(value, ast.Call):
            f = value.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            return name in factories
        return False

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "graph_database_application_for_recommendations_spark",
    )
    found = []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, root)
        with open(path) as fh:
            tree = ast.parse(fh.read(), filename=rel)
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            for t in targets:
                if (
                    isinstance(t, ast.Name)
                    and re.fullmatch(r"_\w*(CACHE|MEMO)\w*", t.id, re.IGNORECASE)
                    and is_container(value)
                ):
                    found.append(f"{rel}::{t.id}")
    offenders = sorted(set(found) - set(allowed))
    assert not offenders, (
        f"module-level cache containers outside the registry memo: {offenders} "
        f"(memoize per-session stages with registry._session_memo)"
    )
    assert set(allowed) <= set(found), (
        f"stale allow-list entries: {sorted(set(allowed) - set(found))}"
    )


def test_slow_list_names_existing_tests():
    """Every ``conftest._SLOW_TESTS`` entry names a test function defined
    in its file: a deleted or renamed test must leave the list with it,
    or the slow/fast split silently drifts."""
    import ast
    import os

    from .conftest import _SLOW_TESTS

    here = os.path.dirname(os.path.abspath(__file__))
    defined: dict[str, set[str]] = {}
    for fname in {entry.split("::")[0] for entry in _SLOW_TESTS}:
        path = os.path.join(here, fname)
        body = ast.parse(open(path).read()).body if os.path.exists(path) else []
        defined[fname] = {n.name for n in body if isinstance(n, ast.FunctionDef)}
    stale = sorted(
        entry
        for entry in _SLOW_TESTS
        if entry.split("::")[1].split("[")[0] not in defined[entry.split("::")[0]]
    )
    assert not stale, f"_SLOW_TESTS entries naming no test: {stale}"


def test_gate_node_vector_broadcast_switches_on_count(spark):
    """The shared gate must broadcast (with the witness alias) under the
    byte budget and fall back to the bare frame over it — the exact louvain
    policy the round-8 verdict ordered onto pagerank/eigenvector/hits."""
    from graph_database_application_for_recommendations_spark.plans import (
        gate_node_vector_broadcast,
    )

    vec = spark.range(10).withColumnRenamed("id", "node_id")
    edges = spark.range(100).withColumnRenamed("id", "node_id")
    joined_small = edges.join(
        gate_node_vector_broadcast(10, "test vector")(vec), "node_id"
    )
    plan = joined_small._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, "small vector not broadcast-joined"
    assert not unbounded_broadcast_hints(joined_small), (
        "witness missing on gated hint"
    )
    joined_big = edges.join(
        gate_node_vector_broadcast(10**9, "test vector")(vec), "node_id"
    )
    analyzed = joined_big._jdf.queryExecution().analyzed().toString()
    assert "broadcast" not in analyzed.lower(), (
        "over-budget vector still broadcast-hinted"
    )


def _budget_gate_sites():
    """Byte-budget gates outside the iterative drivers, each as
    ``(build, marker)``: ``build(spark)`` runs the operator on sf0.001
    inputs, and ``marker`` is what its analyzed plan carries when the
    gate broadcasts — the gated-broadcast witness, or for ``knn_exact``
    the BLAS strategy's Arrow kernel."""
    from graph_database_application_for_recommendations_spark.functions.hints import (
        GATED_BROADCAST_MARKER,
    )
    from graph_database_application_for_recommendations_spark.operators import (
        bpe,
        dedup,
        knn,
        simsearch,
    )
    from graph_database_application_for_recommendations_spark.operators.corating import (
        corating_edges,
    )
    from graph_database_application_for_recommendations_spark.sources.views import (
        load_ref_tables,
    )

    def emb(spark):
        return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")

    def docs(spark):
        return spark.read.parquet(f"{SF_SMALL}/documents.parquet")

    def lsh(fn):
        return lambda spark: fn(
            emb(spark).filter(F.col("vec_id") < 10), emb(spark), k=10, dim=64
        )

    def verify_pairs(spark):
        pairs = spark.range(0, 60).select(
            F.col("id").alias("doc_a"), (F.col("id") + 7).alias("doc_b")
        )
        return dedup.jaccard_verify_pairs(docs(spark), pairs, n=1, threshold=0.05)

    return {
        "corating_edges": (
            lambda spark: corating_edges(load_ref_tables(spark, SF_SMALL).ratings),
            GATED_BROADCAST_MARKER,
        ),
        "topk_hyperplane_lsh": (lsh(simsearch.topk_hyperplane_lsh), GATED_BROADCAST_MARKER),
        "topk_hyperplane_lsh_multiprobe": (
            lsh(simsearch.topk_hyperplane_lsh_multiprobe),
            GATED_BROADCAST_MARKER,
        ),
        "jaccard_verify_pairs": (verify_pairs, GATED_BROADCAST_MARKER),
        "weighted_jaccard_pairs": (
            lambda spark: dedup.weighted_jaccard_pairs(docs(spark), threshold=0.3),
            GATED_BROADCAST_MARKER,
        ),
        "bpe_segment": (
            lambda spark: bpe.bpe_segment(docs(spark), [("t", "h"), ("th", "e")]),
            GATED_BROADCAST_MARKER,
        ),
        "knn_exact": (
            lambda spark: knn.knn_exact(
                emb(spark).filter(F.col("vec_id") < 100), cutoff=0.1, strategy="auto"
            ),
            "MapInPandas",
        ),
    }


@pytest.mark.parametrize("site", sorted(_budget_gate_sites()))
def test_zero_byte_budget_forces_every_gate_off_broadcast(spark, monkeypatch, site):
    """``plans.NODE_VECTOR_BUDGET_BYTES = 0`` is the one setting that forces
    every byte-sized gate onto its non-broadcast branch, with the same
    rows. The check is on the plan's own hint (or, for ``knn_exact``, on
    the strategy), not on ``BroadcastHashJoin``: at test scale Spark's
    ``autoBroadcastJoinThreshold`` may still broadcast a tiny side."""
    from graph_database_application_for_recommendations_spark import plans

    build, marker = _budget_gate_sites()[site]

    def run():
        df = build(spark)
        return marker in df._jdf.queryExecution().analyzed().toString(), sorted(
            map(tuple, df.collect())
        )

    hinted, want = run()
    assert hinted, f"{site}: the default budget no longer takes the broadcast branch"
    assert want, f"{site}: empty result proves nothing"
    monkeypatch.setattr(plans, "NODE_VECTOR_BUDGET_BYTES", 0)
    hinted, got = run()
    assert not hinted, f"{site}: a zero budget still takes the broadcast branch"
    assert got == want


def test_window_guard_flags_the_reverted_antipattern(spark):
    """Sensitivity check: the guard must flag the exact shapes the round-4
    verdict found (global row_number over a raw scan; global NTILE over a
    per-doc projection) and must pass the sanctioned histogram shape."""
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    bad_rank = docs.withColumn(
        "rk", F.row_number().over(Window.orderBy("doc_id"))
    )
    assert unpartitioned_corpus_windows(bad_rank), "guard missed a global row_number over a scan"
    bad_ntile = docs.select("doc_id", "n_chars").withColumn(
        "tile", F.ntile(10).over(Window.orderBy("n_chars", "doc_id"))
    )
    assert unpartitioned_corpus_windows(bad_ntile), "guard missed a global NTILE"
    hist = docs.groupBy("n_chars").count()
    ok = hist.withColumn(
        "cum",
        F.sum("count").over(
            Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    assert not unpartitioned_corpus_windows(ok), "guard flagged the histogram pattern"
    topk = docs.orderBy("doc_id").limit(8).withColumn(
        "rk", F.row_number().over(Window.orderBy("doc_id"))
    )
    assert not unpartitioned_corpus_windows(topk), "guard flagged a limit-bounded window"


@pytest.mark.parametrize("name", CASES)
def test_parity_sf0001(spark, name):
    fn = registry.queries()[name]
    sql = registry.oracle_sql()[name]
    compare(name, fn(spark, SF_SMALL), sql, SF_SMALL)


def test_all_registered_queries_are_driver_canonicalizable(spark):
    """The driver canonicalizes results with pandas sort_values, which
    throws ``unhashable type`` on array/map columns and aborts the WHOLE
    sweep (round-1 CORRECTNESS aborted at q_pipeline_fastrp_embeddings,
    leaving 8 queries unchecked). Pin: every registered query's schema
    is scalar-only (schema resolution; pipeline queries run their
    algorithm jobs once at sf0.001 and are cached for other tests)."""
    bad = {}
    py_udf = {}
    global_windows = {}
    cartesian = {}
    unbounded_bcast = {}
    lowcard_windows = {}
    oracle_types = {}
    sqls = registry.oracle_sql()
    duck = duck_con(SF_SMALL)
    for name, fn in registry.queries().items():
        df = fn(spark, SF_SMALL)
        # oracle output types must be hash-stable (round-9: the r08
        # q_ingest_compaction red row was DuckDB widening SUM(BIGINT) to
        # HUGEINT, which pandas renders float64 against Spark's LONG —
        # value-equal, kind-different, red under the driver's hash).
        # Checked lazily from the relation, no execution; DECIMAL is
        # banned too (pandas conversion is engine-version-dependent).
        if name in sqls:
            rel = duck.sql(sqls[name])
            offending = [
                f"{c}:{t}"
                for c, t in zip(rel.columns, (str(t).upper() for t in rel.types))
                if "HUGEINT" in t or "DECIMAL" in t or "INT128" in t
            ]
            mism = _oracle_kind_mismatches(df.schema, rel)
            if offending or mism:
                oracle_types[name] = offending + mism
        offenders = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in df.schema.fields
            if any(t in f.dataType.simpleString() for t in ("array", "map", "struct"))
        ]
        if offenders:
            bad[name] = offenders
        # plan hygiene, piggybacked on the same sweep: row-at-a-time
        # Python UDFs (BatchEvalPython) are banned engine-wide — Arrow
        # kernels show as ArrowEvalPython/MapInPandas/FlatMapGroupsInPandas
        # and are fine
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "BatchEvalPython" in plan:
            py_udf[name] = True
        # ... as are corpus-sized unpartitioned Windows (round-4 VERDICT
        # item 3): single-task global sorts, the engine's documented
        # scale anti-pattern (operators/packing.py:7)
        gw = unpartitioned_corpus_windows(df)
        if gw:
            global_windows[name] = gw
        # ... and non-broadcast cartesian products, the other silent
        # scale-killer class. Engine code never emits one (crossJoin is
        # always broadcast-hinted -> BroadcastNestedLoopJoin); the ONE
        # sanctioned site is MLlib's own recommendForAllUsers, whose
        # blocked user-factor x item-factor CartesianProduct +
        # collect_top_k IS the canonical ALS serving plan.
        if "CartesianProduct" in plan and name not in ("q_recsys_als",):
            cartesian[name] = True
        # ... broadcast hints must sit over plan-provably-bounded frames
        # (or carry the gated_broadcast witness) — round-7 VERDICT item 5
        ub = unbounded_broadcast_hints(df)
        if ub:
            unbounded_bcast[name] = ub
        # ... and low-cardinality-partitioned windows must have bounded
        # inputs (the other shape that let source_signatures through)
        lw = lowcard_corpus_windows(df)
        if lw:
            lowcard_windows[name] = lw
    assert not bad, f"non-canonicalizable columns: {bad}"
    assert not py_udf, f"row-at-a-time Python UDFs in plans: {sorted(py_udf)}"
    assert not global_windows, (
        f"corpus-sized unpartitioned Windows (single-task global sorts): {global_windows}"
    )
    assert not cartesian, f"non-broadcast cartesian products: {sorted(cartesian)}"
    assert not unbounded_bcast, (
        f"broadcast hints over frames the plan can't prove bounded: {unbounded_bcast}"
    )
    assert not lowcard_windows, (
        f"low-cardinality-partitioned windows over unbounded frames: {lowcard_windows}"
    )
    assert not oracle_types, (
        f"hash-unstable or kind-mismatched oracle output types: {oracle_types}"
    )


@pytest.mark.parametrize(
    "name",
    [n for n in CASES if n.startswith("q_events") or n == "q_ingest_events"],
)
def test_events_parity_is_session_timezone_proof(spark, name):
    """The driver's session timezone is unknown; every event-time output is
    epoch-micros arithmetic, so parity must hold under any session tz."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        compare(name, registry.queries()[name](spark, SF_SMALL),
                registry.oracle_sql()[name], SF_SMALL)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_every_rows_only_query_has_an_attestable_twin():
    """Round-4 discipline: a rows-only registration (no oracle SQL) must
    name an oracle-backed companion in registry.ROWS_ONLY_TWINS — so every
    surface keeps a driver hash row even when its own output can't be
    value-hashed."""
    from graph_database_application_for_recommendations_spark import registry

    q = set(registry.queries())
    o = set(registry.oracle_sql())
    rows_only = q - o
    missing = rows_only - set(registry.ROWS_ONLY_TWINS)
    assert not missing, f"rows-only queries without a declared twin: {sorted(missing)}"
    bad_twins = {
        name: twin
        for name, twin in registry.ROWS_ONLY_TWINS.items()
        if twin not in o
    }
    assert not bad_twins, f"twins that are not oracle-backed: {bad_twins}"
    stale = set(registry.ROWS_ONLY_TWINS) - rows_only
    assert not stale, f"twin map entries for queries that are no longer rows-only: {sorted(stale)}"


def test_window_rotation_is_lru_and_counts_rows_only_appearances():
    """Round-5 VERDICT item 1: rows-only queries must rotate on their real
    driver-artifact history (their ``no_oracle`` rows), not a pinned rank,
    and the window must be LRU on last-round-seen so stale attestations
    (e.g. the §2.8 serving catalog, last green r02 before this fix) come
    back to the front instead of being starved behind fresher rows."""
    import glob
    import json
    import os
    import re

    from graph_database_application_for_recommendations_spark import registry

    att = registry._DRIVER_ATTESTATIONS
    order = registry._window_order()

    # (a) The order is sorted by (last_round, count): never-attested first,
    # then strictly oldest-attested first.
    keys = [att.get(n, (0, 0))[::-1] for n in order]
    assert keys == sorted(keys), "window order is not LRU on (last_round, count)"

    # (b) Every rows-only query that left a no_oracle row in an artifact is
    # ranked by that appearance — no (1, 0) pinning.
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen_rows_only: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", path).group(1))
        with open(path) as fh:
            for name, row in json.load(fh).items():
                if (
                    isinstance(row, dict)
                    and row.get("err") == "no_oracle"
                    and row.get("spark_rows") is not None
                ):
                    seen_rows_only[name] = max(seen_rows_only.get(name, 0), rnd)
    for name, rnd in seen_rows_only.items():
        if name in registry.QUERIES:
            count, last = att.get(name, (0, 0))
            assert last >= rnd, (
                f"{name} appeared rows-only in r{rnd} but is ranked last_round={last}"
            )


def test_driver_side_materialization_sites_are_classified():
    """Mechanizes the per-round collect()/toPandas() audit (VERDICT r7:
    'all sites size-gated, scalar, or API-edge'): every driver-side
    materialization call in the package must appear in this classified
    allowlist. A new site fails here until it is audited and added with
    its reason — collect() in an operator hot path is the
    not-actually-distributed anti-pattern this guards against."""
    import ast
    import glob
    import os
    from collections import Counter

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "graph_database_application_for_recommendations_spark",
    )
    sites: Counter[str] = Counter()
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        spans = [
            (n.lineno, max(getattr(n, "end_lineno", n.lineno), n.lineno), n.name)
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]

        def enclosing(ln: int) -> str:
            best = None
            for a, b, nm in spans:
                if a <= ln <= b and (best is None or a > best[0]):
                    best = (a, nm)
            return best[1] if best else "<module>"

        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("collect", "toPandas", "toArrow")
            ):
                sites[f"{os.path.relpath(path, root)}::{enclosing(n.lineno)}"] += 1

    # site -> (max call count, reason). Audited r7 (VERDICT) + r8.
    allow = {
        "functions/blas.py::cosine_candidates": (1, "size-gated driver-local BLAS path"),
        "functions/blas.py::cosine_pairs": (1, "size-gated driver-local BLAS path"),
        "operators/bpe.py::bpe_merges": (1, "n_merges-bounded vocab loop (driver algorithm)"),
        "operators/dedup.py::neardup_components": (1, "scalar convergence check per LFMIS round"),
        "operators/diagnostics.py::table_profile": (1, "bounded per-column profile rows"),
        "operators/ivf.py::train_ivf_centroids": (2, "num_cells x dim seed and centroid tables, already broadcast through the driver"),
        "operators/ivf.py::_topk_ivf_driver": (1, "under the node-vector gate, the corpus's normalized vectors and md5 seed keys: the gated node-vector table"),
        "operators/ivfpq.py::topk_ivfpq": (1, "LUT-gated local rerank (documented gate)"),
        "operators/knn.py::knn_exact_local": (1, "size-gated local twin of the distributed op"),
        "operators/pca.py::pca_fit": (1, "dim x dim Gram matrix (vector-dim bounded)"),
        "operators/pq.py::topk_pq": (1, "codebook-sized LUT to driver"),
        "operators/pq.py::train_pq_codebooks": (1, "sampled k-means training set (bounded sample)"),
        "operators/sampling.py::stratified_sample": (1, "scalar histogram-size gate aggregate (r10 broadcast guard)"),
        "operators/recommend.py::_ratings_of": (1, "driver-path recommender call: the rating rows of the target and its neighbours or community, a node-sized key set the node-vector gate admitted"),
        "operators/serving.py::driver_table": (1, "a node-sized serving table, collected once at recommender construction only after its row count passed the node-vector gate"),
        "plans/fastrp.py::_fastrp_local": (2, "gated driver-local path (documented gates)"),
        "plans/fastrp.py::_fastrp_driver": (1, "under the node-vector gate, the node ids of the gated node-vector table, which the broadcast already ships through the driver"),
        "plans/fastrp.py::propagate_in_spark": (1, "each driver-owner round's n x dim means: the gated node-vector table, which the broadcast already ships through the driver"),
        "plans/louvain.py::_compose_local": (1, "scalar label offset (over-gate mapping)"),
        "plans/louvain.py::_local_move": (3, "scalar level size; under the node-vector gate, the (node_id, deg) arrays and each sweep's movers: the gated label table, which the broadcast already ships through the driver"),
        "plans/louvain.py::louvain": (2, "coarse graph under the local gate + one scalar Q/row-count aggregate"),
        "plans/modularity.py::modularity": (1, "scalar Q"),
        "plans/pipeline.py::_bipartite_fastrp_arrays": (1, "gated driver-local path: <= LOCAL_MAX_EDGES doubled edges"),
        "recommender.py::_records": (1, "API edge: Bolt-style dict rows (reference parity)"),
        "registry.py::_bpe_segment_q": (1, "bounded merge table binding"),
        "registry.py::_mix_fractions_q": (1, "|sources|-bounded fractions"),
        "registry.py::_mix_unimax_q": (1, "|sources|-bounded budgets"),
    }
    unclassified = {s: c for s, c in sites.items() if s not in allow}
    assert not unclassified, (
        f"unaudited driver-side materialization sites (classify or fix): {unclassified}"
    )
    grown = {s: c for s, c in sites.items() if c > allow[s][0]}
    assert not grown, f"sites grew beyond their audited call count: {grown}"
    assert set(allow) <= set(sites), (
        f"stale allow-list entries: {sorted(set(allow) - set(sites))}"
    )
