"""Spark-free checks on the lists the engine derives instead of hand-keeping,
and source guards that keep deleted inline copies, deleted second code paths
and options every caller sets alike from growing back."""

from __future__ import annotations

import ast
import collections
import pathlib
import re
import types

import pytest

import bench
from candyspark.plans import FRONT, _module_queries, collect_registry

PKG = pathlib.Path(__file__).resolve().parent.parent / "candyspark"
ROOT = PKG.parent


def test_headline_excludes_every_streaming_drain():
    # streaming_running_totals is registered only where protobuf imports:
    # the drain set must follow the registry, not a list kept beside it
    fake = dict.fromkeys(
        ["streaming_running_totals", "streaming_tumbling", "daily_summary", "zz_new"]
    )
    names = bench.headline_names(fake)
    assert names == ["daily_summary", "zz_new"]
    assert bench.streaming_names(fake) == [
        "streaming_running_totals",
        "streaming_tumbling",
    ]


def test_front_is_the_first_50_registry_names():
    registry = collect_registry()
    assert len(FRONT) == len(set(FRONT)) == 50
    assert set(FRONT) <= set(registry)
    assert list(registry)[:50] == FRONT


def _plan_module(**attrs) -> types.ModuleType:
    """A synthetic plan module; functions passed in count as defined there
    unless their ``__module__`` says otherwise."""
    mod = types.ModuleType("candyspark.plans.synthetic")
    for attr, value in attrs.items():
        if isinstance(value, types.FunctionType) and value.__module__ == __name__:
            value.__module__ = mod.__name__
        setattr(mod, attr, value)
    return mod


def test_registry_rule_pairs_q_functions_with_their_sql():
    def q_alpha(spark, sf_dir):
        return None

    def q_beta(spark, sf_dir):
        return None

    def helper(spark, sf_dir):
        return None

    def q_gamma(spark, sf_dir):
        return None

    q_gamma.__module__ = "candyspark.plans.elsewhere"  # imported, not defined here
    mod = _plan_module(
        q_alpha=q_alpha, ALPHA_SQL="SELECT 1", q_beta=q_beta, BETA_SQL=None,
        helper=helper, q_gamma=q_gamma, q_limit=10,
    )
    specs = _module_queries(mod)
    assert list(specs) == ["alpha", "beta"]
    assert specs["alpha"].fn is q_alpha and specs["alpha"].sql == "SELECT 1"
    assert specs["beta"].sql is None


def test_registry_rule_rejects_a_query_without_sql():
    def q_orphan(spark, sf_dir):
        return None

    with pytest.raises(ValueError, match=r"candyspark\.plans\.synthetic\.q_orphan.*ORPHAN_SQL"):
        _module_queries(_plan_module(q_orphan=q_orphan))


def test_every_query_is_its_q_function():
    registry = collect_registry()
    assert [n for n, s in registry.items() if s.fn.__name__ != f"q_{n}"] == []


def test_no_hand_kept_registry_in_plan_modules():
    # the registry is derived (plans/__init__.py); a table kept beside the
    # naming rule would drift from it
    offenders = []
    for path in sorted((PKG / "plans").glob("*.py")):
        if path.name == "__init__.py":
            continue
        src = path.read_text()
        for m in re.finditer(r"^REGISTRY\b.*=|QuerySpec\(", src, re.M):
            line = src.count("\n", 0, m.start()) + 1
            offenders.append(f"{path.relative_to(PKG.parent)}:{line}: {m.group(0)}")
    assert not offenders, "\n".join(offenders)


def _call_args(src: str, start: int) -> str:
    """The text between the parenthesis opening at ``start`` and its match."""
    depth = 0
    for i in range(start, len(src)):
        depth += {"(": 1, ")": -1}.get(src[i], 0)
        if depth == 0:
            return src[start + 1 : i]
    raise AssertionError("unbalanced parentheses")


def test_no_inline_md5_prefix_hash_or_label_reset():
    hash_home = PKG / "operators" / "text.py"
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        rel = path.relative_to(PKG.parent)
        if path != hash_home:
            for m in re.finditer(r"F\.conv\(", src):
                if "md5(" in _call_args(src, m.end() - 1):
                    line = src.count("\n", 0, m.start()) + 1
                    offenders.append(f"{rel}:{line}: inline md5-prefix hash "
                                     "(use operators.text.md5_prefix_int)")
        for m in re.finditer(r"setJobDescription\(\s*None\s*\)", src):
            line = src.count("\n", 0, m.start()) + 1
            offenders.append(f"{rel}:{line}: job-description reset "
                             "(use session.job_description)")
    assert not offenders, "\n".join(offenders)


def test_rank_snap_lives_in_the_pagerank_kernel_only():
    # the 12-dp rank snap is the power-iteration kernel's; a second copy
    # means a loop that bypasses operators.pagerank
    home = PKG / "operators" / "pagerank.py"
    offenders = [
        str(path.relative_to(PKG.parent))
        for path in sorted(PKG.rglob("*.py"))
        if path != home and "decimal(28,14)" in path.read_text()
    ]
    assert "decimal(28,14)" in home.read_text()
    assert not offenders, offenders


#: One Spark and one oracle-SQL signature per shared sub-plan, and the
#: module whose builder owns it: each appears once there, in the builder. A
#: second match is a hand copy of the sub-plan growing back.
BUILDER_SIGNATURES = {
    # BM25 corpus stats and scoring (doc_lengths, bm25_term, bm25_corpus_sql)
    'F.size("toks").cast("long").alias("dl")': "plans/retrieval.py",
    '9 * F.col("dl") * F.col("n_docs")': "plans/retrieval.py",
    "CAST(len(toks) AS BIGINT) AS dl": "plans/retrieval.py",
    "9 * dl * n_docs": "plans/retrieval.py",
    # the daily revenue series (daily_revenue, daily_revenue_sql)
    'F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("r")': "plans/analytics.py",
    "SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS r\n": "plans/analytics.py",
    # the returned-vs-kept split (returned_vs_kept, split_sql)
    '(F.col("l_returnflag") == "R").alias("is_a")': "plans/stats2.py",
    "l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS na_v": "plans/stats2.py",
    # first conversion after signup (first_conversions, FIRST_CONVERSIONS_SQL)
    'F.min("p_ts").alias("conv_ts")': "plans/extensions.py",
    "MIN(p.ts)": "plans/extensions.py",
    # 10-word segments (word_segments, segments_sql)
    '(F.col("pos") / 10)': "plans/corpus.py",
    "CAST(pos // 10 AS BIGINT)": "plans/corpus.py",
    # the DECIMAL(18,2) daily sales series and its epoch-day x (daily_sales,
    # epoch_day, DAILY_SALES_SQL, EPOCH_DAY_SQL)
    'F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y")': "plans/candy.py",
    "SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y\n": "plans/candy.py",
    'F.datediff("d", F.lit("1970-01-01"))': "plans/candy.py",
    "date_diff('day', DATE '1970-01-01', d)": "plans/candy.py",
    # the one-regressor OLS line (line_fit, line_fit_sql)
    "F.when(det != 0, (n * sxy - sx * sy) / det)": "plans/candy.py",
    "THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope": "plans/candy.py",
    # the co-purchase edges (_copurchase_edges, copurchase_edges_sql)
    '.filter(F.col("n") >= min_orders)': "plans/graph.py",
    "a.l_partkey < b.l_partkey\n    GROUP BY 1, 2 HAVING COUNT(*) >= 2": "plans/graph.py",
    # the survival at-risk window (at_risk, at_risk_sql)
    "F.sum(left).over(Window.partitionBy())": "plans/extensions.py",
    "COALESCE(SUM({left}) OVER (ORDER BY t": "plans/extensions.py",
}


def test_shared_sub_plans_have_one_builder():
    offenders = []
    for sig, home in BUILDER_SIGNATURES.items():
        hits = {
            str(path.relative_to(PKG)): path.read_text().count(sig)
            for path in sorted(PKG.rglob("*.py"))
        }
        if hits.get(home, 0) != 1:
            offenders.append(f"{sig!r}: {hits.get(home, 0)} matches in {home}, want 1")
        offenders += [
            f"{sig!r}: {n} copies in {rel} (use the builder in {home})"
            for rel, n in hits.items()
            if n and rel != home
        ]
    assert not offenders, "\n".join(offenders)


def test_snap_round_has_one_definition():
    defs = [
        str(path.relative_to(PKG))
        for path in sorted(PKG.rglob("*.py"))
        for _ in re.finditer(r"^def snap_round\(", path.read_text(), re.M)
    ]
    assert defs == ["functions/numeric.py"], defs


def _repo_trees() -> dict[pathlib.Path, ast.Module]:
    """Every Python source of the repo (engine, tests, benches, tools)."""
    return {
        path: ast.parse(path.read_text())
        for path in sorted(ROOT.rglob("*.py"))
        if not any(part.startswith(".") or part == "spark-warehouse"
                   for part in path.relative_to(ROOT).parts)
    }


def _ident(node: ast.AST) -> str | None:
    """The identifier a Name or Attribute node spells."""
    return node.id if isinstance(node, ast.Name) else getattr(node, "attr", None)


#: the modules whose functions must not carry an option that every caller
#: sets to one value (session.py and sources/ hold deployment settings)
KNOB_SCOPE = ("operators", "streaming", "plans", "forecast.py", "pipeline.py")


def _single_valued_options(trees: dict[pathlib.Path, ast.Module]) -> list[str]:
    """``module.function(param)`` for each defaulted parameter of a
    module-level function in KNOB_SCOPE that every call site in the repo
    sets to the same value (an omitted argument counts as its default).
    A function passed around as a value has call sites this cannot see,
    so it is skipped; a call spreading ``*args``/``**kwargs`` makes the
    parameters it does not name unknown."""
    defs = collections.defaultdict(list)
    for path, tree in trees.items():
        rel = path.relative_to(ROOT)
        if rel.parts[0] != "candyspark" or rel.parts[1] not in KNOB_SCOPE:
            continue
        module = ".".join(rel.with_suffix("").parts[1:])
        for node in tree.body:
            if not isinstance(node, ast.FunctionDef):
                continue
            a = node.args
            pos = [x.arg for x in a.posonlyargs + a.args]
            defaults = dict(zip(pos[len(pos) - len(a.defaults):],
                                map(ast.unparse, a.defaults)))
            defaults.update(
                (x.arg, ast.unparse(d))
                for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
            )
            if defaults:
                defs[node.name].append((f"{module}.{node.name}", pos, defaults))
    sites = collections.defaultdict(list)
    escaped = set()
    for tree in trees.values():
        callees, bases = set(), set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                callees.add(id(node.func))
                if _ident(node.func) in defs:
                    sites[_ident(node.func)].append(node)
            elif isinstance(node, ast.Attribute):
                bases.add(id(node.value))
        escaped.update(
            _ident(node)
            for node in ast.walk(tree)
            if _ident(node) in defs and id(node) not in callees | bases
        )
    offenders = []
    for name, overloads in defs.items():
        if name in escaped or not sites[name]:
            continue
        for where, pos, defaults in overloads:
            values = {param: set() for param in defaults}
            for call in sites[name]:
                spread = any(isinstance(x, ast.Starred) for x in call.args) or any(
                    k.arg is None for k in call.keywords
                )
                given = {pos[i]: ast.unparse(x) for i, x in enumerate(call.args)
                         if i < len(pos) and not isinstance(x, ast.Starred)}
                given.update((k.arg, ast.unparse(k.value)) for k in call.keywords if k.arg)
                for param, default in defaults.items():
                    values[param].add(
                        given.get(param, object() if spread else default)
                    )
            offenders += [f"{where}({p}) = {v.pop()}" for p, v in values.items() if len(v) == 1]
    return sorted(offenders)


def test_no_option_is_set_to_one_value_by_every_caller():
    # an option nobody sets differently is a constant with a second
    # spelling: make it a module constant (shared with the oracle SQL
    # where both need it)
    offenders = _single_valued_options(_repo_trees())
    assert not offenders, "\n".join(offenders)


#: second code paths deleted because no query, CLI or pipeline stage took
#: them: the blocked all-pairs n-gram Jaccard (its block-size guard), the
#: literal-matrix hyperplane signature, the DataFrame form of caller
#: quantile bounds, the unobserved pipeline, three copies of one
#: click/error stream join, and the image-decode stub
DELETED_FORKS = {
    "ngram_jaccard_pairs_inverted", "max_block_rows", "hyperplane_signature",
    "bounds_df", "run_pipeline_observed", "streaming_interval_join",
    "streaming_left_join", "streaming_full_outer_join", "decode_image",
}


def test_deleted_forks_stay_deleted():
    offenders = []
    for path, tree in _repo_trees().items():
        for node in ast.walk(tree):
            name = (
                _ident(node) if isinstance(node, (ast.Name, ast.Attribute))
                else node.arg if isinstance(node, (ast.arg, ast.keyword))
                else node.name if isinstance(node, (ast.FunctionDef, ast.alias))
                else None
            )
            if name in DELETED_FORKS:
                offenders.append(f"{path.relative_to(ROOT)}:{node.lineno}: {name}")
    assert not offenders, "\n".join(offenders)
