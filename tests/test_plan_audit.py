"""Spark-free checks on the plan audit's inputs: the allowlists and the
committed plan-shape ledger must name registered keys only, and the
ledger must cover every key with exactly the audited fields: the ten
plan-shape counts and the digest of the key's rendered oracle.

The audit itself runs inside the registry sweep
(tests/test_driver_oracle.py), which builds each key once and asserts
no flags and a shape equal to the key's ledger entry. Regenerate the
ledger with `python scripts/plan_audit.py`.

The layering checks walk the package's ASTs: plan modules are leaves,
so a shape two of them share lives below plans/ (operators/,
functions/, streaming/) under a public name."""

from __future__ import annotations

import ast
from pathlib import Path

import airbnb_listings_reviews_data_engineering_spark as pkg
from airbnb_listings_reviews_data_engineering_spark.plans import all_queries
from scripts.plan_audit import (
    LEDGER_FIELDS,
    MAP_SIDE_ASSIGNMENT,
    NESTED_LOOP_ALLOWED,
    NESTED_LOOP_STAGE_ALLOWED,
    UNPARTITIONED_WINDOW_ALLOWED,
    UNPARTITIONED_WINDOW_STAGE_ALLOWED,
    _lint_plan_text,
    load_ledger,
)


def test_allowlisted_keys_exist():
    # an allowlist entry for a deleted key would silently mask a future
    # regression under a reused name
    listed = (
        NESTED_LOOP_ALLOWED
        | UNPARTITIONED_WINDOW_ALLOWED
        | MAP_SIDE_ASSIGNMENT
        | {k for k, _ in NESTED_LOOP_STAGE_ALLOWED}
        | {k for k, _ in UNPARTITIONED_WINDOW_STAGE_ALLOWED}
    )
    assert listed - set(all_queries()) == set()


def test_ledger_covers_registry():
    ledger = load_ledger()
    registered = set(all_queries())
    assert sorted(registered - set(ledger)) == [], "keys missing from the ledger"
    assert sorted(set(ledger) - registered) == [], "ledger keys not registered"
    assert len(LEDGER_FIELDS) == 11
    odd = {k: sorted(v) for k, v in ledger.items() if set(v) != set(LEDGER_FIELDS)}
    assert odd == {}


def test_rule_battery_flags_each_anti_pattern():
    bnlj = "BroadcastNestedLoopJoin BuildRight, Inner"
    assert _lint_plan_text("join_eq3", bnlj, 0, None) == ["NESTED_LOOP"]
    assert _lint_plan_text("join_cross", bnlj, 0, None) == []
    # a key-level allowlist entry does not cover the key's stages
    assert _lint_plan_text("join_cross", bnlj, 0, "s") == ["PIN[s]:NESTED_LOOP"]
    assert _lint_plan_text("ml_kmeans", bnlj, 0, "kmeans_cents") == []
    assert _lint_plan_text("join_eq3", "BatchEvalPython", 0, None) == ["ROW_PYTHON"]
    assert _lint_plan_text("join_eq3", "", 1, None) == ["GLOBAL_WINDOW"]
    assert _lint_plan_text("sample_temperature", "", 1, None) == []
    per_vec = "row_number() windowspecdefinition(vec_id#3, d#4 ASC)"
    shuffle = "Exchange hashpartitioning(vec_id#3, 4)"
    assert _lint_plan_text("ml_kmeans", per_vec, 0, None) == ["PER_VECTOR_WINDOW"]
    assert _lint_plan_text("ml_kmeans", shuffle, 0, None) == []
    assert _lint_plan_text("ml_kmeans", shuffle, 0, "a") == ["PIN[a]:CORPUS_ID_SHUFFLE"]
    assert _lint_plan_text("join_eq3", per_vec, 0, None) == []


PKG = Path(pkg.__file__).parent
# registry.py is the plans' infrastructure, not a plan module
NOT_PLAN_MODULES = {"plans.registry", "plans.__init__"}


def _relative_imports():
    """(importing module, imported module, names) for every relative
    import in the package, module paths relative to the package."""
    for path in sorted(PKG.rglob("*.py")):
        here = path.relative_to(PKG).with_suffix("").parts
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and node.level:
                base = here[: len(here) - node.level]
                target = ".".join(base + tuple(filter(None, [node.module])))
                yield ".".join(here), target, [a.name for a in node.names]


def _is_plan_module(name: str) -> bool:
    return name.startswith("plans.") and name not in NOT_PLAN_MODULES


def test_no_module_imports_a_private_name():
    private = [
        f"{src} imports {n} from {dst or 'the package'}"
        for src, dst, names in _relative_imports()
        for n in names
        if n.startswith("_")
    ]
    assert private == []


def test_plan_modules_import_only_key_functions_from_each_other():
    # a composite key may reuse another module's registered key
    # function (mm_reader_assignment, ml_quality_distill); any
    # other shared piece belongs below plans/
    keys = {
        (spec.fn.__module__.removeprefix(pkg.__name__ + "."), spec.fn.__name__)
        for spec in all_queries().values()
    }
    coupled = [
        f"{src} imports {n} from {dst}"
        for src, dst, names in _relative_imports()
        if _is_plan_module(src) and _is_plan_module(dst)
        for n in names
        if (dst, n) not in keys
    ]
    coupled += [
        f"{src} imports the plan module {n}"
        for src, dst, names in _relative_imports()
        if _is_plan_module(src) and dst == "plans"
        for n in names
    ]
    assert coupled == []


# every caller of a package function lives under one of these
CALLER_PATHS = (
    PKG,
    PKG.parent / "tests",
    PKG.parent / "scripts",
    PKG.parent / "airbnb_bench",
    PKG.parent / "bench.py",
    PKG.parent / "__spark_entry__.py",
)


def _literal(node: ast.expr) -> str | None:
    try:
        return repr(ast.literal_eval(node))
    except (TypeError, ValueError):
        return None


def _defaulted(fn: ast.FunctionDef):
    """(positional index or None for keyword-only, name, default) of
    each parameter with a default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    yield from ((first + i, p.arg, d) for i, (p, d) in enumerate(zip(pos[first:], a.defaults)))
    yield from ((None, p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None)


def _unvaried_options() -> list[str]:
    """Defaulted parameters of package functions whose call sites all
    omit them or pass the same literal: an option no caller varies.
    Calls match a function by name (``f(...)`` or ``x.f(...)``); names
    defined more than once in the package, uncalled functions and
    calls through ``*args``/``**kwargs`` are left out, so a function
    reached only by ``getattr`` is not seen."""
    defs: dict[str, list[tuple[Path, ast.FunctionDef]]] = {}
    calls: dict[str, list[ast.Call]] = {}
    for root in CALLER_PATHS:
        for path in [root] if root.is_file() else sorted(root.rglob("*.py")):
            for node in ast.walk(ast.parse(path.read_text())):
                if root == PKG and isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    defs.setdefault(node.name, []).append((path, node))
                elif isinstance(node, ast.Call):
                    f = node.func
                    name = getattr(f, "id", None) or getattr(f, "attr", None)
                    calls.setdefault(name, []).append(node)
    found = []
    for name, [(path, fn)] in ((n, d) for n, d in defs.items() if len(d) == 1):
        sites = calls.get(name, [])
        if not sites or any(
            any(isinstance(a, ast.Starred) for a in c.args)
            or any(k.arg is None for k in c.keywords)
            for c in sites
        ):
            continue
        bound = int(bool(fn.args.args) and fn.args.args[0].arg in ("self", "cls"))
        for idx, param, default in _defaulted(fn):
            values = set()
            for c in sites:
                passed = [k.value for k in c.keywords if k.arg == param]
                if not passed and idx is not None and idx - bound < len(c.args):
                    passed = [c.args[idx - bound]]
                values.add(_literal(passed[0]) if passed else _literal(default) or "default")
            if len(values) == 1 and None not in values:
                rel = path.relative_to(PKG.parent)
                found.append(f"{rel}:{fn.lineno} {name}({param}) = {values.pop()}")
    return sorted(found)


def test_every_option_is_varied_by_a_caller():
    # a parameter every caller leaves at one value is a constant with
    # an interface around it: write the value in, name it as a module
    # constant where an oracle or a second function also needs it
    assert _unvaried_options() == []
