"""Structural guarantees over the catalog itself — the meta-checks
that keep the catalog contract honest:

* every registered query has an oracle (zero rows-only entries);
* bench times every registered query exactly once, either at the run
  sf or as a bounded-sf baseline, so a new registration can never
  silently skip the bench.
"""

from __future__ import annotations


def test_every_query_is_benched_or_documented():
    import bench
    from xero_api_etl_utilities_spark.plans import catalog

    qs = list(catalog.queries())
    bounded = list(catalog.bounded())
    assert set(bounded) <= set(qs), f"unknown bounded: {set(bounded) - set(qs)}"
    # each registered name exactly once: at the run sf or bounded
    assert sorted(bench.timed_names(qs) + bounded) == sorted(qs)


def test_every_query_has_an_oracle():
    from xero_api_etl_utilities_spark.plans import catalog

    qs = set(catalog.queries())
    os_ = set(catalog.oracle_sql())
    assert qs == os_, f"rows-only entries: {sorted(qs - os_)}"


def test_every_package_module_is_reachable():
    """Every package module is imported, directly or transitively, by
    the catalog or by the EP1 job: a module only tests import is dead
    weight and must get a caller or be deleted. Package ``__init__``s
    and ``session`` (the SparkSession factory harnesses call) are exempt.
    The walk is static: ``import``/``from … import`` anywhere in a
    module's AST, with the ``__init__`` of every package on the way."""
    import ast
    from pathlib import Path

    pkg = "xero_api_etl_utilities_spark"
    base = Path(__file__).resolve().parent.parent / pkg

    def path_of(mod: str) -> Path | None:
        rel = Path(*mod.split(".")[1:])
        for p in (base / rel).with_suffix(".py"), base / rel / "__init__.py":
            if p.is_file():
                return p
        return None

    def imports(mod: str):
        tree = ast.parse(path_of(mod).read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                yield from (a.name for a in node.names)
            elif isinstance(node, ast.ImportFrom) and node.module:
                yield node.module
                yield from (f"{node.module}.{a.name}" for a in node.names)

    roots = [
        "plans.catalog",
        "plans.flagship",
        "plans.pipeline",
        "sources.excel_grid",
        "sources.rest",
    ]
    seen: set[str] = set()
    todo = [f"{pkg}.{r}" for r in roots]
    while todo:
        mod = todo.pop()
        parts = mod.split(".")
        for i in range(1, len(parts) + 1):
            m = ".".join(parts[:i])
            if m not in seen and m.split(".")[0] == pkg and path_of(m):
                seen.add(m)
                todo.extend(imports(m))

    every = {
        ".".join((pkg, *p.relative_to(base).with_suffix("").parts))
        for p in base.rglob("*.py")
        if p.name != "__init__.py"
    }
    unreachable = sorted(every - seen - {f"{pkg}.session"})
    assert not unreachable, f"modules only tests import: {unreachable}"


def test_only_materialize_reads_the_compute_width():
    """The cluster's compute width (``defaultParallelism``) is read, and
    lineage is cut (``localCheckpoint``/``checkpoint``) or the checkpoint
    directory read or set, in ``operators/materialize.py`` alone: every
    widening goes through ``compute_width`` and every cut through
    ``materialize``, so a rule about when to widen or where a cut is
    written has one function to change.  The walk is static, over every
    package module's AST."""
    import ast
    from pathlib import Path

    attrs = {
        "defaultParallelism",
        "localCheckpoint",
        "checkpoint",
        "setCheckpointDir",
        "getCheckpointDir",
    }
    base = Path(__file__).resolve().parent.parent / "xero_api_etl_utilities_spark"
    readers = sorted(
        f"{p.relative_to(base)}:{node.lineno} {node.attr}"
        for p in base.rglob("*.py")
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Attribute) and node.attr in attrs
    )
    others = [r for r in readers if not r.startswith("operators/materialize.py:")]
    assert not others, f"outside operators/materialize.py: {others}"


# Defaulted parameters kept although one value reaches each of them from
# every non-test caller.  A key is ``function(param)``, a bare parameter
# name (every function in scope that has it) or a module path; the value
# is (kind, reason).  Kinds, and when an entry is stale:
#   "seam"        tests pass a fake or a small value — stale when no test
#                 passes a value other than the default;
#   "perfbench"   ``perfbench/`` calls the signature — stale when
#                 ``perfbench/`` does not pass the parameter;
#   "deployment"  a cluster deployment sets it, which no local caller can.
KEPT: dict[str, tuple[str, str]] = {
    "sources/rest.py": (
        "deployment",
        "endpoints, headers and timeouts of the accounting API",
    ),
    "get_spark(shuffle_partitions)": (
        "seam",
        "the test session pins 4 shuffle partitions to its local[4] master",
    ),
    "run_daily_import(strict)": ("perfbench", "perfbench/run.py asks for the raising gate"),
    **{
        f"train_centroids({p})": (
            "seam",
            "IVF tests train a few cells on a 100-150-vector clustered fixture",
        )
        for p in ("k", "iters", "sample", "seed")
    },
    "connected_components(max_iters)": (
        "seam",
        "a test caps the rounds at 2 to see the non-convergence error",
    ),
    "cc_large_star_small_star(max_iters)": (
        "seam",
        "a test caps the rounds at 8 to show the O(log n) round bound",
    ),
    "label_propagation(iters)": (
        "seam",
        "a test runs one round to see the min-label tie-break",
    ),
    "sample_video_frames(decode_fn)": (
        "seam",
        "the frame decoder: the catalog passes a closed-form fake, an ffmpeg "
        "test passes a real extractor, another test sees the default raise",
    ),
    "write_versioned_run(max_versions)": (
        "seam",
        "a test exhausts the probe after 2 versions instead of 100",
    ),
    "text_tf_cosine_pairs(max_df_bp)": (
        "seam",
        "a test forces the df cap to one document to see the guard act",
    ),
    "text_tf_cosine_pairs(max_df_floor)": (
        "seam",
        "a test forces the df cap to one document to see the guard act",
    ),
}

_VARIES = ("varies",)


def _defaulted_parameters(base):
    """``{function: [(module, position or None, param, default expr)]}``
    over every module-level function in scope; a keyword-only parameter
    has no position."""
    import ast

    scope = [base / "session.py"]
    for sub in ("operators", "functions", "sources", "plans"):
        scope += sorted((base / sub).rglob("*.py"))
    out: dict[str, list] = {}
    for p in scope:
        rel = str(p.relative_to(base))
        for fn in ast.parse(p.read_text()).body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            params = [(i, x.arg, a.defaults[i - first]) for i, x in enumerate(pos) if i >= first]
            params += [
                (None, x.arg, d) for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
            ]
            out.setdefault(fn.name, []).extend((rel, i, arg, d) for i, arg, d in params)
    return out


def _module_constants(paths):
    """Module-level ``NAME = literal`` bindings whose name means one value
    across ``paths``."""
    import ast

    seen: dict[str, set[str]] = {}
    for p in paths:
        for node in ast.parse(p.read_text()).body:
            if isinstance(node, ast.Assign | ast.AnnAssign) and node.value is not None:
                try:
                    v = repr(ast.literal_eval(node.value))
                except ValueError:
                    continue
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    if isinstance(t, ast.Name):
                        seen.setdefault(t.id, set()).add(v)
    return {k: v.pop() for k, v in seen.items() if len(v) == 1}


def _call_values(paths, defaulted, consts):
    """``{(function, param): [(value, passed)]}``, one pair per call in
    ``paths`` of a function in ``defaulted``: the value the call supplies
    (the default when it leaves the parameter out, ``passed`` False).  A
    value is ``("lit", text)`` for an expression of literals and
    module-level names, ``("fwd", function, param)`` for a parameter of
    the calling function passed on unchanged, or ``_VARIES`` for anything
    computed from local names or reached by ``*args``/``**kwargs``.
    ``register(name, fn, oracle)`` counts as the calls ``fn(spark,
    sf_dir)`` and ``oracle()`` that the catalog makes."""
    import ast

    def stored(node):
        return {
            n.id for n in ast.walk(node) if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
        }

    def params(fn):
        a = fn.args
        xs = a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]
        return {x.arg for x in xs if x is not None}

    def value(expr, local, fwd):
        if isinstance(expr, ast.Name) and expr.id in fwd:
            return ("fwd", *fwd[expr.id])
        lam = {x for n in ast.walk(expr) if isinstance(n, ast.Lambda) for x in params(n)}
        if ({n.id for n in ast.walk(expr) if isinstance(n, ast.Name)} - lam) & local:
            return _VARIES
        if isinstance(expr, ast.Name) and expr.id in consts:
            return ("lit", consts[expr.id])
        try:
            return ("lit", repr(ast.literal_eval(expr)))
        except ValueError:
            return ("lit", ast.unparse(expr))

    out: dict[tuple[str, str], list] = {}

    def record(name, args, kws, local, fwd):
        # positions from the first ``*args`` on are unknown
        known = next((i for i, x in enumerate(args) if isinstance(x, ast.Starred)), len(args))
        for _, i, p, d in defaulted[name]:
            if p in kws:
                v = (value(kws[p], local, fwd), True)
            elif i is not None and i < known:
                v = (value(args[i], local, fwd), True)
            elif "**" in kws or (i is not None and known < len(args)):
                v = (_VARIES, True)
            else:
                v = (value(d, set(), {}), False)
            out.setdefault((name, p), []).append(v)

    def bare(f):
        return getattr(f, "id", None) or getattr(f, "attr", None)

    def visit(node, local, fwd):
        for child in ast.iter_child_nodes(node):
            c_local, c_fwd = local, fwd
            if isinstance(child, ast.FunctionDef | ast.AsyncFunctionDef | ast.Lambda):
                bound = params(child) | stored(child)
                c_local = local | bound
                c_fwd = {k: v for k, v in fwd.items() if k not in bound}
                if isinstance(node, ast.Module) and not isinstance(child, ast.Lambda):
                    c_fwd = {p: (child.name, p) for p in params(child) - stored(child)}
            elif isinstance(child, ast.For | ast.comprehension):
                c_local = local | stored(child.target)
            elif isinstance(child, ast.Call):
                name = bare(child.func)
                kws = {k.arg or "**": k.value for k in child.keywords}
                if name in defaulted:
                    record(name, child.args, kws, local, fwd)
                if name == "register" and len(child.args) >= 2:
                    if bare(child.args[1]) in defaulted:
                        args = [ast.Name("spark"), ast.Name("sf_dir")]
                        record(bare(child.args[1]), args, {}, {"spark", "sf_dir"}, {})
                    oracle = child.args[2] if len(child.args) > 2 else kws.get("oracle")
                    if bare(oracle) in defaulted:
                        record(bare(oracle), [], {}, set(), {})
            visit(child, c_local, c_fwd)

    for p in paths:
        visit(ast.parse(p.read_text()), set(), {})
    return out


def test_every_defaulted_parameter_has_a_caller():
    """An option with one value is a constant.  Every defaulted parameter
    of a module-level function in ``operators/``, ``functions/``,
    ``sources/``, ``plans/`` and ``session.py`` must take two or more
    values across the non-test call sites (the package, ``tools/``,
    ``bench.py`` and ``perfbench/``): a call that leaves it out passes
    the default, and a parameter passed on from the calling function
    takes that function's values.  The walk is static and matches a call
    by the callee's bare name.  ``KEPT`` lists the exceptions, each with
    its reason, and the test fails on an exception that no longer holds."""
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    base = root / "xero_api_etl_utilities_spark"
    perf = root / "perfbench"
    defaulted = _defaulted_parameters(base)
    program = [root / "bench.py"] + sorted(
        p
        for d in (base, root / "tools", perf)
        for p in d.rglob("*.py")
        if "tests" not in p.relative_to(root).parts
    )
    tests = sorted((root / "tests").rglob("*.py")) + sorted((perf / "tests").rglob("*.py"))
    consts = _module_constants([p for p in program if base in p.parents])
    calls = _call_values(program, defaulted, consts)

    def values(key, seen=()):
        vals = set()
        for v, _ in calls.get(key, ()):
            if v[0] != "fwd":
                vals.add(v)
            elif v[1:] not in seen and any(p == v[2] for *_, p, _ in defaulted.get(v[1], ())):
                vals |= values(v[1:], (*seen, key))
            else:
                vals.add(_VARIES)
        return vals

    flagged, used = [], set()
    for name, ps in defaulted.items():
        for rel, _, p, d in ps:
            vals = values((name, p))
            if _VARIES in vals or len(vals) > 1:
                continue
            key = next((k for k in (f"{name}({p})", p, rel) if k in KEPT), None)
            used.add(key)
            if key is None:
                shown = vals.pop()[1] if vals else "no caller"
                flagged.append(f"{rel}:{name}({p}) = {shown}")
    assert not flagged, (
        f"{len(flagged)} defaulted parameters take one value from every "
        f"non-test caller — make each a constant, or give it a caller that "
        f"needs another value: {sorted(flagged)}"
    )

    tested = _call_values(tests, defaulted, consts)
    benched = _call_values([p for p in program if perf in p.parents], defaulted, consts)
    stale = []
    for key, (kind, reason) in KEPT.items():
        assert kind in ("seam", "perfbench", "deployment") and reason, key
        name, _, p = key.rstrip(")").partition("(")
        if key not in used:
            stale.append(f"{key}: keeps no one-value parameter")
        elif kind == "seam" and not any(
            passed and v not in values((name, p)) for v, passed in tested.get((name, p), ())
        ):
            stale.append(f"{key}: no test passes another value")
        elif kind == "perfbench" and not any(
            passed for _, passed in benched.get((name, p), ())
        ):
            stale.append(f"{key}: perfbench/ does not pass it")
    assert not stale, f"stale exemptions: {stale}"
