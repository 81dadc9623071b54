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


# Package definitions that only tests name, kept on purpose.  A key is
# ``module path:name``; the value is (kind, reason).  Kinds, and when an
# entry is stale (it is also stale once a program names the definition):
#   "reference"  a Python implementation that tests compare the Spark and
#                SQL forms against — stale when no test names it.
TEST_ONLY: dict[str, tuple[str, str]] = {
    "functions/crosshash.py:py_h64": (
        "reference",
        "the SimHash and cross-engine hash tests recompute the token hash in Python",
    ),
    **{
        f"functions/zorder.py:{name}": (
            "reference",
            "the z-order tests check the Spark interleave against it",
        )
        for name in ("py_z_interleave16", "py_z_deinterleave16")
    },
}


def test_every_package_module_is_reachable():
    """Every package module, and every module-level function, class and
    assigned name in it (dunder names aside), is reached from a program:
    ``bench.py``, ``__spark_entry__.py``, ``tools/`` or ``perfbench/``
    (its tests too).  A definition is live when a live unit names it —
    bare name, import alias or attribute — and a module's top-level code
    (its ``register(...)`` calls) runs when a live unit reaches the
    module.  An import at module level only binds a name, so a package
    ``__init__`` re-export is no use, and a helper that only a dead
    definition calls is dead too.  Tests never count: a definition only
    tests name must get a caller or be deleted.  ``TEST_ONLY`` lists the
    exceptions, each with its reason, and the test fails on one that no
    longer holds.  The walk is static, over each file's AST; an
    attribute matches every definition of that name."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    base = root / "xero_api_etl_utilities_spark"

    def mod_of(p):
        parts = p.relative_to(root).with_suffix("").parts
        return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)

    paths = {mod_of(p): p for p in base.rglob("*.py")}
    trees = {m: ast.parse(p.read_text()) for m, p in paths.items()}
    # a unit is (module, name); (module, None) is the module's top-level
    # code other than definitions and imports
    units: dict[tuple[str, str | None], list[ast.AST]] = {}
    binds: dict[str, dict[str, tuple[str, str | None]]] = {}

    def bind(mod, tree):
        """The names ``mod``'s imports bind, anywhere in its AST:
        ``alias -> (module, name)``, with name None for a module."""
        b = binds[mod] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module:
                b |= {a.asname or a.name: (node.module, a.name) for a in node.names}
            elif isinstance(node, ast.Import):
                for a in node.names:
                    top = a.name.partition(".")[0]
                    b[a.asname or top] = (a.name if a.asname else top, None)

    for mod, tree in trees.items():
        bind(mod, tree)
        for node in tree.body:
            if isinstance(node, ast.Import | ast.ImportFrom):
                continue
            if isinstance(node, ast.FunctionDef | ast.AsyncFunctionDef | ast.ClassDef):
                names = [node.name]
            elif isinstance(node, ast.Assign | ast.AnnAssign):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
            else:
                names = [None]
            for name in names:
                units.setdefault((mod, name), []).append(node)

    def module(m):
        """A module's top-level code and its packages' run on import."""
        parts = m.split(".")
        return {(".".join(parts[:i]), None) for i in range(1, len(parts) + 1)} & units.keys()

    def resolve(mod, name, seen=()):
        """The units that ``name`` in ``mod``'s code reaches, following
        imports (and re-exports) to the defining module."""
        if (mod, name) in units:
            return {(mod, name)} | module(mod)
        src, attr = binds.get(mod, {}).get(name, (None, None))
        if src is None or (src, attr) in seen:
            return set()
        if attr is None or f"{src}.{attr}" in trees:
            return module(src if attr is None else f"{src}.{attr}")
        return resolve(src, attr, (*seen, (src, attr)))

    def reached(mod, nodes):
        """The units that the code ``nodes`` of ``mod`` names; an import
        inside that code runs, so it reaches the imported modules."""
        out = set()
        for node in nodes:
            for n in ast.walk(node):
                if isinstance(n, ast.Name):
                    out |= resolve(mod, n.id)
                elif isinstance(n, ast.Attribute):
                    for u in [u for u in units if u[1] == n.attr]:
                        out |= {u} | module(u[0])
                elif isinstance(n, ast.ImportFrom) and n.module:
                    out |= module(n.module)
                    out |= {u for a in n.names for u in resolve(n.module, a.name)}
                    out |= {u for a in n.names for u in module(f"{n.module}.{a.name}")}
                elif isinstance(n, ast.Import):
                    out |= {u for a in n.names for u in module(a.name)}
        return out

    programs = [root / "bench.py", root / "__spark_entry__.py"]
    programs += sorted((root / "tools").rglob("*.py")) + sorted((root / "perfbench").rglob("*.py"))
    live: set = set()
    for p in programs:
        tree = ast.parse(p.read_text())
        bind(str(p), tree)
        live |= reached(str(p), [tree])
    todo = list(live)
    while todo:
        mod, name = todo.pop()
        for u in reached(mod, units[(mod, name)]) - live:
            live.add(u)
            todo.append(u)

    def key(u):
        rel = paths[u[0]].relative_to(base)
        return str(rel) if u[1] is None else f"{rel}:{u[1]}"

    dead = {key(u) for u in units.keys() - live if not (u[1] or "").startswith("__")}
    flagged = sorted(dead - TEST_ONLY.keys())
    assert not flagged, f"package definitions only tests name: {flagged}"

    tested = {
        getattr(n, "id", None) or getattr(n, "attr", None) or getattr(n, "name", None)
        for p in (root / "tests").rglob("*.py")
        for n in ast.walk(ast.parse(p.read_text()))
    }
    stale = []
    for k, (kind, reason) in TEST_ONLY.items():
        assert kind == "reference" and reason, k
        if k not in dead:
            stale.append(f"{k}: a program names it, or it is gone")
        elif k.partition(":")[2] not in tested:
            stale.append(f"{k}: no test names it")
    assert not stale, f"stale exemptions: {stale}"


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
# every non-test caller.  A key is ``function(param)`` or a bare parameter
# name (every function in scope that has it); the value is (kind,
# reason).  Every entry is stale once it keeps no one-value parameter.
# Kinds, and when an entry is stale besides:
#   "seam"        tests pass a fake or a small value — stale when no test
#                 passes a value other than the default;
#   "perfbench"   ``perfbench/`` calls the signature — stale when
#                 ``perfbench/`` does not pass the parameter;
#   "deployment"  a cluster deployment sets it, which no local caller can.
KEPT: dict[str, tuple[str, str]] = {
    "post_documents(resource)": (
        "deployment",
        "the accounting API resource a deployment posts to",
    ),
    "post_documents(batch_size)": (
        "deployment",
        "the accounting API's per-request document limit",
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
            key = next((k for k in (f"{name}({p})", p) if k in KEPT), None)
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
