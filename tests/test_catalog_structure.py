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
    """The cluster's compute width (``defaultParallelism``) is read in
    ``operators/materialize.py`` alone: every widening goes through
    ``compute_width``, so a rule about when to widen has one function
    to change.  The walk is static, over every package module's AST."""
    import ast
    from pathlib import Path

    base = Path(__file__).resolve().parent.parent / "xero_api_etl_utilities_spark"
    readers = sorted(
        str(p.relative_to(base))
        for p in base.rglob("*.py")
        if any(
            isinstance(node, ast.Attribute) and node.attr == "defaultParallelism"
            for node in ast.walk(ast.parse(p.read_text()))
        )
    )
    others = [r for r in readers if r != "operators/materialize.py"]
    assert not others, f"modules reading defaultParallelism: {others}"


def test_every_defaulted_parameter_has_a_caller():
    """A defaulted parameter of an operator, function or source that no
    call passes is a constant in disguise: every module-level function
    in ``operators/``, ``functions/`` and ``sources/`` must have each
    defaulted parameter passed, by keyword or by position, at one or
    more call sites in the package, ``tools/``, ``bench.py``,
    ``perfbench/`` or ``tests/``.  The walk is static and matches a
    call by the callee's bare name; a call with ``*args`` or
    ``**kwargs`` counts as passing everything it could reach.

    Exempt: ``sources/rest.py``, whose endpoints, headers and timeouts
    are deployment settings; and ``checkpoint_dir``, the reliable-
    storage path of the fault-recovery route (see
    ``operators/materialize.py``) — a long cluster run passes it, and
    no local test or catalog query can."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    base = root / "xero_api_etl_utilities_spark"
    defaulted: dict[str, list[tuple[str, int | None, str]]] = {}
    for sub in ("operators", "functions", "sources"):
        for p in sorted((base / sub).rglob("*.py")):
            rel = str(p.relative_to(base))
            if rel == "sources/rest.py":
                continue
            for fn in ast.parse(p.read_text()).body:
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                a = fn.args
                pos = a.posonlyargs + a.args
                first = len(pos) - len(a.defaults)
                params = [(i, x.arg) for i, x in enumerate(pos) if i >= first]
                params += [
                    (None, x.arg)
                    for x, d in zip(a.kwonlyargs, a.kw_defaults)
                    if d is not None
                ]
                defaulted.setdefault(fn.name, []).extend(
                    (rel, i, arg) for i, arg in params if arg != "checkpoint_dir"
                )

    sources = [root / "bench.py"]
    for d in ("xero_api_etl_utilities_spark", "tools", "perfbench", "tests"):
        sources += sorted((root / d).rglob("*.py"))
    keywords: dict[str, set[str]] = {}
    max_pos: dict[str, int] = {}
    for p in sources:
        for node in ast.walk(ast.parse(p.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = getattr(f, "id", None) or getattr(f, "attr", None)
            if name not in defaulted:
                continue
            kws = keywords.setdefault(name, set())
            kws.update(k.arg or "**" for k in node.keywords)
            n = len(node.args)
            if any(isinstance(x, ast.Starred) for x in node.args):
                n = 1 << 30
            max_pos[name] = max(max_pos.get(name, 0), n)

    unpassed = sorted(
        f"{rel}:{name}({arg})"
        for name, params in defaulted.items()
        for rel, i, arg in params
        if not (
            arg in keywords.get(name, ())
            or "**" in keywords.get(name, ())
            or (i is not None and i < max_pos.get(name, 0))
        )
    )
    assert not unpassed, (
        f"{len(unpassed)} defaulted parameters no call passes — make each a "
        f"constant or give it a caller: {unpassed}"
    )
