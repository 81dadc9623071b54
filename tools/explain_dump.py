"""Dump .explain("formatted") for named catalog queries to files.

Usage: python tools/explain_dump.py <out_dir> <suffix> [sf_dir] name...

Writes <out_dir>/<name>_<suffix>.txt for each query name (the
OPTIMIZATION-round evidence artifact: plans/r15/<q>_before.txt /
_after.txt). Memoized-substrate parents are built first when a
consumer is requested, so the dumped plan is the one the bench
actually times (post-checkpoint subtrees show as Scan ExistingRDD,
exactly as they execute).

The text is normalised (see :func:`normalise`), so two dumps of the
same plans compare equal byte for byte.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from explain_audit import formatted_plan  # noqa: E402

# Counters that differ from one session to the next for the same plan:
# expression ids, exchange plan ids, RDD ids (a ``localCheckpoint`` scan
# names the RDD it reads), the application id in per-run paths, and the
# ids of common subexpressions.
_IDS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\blocal-\d+"), "local-N"),
    (re.compile(r"_common_expr_\d+"), "_common_expr_N"),
]


def _split_list(s: str) -> tuple[list[str], str]:
    """The comma-separated items of the bracketed (or parenthesised)
    list that opens ``s``, and the text after its closing bracket."""
    items, depth, start = [], 0, 1
    for i, ch in enumerate(s):
        depth += ch in "[("
        depth -= ch in "])"
        if (ch == "," and depth == 1) or depth == 0:
            items.append(s[start:i].strip())
            start = i + 1
        if depth == 0:
            return items, s[i + 1 :]
    return items, ""


def _expand_arguments(body: str) -> str:
    """An Expand's projections as ``output=value`` sets without the
    ``gid`` literal, sorted, then its sorted output list."""
    projections, rest = _split_list(body)
    outputs, rest = _split_list(rest.lstrip(", "))
    rows = []
    for p in projections:
        pairs = zip(outputs, _split_list(p)[0])
        rows.append(sorted(f"{o}={v}" for o, v in pairs if not o.startswith("gid#")))
    rows = ", ".join("[" + ", ".join(r) + "]" for r in sorted(rows))
    return f"[{rows}], [{', '.join(sorted(outputs))}]{rest}"


def _sorted_list(line: str, head: str) -> str:
    """``line`` with the items of the list that ``head`` opens sorted
    (a hash partitioning keeps its partition count last)."""
    items, rest = _split_list(line[len(head) - 1 :])
    if head.endswith("hashpartitioning("):
        items = sorted(items[:-1]) + items[-1:]
    else:
        items = sorted(items)
    close = ")" if head.endswith("(") else "]"
    return head + ", ".join(items) + close + rest


_EXPAND = re.compile(r"^Arguments: \[\[.*gid#\d+.*$", re.M)
_ATTR_LIST = re.compile(
    r"(?:Input|Keys|Results|Output|Aggregate Attributes) \[\d+\]: \[|Arguments: hashpartitioning\("
)
_ORDERING = re.compile(r"Arguments: \[")


def _expand_outputs(text: str) -> set[str]:
    """The expression ids (``#NNN``) of every Expand's output
    attributes, the group columns and ``gid``."""
    ids = set()
    for m in _EXPAND.finditer(text):
        _, rest = _split_list(m.group(0)[len("Arguments: ") :])
        outputs, _ = _split_list(rest.lstrip(", "))
        ids |= {i for o in outputs for i in re.findall(r"#(\d+)", o)}
    return ids


def _permuted_list_head(line: str, expand_ids: set[str]) -> str | None:
    """The head of ``line``'s list when the distinct-group permutation
    reorders it: an attribute list or hash partitioning that holds an
    Expand output, or an ordering on the Expand's ``gid`` (the sort the
    planner puts under an aggregate of the groups; a query's own Sort
    never sees ``gid``)."""
    m = _ATTR_LIST.match(line) or _ORDERING.match(line)
    if not m:
        return None
    items, _ = _split_list(line[m.end() - 1 :])
    pattern = r"^gid#(\d+)" if m.re is _ORDERING else r"#(\d+)"
    ids = {i for x in items for i in re.findall(pattern, x)}
    return m.group(0) if ids & expand_ids else None


def normalise(text: str, root: str) -> str:
    """``text`` with run-to-run counters replaced by ``N`` and the
    checkout path ``root`` by ``.``.

    A plan with an Expand (Spark's rewrite of several DISTINCT
    aggregates) orders the distinct groups by a hash set that differs
    from run to run: the group columns come out permuted in the
    Expand's projections and in every attribute list or hash
    partitioning that holds its outputs, and each group's ``gid``
    number with them.  Those lists are sorted, the projections become
    sorted ``output=value`` sets, and the gid numbers are dropped;
    every other list (a Sort's ordering, a Project's output) keeps its
    order."""
    text = text.replace(f"file:{root.rstrip('/')}/", "file:./")
    expand_ids = _expand_outputs(text)
    out = []
    for line in text.split("\n"):
        head = _permuted_list_head(line, expand_ids)
        expand = _EXPAND.match(line) is not None
        for pattern, repl in _IDS:
            line = pattern.sub(repl, line)
        if expand:
            line = "Arguments: " + _expand_arguments(line[len("Arguments: ") :])
        elif head:
            line = _sorted_list(line, head)
        if expand_ids:
            line = re.sub(r"gid#N = \d+", "gid#N = G", line)
        out.append(line)
    return "\n".join(out)


def main() -> int:
    out_dir = sys.argv[1]
    suffix = sys.argv[2]
    args = sys.argv[3:]
    if args and os.path.isdir(args[0]):
        sf_dir, names = args[0], args[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", args
    os.makedirs(out_dir, exist_ok=True)

    from xero_api_etl_utilities_spark.plans import catalog
    from xero_api_etl_utilities_spark.session import get_spark

    spark = get_spark(
        app_name="explain_dump",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    qs = catalog.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(normalise(formatted_plan(df), os.getcwd()))
        print(f"wrote {path}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
