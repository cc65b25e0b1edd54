"""No option without a caller.

A defaulted parameter of a public engine function is an option: a
setting that tests and benchmarks must cover. One that no caller ever
passes is only a constant with a name, and the code that a non-default
value would reach is untested. This test scans the sources with `ast`
(no Spark) and fails when a defaulted parameter of a public function or
method in `edgar_crawler_spark/` (outside the analytics registry
`queries.py`) is never passed by any caller, unless it is on KEEP.

A caller is any call in the engine, `jobs/`, `tools/`, `perfbench/`,
`tests/`, `__spark_entry__.py` or `bench.py` that passes the parameter
by keyword or by position. Calls are matched by the callee's name after
`import ... as` aliases are resolved, and a call that spreads
`*args`/`**kwargs` counts as passing every parameter. Run it as a
script to print the unpassed options and the defaulted-parameter count.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "edgar_crawler_spark"
CALLER_PATHS = ("edgar_crawler_spark", "jobs", "tools", "perfbench", "tests",
                "__spark_entry__.py", "bench.py")

# Defaulted parameters that stay although nothing passes them, each with
# its reason. Keys are "<module>:<function or Class.method>(<param>)".
KEEP = {
    "frontier.fetch:fetch_extract_wave(extraction_options)":
        "carries the reference's config.json (ExtractionOptions)",
    "frontier.fetch:fetch_extract_wave(robots)":
        "keeps the fused path's politeness equal to fetch_wave's",
    "frontier.fetch:fetch_extract_wave(real_pace)":
        "keeps the fused path's politeness equal to fetch_wave's",
    "frontier.fetch:RobotsPolicy.__init__(user_agent)":
        "the crawler's user agent is a deployment setting",
    "frontier.company:merge_company_info(transport_factory)":
        "the seam to the network: the default is the real EDGAR client",
}


def _py_files(rel: str) -> list[Path]:
    p = ROOT / rel
    return [p] if p.suffix == ".py" else sorted(p.rglob("*.py"))


def _defaulted(fn: ast.FunctionDef, is_method: bool) -> tuple[list[str], list[str]]:
    """(positional parameter names, names of the defaulted ones); a
    method's self or cls is not one of them."""
    a = fn.args
    positional = [x.arg for x in a.posonlyargs + a.args]
    static = any(isinstance(d, ast.Name) and d.id == "staticmethod" for d in fn.decorator_list)
    if is_method and not static:
        positional = positional[1:]
    with_default = positional[len(positional) - len(a.defaults):] if a.defaults else []
    with_default += [k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return positional, with_default


def options() -> dict[str, tuple[str, list[str], str]]:
    """Every defaulted parameter of a public engine function, keyed as
    in KEEP, mapped to (callee name, positional parameters, parameter)."""
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "queries.py":
            continue
        module = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs = [(node.name, node.name, node, False)]
            elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                defs = [
                    (node.name if f.name == "__init__" else f.name,
                     f"{node.name}.{f.name}", f, True)
                    for f in node.body
                    if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and (f.name == "__init__" or not f.name.startswith("_"))
                ]
            else:
                continue
            for callee, qualname, fn, is_method in defs:
                if qualname.startswith("_"):
                    continue
                positional, defaulted = _defaulted(fn, is_method)
                for param in defaulted:
                    found[f"{module}:{qualname}({param})"] = (callee, positional, param)
    return found


def passed() -> dict[str, tuple[set[str], int] | None]:
    """Callee name -> (the keywords some call passes, the most
    positional arguments a call passes); None once a call spreads
    *args/**kwargs."""
    calls: dict[str, tuple[set[str], int] | None] = {}
    for rel in CALLER_PATHS:
        for path in _py_files(rel):
            tree = ast.parse(path.read_text())
            alias = {
                a.asname: a.name
                for node in ast.walk(tree) if isinstance(node, ast.ImportFrom)
                for a in node.names if a.asname
            }
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                if isinstance(node.func, ast.Name):
                    name = alias.get(node.func.id, node.func.id)
                elif isinstance(node.func, ast.Attribute):
                    name = node.func.attr
                else:
                    continue
                spread = any(isinstance(a, ast.Starred) for a in node.args) or any(
                    k.arg is None for k in node.keywords
                )
                if spread or (name in calls and calls[name] is None):
                    calls[name] = None
                    continue
                keywords, n_positional = calls.get(name) or (set(), 0)
                calls[name] = (
                    keywords | {k.arg for k in node.keywords},
                    max(n_positional, len(node.args)),
                )
    return calls


def unpassed() -> list[str]:
    calls = passed()
    out = []
    for key, (callee, positional, param) in options().items():
        if callee in calls and calls[callee] is None:
            continue
        keywords, n_positional = calls.get(callee) or (set(), 0)
        by_position = param in positional and positional.index(param) < n_positional
        if param not in keywords and not by_position:
            out.append(key)
    return out


def test_every_option_has_a_caller():
    unset = sorted(set(unpassed()) - set(KEEP))
    assert not unset, f"{len(unset)} options no caller passes:\n" + "\n".join(unset)


def test_keep_list_is_current():
    # A kept option that a caller now passes, or that no longer exists,
    # leaves the list.
    stale = sorted(set(KEEP) - set(unpassed()))
    assert not stale, "kept options that now have a caller:\n" + "\n".join(stale)


if __name__ == "__main__":
    hits = unpassed()
    for key in hits:
        print(("keep  " if key in KEEP else "UNSET ") + key)
    print(f"{len(options())} defaulted parameters; {len(hits)} never passed, "
          f"{len(set(hits) - set(KEEP))} of them not kept")
