"""Contract-evidence gate: a driver key passes when its CURRENT code
fingerprint has a green local contract row.

A key's fingerprint is a sha256 over

- its ``q_`` source and the entry-level helpers and constants it
  references, followed transitively (scopes resolved with ``symtable``,
  so a local that shadows a global name pulls nothing in);
- its oracle SQL;
- the source of every ``dynamic_partitioner_spark`` module it reaches:
  referenced globals and in-body imports resolve to their defining
  package module (re-exports followed), then each module's
  intra-package imports, function-local ones included, are closed
  over;
- the environment: python, pyspark and duckdb versions plus a sha256 of
  the certification corpus files.

``tools/check_contract.py`` writes one ``{fp, ok, problem}`` row per key
it runs on the certification corpus into ``tools/contract_evidence.json``.
A key with no row, a red row, or a row under another fingerprint is
stale: an operator edit, an oracle edit, a version bump or a corpus
change re-opens exactly the keys it reaches.  Each stale key is printed
with the command that re-certifies it.

Usage:
    python tools/check_freshness.py
"""

from __future__ import annotations

import ast
import functools
import hashlib
import json
import os
import platform
import symtable
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
ENTRY = os.path.join(REPO, "__spark_entry__.py")
EVIDENCE = os.path.join(HERE, "contract_evidence.json")
CORPUS = "/root/testdata/sf0.01"
PKG = "dynamic_partitioner_spark"


def environment() -> str:
    data = hashlib.sha256()
    for name in sorted(os.listdir(CORPUS)) if os.path.isdir(CORPUS) else []:
        with open(os.path.join(CORPUS, name), "rb") as f:
            data.update(name.encode() + b"\0" + f.read())
    import duckdb
    import pyspark
    return (f"python={platform.python_version()} "
            f"pyspark={pyspark.__version__} duckdb={duckdb.__version__} "
            f"corpus={data.hexdigest()}")


def module_file(mod: str) -> str | None:
    base = os.path.join(REPO, *mod.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


@functools.cache
def _tree(mod: str) -> ast.Module:
    with open(module_file(mod)) as f:
        return ast.parse(f.read())


def _absolute(mod: str, node: ast.ImportFrom) -> str:
    """The absolute module an ``ImportFrom`` inside ``mod`` names."""
    if not node.level:
        return node.module
    parts = mod.split(".")
    if not module_file(mod).endswith("__init__.py"):
        parts = parts[:-1]
    parts = parts[:len(parts) - node.level + 1]
    return ".".join(parts + ([node.module] if node.module else []))


@functools.cache
def _defining(mod: str, name: str) -> str:
    """The package module that defines ``name`` as imported from
    ``mod``: a submodule, or the source of a re-export, or ``mod``."""
    if module_file(f"{mod}.{name}"):
        return f"{mod}.{name}"
    for node in _tree(mod).body:
        if not isinstance(node, ast.ImportFrom):
            continue
        src = _absolute(mod, node)
        for a in node.names:
            if (a.asname or a.name) == name and src.startswith(PKG):
                return _defining(src, a.name)
    return mod


def _imports(node: ast.AST, mod: str) -> dict[str, str]:
    """{bound name: package module} for every import under ``node``."""
    out = {}
    for n in ast.walk(node):
        if isinstance(n, ast.Import):
            out.update((a.asname or a.name.split(".")[0], a.name)
                       for a in n.names if a.name.startswith(PKG))
        elif isinstance(n, ast.ImportFrom):
            src = _absolute(mod, n)
            if src.startswith(PKG):
                out.update((a.asname or a.name, _defining(src, a.name))
                           for a in n.names)
    return out


@functools.cache
def _module_closure(mod: str) -> frozenset[str]:
    seen, stack = set(), [mod]
    while stack:
        m = stack.pop()
        if m not in seen:
            seen.add(m)
            stack.extend(_imports(_tree(m), m).values())
    return frozenset(seen)


def _globals(table: symtable.SymbolTable) -> set[str]:
    out = {s.get_name() for s in table.get_symbols() if s.is_global()}
    for child in table.get_children():
        out |= _globals(child)
    return out


@functools.cache
def _entry_graph() -> tuple[dict[str, str], dict[str, set[str]],
                            dict[str, set[str]]]:
    """(source text, referenced names, reached package modules) per
    top-level name of the entry module."""
    with open(ENTRY) as f:
        src = f.read()
    lines = src.splitlines(keepends=True)
    scopes: dict[str, set[str]] = {}
    for child in symtable.symtable(src, ENTRY, "exec").get_children():
        scopes.setdefault(child.get_name(), set()).update(_globals(child))
    text: dict[str, str] = {}
    refs: dict[str, set[str]] = {}
    mods: dict[str, set[str]] = {}
    for node in ast.parse(src).body:
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for name, mod in _imports(node, "__spark_entry__").items():
                mods.setdefault(name, set()).add(mod)
            continue
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names = [node.name]
            # decorators and defaults evaluate in module scope
            outer = node.decorator_list + (
                node.args.defaults + node.args.kw_defaults
                if isinstance(node, ast.FunctionDef) else [])
            used = scopes.get(node.name, set()) | {
                n.id for e in outer if e for n in ast.walk(e)
                if isinstance(n, ast.Name)}
            inner = _imports(node, "__spark_entry__")
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            names = [n.id for t in targets for n in ast.walk(t)
                     if isinstance(n, ast.Name)]
            used = {n.id for n in ast.walk(node.value)
                    if isinstance(n, ast.Name)} if node.value else set()
            inner = {}
        else:
            continue
        start = min([node.lineno] + [d.lineno for d in
                                     getattr(node, "decorator_list", [])])
        for name in names:
            text[name] = text.get(name, "") + "".join(
                lines[start - 1:node.end_lineno])
            refs.setdefault(name, set()).update(used)
            mods.setdefault(name, set()).update(inner.values())
    return text, refs, mods


def _reach(seed: str) -> tuple[list[str], set[str]]:
    """(entry names, package modules) the entry name ``seed`` reaches."""
    text, refs, mods = _entry_graph()
    names, stack, reached = set(), [seed], set()
    while stack:
        name = stack.pop()
        if name in names or (name not in text and name not in mods):
            continue
        names.add(name)
        stack.extend(refs.get(name, ()))
        for mod in mods.get(name, ()):
            reached |= _module_closure(mod)
    return sorted(n for n in names if n in text), reached


def fingerprints(env: str | None = None,
                 sources: dict[str, str] | None = None) -> dict[str, str]:
    """Current fingerprint per key.  ``sources`` substitutes the text of
    package modules (by dotted name) without touching the files."""
    sys.path.insert(0, REPO)
    import __spark_entry__ as E

    env = environment() if env is None else env
    sources = dict(sources or {})
    text = _entry_graph()[0]
    oracles = E.oracle_sql()
    out = {}
    for key, fn in E.queries().items():
        names, mods = _reach(fn.__name__)
        parts = [text[n] for n in names]
        parts += ["--oracle--", oracles.get(key, "")]
        for mod in sorted(mods):
            if mod not in sources:
                with open(module_file(mod)) as f:
                    sources[mod] = f.read()
            parts += [f"--{mod}--", sources[mod]]
        parts += ["--env--", env]
        out[key] = hashlib.sha256("\0".join(parts).encode()).hexdigest()[:16]
    return out


def load_rows() -> dict[str, dict]:
    if not os.path.exists(EVIDENCE):
        return {}
    with open(EVIDENCE) as f:
        return json.load(f)


def stale(fps: dict[str, str], rows: dict[str, dict]) -> dict[str, str]:
    """{key: reason} for every key without a green row under its
    current fingerprint."""
    out = {}
    for key, fp in fps.items():
        row = rows.get(key)
        if row is None:
            out[key] = "no contract row"
        elif row["fp"] != fp:
            out[key] = "code, oracle or environment changed since its row"
        elif not row["ok"]:
            out[key] = f"red: {row['problem']}"
    return out


def main() -> int:
    fps = fingerprints()
    bad = stale(fps, load_rows())
    if bad:
        print(f"FRESHNESS CHECK: {len(bad)} of {len(fps)} key(s) lack a "
              f"green contract row under their current code")
        for key, why in bad.items():
            print(f"  {key}: {why}\n"
                  f"    python tools/check_contract.py {CORPUS} {key}")
        return 1
    print(f"FRESHNESS CHECK: OK — {len(fps)} keys green under their "
          f"current code")
    return 0


if __name__ == "__main__":
    sys.exit(main())
