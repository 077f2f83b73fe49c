"""Per-query semantic fingerprints — the mechanical referee for the
registry's changed-since-last-driver-row bookkeeping.

Problem (r10 verdict, "What's wrong" #2): the changed-since list in
queries_registry.py was maintained by hand per semantics-affecting
commit, and the second half of round 10's changes were silently
forgotten — ~15 changed queries kept riding stale green driver
evidence with nothing to flag the omission.

Fix: fingerprint every registry query as ``md5(oracle SQL + the
recursive source closure of its engine callable)`` and commit the
snapshot to ORACLE_HASHES.json with the round each fingerprint last
changed.  tools/update_fingerprints.py refreshes the file (bumping
``round`` for any entry whose fingerprint moved);
tests/test_fingerprints.py fails whenever the committed snapshot is
out of date, so a semantics-affecting edit cannot land without the
bump.  queries_registry reads the file's rounds as the only
changed-since source (the hand list is gone), so the driver's sampling
order re-prioritizes changed queries mechanically.

The source closure walks the callable's code objects for referenced
globals, free variables and function-local package imports, recursing
into functions/classes defined inside this package and folding in the
repr of module-level constants (sorted for sets — raw set repr is
hash-seed dependent and would make the fingerprint unstable across
processes).  A change to a shared
helper (e.g. text_common tokenization) therefore bumps every consumer,
which is exactly the semantics the staleness queue wants.
"""

from __future__ import annotations

import dis
import hashlib
import importlib.util
import inspect
import types

_PKG_PREFIX = __name__.rsplit(".", 1)[0]  # "mapreduce_sssp_spark"


def _const_repr(v) -> str:
    """Deterministic repr for module-level constants.  Sets are sorted
    (their native repr order is hash-seed dependent); nested containers
    recurse so a set inside a dict stays stable too."""
    if isinstance(v, (set, frozenset)):
        return "{" + ", ".join(sorted(_const_repr(x) for x in v)) + "}"
    if isinstance(v, dict):
        return (
            "{"
            + ", ".join(
                f"{_const_repr(k)}: {_const_repr(x)}" for k, x in v.items()
            )
            + "}"
        )
    if isinstance(v, (list, tuple)):
        inner = ", ".join(_const_repr(x) for x in v)
        return f"[{inner}]" if isinstance(v, list) else f"({inner})"
    return repr(v)


def _is_pure_const(v) -> bool:
    """True when v is a primitive or a container of primitives all the
    way down. Containers holding complex objects (checkpointed
    DataFrames in a memo, session handles) are RUNTIME STATE, not
    semantics: their reprs carry object ids and mutate as queries run,
    which made the snapshot referee flaky under a full pytest run while
    standalone runs stayed green (r12; see runstate.py). Skipping them
    here is defense-in-depth behind RunCounter/RunCache."""
    if isinstance(v, (str, bytes, int, float, bool, type(None))):
        return True
    if isinstance(v, (tuple, list, set, frozenset)):
        return all(_is_pure_const(x) for x in v)
    if isinstance(v, dict):
        return all(
            _is_pure_const(k) and _is_pure_const(x) for k, x in v.items()
        )
    return False


def _iter_code_names(code):
    """All global/free names referenced by a code object, including
    nested code objects (comprehensions, inner defs, lambdas)."""
    seen = set(code.co_names) | set(code.co_freevars)
    for c in code.co_consts:
        if isinstance(c, types.CodeType):
            seen |= _iter_code_names(c)
    return seen


def _ours(module: str) -> bool:
    return module == _PKG_PREFIX or module.startswith(_PKG_PREFIX + ".")


def _in_package(obj) -> bool:
    mod = getattr(obj, "__module__", None)
    return isinstance(mod, str) and _ours(mod)


def _local_imports(code, package: str):
    """(name, object) for every ``from <package module> import name``
    inside code or its nested code objects: the imported name is a
    local, so the globals lookup never sees it. Relative imports resolve
    against the function's package; modules outside this package are
    never imported here."""
    out = []
    mod = None
    ins = list(dis.get_instructions(code))
    for i, op in enumerate(ins):
        if op.opname == "IMPORT_NAME":
            level = ins[i - 2].argval  # LOAD_CONST level, LOAD_CONST fromlist
            resolved = importlib.util.resolve_name(
                "." * level + op.argval, package
            )
            mod = importlib.import_module(resolved) if _ours(resolved) else None
        elif op.opname == "IMPORT_FROM" and hasattr(mod, op.argval):
            out.append((op.argval, getattr(mod, op.argval)))
    for c in code.co_consts:
        if isinstance(c, types.CodeType):
            out += _local_imports(c, package)
    return out


def _closure_sources(fn, visited, parts):
    """Depth-first source gathering over fn's referenced globals.
    ``visited`` maps (module, qualname) to the object as reached."""
    if isinstance(fn, property):
        fn = fn.fget
    key = (getattr(fn, "__module__", ""), getattr(fn, "__qualname__", ""))
    if key in visited:
        return
    visited[key] = fn
    try:
        parts.append(inspect.getsource(fn))
    except (OSError, TypeError):
        parts.append(f"<nosource:{key}>")
    # A decorated function (@shared_state) shares its wrapper's key:
    # walk the body's code, or its callees drop out of the closure.
    fn = inspect.unwrap(fn)
    code = getattr(fn, "__code__", None)
    if code is None:  # class: walk its methods instead
        if inspect.isclass(fn):
            for attr in vars(fn).values():
                if isinstance(
                    attr, (types.FunctionType, staticmethod, classmethod)
                ):
                    inner = getattr(attr, "__func__", attr)
                    if _in_package(inner):
                        _closure_sources(inner, visited, parts)
        return
    names = _iter_code_names(code)
    globs = getattr(fn, "__globals__", {})
    # Free variables resolved through the closure cells (factory-made
    # queries): constants fold into the hash; functions recurse.
    freebind = {}
    closure = getattr(fn, "__closure__", None)
    if closure:
        freebind = dict(zip(code.co_freevars, closure))
    bound = []
    for name in sorted(names):
        if name in freebind:
            try:
                bound.append((name, freebind[name].cell_contents))
            except ValueError:
                continue
        elif name in globs:
            bound.append((name, globs[name]))
    package = globs.get("__package__") or fn.__module__.rpartition(".")[0]
    bound += _local_imports(code, package)
    for name, val in bound:
        if isinstance(val, types.FunctionType) and _in_package(val):
            _closure_sources(val, visited, parts)
        elif inspect.isclass(val) and _in_package(val):
            _closure_sources(val, visited, parts)
        elif isinstance(val, types.ModuleType):
            continue
        elif _is_pure_const(val):
            parts.append(f"{name}={_const_repr(val)}")


def _walk(fn) -> tuple[dict, list]:
    visited: dict = {}
    parts: list = []
    _closure_sources(fn, visited, parts)
    return visited, parts


def closure(fn) -> set:
    """Every package function and class in fn's source closure, fn
    included, as reached: a ``@shared_state`` function appears as its
    memoizing wrapper, so ``state in closure(query)`` says the query
    reads that state."""
    return set(_walk(fn)[0].values())


def query_fingerprint(fn, oracle_sql: str | None) -> str:
    """md5 hex fingerprint of a registry query's semantics: its oracle
    SQL (verbatim) + the recursive source closure of the engine
    callable."""
    parts = [oracle_sql or "<no-oracle>", *_walk(fn)[1]]
    return hashlib.md5("\n".join(parts).encode("utf-8")).hexdigest()


def all_fingerprints() -> dict:
    """Fingerprint every registry query.  Imported lazily so the
    registry module itself can consume the SNAPSHOT file without a
    circular import."""
    from . import queries_registry as reg

    return {
        name: query_fingerprint(fn, reg.ORACLE.get(name))
        for name, fn in reg.QUERIES.items()
    }
