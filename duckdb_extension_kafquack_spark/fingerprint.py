"""Per-query source-closure fingerprints for driver-gate staleness.

The driver's correctness gate samples 50 of the registry's queries
per round; deciding WHICH 50 needs a staleness signal.  Git commit
times at module granularity (rounds 1-7) mark ~¾ of the registry stale
whenever any query in a shared module changes, so the genuinely
reworked queries kept spilling past the cap (round-7 verdict item 4).

A query's fingerprint is the md5 of its TRANSITIVE SOURCE CLOSURE:
the registered function's source, its DuckDB oracle SQL, and —
followed recursively through ``co_names`` / nested code objects — the
source of every package-local function it references plus a STABLE
repr of every package-local module constant, including list/dict/set
containers (r8-advice: a helper reached only through a list constant —
e.g. ``similarity._PLANES`` — was invisible to the gate, so editing it
changed results without changing any fingerprint).  Container reprs
normalize set iteration order and replace address-bearing reprs with
type names, so hash randomization can't flip fingerprints between
processes; local functions found INSIDE containers are fingerprinted
by their own source.  Names that don't resolve through
``fn.__globals__`` (e.g. ``from .dedup import X`` executed inside the
body) are resolved against every loaded package module that defines
them — an over-approximation that can only err toward re-verifying.

``tools/record_fingerprints.py`` snapshots fingerprints for queries
whose verdict is fresh (present in the latest CORRECTNESS file) into
``tools/verdict_fingerprints.json``; ``__spark_entry__._driver_order``
compares the current fingerprint against the snapshot — a mismatch (or
a missing record) means the query's code really changed since its
verdict, at exactly query granularity.
"""

from __future__ import annotations

import hashlib
import inspect
import sys
import types

_PKG = "duckdb_extension_kafquack_spark"
_LOCAL_PREFIXES = (_PKG, "__spark_entry__")

#: every module that registers queries — the ONE list shared by the
#: driver adapter (__spark_entry__) and tools/record_fingerprints.py.
#: Fingerprints are a function of the loaded package-module set
#: (``resolve_everywhere`` scans sys.modules), so the snapshot writer
#: and the staleness reader MUST import identical sets: a divergence
#: silently marks swaths of the registry stale and burns the driver's
#: 50-query budget (r8-advice item 2).
REGISTERING_MODULES = (
    f"{_PKG}.operators",
    f"{_PKG}.tpch",
    f"{_PKG}.streaming",
    f"{_PKG}.functions.udf",
)


def import_registering_modules() -> None:
    """Import every query-registering module (idempotent)."""
    import importlib

    for name in REGISTERING_MODULES:
        importlib.import_module(name)


def _is_local_function(obj: object) -> bool:
    return isinstance(obj, types.FunctionType) and (
        (obj.__module__ or "").startswith(_LOCAL_PREFIXES)
    )


def _local_modules() -> list[types.ModuleType]:
    return [
        m
        for name, m in sorted(sys.modules.items())
        if m is not None and name.startswith(_PKG)
    ]


#: constant types worth fingerprinting — scalars AND containers (a
#: query can reach a helper or a tuning value only through a list/dict)
_CONST_TYPES = (int, float, str, bytes, bool, tuple, frozenset, list, dict, set)


def _closure_parts(
    fn: types.FunctionType,
    modules: list[types.ModuleType] | None = None,
    consts: dict[str, tuple[str, tuple]] | None = None,
) -> dict[str, str]:
    """{stable_key: source_or_repr} for fn's transitive reference set.

    Keys are (module, qualname) strings so the final hash is
    independent of traversal order and interpreter identity.  A caller
    that fingerprints many queries shares ``modules`` (listing them
    sorts all of sys.modules) and ``consts``, each constant's repr with
    the local functions it reaches: a constant can be large (the
    ``derived`` memo holds DataFrames and arrays once queries ran), and
    many queries reach the same one."""
    if modules is None:
        modules = _local_modules()
    if consts is None:
        consts = {}
    parts: dict[str, str] = {}
    visited: set[tuple[str, str]] = set()
    reached: list[types.FunctionType] = []  # by the constant being repr'd

    def add_function(f: types.FunctionType) -> None:
        key = (f.__module__ or "?", f.__qualname__)
        if key in visited:
            return
        visited.add(key)
        try:
            src = inspect.getsource(f)
        except (OSError, TypeError):
            src = repr(f)
        parts[f"fn:{key[0]}:{key[1]}"] = src
        visit_code(f.__code__, f.__globals__)

    repr_stack: set[int] = set()

    def stable_repr(obj: object) -> str:
        """Deterministic, process-independent repr: sets sort, nested
        local functions fingerprint by qualname (AND get their source
        pulled into the closure), and anything whose repr carries a
        memory address collapses to its type + qualified name — an
        address in the hash would mark every dependent stale every
        round and burn the driver's 50-query budget on noise, but a
        bare type name alone would make swapping one non-local callable
        for another inside a container invisible (r9 advice).  A
        recursion STACK (pushed on entry, popped on exit — not a
        visited set, so DAG-shared acyclic objects still repr fully)
        breaks self-referential container constants."""
        if _is_local_function(obj):
            reached.append(obj)
            return f"<fn {obj.__module__}:{obj.__qualname__}>"
        if isinstance(obj, (set, frozenset, list, tuple, dict)):
            oid = id(obj)
            if oid in repr_stack:
                return "<cycle>"
            repr_stack.add(oid)
            try:
                if isinstance(obj, (set, frozenset)):
                    return (
                        "set{"
                        + ",".join(sorted(stable_repr(x) for x in obj))
                        + "}"
                    )
                if isinstance(obj, (list, tuple)):
                    tag = "list" if isinstance(obj, list) else "tuple"
                    return tag + "[" + ",".join(stable_repr(x) for x in obj) + "]"
                return (
                    "dict{"
                    + ",".join(
                        f"{stable_repr(k)}:{stable_repr(v)}"
                        for k, v in obj.items()
                    )
                    + "}"
                )
            finally:
                repr_stack.discard(oid)
        r = repr(obj)
        if " at 0x" in r:
            qual = getattr(obj, "__qualname__", "") or getattr(
                obj, "__name__", ""
            )
            return f"<{type(obj).__module__}.{type(obj).__qualname__} {qual}>"
        return r

    def add_constant(mod: str, name: str, obj: object) -> None:
        key = f"const:{mod}:{name}"
        if key not in consts:
            reached.clear()
            consts[key] = (stable_repr(obj), tuple(reached))
        parts[key], fns = consts[key]
        for f in fns:
            add_function(f)

    def resolve_everywhere(name: str) -> None:
        """Resolve a name against every loaded package module — catches
        functions imported INSIDE a function body, which never appear
        in the outer function's globals."""
        for m in modules:
            obj = m.__dict__.get(name)
            if obj is None:
                continue
            if _is_local_function(obj):
                add_function(obj)
            elif isinstance(obj, _CONST_TYPES):
                add_constant(m.__name__, name, obj)

    def visit_code(code: types.CodeType, globals_: dict) -> None:
        for const in code.co_consts:
            if isinstance(const, types.CodeType):
                visit_code(const, globals_)
        for name in code.co_names:
            obj = globals_.get(name)
            if _is_local_function(obj):
                add_function(obj)
            elif isinstance(obj, types.ModuleType) and obj.__name__.startswith(
                _PKG
            ):
                # module-attribute access: over-approximate by checking
                # every co_name against the module's namespace
                for attr in code.co_names:
                    sub = obj.__dict__.get(attr)
                    if _is_local_function(sub):
                        add_function(sub)
            elif obj is None:
                resolve_everywhere(name)
            elif isinstance(obj, _CONST_TYPES):
                mod = globals_.get("__name__", "?")
                if str(mod).startswith(_LOCAL_PREFIXES):
                    add_constant(str(mod), name, obj)

    add_function(fn)
    return parts


def query_fingerprint(
    fn: types.FunctionType,
    oracle: str | None,
    modules: list[types.ModuleType] | None = None,
    consts: dict[str, tuple[str, tuple]] | None = None,
) -> str:
    """Stable md5 of the query's source closure + oracle SQL."""
    parts = _closure_parts(fn, modules, consts)
    h = hashlib.md5()
    h.update((oracle or "").encode())
    for key in sorted(parts):
        h.update(key.encode())
        h.update(parts[key].encode())
    return h.hexdigest()


def registry_fingerprints() -> dict[str, str]:
    """name → fingerprint for every registered query (registration
    modules must already be imported by the caller)."""
    from .suite import REGISTRY

    modules, consts = _local_modules(), {}
    return {
        name: query_fingerprint(q.fn, q.oracle, modules, consts)
        for name, q in REGISTRY.items()
    }
