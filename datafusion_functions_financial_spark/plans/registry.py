"""Aggregated registry of all declared query/oracle pairs.

Each entry maps a query name to ``(spark_fn, oracle_sql_or_None)``.
A query module registers its pairs by defining ``QUERIES``, nothing
else: the registry discovers every such module under ``functions/``,
``operators/`` and ``plans/`` (sorted by name, ``_``-prefixed modules
skipped).
``__spark_entry__.py`` re-exports this for the driver; the test suite
runs every pair against DuckDB at sf0.001 so the driver's sf0.01 gate
is pre-validated locally.

The CORRECTNESS gate records rows for the first ``GATE_WINDOW``
entries in registry order only. Which pairs fill that window is
decided by the generated ``plans/_window.py`` (see
``tools/gen_window.py`` and COVERAGE.md §"Gate rotation"), which
``_collect`` moves to the front; the order of the remaining names
carries no meaning.
"""

from __future__ import annotations

import importlib
import pkgutil

from ._gated import DRIVER_GREEN

# tools/gen_window.py imports this module to read _collect_unordered();
# if its own output (_window.py) is missing or syntactically broken —
# exactly when regeneration is needed — the import would fail before
# the generator could run. Fall back to an empty window so the
# generator (and plain registry reads) still work; the rotation test
# fails loudly on a genuinely missing window.
try:
    from ._window import REGATE_WINDOW
except Exception:  # missing/broken generated file — regenerate it
    REGATE_WINDOW = ()

GATE_WINDOW = 50

# Queries with a green CORRECTNESS gate row in a prior round, derived
# from the CORRECTNESS_r*.json files by ``python tools/gen_gated.py``.
PRIOR_GATED = DRIVER_GREEN

# Queries registered past the gate window, scheduled for the next
# round's gate (none: every pair already has a green gate row).
NEXT_ROUND_QUEUE: frozenset = frozenset()

_PACKAGES = ("functions", "operators", "plans")


def _query_modules() -> list:
    """Every non-private module under ``_PACKAGES`` that defines
    ``QUERIES``, in (package, module name) order."""
    root = __name__.rsplit(".", 2)[0]
    found = []
    for pkg_name in _PACKAGES:
        pkg = importlib.import_module(f"{root}.{pkg_name}")
        for info in sorted(pkgutil.iter_modules(pkg.__path__),
                           key=lambda i: i.name):
            if info.name.startswith("_"):
                continue
            mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
            if hasattr(mod, "QUERIES"):
                found.append(mod)
    return found


def _collect_unordered() -> dict:
    """Registry pairs in discovery order, BEFORE the gate-window
    reorder (tools/gen_window.py reads this to plan the rotation
    without a circular dependency)."""
    out: dict = {}
    for m in _query_modules():
        for name, pair in m.QUERIES.items():
            if name in out:
                raise ValueError(f"duplicate query name: {name}")
            out[name] = pair
    return out


def _collect() -> dict:
    """Registry pairs with the generated re-gate window fronted."""
    out = _collect_unordered()
    front = {n: out[n] for n in REGATE_WINDOW if n in out}
    if not front:
        return out
    rest = {n: p for n, p in out.items() if n not in front}
    return {**front, **rest}


def all_queries() -> dict:
    return {name: fn for name, (fn, _sql) in _collect().items()}


def all_oracles() -> dict:
    return {
        name: sql for name, (_fn, sql) in _collect().items() if sql is not None
    }


def gate_window_names() -> list[str]:
    """The query names the driver's CORRECTNESS gate will actually record
    (first ``GATE_WINDOW`` entries in registry iteration order)."""
    return list(_collect())[:GATE_WINDOW]
