"""Query registry: operator name → (Spark callable, DuckDB oracle twin).

Every operator from SURVEY.md §2 that is implemented registers here; the
driver (and tests/test_oracle.py) iterate this. Callables take
``(spark, sf_dir)`` and return a DataFrame. Oracle SQL must produce the
same column NAMES (the harness sorts columns by name before hashing).
Keys with no oracle get rows-only checks (non-SQL-expressible ops).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .plans import poc_analysis as _poc
from .plans import reference_parity as _refpar
from .plans import tpch as _tpch

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, fn: QueryFn, oracle: str | None = None) -> None:
    QUERIES[name] = fn
    if oracle is not None:
        ORACLES[name] = oracle


# --- flagship + analytical plans (SURVEY.md §3.2, §2.3-§2.6) ---------------
register("poc_analysis", _poc.poc_analysis, _poc.ORACLE_SQL)
register(
    "reference_parity_poc", _refpar.reference_parity_poc, _refpar.REFERENCE_POC_SQL
)
register("tpch_q1_pricing", _tpch.q1_pricing_summary, _tpch.Q1_SQL)
register("tpch_q3_shipping_priority", _tpch.q3_shipping_priority, _tpch.Q3_SQL)
register("tpch_q5_local_supplier", _tpch.q5_local_supplier_volume, _tpch.Q5_SQL)

# conform / source / dedup / text / similarity / event operators register
# themselves on import:
from . import registry_ops  # noqa: E402,F401

# extended TPC-H suite + relational/window/stats operators:
from . import registry_ext  # noqa: E402,F401

# geospatial grid operators (cell density, radius join, kNN join):
from . import registry_geo  # noqa: E402,F401

# model-evaluation operators (confusion report, ROC-AUC, calibration, lift):
from . import registry_eval  # noqa: E402,F401

# distribution tests, closed-form ridge, l-diversity, recursive CTE /
# LATERAL SQL surface, array higher-order functions:
from . import registry_stats  # noqa: E402,F401

# --- driver-sweep rotation --------------------------------------------------
# The correctness driver checks ~50 entries in registration order per round.
# Rotation rule (round-5 judge directive 2): priority = entries whose
# implementation CHANGED since their last driver-green row ∪ entries NEVER
# driver-checked, then everything else oldest-evidence-first. Change
# detection hashes each entry's plan-function source transitively
# (package-internal helpers + constants it references) against the hash
# recorded in driver_evidence.json when its last driver row landed —
# maintained by `python tools/driver_rotation.py refresh` after each round.
# Without an evidence file the registry keeps its registration order.


def _collect_sources(fn, seen: set[int], depth: int = 0) -> list[str]:
    """Source text of ``fn`` plus (transitively, depth ≤ 3) every
    package-internal callable and simple constant it references — so a
    rewrite of an operator helper re-prioritizes the registry entries that
    call it, not just entries whose own wrapper changed."""
    import inspect

    try:
        out = [inspect.getsource(fn)]
    except (OSError, TypeError):
        # repr(fn) embeds the object's memory address → a different hash
        # every process, permanently pinning the entry to the re-check
        # front. Use a stable module-qualified identifier instead.
        return [f"{getattr(fn, '__module__', '?')}.{getattr(fn, '__qualname__', repr(type(fn)))}"]
    if depth >= 3:
        return out
    g = getattr(fn, "__globals__", {})
    code = getattr(fn, "__code__", None)
    names = list(code.co_names) if code is not None else []
    # function-LOCAL imports (`from .operators import profiling` inside the
    # body) bind nothing in __globals__ — resolve them from the source text
    import importlib
    import re

    for m in re.finditer(r"from \.([\w.]*) import ([\w, ]+)", out[0]):
        relmod, imported = m.groups()
        try:
            mod = importlib.import_module(
                "cocktailsdb_spark" + ("." + relmod if relmod else "")
            )
        except ImportError:
            continue
        for nm in imported.split(","):
            sub = getattr(mod, nm.strip().split(" as ")[0], None)
            if inspect.ismodule(sub) and sub.__name__.startswith("cocktailsdb_spark"):
                if id(sub) not in seen:
                    seen.add(id(sub))
                    out.extend(_module_members(sub, names, seen, depth))
            elif (
                callable(sub)
                and (getattr(sub, "__module__", "") or "").startswith(
                    "cocktailsdb_spark"
                )
                and id(sub) not in seen
            ):
                seen.add(id(sub))
                out.extend(_collect_sources(sub, seen, depth + 1))
    for name in names:
        obj = g.get(name)
        if obj is None:
            continue
        mod = getattr(obj, "__module__", None) or ""
        if inspect.ismodule(obj) and obj.__name__.startswith("cocktailsdb_spark"):
            out.extend(_module_members(obj, names, seen, depth))
        elif callable(obj) and mod.startswith("cocktailsdb_spark"):
            if id(obj) not in seen:
                seen.add(id(obj))
                out.extend(_collect_sources(obj, seen, depth + 1))
        elif isinstance(obj, frozenset):
            # sorted: set iteration order varies with hash randomization
            out.append(f"{name}={sorted(map(repr, obj))!r}")
        elif isinstance(obj, (str, int, float, tuple)):
            out.append(f"{name}={obj!r}")
        elif isinstance(obj, (dict, list)):
            # runtime caches are STATE, not behavior: hashing their
            # contents makes the entry hash drift as queries run in the
            # same process (observed: _CENTROID_MEMO filling during a plan
            # build flipped three entries to the re-check front mid-test).
            # Convention: mutable module-level caches are named *_MEMO or
            # *_CACHE and are excluded. The registry's own QUERIES/ORACLES
            # maps are the same class of state: a plan function that calls
            # any ``.register(...)`` attribute (e.g. spark.dataSource
            # .register) picks up registry.register via co_names and would
            # otherwise absorb the full entry map — flipping that entry's
            # hash whenever ANY entry is added (observed:
            # python_datasource_read drifted on every registration).
            if name.endswith(("_MEMO", "_CACHE")) or name in ("QUERIES", "ORACLES"):
                out.append(f"{name}=<runtime-cache>")
                continue
            # dict/list constants (e.g. LANG_STOPWORDS) are behavior too:
            # editing one must flip the entry hash or the rotation never
            # re-prioritizes the entry. json with sort_keys gives a stable
            # serialization; the default must itself be process-stable —
            # repr of a callable embeds a memory address and repr of a set
            # iterates in hash-randomized order, either of which would pin
            # the entry permanently to the re-check front.
            import json as _json

            def _stable_leaf(o):
                if isinstance(o, (set, frozenset)):
                    return sorted(map(repr, o))
                if callable(o):
                    return (
                        f"{getattr(o, '__module__', '?')}."
                        f"{getattr(o, '__qualname__', type(o).__name__)}"
                    )
                return f"<{type(o).__name__}>"

            try:
                out.append(
                    f"{name}={_json.dumps(obj, sort_keys=True, default=_stable_leaf)}"
                )
            except (TypeError, ValueError):
                out.append(f"{name}=<unserializable {type(obj).__name__}>")
    return out


def _module_members(mod, names: list[str], seen: set[int], depth: int) -> list[str]:
    """Resolve the referenced attribute names against a package-internal
    module, following nested-module chains (``operators.profiling.fn``)."""
    import inspect

    out: list[str] = []
    for attr in names:
        sub = getattr(mod, attr, None)
        if (
            inspect.ismodule(sub)
            and sub.__name__.startswith("cocktailsdb_spark")
            and id(sub) not in seen
        ):
            seen.add(id(sub))
            out.extend(_module_members(sub, names, seen, depth))
        elif (
            callable(sub)
            and (getattr(sub, "__module__", "") or "").startswith("cocktailsdb_spark")
            and id(sub) not in seen
        ):
            seen.add(id(sub))
            out.extend(_collect_sources(sub, seen, depth + 1))
    return out


def entry_source_hash(name: str) -> str:
    """Stable hash of an entry's implementation (plan fn + helpers +
    constants + oracle SQL); drives the changed-since-last-driver-row
    rotation in driver_evidence.json."""
    import hashlib

    parts = _collect_sources(QUERIES[name], seen=set())
    parts.append(ORACLES.get(name, ""))
    return hashlib.md5("\n".join(parts).encode()).hexdigest()


def _evidence_order() -> list[str] | None:
    """Order from driver_evidence.json: (1) changed-or-never-checked,
    (2) the rest ascending by last driver-green round. None if the
    evidence file is absent/unreadable (keep registration order).

    Cost: hashing all entries at import is ~0.45 s (measured) — paid once
    per process. Accepted: every consumer of this package starts a JVM
    whose startup dwarfs it, and the driver (the consumer the ordering
    exists for) cannot be detected from here."""
    import json
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "driver_evidence.json"
    try:
        evidence = json.loads(path.read_text())
    except (OSError, ValueError):
        return None
    never: list[str] = []
    changed: list[str] = []
    rest: list[tuple[int, str]] = []
    for name in QUERIES:
        rec = evidence.get(name)
        if rec is None:
            never.append(name)  # zero driver evidence ever — highest risk
        elif rec.get("hash") != entry_source_hash(name):
            changed.append(name)  # evidence exists but for older code
        else:
            rest.append((rec.get("last_round", 0), name))
    rest.sort(key=lambda t: t[0])
    # never-checked BEFORE changed-since-checked: when the front exceeds
    # the driver's ~50-entry sample, entries with no driver row at all
    # must win the slots (a changed entry still has historical evidence
    # of its oracle contract; a never-checked one has none)
    return never + changed + [n for _, n in rest]


def _apply_driver_priority() -> None:
    ordered = _evidence_order()
    if ordered is None:
        return
    for mapping in (QUERIES, ORACLES):
        snapshot = {n: mapping[n] for n in ordered if n in mapping}
        mapping.clear()
        mapping.update(snapshot)


_apply_driver_priority()
