"""Strata of the registry rows and the seeded stratified draw.

A row's stratum is the first entry of ``STRATA`` whose module prefixes
match a package module the row's function uses, found by following the
names its code refers to through the registry's own helpers. A row that
uses none of them is ``relational``. Classification reads the registry
only; adding or renaming rows needs no edit here.
"""

from __future__ import annotations

import random
import types

#: (stratum, package module prefixes); the first match wins
STRATA: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("curate", ("plans.curate",)),
    ("streaming", ("streaming",)),
    ("ann", ("operators.pq", "operators.rq")),
    ("fusion", ("operators.fusion", "operators.versioning", "operators.multimodal")),
    ("temporal", ("operators.temporal",)),
    ("sampling", ("operators.sampling",)),
    ("dedup", ("operators.dedup",)),
    ("similarity", ("operators.similarity",)),
    ("textclean", ("operators.textclean",)),
    ("textstats", ("operators.textstats",)),
    ("rdf", (
        "functions.rdf", "functions.schema_gen", "operators.stats",
        "operators.topk", "operators.majority", "sources.ttl",
    )),
)
STRATUM_NAMES = tuple(s for s, _ in STRATA) + ("relational",)
PACKAGE = "dgraph_dbpedia_spark."


def _code_names(code: types.CodeType) -> set[str]:
    names = set(code.co_names)
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            names |= _code_names(const)
    return names


def modules_used(fn, namespace: dict, depth: int = 4) -> set[str]:
    """Package modules (without the package prefix) reachable from
    ``fn``'s code through ``namespace``'s functions, ``depth`` calls deep."""
    seen: set[int] = set()
    found: set[str] = set()

    def walk(f, d: int) -> None:
        code = getattr(f, "__code__", None)
        if code is None or id(code) in seen or d < 0:
            return
        seen.add(id(code))
        for name in _code_names(code):
            if name.startswith(PACKAGE):
                found.add(name[len(PACKAGE):])
                continue
            obj = namespace.get(name)
            mod = getattr(obj, "__module__", None) or ""
            if mod.startswith(PACKAGE):
                found.add(mod[len(PACKAGE):])
            elif callable(obj) and mod == namespace.get("__name__"):
                walk(obj, d - 1)

    walk(fn, depth)
    return found


def stratum_of(fn, namespace: dict) -> str:
    used = modules_used(fn, namespace)
    for stratum, prefixes in STRATA:
        if any(m == p or m.startswith(p + ".") for m in used for p in prefixes):
            return stratum
    return "relational"


def classify(queries: dict, namespace: dict) -> dict[str, str]:
    """Row name -> stratum, in registry order."""
    return {name: stratum_of(fn, namespace) for name, fn in queries.items()}


def draw(strata: dict[str, str], seed: int, costs: dict[str, float]) -> list[str]:
    """One row per stratum, in a seeded order.

    Each stratum contributes its row at the lower-quartile reference
    cost (warm seconds, ``costs``; ties broken by name): a typical row
    of the stratum that keeps one run's set-up and pass short. Every
    seed measures the same work; the seed sets only the order the rows
    run in. Rows without a cost are not drawn."""
    by: dict[str, list[str]] = {}
    for name, s in strata.items():
        if name in costs:
            by.setdefault(s, []).append(name)
    picked = []
    for rows in by.values():
        rows.sort(key=lambda n: (costs[n], n))
        picked.append(rows[(len(rows) - 1) // 4])
    picked.sort()
    random.Random(f"operators_mix:{seed}").shuffle(picked)
    return picked
