"""Spans recorded from outside the program, for the traced run.

The traced run wraps the driver-side entry points of the layers it
reports: the ``sources.parquet`` catalog functions, and the plan-building
functions of each operator family (those whose first parameter is a
DataFrame, SparkSession or Column, so nothing shipped to a Python
worker is ever wrapped). Every module attribute that holds one of these
functions is rebound, which covers both ``from x import f`` aliases and
imports done inside builders. Only the outermost span of a layer is
kept, so a layer's time is never counted twice.
"""

from __future__ import annotations

import functools
import inspect
import sys
import time

SOURCES = ["load_table", "table_schema", "table_row_count", "describe_indexes"]

#: module -> the layer its plan builders are reported under
FAMILIES = {
    "mongo_analyser_spark.operators.dedup": "operators.dedup",
    "mongo_analyser_spark.operators.bloom": "operators.bloom",
    "mongo_analyser_spark.operators.quality": "operators.quality",
    "mongo_analyser_spark.operators.pq": "operators.pq",
    "mongo_analyser_spark.operators.similarity": "operators.similarity",
    "mongo_analyser_spark.operators.audio": "operators.audio",
    "mongo_analyser_spark.operators.jpeg": "operators.jpeg",
    "mongo_analyser_spark.operators.field_stats": "operators.field_stats",
    "mongo_analyser_spark.operators.melt_variant": "operators.melt_variant",
    "mongo_analyser_spark.operators.relational": "operators.relational",
    "mongo_analyser_spark.functions.bpe": "functions.bpe",
    "mongo_analyser_spark.functions.pii": "functions.pii",
}

_PLAN_TYPES = ("DataFrame", "SparkSession", "Column")


def _is_plan_builder(fn) -> bool:
    try:
        params = list(inspect.signature(fn).parameters.values())
    except (TypeError, ValueError):
        return False
    ann = params[0].annotation if params else inspect.Parameter.empty
    if isinstance(ann, str):
        return any(t in ann for t in _PLAN_TYPES)
    return isinstance(ann, type) and ann.__name__ in _PLAN_TYPES


class Spans:
    """Collects (call id, layer, start, end) for outermost layer entries
    while ``call`` is set; a no-op otherwise."""

    def __init__(self):
        self.call: str | None = None
        self.items: list[tuple[str, str, float, float]] = []
        self._open: set[str] = set()

    def _wrap(self, fn, layer: str):
        spans = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if spans.call is None or layer in spans._open:
                return fn(*args, **kwargs)
            spans._open.add(layer)
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                spans._open.discard(layer)
                spans.items.append((spans.call, layer, t0, time.time()))
        return wrapper

    def install(self) -> None:
        """Wrap the layer entry points and rebind every alias of them in
        the program's loaded modules."""
        import importlib

        targets: dict[int, tuple[object, object]] = {}
        src = importlib.import_module("mongo_analyser_spark.sources.parquet")
        for name in SOURCES:
            fn = getattr(src, name)
            targets[id(fn)] = (fn, self._wrap(fn, f"sources.{name}"))
        for mod_name, family in FAMILIES.items():
            mod = importlib.import_module(mod_name)
            for name, fn in vars(mod).items():
                if (inspect.isfunction(fn) and fn.__module__ == mod_name
                        and not name.startswith("_") and _is_plan_builder(fn)):
                    targets[id(fn)] = (fn, self._wrap(fn, family))
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("mongo_analyser_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                hit = targets.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])

    def of_call(self, call: str) -> list[tuple[str, float, float]]:
        return [(layer, s, e) for c, layer, s, e in self.items if c == call]
