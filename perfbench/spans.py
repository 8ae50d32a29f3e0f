"""Spans around the engine's layer entry points, recorded from outside.

The traced run swaps each layer's public function for a wrapper that
opens a span and tags every Spark job submitted inside it with the
job group ``perfbench-<span id>``. The eventlog then says which span
submitted each job (``eventlog.py`` folds the two together). Nothing
in the engine changes: the wrappers replace module attributes for the
duration of the traced run and put the originals back afterwards.

Spark is lazy, so most of a layer's work runs when its output table is
committed, not when the layer function returns. A
``ParquetCatalog.write(table, ...)`` span is therefore tagged with the
layer that produced ``table`` (``TABLE_OWNER``): the jobs it runs are
charged to that layer, and only the rest of the commit (footers,
manifest, the time no job runs) is the catalog's own.
"""

from __future__ import annotations

import functools
import importlib
import time
from contextlib import contextmanager

_PKG = "chameleon_entity_linking_spark"

# (module, public function) -> layer
LAYER_FUNCS = {
    ("operators.normalize", "normalize"): "normalize",
    ("operators.block", "blocking_keys"): "block_keys",
    ("operators.block", "candidate_pairs"): "block",
    ("operators.block", "expand_key_pairs"): "block",
    ("operators.incremental_er", "incremental_candidate_pairs"): "block",
    ("operators.score", "sketch_prefilter"): "score",
    ("operators.score", "score_pairs"): "score",
    ("operators.score", "edges_above_threshold"): "edges",
    ("operators.cluster", "connected_components"): "cluster",
    ("operators.cluster", "assign_clusters"): "cluster",
    ("operators.incremental_er", "merge_clusters"): "cluster",
    ("operators.incremental_er", "incremental_er_update"): "incremental_er",
}

# modules whose namespaces bind the functions above (by import)
_NAMESPACES = (
    "operators.normalize",
    "operators.block",
    "operators.score",
    "operators.cluster",
    "operators.incremental_er",
    "plans.pipeline",
)

# committed table -> layer whose (lazy) plan the commit executes
TABLE_OWNER = {
    "doc_norm": "normalize",
    "blocking_keys": "block_keys",
    "pairs": "block",
    "block_key_metrics": "block",
    "scores": "score",
    "edges": "edges",
    "clusters": "cluster",
}

LAYERS = (
    "normalize",
    "block_keys",
    "block",
    "score",
    "edges",
    "cluster",
    "catalog",
    "incremental_er",
)


class Tracer:
    """Span recorder; spans live in memory until the run ends."""

    def __init__(self, spark, counted: dict[str, str]):
        """``counted`` maps a layer function to "pairs" or "edges": the
        rows it returns are counted after each operation. Only outputs
        the operation neither commits nor reports need it; counting
        re-runs their lazy plans."""
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counted = counted
        self._outputs: dict[str, list] = {}
        self._saved: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, owner: str | None = None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "owner": owner or name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group()

    def _set_group(self) -> None:
        if self._stack:
            sid = self._stack[-1]
            self.sc.setJobGroup(f"perfbench-{sid}", self.spans[sid]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                out = fn(*args, **kwargs)
            if fn.__name__ in self.counted:
                df = out[0] if isinstance(out, tuple) else out
                self._outputs.setdefault(self.counted[fn.__name__], []).append(df)
            return out

        return traced

    def _wrap_write(self, write):
        @functools.wraps(write)
        def traced(catalog, table, *args, **kwargs):
            with self.span("catalog", owner=TABLE_OWNER.get(table, "catalog")):
                return write(catalog, table, *args, **kwargs)

        return traced

    def _patch(self, obj, attr: str, new) -> None:
        self._saved.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, new)

    def install(self) -> None:
        """Swap every layer entry point for its traced wrapper."""
        spaces = [importlib.import_module(f"{_PKG}.{m}") for m in _NAMESPACES]
        for (mod, name), layer in LAYER_FUNCS.items():
            orig = getattr(importlib.import_module(f"{_PKG}.{mod}"), name)
            traced = self._wrap(orig, layer)
            for ns in spaces:
                for attr, val in list(vars(ns).items()):
                    if val is orig:
                        self._patch(ns, attr, traced)
        catalog = importlib.import_module(f"{_PKG}.sources.catalog")
        self._patch(
            catalog.ParquetCatalog,
            "write",
            self._wrap_write(catalog.ParquetCatalog.write),
        )

    def uninstall(self) -> None:
        while self._saved:
            obj, attr, orig = self._saved.pop()
            setattr(obj, attr, orig)

    def take_counts(self) -> dict[str, int]:
        """Rows of the ``counted`` outputs of the last operation.

        Counted after the operation's span has closed, so the extra
        jobs are charged to no layer and to no operation."""
        out = {k: sum(df.count() for df in dfs) for k, dfs in self._outputs.items()}
        self._outputs.clear()
        return out
