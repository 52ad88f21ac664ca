"""Spans at layer boundaries, recorded from outside the engine.

:func:`layer_hooks` wraps the public entry points of each engine layer
(``component``, ``io.csv_io``, ``io.snaptable.SnapCatalog``,
``operators.*`` and ``streaming.events``) for the duration of a traced
cycle and restores the originals afterwards, so an untraced cycle runs
the engine exactly as shipped. Spans are kept in memory and written to
one JSON file when the run ends.

A layer's self time is the length of its spans minus the part their
child spans cover.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str):
        s = Span(
            id=len(self.spans),
            parent=self._stack[-1].id if self._stack else None,
            name=name,
            layer=layer,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self, root_ids: set[int]) -> dict[str, float]:
        """Self time per layer over the subtrees rooted at ``root_ids``."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        inside = set(root_ids)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:  # parents precede children
            if s.id in inside or s.parent in inside:
                inside.add(s.id)
                out[s.layer] += (s.end - s.start) - child_time[s.id]
        return dict(out)

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    **meta,
                    "spans": [
                        {
                            "id": s.id,
                            "parent": s.parent,
                            "name": s.name,
                            "layer": s.layer,
                            "start": s.start,
                            "end": s.end,
                            "run_id": self.run_id,
                        }
                        for s in self.spans
                    ],
                },
                f,
            )


def _hook_points():
    """(owner, attribute, layer) for every wrapped entry point."""
    from component_iceberg_spark import component
    from component_iceberg_spark.io import csv_io
    from component_iceberg_spark.io.snaptable import SnapCatalog
    from component_iceberg_spark.operators import dedup, scan, similarity, text
    from component_iceberg_spark.streaming import events

    points = [
        (component, n, "component")
        for n in ("run_writer", "run_extractor", "sync_action")
    ]
    points += [
        (csv_io, n, "csv_io")
        for n in ("read_csv_typed", "read_csv_all_varchar", "write_csv")
    ]
    points += [
        (SnapCatalog, n, "snaptable")
        for n in (
            "create_or_replace", "append", "upsert", "read", "snapshots",
            "table_exists", "create_namespace", "schema",
        )
    ]
    points += [(scan, n, "operators") for n in ("scan_projection", "scan_limit")]
    points += [
        (dedup, n, "operators")
        for n in (
            "exact_dedup", "minhash_lsh_dedup", "doc_shingles",
            "minhash_signatures", "lsh_candidates", "corpus_minhash_profile",
            "screened_drop_ids",
        )
    ]
    points += [
        (similarity, n, "operators") for n in ("ivf_topk", "hyperplane_lsh_pairs")
    ]
    points += [
        (text, n, "operators")
        for n in ("quality_features", "classifier_score", "fingerprint")
    ]
    points += [(events, "screen_batch_incremental", "streaming")]
    return points


@contextmanager
def layer_hooks(tracer: Tracer):
    """Wrap every hook point in a span for the duration of the block."""
    saved = []
    for owner, name, layer in _hook_points():
        orig = owner.__dict__[name]

        def make(fn, span_name, span_layer):
            @functools.wraps(fn)
            def wrapper(*a, **kw):
                with tracer.span(span_name, span_layer):
                    return fn(*a, **kw)

            return wrapper

        saved.append((owner, name, orig))
        setattr(owner, name, make(orig, f"{layer}.{name}", layer))
    try:
        yield
    finally:
        for owner, name, orig in reversed(saved):
            setattr(owner, name, orig)
