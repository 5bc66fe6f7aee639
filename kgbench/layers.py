"""Layer spans for the traced run, recorded from outside the engine.

A span sets the Spark job group to its layer name on entry and restores
the enclosing layer's group on exit, so every job the layer submits from
the calling thread carries the layer's name into the event log. Spans nest;
``eventlog.rollup`` turns them into per-layer self time.

``patched`` swaps public engine functions for span-wrapped ones. The DQA
commands import these functions at call time, so the swap reaches them.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time

from eventlog import Span

CONSTRUCT_LAYERS = ["extract", "link", "canonicalize", "materialize"]
DQA_LAYERS = ["read", "profile", "constraints", "scoring", "report"]
APPEND_LAYERS = ["apply", "rescore"]
LAYERS = CONSTRUCT_LAYERS + DQA_LAYERS + APPEND_LAYERS

PKG = "shacl_dqa_prototype_spark"
# (module, function, layer) — the public entry points each layer covers,
# for `main dqa` ...
DQA_ENTRY_POINTS = [
    ("main", "_read_rdf", "read"),
    (f"{PKG}.plans.profile", "profile_graph", "profile"),
    (f"{PKG}.plans.vocab", "raw_usage_sets", "profile"),
    (f"{PKG}.plans.constraints", "compile_data_constraints", "constraints"),
    (f"{PKG}.plans.scoring", "score_plan", "scoring"),
    (f"{PKG}.plans.dqa", "run_vocab_dqa", "scoring"),
    (f"{PKG}.plans.dqa", "run_metadata_dqa", "scoring"),
    (f"{PKG}.sources.sinks", "write_report_csv", "report"),
    (f"{PKG}.sources.sinks", "write_report_json", "report"),
    (f"{PKG}.plans.report_csv", "reference_csv_rows", "report"),
    (f"{PKG}.plans.report_csv", "write_reference_csv", "report"),
    (f"{PKG}.plans.shapes_ttl", "data_shapes_ttl", "report"),
    (f"{PKG}.plans.shapes_ttl", "metadata_shapes_ttl", "report"),
    (f"{PKG}.plans.shapes_ttl", "vocabulary_shapes_ttl", "report"),
]
# ... and for `main dqa-append`: everything below these two calls stays in
# their layer, including the scoring and constraint code they reuse
APPEND_ENTRY_POINTS = [
    (f"{PKG}.plans.incremental", "apply_delta", "apply"),
    (f"{PKG}.plans.incremental", "score_from_state", "rescore"),
]


class Tracer:
    """Records nested layer spans and tags Spark jobs with the layer."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[str] = []

    def _group(self, layer: str | None) -> None:
        if layer is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(layer, f"bench layer {layer}")

    @contextlib.contextmanager
    def span(self, layer: str):
        depth = len(self._stack)
        self._stack.append(layer)
        self._group(layer)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(layer, t0, time.time(), depth))
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    def wrap(self, fn, layer: str, after=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                out = fn(*args, **kwargs)
                if after is not None:
                    after(out)
                return out
        return traced

    @contextlib.contextmanager
    def patched(self, entry_points):
        """Span-wrap the given entry points for the duration of the block.

        The constraint plan is lazy: its violations run inside whatever
        consumes them first. ``cmd_dqa`` caches ``plan.violations`` right
        after compiling, so the wrapper caches and counts them inside the
        constraints span — work the command persists anyway, now charged
        to the layer that defines it."""
        def force(plan):
            plan.violations = plan.violations.cache()
            plan.violations.count()

        saved = []
        for mod_name, name, layer in entry_points:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, name)
            saved.append((mod, name, fn))
            after = force if name == "compile_data_constraints" else None
            setattr(mod, name, self.wrap(fn, layer, after))
        try:
            yield
        finally:
            for mod, name, fn in saved:
                setattr(mod, name, fn)
