"""Span tracer for the traced benchmark run.

``install(tracer)`` replaces engine functions with timing wrappers on their
module attributes. It must run after the engine package is imported and
before ``registry.all_queries()`` imports the operator modules: the
operators bind ``from ..sources.tables import load`` at import time, while
their function-local ``from ..sources.manifest_table import ...`` and
``from ..functions.dfutil import materialized`` resolve at call time, so
both kinds are caught.

A span is ``[name, start, end, parent, key, pass]``; ``parent`` indexes the
enclosing span on the same thread (or is None). Spans stay in memory and are
written when the run ends. A wrapper records nothing while
``tracer.enabled`` is false, so untraced passes run through it untouched.
"""

from __future__ import annotations

import functools
import inspect
import threading
import time
from collections import defaultdict

from stats import median

PKG = "t_mobile_data_fnt_etl_pipeline_aws_spark"

#: Layers with a self-time metric; a span's layer is its name up to the dot.
SELF_TIME_LAYERS = ("operators", "tables", "manifest_table", "dfutil")


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.key: str | None = None
        self.pass_no: int | None = None
        self.spans: list[list] = []
        self.conflicts = 0
        self.pruned = [0, 0]  # files kept, files live
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with _Span(tracer, name) as sp:
                try:
                    out = fn(*args, **kwargs)
                except Exception as e:
                    if type(e).__name__ == "CommitConflictError" and sp.outermost(tracer, "manifest_table."):
                        tracer.conflicts += 1
                    raise
            if name.startswith("manifest_table.prune_files"):
                kept, total = out
                tracer.pruned[0] += len(kept)
                tracer.pruned[1] += total
            return out

        return traced


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        stack = t._stack()
        self.idx = len(t.spans)
        t.spans.append([self.name, time.perf_counter(), None,
                        stack[-1] if stack else None, t.key, t.pass_no])
        stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        t._stack().pop()
        t.spans[self.idx][2] = time.perf_counter()
        return False

    def outermost(self, tracer: Tracer, prefix: str) -> bool:
        return not _has_ancestor(tracer.spans, self.idx, prefix)


def _has_ancestor(spans: list[list], idx: int, prefix: str) -> bool:
    parent = spans[idx][3]
    while parent is not None:
        if spans[parent][0].startswith(prefix):
            return True
        parent = spans[parent][3]
    return False


def install(tracer: Tracer) -> None:
    """Wrap the engine's table loader, manifest table API and dfutil."""
    import importlib

    tables = importlib.import_module(f"{PKG}.sources.tables")
    tables.load = tracer.wrap("tables.load", tables.load)
    dfutil = importlib.import_module(f"{PKG}.functions.dfutil")
    dfutil.materialized = tracer.wrap("dfutil.materialized", dfutil.materialized)
    mt = importlib.import_module(f"{PKG}.sources.manifest_table")
    for name, obj in list(vars(mt).items()):
        if (not name.startswith("_") and inspect.isfunction(obj)
                and obj.__module__ == mt.__name__):
            setattr(mt, name, tracer.wrap(f"manifest_table.{name}", obj))


def layer_metrics(tracer: Tracer, n_passes: int) -> dict[str, float]:
    """Per-pass span metrics over the traced passes."""
    spans = [s for s in tracer.spans if s[2] is not None]
    dur = [s[2] - s[1] for s in spans]
    child_time = defaultdict(float)
    for s, d in zip(spans, dur):
        if s[3] is not None:
            child_time[s[3]] += d
    index = {id(s): i for i, s in enumerate(tracer.spans)}
    self_s = defaultdict(float)
    commits, reads, loads, mats = [], [], [], []
    for s, d in zip(spans, dur):
        i = index[id(s)]
        name = s[0]
        self_s[name.split(".")[0]] += d - child_time.get(i, 0.0)
        if name.startswith("manifest_table.") and not _has_ancestor(tracer.spans, i, "manifest_table."):
            fn = name.split(".", 1)[1]
            if fn.startswith("commit_"):
                commits.append(d)
            elif fn.startswith("read_"):
                reads.append(d)
        elif name == "tables.load":
            loads.append(d)
        elif name == "dfutil.materialized":
            mats.append(d)
    n = max(1, n_passes)
    kept, live = tracer.pruned
    out = {
        "tables.load_calls": len(loads) / n,
        "tables.load_s": sum(loads) / n,
        "manifest_table.commits": len(commits) / n,
        "manifest_table.commit_s": sum(commits) / n,
        "manifest_table.commit_s_p50": median(commits) if commits else 0.0,
        "manifest_table.commit_conflicts": tracer.conflicts / n,
        "manifest_table.read_s": sum(reads) / n,
        "manifest_table.files_kept_frac": kept / live if live else 1.0,
        "dfutil.materialized_calls": len(mats) / n,
        "dfutil.materialized_s": sum(mats) / n,
    }
    for layer in SELF_TIME_LAYERS:
        out[f"{layer}.self_s"] = self_s.get(layer, 0.0) / n
    return out


def dump_spans(tracer: Tracer) -> list[dict]:
    keys = ("name", "start", "end", "parent", "key", "pass")
    return [dict(zip(keys, s)) for s in tracer.spans]
