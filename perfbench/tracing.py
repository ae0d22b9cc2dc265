"""Driver-side spans around calls into the package's public functions.

Spans are kept in memory (name, start, end, parent id, pass tag) and
written out with the run record. Wrapping happens from outside: every
loaded ``osm_coverage_spark`` module attribute that *is* the wrapped
function is replaced, so ``from .x import f`` bindings are covered too.
The wrappers also keep the last DataFrame a layer returned, for the layer
probes the traced session runs after its passes.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time

# (module, attribute, span name, keep the return value for a probe)
TARGETS = [
    ("osm_coverage_spark.sources.derived", "register_derived_views", "sources.register", False),
    ("osm_coverage_spark.sources.derived", "load_testdata", "sources.load", False),
    ("osm_coverage_spark.operators.coverage", "prepare_alkis", "prepare.alkis", True),
    ("osm_coverage_spark.operators.coverage", "prepare_osm", "prepare.osm", True),
    ("osm_coverage_spark.operators.coverage", "flag_found", "coverage.flag", True),
    ("osm_coverage_spark.geo.pip", "pip_join", "pip.join", False),
    ("osm_coverage_spark.geo.pip", "_rings_broadcast", "pip.ring_collect", False),
    ("osm_coverage_spark.queries_text", "winnow", "text.winnow", False),
    ("osm_coverage_spark.operators.layout", "write_spatial_layout", "layout.write", False),
    ("osm_coverage_spark.operators.layout", "read_bbox", "layout.read_bbox", False),
    ("osm_coverage_spark.operators.sinks", "write_district_features", "sinks.features", False),
]


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.tag = ""
        self.kept: dict[str, list] = {}

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "tag": self.tag, "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def install(self) -> None:
        import importlib

        for mod_name, attr, span_name, keep in TARGETS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, span_name, keep)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("osm_coverage_spark"):
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            setattr(m, k, wrapped)

    def _wrap(self, fn, span_name: str, keep: bool):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(span_name):
                out = fn(*args, **kwargs)
            if keep:
                self.kept.setdefault(span_name, []).append((self.tag, args, out))
            return out

        return wrapper

    def last_kept(self, span_name: str, tag: str):
        hits = [k for k in self.kept.get(span_name, []) if k[0] == tag]
        return hits[-1] if hits else None


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span name -> total self time (duration minus its direct children
    among ``spans``)."""
    child: dict[int, float] = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - child.get(s["id"], 0.0)
    return out
