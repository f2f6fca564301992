"""In-memory spans around the calls into each layer of the package.

The program itself is not instrumented: ``Tracer.install`` replaces every
public function of each layer module with a timing wrapper, everywhere the
package (and ``__spark_entry__``) holds a reference to it. Spans carry a
name, start, end, parent span and run id, plus any counts recorded at the
same boundary, and are written out once when the benchmark ends.

Spark is lazy, so a span measures the Python call: a function that only
builds a plan returns in microseconds and the work shows up in whichever
layer runs the action. The per-layer probes in ``workloads`` separate
scan, clean and write time by running each prefix of the plan to a noop
sink.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import threading
import time

PACKAGE = "gcp_food_delivery_data_pipeline_spark"

# layer name -> module; the names are the ones the benchmark reports
LAYERS = {
    "session": f"{PACKAGE}.session",
    "readers": f"{PACKAGE}.sources.readers",
    "clean": f"{PACKAGE}.operators.clean",
    "split": f"{PACKAGE}.operators.split",
    "metrics": f"{PACKAGE}.operators.metrics",
    "writers": f"{PACKAGE}.sources.writers",
    "pipeline": f"{PACKAGE}.pipeline",
    "stream": f"{PACKAGE}.streaming.stream",
    "analytics": f"{PACKAGE}.plans.analytics",
    "dedup": f"{PACKAGE}.operators.dedup",
    "corpus": f"{PACKAGE}.operators.corpus",
    "similarity": f"{PACKAGE}.operators.similarity",
    "text": f"{PACKAGE}.operators.text",
}


class _Traced:
    """Callable stand-in for one layer function.

    Pickles as the original function (looked up on its module), so a
    pandas UDF closure that captured it ships the untraced function to
    the Python workers.
    """

    def __init__(self, tracer: "Tracer", layer: str, fn) -> None:
        self._tracer = tracer
        self._layer = layer
        self._fn = fn
        functools.update_wrapper(self, fn)

    def __call__(self, *args, **kwargs):
        with self._tracer.span(f"{self._layer}.{self._fn.__name__}"):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return getattr, (sys.modules[self._fn.__module__], self._fn.__name__)


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._next_id = 0
        self._id_lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str) -> "_Span":
        """Context manager recording one span; yields its record, whose
        ``counts`` dict takes counts measured at this boundary."""
        return _Span(self, name)

    # -- install / uninstall -------------------------------------------------

    def install(self) -> None:
        """Wrap every public function of each layer module wherever the
        package refers to it."""
        originals: dict[int, _Traced] = {}
        for layer, modname in LAYERS.items():
            mod = importlib.import_module(modname)
            for name, fn in vars(mod).items():
                if (
                    not name.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == modname
                ):
                    originals[id(fn)] = _Traced(self, layer, fn)
        holders = [
            m for n, m in list(sys.modules.items())
            if m is not None and (n == PACKAGE or n.startswith(PACKAGE + ".")
                                  or n == "__spark_entry__")
        ]
        for mod in holders:
            for name, val in list(vars(mod).items()):
                wrapped = originals.get(id(val))
                if wrapped is not None and inspect.isfunction(val):
                    self._patched.append((mod, name, val))
                    setattr(mod, name, wrapped)

    def uninstall(self) -> None:
        for mod, name, val in reversed(self._patched):
            setattr(mod, name, val)
        self._patched.clear()

    # -- reporting -----------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Seconds per layer, each span's duration minus its children's."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[layer] = out.get(layer, 0.0) + own
        return out

    def durations(self, name: str, since: int = 0) -> list[float]:
        """Durations of the spans called ``name``, from the ``since``-th
        finished span on."""
        return [s["end"] - s["start"] for s in self.spans[since:] if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


def _noop() -> None:
    return None


def span_cost_s(n: int = 20000) -> float:
    """Cost of one span around an empty call, timed in a loop; times the
    span count it gives the modeled tracing overhead of a run."""
    wrapped = _Traced(Tracer("probe"), "probe", _noop)
    t0 = time.perf_counter()
    for _ in range(n):
        wrapped()
    return (time.perf_counter() - t0) / n


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self._t = tracer
        self._rec = {"name": name, "counts": {}}

    def __enter__(self) -> dict:
        t = self._t
        with t._id_lock:
            t._next_id += 1
            sid = t._next_id
        st = t._stack()
        self._rec.update(
            id=sid, run_id=t.run_id,
            parent=st[-1]["id"] if st else None,
            thread=threading.get_ident(),
            start=time.perf_counter(),
        )
        st.append(self._rec)
        return self._rec

    def __exit__(self, *exc) -> None:
        self._rec["end"] = time.perf_counter()
        self._rec["error"] = exc[0].__name__ if exc[0] else None
        self._t._stack().pop()
        self._t.spans.append(self._rec)
