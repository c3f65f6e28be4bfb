"""Span tracing for the benchmark's traced run.

``install()`` wraps the engine's public functions from outside: it must run
before ``__spark_entry__`` (or anything under ``cocktailsdb_spark.plans``)
is imported, because about ten modules bind ``from ..tables import load``
at import time and a wrapper added afterwards would see none of their
calls. The wrappers call straight through while tracing is off, so one
process can time untraced and traced passes back to back.

Each span records name, start, end, parent and op id in memory, plus the
DAGScheduler job-id range it covered; ``dump`` writes them out at exit.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

# span name for each wrapped callable: (module, attribute path, span name)
_TARGETS = (
    ("cocktailsdb_spark.tables", "load", "tables.load"),
    ("cocktailsdb_spark.runlog", "RunLog.flush", "runlog.flush"),
    ("cocktailsdb_spark.sources.watermark", "WatermarkStore.read", "sources.watermark_read"),
    ("cocktailsdb_spark.sources.watermark", "WatermarkStore.write", "sources.watermark_write"),
    ("cocktailsdb_spark.sources.http_source", "bounded_keys", "sources.bounded_keys"),
    ("cocktailsdb_spark.sources.http_source", "fetch_df", "sources.fetch"),
)


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self._next_job = lambda: 0

    def bind(self, spark) -> None:
        """Read job ids from this session's DAGScheduler from now on."""
        dag = spark.sparkContext._jsc.sc().dagScheduler()
        self._next_job = lambda: int(dag.nextJobId())

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        rec = {
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "job0": self._next_job(),
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["job1"] = self._next_job()
            self._stack.pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


TRACER = Tracer()


def install() -> None:
    """Wrap the engine entry points listed in ``_TARGETS`` and
    ``RunLog.stage``. Refuses to run once the plans are imported."""
    import importlib
    import sys

    if "__spark_entry__" in sys.modules or "cocktailsdb_spark.plans.bar_pipeline" in sys.modules:
        raise RuntimeError("tracer.install() must run before __spark_entry__ is imported")
    for mod_name, attr, span_name in _TARGETS:
        mod = importlib.import_module(mod_name)
        owner = mod
        *path, leaf = attr.split(".")
        for p in path:
            owner = getattr(owner, p)
        setattr(owner, leaf, TRACER.wrap(getattr(owner, leaf), span_name))

    from cocktailsdb_spark.runlog import RunLog

    stage = RunLog.stage

    @contextmanager
    def traced_stage(self, name, detail=""):
        with TRACER.span(f"bar_pipeline.{name}"), stage(self, name, detail):
            yield

    RunLog.stage = traced_stage


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part covered by its child spans."""
    own = [s["end"] - s["start"] for s in spans]
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


def self_jobs(spans: list[dict]) -> list[int]:
    """Jobs started inside each span and outside its child spans."""
    own = [s["job1"] - s["job0"] for s in spans]
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= s["job1"] - s["job0"]
    return own
