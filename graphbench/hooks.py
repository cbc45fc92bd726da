"""Per-layer counters recorded by rebinding names for the traced run only.

The package is not edited: :class:`Hooks` replaces, while it is installed,

- ``resolve_max_local_edges`` in each operator module that imported it
  (guards resolved, ``plans.tiering``);
- ``DataFrame.toPandas`` and ``SparkSession.createDataFrame`` on the
  classic Spark classes (the local tier's Arrow collect and its rebuild);
- ``truncate_lineage`` and ``fingerprint`` in each operator module that
  imported them (``plans.iteration`` checkpoints and rounds).

Counters accumulate only between :meth:`Hooks.begin` and :meth:`Hooks.end`,
i.e. inside one operator call, so the benchmark's own digest and checks are
never counted.  Time spent in the wrappers themselves is kept as
``tracer.self_s``.
"""

from __future__ import annotations

import time

from polars_grouper_spark.operators import (
    association_rules,
    connected_components,
    pagerank,
    shortest_path,
)

_INHERITED = object()  # marks a class attribute found on a base class
_MODULES = (connected_components, pagerank, shortest_path, association_rules)

COUNTERS = (
    "plans.tiering.guards",
    "plans.tiering.local",
    "plans.tiering.collect_s",
    "plans.tiering.collect_rows",
    "plans.tiering.rebuild_s",
    "plans.iteration.checkpoints",
    "plans.iteration.checkpoint_s",
    "plans.iteration.rounds",
    "plans.iteration.useful_rounds",
    "plans.iteration.fingerprint_s",
    "tracer.self_s",
)


class Hooks:
    def __init__(self, spark):
        self._df_cls = type(spark.range(0))
        self._spark_cls = type(spark)
        self._saved: list[tuple[object, str, object]] = []
        self._active = False
        self._prev_fp = None
        self.counts = dict.fromkeys(COUNTERS, 0.0)

    def install(self) -> None:
        for mod in _MODULES:
            for name, wrap in (
                ("resolve_max_local_edges", self._guard),
                ("truncate_lineage", self._checkpoint),
                ("fingerprint", self._fingerprint),
            ):
                if hasattr(mod, name):
                    self._rebind(mod, name, wrap(getattr(mod, name)))
        self._rebind(self._df_cls, "toPandas", self._collect(self._df_cls.toPandas))
        self._rebind(
            self._spark_cls, "createDataFrame",
            self._rebuild(self._spark_cls.createDataFrame),
        )

    def uninstall(self) -> None:
        while self._saved:
            owner, name, orig = self._saved.pop()
            if orig is _INHERITED:
                delattr(owner, name)
            else:
                setattr(owner, name, orig)

    def begin(self) -> None:
        self.counts = dict.fromkeys(COUNTERS, 0.0)
        self._prev_fp = None
        self._active = True

    def end(self) -> dict:
        self._active = False
        return dict(self.counts)

    def _rebind(self, owner, name, new) -> None:
        self._saved.append((owner, name, owner.__dict__.get(name, _INHERITED)))
        setattr(owner, name, new)

    def _timed(self, fn, args, kwargs, time_key, after=None):
        """Run ``fn``; charge its time to ``time_key`` and the wrapper's own
        bookkeeping to ``tracer.self_s``."""
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        t1 = time.perf_counter()
        if self._active:
            self.counts[time_key] += t1 - t0
            if after is not None:
                after(out)
            self.counts["tracer.self_s"] += time.perf_counter() - t1
        return out

    def _guard(self, fn):
        def wrapper(*args, **kwargs):
            out = fn(*args, **kwargs)
            if self._active:
                self.counts["plans.tiering.guards"] += 1
            return out
        return wrapper

    def _collect(self, fn):
        def after(pdf):
            self.counts["plans.tiering.local"] += 1
            self.counts["plans.tiering.collect_rows"] += len(pdf)

        def wrapper(*args, **kwargs):
            return self._timed(fn, args, kwargs, "plans.tiering.collect_s", after)
        return wrapper

    def _rebuild(self, fn):
        def wrapper(*args, **kwargs):
            return self._timed(fn, args, kwargs, "plans.tiering.rebuild_s")
        return wrapper

    def _checkpoint(self, fn):
        def after(_):
            self.counts["plans.iteration.checkpoints"] += 1

        def wrapper(*args, **kwargs):
            return self._timed(fn, args, kwargs, "plans.iteration.checkpoint_s", after)
        return wrapper

    def _fingerprint(self, fn):
        def after(fp):
            self.counts["plans.iteration.rounds"] += 1
            if fp != self._prev_fp:
                self.counts["plans.iteration.useful_rounds"] += 1
            self._prev_fp = fp

        def wrapper(*args, **kwargs):
            return self._timed(fn, args, kwargs, "plans.iteration.fingerprint_s", after)
        return wrapper
