"""Spans around the calls into each engine layer, for the traced run.

A span records its name, start, end and parent. While a span is open the
benchmark sets a Spark job group of its own, so each Spark job is charged
to the innermost span that submitted it; after each pass the stages of
those jobs are read from Spark's in-process status store (it is kept with
the UI disabled). Spans stay in memory and are written out at the end.

The layers are wrapped from here, by replacing the engine's public
functions with timing wrappers for the life of the traced process; the
engine itself carries no tracing code.
"""

from __future__ import annotations

import functools
import os
import time
from contextlib import contextmanager, nullcontext

#: engine functions wrapped in traced runs: (module, attribute, span name)
WRAPPED = (
    ("bonobo_sqlalchemy_spark.operators.graphalgo", "pagerank_integer", "operators.graphalgo"),
    ("bonobo_sqlalchemy_spark.operators.graphalgo", "pagerank_personalized_integer", "operators.graphalgo"),
    ("bonobo_sqlalchemy_spark.operators.graphalgo", "label_propagation", "operators.graphalgo"),
    ("bonobo_sqlalchemy_spark.operators.graphalgo", "kcore_peel", "operators.graphalgo"),
    ("bonobo_sqlalchemy_spark.operators.graphalgo", "triangle_counts", "operators.graphalgo"),
    ("bonobo_sqlalchemy_spark.plans.graph", "run", "plans.graph.run"),
)

STAGE_FIELDS = (
    "numCompleteTasks",
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "inputBytes",
    "inputRecords",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


class NullTracer:
    """Tracing off: every hook is a no-op."""

    enabled = False

    def span(self, name: str):
        return nullcontext()


class Tracer:
    enabled = True

    def __init__(self, spark, codegen_log: str) -> None:
        self.spark = spark
        self.codegen_log = codegen_log
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "group": f"perfbench-{sid}",
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._open.append(sid)
        sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            outer = self.spans[self._open[-1]] if self._open else None
            sc.setJobGroup(outer["group"] if outer else "perfbench-idle", "")

    # -- engine layers --------------------------------------------------
    def wrap_layers(self) -> None:
        import importlib

        from bonobo_sqlalchemy_spark import cache
        from bonobo_sqlalchemy_spark.operators.upsert import InsertOrUpdate

        for module, attr, name in WRAPPED:
            fn = getattr(importlib.import_module(module), attr)
            _rebind(fn, self._timed(fn, name))
        InsertOrUpdate._write_dbapi = self._timed(
            InsertOrUpdate._write_dbapi, "operators.upsert.dbapi_write"
        )
        InsertOrUpdate._write_path = self._timed(
            InsertOrUpdate._write_path, "operators.upsert.path_write"
        )
        ensure = cache.ensure_artifact

        @functools.wraps(ensure)
        def ensure_artifact(path, build):
            hit = os.path.exists(os.path.join(path, cache.PUBLISHED))
            with self.span("cache.hit" if hit else "cache.build"):
                return ensure(path, build)

        _rebind(ensure, ensure_artifact)

    def _timed(self, fn, name: str):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return inner

    # -- attribution ------------------------------------------------------
    def stage_floor(self) -> int:
        """Id of the newest stage in the status store so far."""
        it = _stage_list(self.spark).iterator()
        top = -1
        while it.hasNext():
            top = max(top, it.next().stageId())
        return top

    def attribute(self, spans: list[dict], floor: int) -> None:
        """Fill ``jobs`` and the stage totals of each span in ``spans``
        from the status store, for stages newer than ``floor``."""
        st = self.spark.sparkContext.statusTracker()
        owner: dict[int, int] = {}
        for rec in spans:
            rec["jobs"] = 0
            rec.update({f: 0 for f in STAGE_FIELDS}, stages=0)
            for jid in sorted(st.getJobIdsForGroup(rec["group"])):
                info = st.getJobInfo(jid)
                rec["jobs"] += 1
                for sid in info.stageIds if info else ():
                    owner.setdefault(sid, rec["id"])
        by_id = {rec["id"]: rec for rec in spans}
        it = _stage_list(self.spark).iterator()
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= floor or sid not in owner:
                continue
            rec = by_id[owner[sid]]
            values = {f: getattr(s, f)() for f in STAGE_FIELDS}
            if values["numCompleteTasks"]:
                rec["stages"] += 1
            for f, v in values.items():
                rec[f] += v


def _rebind(original, replacement) -> None:
    """Point every engine module's name for ``original`` at ``replacement``
    (query modules often import a function by name at module level)."""
    import sys

    for modname, mod in list(sys.modules.items()):
        if modname.startswith("bonobo_sqlalchemy_spark") and mod is not None:
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, replacement)


def _stage_list(spark):
    """All stages in the status store (py4j needs the Scala default
    arguments passed explicitly; probe how many there are)."""
    core = spark.sparkContext._jsc.sc().statusStore()
    args = []
    for i in range(2, 12):
        try:
            args.append(getattr(core, f"stageList$default${i}")())
        except Exception:
            break
    return core.stageList(spark._jvm.java.util.ArrayList(), *args)


def codegen(log_path: str) -> tuple[int, float]:
    """Codegen compiles so far and their summed seconds, from the lines
    ``CodeGenerator`` logs per compile ("Code generated in N ms"; see
    log4j2-trace.properties). Spark's ``CodegenMetrics`` histogram keeps
    a decaying sample, so its mean is not the mean of every compile."""
    n, ms = 0, 0.0
    if not os.path.exists(log_path):
        return n, ms
    with open(log_path) as f:
        for line in f:
            if line.startswith("Code generated in ") and line.rstrip().endswith(" ms"):
                n += 1
                ms += float(line.split()[3])
    return n, ms / 1000.0


def subtree_totals(spans: list[dict]) -> dict[int, dict]:
    """Per span: its own numbers plus those of every span nested in it."""
    keys = ("jobs", "stages", *STAGE_FIELDS)
    totals = {rec["id"]: {k: rec.get(k, 0) for k in keys} for rec in spans}
    for rec in sorted(spans, key=lambda r: -r["id"]):
        if rec["parent"] is not None and rec["parent"] in totals:
            for k in keys:
                totals[rec["parent"]][k] += totals[rec["id"]][k]
    return totals


def tracer_for(spark, enabled: bool, codegen_log: str):
    if not enabled:
        return NullTracer()
    t = Tracer(spark, codegen_log)
    t.wrap_layers()
    return t
