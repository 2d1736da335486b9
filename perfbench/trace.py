"""In-memory spans around the program's layer boundaries, recorded from
the benchmark's side by wrapping public functions for one traced
repetition; the program itself carries no tracing.

Every span sets a Spark job group, so the jobs (and through them the
stages and executor metrics of the Spark REST API) are attributed to
the innermost span that fired them.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import os
import sys
import time
import urllib.request

PACKAGE = "data_migration_etl_scripts_spark"
_GROUP = "spark.jobGroup.id"


@dataclasses.dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    def group(self, span_id: int | None) -> str | None:
        return None if span_id is None else f"{self.run}:{span_id}"

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, self.run, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        self.sc.setLocalProperty(_GROUP, self.group(s.id))
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, self.group(parent))

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    # -- patching -------------------------------------------------------
    def patch(self, owner, attr: str, replacement) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def patch_everywhere(self, original, replacement) -> None:
        """Replace ``original`` in every loaded program module that bound
        it by name (``from ... import f`` copies the reference)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self.patch(mod, attr, replacement)

    def restore(self) -> None:
        for owner, attr, value in reversed(self._patches):
            setattr(owner, attr, value)
        self._patches.clear()

    # -- analysis -------------------------------------------------------
    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def self_seconds(self, span: Span, kids: dict[int, list[Span]]) -> float:
        return span.seconds - sum(c.seconds for c in kids.get(span.id, ()))

    def under(self, span: Span, names: tuple[str, ...]) -> bool:
        """True if ``span`` or one of its ancestors is named in ``names``."""
        cur: Span | None = span
        while cur is not None:
            if cur.name in names:
                return True
            cur = self.spans[cur.parent] if cur.parent is not None else None
        return False

    def jobs_by_span(self) -> dict[int, list[int]]:
        tracker = self.sc.statusTracker()
        return {s.id: list(tracker.getJobIdsForGroup(self.group(s.id)))
                for s in self.spans}


def install(tracer: Tracer, counters: dict) -> None:
    """Wrap the program's layer boundaries for one traced repetition."""
    from data_migration_etl_scripts_spark import catalog, cdc, gates, stage_cache
    from data_migration_etl_scripts_spark.plans import runner

    tr = tracer

    def write(cat, df, name, *args, **kwargs):
        out = os.path.join(cat.scratch_dir, name)
        before = _files(out)
        with tr.span("catalog.write"):
            result = cat_write(cat, df, name, *args, **kwargs)
        new = _files(out) - before
        counters["catalog.files_written"] += sum(f.endswith(".parquet") for f in new)
        counters["catalog.write_bytes"] += sum(os.path.getsize(f) for f in new)
        return result

    cat_write = catalog.Catalog.write
    tr.patch(catalog.Catalog, "read", tr.wrap("catalog.read", catalog.Catalog.read))
    tr.patch(catalog.Catalog, "write", write)
    tr.patch(cdc.WatermarkStore, "get", tr.wrap("cdc.wm_get", cdc.WatermarkStore.get))
    tr.patch(cdc.WatermarkStore, "advance",
             tr.wrap("cdc.wm_advance", cdc.WatermarkStore.advance))
    tr.patch(runner, "run_incremental", tr.wrap("cdc.run_incremental", runner.run_incremental))

    require = gates.require_no_nulls

    def require_no_nulls(*args, **kwargs):
        try:
            with tr.span("gates.require_no_nulls"):
                return require(*args, **kwargs)
        except gates.IncrementalDependencyError:
            counters["gates.trips"] += 1
            raise

    tr.patch_everywhere(require, require_no_nulls)

    memo, memo_stage, cached_expr = (stage_cache.memo, stage_cache.memo_stage,
                                     stage_cache.cached_expr)

    def traced_memo(spark, key, build):
        counters["stage_cache.calls"] += 1
        if (spark.sparkContext.applicationId,) + tuple(key) in stage_cache._VALUES:
            counters["stage_cache.hits"] += 1
        with tr.span("stage_cache.memo"):
            return memo(spark, key, build)

    def traced_expr(spark, sql):
        counters["stage_cache.calls"] += 1
        if (spark.sparkContext.applicationId, sql) in stage_cache._EXPRS:
            counters["stage_cache.hits"] += 1
        with tr.span("stage_cache.cached_expr"):
            return cached_expr(spark, sql)

    tr.patch_everywhere(memo, traced_memo)
    tr.patch_everywhere(memo_stage, tr.wrap("stage_cache.memo_stage", memo_stage))
    tr.patch_everywhere(cached_expr, traced_expr)


def wrap_pipelines(tracer: Tracer, runner) -> None:
    for name, p in runner._pipelines.items():
        runner._pipelines[name] = dataclasses.replace(
            p, source=tracer.wrap("pipelines.source", p.source),
            transform=tracer.wrap("pipelines.transform", p.transform))


def _files(path: str) -> set[str]:
    return {os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs}


# -- Spark REST API (UI enabled only in the traced run) ----------------

def _rest(sc, path: str):
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    url = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read().decode())


def stage_metrics(sc, stage_ids: set[int], wait_s: float = 15.0) -> dict[int, dict]:
    """Metrics of the completed stages among ``stage_ids``, polled until
    every wanted stage has reached the UI store as complete or skipped
    (the listener bus is asynchronous)."""
    deadline = time.monotonic() + wait_s
    while True:
        stages = {s["stageId"]: s for s in _rest(sc, "stages")}
        settled = all(stages.get(i, {}).get("status") in ("COMPLETE", "SKIPPED")
                      for i in stage_ids)
        if settled or time.monotonic() > deadline:
            return {i: stages[i] for i in stage_ids
                    if stages.get(i, {}).get("status") == "COMPLETE"}
        time.sleep(0.25)


def spark_metrics(tracer: Tracer, eager_under: tuple[str, ...]) -> dict[str, float]:
    jobs = tracer.jobs_by_span()
    tracker = tracer.sc.statusTracker()
    stage_ids: set[int] = set()
    eager = 0
    for sid, job_ids in jobs.items():
        if tracer.under(tracer.spans[sid], eager_under):
            eager += len(job_ids)
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
    stages = stage_metrics(tracer.sc, stage_ids) if stage_ids else {}

    def total(key: str) -> float:
        return float(sum(s.get(key, 0) for s in stages.values()))

    mb = 1024 * 1024
    return {
        "spark.jobs": sum(len(v) for v in jobs.values()),
        "spark.eager_jobs": eager,
        "spark.stages": len(stages),
        "spark.tasks": total("numCompleteTasks"),
        "spark.executor_run_s": total("executorRunTime") / 1000,
        "spark.executor_cpu_s": total("executorCpuTime") / 1e9,
        "spark.gc_s": total("jvmGcTime") / 1000,
        "spark.shuffle_read_mb": total("shuffleReadBytes") / mb,
        "spark.shuffle_write_mb": total("shuffleWriteBytes") / mb,
        "spark.spill_mb": (total("memoryBytesSpilled") + total("diskBytesSpilled")) / mb,
        "spark.input_mb": total("inputBytes") / mb,
    }


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning ms of ``df``'s own plan. After a
    noop write the DataFrame's QueryExecution has only been analyzed
    (the write planned a separate one), so force optimization and
    planning on it first; the phases are then the real ones."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        out[phase] = float(summary.get().durationMs()) if summary.isDefined() else 0.0
    return out
