"""Benchmark of the CDC migration engine, end to end and layer by layer.

    python3 perfbench/run.py --workload dag_topn --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Workloads (see BENCHMARK.json):

- ``dag_topn``: ``build_reference_dag(...).run()`` over generated V1
  tables holding part of the reference's canonical chain (accounts ->
  locations -> orders -> order_line_items), every pipeline at its
  BASELINE.md TOP N and sized to run ``TOPN_BATCHES`` micro-batches;
- ``etl_query_board``: 30 of the 50 pinned board queries on generated
  sf0.01 data through a noop sink, in a seed-permuted order.

Inputs are generated from ``--seed`` before any timing (dag_topn maps
the seed onto the ``PINNED_SEEDS`` data seeds whose sink digests
perfbench/pins.json holds; the board permutes its query order by the
seed itself). Each run starts the engine once (``get_spark``), warms
the workload up untimed (dag_topn: the chain at one batch per
pipeline; the board: one noop pass), then repeats the workload while a
further repetition is expected to end within ``--seconds`` (at least
once), checks every output outside the timed region (the board: its
last pass's results, after it) and prints one JSON line last. Batch and
query latencies are summarised by Harrell-Davis quantiles. ``setup_s`` is the time from process start to the
first timed call, less the time spent generating inputs: interpreter
and JVM start, ``get_spark`` and the warm-up.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` enables the
Spark UI and, in place of the timed repetitions, runs one repetition
with spans wrapped around the program's layer boundaries
(perfbench/trace.py); it prints the per-layer metrics and, on
``dag_topn``, runs the exactly-once replay check. The tracing overhead
is the median ``trace.wall_s`` of traced runs minus the median
``wall_s`` of untraced ones. ``--pin`` records this seed's DAG sink
digests in perfbench/pins.json; later runs mapped onto a pinned seed
must reproduce them.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import collections  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PINS = os.path.join(HERE, "pins.json")
#: the program and the repo files the benchmark imports
REQUIRED = ("data_migration_etl_scripts_spark/__init__.py", "tests/v1fixtures.py",
            "tools/gen_sf.py", "tools/selfcheck.py")
WORKLOADS = ("dag_topn", "etl_query_board")
#: dag_topn generates its data from seed 1 + (seed - 1) % PINNED_SEEDS,
#: so every seed is checked against pinned sink digests
PINNED_SEEDS = 10
#: micro-batches per chain pipeline on dag_topn
TOPN_BATCHES = 2


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _environment(scratch: str) -> None:
    """Tier-1 hygiene: as many Spark cores as the box has, and every
    temporary file inside the checkout."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


#: C1 only. In a one-minute process the C2 compiler works through the
#: whole timed region: it took about half of the JVM's CPU time at
#: local[4] on a 4-core machine, so the timings followed how far it had
#: got and how much CPU the host left for it. With C1 alone the JVM
#: settles during the warm-up and uses half the CPU, at about the same
#: wall time on both workloads.
JIT_OPTIONS = "-XX:TieredStopAtLevel=1"


def _session(scratch: str, trace: bool):
    from data_migration_etl_scripts_spark import get_spark

    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')} -XX:-UsePerfData "
            + JIT_OPTIONS,
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
    }
    if trace:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0",
                     "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    return get_spark(app_name="perfbench", extra_conf=conf)


def _stop(spark) -> None:
    """Stop Spark and wait until its JVM has exited: the JVM exits when
    the gateway's stdin pipe closes."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of the Spark JVM plus this interpreter."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def _cpu_s(spark) -> dict:
    """CPU seconds used so far by this interpreter and by the Spark JVM,
    the JVM's garbage-collection time, and the steal time of the whole
    machine (time its CPUs waited for the host): beside the wall times,
    they tell a slow program from a busy host."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    tick = os.sysconf("SC_CLK_TCK")
    ru = resource.getrusage(resource.RUSAGE_SELF)
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return {"python_cpu_s": ru.ru_utime + ru.ru_stime,
            "jvm_cpu_s": (int(fields[11]) + int(fields[12])) / tick,
            "jvm_gc_s": sum(b.getCollectionTime() for b in beans) / 1000,
            "steal_s": _steal_s() - STEAL_START}


def _steal_s() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


STEAL_START = _steal_s()


def quantile(samples: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: the mean of the
    sorted samples weighted by a Beta(p(n+1), (1-p)(n+1)) distribution.
    The board's 30 queries take 0.1-2 s each, so the plain sample median
    jumps between whichever two queries land in the middle; weighting
    the neighbours in steadies it (recomputed over the same runs, the
    run-to-run spread of the board's median fell by up to a third)."""
    s = sorted(samples)
    n = len(s)
    if n == 1 or p >= 1:
        return s[-1]
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    steps = 64  # midpoint rule over each ((i-1)/n, i/n]
    weights = [sum(math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x) - log_beta)
                   for x in ((i + (j + 0.5) / steps) / n for j in range(steps)))
               for i in range(n)]
    return sum(w * v for w, v in zip(weights, s)) / sum(weights)


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; under 21 samples, where that would not lie above
    the median, the highest with a quarter of the samples beyond it."""
    n = len(samples)
    rank = n - (10 if n > 20 else n // 4)
    return quantile(samples, rank / n), 100.0 * rank / n


def _repeat(seconds: float, rep) -> None:
    """Call ``rep()`` at least once, then again while one more call is
    expected (by the median so far) to end within ``seconds``."""
    spent: list[float] = []
    while True:
        t0 = time.perf_counter()
        rep()
        spent.append(time.perf_counter() - t0)
        if sum(spent) + statistics.median(spent) > seconds:
            return


class Tally:
    """Operations attempted and failed, with the reasons."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def add(self, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(why)
            print(f"FAIL {why}", file=sys.stderr)


# ----------------------------------------------------------------- DAG

def data_seed(seed: int) -> int:
    return 1 + (seed - 1) % PINNED_SEEDS


def _load_pins(workload: str, seed: int):
    if not os.path.exists(PINS):
        return None
    with open(PINS) as f:
        return json.load(f).get(workload, {}).get(str(seed))


def _save_pins(workload: str, seed: int, digests: dict) -> None:
    pins = {}
    if os.path.exists(PINS):
        with open(PINS) as f:
            pins = json.load(f)
    pins.setdefault(workload, {})[str(seed)] = {k: list(v) for k, v in sorted(digests.items())}
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


def run_dag(args, scratch: str) -> dict:
    from perfbench import dagbench, trace, v1gen

    t_gen = time.perf_counter()
    seed = data_seed(args.seed)
    src, warm_src = os.path.join(scratch, "v1"), os.path.join(scratch, "v1-warm")
    expected = dagbench.generate(seed, src, dagbench.topn_sizes(TOPN_BATCHES))
    dagbench.generate(seed, warm_src, dagbench.topn_sizes(1))
    rows_in = v1gen.source_rows(src)
    gen_s = time.perf_counter() - t_gen

    spark = _session(scratch, args.trace)
    tally = Tally()
    pins = None if args.pin else _load_pins(args.workload, seed)
    if pins is None and not args.pin:
        tally.add(False, f"no pinned sink digests for data seed {seed}")

    def one_run(src_dir: str, tracer=None, idempotent=False, catalog=None):
        """Copy ``src_dir`` into a fresh catalog (or resume ``catalog``)
        and run the DAG once; the wall time (and, when tracing, the
        ``run`` span) covers ``runner.run`` only."""
        cat = catalog or dagbench.prepare_catalog(spark, src_dir, os.path.join(scratch, "run"))
        runner = dagbench.build_runner(cat)
        clock = dagbench.BatchClock()
        clock.wrap_sources(runner)
        if tracer:
            trace.wrap_pipelines(tracer, runner)
        with clock.patched_advance(), \
                (tracer.span("run") if tracer else contextlib.nullcontext()):
            t0 = time.perf_counter()
            report = runner.run(batch_ts=dagbench.BATCH_TS, idempotent=idempotent)
            wall = time.perf_counter() - t0
        return cat, runner, report, clock, wall

    def account(report, what: str) -> None:
        for name in report.order:
            failed = [f for f in report.failures if f.name == name]
            tally.add(not failed and name not in report.skipped,
                      f"{what} pipeline {name}: "
                      + (str(failed[0].error)[:300] if failed else "skipped"))

    def verify(cat, runner, reference) -> dict:
        sinks = dagbench.sink_tables(runner)
        digests = dagbench.sink_digests(spark, cat, sinks)
        bad = dagbench.check_sinks(digests, sinks, expected, reference)
        for sink in sinks:
            why = [b for b in bad if b.startswith(sink + ":")]
            tally.add(not why, why[0] if why else "")
        return digests

    # untimed warm-up: the same chain, one batch per pipeline
    t_warm = time.perf_counter()
    cat, runner, report, _, _ = one_run(warm_src)
    account(report, "warm-up")
    warm_digests = dagbench.sink_digests(spark, cat, dagbench.sink_tables(runner)) \
        if args.trace else None

    if args.trace:
        # one repetition with every layer boundary wrapped, then the
        # exactly-once replay check
        counters = collections.Counter()
        tracer = trace.Tracer(spark, f"{args.workload}-{args.seed}")
        trace.install(tracer, counters)
        try:
            cat, runner, report, clock, _ = one_run(src, tracer=tracer)
        finally:
            tracer.restore()
        root = next(s for s in tracer.spans if s.name == "run")
        account(report, "traced")
        verify(cat, runner, pins)
        layers = _layer_metrics(tracer, counters, root, report, clock,
                                eager=("pipelines.transform",))
        layers["trace.replay_total_s"], layers["cdc.replay_s"] = _replay(
            spark, warm_src, tally, warm_digests, one_run)
        return {"layers": layers, "tally": tally, "spark": spark,
                "info": {"data_seed": seed, "source_rows": rows_in, "gen_s": gen_s}}

    walls, batches = [], []
    first: dict = {}

    def rep():
        cat, runner, report, clock, wall = one_run(src)
        walls.append(wall)
        batches.extend(clock.latencies)
        account(report, "timed")
        first.setdefault("digests", verify(cat, runner, pins or first.get("digests")))

    t_timed = time.perf_counter()
    _repeat(args.seconds, rep)
    if args.pin and not tally.failures:
        _save_pins(args.workload, seed, first["digests"])
    return {
        "wall": statistics.median(walls), "ops": batches, "rows_in": rows_in,
        "setup_s": t_timed - T_START - gen_s, "tally": tally, "spark": spark,
        "info": {"data_seed": seed, "reps": len(walls), "ops": len(batches),
                 "tail_percentile": tail(batches)[1],
                 "op_s": [round(b, 3) for b in batches], "source_rows": rows_in,
                 "gen_s": gen_s, "warmup_s": t_timed - t_warm},
    }


def _replay(spark, src, tally, clean, one_run):
    """Exactly-once check on the warm-up catalog (the dag_topn generator
    at one batch per pipeline, accounts -> locations -> orders ->
    order_line_items): with ``idempotent=True``, crash once
    between a sink write and its watermark advance, resume, and require
    the sink digests of the clean warm-up run. Returns (check seconds,
    resume seconds)."""
    from data_migration_etl_scripts_spark import cdc
    from perfbench import dagbench

    t0 = time.perf_counter()
    original = cdc.WatermarkStore.advance
    calls = {"n": 0}
    crash_at = 3  # orders' only batch, after its sink write

    class Crash(RuntimeError):
        pass

    def crashing_advance(store, table_name, new_max):
        calls["n"] += 1
        if calls["n"] == crash_at:
            raise Crash(f"injected crash before advancing {table_name}")
        return original(store, table_name, new_max)

    cdc.WatermarkStore.advance = crashing_advance
    try:
        cat, _, crashed, _, _ = one_run(src, idempotent=True)
    finally:
        cdc.WatermarkStore.advance = original
    tally.add(any(isinstance(f.error, Crash) for f in crashed.failures),
              "replay: injected crash did not fire")
    t_resume = time.perf_counter()
    cat, runner, report, _, _ = one_run(src, idempotent=True, catalog=cat)
    replay_s = time.perf_counter() - t_resume
    tally.add(report.ok, f"replay: resume not clean: {report.failures} {report.skipped}")
    sinks = dagbench.sink_tables(runner)
    bad = dagbench.check_sinks(dagbench.sink_digests(spark, cat, sinks), sinks, {}, clean)
    tally.add(not bad, f"replay: sinks differ from a clean run: {bad[:3]}")
    return time.perf_counter() - t0, replay_s


# --------------------------------------------------------------- board

def run_board(args, scratch: str) -> dict:
    from data_migration_etl_scripts_spark import queries as q
    from data_migration_etl_scripts_spark import stage_cache
    from perfbench import board, trace

    spark = _session(scratch, args.trace)
    cache = os.path.join(ROOT, ".perfbench", "cache")
    t_gen = time.perf_counter()
    sf_dir = board.ensure_data(spark, cache)
    oracles = board.oracle_digests(sf_dir)
    rows_in = board.source_rows(sf_dir)
    gen_s = time.perf_counter() - t_gen
    fns = q.all_queries()
    names = board.order(args.seed)
    tally = Tally()

    def one_pass(run_query, tracer=None) -> tuple[float, list[float]]:
        """All queries once from cold caches: (pass wall time, each
        query's latency). The wall time (and, when tracing, the ``run``
        span) covers the queries only."""
        stage_cache.clear()
        spark.catalog.clearCache()
        latencies = []
        with tracer.span("run") if tracer else contextlib.nullcontext():
            t_pass = time.perf_counter()
            for name in names:
                t0 = time.perf_counter()
                try:
                    run_query(name)
                    ok, why = True, ""
                except Exception as exc:  # a query that errors is a failed operation
                    ok, why = False, f"query {name}: {type(exc).__name__}: {str(exc)[:300]}"
                latencies.append(time.perf_counter() - t0)
                tally.add(ok, why)
            return time.perf_counter() - t_pass, latencies

    built = {}

    def noop_query(name):
        built[name] = fns[name](spark, sf_dir)
        board.noop(built[name])

    def check_pass():
        """Every query's result of the last pass against its oracle.
        It runs after the timed (or traced) pass: a check collects
        through other plan tops than the noop sink, so a check pass
        first would leave the timed pass colder."""
        for name in names:
            try:
                why = board.check(built[name], oracles[name])
            except Exception as exc:
                why = f"error {type(exc).__name__}: {str(exc)[:300]}"
            tally.add(why is None, f"check {name}: {why}")

    # untimed warm-up: one noop pass. After a check pass alone the first
    # noop pass still ran about a quarter slower than the passes after it.
    t_warm = time.perf_counter()
    one_pass(noop_query)

    if args.trace:
        counters, phases = collections.Counter(), collections.Counter()
        tracer = trace.Tracer(spark, f"{args.workload}-{args.seed}")

        def traced_query(name):
            with tracer.span("queries.query"):
                with tracer.span("queries.build"):
                    built[name] = fns[name](spark, sf_dir)
                with tracer.span("queries.action"):
                    board.noop(built[name])

        trace.install(tracer, counters)
        try:
            one_pass(traced_query, tracer)
        finally:
            tracer.restore()
        check_pass()
        root = next(s for s in tracer.spans if s.name == "run")
        for df in built.values():
            for phase, ms in trace.catalyst_phases(df).items():
                phases[phase] += ms
        layers = _layer_metrics(tracer, counters, root, None, None, eager=("queries.build",))
        layers.update({f"spark.{k}_ms": v for k, v in phases.items()})
        return {"layers": layers, "tally": tally, "spark": spark,
                "info": {"source_rows": rows_in, "gen_s": gen_s}}

    walls, latencies = [], []

    def rep():
        wall, lat = one_pass(noop_query)
        walls.append(wall)
        latencies.extend(lat)

    t_timed = time.perf_counter()
    _repeat(args.seconds, rep)
    t_check = time.perf_counter()
    check_pass()
    return {
        "wall": statistics.median(walls), "ops": latencies, "rows_in": rows_in,
        "setup_s": t_timed - T_START - gen_s, "tally": tally, "spark": spark,
        "info": {"reps": len(walls), "ops": len(latencies),
                 "tail_percentile": tail(latencies)[1],
                 "op_s": [round(x, 3) for x in latencies], "source_rows": rows_in,
                 "gen_s": gen_s, "warmup_s": t_timed - t_warm,
                 "check_s": time.perf_counter() - t_check},
    }


# ------------------------------------------------------------- metrics

PER_LAYER = (
    "cdc.batches", "cdc.iterations", "cdc.batch_yield", "cdc.self_s", "cdc.wm_get_s",
    "cdc.wm_get_calls", "cdc.wm_advance_s", "cdc.wm_advance_calls",
    "cdc.jobs_per_batch", "cdc.replay_s",
    "pipelines.transform_s", "pipelines.transform_calls", "pipelines.source_s",
    "gates.calls", "gates.s", "gates.trips",
    "catalog.read_s", "catalog.read_calls", "catalog.write_s", "catalog.write_calls",
    "catalog.write_mb", "catalog.files_written",
    "plans.pipelines", "plans.failed", "plans.skipped",
    "queries.build_s", "queries.action_s", "stage_cache.calls", "stage_cache.hit_ratio",
    "spark.jobs", "spark.eager_jobs", "spark.stages", "spark.tasks",
    "spark.analysis_ms", "spark.optimization_ms", "spark.planning_ms",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb", "spark.input_mb",
    "trace.wall_s", "trace.unattributed_s", "trace.spans",
    "trace.replay_total_s", "process.peak_rss_mb",
)
UNITS = {"_s": "s", ".s": "s", "_ms": "ms", "_mb": "MB", "_ratio": "ratio",
         "_yield": "ratio"}


def _layer_metrics(tracer, counters, root, report, clock, eager):
    from perfbench import trace

    kids = tracer.children()
    by_name = collections.defaultdict(list)
    for s in tracer.spans:
        by_name[s.name].append(s)

    def total(name):
        return sum(s.seconds for s in by_name[name])

    def count(name):
        return len(by_name[name])

    out = dict.fromkeys(PER_LAYER, 0.0)
    jobs = tracer.jobs_by_span()
    if clock is not None:
        n_batches = len(clock.latencies)
        cdc_jobs = sum(len(j) for sid, j in jobs.items()
                       if tracer.under(tracer.spans[sid], ("cdc.run_incremental",)))
        out.update({
            "cdc.batches": n_batches,
            "cdc.iterations": clock.iterations,
            "cdc.batch_yield": n_batches / max(clock.iterations, 1),
            "cdc.self_s": sum(tracer.self_seconds(s, kids)
                              for s in by_name["cdc.run_incremental"]),
            "cdc.jobs_per_batch": cdc_jobs / max(n_batches, 1),
            "plans.pipelines": len(report.order),
            "plans.failed": len(report.failures),
            "plans.skipped": len(report.skipped),
        })
    out.update({
        "cdc.wm_get_s": total("cdc.wm_get"), "cdc.wm_get_calls": count("cdc.wm_get"),
        "cdc.wm_advance_s": total("cdc.wm_advance"),
        "cdc.wm_advance_calls": count("cdc.wm_advance"),
        "pipelines.transform_s": total("pipelines.transform"),
        "pipelines.transform_calls": count("pipelines.transform"),
        "pipelines.source_s": total("pipelines.source"),
        "gates.calls": count("gates.require_no_nulls"),
        "gates.s": total("gates.require_no_nulls"),
        "gates.trips": counters["gates.trips"],
        "catalog.read_s": total("catalog.read"),
        "catalog.read_calls": count("catalog.read"),
        "catalog.write_s": total("catalog.write"),
        "catalog.write_calls": count("catalog.write"),
        "catalog.write_mb": counters["catalog.write_bytes"] / (1024 * 1024),
        "catalog.files_written": counters["catalog.files_written"],
        "queries.build_s": total("queries.build"),
        "queries.action_s": total("queries.action"),
        "stage_cache.calls": counters["stage_cache.calls"],
        "stage_cache.hit_ratio": counters["stage_cache.hits"] / max(counters["stage_cache.calls"], 1),
        "trace.wall_s": root.seconds,
        "trace.unattributed_s": tracer.self_seconds(root, kids),
        "trace.spans": len(tracer.spans),
    })
    out.update(trace.spark_metrics(tracer, eager))
    return out


def _unit(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer(layers: dict) -> dict:
    return {k: {"value": float(layers[k]), "unit": _unit(k)} for k in PER_LAYER}


def end_to_end(result: dict) -> dict:
    """The user-facing metrics of one run. An operation is a CDC
    micro-batch on dag_topn and one query on the board."""
    tally, wall, ops = result["tally"], result["wall"], result["ops"]
    return {
        "setup_s": {"value": result["setup_s"], "unit": "s"},
        "wall_s": {"value": wall, "unit": "s"},
        "rows_per_s": {"value": result["rows_in"] / wall, "unit": "1/s"},
        "op_p50_s": {"value": quantile(ops, 0.5), "unit": "s"},
        "op_tail_s": {"value": tail(ops)[0], "unit": "s"},
        "ok_share": {"value": 1 - len(tally.failures) / tally.attempted, "unit": "share"},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the program is not here (missing {missing}); "
              "run from the root of a full checkout", file=sys.stderr)
        return 2

    scratch = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    _environment(scratch)
    spark = None
    try:
        result = (run_dag if args.workload.startswith("dag") else run_board)(args, scratch)
        spark = result["spark"]
        tally: Tally = result["tally"]
        if args.trace:
            metrics = per_layer(dict(result["layers"],
                                     **{"process.peak_rss_mb": _peak_rss_mb(spark)}))
        else:
            metrics = end_to_end(result)
        info = dict(result["info"], workload=args.workload, seed=args.seed,
                    trace=args.trace, nproc=_nproc(), loadavg=os.getloadavg(),
                    pyspark=__import__("pyspark").__version__,
                    python=platform.python_version(), failures=tally.failures[:5],
                    elapsed_s=time.perf_counter() - T_START, **_cpu_s(spark))
        print(json.dumps(info), file=sys.stderr)
        print(json.dumps({"correct": not tally.failures, "attempted": tally.attempted,
                          "failed": len(tally.failures), "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
