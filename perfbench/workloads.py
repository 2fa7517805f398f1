"""The benchmark's workloads: ``tick_analytics`` and ``tick_stream``.

Both drive the package only through its public entry points and return
``(result, context)``. ``result`` carries the end-to-end metric
(untraced run) or the per-layer metrics (traced run). ``context``
carries what a reader needs to interpret them: sample counts, tail
percentile, offered rate, check details, and the workload metrics
under ``e2e``. Both workloads report the same ``e2e`` names; the
README maps each to what it measures on each workload.
"""

from __future__ import annotations

import os
import resource
import shutil
import subprocess
import sys
import time

import gen
from sparkstats import SparkStats, catalyst_phases, peak_rss_mb
from spans import Tracer, coverage, covers, median, self_time, tail

PKG = "datafusion_functions_financial_spark"

TICK_ANALYTICS_QUERIES = [
    "ind_sma_native_events", "ind_ema_events", "ind_rsi_events",
    "ind_macd_events", "ind_combined_events", "signals_rsi_events",
    "signals_ma_crossover_events", "signals_ma_crossover_lineitem_2050",
    "validate_lineitem_values", "validate_events_gaps_keyed",
    "asof_events_snapshots", "micro_vwap_events", "ind_stochastic_events",
    "ind_adx_events", "q_holt_forecast_events", "ind_kama_events",
    "q_kalman_level_events", "rollup_incremental_events",
    "risk_var_cvar_events", "micro_vpin_events",
]

REFWIN_ROWS = 100_000
# Each timed pass ends with this many refwin runs (their median is
# rows_per_s). A run times one pass, more if --seconds allow: a pass
# takes 12-25 s on 4 vCPUs, and 22 runs per workload share an hour.
REFWIN_RUNS = 3
REFWIN_SQL = (
    "SELECT rownum, price, "
    "sma(price, 20) OVER (ORDER BY rownum) AS sma20, "
    "ema(price, 12) OVER (ORDER BY rownum) AS ema12, "
    "rsi(price, 14) OVER (ORDER BY rownum) AS rsi14, "
    "macd(price) OVER (ORDER BY rownum) AS macd "
    "FROM refwin_prices"
)

WINDOW = 14              # streaming indicator window (RSI period)
TICKS_PER_PASS = 50_000  # phase A
PHASE_A_SHARE = 0.5      # phase A runs for this share of --seconds
# Phase B: about half the ~16000 rows/s at which the backlog grows under
# a 5 s trigger on 4 vCPUs (a batch costs ~2.5 s at any rate up to
# ~12500 rows/s; a 3 s trigger left no headroom on a slow host). The rate
# must divide 1e6 (tick_columns' microsecond step).
OFFERED_RATE = 8000
TRIGGER_S = 5
WARMUP_BATCHES = 2
# Phase B's Arrow chunk limit, above the ~1.4M rows the rate source can
# offer in a 180 s run, so each symbol's rows of a micro-batch reach
# ``streaming_indicators`` as one chunk. At Spark's default (10000) a
# hot symbol's rows span chunks, and ``streaming_indicators`` sorts
# each chunk on its own: its rows are applied out of timestamp order
# and its signals differ from the row engine (a package defect; see
# the README).
ARROW_CHUNK_ROWS = 2_000_000

# The layer metrics every traced run reports, in output order. A layer
# a workload does not exercise reads 0 there.
PER_LAYER = (
    ("sources.load_s", "s"), ("sources.load_jobs", "count"),
    ("plans.build_s", "s"), ("plans.build_jobs", "count"),
    ("plans.build_stages", "count"), ("plans.build_task_s", "s"),
    ("plans.build_share", "ratio"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimizer_s", "s"),
    ("catalyst.planning_s", "s"),
    ("exec.wall_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_s", "s"),
    ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.busy_ratio", "ratio"), ("exec.shuffle_read_mb", "MB"),
    ("exec.shuffle_write_mb", "MB"), ("exec.spill_mb", "MB"),
    ("exec.failed_tasks", "count"),
    ("operators.rows_out", "count"),
    ("operators.shuffle_records_per_row_out", "ratio"),
    ("functions.python_run_s", "s"), ("functions.python_start_s", "s"),
    ("functions.arrow_mb", "MB"), ("functions.kernel_rows_per_s", "1/s"),
    ("functions.sql_rewrite_s", "s"),
    ("streaming.ticks_per_s", "1/s"), ("streaming.tick_p50_us", "us"),
    ("streaming.tick_tail_us", "us"),
    ("streaming.update_us", "us"), ("streaming.detect_us", "us"),
    ("streaming.dispatch_us", "us"), ("streaming.signals", "count"),
    ("streaming.spark.batches", "count"),
    ("streaming.spark.batch_rows", "count"),
    ("streaming.spark.add_batch_s", "s"), ("streaming.spark.trigger_s", "s"),
    ("streaming.spark.plan_s", "s"), ("streaming.spark.commit_s", "s"),
    ("streaming.spark.state_rows", "count"),
    ("streaming.spark.state_mb", "MB"),
    ("streaming.spark.backlog_rows", "count"),
    ("e2e.pass_s", "s"), ("e2e.op_p50_s", "s"), ("e2e.op_tail_s", "s"),
    ("e2e.rows_per_s", "1/s"), ("trace.coverage_min", "ratio"),
    ("proc.jvm_peak_rss_mb", "MB"), ("proc.py_peak_rss_mb", "MB"),
)

MB = 1024.0 * 1024.0


class Run:
    """Settings and paths shared by the workloads of one invocation."""

    def __init__(self, root: str, seed: int, seconds: int, traced: bool,
                 t_start: float):
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.t_start = t_start
        self.cache = os.path.join(root, "perfbench", ".cache")
        self.tmp = os.path.join(self.cache, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = Tracer(traced)
        self.spark = None

    # -- session -----------------------------------------------------------

    def start_spark(self):
        """The production session config: AQE and whole-stage codegen on,
        shuffle partitions 2x cores, driver memory sized to the host.
        Python workers inherit PYTHONPATH, so they import the package.
        All temporary files stay in the cache directory."""
        from pyspark.sql import SparkSession

        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = self.tmp
        mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 1e9
        driver_gb = max(1, min(8, int(mem_gb // 4)))
        tmp_opt = f"-Djava.io.tmpdir={self.tmp}"
        self.spark = (
            SparkSession.builder.master(f"local[{self.cores}]")
            .appName("perfbench")
            .config("spark.driver.memory", f"{driver_gb}g")
            .config("spark.driver.extraJavaOptions", tmp_opt)
            .config("spark.local.dir", self.tmp)
            .config("spark.sql.warehouse.dir",
                    os.path.join(self.tmp, "warehouse"))
            .config("spark.sql.shuffle.partitions", str(2 * self.cores))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.codegen.wholeStage", "true")
            .config("spark.sql.legacy.parquet.nanosAsLong", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        workers it forked) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        self.spark = None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def proc_metrics(self) -> dict:
        pid = self.jvm_pid()
        return {
            "proc.jvm_peak_rss_mb": peak_rss_mb(pid) if pid else 0.0,
            "proc.py_peak_rss_mb":
                resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        }

    def host_context(self) -> dict:
        import pandas
        import pyarrow
        import pyspark

        return {
            "nproc": self.cores, "seed": self.seed,
            "loadavg": list(os.getloadavg()),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__,
        }


def _layer_result(values: dict) -> dict:
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit in PER_LAYER}


# ---------------------------------------------------------------------------
# tick_analytics
# ---------------------------------------------------------------------------


class _LoadSpy:
    """Traced runs only: wraps ``sources.tables.load`` where the plan
    modules bound it, so each load runs in its own span and job group."""

    def __init__(self, run: Run, modules: list):
        from datafusion_functions_financial_spark.sources import tables

        self.run = run
        self.orig = tables.load
        self.group = None          # job group to restore after a load
        self.groups: list[str] = []
        self.sites = [m for m in modules if getattr(m, "load", None)
                      is self.orig]
        for m in self.sites:
            m.load = self

    def __call__(self, spark, *args, **kwargs):
        if self.group is None:          # outside a traced query run
            return self.orig(spark, *args, **kwargs)
        g = f"{self.group}:load{len(self.groups)}"
        self.groups.append(g)
        sc = spark.sparkContext
        sc.setJobGroup(g, g)
        try:
            with self.run.tracer.span("sources.load"):
                return self.orig(spark, *args, **kwargs)
        finally:
            sc.setJobGroup(self.group, self.group)

    def restore(self) -> None:
        for m in self.sites:
            m.load = self.orig


def _refwin_expected(prices) -> dict:
    from datafusion_functions_financial_spark.functions import kernels as K

    return {"sma20": K.sma_kernel(prices, 20),
            "ema12": K.ema_kernel(prices, 12),
            "rsi14": K.rsi_kernel(prices, 14),
            "macd": K.macd_kernel(prices)}


def _refwin_ok(rows, expected) -> bool:
    """Bitwise: the SQL path runs the same kernels."""
    import numpy as np

    if len(rows) != REFWIN_ROWS:
        return False
    rows = sorted(rows, key=lambda r: r["rownum"])
    for col, want in expected.items():
        got = np.array([np.nan if r[col] is None else r[col] for r in rows],
                       dtype=np.float64)
        if not np.array_equal(got, want, equal_nan=True):
            return False
    return True


def _kernel_rows_per_s(data_dir: str) -> float:
    """Direct kernel throughput on the events series: per-user value
    segments (ts, event_id order) through SMA and the 2-D EMA/RSI
    folds, timed over repeated calls for at least half a second."""
    import numpy as np
    import pyarrow.parquet as pq
    from datafusion_functions_financial_spark.functions import kernels as K

    ev = pq.read_table(os.path.join(data_dir, "events.parquet"),
                       columns=["user_id", "ts", "event_id", "value"]
                       ).to_pandas().sort_values(["user_id", "ts", "event_id"])
    segs = [g.to_numpy(dtype=np.float64)
            for _, g in ev.groupby("user_id", sort=True)["value"]]
    rows, n, t0 = len(ev), 0, time.perf_counter()
    while n == 0 or time.perf_counter() - t0 < 0.5:
        for s in segs:
            K.sma_kernel(s, 20)
        M, lens = K.pack_segments(segs)
        K.ema_fold2d(M, 2.0 / 13.0)
        K.rsi_fold2d(M, lens, 14)
        n += 1
    return rows * n / (time.perf_counter() - t0)


def tick_analytics(run: Run) -> tuple[dict, dict]:
    from datafusion_functions_financial_spark.plans.registry import (
        all_oracles, all_queries)

    import oracle

    queries = all_queries()
    oracles = all_oracles()
    names = TICK_ANALYTICS_QUERIES

    # Inputs (outside set-up: built once per checkout, then reused).
    t_prep = time.perf_counter()
    data_dir = gen.ensure_tables(run.cache)
    oracle_paths = oracle.ensure_oracles({n: oracles[n] for n in names},
                                         data_dir, run.cache, run.tmp)
    prep_s = time.perf_counter() - t_prep

    spark = run.start_spark()
    sc = spark.sparkContext
    stats = SparkStats(spark) if run.traced else None
    spy = None
    if run.traced:
        spy = _LoadSpy(run, [m for k, m in list(sys.modules.items())
                             if k.startswith(PKG) and m is not None])

    import numpy as np
    import pandas as pd
    from datafusion_functions_financial_spark.functions.sql import (
        sql_with_indicators)

    prices = gen.price_walk(run.seed, REFWIN_ROWS)
    spark.createDataFrame(pd.DataFrame({
        "rownum": np.arange(REFWIN_ROWS, dtype=np.int64), "price": prices,
    })).createOrReplaceTempView("refwin_prices")

    orders = iter(gen.query_orders(names, run.seed, 1000))
    layer = []          # traced: one dict of per-layer sums per pass
    cover = []          # traced: (op, inclusive s, [load s, build self s,
    #                     exec s]) per query run
    failures: list[str] = []

    def run_query(name: str, tag: str):
        """One inclusive query run: build, then the noop write. Returns
        (seconds, DataFrame)."""
        if not run.traced:
            t0 = time.perf_counter()
            df = queries[name](spark, data_dir)
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0, df
        op = f"{name}#{tag}"
        tr = run.tracer
        with tr.span("query", op) as q:
            spy.group = f"{op}:build"
            sc.setJobGroup(spy.group, spy.group)
            spy.groups = []
            with tr.span("plans.build") as b:
                df = queries[name](spark, data_dir)
            sc.setJobGroup(f"{op}:exec", op)
            with tr.span("exec") as e:
                df.write.format("noop").mode("overwrite").save()
        q.counts["load_groups"] = list(spy.groups)
        loads = tr.children(b)
        cover.append((op, q.dur, [sum(s.dur for s in loads),
                                  self_time(b, loads), e.dur]))
        # Catalyst phases, outside the timed run: the write planned this
        # logical plan inside its exec span; plan it once more here.
        sc.setJobGroup(f"{op}:plan", op)
        with tr.span("catalyst", op) as c:
            c.counts.update(catalyst_phases(df))
        return q.dur, df

    def pass_layers(spans_before: int) -> dict:
        """Per-layer sums over the query spans recorded since
        ``spans_before`` (called between passes, outside any timing)."""
        tr = run.tracer
        acc: dict = {}

        def add(k, v):
            acc[k] = acc.get(k, 0.0) + v

        new = tr.spans[spans_before:]
        plans = {s.op: s for s in new if s.name == "catalyst"}
        for q in [s for s in new if s.name == "query"]:
            kids = {s.name: s for s in tr.children(q)}
            b, e, c = kids["plans.build"], kids["exec"], plans[q.op]
            loads = tr.children(b)
            add("sources.load_s", sum(s.dur for s in loads))
            load_jobs = sum((stats.jobs(g) for g in q.counts["load_groups"]),
                            [])
            add("sources.load_jobs", len(load_jobs))
            bt = stats.stage_totals(stats.jobs(f"{q.op}:build"))
            add("plans.build_s", self_time(b, loads))
            add("plans.build_jobs", bt["jobs"])
            add("plans.build_stages", bt["stages"])
            add("plans.build_task_s", bt["executorRunTime"] / 1e3)
            add("build_incl_s", b.dur)
            add("query_s", q.dur)
            add("catalyst.analysis_s", c.counts["analysis"])
            add("catalyst.optimizer_s", c.counts["optimization"])
            add("catalyst.planning_s", c.counts["planning"])
            ej = stats.jobs(f"{q.op}:exec")
            et = stats.stage_totals(ej)
            py = stats.python_metrics(ej + stats.jobs(f"{q.op}:build"))
            add("exec.wall_s", e.dur)
            add("exec.jobs", et["jobs"])
            add("exec.stages", et["stages"])
            add("exec.tasks", et["numTasks"])
            add("exec.task_s", et["executorRunTime"] / 1e3)
            add("exec.task_cpu_s", et["executorCpuTime"] / 1e9)
            add("exec.gc_s", et["jvmGcTime"] / 1e3)
            add("exec.shuffle_read_mb", et["shuffleReadBytes"] / MB)
            add("exec.shuffle_write_mb", et["shuffleWriteBytes"] / MB)
            add("shuffle_records", et["shuffleWriteRecords"])
            add("exec.spill_mb", (et["memoryBytesSpilled"]
                                  + et["diskBytesSpilled"]) / MB)
            add("exec.failed_tasks", et["numFailedTasks"])
            add("functions.python_run_s", py["python_run_s"])
            add("functions.python_start_s", py["python_start_s"])
            add("functions.arrow_mb",
                (py["arrow_sent_b"] + py["arrow_returned_b"]) / MB)
        return acc

    def refwin() -> tuple[float, float, list]:
        """(rewrite-call seconds, inclusive seconds, rows)."""
        with run.tracer.span("refwin", "refwin"):
            t0 = time.perf_counter()
            with run.tracer.span("functions.sql_rewrite"):
                df = sql_with_indicators(spark, REFWIN_SQL)
            t1 = time.perf_counter()
            with run.tracer.span("collect"):
                rows = df.collect()
            return t1 - t0, time.perf_counter() - t0, rows

    # Warm-up: one pass whose outputs are collected, one noop write to
    # warm the timed action, one refwin. Set-up ends there; the outputs
    # are checked against the cached oracle results and the kernels
    # afterwards, outside set-up and every timed region.
    session_s = time.perf_counter() - run.t_start - prep_s
    warm_out = {}
    for name in next(orders):
        df = queries[name](spark, data_dir)
        warm_out[name] = df.toPandas()
    df.write.format("noop").mode("overwrite").save()
    _, _, ref_rows = refwin()
    setup_s = time.perf_counter() - run.t_start - prep_s

    rows_out = sum(len(got) for got in warm_out.values())
    for name, got in warm_out.items():
        if not oracle.same(got, pd.read_parquet(oracle_paths[name])):
            failures.append(f"{name}: output differs from its oracle")
    del warm_out
    if not _refwin_ok(ref_rows, _refwin_expected(prices)):
        failures.append("refwin: output differs from the kernels")
    del ref_rows
    if stats is not None:
        stats.skip_executions()
    n_spans = len(run.tracer.spans)

    # Timed passes: whole passes until --seconds have elapsed, at least
    # one.
    pass_s, samples, ref_s, rewrite_s = [], [], [], []
    per_query: dict = {}
    attempted = len(names) + 1
    t_meas = time.perf_counter()
    while not pass_s or time.perf_counter() - t_meas < run.seconds:
        tag = str(len(pass_s) + 1)
        total = 0.0
        for name in next(orders):
            attempted += 1
            try:
                dt, _ = run_query(name, tag)
            except Exception as exc:  # noqa: BLE001 — counted as failed
                failures.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            samples.append(dt)
            per_query.setdefault(name, []).append(dt)
            total += dt
        pass_s.append(total)
        for _ in range(REFWIN_RUNS):
            attempted += 1
            rw, dt, _ = refwin()
            rewrite_s.append(rw)
            ref_s.append(dt)
        if run.traced:
            layer.append(pass_layers(n_spans))
            n_spans = len(run.tracer.spans)
    measured_s = time.perf_counter() - t_meas

    t_val, t_pct, t_n = tail(samples)
    e2e = {"pass_s": median(pass_s), "op_p50_s": median(samples),
           "op_tail_s": t_val, "rows_per_s": REFWIN_ROWS / median(ref_s)}
    ctx = {
        "workload": "tick_analytics", "data_dir": os.path.relpath(
            data_dir, run.root), "prep_s": prep_s, "session_s": session_s,
        "e2e": e2e, "passes": len(pass_s), "pass_samples_s": pass_s,
        "query_samples_s": per_query, "refwin_samples_s": ref_s,
        "measured_s": measured_s,
        "query_samples": t_n, "tail_percentile": t_pct,
        "failures": failures,
    }
    if not run.traced:
        metrics = {"setup_s": {"value": setup_s, "unit": "s"}}
    else:
        spy.restore()
        vals = {k: median([d.get(k, 0.0) for d in layer])
                for k in layer[0]}
        vals["plans.build_share"] = vals.pop("build_incl_s") / vals["query_s"]
        vals["exec.busy_ratio"] = vals["exec.task_s"] / (
            vals["exec.wall_s"] * run.cores)
        vals["operators.rows_out"] = rows_out
        vals["operators.shuffle_records_per_row_out"] = (
            vals.pop("shuffle_records") / max(rows_out, 1))
        vals.update({f"e2e.{k}": v for k, v in e2e.items()})
        vals["trace.coverage_min"] = min(coverage(*c[1:]) for c in cover)
        vals["functions.sql_rewrite_s"] = median(rewrite_s)
        vals["functions.kernel_rows_per_s"] = _kernel_rows_per_s(data_dir)
        vals.update(run.proc_metrics())
        misses = [op for op, *c in cover if not covers(*c)]
        failures.extend(f"{op}: load, build and exec spans miss its "
                        "inclusive time by more than 5%" for op in misses)
        ctx["coverage_within_5pct"] = not misses
        ctx["trace_spans"] = len(run.tracer.spans)
        metrics = _layer_result(vals)
    ctx["fail_ratio"] = len(failures) / attempted
    return {"attempted": attempted, "failed": len(failures),
            "metrics": metrics}, ctx


# ---------------------------------------------------------------------------
# tick_stream
# ---------------------------------------------------------------------------


def _phase_a_ticks(seed: int):
    from datafusion_functions_financial_spark.streaming.engine import (
        MarketTick)

    t = gen.ticks_numpy(seed, range(TICKS_PER_PASS))
    return [MarketTick(gen.symbol_name(s), v, float(p), int(q))
            for v, (s, p, q) in enumerate(zip(t["sym"], t["price"],
                                              t["volume"]))]


def _phase_a_pass(ticks) -> tuple[float, list, dict]:
    """One closed-loop pass through a fresh ``StreamingProcessor``
    with a counting handler. Returns (wall s, per-tick ns, signal
    counts by type)."""
    from datafusion_functions_financial_spark.streaming.engine import (
        StreamingProcessor)

    counts: dict = {}

    def handler(sig):
        counts[sig.signal_type] = counts.get(sig.signal_type, 0) + 1

    proc = StreamingProcessor(WINDOW)
    proc.add_signal_handler(handler)
    step = proc.process_tick
    clock = time.perf_counter_ns
    lat = [0] * len(ticks)
    t0 = time.perf_counter()
    for i, tick in enumerate(ticks):
        a = clock()
        step(tick)
        lat[i] = clock() - a
    return time.perf_counter() - t0, lat, counts


def _phase_a_traced(ticks) -> dict:
    """One more pass through the real ``process_tick``, with
    ``StreamingIndicators.update`` and
    ``StreamingSignalDetector.detect_signals`` wrapped at class level
    by timers and restored afterwards. Dispatch is the rest of
    ``process_tick``: state lookup, detector construction, the handler
    loop, and the wrappers' own calls."""
    from datafusion_functions_financial_spark.streaming.engine import (
        StreamingIndicators, StreamingProcessor, StreamingSignalDetector)

    clock = time.perf_counter_ns
    spent = {"update": 0, "detect": 0}

    def timed(fn, key):
        def wrapper(*args, **kwargs):
            a = clock()
            try:
                return fn(*args, **kwargs)
            finally:
                spent[key] += clock() - a
        return wrapper

    n_sig = 0

    def handler(sig):
        nonlocal n_sig
        n_sig += 1

    proc = StreamingProcessor(WINDOW)
    proc.add_signal_handler(handler)
    step = proc.process_tick
    orig = StreamingIndicators.update, StreamingSignalDetector.detect_signals
    StreamingIndicators.update = timed(orig[0], "update")
    StreamingSignalDetector.detect_signals = timed(orig[1], "detect")
    try:
        t0 = clock()
        for tick in ticks:
            step(tick)
        total = clock() - t0
    finally:
        StreamingIndicators.update, StreamingSignalDetector.detect_signals = orig
    n = len(ticks)
    return {"streaming.update_us": spent["update"] / n / 1e3,
            "streaming.detect_us": spent["detect"] / n / 1e3,
            "streaming.dispatch_us": (total - spent["update"]
                                      - spent["detect"]) / n / 1e3,
            "traced_signals": n_sig}


def tick_columns(raw, seed: int, rate: int):
    """Map the ``rate`` source's (timestamp, value) rows to ticks with
    the integer arithmetic of ``gen.ticks_numpy``.

    The rate source stamps value v at creation_ms + round(v*1000/rate)
    (half up). The tick timestamp is creation + v*(1e6/rate) in
    microseconds: the scheduled time, unique and in value order, so
    per-symbol order is exact and v is recoverable from it."""
    from pyspark.sql import functions as F

    p = gen.tick_params(seed)
    v = F.col("value")

    def h(lane):
        x = ((v * 4 + lane).bitwiseXOR(F.lit(p["salt"]))).bitwiseAND(
            F.lit(gen.MASK32))
        x = x.bitwiseXOR(F.shiftright(x, 16))
        x = (x * gen.C1).bitwiseAND(F.lit(gen.MASK32))
        x = x.bitwiseXOR(F.shiftright(x, 15))
        x = (x * gen.C2).bitwiseAND(F.lit(gen.MASK32))
        return x.bitwiseXOR(F.shiftright(x, 16))

    sym = F.when(h(0) % 10000 < p["hot_bp"], F.lit(gen.HOT_SYMBOL)
                 ).otherwise(1 + h(1) % (gen.N_SYMBOLS - 1)).cast("long")
    period = 400 + 7 * sym
    tri = F.abs((v + 13 * sym) % (2 * period) - period)
    cents = (5000 + 250 * sym + F.floor((400 + 20 * sym) * tri / period)
             + h(2) % 5 - 2)
    spike = F.when(v % p["spike_every"] == 0, 6).otherwise(1)
    creation_ms = F.unix_millis("timestamp") - F.floor(
        (2000 * v + rate) / (2 * rate))
    return raw.select(
        F.concat(F.lit("S"), F.lpad(sym.cast("string"), 3, "0")
                 ).alias("symbol"),
        F.timestamp_micros(creation_ms * 1000 + v * (1_000_000 // rate)
                           ).alias("timestamp"),
        (cents / 100.0).alias("price"),
        ((100 + h(3) % 900) * spike).cast("long").alias("volume"),
    )


def _replay_signals(seed: int, n: int) -> list:
    """Signals the row engine emits for rate values 0..n-1, as
    (value, symbol, type, strength) in a canonical order."""
    from datafusion_functions_financial_spark.streaming.engine import (
        MarketTick, StreamingProcessor)

    t = gen.ticks_numpy(seed, range(n))
    out = []
    proc = StreamingProcessor(WINDOW)
    proc.add_signal_handler(lambda s: out.append(
        (s.timestamp, s.symbol, s.signal_type, s.strength)))
    for v, (s, p, q) in enumerate(zip(t["sym"], t["price"], t["volume"])):
        proc.process_tick(MarketTick(gen.symbol_name(s), v, float(p), int(q)))
    return sorted(out)


def _creation_ms(checkpoint: str) -> int:
    """The rate source records its creation time (ms) in the first
    entry of its checkpoint metadata log."""
    with open(os.path.join(checkpoint, "sources", "0", "0")) as f:
        return int(f.read().split()[-1])


def tick_stream(run: Run) -> tuple[dict, dict]:
    from datafusion_functions_financial_spark.streaming.spark import (
        detect_signal_exprs, streaming_indicators)

    spark = run.start_spark()
    session_s = time.perf_counter() - run.t_start

    # Phase A: closed loop, in process.
    ticks = _phase_a_ticks(run.seed)
    t0 = time.perf_counter()
    _phase_a_pass(ticks)
    warm_a = time.perf_counter() - t0
    walls, lat_ns, sig_counts = [], [], []
    t_a = time.perf_counter()
    while not walls or time.perf_counter() - t_a < run.seconds * PHASE_A_SHARE:
        w, lat, counts = _phase_a_pass(ticks)
        walls.append(w)
        lat_ns.extend(lat)
        sig_counts.append(counts)
    attempted = len(walls) * len(ticks)
    failures = []
    failed = 0
    for i, c in enumerate(sig_counts):
        if c != sig_counts[0]:
            failed += len(ticks)
            failures.append(f"phase A: pass {i} signal counts {c} differ "
                            f"from pass 0 {sig_counts[0]}")
    a_traced = _phase_a_traced(ticks) if run.traced else {}
    if run.traced and a_traced["traced_signals"] != sum(
            sig_counts[0].values()):
        failed += len(ticks)
        failures.append("phase A: traced pass signal count differs")

    # Phase B: open loop, Spark rate source at a fixed offered rate.
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   str(ARROW_CHUNK_ROWS))

    ck = os.path.join(run.tmp, f"stream-ck-{os.getpid()}")
    shutil.rmtree(ck, ignore_errors=True)
    batches: dict = {}      # batch id -> (arrival time, rows)

    def handler(batch_df, batch_id):
        rows = batch_df.select(
            F.unix_micros("timestamp").alias("us"), "symbol",
            "signal_type", "strength").collect()
        batches[batch_id] = (time.time(), rows)

    raw = spark.readStream.format("rate").option(
        "rowsPerSecond", OFFERED_RATE).load()
    enriched = streaming_indicators(tick_columns(raw, run.seed, OFFERED_RATE),
                                    WINDOW)
    t_b = time.perf_counter()
    q = (detect_signal_exprs(enriched).writeStream
         .trigger(processingTime=f"{TRIGGER_S} seconds")
         .option("checkpointLocation", ck)
         .foreachBatch(handler).start())
    try:
        deadline = time.time() + 120
        while len(batches) < WARMUP_BATCHES:
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            if time.time() > deadline:
                raise RuntimeError("the stream completed no warm-up batch")
            time.sleep(0.05)
        warm_b = time.perf_counter() - t_b
        setup_s = session_s + warm_a + warm_b
        first_measured = max(list(batches)) + 1
        stream_group = str(q.runId)
        sc = spark.sparkContext
        warm_jobs = set(sc.statusTracker().getJobIdsForGroup(stream_group))
        stats = SparkStats(spark) if run.traced else None
        if stats is not None:
            stats.skip_executions()
        time.sleep(run.seconds)
        # Stop once the next batch has posted its progress, so at least
        # one batch is measured and none is cut off half-delivered; the
        # batch that may start right after it is cut off and not counted.
        target = max(list(batches)) + 1
        deadline = time.time() + 90
        while time.time() < deadline:
            last = q.lastProgress
            if last is not None and last["batchId"] >= target:
                break
            time.sleep(0.01)
        q.stop()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
    finally:
        if q.isActive:
            q.stop()
    # A batch counts once its handler returned and its progress was
    # posted; a batch cut off by the stop has neither or only one.
    progress = [prog for prog in q.recentProgress
                if prog["batchId"] in batches]
    batches = {prog["batchId"]: batches[prog["batchId"]] for prog in progress}
    creation_ms = _creation_ms(ck)
    shutil.rmtree(ck, ignore_errors=True)
    period_us = 1_000_000 // OFFERED_RATE

    # Latency: rows of the batches triggered inside the window.
    lat_s, got = [], []
    measured = [prog for prog in progress if prog["batchId"] >= first_measured]
    if not measured:
        raise RuntimeError("no stream batch completed after the warm-up")
    for bid, (arrived, rows) in sorted(batches.items()):
        for r in rows:
            v = (r.us - creation_ms * 1000) // period_us
            got.append((v, r.symbol, r.signal_type, r.strength))
            if bid >= first_measured:
                lat_s.append(arrived - r.us / 1e6)
    n_rows = sum(prog["numInputRows"] for prog in progress)
    attempted += n_rows
    want = _replay_signals(run.seed, n_rows)
    got.sort()
    if got != want:
        diff = set(got) ^ set(want)
        failed += len({d[0] for d in diff})
        syms = sorted({d[1] for d in diff})
        failures.append(f"phase B: {len(diff)} signal rows of symbols "
                        f"{syms[:8]} differ from the engine replay of "
                        f"{n_rows} ticks")
    m_rows = sum(prog["numInputRows"] for prog in measured)
    span_s = _iso_s(measured[-1]["timestamp"]) - _iso_s(
        progress[progress.index(measured[0]) - 1]["timestamp"])
    stream_rows_per_s = m_rows / span_s
    t_val, t_pct, t_n = tail(lat_s)
    tick_us = [x / 1e3 for x in lat_ns]
    e2e = {"pass_s": median(walls), "op_p50_s": median(lat_s),
           "op_tail_s": t_val, "rows_per_s": stream_rows_per_s}
    ctx = {
        "e2e": e2e,
        "workload": "tick_stream", "offered_rate": OFFERED_RATE,
        "trigger_s": TRIGGER_S, "arrow_chunk_rows": ARROW_CHUNK_ROWS,
        "phase_a_pass_samples_s": walls,
        "ticks_per_pass": len(ticks), "batches": len(progress),
        "measured_batches": len(measured), "stream_rows": n_rows,
        "latency_samples": t_n, "tail_percentile": t_pct,
        "batch_s": [prog["durationMs"].get("triggerExecution", 0) / 1e3
                    for prog in progress],
        "signals_per_pass": sig_counts[0], "failures": failures,
        "fail_ratio": failed / attempted,
    }
    if not run.traced:
        metrics = {"setup_s": {"value": setup_s, "unit": "s"}}
    else:
        jobs = [j for j in stats.jobs(stream_group) if j not in warm_jobs]
        et = stats.stage_totals(jobs)
        py = stats.python_metrics()
        dur = [prog["durationMs"] for prog in measured]
        wall = sum(d.get("triggerExecution", 0) for d in dur) / 1e3
        state = [prog["stateOperators"][0] for prog in measured
                 if prog.get("stateOperators")]
        last = measured[-1]
        end_s = _iso_s(last["timestamp"]) + last["durationMs"].get(
            "triggerExecution", 0) / 1e3
        vals = {
            "exec.wall_s": wall, "exec.jobs": et["jobs"],
            "exec.stages": et["stages"], "exec.tasks": et["numTasks"],
            "exec.task_s": et["executorRunTime"] / 1e3,
            "exec.task_cpu_s": et["executorCpuTime"] / 1e9,
            "exec.gc_s": et["jvmGcTime"] / 1e3,
            "exec.busy_ratio": et["executorRunTime"] / 1e3 / (
                wall * run.cores),
            "exec.shuffle_read_mb": et["shuffleReadBytes"] / MB,
            "exec.shuffle_write_mb": et["shuffleWriteBytes"] / MB,
            "exec.spill_mb": (et["memoryBytesSpilled"]
                              + et["diskBytesSpilled"]) / MB,
            "exec.failed_tasks": et["numFailedTasks"],
            "functions.python_run_s": py["python_run_s"],
            "functions.python_start_s": py["python_start_s"],
            "functions.arrow_mb": (py["arrow_sent_b"]
                                   + py["arrow_returned_b"]) / MB,
            "streaming.ticks_per_s": len(ticks) / median(walls),
            "streaming.tick_p50_us": median(tick_us),
            "streaming.tick_tail_us": tail(tick_us)[0],
            "streaming.signals": sum(sig_counts[0].values()),
            "streaming.spark.batches": len(measured),
            "streaming.spark.batch_rows": median(
                [prog["numInputRows"] for prog in measured]),
            "streaming.spark.add_batch_s": median(
                [d.get("addBatch", 0) for d in dur]) / 1e3,
            "streaming.spark.trigger_s": median(
                [d.get("triggerExecution", 0) for d in dur]) / 1e3,
            "streaming.spark.plan_s": median(
                [d.get("queryPlanning", 0) for d in dur]) / 1e3,
            "streaming.spark.commit_s": median(
                [d.get("commitOffsets", 0) + d.get("walCommit", 0)
                 for d in dur]) / 1e3,
            "streaming.spark.state_rows": state[-1]["numRowsTotal"]
            if state else 0,
            "streaming.spark.state_mb": state[-1]["memoryUsedBytes"] / MB
            if state else 0.0,
            "streaming.spark.backlog_rows": max(
                0.0, OFFERED_RATE * (end_s - creation_ms / 1e3) - n_rows),
        }
        vals.update({f"e2e.{k}": v for k, v in e2e.items()})
        vals.update({k: v for k, v in a_traced.items()
                     if k.startswith("streaming.")})
        vals.update(run.proc_metrics())
        metrics = _layer_result(vals)
    return {"attempted": attempted, "failed": failed,
            "metrics": metrics}, ctx


def _iso_s(ts: str) -> float:
    """Seconds since the epoch of a progress timestamp
    ("2026-10-17T04:05:06.789Z")."""
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


WORKLOADS = {"tick_analytics": tick_analytics, "tick_stream": tick_stream}
