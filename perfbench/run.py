#!/usr/bin/env python3
"""Benchmark runner: day-1/day-2 ETL cycle and SQL mix.

    python3 perfbench/run.py --workload etl_cycle|sql_mix \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. One client process with one client
thread drives ``local[<cores>]`` in a closed loop: the next operation
starts only when the previous one has finished. Every operation is a
call into the package's public functions, timed from outside
(``session.get_spark``, ``plans.etl.run_pipeline``, and
``REGISTRY[q].build`` followed by a noop-sink materialize). Whole
rounds (one ETL cycle, or one pass of a query panel) run until at least
``--seconds`` of operation time has been measured. Set-up is a cold
start: the package import, the JVM launch inside ``get_spark`` and a
first query; the rounds that follow run in that same JVM.

Inputs come from ``--seed`` and are cached under ``.perfbench_cache/``;
generating them, and building the DuckDB oracles, is not timed. Every
output is checked outside the timed region; a failed or wrong operation
counts in ``failed``. The last stdout line is one JSON object with the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) that BENCHMARK.json declares; the lines before it are a
readable report.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

import etlcheck  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer, event_log_conf, read_event_log, total  # noqa: E402

WORKLOADS = ("etl_cycle", "sql_mix")
TABLE_SEED = 42         # fixed: the query workload's seed orders queries only
LISTINGS_PER_CITY = 1500


def log(msg: str) -> None:
    print(msg, flush=True)


def _cached(path: str, make) -> str:
    """Build ``path`` once with ``make(tmp)``; an interrupted build never
    leaves a half-written cache entry behind."""
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        os.replace(tmp, path)
    return path


def _version(module) -> str:
    """Digest of a generator's source: a changed generator never reads
    inputs its previous version cached."""
    import hashlib

    with open(module.__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:10]


def raw_inputs(seed: int) -> tuple[str, dict]:
    import genraw

    d = _cached(os.path.join(CACHE, f"raw-s{seed}-l{LISTINGS_PER_CITY}-"
                                    f"{_version(genraw)}"),
                lambda p: genraw.generate(p, seed, LISTINGS_PER_CITY))
    with open(os.path.join(d, "facts.json")) as f:
        return d, json.load(f)


def parity():
    """tools/parity.py: the registry's DuckDB parity rules."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import parity as module
    return module


def query_tables() -> str:
    import gentables

    return _cached(os.path.join(CACHE, f"tables-s{TABLE_SEED}-"
                                       f"{_version(gentables)}"),
                   lambda p: gentables.generate(p, TABLE_SEED))


# -- session -----------------------------------------------------------


def isolate_temp_files() -> None:
    """Keep Spark's, the JVM's and Python's scratch files in the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    import tempfile
    tempfile.tempdir = tmp


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(get_spark, extra_conf=None):
    """One set-up: ``get_spark`` plus a first query → (spark, seconds)."""
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores()}]",
                      extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).write.format("noop").mode("overwrite").save()
    return spark, time.perf_counter() - t0


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM the client launched, and wait."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


class CpuClock:
    """CPU seconds used so far by this process and the session's JVM,
    from /proc; unlike wall time, it does not grow while the machine
    runs someone else's work."""

    TICK = os.sysconf("SC_CLK_TCK")

    def __init__(self, spark):
        self.jvm = jvm_pid(spark)

    def __call__(self) -> float:
        own = os.times()
        with open(f"/proc/{self.jvm}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (own.user + own.system
                + (int(fields[11]) + int(fields[12])) / self.TICK)


def peak_rss_mb(spark) -> float:
    """High-water RSS of this process plus the JVM, from /proc."""
    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    return (hwm("self") + hwm(jvm_pid(spark))) / 1024.0


# -- workloads ---------------------------------------------------------


class CheckFailed(Exception):
    """An operation's output failed a check."""


class EtlCycle:
    """Day-1 full load into a fresh warehouse, then the day-2 delta reload."""

    name = "etl_cycle"

    def __init__(self, seed: int):
        self.raw, self.facts = raw_inputs(seed)
        self.day1 = os.path.join(self.raw, "day1")
        self.day2 = os.path.join(self.raw, "day2")
        self.checker = etlcheck.EtlChecker(self.facts, self.day1, self.day2)
        self.out = os.path.join(WORK, "warehouse")
        self.load_s: list[float] = []
        self.reload_s: list[float] = []
        self.storage_ratio: list[float] = []

    def rounds(self, seed: int):
        while True:
            yield ["cycle"]

    def _cycle(self, spark, tracer: Tracer, i: int, cpu: CpuClock) -> tuple:
        """One checked load + reload → ([load, reload] seconds,
        [load, reload] CPU seconds, warehouse bytes per raw byte)."""
        from sql_etl_data_warehouse_inside_airbnb_spark.plans.etl import (
            run_pipeline,
        )

        shutil.rmtree(self.out, ignore_errors=True)
        wall, used, bad = [], [], []
        for day, src, kind in (("day1", self.day1, "load"),
                               ("day2", self.day2, "reload")):
            with tracer.span(f"{self.name}:{i}:{kind}", kind):
                c0, t0 = cpu(), time.perf_counter()
                tables = run_pipeline(spark, src, self.out,
                                      incremental=kind == "reload")
                wall.append(time.perf_counter() - t0)
                used.append(cpu() - c0)
            bad += self.checker.check(self.out, day, tables.stats)
            if kind == "load":
                storage = (etlcheck.dir_bytes(self.out)
                           / self.facts["day1"]["bytes"])
        if bad:
            raise CheckFailed("; ".join(bad))
        return wall, used, storage

    def op(self, spark, _item, tracer: Tracer, i: int,
           cpu: CpuClock) -> tuple[float, float]:
        (load, reload), used, storage = self._cycle(spark, tracer, i, cpu)
        self.load_s.append(load)
        self.reload_s.append(reload)
        self.storage_ratio.append(storage)
        return load + reload, sum(used)

    def replay_delta(self, spark) -> float:
        """Re-send the day-2 delta into the warehouse the last cycle left;
        both fact tables must stay as they are → the reload's seconds."""
        from sql_etl_data_warehouse_inside_airbnb_spark.plans.etl import (
            run_pipeline,
        )

        before = self.checker.fact_fingerprint(self.out)
        t0 = time.perf_counter()
        run_pipeline(spark, self.day2, self.out, incremental=True)
        took = time.perf_counter() - t0
        if self.checker.fact_fingerprint(self.out) != before:
            raise CheckFailed("replayed delta changed the fact tables")
        return took

    def verify(self, spark) -> dict[str, str]:
        return {}       # every cycle checked itself

    def report(self) -> list[tuple[str, float, str]]:
        if not self.load_s:
            return []
        rows1 = self.facts["day1"]["input_rows"]
        rows2 = self.facts["day2"]["input_rows"]
        return [
            ("load_rows_per_s", rows1 * len(self.load_s) / sum(self.load_s),
             "rows/s"),
            ("reload_rows_per_s",
             rows2 * len(self.reload_s) / sum(self.reload_s), "rows/s"),
            ("storage_bytes_per_input_byte",
             metrics.median(self.storage_ratio), "ratio"),
        ]

    def close(self) -> None:
        self.checker.close()


class QueryMix:
    """Registry queries over the generated sf0.1 tables."""

    def __init__(self, name: str, panel):
        import duckdb

        self.name, self.panel = name, panel
        self.sf_dir = query_tables()
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for tbl in parity().TABLES:
            self.con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM "
                             f"'{self.sf_dir}/{tbl}.parquet'")
        self.build_ms: list[float] = []
        self.optimize_ms: list[float] = []
        self.by_query: dict[str, list[float]] = {}
        self.last_df: dict = {}

    def rounds(self, seed: int):
        return workloads.passes(self.panel, seed)

    def op(self, spark, name: str, tracer: Tracer, i: int,
           cpu: CpuClock) -> tuple[float, float]:
        from sql_etl_data_warehouse_inside_airbnb_spark.plans.full_registry import (  # noqa: E501
            REGISTRY,
        )

        q = REGISTRY[name]
        with tracer.span(f"{self.name}:{i}:build", "build"):
            c0, t0 = cpu(), time.perf_counter()
            df = q.build(spark, self.sf_dir)
            t1, c1 = time.perf_counter(), cpu()
        if tracer.spark is not None:
            with tracer.span(f"{self.name}:{i}:optimize", "optimize"):
                df._jdf.queryExecution().executedPlan()
                self.optimize_ms.append(1000 * (time.perf_counter() - t1))
        with tracer.span(f"{self.name}:{i}:exec", "exec"):
            c2, t2 = cpu(), time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3, c3 = time.perf_counter(), cpu()
        self.build_ms.append(1000 * (t1 - t0))
        self.last_df[name] = df
        latency = (t1 - t0) + (t3 - t2)
        self.by_query.setdefault(name, []).append(latency)
        return latency, (c1 - c0) + (c3 - c2)

    def verify(self, spark) -> dict[str, str]:
        """Compare each distinct query's result with its DuckDB oracle
        using tools/parity.py's canonical comparison → {wrong query:
        why}. The DataFrame the loop last built is collected again,
        so the check does not re-plan the query."""
        from concurrent.futures import ThreadPoolExecutor
        from types import SimpleNamespace

        from sql_etl_data_warehouse_inside_airbnb_spark.plans.full_registry import (  # noqa: E501
            REGISTRY,
        )

        def check(item) -> tuple[str, str, str]:
            name, df = item
            built = SimpleNamespace(build=lambda _s, _d: df,
                                    oracle=REGISTRY[name].oracle)
            with self.con.cursor() as con:
                return (name,) + parity().check_entry(built, spark, con,
                                                      self.sf_dir)

        # outside the timed region, so the checks may run side by side
        with ThreadPoolExecutor(max_workers=cores()) as pool:
            results = list(pool.map(check, sorted(self.last_df.items())))
        return {name: f"{status} {msg}" for name, status, msg in results
                if status != "ok"}

    def report(self) -> list[tuple[str, float, str]]:
        if not self.by_query:
            return []
        each = [1000 * metrics.median(ts) for ts in self.by_query.values()]
        return [("query_min_ms", min(each), "ms"),
                ("query_max_ms", max(each), "ms")]

    def close(self) -> None:
        self.con.close()


def make_workload(name: str, seed: int):
    if name == "etl_cycle":
        return EtlCycle(seed)
    return QueryMix(name, workloads.SQL_PANEL)


class Loop:
    """Closed loop over whole rounds until ``seconds`` of op time."""

    def __init__(self):
        self.samples: list[float] = []
        self.cpu: list[float] = []
        self.names: list[str] = []
        self.errors: list[str] = []
        self.attempted = 0

    def run(self, wl, spark, tracer: Tracer, seed: int, seconds: float,
            max_rounds: int | None = None) -> "Loop":
        """Whole rounds: ``max_rounds`` of them, or else until ``seconds``
        of operation time."""
        busy = 0.0
        clock = CpuClock(spark)
        for n, round_ in enumerate(wl.rounds(seed)):
            if n and (n >= max_rounds if max_rounds is not None
                      else busy >= seconds):
                break
            for item in round_:
                self.attempted += 1
                t0, c0 = time.perf_counter(), clock()
                try:
                    latency, cpu = wl.op(spark, item, tracer,
                                         len(self.names), clock)
                except Exception as e:  # counted, not hidden
                    latency, cpu = time.perf_counter() - t0, clock() - c0
                    self.errors.append(f"{item}: {type(e).__name__}: {e}"[:500])
                busy += latency
                self.samples.append(latency)
                self.cpu.append(cpu)
                self.names.append(str(item))
        return self


# -- per-layer probes (traced run only) --------------------------------


def stage_probe(spark, tracer: Tracer, day1: str, day2: str
                ) -> dict[str, float]:
    """Materialise each public ETL stage function once on cached inputs,
    so each span is that stage's own time → {metric: seconds}."""
    from sql_etl_data_warehouse_inside_airbnb_spark.plans.enrich import (
        add_review_lang,
        pretreat_hosts,
        pretreat_listings,
    )
    from sql_etl_data_warehouse_inside_airbnb_spark.plans.etl import (
        discover_files,
    )
    from sql_etl_data_warehouse_inside_airbnb_spark.plans.pipeline import (
        build_dim_dates,
        build_dim_hosts,
        build_dim_listings,
        build_fact_calendar,
        build_fact_reviews,
        clean_listings,
        type_listings,
    )
    from sql_etl_data_warehouse_inside_airbnb_spark.sources.io import (
        read_csv_raw,
    )

    def sink(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def pinned(df):
        df = df.cache()
        df.count()
        held.append(df)
        return df

    def union(frames):
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def timed(metric: str, fn) -> None:
        with tracer.span(f"probe:{metric}", "probe"):
            t0 = time.perf_counter()
            fn()
            out[metric] = time.perf_counter() - t0

    out: dict[str, float] = {}
    held: list = []
    files1, files2 = discover_files(day1), discover_files(day2)
    paths = [p for k in sorted(files1) for p, _, _ in files1[k]]
    timed("sources.csv_scan_s",
          lambda: [sink(read_csv_raw(spark, p)) for p in paths])

    def cleaned_of(files):
        return union([clean_listings(pinned(read_csv_raw(spark, p)),
                                     property_city=c, property_country=k)
                      for p, c, k in files["listings"]])

    raw_listings = cleaned_of(files1)
    timed("functions.type_listings_s",
          lambda: sink(type_listings(raw_listings)))
    cleaned = pinned(raw_listings)
    delta = pinned(cleaned_of(files2))
    # the day-1 dimension is the prior state the delta merges into
    prior = pinned(build_dim_listings(cleaned, count_actions=False)[0].df)
    timed("operators.merge_upsert_s",
          lambda: sink(build_dim_listings(delta, existing=prior,
                                          count_actions=False)[0].df))
    dim = pinned(pretreat_listings(prior))
    calendar = pinned(union([read_csv_raw(spark, p)
                             for p, _, _ in files1["calendar"]]))
    reviews = pinned(union([read_csv_raw(spark, p)
                            for p, _, _ in files1["reviews"]]))
    timed("plans.dim_hosts_s",
          lambda: sink(pretreat_hosts(build_dim_hosts(dim))))
    timed("plans.dim_dates_s",
          lambda: sink(build_dim_dates(calendar, reviews)))
    dates = pinned(build_dim_dates(calendar, reviews))
    timed("plans.fact_calendar_s",
          lambda: sink(build_fact_calendar(calendar, dim)))
    timed("plans.fact_reviews_s",
          lambda: sink(build_fact_reviews(reviews, dim, dates)))
    facts = pinned(build_fact_reviews(reviews, dim, dates))
    timed("functions.review_lang_s", lambda: sink(add_review_lang(facts)))
    fact_cal = pinned(build_fact_calendar(calendar, dim))
    target = os.path.join(WORK, "probe_parquet")

    def write_all() -> None:
        for name, df in (("dim_listings", dim), ("fact_calendar", fact_cal),
                         ("fact_reviews", facts)):
            df.write.mode("overwrite").parquet(os.path.join(target, name))

    timed("sources.parquet_write_s", write_all)
    for df in held:
        df.unpersist()
    return out


def per_layer(wl, traced: list[float], plain: list[float], tracer: Tracer,
              counters: dict, probe: dict, query_wl: "QueryMix",
              etl: EtlCycle) -> dict[str, float]:
    """Fold spans, event-log counters and the stage probe into the
    per-layer metrics BENCHMARK.json declares. Query-layer numbers come
    from the workload's own queries, or from the SQL probe when it has
    none; load and reload counters from its cycle or the probe cycle."""
    def spans(owner: str, kind: str) -> list[str]:
        return [s["name"] for s in tracer.spans
                if s["kind"] == kind and s["name"].startswith(owner + ":")]

    def groups(owner: str, kind: str) -> list[str]:
        return sorted(set(spans(owner, kind)))   # a repeated round reuses names

    qwl = wl if isinstance(wl, QueryMix) else query_wl
    builds, execs = groups(qwl.name, "build"), groups(qwl.name, "exec")
    n = max(1, len(spans(qwl.name, "exec")))
    loads, reloads = groups(etl.name, "load"), groups(etl.name, "reload")
    n_loads = max(1, len(spans(etl.name, "load")))
    n_reloads = max(1, len(spans(etl.name, "reload")))
    stream = [1000 * t for w in {qwl, query_wl} - {None}
              for q, ts in w.by_query.items() if q.startswith("stream_")
              for t in ts]
    # no comparison when a round failed; the run then reports correct=false
    base = metrics.median(plain) if traced and plain else None
    values = {
        "plans.build_ms": metrics.median(qwl.build_ms),
        "plans.optimize_ms": metrics.median(qwl.optimize_ms),
        "plans.jobs_per_query": total(counters, builds, "jobs") / n,
        "operators.exec_ms": total(counters, execs, "run_ms") / n,
        "operators.shuffle_bytes": total(counters, execs, "shuffle_bytes") / n,
        "operators.spill_bytes": total(counters, execs, "spill_bytes") / n,
        "operators.gc_ms": total(counters, builds + execs, "gc_ms") / n,
        "sources.input_bytes_per_query":
            total(counters, builds + execs, "input_bytes") / n,
        "sources.raw_scans_per_file": total(counters, loads, "input_bytes")
        / (etl.facts["day1"]["bytes"] * n_loads),
        "sources.rewrite_bytes_per_delta_byte":
            total(counters, reloads, "output_bytes")
            / (etl.facts["day2"]["bytes"] * n_reloads),
        "streaming.batch_twin_ms": metrics.median(stream),
        "tasks.failed": sum(c["failed"] for c in counters.values()),
        "tasks.retried": sum(c["retried"] for c in counters.values()),
        "trace.overhead_pct":
            100.0 * (metrics.median(traced) - base) / base if base else 0.0,
    }
    values.update(probe)
    return values


def traced_run(get_spark, spark, tracer: Tracer, wl, args, log_dir: str
               ) -> tuple[dict, object, list[Loop]]:
    """After the workload's traced round: the SQL probe, the stage probe,
    an ETL cycle for a query mix or the re-sent delta for the ETL, then
    the SQL probe again on a plain session, for the tracing overhead.
    → (per-layer values without the set-up and check counts, the plain
    session, the loops run)."""
    def one_round(w, trace: Tracer, session) -> Loop:
        return Loop().run(w, session, trace, args.seed, 0, max_rounds=1)

    # the probe's queries run twice traced, so that the compared pass is
    # as warm as the untraced one at the end
    probe_wl = QueryMix("sql_probe", workloads.PROBE_PANEL)
    loops = [one_round(probe_wl, tracer, spark) for _ in range(2)]
    etl = wl if isinstance(wl, EtlCycle) else make_workload("etl_cycle",
                                                             args.seed)
    probe = stage_probe(spark, tracer, etl.day1, etl.day2)
    if etl is wl:
        # a replayed delta must leave both fact tables unchanged
        replay = Loop()
        replay.attempted = 1
        try:
            wl.replay_delta(spark)
        except Exception as e:  # counted, not hidden
            replay.errors.append(f"replay: {type(e).__name__}: {e}"[:500])
        loops.append(replay)
    else:
        loops.append(one_round(etl, tracer, spark))
        etl.close()
    probe["session.peak_rss_mb"] = peak_rss_mb(spark)
    spark.stop()
    spark, _ = start_session(get_spark)
    plain_wl = QueryMix("sql_probe", workloads.PROBE_PANEL)
    loops.append(one_round(plain_wl, Tracer(), spark))
    probe_wl.close()
    plain_wl.close()
    counters = read_event_log(log_dir)
    values = per_layer(wl, loops[1].samples, loops[-1].samples, tracer,
                       counters, probe, probe_wl, etl)
    return values, spark, loops


# -- main --------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(
            ROOT, "sql_etl_data_warehouse_inside_airbnb_spark")):
        print(f"error: the package is not under {ROOT}; run the benchmark "
              "from a full checkout", file=sys.stderr)
        return 2
    spec = metrics.load_spec()
    os.makedirs(WORK, exist_ok=True)
    isolate_temp_files()

    # inputs and oracles: prepared before, and excluded from, set-up
    wall = {"inputs": time.perf_counter()}
    wl = make_workload(args.workload, args.seed)
    sys.path.insert(0, ROOT)
    wall["set-up"] = time.perf_counter()

    t0 = time.perf_counter()
    from sql_etl_data_warehouse_inside_airbnb_spark.plans import (  # noqa: F401
        full_registry,
    )
    from sql_etl_data_warehouse_inside_airbnb_spark.session import get_spark
    import_s = time.perf_counter() - t0
    # a traced run's session writes Spark's event log, and runs one round
    # of the workload; --seconds governs the untraced runs that report
    # the end-to-end metrics
    log_dir = os.path.join(WORK, "eventlog")
    if args.trace:
        shutil.rmtree(log_dir, ignore_errors=True)
    conf = event_log_conf(log_dir) if args.trace else None
    spark, setup = start_session(get_spark, conf)

    wall["loop"] = time.perf_counter()
    tracer = Tracer(spark if args.trace else None)
    loop = Loop().run(wl, spark, tracer, args.seed, args.seconds,
                      max_rounds=1 if args.trace else None)
    wall["checks"] = time.perf_counter()
    wrong = wl.verify(spark)
    loops = [loop]
    if args.trace:
        wall["traced"] = time.perf_counter()
        values, spark, more = traced_run(get_spark, spark, tracer, wl, args,
                                         log_dir)
        loops += more
    wall["stop"] = time.perf_counter()
    rss = peak_rss_mb(spark)
    stop_jvm(spark)
    wl.close()
    wall["end"] = time.perf_counter()
    problems = ([e for lp in loops for e in lp.errors]
                + [f"{n}: wrong result: {why}" for n, why in wrong.items()])
    attempted = sum(lp.attempted for lp in loops)
    failed = (sum(len(lp.errors) for lp in loops)
              + sum(1 for n in loop.names if n in wrong))

    tail, pct, beyond = metrics.tail(loop.samples)
    e2e = {
        "setup_s": import_s + setup,
        "cpu_ms_per_op": 1000 * sum(loop.cpu) / len(loop.cpu),
    }
    ops_per_s = len(loop.samples) / sum(loop.samples)
    report(args, wl, loop, e2e, ops_per_s, import_s, setup,
           (tail, pct, beyond), rss, attempted, failed, problems)
    marks = list(wall.items())
    log("  wall clock       " + ", ".join(
        f"{name} {t1 - t0:.1f} s" for (name, t0), (_, t1)
        in zip(marks, marks[1:])))
    if args.trace:
        values.update({"session.start_s": setup,
                       "results.mismatched": len(wrong)})
        for k in sorted(values):
            log(f"  {k:<40} {values[k]:.4f}")
    else:
        values = e2e
    print(metrics.result_line(spec, bool(args.trace), values, attempted,
                              failed, failed == 0 and not problems))
    return 0


def report(args, wl, loop: Loop, e2e: dict, ops_per_s: float,
           import_s: float, setup: float, tail: tuple, rss: float,
           attempted: int, failed: int, problems: list[str]) -> None:
    """Readable report: the end-to-end metrics under their workload names."""
    value, pct, beyond = tail
    n = len(loop.samples)
    kind = "query" if isinstance(wl, QueryMix) else "cycle"
    log(f"perfbench {args.workload} seed={args.seed} cores={cores()} "
        f"closed loop, 1 client; {n} {kind} ops, "
        f"{sum(loop.samples):.2f} s measured")
    log(f"  setup_s          {e2e['setup_s']:.4f} s  (import {import_s:.3f} s"
        f" + cold start {setup:.3f} s: JVM launch and a first query)")
    log(f"  {kind}_p50_ms     {1000 * metrics.median(loop.samples):.3f} ms")
    log(f"  {kind}_tail_ms    {1000 * value:.3f} ms  (p{pct:.1f}, "
        f"{beyond} samples beyond, n={n})")
    log(f"  cpu_ms_per_op    {e2e['cpu_ms_per_op']:.3f} ms  (client + JVM "
        f"CPU time per op)")
    if isinstance(wl, QueryMix):
        log(f"  queries_per_s    {ops_per_s:.4f} 1/s")
    else:
        f1, f2 = wl.facts["day1"], wl.facts["day2"]
        log(f"  cycles           loads {', '.join(f'{t:.3f}' for t in wl.load_s)}"
            f" s; reloads {', '.join(f'{t:.3f}' for t in wl.reload_s)} s")
        log(f"  input            day 1: {f1['files']} files, {f1['input_rows']}"
            f" rows, {f1['bytes']} bytes gz; day 2: {f2['files']} files, "
            f"{f2['input_rows']} rows, {f2['bytes']} bytes gz")
    for name, value, unit in wl.report():
        log(f"  {name:<16} {value:.4f} {unit}")
    log(f"  error_rate       {failed / attempted:.4f}  "
        f"({failed} of {attempted} ops failed or wrong)")
    log(f"  peak_rss_mb      {rss:.1f} MB  (client + JVM high-water)")
    for p in problems:
        log(f"  FAILED: {p}")


if __name__ == "__main__":
    sys.exit(main())
