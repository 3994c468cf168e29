"""The benchmark's workloads.

Every workload is closed-loop with one client: an operation is sent
only after the previous one returned.  A run has four phases:

1. inputs (untimed): the seeded log tree;
2. ``SETUPS`` timed set-ups, each a fresh session: ``get_spark``,
   ``ensure_shipped``, ``register_tables`` where the workload queries,
   and a warm-up.  The first also launches the JVM; right after it the
   workload prepares what needs Spark, untimed.  ``setup_s`` is the
   median;
3. the loop: first a few untimed, checked operations in the final
   session, because in a fresh JVM the first operations also compile
   the code path they run (a first ``run_etl`` call takes about twice a
   steady one); then the timed operations, for at least ``--seconds``
   and a minimum number of operations;
4. the correctness checks (untimed).

A traced run (``--trace 1``) runs twice as many timed operations,
alternating untraced and traced ones; the difference of their medians
is the tracing overhead.  Per-layer probes follow the loop.
"""

from __future__ import annotations

import datetime
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter, defaultdict
from contextlib import contextmanager

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from mahjong_etl_spark.operators.mahjong_parse import TABLES, parse_game
from mahjong_etl_spark.plans.catalog import register_tables
from mahjong_etl_spark.plans.etl import SMALL_SINK_ROWS, parse_logs, run_etl
from mahjong_etl_spark.plans.registry import registry
from mahjong_etl_spark.session import get_spark
from mahjong_etl_spark.shipping import ensure_shipped
from mahjong_etl_spark.sources.xml_source import scan_logs

import operators
import star
from corpus import LogTree
from tables import write_tables
from tracing import StatusWindow, Tracer, metric_sum, plan_metrics

SETUPS = 3
# backfill: 10 days x 75 games gives ~310k action rows, above
# plans.etl.SMALL_SINK_ROWS, so the wide REBALANCE sink path runs (the
# run checks it)
BACKFILL_DAYS, BACKFILL_GAMES = 10, 75
BACKFILL_MIN_OPS, BACKFILL_WARM_OPS = 3, 1
# star_queries: one backfill, then daily increments, as production does
STAR_DAYS, STAR_INCREMENTS, STAR_GAMES = 4, 1, 40
STAR_MIN_OPS, STAR_WARM_PASSES = 5, 5
PARSE_SAMPLE = 40
# operator probe: the first pass fills the session caches, the others
# are steady; one keeps a traced star_queries run well under 180 s
OPERATOR_STEADY_PASSES = 1


def median(xs):
    return statistics.median(xs) if xs else 0.0


def parquet_files(root: str, day_iso: str | None = None) -> list[str]:
    out = []
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if d != "_corrupt"]
        if day_iso is not None and os.path.basename(dirpath) != f"dt={day_iso}":
            continue
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".parquet")]
    return out


def iso(day: str) -> str:
    return f"{day[:4]}-{day[4:6]}-{day[6:]}"


class Run:
    """State of one benchmark run of one workload."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(False)
        self.spark = None
        self.setup_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.inputs: dict[str, int] = {}
        self.e2e: dict[str, float] = {}
        self.extra: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.phases: dict[str, float] = defaultdict(float)
        # per-operation samples of the loop, keyed by whether the
        # operation was traced
        self.samples = {False: defaultdict(list), True: defaultdict(list)}
        # False while the operations of the loop are warm-up ones
        self.timing = True

    @contextmanager
    def phase(self, name: str):
        """Accumulate the wall seconds of one phase of the run."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] += time.perf_counter() - t0

    def sample(self, name: str, value: float):
        if self.timing:
            self.samples[self.tracer.enabled][name].append(value)

    # ------------------------------------------------------ sessions

    def _new_session(self):
        if self.spark is not None:
            self.spark.stop()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        with self.tracer.span("shipping.ensure_shipped"):
            ensure_shipped(self.spark)

    def setups(self, warm_up, prepare=None, register_root: str | None = None):
        """``SETUPS`` timed set-ups, each a fresh session.  The first
        launches the JVM; ``prepare`` (untimed) runs right after it."""
        for i in range(SETUPS):
            self.tracer.enabled = self.trace
            t0 = time.perf_counter()
            with self.tracer.span("setup", op=f"setup-{i}"):
                self._new_session()
                if register_root is not None:
                    with self.tracer.span("plans.catalog.register_tables"):
                        register_tables(self.spark, register_root)
                with self.tracer.span("warm_up"):
                    warm_up()
            self.setup_s.append(time.perf_counter() - t0)
            self.phases["setups"] += self.setup_s[-1]
            self.tracer.enabled = False
            if i == 0 and prepare is not None:
                with self.phase("prepare"):
                    prepare()
        self.extra["jvm_launch_setup_s"] = self.setup_s[0]
        if self.trace:
            for name in ("session.get_spark", "shipping.ensure_shipped",
                         "plans.catalog.register_tables"):
                durs = [s["end"] - s["start"] for s in self.tracer.spans if s["name"] == name]
                self.layer[f"{name}_s"] = median(durs)

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # ------------------------------------------------------ ops + checks

    def op(self, fn, *args, **kwargs):
        """One operation; an exception counts as a failed operation."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 — reported, counted, run continues
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            self.problems.append(f"{fn.__name__} raised")
            return None

    def wrong(self, msg: str):
        """Count the current operation as failed."""
        self.failed += 1
        self.problems.append(msg)

    def closed_loop(self, op, summary, min_ops: int, warm_ops: int):
        """Run ``op(i)`` ``warm_ops`` times untimed (``i`` < 0), then
        until both ``seconds`` and ``min_ops`` are reached, and set the
        end-to-end metrics from ``summary(samples)``.  A traced run
        doubles the timed part and alternates untraced and traced
        operations."""
        self.timing = False
        with self.phase("warm"):
            for i in range(-warm_ops, 0):
                op(i)
        self.timing = True
        n, seconds = min_ops, self.seconds
        if self.trace:
            n, seconds = 2 * n, 2 * seconds
        t_end = time.perf_counter() + seconds
        i = 0
        with self.phase("loop"):
            while i < n or time.perf_counter() < t_end:
                self.tracer.enabled = self.trace and i % 2 == 1
                op(i)
                i += 1
        self.tracer.enabled = False
        self.e2e = summary(self.samples[False])
        if self.trace:
            traced = summary(self.samples[True])
            for k in ("latency_p50_s", "pass_wall_s"):
                self.layer[f"trace.overhead_{k}"] = traced[k] - self.e2e[k]
            for k, v in self.samples[True].items():
                if "." in k:  # layer samples are named module.metric
                    self.layer[k] = median(v)

    def check_tree(self, out: str, expected: Counter):
        """Read a written tree back with pyarrow, not Spark: per-table
        row counts from the Parquet footers must equal the driver
        parse, no ``_corrupt`` directory, minted ``kyokus.id`` unique."""
        with self.phase("checks"):
            for t in TABLES:
                n = sum(pq.read_metadata(p).num_rows for p in parquet_files(f"{out}/{t}"))
                if n != expected[t]:
                    self.problems.append(f"read-back {t}: {n} rows, driver parse {expected[t]}")
            if os.path.exists(f"{out}/_corrupt"):
                self.problems.append("_corrupt partition written")
            kyokus = parquet_files(f"{out}/kyokus")
            if kyokus:  # none written is already a count mismatch above
                ids = pq.read_table(kyokus, columns=["id"]).column("id")
                if len(ids) != len(pc.unique(ids)):
                    self.problems.append(f"kyokus.id not unique: {len(ids)} ids")

    def check_counts(self, got: dict | None, expected: Counter, what: str) -> bool:
        """``run_etl``'s returned counts against the driver parse.  A
        mismatch counts the operation failed; ``got`` is None when it
        raised, which :meth:`op` already counted."""
        if got is None:
            return False
        bad = {t: (got.get(t), expected[t]) for t in TABLES if got.get(t) != expected[t]}
        if got.get("_corrupt", 0) or bad:
            self.wrong(f"{what}: corrupt={got.get('_corrupt')} mismatches={bad}")
            return False
        return True

    # ------------------------------------------------------ ETL

    def etl_call(self, op_id: str, *args, **kwargs):
        """``run_etl`` as one operation: its latency, plus the
        status-store window of its jobs when traced."""
        window = StatusWindow(self.spark) if self.tracer.enabled else None
        mark = window.mark() if window else None
        t0 = time.perf_counter()
        with self.tracer.span("plans.etl.run_etl", op=op_id):
            got = self.op(run_etl, self.spark, *args, **kwargs)
        dt = time.perf_counter() - t0
        if window:
            for k, v in window.since(mark).items():
                self.sample(f"plans.etl.{k}", v)
            self.sample("plans.etl.run_etl_s", dt)
        return got, dt

    def etl_probes(self, log_dir: str, sample: list[str]):
        """Per-layer probes of the ingest path, each materialized on its
        own: the XML scan, the parse, and the parser kernel."""
        self.tracer.enabled = True
        with self.phase("probes"):
            self._etl_probes(log_dir, sample)
        self.tracer.enabled = False

    def _etl_probes(self, log_dir: str, sample: list[str]):
        with self.tracer.span("sources.xml_source.scan_logs", op="probe-scan"):
            t0 = time.perf_counter()
            scan = scan_logs(self.spark, log_dir).select(F.length("content"))
            scan.collect()
            self.layer["sources.xml_source.scan_s"] = time.perf_counter() - t0
        m = plan_metrics(scan)
        self.layer["sources.xml_source.files"] = metric_sum(m, "numFiles", "Scan")
        self.layer["sources.xml_source.bytes"] = metric_sum(m, "filesSize", "Scan")

        with self.tracer.span("plans.etl.parse_logs", op="probe-parse"):
            t0 = time.perf_counter()
            parsed = parse_logs(self.spark, log_dir).select("game_id")
            parsed.collect()
            parse_s = time.perf_counter() - t0
        m = plan_metrics(parsed)
        self.layer["plans.etl.parse_logs_s"] = parse_s
        for key, name, scale in [
            ("pythonBootTime", "python_boot_s", 1e3),
            ("pythonInitTime", "python_init_s", 1e3),
            ("pythonTotalTime", "python_total_s", 1e3),
            ("pythonDataSent", "python_bytes_sent", 1),
            ("pythonDataReceived", "python_bytes_received", 1),
        ]:
            self.layer[f"plans.etl.parse.{name}"] = metric_sum(m, key, "MapInPandas") / scale
        self.layer["plans.etl.sink_s"] = self.layer["plans.etl.run_etl_s"] - parse_s

        times = []
        for path in sample:
            with open(path, "rb") as f:
                xml = f.read()
            day = os.path.basename(os.path.dirname(path))
            started = datetime.datetime.strptime(day, "%Y%m%d").date()
            with self.tracer.span("operators.mahjong_parse.parse_game", op="probe-kernel"):
                t0 = time.perf_counter()
                parse_game(xml, os.path.basename(path)[:-4], started)
                times.append(time.perf_counter() - t0)
        self.layer["operators.mahjong_parse.parse_game_ms"] = median(times) * 1e3

    def boot_workers(self):
        """Warm-up for the ingest workloads: start one Python worker per
        core with the parser imported, as the parse stage needs."""

        def boot(batches):
            import mahjong_etl_spark.operators.mahjong_parse  # noqa: F401

            yield from batches

        n = self.spark.sparkContext.defaultParallelism
        self.spark.range(n).repartition(n).mapInPandas(boot, "id long").collect()


# ---------------------------------------------------------- workloads


def backfill(run: Run):
    tree = LogTree(f"{run.work}/logs", run.seed)
    with run.phase("inputs"):
        days = [tree.add_day(BACKFILL_GAMES) for _ in range(BACKFILL_DAYS)]
        expected = tree.expected(days)
    n_games, n_bytes = tree.n_games(days), tree.n_bytes(days)
    run.inputs = {"games": n_games, "files": n_games, "xml_bytes": n_bytes}
    if expected["actions"] <= SMALL_SINK_ROWS:
        run.problems.append(f"backfill has {expected['actions']} actions rows, not above "
                            f"SMALL_SINK_ROWS={SMALL_SINK_ROWS}: the wide sink path would not run")
    outs = []

    def call(i):
        outs.append(f"{run.work}/out/{i}")
        got, dt = run.etl_call(f"backfill-{i}", tree.root, outs[-1])
        if run.check_counts(got, expected, f"backfill call {i}"):
            written = parquet_files(outs[-1])
            run.sample("pass_s", dt)
            run.sample("files", len(written))
            run.sample("bytes", sum(os.path.getsize(p) for p in written))
        if len(outs) > 1:
            shutil.rmtree(outs[-2], ignore_errors=True)

    def summary(s):
        # one pass over the input is one call, so pass_wall_s and
        # latency_p50_s are the same number here
        p50 = median(s["pass_s"])
        return {
            "latency_p50_s": p50,
            "pass_wall_s": p50,
            "games_per_s": n_games / p50 if p50 else 0.0,
            "storage_bytes_per_input_byte": median(s["bytes"]) / n_bytes,
            "files_written": median(s["files"]),
        }

    run.setups(run.boot_workers)
    run.closed_loop(call, summary, BACKFILL_MIN_OPS, BACKFILL_WARM_OPS)
    run.check_tree(outs[-1], expected)
    if run.trace:
        run.etl_probes(tree.root, tree.files[days[0]][:PARSE_SAMPLE])


def star_queries(run: Run):
    tree = LogTree(f"{run.work}/logs", run.seed)
    with run.phase("inputs"):
        days = [tree.add_day(STAR_GAMES) for _ in range(STAR_DAYS)]
    # the pruning query reads one day of the backfill
    pruned_day = iso(days[len(days) // 2])
    out = f"{run.work}/out"
    want = {}

    def write_tree():
        got = run.op(run_etl, run.spark, tree.root, out)
        run.check_counts(got, tree.expected(days), "tree backfill")
        for _ in range(STAR_INCREMENTS):
            day = tree.add_day(STAR_GAMES)
            days.append(day)
            got = run.op(run_etl, run.spark, tree.root, out, date_prefix=day)
            run.check_counts(got, tree.expected([day]), f"tree increment {day}")
        run.check_tree(out, tree.expected(days))
        want.update(star.oracle_hashes(out, pruned_day))

    def warm_up():
        run.spark.range(1).collect()

    def query(name, layers):
        """One query, results to the driver; returns (seconds, rows,
        columns).  Traced, planning and execution are timed apart and
        the executed plan's SQL metrics are added to ``layers``."""
        sql = star.spark_sql(name, pruned_day)
        t0 = time.perf_counter()
        with run.tracer.span("plans.catalog.query", op=name):
            with run.tracer.span("plans.catalog.query_plan"):
                df = run.spark.sql(sql)
                if run.tracer.enabled:
                    df._jdf.queryExecution().executedPlan()
            t1 = time.perf_counter()
            with run.tracer.span("plans.catalog.query_exec"):
                rows = df.collect()
        t2 = time.perf_counter()
        if run.tracer.enabled:
            m = plan_metrics(df)
            layers["plans.catalog.query_plan_s"] += t1 - t0
            layers["plans.catalog.query_exec_s"] += t2 - t1
            layers["plans.catalog.scan_files"] += metric_sum(m, "numFiles", "Scan")
            layers["plans.catalog.scan_bytes"] += metric_sum(m, "filesSize", "Scan")
            layers["plans.catalog.shuffle_write_bytes"] += metric_sum(m, "shuffleBytesWritten")
            layers["plans.catalog.spill_bytes"] += metric_sum(m, "spillSize")
        return t2 - t0, rows, df.columns

    def one_pass(i):
        wall, layers = 0.0, defaultdict(float)
        for name in star.NAMES:
            res = run.op(query, name, layers)
            if res is None:
                continue
            dt, rows, cols = res
            if star.canonical_hash(cols, rows) != want[name]:
                run.wrong(f"{name}: result differs from DuckDB")
                continue
            run.sample(f"query:{name}", dt)
            wall += dt
        run.sample("pass_s", wall)
        for k, v in layers.items():
            run.sample(k, v)

    run.setups(warm_up, write_tree, register_root=out)
    written = parquet_files(out)
    n_games, n_bytes = tree.n_games(days), tree.n_bytes(days)
    run.inputs = {"games": n_games, "files": n_games, "xml_bytes": n_bytes,
                  "parquet_files": len(written)}
    parquet_bytes = sum(os.path.getsize(p) for p in written)

    def summary(s):
        p50 = median(s["pass_s"])
        return {
            "latency_p50_s": median([x for k, v in s.items() if k.startswith("query:") for x in v]),
            "pass_wall_s": p50,
            "games_per_s": n_games / p50 if p50 else 0.0,
            "storage_bytes_per_input_byte": parquet_bytes / n_bytes,
            "files_written": float(len(written)),
        }

    run.closed_loop(one_pass, summary, STAR_MIN_OPS, STAR_WARM_PASSES)
    if run.trace:
        operator_probe(run)
    lat = [x for k, v in run.samples[False].items() if k.startswith("query:") for x in v]
    # reported only with at least 10 samples beyond the 90th percentile
    if len(lat) >= 100:
        run.extra["latency_p90_s"] = statistics.quantiles(lat, n=10)[-1]
    run.extra["queries_timed"] = len(lat)


def operator_probe(run: Run):
    """Per-layer probe of the operator modules, in traced runs of
    star_queries: the operator mix over seeded tables, a cache-filling
    first pass and ``OPERATOR_STEADY_PASSES`` steady ones, each query
    checked against DuckDB."""
    root = f"{run.work}/tables"
    with run.phase("inputs"):
        table_rows = write_tables(root, run.seed)
    run.inputs["operator_table_rows"] = sum(table_rows.values())
    run.inputs["operator_table_bytes"] = sum(
        os.path.getsize(os.path.join(root, f)) for f in os.listdir(root))
    with run.phase("checks"):
        expected = operators.Expected(root)
    reg = registry()
    window = StatusWindow(run.spark)
    passes = []

    def query(name):
        mark = window.mark()
        t0 = time.perf_counter()
        with run.tracer.span(operators.module(name), op=name):
            df = reg[name].spark_fn(run.spark, root)
            rows = df.collect()
        dt = time.perf_counter() - t0
        return dt, df, rows, window.since(mark)

    run.tracer.enabled = True
    with run.phase("probes"):
        for i in range(1 + OPERATOR_STEADY_PASSES):
            layers = defaultdict(float)
            for name in operators.NAMES:
                res = run.op(query, name)
                if res is None:
                    continue
                dt, df, rows, jobs = res
                bad = expected.problem(name, df.columns, rows)
                if bad:
                    run.wrong(bad)
                m = plan_metrics(df)
                layers["operators.pass_wall_s"] += dt
                layers[f"{operators.module(name)}.wall_s"] += dt
                layers["operators.python_init_s"] += metric_sum(m, "pythonInitTime") / 1e3
                layers["operators.python_total_s"] += metric_sum(m, "pythonTotalTime") / 1e3
                layers["operators.shuffle_write_bytes"] += jobs["shuffle_write_bytes"]
                layers["operators.spill_bytes"] += jobs["spill_bytes"]
            passes.append(layers)
    run.tracer.enabled = False
    steady = passes[1:]
    for k in passes[0]:
        run.layer[k] = median([p.get(k, 0.0) for p in steady])
    run.layer["operators.cache_fill_s"] = (
        passes[0].get("operators.pass_wall_s", 0.0) - run.layer.get("operators.pass_wall_s", 0.0))


WORKLOADS = {
    "backfill": backfill,
    "star_queries": star_queries,
}
