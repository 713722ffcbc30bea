"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload warehouse_load --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  Each run is a fresh process: it generates
its inputs from ``--seed`` (``gen.py``, no program code), starts one Spark
session and runs one tiny job, then runs whole rounds of the workload's
operations until ``--seconds`` have passed (at least one round), stops Spark
and waits for its JVM, checks every output against a computation made apart
from the program (``checks.py``), and prints one JSON line:

    {"correct": true, "attempted": N, "failed": F, "metrics": {...}}

An operation that raises is logged and counted in ``failed``; the round
goes on, and ``correct`` speaks of the outputs of the operations that did
not fail.

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones (spans and Spark counters), and the spans are written to
``.perfbench_work/traces/``.  Everything the run writes stays under
``.perfbench_work/`` in the checkout and the run's own directory there is
removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
from spans import Tracer  # noqa: E402

PKG = "logistream_data_pipeline_aws_spark"
WORKLOADS = ("warehouse_load", "star_analytics")

# input sizes (rows) -- see README.md for how they relate to the paper's
CUSTOMERS = 1000  # x9 line items = 9k rawdata rows
FEED_BATCHES = 4  # of the rawdata's ~18k order/shipping events
STAR_ORDERS = 15_000  # ~60k lineitem
STAR_COPIES = 3
DOCS = 400
GRAPH_ORDERS = 1500

WAREHOUSE_TABLES = ["dim_department", "dim_category", "dim_product", "dim_customer",
                    "dim_geography", "dim_execution_status", "dim_date",
                    "dim_route_shapes", "fact_supplychain_events"]
DASHBOARD = ["a5_profit_by_hierarchy", "a5_profit_rollup", "a6_sales_trend",
             "a6_sales_trend_mom", "a7_schedule_adherence", "a8_returns_by_nation",
             "q1_pricing_summary", "top_customers", "sql_profit_by_hierarchy"]
CURATION = ["corpus_quality_filter", "corpus_gopher_rules", "graph_kcore"]


def per_layer_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    names = ["session.start_s", "round.wall_s",
             "sources.rawdata_passes", "sources.input_mb", "sources.routes_flatten_s",
             "reference_pipeline.build_s"]
    for t in WAREHOUSE_TABLES:
        names += [f"reference_pipeline.write.{t}_s", f"reference_pipeline.write.{t}.jobs"]
    names += ["load.load_s", "load.jobs", "load.stages", "load.tasks", "load.shuffle_write_mb",
              "load.spill_mb", "load.gc_s", "load.warehouse_mb", "load.files"]
    for q in DASHBOARD:
        names += [f"analytics.{q}_s", f"analytics.{q}.jobs"]
    names += ["analytics.query_p50_s", "analytics.queries_per_s",
              "analytics.construct_s", "analytics.plan_s", "analytics.execute_s",
              "analytics.stages", "analytics.scan_mb", "analytics.shuffle_mb",
              "catalog.load_table_calls"]
    names += ["streaming.add_batch_s", "streaming.query_planning_s", "streaming.query_start_s",
              "streaming.affected_buckets_per_batch", "streaming.bytes_written_per_input_byte",
              "streaming.jobs_per_batch", "streaming.live_files", "streaming.snapshot_read_s",
              "streaming.upsert_batch_p50_s", "streaming.upsert_rows_per_s"]
    for op in CURATION:
        names += [f"extensions.{op}.{k}" for k in
                  ("construct_s", "execute_s", "jobs", "stages", "shuffle_mb", "spill_mb")]
    return names


def process_start() -> float:
    """Wall-clock time this process started (from /proc; falls back to now)."""
    try:
        with open("/proc/self/stat") as fh:
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as fh:
            btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return time.time()


def loadavg() -> float:
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return -1.0


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def cpu_seconds(jvm: int | None) -> float:
    """CPU seconds used so far by this process, the Spark JVM and every live
    descendant of the JVM: PySpark's daemon and the Python workers it forks
    for pandas/Arrow UDFs, which live until the session stops.  Each process
    counts its own time plus that of the children it has reaped, so a worker
    that has ended is counted through the daemon that waited for it."""
    t = os.times()
    total = t.user + t.system
    if jvm is None:
        return total
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stats[int(d)] = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # ended while listed
                pass
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[1]), []).append(pid)
    tree, todo = [], [jvm]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo += children.get(pid, [])
    ticks = sum(int(x) for pid in tree if pid in stats for x in stats[pid][11:15])
    return total + ticks / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class Run:
    """State of one benchmark run: paths, session, timings, outputs."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, root: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        self.tr = Tracer(trace)
        self.ops: list[tuple[str, float]] = []  # (operation, wall seconds)
        self.failed = 0
        self.written_by_batch: list[float] = []  # streaming bytes written per landed byte
        self.rounds: list[float] = []
        self.layer: dict[str, float] = {}
        self.gen_s = 0.0
        self.gen_cpu = 0.0
        self.round_cpu: list[float] = []
        self.spark = None
        self.jvm = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def generate(self, fn, *args):
        t, c = time.time(), cpu_seconds(None)
        out = fn(*args)
        self.gen_s += time.time() - t
        self.gen_cpu += cpu_seconds(None) - c
        return out

    def timed(self, name: str, fn, *args, jobs: bool = True):
        """Run one operation, time it, record it.  One that raises is logged
        and counted as failed, and returns ``FAILED``."""
        t = time.time()
        try:
            with self.tr.span(name, jobs=jobs):
                return fn(*args)
        except Exception:
            self.failed += 1
            print(f"perfbench: {name} failed\n{traceback.format_exc()}", file=sys.stderr)
            return FAILED
        finally:
            self.ops.append((name, time.time() - t))


FAILED = object()  # what ``Run.timed`` returns for an operation that raised


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def start_session(run: Run):
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(4, os.cpu_count() or 1)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    from logistream_data_pipeline_aws_spark.session import get_spark

    tmp = run.path("tmp")
    t = time.time()
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": run.path("spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage in the status store for the counters
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    run.layer["session.start_s"] = time.time() - t
    run.spark = spark
    run.jvm = jvm_pid()
    run.tr.attach(spark)
    return spark


def warm_up(run: Run) -> None:
    """One tiny job, so that scheduler start-up is paid in setup."""
    run.spark.range(8).count()


def stop_session(run: Run) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    if run.spark is None:
        return
    run.spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def warehouse_round(run: Run, r: int) -> dict:
    """The paper's DAG, cold from files: rawdata CSV + routes GeoJSON ->
    8 dims + fact -> parquet, then its real-time leg: order/shipping event
    micro-batches merged into an upsert table, read back after each."""
    from logistream_data_pipeline_aws_spark.catalog import RAWDATA_SCHEMA
    from logistream_data_pipeline_aws_spark.plans.reference_pipeline import (
        build_warehouse, write_warehouse)
    from logistream_data_pipeline_aws_spark.sources import (
        flatten_geojson_routes, read_csv, read_geojson)
    from logistream_data_pipeline_aws_spark.streaming.pipeline import (
        foreach_batch_upsert, read_events_stream, read_upsert_table)

    spark, tr = run.spark, run.tr
    src = run.path(f"raw{r}")
    truth = run.generate(gen.rawdata, run.seed * 1000 + r, CUSTOMERS, src)
    feed = run.generate(gen.event_feed, os.path.join(src, "rawdata.csv"), FEED_BATCHES)
    wh = run.path(f"wh{r}")

    def load():
        raw = read_csv(spark, os.path.join(src, "rawdata.csv"), RAWDATA_SCHEMA)
        with tr.span("sources.routes_flatten", jobs=True):
            routes = flatten_geojson_routes(read_geojson(spark, os.path.join(src, "routes.geojson")))
        with tr.span("reference_pipeline.build"):
            tables = build_warehouse(raw, routes)
        if not tr.enabled:
            write_warehouse(tables, wh)
            return
        for name in WAREHOUSE_TABLES:  # one write per table, as write_warehouse does
            with tr.span(f"reference_pipeline.write.{name}", jobs=True):
                write_warehouse({name: tables[name]}, wh)

    gc0 = gc_ms(spark) if tr.enabled else 0
    load_ok = run.timed("load", load, jobs=False) is not FAILED
    if tr.enabled:
        run.layer["load.gc_s"] = (gc_ms(spark) - gc0) / 1e3

    # real-time leg: one file lands, the availableNow drain merges it
    landing, table, ckpt = run.path(f"feed{r}"), run.path(f"upsert{r}"), run.path(f"ckpt{r}")
    data = os.path.join(table, "data")
    os.makedirs(landing)
    snapshots, written, affected = [], [], 0  # written: (bytes written, bytes landed) per drain
    commits: set[str] = set()
    failed0 = run.failed
    for b, events in enumerate(feed):
        tmp = run.path(f"batch{r}-{b}.parquet")
        gen.write_events(events, tmp)
        landed = os.path.getsize(tmp)
        os.replace(tmp, os.path.join(landing, f"batch-{b:04d}.parquet"))

        def drain():
            with tr.span("streaming.query_start"):
                q = foreach_batch_upsert(
                    read_events_stream(spark, landing).select(
                        "user_id", "event_id", "ts", "event_type", "value"),
                    table, ckpt, key_cols=["user_id"], order_cols=["ts", "event_id"])
            q.awaitTermination(120)
            if q.isActive:
                q.stop()
                raise TimeoutError("upsert drain did not finish")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return q

        q = run.timed("upsert_batch", drain, jobs=False)
        if tr.enabled and q is not FAILED:
            tr.add_group("streaming.batch", str(q.runId))
            for p in q.recentProgress:
                d = p.durationMs
                run.layer["streaming.add_batch_s"] = run.layer.get("streaming.add_batch_s", 0) + d.get("addBatch", 0) / 1e3
                run.layer["streaming.query_planning_s"] = run.layer.get("streaming.query_planning_s", 0) + d.get("queryPlanning", 0) / 1e3
            new = set(os.listdir(data)) - commits
            written.append((sum(dir_bytes(os.path.join(data, c)) for c in new), landed))
            affected += sum(x.startswith("_ub=") for c in new for x in os.listdir(os.path.join(data, c)))
            commits |= new
        snapshots.append(run.timed("snapshot_read", lambda: read_upsert_table(spark, table).count()))
    final = None  # the leg's outputs are checked only if none of its operations failed
    if run.failed == failed0:
        final = read_upsert_table(spark, table).drop("_ub").toPandas()
    if tr.enabled and written:
        with open(os.path.join(table, "_manifest.json")) as fh:
            live = [os.path.join(table, d, f"_ub={k}") for k, d in json.load(fh)["buckets"].items()]
        run.layer["streaming.live_files"] = sum(
            sum(f.endswith(".parquet") for f in os.listdir(p)) for p in live)
        run.layer["streaming.bytes_written_per_input_byte"] = (
            sum(w for w, _ in written) / sum(n for _, n in written))
        run.layer["streaming.affected_buckets_per_batch"] = affected / len(written)
        run.written_by_batch = [w / n for w, n in written]
    return {"src": src, "wh": wh if load_ok else None, "truth": truth, "feed": feed,
            "snapshots": snapshots, "final": final}


def gc_ms(spark) -> int:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans)


def star_round(run: Run, r: int, copies: list[str]) -> dict:
    """The warehouse's consumers on the star schema, one closed-loop client:
    the nine dashboard queries in turn, each on the next star copy and each
    result collected, then the curation operators on documents and a
    co-purchase graph this process has not seen."""
    from logistream_data_pipeline_aws_spark.plans import analytics, extensions, sql_views

    spark, tr = run.spark, run.tr
    out: dict = {"queries": {}, "curation": {}}
    for i, q in enumerate(DASHBOARD):
        k = (r * len(DASHBOARD) + i) % len(copies)
        fn = getattr(sql_views if q.startswith("sql_") else analytics, q)

        def query(fn=fn, d=copies[k]):
            with tr.span("analytics.construct"):
                df = fn(spark, d)
            if tr.enabled:
                with tr.span("analytics.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("analytics.execute"):
                return df.collect()

        rows = run.timed(f"analytics.{q}", query)
        if rows is not FAILED:
            out["queries"][(q, k)] = rows

    d = run.path(f"cur{r}")
    out["dir"] = d
    out["truth"] = run.generate(gen.curation, run.seed * 1000 + r, DOCS, GRAPH_ORDERS, d)
    for op in CURATION:
        fn = getattr(extensions, op)

        def call(fn=fn, op=op):
            with tr.span(f"extensions.{op}.construct"):
                df = fn(spark, d)
            with tr.span(f"extensions.{op}.execute"):
                return df.toPandas()

        res = run.timed(f"extensions.{op}", call)
        if res is not FAILED:
            out["curation"][op] = res
    return out


def count_load_table_calls(run: Run) -> list:
    """Traced runs count the dashboard's ``catalog.load_table`` calls by
    wrapping the name in the modules the queries reach it through."""
    import importlib

    calls = [0]
    orig = importlib.import_module(f"{PKG}.catalog").load_table

    def counted(*a, **k):
        calls[0] += 1
        return orig(*a, **k)

    for mod in ("catalog", "plans.analytics"):
        m = importlib.import_module(f"{PKG}.{mod}")
        if getattr(m, "load_table", None) is orig:
            m.load_table = counted
    return calls


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def end_to_end(run: Run, setup_s: float) -> dict:
    return {
        "round_cpu_s": {"value": statistics.median(run.round_cpu), "unit": "s"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }


def per_layer(run: Run, counters: dict, load_calls: int) -> dict:
    tr, L = run.tr, dict.fromkeys(per_layer_names(), 0.0)
    L.update({k: v for k, v in run.layer.items() if k in L})
    c = lambda name, key: counters.get(name, {}).get(key, 0)  # noqa: E731
    L["round.wall_s"] = statistics.median(run.rounds)
    if run.workload == "warehouse_load":
        n = len(run.rounds)
        L["reference_pipeline.build_s"] = tr.total("reference_pipeline.build") / n
        L["sources.routes_flatten_s"] = tr.total("sources.routes_flatten") / n
        load_jobs = load_stages = load_tasks = shuffle = spill = inp = 0.0
        for t in WAREHOUSE_TABLES + ["sources.routes_flatten"]:
            name = t if t.startswith("sources.") else f"reference_pipeline.write.{t}"
            if not t.startswith("sources."):
                L[f"{name}_s"] = tr.total(name) / n
                L[f"{name}.jobs"] = c(name, "jobs") / n
            load_jobs += c(name, "jobs")
            load_stages += c(name, "stages")
            load_tasks += c(name, "tasks")
            shuffle += c(name, "shuffle_mb")
            spill += c(name, "spill_mb")
            inp += c(name, "input_mb")
        L["load.jobs"], L["load.stages"], L["load.tasks"] = load_jobs / n, load_stages / n, load_tasks / n
        L["load.shuffle_write_mb"], L["load.spill_mb"] = shuffle / n, spill / n
        L["load.gc_s"] = run.layer.get("load.gc_s", 0.0)
        L["sources.input_mb"] = inp / n
        # the GeoJSON, read in the same stages, is ~0.5% of the CSV
        L["sources.rawdata_passes"] = (inp - c("sources.routes_flatten", "input_mb")) * 1e6 / (
            run.layer["csv_bytes"] * n)
        L["load.warehouse_mb"] = run.layer["warehouse_bytes"] / 1e6
        L["load.load_s"] = tr.total("load") / n
        batch_s = [t for name, t in run.ops if name == "upsert_batch"]
        L["streaming.upsert_batch_p50_s"] = statistics.median(batch_s)
        L["streaming.upsert_rows_per_s"] = run.layer["feed_rows"] / sum(batch_s)
        batches = tr.count("upsert_batch")
        L["streaming.add_batch_s"] /= batches
        L["streaming.query_planning_s"] /= batches
        L["streaming.query_start_s"] = tr.total("streaming.query_start") / batches
        L["streaming.jobs_per_batch"] = c("streaming.batch", "jobs") / batches
        L["streaming.snapshot_read_s"] = tr.total("snapshot_read") / batches
    else:
        query_s = [t for name, t in run.ops if name.startswith("analytics.")]
        n_q = len(query_s)
        L["analytics.query_p50_s"] = statistics.median(query_s)
        L["analytics.queries_per_s"] = n_q / sum(query_s)
        for q in DASHBOARD:
            name = f"analytics.{q}"
            k = tr.count(name)
            L[f"{name}_s"] = tr.total(name) / k
            L[f"{name}.jobs"] = c(name, "jobs") / k
        for ph in ("construct", "plan", "execute"):
            L[f"analytics.{ph}_s"] = tr.total(f"analytics.{ph}") / n_q
        names = [f"analytics.{q}" for q in DASHBOARD]
        L["analytics.stages"] = sum(c(x, "stages") for x in names) / n_q
        L["analytics.scan_mb"] = sum(c(x, "input_mb") for x in names) / n_q
        L["analytics.shuffle_mb"] = sum(c(x, "shuffle_mb") for x in names) / n_q
        L["catalog.load_table_calls"] = load_calls / n_q
        for op in CURATION:
            name, k = f"extensions.{op}", tr.count(f"extensions.{op}")
            L[f"{name}.construct_s"] = tr.total(f"{name}.construct") / k
            L[f"{name}.execute_s"] = tr.total(f"{name}.execute") / k
            for key in ("jobs", "stages", "shuffle_mb", "spill_mb"):
                L[f"{name}.{key}"] = c(name, key) / k
    return {k: {"value": v, "unit": unit_of(k)} for k, v in L.items()}


def unit_of(name: str) -> str:
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("passes", "per_input_byte")):
        return "ratio"
    return "count"


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="logistream-spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_proc = process_start()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "session.py")):
        print(f"perfbench: no {PKG}/ package under {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    run = Run(args.workload, args.seed, int(args.seconds), bool(args.trace), root)
    shutil.rmtree(run.work, ignore_errors=True)
    os.makedirs(run.path("tmp"))
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = run.path("tmp")
    os.environ["LSDP_STAGE_DIR"] = run.path("stage")  # no staging survives the run
    load0 = loadavg()
    try:
        copies = []
        if run.workload == "star_analytics":
            for k in range(STAR_COPIES):
                copies.append(run.path(f"star{k}"))
                run.generate(gen.star, run.seed * 100 + k, STAR_ORDERS, copies[-1])
        spark = start_session(run)
        warm_up(run)
        setup_s = time.time() - t_proc - run.gen_s
        load_calls = count_load_table_calls(run) if run.tr.enabled else [0]
        outputs = []
        t_window = time.time()
        r = 0
        while r < 1 or time.time() - t_window < run.seconds:
            n_ops = len(run.ops)
            c0, g0 = cpu_seconds(run.jvm), run.gen_cpu
            if run.workload == "warehouse_load":
                outputs.append(warehouse_round(run, r))
            else:
                outputs.append(star_round(run, r, copies))
            run.rounds.append(sum(t for _, t in run.ops[n_ops:]))
            run.round_cpu.append(cpu_seconds(run.jvm) - c0 - (run.gen_cpu - g0))
            r += 1
        counters = run.tr.spark_counters()
    finally:
        t_stop = time.time()
        stop_session(run)
    t_check = time.time()
    try:
        failures = verify(run, outputs, copies)
        if run.workload == "warehouse_load":
            out0 = outputs[0]
            run.layer["csv_bytes"] = os.path.getsize(os.path.join(out0["src"], "rawdata.csv"))
            run.layer["feed_rows"] = sum(len(b) for o in outputs for b in o["feed"])
            whs = [o["wh"] for o in outputs if o["wh"]]  # loads that did not fail
            run.layer["warehouse_bytes"] = statistics.median([dir_bytes(w) for w in whs] or [0])
            run.layer["load.files"] = statistics.median(
                [sum(f.endswith(".parquet") for _, _, fs in os.walk(w) for f in fs) for w in whs] or [0])
        if run.tr.enabled:
            metrics = per_layer(run, counters, load_calls[0])
            os.makedirs(os.path.join(root, ".perfbench_work", "traces"), exist_ok=True)
            run.tr.write(os.path.join(root, ".perfbench_work", "traces",
                                      f"{run.workload}-seed{run.seed}.json"))
        else:
            metrics = end_to_end(run, setup_s)
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
    for f in failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    print(f"perfbench: phases gen {run.gen_s:.1f}s setup {setup_s:.1f}s rounds "
          f"{t_stop - t_window:.1f}s stop {t_check - t_stop:.1f}s checks "
          f"{time.time() - t_check:.1f}s", file=sys.stderr)
    print(f"perfbench: {run.workload} seed={run.seed} rounds={len(run.rounds)} "
          f"ops={len(run.ops)} loadavg {load0:.2f} -> {loadavg():.2f} round_s "
          + " ".join(f"{t:.2f}" for t in run.rounds) + " round_cpu_s "
          + " ".join(f"{t:.2f}" for t in run.round_cpu)
          + " ops " + " ".join(f"{t:.2f}" for _, t in run.ops), file=sys.stderr)
    if run.written_by_batch:
        print("perfbench: streaming bytes written per landed byte, by batch: "
              + " ".join(f"{x:.2f}" for x in run.written_by_batch), file=sys.stderr)
    print(json.dumps({"correct": not failures, "attempted": len(run.ops), "failed": run.failed,
                      "metrics": metrics}))
    return 0


def verify(run: Run, outputs: list, copies: list[str]) -> list[str]:
    """Check the outputs of the operations that did not fail.  A check that
    raises on a malformed output counts as a failed check."""
    todo = []
    if run.workload == "warehouse_load":
        for o in outputs:
            if o["wh"]:
                todo.append((checks.warehouse, os.path.join(o["src"], "rawdata.csv"), o["wh"], o["truth"]))
            if o["final"] is not None:
                todo.append((checks.upsert, o["feed"], o["snapshots"], o["final"]))
    else:
        seen = {}
        for o in outputs:
            seen.update(o["queries"])
            todo.append((checks.curation, o["dir"], o["truth"], o["curation"]))
        for (q, k), rows in sorted(seen.items(), key=lambda kv: kv[0]):
            todo.append((checks.dashboard, q, copies[k], rows))
    failures: list[str] = []
    for fn, *args in todo:
        try:
            failures += fn(*args)
        except Exception as e:
            failures.append(f"{fn.__name__}: check raised {e!r}")
    return failures


if __name__ == "__main__":
    sys.exit(main())
