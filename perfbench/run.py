"""Benchmark command for cumulus-etl-spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout (the ``cumulus_etl_spark``
package must be importable from there). Inputs are generated from
``--seed``; every output is checked against an expectation computed in
plain Python; the last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (spans timed by
wrappers installed from outside the program, plus Spark's event log).
See perfbench/README.md for workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("etl_initial", "catalog_sf0.01")
CPUS = 4
SETUP_REPEATS = 3
MIN_PASSES = 4

# Catalog entries run by ``catalog_sf0.01``: a cross-section of the
# headline set (aggregate, join + top-k, window, events, de-id, text
# dedup, graph, sampling) small enough that four passes fit one
# benchmark run on 4 CPUs.
CATALOG_ENTRIES = (
    "q1_pricing_summary", "q18_large_orders", "window_topk_per_customer",
    "events_hourly_rollup", "dedup_last_wins", "deid_anonymize_customers",
    "text_minhash_dedup", "graph_triangle_count", "sample_weighted_reservoir",
)

LAKE_QUERIES = {
    "enc_per_year": "SELECT substring(period.start, 1, 4) AS k, count(*) AS n "
                    "FROM encounter GROUP BY 1",
    "enc_per_subject": "SELECT subject.reference AS k, count(*) AS n "
                       "FROM encounter GROUP BY 1",
    "point_lookup": "SELECT id, meta.lastUpdated AS lu, status FROM encounter "
                    "WHERE id IN ({ids})",
}

END_TO_END_METRICS = (("setup_s", "s"), ("wall_s", "s"), ("peak_rss_mb", "MB"))
ETL_LAYER_METRICS = (
    ("session.get_spark_s", "s"),
    ("sources.detect_resources_s", "s"), ("sources.detect_resources_jobs", "count"),
    ("sources.scan_plan_s", "s"), ("sources.text_scans", "count"),
    ("deid.scrub_plan_s", "s"), ("deid.save_mappings_s", "s"),
    ("deid.save_mappings_jobs", "count"),
    ("sinks.merge_s", "s"), ("sinks.merge_jobs", "count"), ("sinks.merge_tasks", "count"),
    ("sinks.merge_shuffle_write_bytes", "bytes"), ("sinks.merge_files_written", "count"),
    ("sinks.merge_bytes_written", "bytes"), ("sinks.merge_files_linked", "count"),
    ("sinks.merge_rewrite_ratio", "ratio"),
    ("sinks.delete_ids_s", "s"), ("sinks.delete_ids_jobs", "count"),
    ("sinks.delete_ids_files_linked", "count"),
    ("sinks.lake_files", "count"), ("sinks.read_s", "s"),
    ("sinks.lake_bytes_per_input_byte", "ratio"),
    ("lake_query.enc_per_year_s", "s"), ("lake_query.enc_per_subject_s", "s"),
    ("lake_query.point_lookup_s", "s"),
    ("etl.completion_s", "s"), ("etl.completion_jobs", "count"),
    ("etl.run_etl_self_s", "s"), ("etl.run_etl_self_jobs", "count"),
    ("etl.jobs", "count"), ("etl.sql_executions", "count"), ("etl.tasks", "count"),
    ("etl.bytes_read_per_input_byte", "ratio"), ("etl.spill_bytes", "bytes"),
    ("etl.task_skew_max", "ratio"),
)
PLAN_LAYER_METRICS = tuple(
    m for e in CATALOG_ENTRIES for m in ((f"plans.{e}_s", "s"), (f"plans.{e}_jobs", "count"))
) + (
    ("plans.shuffle_write_bytes", "bytes"), ("plans.spill_bytes", "bytes"),
    ("plans.task_skew_max", "ratio"),
)
TRACE_METRICS = (("trace.wall_s", "s"), ("trace.eventlog_mb", "MB"))
LAYER_METRICS = ETL_LAYER_METRICS + PLAN_LAYER_METRICS + TRACE_METRICS


# ---------------------------------------------------------------- helpers

def noise_probe() -> float:
    """The 1e7-iteration pure-Python loop bench.py uses as a host-speed
    anchor (single core)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(10_000_000):
        acc += i
    return time.perf_counter() - t0


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def peak_rss_mb(spark) -> float:
    """Driver JVM plus this Python process."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return vm_hwm_mb("self") + (vm_hwm_mb(proc.pid) if proc is not None else 0.0)


def start_spark(work: str, trace: bool):
    """The program's own session factory, on ``local[4]``, with every
    scratch path inside the work dir."""
    from cumulus_etl_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logs,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{CPUS}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until that
    has exited (it exits when its stdin pipe closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def warm_engine(spark, work: str) -> None:
    """Engine warm-up, no program code: a partitioned parquet round trip
    and a JSON parse, so the JVM's class loading and first JIT of those
    paths land in set-up instead of the first measured unit."""
    from pyspark.sql import functions as F

    path = os.path.join(work, "warmup")
    spark.range(4000).select(
        (F.col("id") % 16).alias("b"), F.to_json(F.struct(F.col("id").alias("a"))).alias("j")
    ).write.mode("overwrite").partitionBy("b").parquet(path)
    spark.read.parquet(path).select(F.from_json("j", "a long").alias("p")).agg(
        F.sum("p.a")
    ).collect()


def median_time(fn, repeats: int) -> float:
    """Median wall time of ``repeats`` calls."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class Ops:
    """Operation ledger for ``attempted``/``failed``."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += problems[:5]


# ---------------------------------------------------------------- etl_initial

class EtlInitial:
    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.input = os.path.join(work, "input")
        self.phi = os.path.join(work, "phi")
        self.lake = os.path.join(work, "lake")
        self.exp: gen.Expect | None = None

    def prepare(self) -> None:
        """Generate the export and the seeded codebook (repeatable)."""
        for d in (self.input, self.phi):
            shutil.rmtree(d, ignore_errors=True)
        salt = gen.write_codebook(self.phi, self.seed)
        self.exp = gen.initial_export(self.input, self.seed, gen.Size(), salt)

    def reset(self) -> None:
        """An empty lake, and a PHI dir holding only the codebook."""
        shutil.rmtree(self.lake, ignore_errors=True)
        for name in os.listdir(self.phi):
            if name != "codebook.json":
                path = os.path.join(self.phi, name)
                shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)

    def unit(self, spark, ops: Ops, tracer=None) -> dict:
        """One ``run_etl`` into an empty lake, then the lake queries and
        every output check. Returns the unit's timings."""
        from cumulus_etl_spark.etl import pipeline

        self.reset()
        t0 = time.perf_counter()
        try:
            summary = pipeline.run_etl(spark, self.input, self.lake, self.phi)
        except Exception as exc:  # noqa: BLE001 - a failed run is a measured outcome
            ops.record([f"run_etl raised {type(exc).__name__}: {exc}"[:300]])
            return {"wall_s": time.perf_counter() - t0, "query_s": {}, "rss_mb": 0.0}
        wall = time.perf_counter() - t0
        if tracer is not None:
            wall -= tracer.spans_named("etl.run_etl")[-1].untimed
        query_s = self.lake_queries(spark, ops, tracer)
        # before the checks, whose pyarrow reads would count as our memory
        rss = peak_rss_mb(spark)
        if tracer is None:
            ops.record(self.check_run(spark, summary))
        else:
            with tracer.paused():
                ops.record(self.check_run(spark, summary))
        return {"wall_s": wall, "query_s": query_s, "rss_mb": rss}

    def table(self, spark, name: str):
        from cumulus_etl_spark.sinks import ManagedTable

        return ManagedTable(spark, self.lake, name)

    def lake_rows(self, spark, name: str, columns: list[str] | None = None) -> list[dict]:
        """A table's live rows, read straight from its parquet files with
        pyarrow — the checks never ask the engine under test for data."""
        import pyarrow.dataset as ds

        from spans import live_files

        files = live_files(self.table(spark, name))
        if not files:
            return []
        t = ds.dataset(files, format="parquet").to_table(columns=columns)
        # the wide FHIR schema is mostly all-null columns; skip them
        keep = [c for c in t.column_names if t.column(c).null_count < t.num_rows]
        return t.select(keep).to_pylist()

    def check_run(self, spark, summary: dict) -> list[str]:
        exp = self.exp
        rows = self.lake_rows(spark, "encounter")
        problems = checks.check_lake_rows(
            [(r["id"], (r.get("meta") or {}).get("lastUpdated"), r.get("status")) for r in rows],
            exp,
        )
        problems += checks.check_no_phi([json.dumps(r, default=str) for r in rows], exp)
        problems += checks.check_completion(
            [r["encounter_id"] for r in self.lake_rows(spark, "etl__completion_encounters",
                                                       ["encounter_id"])],
            [r["table_name"] for r in self.lake_rows(spark, "etl__completion", ["table_name"])],
            exp,
        )
        errors = checks.read_error_lines(os.path.join(self.phi, "errors", gen.TASK))
        quarantined = summary.get("tables", {}).get(gen.TASK, {}).get("quarantined", -1)
        problems += checks.check_quarantine(errors, quarantined, exp)
        return problems

    def lake_queries(self, spark, ops: Ops, tracer=None) -> dict[str, float]:
        """Each lake query once, over a fresh ``ManagedTable.read()``;
        returns seconds per query."""
        want = self.exp.lake_answers()
        ids = ",".join(f"'{gen.anon_id(self.exp.salt, e)}'" for e in self.exp.lookup_ids)
        out = {}
        for name, sql in LAKE_QUERIES.items():
            t0 = time.perf_counter()
            if tracer is not None:
                with tracer.span(f"lake_query.{name}"):
                    result = self.lake_query(spark, sql.format(ids=ids))
            else:
                result = self.lake_query(spark, sql.format(ids=ids))
            out[name] = time.perf_counter() - t0
            if name == "point_lookup":
                got = {r[0]: (r[1], r[2]) for r in result}
            else:
                got = {r[0]: r[1] for r in result}
            ops.record(checks.check_answer(name, got, want[name]))
        return out

    def lake_query(self, spark, sql: str) -> list:
        self.table(spark, "encounter").read().createOrReplaceTempView("encounter")
        return spark.sql(sql).collect()

    def lake_bytes(self, spark) -> tuple[int, int]:
        """(live data files, their bytes) over every table of the lake."""
        from spans import live_files

        files = []
        for name in sorted(os.listdir(self.lake)):
            if os.path.isdir(os.path.join(self.lake, name)):
                files += live_files(self.table(spark, name))
        return len(files), sum(os.path.getsize(f) for f in files)


# ---------------------------------------------------------------- catalog

class Catalog:
    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.data = os.path.join(work, "tables")
        self.sigs: dict[str, list[tuple]] = {}

    def prepare(self) -> None:
        import tpch

        shutil.rmtree(self.data, ignore_errors=True)
        tpch.generate(self.data, self.seed)

    def entries(self) -> dict:
        from cumulus_etl_spark.plans import CATALOG
        from cumulus_etl_spark.plans.catalog import BENCH_RIGS

        every = {**CATALOG, **BENCH_RIGS}
        return {name: every[name] for name in CATALOG_ENTRIES}

    def unit(self, spark, ops: Ops, tracer=None) -> dict:
        """One pass over the entries, each built and materialized."""
        times = {}
        for name, q in self.entries().items():
            t0 = time.perf_counter()
            try:
                if tracer is not None:
                    with tracer.span(f"plans.{name}"):
                        sig = materialize(q.build(spark, self.data))
                else:
                    sig = materialize(q.build(spark, self.data))
                self.sigs.setdefault(name, []).append(sig)
            except Exception as exc:  # noqa: BLE001 - a failed entry is a measured outcome
                ops.record([f"{name} raised {type(exc).__name__}: {exc}"[:300]])
                continue
            finally:
                times[name] = time.perf_counter() - t0
            ops.record(checks.check_signatures({name: self.sigs[name]}))
        return {"wall_s": sum(times.values()), "query_s": times, "rss_mb": peak_rss_mb(spark)}


def materialize(df) -> tuple[int, str]:
    """Force every output column; the (row count, hash sum) signature —
    the same reduction bench.py:materialize uses."""
    from pyspark.sql import functions as F

    row = df.select(F.xxhash64(*df.columns).alias("h")).agg(
        F.count("h").alias("n"), F.sum(F.col("h").cast("decimal(38,0)")).alias("s")
    ).collect()[0]
    return int(row["n"]), str(row["s"])


# ---------------------------------------------------------------- layers

def _summed(tracer, totals: dict, spans) -> "eventlog.Totals":
    """Event-log totals over ``spans`` and everything nested under them."""
    from eventlog import Totals

    t = Totals()
    for sp in spans:
        for sid in tracer.subtree(sp.sid):
            if sid in totals:
                t.add(totals[sid])
    return t


def etl_layers(tracer, totals: dict, wl: EtlInitial, lake: tuple[int, int]) -> dict[str, float]:
    """Per-layer metrics of the traced ``etl_initial`` unit."""
    run = tracer.spans_named("etl.run_etl")[-1]
    kids = tracer.children(run.sid)

    def named(name: str) -> list:
        return [s for s in kids if s.name == name]

    m = {}
    for name in ("sources.detect_resources", "deid.save_mappings", "sinks.delete_ids",
                 "etl.completion"):
        m[f"{name}_s"] = sum(s.seconds for s in named(name))
        m[f"{name}_jobs"] = _summed(tracer, totals, named(name)).jobs
    m["sources.scan_plan_s"] = sum(s.seconds for s in named("sources.scan_plan"))
    m["deid.scrub_plan_s"] = sum(s.seconds for s in named("deid.scrub_plan"))
    # the task's own table merge; completion merges nest under etl.completion
    merges = named("sinks.merge")
    mt = _summed(tracer, totals, merges)
    written = sum(s.extra.get("files_written", 0) for s in merges)
    in_version = sum(s.extra.get("files", 0) for s in merges)
    m.update({
        "sinks.merge_s": sum(s.seconds for s in merges),
        "sinks.merge_jobs": mt.jobs,
        "sinks.merge_tasks": mt.tasks,
        "sinks.merge_shuffle_write_bytes": mt.shuffle_write_bytes,
        "sinks.merge_bytes_written": mt.bytes_written,
        "sinks.merge_files_written": written,
        "sinks.merge_files_linked": sum(s.extra.get("files_linked", 0) for s in merges),
        "sinks.merge_rewrite_ratio": written / in_version if in_version else 0.0,
        "sinks.delete_ids_files_linked": sum(
            s.extra.get("files_linked", 0) for s in named("sinks.delete_ids")),
        "sinks.read_s": sum(s.seconds for s in tracer.spans_named("sinks.read")),
        "sinks.lake_files": lake[0],
        "sinks.lake_bytes_per_input_byte": lake[1] / wl.exp.input_bytes,
    })
    for name in LAKE_QUERIES:
        m[f"lake_query.{name}_s"] = tracer.spans_named(f"lake_query.{name}")[-1].seconds
    everything = _summed(tracer, totals, [run])
    own = totals.get(run.sid)
    m.update({
        "etl.run_etl_self_s": run.seconds - sum(s.seconds for s in kids),
        "etl.run_etl_self_jobs": own.jobs if own else 0,
        "etl.jobs": everything.jobs,
        "etl.sql_executions": everything.sql_executions,
        "etl.tasks": everything.tasks,
        "sources.text_scans": everything.text_scans,
        "etl.bytes_read_per_input_byte": everything.bytes_read / wl.exp.input_bytes,
        "etl.spill_bytes": everything.spill_bytes,
        "etl.task_skew_max": everything.task_skew_max,
        "trace.wall_s": run.seconds,
    })
    return m


def plan_layers(tracer, totals: dict) -> dict[str, float]:
    """Per-layer metrics of the traced catalog pass."""
    from eventlog import Totals

    m, every = {}, Totals()
    for name in CATALOG_ENTRIES:
        sp = tracer.spans_named(f"plans.{name}")[-1]
        t = _summed(tracer, totals, [sp])
        every.add(t)
        m[f"plans.{name}_s"] = sp.seconds
        m[f"plans.{name}_jobs"] = t.jobs
    m["plans.shuffle_write_bytes"] = every.shuffle_write_bytes
    m["plans.spill_bytes"] = every.spill_bytes
    m["plans.task_skew_max"] = every.task_skew_max
    m["trace.wall_s"] = sum(m[f"plans.{n}_s"] for n in CATALOG_ENTRIES)
    return m


# ---------------------------------------------------------------- main

def measure(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, Ops, dict]:
    """Set up, run units for ``seconds`` (at least the minimum count),
    check every output. Returns (metrics, ops, detail): end-to-end
    metrics untraced, per-layer metrics traced."""
    import spans

    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_start = os.getloadavg()
    probe_start = noise_probe()
    tracer = spans.Tracer() if trace else None
    ops = Ops()
    wl = EtlInitial(work, seed) if workload == "etl_initial" else Catalog(work, seed)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, trace)
        session_s = time.perf_counter() - t0
        if isinstance(wl, EtlInitial):
            # the ETL run has one unit; the catalog's first pass is its own
            # warm-up, and the median over passes leaves it out
            warm_engine(spark, work)
        session_s_warm = time.perf_counter() - t0
        prep_s = median_time(wl.prepare, SETUP_REPEATS)

        units = []
        min_units = 1 if isinstance(wl, EtlInitial) else MIN_PASSES
        t_measure = time.perf_counter()
        while len(units) < min_units or time.perf_counter() - t_measure < seconds:
            traced = tracer is not None and len(units) == min_units - 1
            if traced:
                # trace only the last unit: the catalog is warm by then,
                # and the ETL run has just the one
                tracer.sc = spark.sparkContext
                tracer.run_id = "traced"
                tracer.install()
            units.append(wl.unit(spark, ops, tracer if traced else None))
            if traced:
                tracer.uninstall()
                break
        measure_s = time.perf_counter() - t_measure
        lake = wl.lake_bytes(spark) if tracer is not None and isinstance(wl, EtlInitial) else (0, 0)
    finally:
        if spark is not None:
            stop_spark(spark)

    # the catalog's first pass is its warm-up; the ETL run has one unit
    timed = units[1:] if len(units) > 1 else units
    per_query: dict[str, list[float]] = {}
    for u in timed:
        for k, v in u["query_s"].items():
            per_query.setdefault(k, []).append(v)
    metrics = {
        "setup_s": session_s_warm + prep_s,
        "wall_s": statistics.median(u["wall_s"] for u in timed),
        "peak_rss_mb": max(u["rss_mb"] for u in units),
    }
    detail = {
        "workload": workload, "seed": seed, "units": len(units),
        "dims": wl.exp.dims if isinstance(wl, EtlInitial) else None,
        "unit_wall_s": [round(u["wall_s"], 4) for u in units],
        "per_query_s": {k: round(statistics.median(v), 4) for k, v in per_query.items()},
        "phase_s": {"session": round(session_s, 3), "warm_up": round(session_s_warm - session_s, 3),
                    "prepare_median": round(prep_s, 3),
                    "measure": round(measure_s, 3)},
    }
    if tracer is not None:
        metrics = trace_layers(tracer, wl, lake, os.path.join(work, "eventlog"))
        metrics["session.get_spark_s"] = session_s
        spans_file = os.path.join(root, ".perfbench_work", f"spans-{workload}-{seed}.json")
        with open(spans_file, "w") as fh:
            json.dump([s.as_dict() for s in tracer.spans], fh)
        detail["spans_file"] = os.path.relpath(spans_file, root)
    shutil.rmtree(work, ignore_errors=True)

    load_end = os.getloadavg()
    probe_end = noise_probe()
    detail["noise"] = {
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in load_end],
        "cpus": os.cpu_count(),
        "probe_1e7_s": [round(probe_start, 3), round(probe_end, 3)],
        # contended: the 1-min load tops the host's CPUs, or the
        # single-core probe drifted more than 15% across the run
        "noise_suspect": (
            max(load_start[0], load_end[0]) > (os.cpu_count() or CPUS) + 0.5
            or abs(probe_end - probe_start) / min(probe_start, probe_end) > 0.15
        ),
    }
    return metrics, ops, detail


def trace_layers(tracer, wl, lake: tuple[int, int], logs: str) -> dict[str, float]:
    """Fold the event log onto the spans; per-layer metrics."""
    import eventlog

    windows = [(s.sid, s.start_ms, s.end_ms) for s in tracer.spans if s.end_ms]
    totals: dict = {}
    size = 0
    for name in os.listdir(logs):
        path = os.path.join(logs, name)
        for sid, t in eventlog.by_span(eventlog.read_events(path), windows).items():
            totals.setdefault(sid, eventlog.Totals()).add(t)
        size += _tree_bytes(path)
    if isinstance(wl, EtlInitial):
        m = etl_layers(tracer, totals, wl, lake)
    else:
        m = plan_layers(tracer, totals)
    m["trace.eventlog_mb"] = size / 2**20
    return m


def _tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, os.getcwd())
    try:
        import cumulus_etl_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {os.getcwd()}: {exc}",
              file=sys.stderr)
        return 2

    values, ops, detail = measure(args.workload, args.seed, args.seconds, bool(args.trace))
    # layers a workload does not reach report 0
    metrics = {
        n: {"value": float(values.get(n, 0.0)), "unit": u}
        for n, u in (LAYER_METRICS if args.trace else END_TO_END_METRICS)
    }
    detail["problems"] = ops.problems
    print(json.dumps({"detail": detail}, separators=(",", ":")))
    print(json.dumps({
        "correct": ops.failed == 0, "attempted": ops.attempted, "failed": ops.failed,
        "metrics": metrics,
    }, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
