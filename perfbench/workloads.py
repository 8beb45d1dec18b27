"""The two workloads. Each takes a ``Bench`` (session, seed, work directory,
tracer) and returns its end-to-end figures, its per-layer figures and the
number of operations attempted and failed.

Both are closed loops driven by one single-threaded client: the next
operation starts when the previous one has returned, until ``--seconds``
have passed. Outputs are kept and checked after the loop, so checking costs
no timed second.
"""

from __future__ import annotations

import datetime as dt
import importlib
import math
import os
import shutil
import statistics
import time
from collections import Counter

import gen
import oracle
from spans import PKG, Report, matches, job_costs, spark_status

# The modules themselves: ``pipeline`` re-exports functions under the
# names of two of them.
api = importlib.import_module(f"{PKG}.pipeline.api_queries")
cm = importlib.import_module(f"{PKG}.pipeline.compute_metrics")
ing = importlib.import_module(f"{PKG}.pipeline.ingest_capacity")
lake_mod = importlib.import_module(f"{PKG}.pipeline.lake")

MAX_BATCHES = 60
# A weekly batch takes 6-10 s. Run-to-run spread comes from the whole run
# being slower or faster, not from single batches, so a third batch made
# the figures no steadier and every run 9 s longer.
INGEST_MIN_OPS = 2
MAX_REQUESTS = 2000

# table -> (natural key, partition column), as the program lays the lake out
TABLES = {
    "capacity_daily": (["date", "region_id"], "date"),
    "metrics_daily": (["date", "region_id"], "date"),
    "regions": (["name"], "name"),
    "pipeline_runs": (["run_id"], "run_id"),
}

INGEST = "pipeline.ingest_capacity.ingest_capacity_csv"
METRICS = "pipeline.compute_metrics.compute_metrics"
READ = "pipeline.lake.LakeTable.read"
UPSERT = "pipeline.lake.LakeTable.upsert"


def table(spark, lake: str, name: str):
    keys, part = TABLES[name]
    return lake_mod.LakeTable(spark, os.path.join(lake, name), keys=keys, partition_col=part)


def build_base_lake(spark, lake: str, history: gen.Batch):
    """The program's own ingest and full metrics job over the history CSV."""
    res = ing.ingest_capacity_csv(spark, history.path, "hhs-history", lake)
    met = cm.compute_metrics(spark, lake)
    return res, met


def check_ingest(res, batch: gen.Batch) -> str | None:
    got = (res.rows_in, res.rows_loaded, res.rows_rejected)
    want = (batch.rows_in, len(batch.valid), sum(batch.reasons.values()))
    if got != want:
        return f"{batch.name}: rows in/loaded/rejected {got} != {want}"
    if oracle.reject_counts(res.rejects_path) != batch.reasons:
        return f"{batch.name}: reject reasons differ"
    return None


def closed_loop(b, n_ops: int, run_op, *, min_ops: int, unit: int = 1) -> list[dict]:
    """Run ``run_op(i, traced)`` for i = 0, 1, ... until ``b.seconds`` have
    passed, at least ``min_ops`` have run, and the count is a whole number
    of ``unit`` operations (one block of the request mix). In a traced run
    each i runs twice, traced and untraced, in alternating order, so the
    tracing overhead is measured on equal work."""
    done = []
    start = time.perf_counter()
    i = 0
    while i < n_ops:
        elapsed = time.perf_counter() - start
        if i >= min_ops and i % unit == 0 and elapsed >= b.seconds:
            break
        modes = (False,) if not b.trace else ((True, False) if i % 2 == 0 else (False, True))
        for traced in modes:
            if traced:
                b.tracer.install()
            t0 = time.perf_counter()
            try:
                with b.tracer.span("bench.op"):
                    out, err = run_op(i, traced), None
            except Exception as e:  # a failed operation is counted, not fatal
                out, err = None, f"{type(e).__name__}: {e}"
            dur = time.perf_counter() - t0
            if traced:
                b.tracer.uninstall()
            done.append({"i": i, "traced": traced, "s": dur, "out": out, "err": err})
            b.log(f"op {i}{' traced' if traced else ''} {dur:.3f} s{' FAILED' if err else ''}")
        i += 1
    b.loop_wall = time.perf_counter() - start
    return done


def peak_rss_mb(spark) -> float:
    """High-water RSS of this Python process plus its JVM."""
    import resource

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (py_kb + jvm_kb) / 1024.0


def end_to_end(b, done: list[dict], setup_s: float) -> dict:
    times = [d["s"] for d in done if not d["traced"]]
    return {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (statistics.median(times), "s"),
        "ops_per_s": (len(times) / b.loop_wall, "1/s"),
    }


# ---------------------------------------------------------------- ingest


def ingest_weekly(b) -> dict:
    history = gen.history(b.seed)
    batches = gen.weekly_batches(b.seed, MAX_BATCHES)
    b.write_inputs([history, *batches], [])

    t0 = time.perf_counter()
    spark = b.start_spark()
    base = os.path.join(b.work, "lake-base")
    res, met = build_base_lake(spark, base, history)
    setup_s = time.perf_counter() - t0
    b.log(f"set-up {setup_s:.1f} s")

    problems = []
    if err := check_ingest(res, history):
        problems.append(err)
    # fresh copies of the untouched base lake, one per mode (untimed)
    lakes = {False: os.path.join(b.work, "lake-run"), True: os.path.join(b.work, "lake-traced")}
    for mode in (False, True) if b.trace else (False,):
        shutil.copytree(base, lakes[mode])

    def run_op(i, traced):
        batch = batches[i]
        r = ing.ingest_capacity_csv(spark, batch.path, "hhs-weekly", lakes[traced])
        m = cm.compute_metrics(spark, lakes[traced], dates=batch.dates)
        return r, m

    done = closed_loop(b, len(batches), run_op, min_ops=INGEST_MIN_OPS)
    b.log(f"{len(done)} operations in {b.loop_wall:.1f} s")

    # ---- checks (untimed)
    truth = {mode: oracle.Lake(history.valid) for mode in lakes}
    failed = 0
    for d in done:
        batch = batches[d["i"]]
        lake_truth = truth[d["traced"]]
        lake_truth.apply(batch.valid)
        err = d["err"]
        if err is None:
            r, m = d["out"]
            days = set(batch.days)
            touched = sum(1 for (day, _) in lake_truth.cells if day in days)
            err = check_ingest(r, batch) or (
                None if m.rows_in == touched else f"{batch.name}: metrics rows {m.rows_in} != {touched}"
            )
        if err:
            failed += 1
            problems.append(err)
    for mode in {d["traced"] for d in done}:
        last = batches[max(d["i"] for d in done if d["traced"] == mode)]
        if err := check_lake(lakes[mode], truth[mode], last):
            problems.append(err)
            failed += 1

    b.log("checked")
    e2e = end_to_end(b, done, setup_s)
    layers = {}
    if b.trace:
        csv_bytes = sum(len(batches[d["i"]].text.encode()) for d in done if d["traced"])
        rows = [d["out"][0] for d in done if d["traced"] and d["out"]]
        layers = layer_metrics(
            b,
            done,
            csv_bytes=csv_bytes,
            reject_ratio=sum(r.rows_rejected for r in rows) / max(1, sum(r.rows_in for r in rows)),
            lake=lakes[True],
        )
    return {"e2e": e2e, "layers": layers, "attempted": len(done), "failed": failed,
            "problems": problems}


def check_lake(lake: str, truth: oracle.Lake, last: gen.Batch) -> str | None:
    """Bronze and silver each hold one row per distinct (date, region), and
    the silver rows of the last batch's dates equal the recomputation."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    by_date = ds.partitioning(pa.schema([("date", pa.string())]), flavor="hive")

    def dataset(name):
        return ds.dataset(os.path.join(lake, name), format="parquet", partitioning=by_date)

    want = len(truth.cells)
    for name in ("capacity_daily", "metrics_daily"):
        n = dataset(name).count_rows()
        if n != want:
            return f"{name}: {n} rows, want {want}"
    names = dict(zip(*ds.dataset(os.path.join(lake, "regions"), format="parquet")
                     .to_table(columns=["region_id", "name"]).to_pydict().values()))
    silver = dataset("metrics_daily").to_table(
        columns=["date", "region_id", "bed_occ_pct", "icu_occ_pct", "strain_index"],
        filter=ds.field("date").isin(last.dates),
    ).to_pylist()
    got = sorted(
        (dt.date.fromisoformat(r["date"]), names[r["region_id"]], r["bed_occ_pct"],
         r["icu_occ_pct"], r["strain_index"])
        for r in silver
    )
    if not oracle.same(got, [row for day in last.days for row in truth.metrics_latest(day)]):
        return "metrics_daily: last batch's rows differ from the recomputation"
    return None


# ------------------------------------------------------------- dashboard


def answer(spark, lake: str, req: dict, tracer):
    """One dashboard request: open the tables it needs, build the answer
    with ``api_queries`` and collect it."""
    kind = req["kind"]
    if kind == "runs_latest":
        df = api.runs_latest(table(spark, lake, "pipeline_runs").read(), req["limit"])
    elif kind == "capacity_latest":
        df = api.capacity_latest(
            table(spark, lake, "capacity_daily").read(), table(spark, lake, "regions").read(),
            req["date"],
        )
    elif kind in gen.DATE_KINDS:
        metrics = table(spark, lake, "metrics_daily").read()
        regions = table(spark, lake, "regions").read()
        if kind == "metrics_compare":
            df = api.metrics_compare(metrics, regions, req["date"])
        else:
            df = api.metrics_latest(metrics, regions, req["date"])
            if kind == "dashboard_kpis":
                df = api.dashboard_kpis(df)
    else:
        metrics = table(spark, lake, "metrics_daily").read()
        if kind == "available_dates":
            df = api.available_dates(metrics, req["full"])
        elif kind == "coverage":
            df = api.coverage(metrics, req["min_rows"])
        else:
            df = api.coverage_best_date(metrics, req["min_rows"])
    with tracer.span("bench.collect"):
        return df.collect()


# One request of each kind before set-up ends: in a fresh session the first
# block of requests runs 15-30 % slower than later ones, by an amount that
# varies from run to run.
WARM_REQUESTS = tuple(
    {"kind": k, "date": None, "full": False, "min_rows": 1, "limit": 20}
    for k in gen.REQUEST_KINDS
)


def dashboard_reads(b) -> dict:
    history = gen.history(b.seed)
    history_dates = history.days
    reqs = gen.requests(b.seed, MAX_REQUESTS, history_dates)
    b.write_inputs([history], reqs)

    t0 = time.perf_counter()
    spark = b.start_spark()
    lake = os.path.join(b.work, "lake-base")
    res, met = build_base_lake(spark, lake, history)
    for req in WARM_REQUESTS:
        answer(spark, lake, req, b.tracer)
    setup_s = time.perf_counter() - t0
    b.log(f"set-up {setup_s:.1f} s")

    problems = []
    if err := check_ingest(res, history):
        problems.append(err)
    done = closed_loop(b, len(reqs), lambda i, traced: answer(spark, lake, reqs[i], b.tracer),
                       min_ops=len(gen.REQUEST_KINDS), unit=len(gen.REQUEST_KINDS))
    b.log(f"{len(done)} operations in {b.loop_wall:.1f} s")

    truth = oracle.Lake(history.valid)
    latest = history_dates[-1]
    runs = [
        (met.run_id, "success", met.rows_in, met.rows_loaded, 0),
        (res.run_id, "success", res.rows_in, res.rows_loaded, res.rows_rejected),
    ]
    failed = 0
    for d in done:
        err = d["err"] or oracle.check_request(truth, reqs[d["i"]], d["out"], latest, runs)
        if err:
            failed += 1
            problems.append(err)

    b.log("checked")
    e2e = end_to_end(b, done, setup_s)
    layers = {}
    if b.trace:
        untraced = sorted(d["s"] for d in done if not d["traced"])
        layers = layer_metrics(b, done, lake=lake, read_p90_s=_nearest_rank(untraced, 0.9))
    return {"e2e": e2e, "layers": layers, "attempted": len(done), "failed": failed,
            "problems": problems}


def _nearest_rank(sorted_values: list[float], q: float) -> float:
    return sorted_values[max(0, math.ceil(q * len(sorted_values)) - 1)]


# ------------------------------------------------------------ per layer


def layer_metrics(b, done, *, lake, csv_bytes=0, reject_ratio=0.0, read_p90_s=0.0) -> dict:
    """Per-layer figures over the traced operations, each per operation
    (one weekly batch, or one dashboard request) unless its name says
    otherwise."""
    jobs, stages = spark_status(b.spark)
    rep = Report(b.tracer.spans, job_costs(jobs, stages))
    ops = [s["id"] for s in b.tracer.spans if s["name"] == "bench.op"]
    n = len(ops)
    inside = rep.under(ops)

    def total(names, field="dur"):
        spans = rep.outermost(inside, names)
        if field == "dur":
            return sum(s["dur"] for s in spans) / n
        if field == "self":
            return sum(s["self_s"] for s in spans) / n
        return sum(rep.incl[s["id"]][field] for s in spans) / n

    def calls(names):
        return sum(1 for s in inside if matches(s["name"], names)) / n

    op_wall = sum(rep.spans[i]["dur"] for i in ops)
    op_cost = sum((rep.incl[i] for i in ops), start=Counter())
    untraced = sum(d["s"] for d in done if not d["traced"])
    traced = sum(d["s"] for d in done if d["traced"])
    files = [
        v for name in ("capacity_daily", "metrics_daily")
        for v in table(b.spark, lake, name).partition_file_counts().values()
    ]
    upsert_out = sum(rep.incl[s["id"]]["output_bytes"] for s in rep.outermost(inside, [UPSERT]))
    get_spark = [s["dur"] for s in rep.spans if s["name"] == "session.get_spark"]
    api = ["pipeline.api_queries."]
    m = {
        "session.get_spark_s": (get_spark[0] if get_spark else 0.0, "s"),
        "csv.read_s": (total(["sources.csv_source.read_hhs_csv"]), "s"),
        "sinks.run_log_s": (total(["sources.sinks.append_run_log"]), "s"),
        "sinks.run_log_calls": (calls(["sources.sinks.append_run_log"]), "count"),
        "sinks.rejects_s": (total(["sources.sinks.write_rejects_csv"]), "s"),
        "ingest.self_s": (total([INGEST], "self"), "s"),
        "ingest.jobs": (total([INGEST], "jobs"), "count"),
        "ingest.regions_s": (total(["pipeline.ingest_capacity.get_or_create_regions"]), "s"),
        "ingest.reject_ratio": (reject_ratio, "ratio"),
        "lake.upsert_s": (total([UPSERT]), "s"),
        "lake.upsert_jobs": (total([UPSERT], "jobs"), "count"),
        "lake.write_amplification": (upsert_out / csv_bytes if csv_bytes else 0.0, "ratio"),
        "lake.files_per_partition": (sum(files) / max(1, len(files)), "count"),
        "lake.open_s": (total([READ]), "s"),
        "lake.open_jobs": (total([READ], "jobs"), "count"),
        "lake.listing_tasks": (total([READ], "tasks"), "count"),
        "metrics.self_s": (total([METRICS], "self"), "s"),
        "metrics.jobs": (total([METRICS], "jobs"), "count"),
        "api.call_s": (total(api), "s"),
        "api.collect_s": (total(["bench.collect"]), "s"),
        "api.jobs_per_request": (total(api + ["bench.collect"], "jobs"), "count"),
        "api.tasks_per_request": (total(api + ["bench.collect"], "tasks"), "count"),
        "spark.jobs": (op_cost["jobs"] / n, "count"),
        "spark.stages": (op_cost["stages"] / n, "count"),
        "spark.tasks": (op_cost["tasks"] / n, "count"),
        "spark.shuffle_bytes": (op_cost["shuffle_bytes"] / n, "bytes"),
        "spark.spill_bytes": (op_cost["spill_bytes"] / n, "bytes"),
        "spark.executor_run_s": (op_cost["run_ms"] / 1000.0 / n, "s"),
        "spark.busy_ratio": (op_cost["run_ms"] / 1000.0 / (op_wall * b.cores), "ratio"),
        "trace.unattributed_s": (sum(rep.spans[i]["self_s"] for i in ops) / n, "s"),
        "trace.overhead_s": ((traced - untraced) / n, "s"),
        "read_p90_s": (read_p90_s, "s"),
        "peak_rss_mb": (peak_rss_mb(b.spark), "MB"),
    }
    b.trace_record = {
        "spans": [s | {"spark": dict(rep.incl[s["id"]])} for s in rep.spans],
        "jobs": rep.costs,
        "lazy_calls": rep.lazy_calls(),
        "traced_ops": n,
    }
    return m
