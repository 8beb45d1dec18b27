"""Spans around the program's public functions, and Spark's counters per span.

``Tracer.install`` replaces each function in ``TARGETS`` with a wrapper, in
the module that defines it and in every package module that imported it by
name (``append_run_log`` inside ``pipeline.ingest_capacity``, for example).
A span records its name, start, end and parent in memory. While a span is
open its jobs run in the Spark job group ``span-<id>``, so after the run the
status store (``sc.statusStore()``, which needs no UI) tells which span each
job, stage and task belongs to. ``Report`` turns the spans and counters into
per-layer numbers.

A span around a lazy call (one that only builds a plan) owns no jobs. For
such spans the record names the next job Spark ran after the span ended and
the span that job ran in: that is where the plan was executed.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

PKG = "hospital_stain_tracker_data_pipeline_spark"

_API = (
    "latest_date", "runs_latest", "capacity_latest", "metrics_latest",
    "metrics_compare", "available_dates", "coverage", "coverage_best_date",
    "dashboard_kpis",
)

# Public functions of each layer the two workloads reach, as
# "<module>.<function>" or "<module>.<Class>.<method>" under the package.
TARGETS = (
    "session.get_spark",
    "sources.csv_source.read_hhs_csv",
    "sources.sinks.append_run_log",
    "sources.sinks.write_rejects_csv",
    "operators.validate.capacity_reject_rules",
    "operators.validate.split_valid_invalid",
    "operators.upsert.dedup_last_writer",
    "operators.upsert.upsert_last_writer_wins",
    "operators.asof.with_prev_calendar_day",
    "pipeline.ingest_capacity.ingest_capacity_csv",
    "pipeline.ingest_capacity.parse_and_validate",
    "pipeline.ingest_capacity.get_or_create_regions",
    "pipeline.lake.LakeTable.exists",
    "pipeline.lake.LakeTable.read",
    "pipeline.lake.LakeTable.overwrite",
    "pipeline.lake.LakeTable.upsert",
    "pipeline.compute_metrics.compute_metrics",
    "pipeline.compute_metrics.metrics_from_capacity",
    *(f"pipeline.api_queries.{f}" for f in _API),
)


class Tracer:
    """Records spans while installed; otherwise ``span`` costs nothing."""

    def __init__(self):
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None
        self._patched: list[tuple[object, str, object]] = []

    def bind(self, sc) -> None:
        self._sc = sc

    def _job_group(self) -> None:
        if self._sc is None:
            return
        if self._stack:
            sid = self._stack[-1]
            self._sc.setJobGroup(f"span-{sid}", self.spans[sid]["name"], False)
        else:
            self._sc.setJobGroup("outside", "outside any span", False)

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._job_group()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["end_epoch_ms"] = time.time() * 1000.0
            self._stack.pop()
            self._job_group()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every target and start recording."""
        self.active = True
        for target in TARGETS:
            parts = target.split(".")
            for cut in range(len(parts) - 1, 0, -1):
                try:
                    owner = importlib.import_module(".".join([PKG, *parts[:cut]]))
                    break
                except ModuleNotFoundError:
                    continue
            for attr in parts[cut:-1]:
                owner = getattr(owner, attr)
            original = getattr(owner, parts[-1])
            wrapper = self._wrap(target, original)
            if isinstance(owner, type):
                self._patched.append((owner, parts[-1], original))
                setattr(owner, parts[-1], wrapper)
                continue
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith(PKG):
                    continue
                for key, value in list(vars(mod).items()):
                    if value is original:
                        self._patched.append((mod, key, original))
                        setattr(mod, key, wrapper)

    def uninstall(self) -> None:
        """Restore every target and stop recording."""
        for owner, key, original in reversed(self._patched):
            setattr(owner, key, original)
        self._patched.clear()
        self.active = False


def spark_status(spark) -> tuple[list[dict], list[dict]]:
    """Every job and stage attempt in the status store, as dicts."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jvm = spark._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(
        mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
    )
    return jobs, stages


COUNTERS = ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes", "run_ms", "output_bytes")


def job_costs(jobs: list[dict], stages: list[dict]) -> dict[int, dict]:
    """Per job: counts, and the bytes and executor time of the stages it ran.
    A stage belongs to the lowest-numbered job that lists it; later jobs
    that list it skipped it."""
    ran: dict[int, Counter] = defaultdict(Counter)
    for s in stages:
        if s["status"] == "SKIPPED":
            continue
        c = ran[s["stageId"]]
        c["shuffle_bytes"] += s["shuffleWriteBytes"]
        c["spill_bytes"] += s["diskBytesSpilled"]
        c["run_ms"] += s["executorRunTime"]
        c["output_bytes"] += s["outputBytes"]
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            owner.setdefault(sid, j["jobId"])
    out = {}
    for j in jobs:
        c = Counter(jobs=1, stages=j["numCompletedStages"], tasks=j["numCompletedTasks"])
        for sid in j["stageIds"]:
            if owner.get(sid) == j["jobId"] and sid in ran:
                c.update(ran[sid])
        out[j["jobId"]] = {
            "group": j.get("jobGroup"),
            "name": j["name"],
            "submitted_ms": j.get("submissionTime") or 0,
            **{k: c[k] for k in COUNTERS},
        }
    return out


class Report:
    """Spans joined to their Spark costs. ``incl`` holds each span's
    duration and counters including its descendants; ``self_s`` is its
    duration minus its children's."""

    def __init__(self, spans: list[dict], costs: dict[int, dict]):
        self.spans = spans
        self.costs = costs
        self.children: dict[int, list[int]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s["id"])
        own: dict[int, Counter] = defaultdict(Counter)
        for c in costs.values():
            group = c["group"] or ""
            if group.startswith("span-"):
                own[int(group[5:])].update({k: c[k] for k in COUNTERS})
        self.incl: dict[int, Counter] = {}
        for s in reversed(spans):  # children start after, so come later
            total = Counter(own.get(s["id"], Counter()))
            for ch in self.children[s["id"]]:
                total.update(self.incl[ch])
            self.incl[s["id"]] = total
        for s in spans:
            s["dur"] = s["end"] - s["start"]
        for s in spans:
            s["self_s"] = s["dur"] - sum(self.spans[c]["dur"] for c in self.children[s["id"]])

    def under(self, roots: list[int]) -> list[dict]:
        """The spans inside ``roots`` (the roots excluded)."""
        out, todo = [], [c for r in roots for c in self.children[r]]
        while todo:
            sid = todo.pop()
            out.append(self.spans[sid])
            todo.extend(self.children[sid])
        return out

    def outermost(self, spans: list[dict], names) -> list[dict]:
        """Spans whose name matches and that sit in no other matching span,
        so recursion and nesting are counted once."""
        match = [s for s in spans if matches(s["name"], names)]
        ids = {s["id"] for s in match}
        out = []
        for s in match:
            p = s["parent"]
            while p is not None and p not in ids:
                p = self.spans[p]["parent"]
            if p is None:
                out.append(s)
        return out

    def lazy_calls(self) -> dict[str, list]:
        """For each span name whose calls ran no Spark job: the call site of
        the next job Spark ran and the span it ran in, with counts."""
        jobs = sorted(self.costs.values(), key=lambda c: c["submitted_ms"])
        seen: dict[str, Counter] = defaultdict(Counter)
        for s in self.spans:
            if self.incl[s["id"]]["jobs"]:
                continue
            nxt = next((c for c in jobs if c["submitted_ms"] >= s["end_epoch_ms"]), None)
            if nxt is None:
                where = ("no later job", "")
            else:
                group = nxt["group"] or ""
                span = (self.spans[int(group[5:])]["name"] if group.startswith("span-")
                        else "outside any span")
                where = (span, nxt["name"])
            seen[s["name"]][where] += 1
        return {
            name: [{"runs_in_span": w[0], "job": w[1], "calls": n} for w, n in c.most_common(3)]
            for name, c in seen.items()
        }


def matches(name: str, names) -> bool:
    return any(name == n or (n.endswith(".") and name.startswith(n)) for n in names)
