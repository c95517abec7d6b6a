"""Per-layer metrics of a traced run, from the benchmark's own spans
and Spark's event log.

Every figure is per timed unit of work (one refresh on the refresh
workloads, one pass over the mix on ``query_mix``): counters are
averaged over the units, times are medians.  A layer the workload does
not reach reads 0.
"""

from __future__ import annotations

import glob
import os
import statistics

import eventlog
import querymix
from service import LATE_LIMIT_MS, percentile


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _latest_log(trace_dir: str) -> str:
    """The event log of the last Spark application, the one that ran
    the timed loop (each set-up starts a new application)."""
    logs = [p for p in glob.glob(os.path.join(trace_dir, "*"))
            if os.path.isfile(p) and not p.endswith(".jsonl")]
    return max(logs, key=os.path.getmtime)


def per_layer(bench, res: dict, trace_dir: str, e2e: dict, reference: dict) -> dict:
    spans = bench.spans
    spans.dump(os.path.join(trace_dir, "spans.jsonl"))
    log = eventlog.parse(_latest_log(trace_dir))
    units = spans.named("unit")
    n = max(len(units), 1)
    out: dict[str, tuple[float, str]] = {}

    counters = dict.fromkeys(eventlog.COUNTER_NAMES, 0.0)
    jobs = stages = tasks = gap = 0.0
    for u in units:
        u_jobs = log.jobs_of(spans.descendants(u["id"]))
        u_tasks = log.tasks_of(u_jobs)
        for k, v in eventlog.totals(u_tasks).items():
            counters[k] += v
        jobs += len(u_jobs)
        stages += len({t.stage_id for t in u_tasks})
        tasks += len(u_tasks)
        busy = eventlog.covered([(t.launch, t.finish) for t in u_tasks], u["start"], u["end"])
        gap += (u["end"] - u["start"]) - busy
    units_ids = {u["id"] for u in units}

    # Refresh split: Spark job time inside execute_job vs the rest.
    refreshes = [s for s in spans.named("refresh") if s["parent"] in units_ids]
    job_s, driver_s, fetch_s = [], [], []
    for r in refreshes:
        sids = spans.descendants(r["id"])
        busy = eventlog.covered([(j.start, j.end or r["end"]) for j in log.jobs_of(sids)],
                                r["start"], r["end"])
        job_s.append(busy)
        driver_s.append(r["end"] - r["start"] - busy)
        fetch_s.append(sum(s["end"] - s["start"] for s in spans.records
                           if s["name"] == "manifest.fetch" and s["id"] in sids))
    rows = (bench.handler.last_refresh_metrics or {}).get("total_rows") or 0
    out.update({
        "session.build_s": (_median(bench.build_s), "s"),
        "jvm.peak_rss_mb": (res["jvm_peak_rss_mb"], "MB"),
        "setup.first_s": (bench.setup_s[0], "s"),
        "manifest.fetch_s": (_median(fetch_s), "s"),
        "refresh.count": (len(refreshes), "count"),
        "refresh.job_s": (_median(job_s), "s"),
        "refresh.driver_s": (_median(driver_s), "s"),
        "refresh.rows_in": (rows, "count"),
        "refresh.addresses_out": (res["addresses"], "count"),
    })
    for k, v in counters.items():
        unit = "s" if k.endswith("_s") else "bytes" if "bytes" in k else "count"
        out[k] = (v / n, unit)
    out.update({
        "sched.jobs": (jobs / n, "count"),
        "sched.stages": (stages / n, "count"),
        "sched.tasks": (tasks / n, "count"),
        "sched.gap_s": (gap / n, "s"),
    })

    for q in querymix.MIX:
        cons = spans.named(f"query.{q}.construct")
        out[f"query.{q}.construct_s"] = (_median(s["end"] - s["start"] for s in cons), "s")
        out[f"query.{q}.construct_jobs"] = (
            _median(len(log.jobs_of(spans.descendants(s["id"]))) for s in cons), "count")
        out[f"query.{q}.execute_s"] = (
            _median(s["end"] - s["start"] for s in spans.named(f"query.{q}.execute")), "s")

    c = res["client"]
    out.update({
        "lookup.count": (c.count, "count"),
        "lookup.hits": (c.hits, "count"),
        "lookup.misses": (c.misses, "count"),
        "lookup.wrong": (c.wrong, "count"),
        "lookup.late": (sum(x > LATE_LIMIT_MS for x in c.latency_ms), "count"),
        "lookup.generator_late_ms": (percentile(c.generator_late_ms, 99), "ms"),
        "trace.work_s": (e2e["work_s"][0], "s"),
        "trace.work_overhead_s": (
            e2e["work_s"][0] - reference["metrics"]["work_s"]["value"], "s"),
        "trace.setup_overhead_s": (
            e2e["setup_s"][0] - reference["metrics"]["setup_s"]["value"], "s"),
    })
    return out
