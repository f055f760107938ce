"""Per-layer ledger from a traced run: the Spark event log plus the spans
``pipeline.py --trace`` recorded.

Every job carries the job group of the innermost span that launched it
(``<span name>#<span id>``), so task metrics aggregate per span, and a
CLI stage's totals are the sums over its span subtree. Python worker time
comes from the SQL metrics of the Python exec nodes (the accumulator ids
are taken from the plan infos, so "number of output rows" counts only
Python nodes). A span's self time is its duration minus its children's.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

import pyarrow as pa

from pipeline import LAYERS, STAGES

STAGE_FIELDS = ["wall_s", "jobs", "stages", "tasks", "executor_run_s",
                "executor_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
                "spill_mb", "floor_s"]
_PY_TIMERS = {"time to run Python workers": "python_run_s",
              "time to start Python workers": "python_boot_s",
              "time to initialize Python workers": "python_boot_s"}
_PY_SENT = "data sent to Python workers"
MB = 1024.0 * 1024.0


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the single application logged under ``log_dir``: Spark
    4 writes a rolling ``eventlog_v2_<app>/events_<n>_<app>.zstd`` set."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    # order the rolling parts by n, not as strings
    files.sort(key=lambda f: int(os.path.basename(f).split("_")[1]))
    events = []
    for path in files:
        codec = "zstd" if path.endswith(".zstd") else None
        with pa.input_stream(path, compression=codec) as f:
            events.extend(json.loads(line) for line in f.read().splitlines() if line)
    return events


def _walk(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


def _python_row_accumulators(events: list[dict]) -> set:
    ids = set()
    for e in events:
        info = e.get("sparkPlanInfo")
        if not info:
            continue
        for node in _walk(info):
            names = {m["name"] for m in node.get("metrics", [])}
            if _PY_SENT in names:
                ids.update(m["accumulatorId"] for m in node["metrics"]
                           if m["name"] == "number of output rows")
    return ids


def _group_span(group: str | None) -> int | None:
    if not group or "#" not in group:
        return None
    return int(group.rsplit("#", 1)[1])


def aggregate(events: list[dict]) -> tuple[dict, dict, list]:
    """(per-span totals, Python totals, job records) from the event log.
    Per-span totals: jobs, stages, tasks, run/cpu/gc seconds, shuffle and
    spill bytes. Jobs and tasks outside any span land under key None."""
    per = defaultdict(lambda: defaultdict(float))
    stage_span, jobs = {}, []
    py = defaultdict(float)
    py_rows = _python_row_accumulators(events)
    job_start = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            span = _group_span((e.get("Properties") or {}).get("spark.jobGroup.id"))
            per[span]["jobs"] += 1
            job_start[e["Job ID"]] = (span, e["Submission Time"] / 1000.0)
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_start:
            span, t0 = job_start.pop(e["Job ID"])
            jobs.append({"span": span, "start": t0, "end": e["Completion Time"] / 1000.0})
        elif kind == "SparkListenerStageSubmitted":
            span = _group_span((e.get("Properties") or {}).get("spark.jobGroup.id"))
            stage_span[e["Stage Info"]["Stage ID"]] = span
            per[span]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            span = stage_span.get(e["Stage ID"])
            m = e.get("Task Metrics") or {}
            t = per[span]
            t["tasks"] += 1
            t["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            w = m.get("Shuffle Write Metrics") or {}
            r = m.get("Shuffle Read Metrics") or {}
            t["shuffle_write_mb"] += w.get("Shuffle Bytes Written", 0) / MB
            t["shuffle_read_mb"] += (r.get("Local Bytes Read", 0)
                                     + r.get("Remote Bytes Read", 0)) / MB
            t["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if upd is None:
                    continue
                if name in _PY_TIMERS:
                    py[_PY_TIMERS[name]] += float(upd) / 1000.0
                elif name == _PY_SENT:
                    py["arrow_mb_sent"] += float(upd) / MB
                elif acc.get("ID") in py_rows:
                    py["python_rows"] += float(upd)
    return per, py, jobs


def self_times(spans: list[dict]) -> dict[int, float]:
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def _subtree(spans: list[dict], root: int) -> set:
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s["id"])
    todo, seen = [root], set()
    while todo:
        sid = todo.pop()
        seen.add(sid)
        todo.extend(kids[sid])
    return seen


def layer_metrics(events: list[dict], spans: list[dict], cores: int,
                  facts: dict) -> dict[str, float]:
    """Every per-layer metric by name. Layers that did not run in this
    workload report 0."""
    per, py, jobs = aggregate(events)
    selfs = self_times(spans)
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)

    def self_sum(*names):
        return sum(selfs[s["id"]] for n in names for s in by_name[n])

    def jobs_in(*names):
        return int(sum(per[s["id"]]["jobs"] for n in names for s in by_name[n]))

    out: dict[str, float] = {
        "session.get_session_s": self_sum("session.get_session"),
        "session.first_job_s": self_sum("session.first_job"),
    }
    for stage in STAGES:
        top = by_name[f"cli.{stage}"]
        tot = defaultdict(float)
        wall = 0.0
        for s in top:
            wall += s["end"] - s["start"]
            for sid in _subtree(spans, s["id"]):
                for k, v in per[sid].items():
                    tot[k] += v
        vals = {k: tot[k] for k in STAGE_FIELDS if k not in ("wall_s", "floor_s")}
        vals["wall_s"] = wall
        vals["floor_s"] = wall - tot["executor_run_s"] / cores if top else 0.0
        for k in STAGE_FIELDS:
            out[f"cli.{stage}.{k}"] = vals[k]

    for k in ("python_run_s", "python_boot_s", "python_rows", "arrow_mb_sent"):
        out[f"functions.{k}"] = py[k]

    mobility = [f"plans.mobility.{n}" for n in LAYERS["plans.mobility"]]
    components = [f"operators.components.{n}" for n in LAYERS["operators.components"]]
    located = facts.get("located_rows", 0)
    out.update({
        "plans.mobility.build_s": self_sum(*mobility),
        "plans.mobility.build_jobs": jobs_in(*mobility),
        "plans.mobility.located_rows": located,
        "plans.mobility.home_match_ratio": facts.get("home_match_ratio", 0.0),
        "operators.colocation.build_s": self_sum("operators.colocation.colocation_edges"),
        "operators.colocation.pairs": facts.get("pairs", 0),
        "operators.colocation.pairs_per_ping":
            facts.get("pairs", 0) / located if located else 0.0,
        "operators.components.build_s": self_sum(*components),
        "operators.components.build_jobs": jobs_in(*components),
        "plans.contact_matrix.build_s":
            self_sum("plans.contact_matrix.contact_prob_table"),
        "plans.contact_matrix.to_matrix_s":
            self_sum("plans.contact_matrix.probs_to_matrix"),
        "plans.contact_matrix.blocks": facts.get("blocks", 0),
        "plans.contact_matrix.rows": facts.get("contact_rows", 0),
    })

    n = facts.get("nodes", 0)
    candidates = n * (n - 1) // 2
    sweep = by_name["operators.seir.run_gillespie_sweep"]
    seir_top = {s["id"] for s in by_name["cli.seir_sweep"]}
    t_sweep = min((s["start"] for s in sweep), default=None)
    out.update({
        "operators.graphs.scale_sizes_s": self_sum("operators.graphs.scale_sizes"),
        "operators.graphs.sample_nodes_s": self_sum("operators.graphs.sample_nodes"),
        "operators.graphs.sbm_candidates": candidates,
        "operators.graphs.sbm_edges": facts.get("sbm_edges", 0),
        "operators.graphs.sbm_kept_ratio":
            facts.get("sbm_edges", 0) / candidates if candidates else 0.0,
        "operators.graphs.write_graphml_s": self_sum("operators.graphs.write_graphml"),
        # the sweep is lazy: its work is the seir stage's jobs submitted
        # after run_gillespie_sweep was called (trajectories + stats)
        "operators.seir.sweep_s": self_sum("operators.seir.run_gillespie_sweep") + sum(
            j["end"] - j["start"] for j in jobs
            if t_sweep is not None and j["start"] >= t_sweep
            and j["span"] in seir_top),
        "operators.seir.edges_collected": sum(s.get("edges", 0) for s in sweep),
        "operators.seir.seeds": sum(s.get("seeds", 0) for s in sweep),
        "sources.io.write_matrix_npy_s": self_sum("sources.io.write_matrix_npy"),
    })
    for name, b in facts.get("out_bytes", {}).items():
        out[f"sources.out_mb.{name}"] = b / MB
    return out
