"""Per-layer metrics of a traced run.

Layer names are engine module names. A layer's time is the self time of
its spans (children excluded); its jobs are the jobs charged to its
spans; a job's stages are charged to the first job that lists them, so a
stage whose output a later job reuses is counted once. Every figure is
per warm traced pass (median over those passes) unless its name says
otherwise.
"""

from __future__ import annotations

import statistics

from lakebench import spans as sp
from lakebench.sparkstore import StageStats
from lakebench.workloads import PAYLOAD_QUERIES as QUERIES

# (metric, unit) in report order
PER_LAYER = [
    ("session.start_s", "s"),
    ("classify.s", "s"), ("classify.jobs", "count"),
    ("detection.s", "s"), ("detection.jobs", "count"),
    ("detection.tasks", "count"), ("detection.memo_hit_ratio", "ratio"),
    ("graph.s", "s"), ("graph.jobs", "count"),
    ("layout.s", "s"), ("layout.jobs", "count"),
    ("layout.driver_cpu_s", "s"),
    ("diagrams.s", "s"), ("diagrams.jobs", "count"),
    ("erd.unattributed_jobs", "count"),
    ("datatest.s", "s"), ("datatest.jobs", "count"),
    ("datatest.shuffle_read_mb", "MB"),
    ("registry.load_s", "s"), ("registry.scan_mb", "MB"),
    ("snapshots.write_s", "s"), ("snapshots.write_mb", "MB"),
    ("snapshots.diff_s", "s"), ("snapshots.restore_s", "s"),
    ("snapshots.write_amp", "ratio"),
] + [(f"query.{q}.{m}", "s") for q in QUERIES
     for m in ("build_s", "exec_s", "cold_minus_warm_s")] + [
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.jvm_gc_s", "s"),
    ("proc.jvm_cpu_s", "s"), ("proc.pyworker_cpu_s", "s"),
    ("proc.driver_py_cpu_s", "s"), ("proc.jvm_peak_rss_mb", "MB"),
    ("proc.jvm_heap_peak_mb", "MB"), ("trace.overhead_ratio", "ratio"),
]

# span name -> metric prefix of the layers timed by self time
_LAYERS = {"operators.classify": "classify",
           "operators.detection": "detection",
           "operators.graph": "graph", "formatters.layout": "layout",
           "formatters.diagrams": "diagrams", "erd": "erd",
           "operators.datatest": "datatest"}


def job_maps(jobs: dict) -> tuple[dict, dict]:
    """(job id -> group, job id -> start) for ``spans.charge_jobs``."""
    return ({j: jobs[j].group for j in jobs},
            {j: jobs[j].submitted for j in jobs
             if jobs[j].submitted is not None})


def stage_owner(jobs: dict) -> dict[int, int]:
    """stage id -> the first job that lists it."""
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for st in jobs[jid].stage_ids:
            owner.setdefault(st, jid)
    return owner


def job_stats(jids, jobs, stages, owner) -> StageStats:
    total = StageStats()
    for jid in jids:
        for st in jobs[jid].stage_ids:
            if owner.get(st) == jid and st in stages:
                total.add(stages[st])
    return total


def _stage_count(jids, jobs, stages, owner) -> int:
    return sum(1 for jid in jids for st in jobs[jid].stage_ids
               if owner.get(st) == jid and st in stages)


def pass_metrics(pass_spans, jobs, stages, owner, rec) -> dict[str, float]:
    """Layer and Spark figures of one traced pass."""
    selfs = sp.self_times(pass_spans)
    cpus = sp.self_cpu(pass_spans)
    charged, _ = sp.charge_jobs(*job_maps(jobs), pass_spans)
    m: dict[str, float] = {}

    def add(key, v):
        m[key] = m.get(key, 0.0) + v

    for s in pass_spans:
        jids = charged[s.sid]
        if s.name in _LAYERS:
            pre = _LAYERS[s.name]
            add(f"{pre}.s", selfs[s.sid])
            add(f"{pre}.jobs", len(jids))
            st = job_stats(jids, jobs, stages, owner)
            add(f"{pre}.tasks", st.tasks)
            add(f"{pre}.shuffle_read_mb", st.shuffle_read_mb)
            add(f"{pre}.driver_cpu_s", cpus[s.sid])
        elif s.name == "sources.registry":
            add("registry.load_s", selfs[s.sid])
            add("registry.scan_mb", s.attrs["mb"])
        elif s.name == "sources.snapshots":
            kind = s.attrs["kind"]
            add(f"snapshots.{kind}_s", selfs[s.sid])
            if kind == "write":
                st = job_stats(jids, jobs, stages, owner)
                add("snapshots.write_mb", st.output_mb)
                add("snapshots.write_src_mb", s.attrs["src_mb"])
        elif s.name.startswith("query."):
            add(s.name + "_s", s.duration)

    every = [j for s in pass_spans for j in charged[s.sid]]
    st = job_stats(every, jobs, stages, owner)
    m.update({
        "erd.unattributed_jobs": m.get("erd.jobs", 0.0),
        "spark.jobs": len(every),
        "spark.stages": _stage_count(every, jobs, stages, owner),
        "spark.tasks": st.tasks, "spark.executor_run_s": st.run_s,
        "spark.executor_cpu_s": st.cpu_s,
        "spark.shuffle_write_mb": st.shuffle_write_mb,
        "spark.spill_mb": st.spill_mb, "spark.jvm_gc_s": rec["gc_s"],
        "proc.jvm_cpu_s": rec["cpu"]["jvm"],
        "proc.pyworker_cpu_s": rec["cpu"]["pyworker"],
        "proc.driver_py_cpu_s": rec["cpu"]["driver_py"],
    })
    src = m.pop("snapshots.write_src_mb", 0.0)
    m["snapshots.write_amp"] = m.get("snapshots.write_mb", 0.0) / src \
        if src else 0.0
    return m


def memo_hit_ratio(all_spans) -> float:
    """Share of ``detect_all`` calls that returned a DataFrame already
    returned earlier in the session."""
    seen: list = []
    calls = hits = 0
    for s in all_spans:
        if s.name != "operators.detection" or "result" not in s.attrs:
            continue
        calls += 1
        r = s.attrs["result"]
        if any(r is x for x in seen):
            hits += 1
        else:
            seen.append(r)
    return hits / calls if calls else 0.0


def per_layer(all_spans, jobs, stages, recs, setup_s) -> dict[str, float]:
    """Every ``PER_LAYER`` metric of a traced run. ``recs`` are the pass
    records; pass 0 is cold and traced, and the warm passes include
    traced and untraced ones."""
    owner = stage_owner(jobs)
    by_pass: dict[int, list] = {}
    for s in all_spans:
        by_pass.setdefault(s.pass_no, []).append(s)
    traced = [r for r in recs[1:] if r["traced"]]
    untraced = [r for r in recs[1:] if not r["traced"]]
    per = [pass_metrics(by_pass[r["p"]], jobs, stages, owner, r)
           for r in traced]
    cold = pass_metrics(by_pass[0], jobs, stages, owner, recs[0])
    out = {}
    for name, _unit in PER_LAYER:
        out[name] = statistics.median(p.get(name, 0.0) for p in per)
    for q in QUERIES:
        key = f"query.{q}"
        warm = statistics.median(
            p.get(f"{key}.build_s", 0.0) + p.get(f"{key}.exec_s", 0.0)
            for p in per)
        out[f"{key}.cold_minus_warm_s"] = (
            cold.get(f"{key}.build_s", 0.0) + cold.get(f"{key}.exec_s", 0.0)
            - warm)
    out["session.start_s"] = setup_s
    out["detection.memo_hit_ratio"] = memo_hit_ratio(all_spans)
    out["trace.overhead_ratio"] = (
        statistics.median(r["wall"] for r in traced)
        / statistics.median(r["wall"] for r in untraced))
    return out
