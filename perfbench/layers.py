"""Per-layer metrics of a traced run, and the human summary.

Only the measured operations count: the spans under an `op.wave_*`,
`op.maintenance` or `op.registry.*` span. Set-up (the ingest, the
warm-up) and the correctness checks are left out, apart from the
set-up rates named `setup.*`.

Layer time is self time: a span's duration minus the part of it that
its child spans cover, summed over the measured spans of the layer.
Names ending in `.calls` count spans. The Spark figures come from the
event log: each job carries the id of the innermost span that started
it, or, when started from a thread that records no spans, is charged
to the innermost span open at its submission.
"""

from __future__ import annotations

import os
from collections import Counter, defaultdict

from spans import STORE_METHODS, attribute_by_time, children_of, parse_event_log, self_times, union_length
from stats import kind_geomean, median, tail_percentile
from workloads import REGISTRY_QUERIES

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s"}

#: top-level spans whose subtrees are measured
MEASURED = ("op.wave_", "op.maintenance", "op.registry.")

#: engine tables whose segment count and merge-on-read debt are reported
TABLES = ("directory", "file", "hash", "directory_control", "hash_control")

#: spans whose self time plus child spans must equal their wall time
OPS_CHECKED = ("engine.crawl_once", "engine.hash_once", "op.registry.")

#: every per-layer metric, with its unit, in output order; a workload
#: that does not reach a layer reports 0 for it
PER_LAYER: dict[str, str] = {}
for _m in STORE_METHODS:
    PER_LAYER[f"store.{_m}_s"] = "s"
    PER_LAYER[f"store.{_m}.calls"] = "count"
for _k in ("claim", "dir_probe", "file_probe"):
    PER_LAYER[f"store.{_k}_pruned_ratio"] = "ratio"
for _t in TABLES:
    PER_LAYER[f"store.segments.{_t}"] = "count"
    PER_LAYER[f"store.mor_debt.{_t}"] = "count"
PER_LAYER.update({
    "store.disk_mb": "MB",
    "engine.maintenance_s": "s",
    "setup.crawl_files_per_s": "files/s",
    "setup.hash_mb_per_s": "MB/s",
    "scan.build_s": "s",
    "hashing.build_s": "s",
    "engine.crawl_once.self_s": "s",
    "engine.hash_once.self_s": "s",
    "engine.jobs_per_wave": "jobs",
    "scheduler.build_s": "s",
    "merge.build_s": "s",
    "merge.upsert_hashes_into_s": "s",
    "views.build_s": "s",
    "search.build_s": "s",
    "query.exec_s": "s",
})
for _q in REGISTRY_QUERIES:
    PER_LAYER[f"registry.{_q}.build_s"] = "s"
    PER_LAYER[f"registry.{_q}.exec_s"] = "s"
PER_LAYER.update({
    "spark.jobs": "count",
    "spark.job_s": "s",
    "spark.task_cpu_s": "s",
    "spark.driver_gap_s": "s",
    "spark.untagged_jobs": "count",
    "session.get_spark_s": "s",
    "session.peak_rss_mb": "MB",
    "trace.overhead": "ratio",
    "trace.op_p50_s": "s",
})


def store_shape(store) -> dict[str, float]:
    """Segments and merge-on-read debt per table, read from the store's
    manifests (call while the session is up)."""
    out = {}
    for t in TABLES:
        out[f"store.segments.{t}"] = store.segment_count(t)
        out[f"store.mor_debt.{t}"] = sum(store.mor_debt(t).values())
    return out


def measured_roots(spans) -> list[int | None]:
    """For every span, the id of the measured top-level span it lies
    under, or None. Parents come before their children in the list."""
    root: list[int | None] = []
    for s in spans:
        if s.parent is not None:
            root.append(root[s.parent])
        else:
            root.append(s.id if s.name.startswith(MEASURED) else None)
    return root


def self_time_violations(spans, names=OPS_CHECKED) -> int:
    """Ops whose self time plus child spans differs from their wall time
    by more than a microsecond (children overlapping or leaking out)."""
    kids = children_of(spans)
    st = self_times(spans)
    bad = 0
    for s in spans:
        if s.name.startswith(names):
            child = sum(c.end - c.start for c in kids.get(s.id, ()))
            if abs(st[s.id] + child - (s.end - s.start)) > 1e-6:
                bad += 1
    return bad


def per_layer(run, tracer, event_log: str, get_spark_s: float) -> dict:
    spans = tracer.spans
    st = self_times(spans)
    root = measured_roots(spans)
    self_s: dict[str, float] = defaultdict(float)
    incl_s: dict[str, float] = defaultdict(float)
    calls: Counter = Counter()
    for s in spans:
        if root[s.id] is None:
            continue
        self_s[s.name] += st[s.id]
        incl_s[s.name] += s.end - s.start
        calls[s.name] += 1

    def layer_self(prefix: str) -> float:
        return sum(v for k, v in self_s.items() if k.startswith(prefix))

    m: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
    for meth in STORE_METHODS:
        m[f"store.{meth}_s"] = self_s[f"store.{meth}"]
        m[f"store.{meth}.calls"] = calls[f"store.{meth}"]
    m.update(run.layer)
    for layer in ("scan", "hashing", "scheduler", "merge", "views", "search"):
        m[f"{layer}.build_s"] = layer_self(f"{layer}.")
    m["engine.crawl_once.self_s"] = self_s["engine.crawl_once"]
    m["engine.hash_once.self_s"] = self_s["engine.hash_once"]
    m["merge.upsert_hashes_into_s"] = incl_s["merge.upsert_hashes_into"]
    m["query.exec_s"] = sum(v for k, v in self_s.items() if k.endswith(".exec"))
    for q in REGISTRY_QUERIES:
        m[f"registry.{q}.build_s"] = incl_s[f"registry.{q}.build"]
        m[f"registry.{q}.exec_s"] = incl_s[f"registry.{q}.exec"]

    jobs = parse_event_log(event_log) if os.path.exists(event_log) else []
    off = tracer.epoch_offset
    for j in jobs:
        j["tagged"] = j["span"] is not None
    attribute_by_time(spans, jobs, off)
    jobs = [j for j in jobs if j["span"] is not None and root[j["span"]] is not None]
    wave_jobs = sum(
        1 for j in jobs if spans[root[j["span"]]].name == "op.wave_crawl"
    )
    gap = 0.0
    for s in spans:
        if s.parent is None and root[s.id] is not None:
            a, b = s.start + off, s.end + off
            covered = union_length(
                [(max(a, j["t0"]), min(b, j["t1"])) for j in jobs if j["t1"] > a and j["t0"] < b]
            )
            gap += (b - a) - covered
    m["spark.jobs"] = len(jobs)
    m["spark.job_s"] = sum(j["t1"] - j["t0"] for j in jobs)
    m["spark.task_cpu_s"] = sum(j["cpu_s"] for j in jobs)
    m["spark.driver_gap_s"] = gap
    m["spark.untagged_jobs"] = sum(1 for j in jobs if not j["tagged"])
    waves = sum(1 for s in spans if s.name == "op.wave_crawl")
    m["engine.jobs_per_wave"] = wave_jobs / waves if waves else 0.0
    m["session.get_spark_s"] = get_spark_s
    traced = sum(s.end - s.start for s in spans if s.parent is None)
    m["trace.overhead"] = traced / (traced - tracer.overhead_s) if traced > tracer.overhead_s else 1.0
    m["trace.op_p50_s"] = kind_geomean(run.op_s, run.op_kind)
    return {k: (v, PER_LAYER[k]) for k, v in m.items()}


def summary(workload: str, run, e2e: dict) -> str:
    lines = [f"== {workload} seed={run.seed}: attempted {run.attempted}, failed {run.failed}"]
    lines.append("  set-up: " + ", ".join(f"{k} {v:.2f} s" for k, v in run.phases.items()))
    for k, v in e2e.items():
        lines.append(f"  {k:<20} {v:12.4f} {E2E_UNITS[k]}")
    tail = tail_percentile(run.op_s)
    lines.append(
        f"  ops timed: {len(run.op_s)}, {sum(run.op_s):.2f} s; "
        + (f"p{tail[0]:g} = {tail[1]:.4f} s" if tail else "too few samples for a tail percentile")
    )
    by_kind: dict[str, list[float]] = defaultdict(list)
    for k, v in zip(run.op_kind, run.op_s):
        by_kind[k].append(v)
    for k, v in sorted(by_kind.items()):
        lines.append(f"  {k:<34} n={len(v):<3} median {median(v):.4f} s")
    return "\n".join(lines)
