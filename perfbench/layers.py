"""Which functions the traced run wraps, and how one round's spans and
Spark stage records become the per-layer metrics."""

from __future__ import annotations

import os
import sys
from collections import defaultdict

from clickhouse_github_log_importer_spark import api
from clickhouse_github_log_importer_spark.sources.manifest import FileStatus
from clickhouse_github_log_importer_spark.streaming import pipeline

#: streaming.pipeline attribute -> span name (module of the function)
PIPELINE = {
    "run_incremental": "pipeline.run_incremental",
    "check_existing": "sources.check_existing",
    "check_validity": "sources.check_validity",
    "read_raw": "parsers.read_raw",
    "project_events": "parsers.project_events",
    "import_verified": "pipeline.import_verified",
    "reconcile": "pipeline.reconcile",
    "maybe_compact": "pipeline.maybe_compact",
    "compact": "dedup_replacing.compact",
    "update_status": "pipeline.update_status",
}
API = ("envelope", "query", "_plan_metrics", "register_views")
QUERY_SIDE = ("api.query", "api.envelope", "plans.build")

PER_LAYER = (
    # (name, unit)
    ("pipeline.tick_s", "s"),
    ("sources.check_validity_s", "s"),
    ("sources.validated_mb", "MB"),
    ("parsers.project_events_s", "s"),
    ("pipeline.import_self_s", "s"),
    ("pipeline.import_jobs", "count"),
    ("pipeline.import_tasks", "count"),
    ("pipeline.import_executor_cpu_s", "s"),
    ("pipeline.written_mb", "MB"),
    ("pipeline.reconcile_s", "s"),
    ("pipeline.reconcile_jobs", "count"),
    ("dedup_replacing.compact_s", "s"),
    ("dedup_replacing.rewritten_mb", "MB"),
    ("pipeline.compactions", "count"),
    ("plans.build_s", "s"),
    ("plans.build_jobs", "count"),
    ("plans.optimize_s", "s"),
    ("operators.jobs", "count"),
    ("operators.tasks", "count"),
    ("operators.executor_run_s", "s"),
    ("operators.executor_cpu_s", "s"),
    ("operators.shuffle_read_mb", "MB"),
    ("operators.shuffle_write_mb", "MB"),
    ("operators.spill_mb", "MB"),
    ("operators.gc_s", "s"),
    ("api.register_views_s", "s"),
    ("api.execute_s", "s"),
    ("api.plan_metrics_s", "s"),
    ("api_server.http_s", "s"),
    ("cache.held_rdds", "count"),
    ("cache.held_mb", "MB"),
    ("trace.overhead_s", "s"),
    ("trace.overhead_pct", "%"),
)


def _validated_bytes(args, kwargs) -> dict:
    manifest, data_dir = args[0], args[1]
    return {"validated_bytes": sum(
        os.path.getsize(os.path.join(data_dir, k))
        for k in manifest.keys_with(FileStatus.Downloaded))}


def _planning_ms(args, kwargs) -> dict:
    """Analysis, optimization and planning time of the final plan."""
    phases = args[0]._jdf.queryExecution().tracker().phases()
    return {"optimize_ms": sum(
        phases.apply(p).durationMs() for p in ("analysis", "optimization", "planning")
        if phases.contains(p))}


def targets(rec) -> list[tuple[object, str, object]]:
    """(object, attribute, wrapper) for every function the run traces."""
    counts = {"check_validity": _validated_bytes}
    out = [(pipeline, attr, rec.wrap(name, getattr(pipeline, attr), counts.get(attr)))
           for attr, name in PIPELINE.items()]
    out += [(api, attr, rec.wrap(f"api.{attr}", getattr(api, attr),
                                 _planning_ms if attr == "_plan_metrics" else None))
            for attr in API]
    queries = sys.modules.get("clickhouse_github_log_importer_spark.plans.queries")
    if queries is not None:
        out += [(spec, "spark", rec.wrap("plans.build", spec.spark))
                for spec in queries.REGISTRY.values()]
    return out


def round_metrics(spans, self_t: dict, stages: dict) -> dict[str, float]:
    """Per-layer totals of one round."""
    dur: dict[str, float] = defaultdict(float)
    own: dict[str, float] = defaultdict(float)
    n: dict[str, int] = defaultdict(int)
    st: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    counts: dict[str, float] = defaultdict(float)
    for sp in spans:
        dur[sp.name] += sp.duration
        own[sp.name] += self_t[sp.id]
        n[sp.name] += 1
        for k, v in sp.counts.items():
            counts[k] += v
        for k, v in stages.get(sp.group, {}).items():
            st[sp.name][k] += v
    q = defaultdict(float)
    for name in QUERY_SIDE:
        for k, v in st[name].items():
            q[k] += v
    return {
        "pipeline.tick_s": dur["pipeline.run_incremental"],
        "sources.check_validity_s": dur["sources.check_validity"],
        "sources.validated_mb": counts["validated_bytes"] / 1e6,
        "parsers.project_events_s": dur["parsers.project_events"],
        "pipeline.import_self_s": own["pipeline.import_verified"],
        "pipeline.import_jobs": st["pipeline.import_verified"]["jobs"],
        "pipeline.import_tasks": st["pipeline.import_verified"]["numTasks"],
        "pipeline.import_executor_cpu_s": st["pipeline.import_verified"]["executorCpuTime"] / 1e9,
        "pipeline.written_mb": st["pipeline.import_verified"]["outputBytes"] / 1e6,
        "pipeline.reconcile_s": dur["pipeline.reconcile"],
        "pipeline.reconcile_jobs": st["pipeline.reconcile"]["jobs"],
        "dedup_replacing.compact_s": dur["dedup_replacing.compact"],
        "dedup_replacing.rewritten_mb": st["dedup_replacing.compact"]["outputBytes"] / 1e6,
        "pipeline.compactions": n["dedup_replacing.compact"],
        "plans.build_s": dur["plans.build"],
        "plans.build_jobs": st["plans.build"]["jobs"],
        "plans.optimize_s": counts["optimize_ms"] / 1e3,
        "operators.jobs": q["jobs"],
        "operators.tasks": q["numTasks"],
        "operators.executor_run_s": q["executorRunTime"] / 1e3,
        "operators.executor_cpu_s": q["executorCpuTime"] / 1e9,
        "operators.shuffle_read_mb": q["shuffleReadBytes"] / 1e6,
        "operators.shuffle_write_mb": q["shuffleWriteBytes"] / 1e6,
        "operators.spill_mb": (q["memoryBytesSpilled"] + q["diskBytesSpilled"]) / 1e6,
        "operators.gc_s": q["jvmGcTime"] / 1e3,
        "api.register_views_s": dur["api.register_views"],
        "api.execute_s": own["api.query"] + own["api.envelope"],
        "api.plan_metrics_s": dur["api._plan_metrics"],
        "api_server.http_s": own["api_server.http"],
    }


def held_storage(sc) -> tuple[int, float]:
    """(RDDs held in block storage, their MB in memory and on disk)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / 1e6
