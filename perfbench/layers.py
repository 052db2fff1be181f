"""Per-layer metrics of the traced run.

Layers are named by module. Times are seconds per traced cycle and counts are
per traced cycle unless the name says otherwise; a layer the workload does not
reach reports 0. Spark figures come from the event log, rolled up to the span
that was innermost when each job was submitted.
"""

from __future__ import annotations

from perfbench import eventlog
from perfbench.stats import median
from perfbench.trace import outermost, self_times
from perfbench.workloads import CORES, QUERIES, op_metrics

_LAYER_METRICS = {
    "session.start_s": "s",
    "maintenance.plan_s": "s",
    "maintenance.rewrite_s": "s",
    "maintenance.rewrite_spark_s": "s",
    "maintenance.rewrite_driver_s": "s",
    "maintenance.files_in": "count",
    "maintenance.files_out": "count",
    "maintenance.bytes_in": "bytes",
    "maintenance.prune_sidecars_s": "s",
    "rewrite.map_s": "s",
    "rewrite.reduce_s": "s",
    "rewrite.shuffle_bytes": "bytes",
    "rewrite.spill_bytes": "bytes",
    "rewrite.gc_s": "s",
    "rewrite.task_skew": "ratio",
    "rewrite.busy_share": "ratio",
    "table.plan_s": "s",
    "table.plan_files_kept": "count",
    "table.plan_files_total": "count",
    "table.read_s": "s",
    "table.append_s": "s",
    "table.replace_files_s": "s",
    "table.delete_where_keys_s": "s",
    "table.rewrite_manifests_s": "s",
    "table.expire_s": "s",
    "table.gc_s": "s",
    "table.manifests_live": "count",
    "metadata.commit_s": "s",
    "metadata.commits": "count",
    "metadata.cas_lost": "count",
    "metadata.bytes_per_commit_p50": "bytes",
    "metadata.bytes_per_commit_last": "bytes",
    "metadata.load_s": "s",
    "metadata.manifest_reads": "count",
    "metadata.manifest_read_s": "s",
    "metadata.manifest_writes": "count",
    "merge.s": "s",
    "merge.spark_s": "s",
    "merge.driver_s": "s",
    "merge.files_live": "count",
    "merge.files_pruned_by_stats": "count",
    "merge.files_rewritten": "count",
    "merge.touched_share": "ratio",
    "ledger.writes": "count",
    "ledger.s": "s",
}
_QUERY_METRICS = {
    f"query.{q}{suffix}": unit
    for q in QUERIES
    for suffix, unit in (("_s", "s"), ("_exec_s", "s"), ("_shuffle_bytes", "bytes"))
}
_SPARK_METRICS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.busy_share": "ratio",
}
# self time by layer: span time not covered by a child span
SELF_LAYERS = {
    "self.bench_s": "bench",
    "self.queries_s": "queries",
    "self.maintenance_s": "lakehouse.maintenance",
    "self.merge_s": "lakehouse.merge",
    "self.table_s": "lakehouse.table",
    "self.metadata_s": "lakehouse.metadata",
    "self.ledger_s": "lakehouse.ledger",
}
_TRACE_METRICS = {
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
    "trace.top_level_share": "ratio",
    "trace.spans": "count",
    "trace.missing": "count",
}
# the per-operation figures behind the end-to-end metrics, from the traced
# run's untraced cycles
_OP_METRICS = {
    "e2e.maintenance_s": "s",
    "e2e.maintenance_incremental_s": "s",
    "e2e.rewrite_gbps": "GB/s",
    "e2e.merge_p50_s": "s",
    "e2e.merge_tail_s": "s",
    "e2e.delete_p50_s": "s",
    "e2e.lookup_p50_s": "s",
    "e2e.lookup_tail_s": "s",
    "e2e.upsert_rows_per_s": "1/s",
    "e2e.query_total_s": "s",
    "e2e.query_geomean_s": "s",
    "e2e.write_amp": "ratio",
    "e2e.space_amp": "ratio",
    "e2e.fail_ratio": "ratio",
}
PER_LAYER = {
    **_LAYER_METRICS, **_QUERY_METRICS, **_SPARK_METRICS,
    **{k: "s" for k in SELF_LAYERS}, **_TRACE_METRICS, **_OP_METRICS,
}


def _named(*suffixes: str):
    return lambda sp: sp.name.endswith(suffixes)


def per_layer_metrics(w, run, log_dir: str) -> dict[str, float]:
    tracer = run.tracer
    spans = tracer.spans
    by_id = {sp.span_id: sp for sp in spans}
    traced_walls = [secs for secs, traced in run.cycle_walls if traced]
    plain_walls = [secs for secs, traced in run.cycle_walls if not traced]
    n = max(len(traced_walls), 1)
    traced_wall = sum(traced_walls)
    c = tracer.counters

    def per_cycle(key: str) -> float:
        return c.get(key, 0.0) / n

    def secs(pred) -> float:
        return sum(sp.end - sp.start for sp in outermost(spans, pred)) / n

    def under(pred):
        """Span or one of its ancestors matches ``pred``."""
        def keep(sp) -> bool:
            while sp is not None:
                if pred(sp):
                    return True
                sp = by_id.get(sp.parent) if sp.parent is not None else None
            return False
        return keep

    jobs, stages = eventlog.parse(eventlog.read_events(log_dir))
    owner = eventlog.attribute(jobs, spans)
    m: dict[str, float] = {"session.start_s": run.facts["session_start_s"]}

    rewrite = _named(".rewrite_global", ".rewrite_partitions")
    rw = eventlog.rollup(jobs, stages, owner, under(rewrite))
    m["maintenance.plan_s"] = secs(_named(".plan_compaction"))
    m["maintenance.rewrite_s"] = secs(rewrite)
    m["maintenance.rewrite_spark_s"] = rw.job_wall_s / n
    m["maintenance.rewrite_driver_s"] = m["maintenance.rewrite_s"] - m["maintenance.rewrite_spark_s"]
    for k in ("files_in", "files_out", "bytes_in"):
        m[f"maintenance.{k}"] = per_cycle(f"maintenance.{k}")
    m["maintenance.prune_sidecars_s"] = secs(_named(".prune_dangling_delete_sidecars"))
    m["rewrite.map_s"] = rw.map_s / n
    m["rewrite.reduce_s"] = rw.reduce_s / n
    m["rewrite.shuffle_bytes"] = rw.shuffle_write_bytes / n
    m["rewrite.spill_bytes"] = rw.spill_bytes / n
    m["rewrite.gc_s"] = rw.gc_s / n
    m["rewrite.task_skew"] = rw.task_skew if rw.jobs else 0.0
    rewrite_wall = m["maintenance.rewrite_s"] * n
    m["rewrite.busy_share"] = rw.executor_run_s / (rewrite_wall * CORES) if rewrite_wall else 0.0

    plans = c.get("table.plans_filtered", 0.0)
    m["table.plan_s"] = secs(_named("LakeTable.files"))
    m["table.plan_files_kept"] = c.get("table.plan_files_kept", 0.0) / plans if plans else 0.0
    m["table.plan_files_total"] = c.get("table.plan_files_total", 0.0) / plans if plans else 0.0
    for metric, fn in (("read_s", "read"), ("append_s", "append"),
                       ("replace_files_s", "replace_files"),
                       ("delete_where_keys_s", "delete_where_keys"),
                       ("rewrite_manifests_s", "rewrite_manifests"),
                       ("expire_s", "expire_snapshots"), ("gc_s", "remove_orphan_files")):
        m[f"table.{metric}"] = secs(_named(f"LakeTable.{fn}"))
    manifests = run.samples.get("manifests_live") or run.traced_samples.get("manifests_live")
    m["table.manifests_live"] = median(manifests) if manifests else 0.0

    commit_bytes = tracer.samples.get("metadata.bytes_per_commit", [])
    m["metadata.commit_s"] = secs(_named(".write_metadata_exclusive"))
    m["metadata.commits"] = per_cycle("metadata.commits")
    m["metadata.cas_lost"] = per_cycle("metadata.cas_lost")
    m["metadata.bytes_per_commit_p50"] = median(commit_bytes) if commit_bytes else 0.0
    m["metadata.bytes_per_commit_last"] = commit_bytes[-1] if commit_bytes else 0.0
    m["metadata.load_s"] = secs(_named(".load_latest_metadata"))
    m["metadata.manifest_reads"] = per_cycle("metadata.manifest_reads")
    m["metadata.manifest_read_s"] = secs(_named(".read_manifest"))
    m["metadata.manifest_writes"] = per_cycle("metadata.manifest_writes")

    merges = c.get("merge.calls", 0.0)
    mg = eventlog.rollup(jobs, stages, owner, under(_named(".merge_into")))
    m["merge.s"] = secs(_named(".merge_into"))
    m["merge.spark_s"] = mg.job_wall_s / n
    m["merge.driver_s"] = m["merge.s"] - m["merge.spark_s"]
    for k in ("files_live", "files_pruned_by_stats", "files_rewritten"):
        m[f"merge.{k}"] = c.get(f"merge.{k}", 0.0) / merges if merges else 0.0
    live = c.get("merge.files_live", 0.0)
    m["merge.touched_share"] = c.get("merge.files_rewritten", 0.0) / live if live else 0.0

    m["ledger.writes"] = per_cycle("ledger.writes")
    m["ledger.s"] = secs(lambda sp: sp.layer == "lakehouse.ledger")

    for q in QUERIES:
        runs = [sp for sp in spans if sp.name == f"op.query:{q}"]
        roll = eventlog.rollup(jobs, stages, owner, under(lambda sp, q=q: sp.name == f"op.query:{q}"))
        k = max(len(runs), 1)
        m[f"query.{q}_s"] = median([sp.end - sp.start for sp in runs]) if runs else 0.0
        m[f"query.{q}_exec_s"] = roll.executor_run_s / k
        m[f"query.{q}_shuffle_bytes"] = roll.shuffle_write_bytes / k

    # engine work only: jobs under the benchmark's timed operations
    ops = under(lambda sp: sp.parent is None and sp.name.startswith("op."))
    sp_all = eventlog.rollup(jobs, stages, owner, ops)
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}"] = getattr(sp_all, k) / n
    m["spark.busy_share"] = sp_all.executor_run_s / (traced_wall * CORES) if traced_wall else 0.0

    st = self_times(spans)
    for metric, layer in SELF_LAYERS.items():
        m[metric] = sum(v for sid, v in st.items() if by_id[sid].layer == layer) / n
    overhead = median(traced_walls) - median(plain_walls) if traced_walls and plain_walls else 0.0
    m["trace.overhead_s"] = overhead
    m["trace.overhead_share"] = overhead / median(plain_walls) if plain_walls else 0.0
    top = sum(sp.end - sp.start for sp in spans if sp.parent is None)
    m["trace.top_level_share"] = top / traced_wall if traced_wall else 0.0
    m["trace.spans"] = len(spans) / n
    m["trace.missing"] = len(tracer.missing)

    for k, v in op_metrics(w, run.samples).items():
        m[f"e2e.{k}"] = v
    m["e2e.fail_ratio"] = run.failed / max(run.attempted, 1)
    return m
