"""Per-layer metrics, named after the program's modules.

``instrument`` wraps the public functions each layer exposes, where its
callers look them up; ``unit_metrics`` turns one traced unit's spans,
jobs and stream progress into numbers.  Every workload reports every
metric: a layer a workload does not use reads 0 there, which is the
"no change" prediction for that workload.
"""

from __future__ import annotations

from collections import Counter

from perfbench.trace import StageTotals, Tracer, fold_progress, self_times, subtree

#: operator functions ``plans.nightly`` calls, by the module whose
#: namespace it looks each one up in
NIGHTLY_OPERATORS = [
    "normalize_soda_feed", "new_rows", "filter_to_extent", "tally_mismatches",
    "apply_tally_updates", "moved_geoms", "link_districts", "allocate_blame",
    "intersection_crash_counts", "update_intersection_counts", "top_k",
]
ENRICHMENT_OPERATORS = ["vehicle_flag_exprs"]
OPERATORS = NIGHTLY_OPERATORS + ENRICHMENT_OPERATORS
#: TxTable operations the timed units call (``init`` runs only in
#: set-up; ``merge`` and ``delete`` are left out until a workload calls
#: them as public operations)
TXTABLE_OPS = [
    "append", "overwrite", "merge_update", "delete_where",
    "compact", "vacuum", "read", "read_pruned",
]
#: the change-feed drain has no stateful operator, so no state-store
#: phases are reported
STREAM_PHASES = [
    "batches", "latest_offset_ms", "query_planning_ms", "add_batch_ms",
    "wal_commit_ms", "commit_offsets_ms", "input_rows",
]


def _unit(name: str) -> str:
    if name.endswith(("_s", ".s", "_s_p50")):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes") or name.endswith("bytes_added"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_frac")):
        return "ratio"
    return "count"


def metric_names() -> list[str]:
    names = ["session.start_s", "plans.decl_s", "plans.decl_jobs", "plans.self_s",
             "plancache.calls", "plancache.hits", "plancache.hit_ratio"]
    for fn in OPERATORS:
        names += [f"operators.{fn}.calls", f"operators.{fn}.self_s",
                  f"operators.{fn}.jobs"]
    names += ["operators.exec_s", "operators.cpu_ms", "operators.shuffle_write_bytes",
              "operators.spill_bytes", "operators.tasks",
              "functions.materialize.calls", "functions.materialize.self_s",
              "functions.materialize.persisted_rdds_end"]
    for op in TXTABLE_OPS:
        names += [f"sources.txtable.{op}.calls", f"sources.txtable.{op}.s"]
    names += ["sources.txtable.bytes_added", "sources.txtable.files_added",
              "sources.txtable.log_files", "sources.txtable.pruned_files_ratio"]
    names += [f"streaming.{p}" for p in STREAM_PHASES]
    names += ["spark.jobs", "spark.stages", "spark.tasks", "spark.idle_core_frac",
              "spark.peak_rss_mb",
              "trace.unit_s_p50", "trace.unit_cpu_s_p50"]
    return names


PER_LAYER = {n: _unit(n) for n in metric_names()}


def instrument(tracer: Tracer) -> None:
    """Wrap every layer entry point the workloads reach."""
    from nyc_crash_mapper_etl_script_spark import plancache
    from nyc_crash_mapper_etl_script_spark.functions import materialize
    from nyc_crash_mapper_etl_script_spark.operators import enrichment
    from nyc_crash_mapper_etl_script_spark.plans import nightly
    from nyc_crash_mapper_etl_script_spark.sources.txtable import TxTable

    for fn in NIGHTLY_OPERATORS:
        tracer.wrap(nightly, fn, f"operators.{fn}")
    for fn in ENRICHMENT_OPERATORS:
        tracer.wrap(enrichment, fn, f"operators.{fn}")
    tracer.wrap(nightly, "assign_serial_ids", "plans.assign_serial_ids")
    tracer.wrap(materialize, "share_corpus_subtree", "functions.materialize")
    for op in TXTABLE_OPS:
        tracer.wrap(TxTable, op, f"sources.txtable.{op}", outermost="sources.txtable.")

    memo = plancache.memo

    def counted_memo(df, tag, params, compute):
        if not tracer.enabled:
            return memo(df, tag, params, compute)
        ran = []

        def run():
            ran.append(1)
            return compute()

        with tracer.span("plancache.memo"):
            out = memo(df, tag, params, run)
        tracer.counts["plancache.calls"] += 1
        tracer.counts["plancache.hits"] += not ran
        return out

    plancache.memo = counted_memo


def unit_metrics(spans, untagged, counts: Counter, progress: list,
                 unit: dict, cores: int) -> dict[str, float]:
    """One traced unit's per-layer numbers.  The unit's jobs are
    already attributed to ``spans``; ``untagged`` are its other jobs
    (stream batches)."""
    m = {n: 0.0 for n in PER_LAYER}
    selfs = self_times(spans)
    for s in spans:
        layer, _, fn = s.name.partition(".")
        if s.name == "plans.run_nightly":
            m["plans.decl_s"] += s.end - s.start
            m["plans.decl_jobs"] += sum(len(x.jobs) for x in subtree(spans, s))
        if layer == "plans":
            m["plans.self_s"] += selfs[s.id]
        elif layer == "operators":
            m[f"operators.{fn}.calls"] += 1
            m[f"operators.{fn}.self_s"] += selfs[s.id]
            m[f"operators.{fn}.jobs"] += len(s.jobs)
        elif s.name == "functions.materialize":
            m["functions.materialize.calls"] += 1
            m["functions.materialize.self_s"] += selfs[s.id]
        elif layer == "sources":
            m[f"{s.name}.calls"] += 1
            m[f"{s.name}.s"] += s.end - s.start
        elif s.name == "exec":
            ex = StageTotals()
            for x in subtree(spans, s):
                for t in x.jobs:
                    ex.add(t)
            m["operators.exec_s"] += ex.run_ms / 1000
            m["operators.cpu_ms"] += ex.cpu_ms
            m["operators.shuffle_write_bytes"] += ex.shuffle_write_bytes
            m["operators.spill_bytes"] += ex.spill_bytes
            m["operators.tasks"] += ex.tasks
    m["plancache.calls"] = counts["plancache.calls"]
    m["plancache.hits"] = counts["plancache.hits"]
    m["plancache.hit_ratio"] = counts["plancache.hits"] / max(1, counts["plancache.calls"])
    for k, v in fold_progress(progress).items():
        m[f"streaming.{k}"] = v
    every = [t for s in spans for t in s.jobs] + [t for _, t in untagged]
    total = StageTotals()
    for t in every:
        total.add(t)
    m["spark.jobs"] = len(every)
    m["spark.stages"] = total.stages
    m["spark.tasks"] = total.tasks
    m["spark.idle_core_frac"] = 1 - total.run_ms / (unit["wall"] * 1000 * cores)
    m["spark.peak_rss_mb"] = unit["peak_rss"] / 2**20
    m["sources.txtable.bytes_added"] = unit["bytes_added"]
    m["sources.txtable.files_added"] = unit["files_added"]
    m["sources.txtable.pruned_files_ratio"] = unit.get("pruned_files_ratio", 0.0)
    return m
