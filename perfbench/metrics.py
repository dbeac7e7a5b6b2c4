"""Every metric the benchmark reports: name -> (unit, better).

BENCHMARK.json at the repository root lists the same names (a test in
perfbench/tests pins the two together). End-to-end metrics are reported by
every workload, each with the workload's own meaning (README.md). Per-layer
metrics are grouped by the workload whose layers they measure; a traced
run reports all of them, and a layer the workload does not run did no work
there, so its metrics read 0.
"""

from __future__ import annotations

E2E = {
    "setup_s": ("s", "lower"),
    "live_heap_mb": ("MB", "lower"),
    "work_per_s": ("1/s", "higher"),
    "p50_ms": ("ms", "lower"),
    "batch_s": ("s", "lower"),
}

_PHASE = {
    "source.latest_offset_ms_p50": ("ms", "lower"),
    "source.get_batch_ms_p50": ("ms", "lower"),
    "source.backlog_events_max": ("events", "lower"),
    "microbatch.count": ("count", "lower"),
    "microbatch.trigger_ms_p50": ("ms", "lower"),
    "microbatch.planning_ms_p50": ("ms", "lower"),
    "microbatch.commit_ms_p50": ("ms", "lower"),
    "microbatch.busy_share": ("ratio", "lower"),
    "state.rows_max": ("rows", "lower"),
    "state.memory_bytes_max": ("B", "lower"),
    "state.commit_ms_p50": ("ms", "lower"),
    "state.late_rows_dropped": ("rows", "lower"),
    "fanout.buy_ms_p50": ("ms", "lower"),
    "fanout.q2_ms_p50": ("ms", "lower"),
    "fanout.q3_ms_p50": ("ms", "lower"),
    "fanout.overhead_ms_p50": ("ms", "lower"),
    "sink.q2_partials_per_window": ("ratio", "lower"),
    "sink.q3_partials_per_window": ("ratio", "lower"),
    "exec.jobs_per_batch": ("count", "lower"),
    "exec.tasks_per_batch": ("count", "lower"),
    "exec.shuffle_bytes_per_event": ("B", "lower"),
}

CATALOG_FAMILIES = ("sessionize", "relational", "text", "dedup", "similarity",
                    "pipeline", "multimodal")
_FAMILY = {
    "construct_s": ("s", "lower"),
    "construct_jobs": ("count", "lower"),
    "plan_s": ("s", "lower"),
    "exec_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "shuffle_bytes": ("B", "lower"),
    "spill_bytes": ("B", "lower"),
}

PER_LAYER = {
    "clickstream": {
        **{f"{ph}.{k}": v for ph in ("catchup", "live") for k, v in _PHASE.items()},
        "gen.lateness_ms_max": ("ms", "lower"),
    },
    "corpus": {
        **{f"{f}.{k}": v for f in CATALOG_FAMILIES for k, v in _FAMILY.items()},
        "catalog.core_busy_share": ("ratio", "higher"),
        "entry.warm_caches_s": ("s", "lower"),
        "ingest.pairs_ms_p50": ("ms", "lower"),
        "ingest.flags_ms_p50": ("ms", "lower"),
        "ingest.fold_ms_p50": ("ms", "lower"),
        "ingest.compact_s_mean": ("s", "lower"),
        "lsm.delta_files_max": ("count", "lower"),
        "lsm.write_amplification": ("ratio", "lower"),
        "lsm.state_bytes_final": ("B", "lower"),
        "exec.jobs_per_epoch": ("count", "lower"),
        "exec.shuffle_bytes_per_epoch": ("B", "lower"),
    },
}


def layer_report(workload: str, measured: dict) -> dict:
    """All per-layer metrics, with units: the workload's own as measured,
    every other workload's at 0 (that layer did no work in this run).
    A metric the workload should have measured but did not is an error."""
    own = PER_LAYER[workload]
    missing = sorted(set(own) - set(measured))
    if missing:
        raise KeyError(f"{workload} did not measure {missing}")
    out = {}
    for wl, names in PER_LAYER.items():
        for name, (unit, _) in names.items():
            value = measured[name] if wl == workload else 0
            out[name] = {"value": value, "unit": unit}
    return out
