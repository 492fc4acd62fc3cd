"""Which end-to-end metric, on which workload, each per-layer metric should
move. Written down before measuring; ``selfcheck.py`` holds
``BENCHMARK.json`` to it."""

from __future__ import annotations

_FIXED_COST = [("latency_p50_s", "stage_flows")]
_KERNELS = [("wall_s", "corpus_ops"), ("peak_rss_mb", "corpus_ops")]
_SCHEDULING = [("latency_p50_s", "stage_flows"), ("wall_s", "corpus_ops")]
_DATA_MOVEMENT = [("wall_s", "corpus_ops")]
_CPU = [("cpu_s", "stage_flows"), ("cpu_s", "corpus_ops")]

TARGETS: dict[str, list[tuple[str, str]]] = {
    # Per-request fixed cost: catalog, dialect shim, stage IR, compiler and
    # Catalyst. Predicted flat on corpus_ops, where kernels dominate.
    "readers.load_s": _FIXED_COST,
    "readers.load_calls": _FIXED_COST,
    "readers.views_registered": _FIXED_COST,
    "shipping.ensure_s": _FIXED_COST,
    "plans.dialect_s": _FIXED_COST,
    "plans.from_dict_s": _FIXED_COST,
    "pipeline.run_stage_self_s": _FIXED_COST,
    "compiler.compile_stage_s": _FIXED_COST,
    "catalyst.analysis_ms": _FIXED_COST,
    "catalyst.optimization_ms": _FIXED_COST,
    "catalyst.planning_ms": _FIXED_COST,
    # Eager jobs inside builders, kernel self time, and cached data that
    # outlives a query.
    "builder.s": _KERNELS,
    "builder.jobs": _KERNELS,
    "kernels.dedup_s": _KERNELS,
    "kernels.similarity_s": _KERNELS,
    "kernels.graphs_s": _KERNELS,
    "kernels.bpe_s": _KERNELS,
    "storage.persisted_rdds_after": _KERNELS,
    "storage.cached_mb_after": _KERNELS,
    # Job and task scheduling; fewer, fuller tasks help small queries and
    # can hurt large ones, so the two may move in opposite directions.
    "exec.jobs": _SCHEDULING,
    "exec.stages": _SCHEDULING,
    "exec.tasks": _SCHEDULING,
    "exec.useful_task_ratio": _SCHEDULING,
    # Bytes moved and the physical plan shapes that move them.
    "exec.shuffle_write_mb": _DATA_MOVEMENT,
    "exec.shuffle_read_mb": _DATA_MOVEMENT,
    "exec.spill_mb": _DATA_MOVEMENT,
    "exec.scan_mb": _DATA_MOVEMENT,
    "plan.exchanges": _DATA_MOVEMENT,
    "plan.smj": _DATA_MOVEMENT,
    "plan.bhj": _DATA_MOVEMENT,
    "plan.python_evals": _DATA_MOVEMENT,
    "plan.inmemory_scans": _DATA_MOVEMENT,
    "exec.executor_cpu_s": _CPU,
    "exec.gc_s": _CPU,
    # The CLI export flow's parquet write.
    "sinks.write_s": [("wall_s", "corpus_ops")],
    "sinks.mb_written_per_input_mb": [("wall_s", "corpus_ops")],
    # The traced pass itself.
    "trace.wall_s": [("wall_s", "stage_flows"), ("wall_s", "corpus_ops")],
    # Context for reading the others: no end-to-end metric should move
    # with these.
    "trace.overhead_s": [],
    "host.steal_share": [],
}

NO_TARGET = {"trace.overhead_s", "host.steal_share"}
