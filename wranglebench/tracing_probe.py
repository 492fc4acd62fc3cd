"""The traced run's probe: layer spans, one Spark job group per item, and
the per-layer metrics computed from them at the end.

Per-layer metrics are per pass (totals over the traced passes divided by
their number), except ratios and the storage figures, which are means over
items.
"""

from __future__ import annotations

import json
import os
import time

from spans import (
    Tracer,
    catalyst_phases_ms,
    event_log_lines,
    layer_times,
    read_event_log,
    self_times,
)

KERNEL_MODULES = ("dedup", "similarity", "graphs", "bpe")


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


class Probe:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = Tracer()
        self.groups: list[str] = []
        self.items: list[dict] = []
        self._cur: dict | None = None

    # -- installation ----------------------------------------------------
    def install(self) -> None:
        import importlib

        from gemini_data_wrangler_spark import shipping
        from gemini_data_wrangler_spark.operators import compiler, pipeline
        from gemini_data_wrangler_spark.plans import dialect, stage
        from gemini_data_wrangler_spark.sources import readers, sinks

        t = self.tracer
        t.wrap_function("readers.load", readers, "load_sf_tables")
        t.wrap_function("readers.load", readers, "load_dir_tables")
        t.wrap_function("shipping.ensure", shipping, "ensure_package_shipped")
        t.wrap_function("plans.dialect", dialect, "duckdb_to_spark_sql")
        t.wrap_method("plans.from_dict", stage.Stage, "from_dict")
        t.wrap_method("pipeline.run_stage", pipeline.PipelineRunner, "run_stage")
        t.wrap_function("compiler.compile_stage", compiler, "compile_stage")
        for mod in KERNEL_MODULES:
            t.wrap_module(
                f"kernels.{mod}",
                importlib.import_module(f"gemini_data_wrangler_spark.operators.{mod}"),
            )
        for name in ("write_parquet", "write_csv", "write_json", "write_orc"):
            self._wrap_sink(sinks, name)
        t.count_method(
            "readers.views_registered", type(self.spark.range(1)), "createOrReplaceTempView"
        )

    def _wrap_sink(self, sinks, name: str) -> None:
        """A sink call is the action of a CLI flow: the builder ends where
        it starts."""
        original = getattr(sinks, name)

        def before_write(df, *args, **kwargs):
            self.built(df)
            return original(df, *args, **kwargs)

        self.tracer.patch(sinks, name, self.tracer.span("sinks.write", before_write))

    def uninstall(self) -> None:
        self.tracer.uninstall()

    # -- per item ----------------------------------------------------------
    def begin(self, item: str) -> None:
        group = f"wb{len(self.groups)}"
        self.groups.append(group)
        self.sc.setJobGroup(group, item)
        self._cur = {
            "item": item,
            "group": group,
            "t0": time.perf_counter(),
            "first_span": len(self.tracer.spans),
            "df": None,
        }

    def built(self, df) -> None:
        cur = self._cur
        if cur is None or "builder_s" in cur:
            return
        cur["builder_s"] = time.perf_counter() - cur["t0"]
        cur["builder_jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(cur["group"]))
        cur["df"] = df

    def end(self, df, latency: float) -> None:
        """Close the item; ``df`` is the collected DataFrame, or None for a
        CLI flow, whose written DataFrame the sink wrapper passed on."""
        cur = self._cur
        self._cur = None
        self.sc.setJobGroup("wb-idle", "")
        cur.setdefault("builder_s", latency)
        cur.setdefault("builder_jobs", len(self.sc.statusTracker().getJobIdsForGroup(cur["group"])))
        cur["latency_s"] = latency
        _total, self_ = layer_times(self.tracer.spans[cur.pop("first_span"):])
        cur["kernel_self_s"] = {mod: self_.get(f"kernels.{mod}", 0.0) for mod in KERNEL_MODULES}
        built_df = cur.pop("df")
        phases_df = df if df is not None else built_df
        cur["phases"] = catalyst_phases_ms(phases_df) if phases_df is not None else {}
        jsc = self.sc._jsc
        cur["persisted"] = jsc.getPersistentRDDs().size()
        cur["cached_mb"] = sum(
            (info.memSize() + info.diskSize()) / 1e6 for info in jsc.sc().getRDDStorageInfo()
        )
        self.items.append(cur)

    # -- results -----------------------------------------------------------
    def profile_lines(self) -> list[str]:
        """One line per traced item: how much of its latency the builder
        and the kernel modules' own code (eager jobs they start included)
        took."""
        out = []
        for i in self.items:
            kernel = sum(i["kernel_self_s"].values())
            out.append(
                f"{i['item']}: latency {i['latency_s']:.2f}s, builder {i['builder_s']:.2f}s "
                f"({i['builder_s'] / i['latency_s']:.0%}, {i['builder_jobs']} jobs), "
                f"kernel self {kernel:.2f}s ({kernel / i['latency_s']:.0%})"
            )
        return out

    def metrics(
        self, passes: int, log_dir: str, app_id: str, tables_dir: str, out_paths: list[str]
    ) -> dict:
        total, self_ = layer_times(self.tracer.spans)
        n_items = max(1, len(self.items))

        def per_pass(value):
            return value / passes

        def items_sum(key):
            return sum(i[key] for i in self.items)

        m = {
            "builder.s": (per_pass(items_sum("builder_s")), "s"),
            "builder.jobs": (per_pass(items_sum("builder_jobs")), "count"),
            "readers.load_s": (per_pass(total.get("readers.load", 0.0)), "s"),
            "readers.load_calls": (
                per_pass(sum(1 for s in self.tracer.spans if s[2] == "readers.load")), "count"),
            "readers.views_registered": (
                per_pass(self.tracer.counts["readers.views_registered"]), "count"),
            "shipping.ensure_s": (per_pass(total.get("shipping.ensure", 0.0)), "s"),
            "plans.dialect_s": (per_pass(total.get("plans.dialect", 0.0)), "s"),
            "plans.from_dict_s": (per_pass(total.get("plans.from_dict", 0.0)), "s"),
            "pipeline.run_stage_self_s": (per_pass(self_.get("pipeline.run_stage", 0.0)), "s"),
            "compiler.compile_stage_s": (per_pass(total.get("compiler.compile_stage", 0.0)), "s"),
            "sinks.write_s": (per_pass(total.get("sinks.write", 0.0)), "s"),
        }
        for phase in ("analysis", "optimization", "planning"):
            m[f"catalyst.{phase}_ms"] = (
                per_pass(sum(i["phases"].get(phase, 0.0) for i in self.items)), "ms")
        for mod in KERNEL_MODULES:
            m[f"kernels.{mod}_s"] = (per_pass(self_.get(f"kernels.{mod}", 0.0)), "s")
        m["storage.persisted_rdds_after"] = (items_sum("persisted") / n_items, "count")
        m["storage.cached_mb_after"] = (items_sum("cached_mb") / n_items, "MB")

        ex = read_event_log(event_log_lines(log_dir, app_id), set(self.groups))
        units = {"exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
                 "exec.executor_cpu_s": "s", "exec.gc_s": "s"}
        for key, value in ex.items():
            if key == "exec.useful_task_ratio":
                m[key] = (value, "ratio")
            else:
                m[key] = (per_pass(value), units.get(key, "MB" if key.endswith("_mb") else "count"))
        written = sum(_dir_mb(p) for p in out_paths if os.path.isdir(p))
        m["sinks.mb_written_per_input_mb"] = (written / _dir_mb(tables_dir), "ratio")
        return m

    def write_spans(self, path: str) -> None:
        spans = [
            {"id": sid, "parent": parent, "layer": layer, "start": t0, "end": t1, "self": st}
            for (sid, parent, layer, t0, t1), st in zip(
                self.tracer.spans, self_times(self.tracer.spans)
            )
        ]
        with open(path, "w") as fh:
            json.dump({"items": self.items, "spans": spans}, fh)
