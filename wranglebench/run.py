"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 wranglebench/run.py --workload stage_flows --seed 1 --seconds 1 --trace 0

Run it from the root of a checkout of the repository. The inputs are
derived from ``--seed`` (see ``derive.py``) and cached, with their oracle
digests, under ``.wranglebench/`` in the checkout. Each run is a closed loop
with one client: after set-up it runs passes over the workload's items, in
the workload's fixed order, until ``--seconds`` have elapsed, never cutting
a pass. The first pass is every item's first execution in the session, the
cost a user pays for a query or a batch job that is new to the process;
with ``--seconds 1`` a run is exactly that pass. The order is fixed because
a first execution's cost depends on what ran before it in the JVM. Every
item's result is checked against its oracle digest.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer metrics of a traced run, and the tracing overhead against the
untraced runs of the same workload, seed and code (see ``untraced_wall_s``).
The last stdout line is the result object; the line before it records the
environment.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".wranglebench")
PACKAGE = "gemini_data_wrangler_spark"
SETUPS = 3
DRIVER_MEM_GB = 2
_T0 = time.perf_counter()


def log(msg: str) -> None:
    elapsed = time.perf_counter() - _T0
    print(f"[wranglebench {elapsed:7.1f}s] {msg}", file=sys.stderr, flush=True)


def _host_mem_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return DRIVER_MEM_GB * 4


def pin_environment() -> dict:
    """Pin the program's knobs (cores, Spark driver heap, scratch dirs) and keep
    every file Spark and Python write inside the checkout. Returns the pins
    for the fingerprint."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    mem_gb = max(1, min(DRIVER_MEM_GB, int(_host_mem_gb() // 4)))
    pins = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
    }
    os.environ.update(pins)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    set_extra_conf(trace_dir=None)
    return pins


def set_extra_conf(trace_dir: str | None) -> None:
    """``SPARK_GRAFT_EXTRA_CONF`` for the next session: no console progress
    bar, warehouse inside the checkout and, when tracing, the event log."""
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
    ]
    if trace_dir:
        os.makedirs(trace_dir, exist_ok=True)
        conf += [
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            f"spark.eventLog.dir=file://{trace_dir}",
        ]
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(conf)


# ---------------------------------------------------------------------------
# Inputs and oracle digests (cached per workload and seed)
# ---------------------------------------------------------------------------
def prepare(workload, seed: int) -> tuple[str, dict[str, str]]:
    from derive import derive

    tables_dir = derive(seed, os.path.join(WORK, "cache"))
    path = os.path.join(WORK, "cache", f"s{seed}", f"digests-{workload.name}.json")
    if os.path.exists(path):
        with open(path) as fh:
            cached = json.load(fh)
        if sorted(cached) == sorted(workload.items):
            return tables_dir, cached
    digests = workload.oracle_digests(tables_dir)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(digests, fh, indent=1)
    os.replace(tmp, path)
    return tables_dir, digests


# ---------------------------------------------------------------------------
# The loop
# ---------------------------------------------------------------------------
class Loop:
    """Closed loop over a workload's items; records one sample per item."""

    def __init__(self, spark, workload, tables_dir: str, digests: dict) -> None:
        self.spark = spark
        self.workload = workload
        self.tables_dir = tables_dir
        self.digests = digests
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run_item(self, item: str, probe=None) -> dict:
        """Time one item, builder call through materialized result, then
        check it. ``probe`` (tracing only) observes the item."""
        from proc import tree_cpu_s

        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            if probe is not None:
                probe.begin(item)
            result, df = self.workload.run(
                self.spark, item, self.tables_dir, WORK,
                on_built=probe.built if probe is not None else None,
            )
            t1 = time.perf_counter()
            cpu1 = tree_cpu_s()
            if probe is not None:
                probe.end(df, t1 - t0)
            ok = self.workload.digest(item, result) == self.digests[item]
            err = None if ok else "result differs from oracle"
        except Exception as exc:  # noqa: BLE001 — a failed item is counted, the loop goes on
            t1, cpu1 = time.perf_counter(), tree_cpu_s()
            ok, err = False, f"{type(exc).__name__}: {exc}"[:300]
        self.attempted += 1
        log(f"{item} {t1 - t0:.3f}s cpu={cpu1 - cpu0:.2f}s {'ok' if ok else 'FAILED'}")
        if not ok:
            self.failed += 1
            self.errors.append(f"{item}: {err}")
        return {"item": item, "latency": t1 - t0, "cpu": cpu1 - cpu0}

    def run_pass(self, probe=None) -> list[dict]:
        return [self.run_item(item, probe) for item in self.workload.items]

    def run_for(self, seconds: float, probe=None) -> list[list[dict]]:
        passes = []
        start = time.perf_counter()
        while not passes or time.perf_counter() - start < seconds:
            passes.append(self.run_pass(probe))
        return passes


def setup(workload, tables_dir: str):
    """``get_spark`` + catalog load + one warm-up query."""
    from gemini_data_wrangler_spark.session import get_spark

    spark = get_spark(app_name=f"wranglebench-{workload.name}")
    workload.load_catalog(spark, tables_dir)
    workload.warmup(spark, tables_dir)
    return spark


def set_up_repeatedly(workload, tables_dir: str):
    """``SETUPS`` set-ups in a row, each after stopping the previous
    session; the last session stays up. Returns it and the set-up times."""
    times = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = setup(workload, tables_dir)
        times.append(time.perf_counter() - t0)
        log(f"setup {times[-1]:.2f}s")
    return spark, times


def pass_stats(passes: list[list[dict]]) -> dict[str, float]:
    lat = [s["latency"] for p in passes for s in p]
    return {
        "wall_s": statistics.median(sum(s["latency"] for s in p) for p in passes),
        "cpu_s": statistics.median(sum(s["cpu"] for s in p) for p in passes),
        "latency_p50_s": statistics.median(lat),
    }


def end_to_end(workload, tables_dir, digests, seed, seconds) -> tuple[dict, Loop]:
    from proc import tree_peak_rss_mb

    spark, setup_times = set_up_repeatedly(workload, tables_dir)
    loop = Loop(spark, workload, tables_dir, digests)
    passes = loop.run_for(seconds)
    log(f"{len(passes)} timed passes done")
    stats = pass_stats(passes)
    peak = tree_peak_rss_mb()
    spark.stop()
    if loop.failed == 0:
        record_wall_s(workload.name, seed, stats["wall_s"])
    return {
        "setup_s": (statistics.median(setup_times), "s"),
        "wall_s": (stats["wall_s"], "s"),
        "latency_p50_s": (stats["latency_p50_s"], "s"),
        "cpu_s": (stats["cpu_s"], "s"),
        "peak_rss_mb": (peak, "MB"),
        "success_rate": ((loop.attempted - loop.failed) / loop.attempted, "ratio"),
    }, loop


def code_version() -> str:
    """Digest of the program's and the benchmark's Python sources, so that
    a traced run is compared only with untraced runs of the same code."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, PACKAGE), HERE):
        for dirpath, dirs, files in os.walk(top):
            dirs.sort()
            for fn in sorted(f for f in files if f.endswith(".py")):
                path = os.path.join(dirpath, fn)
                h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _walls_path(workload: str, seed: int) -> str:
    return os.path.join(WORK, "cache", f"s{seed}", f"wall_s-{workload}-{code_version()}.json")


def record_wall_s(workload: str, seed: int, wall_s: float) -> None:
    """Keep every untraced wall_s per (workload, seed, code version) for the
    traced runs."""
    path = _walls_path(workload, seed)
    walls = []
    if os.path.exists(path):
        with open(path) as fh:
            walls = json.load(fh)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(walls + [wall_s], fh)
    os.replace(tmp, path)


def untraced_wall_s(workload: str, seed: int, seconds: float) -> float:
    """Median wall_s of the untraced runs of this workload, seed and code
    made in this checkout. With none, one is made in a child process. Both
    kinds start, as the traced run does, in a fresh JVM after ``SETUPS``
    set-ups."""
    path = _walls_path(workload, seed)
    if not os.path.exists(path):
        import subprocess

        log("no untraced run of this seed and code yet: running one")
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            stdout=subprocess.DEVNULL, check=True,
        )
    with open(path) as fh:
        return statistics.median(json.load(fh))


def traced(workload, tables_dir, digests, seed, seconds) -> tuple[dict, Loop]:
    from proc import cpu_times, steal_share
    from tracing_probe import Probe

    untraced_wall = untraced_wall_s(workload.name, seed, seconds)
    log(f"untraced wall_s {untraced_wall:.2f}")
    trace_dir = os.path.join(WORK, "trace", f"{workload.name}-s{seed}-{os.getpid()}")
    set_extra_conf(trace_dir)
    spark, _setup_times = set_up_repeatedly(workload, tables_dir)
    loop = Loop(spark, workload, tables_dir, digests)
    probe = Probe(spark)
    steal0 = cpu_times()
    probe.install()
    try:
        passes = loop.run_for(seconds, probe)
    finally:
        probe.uninstall()
    steal = steal_share(steal0, cpu_times())
    app_id = spark.sparkContext.applicationId
    spark.stop()
    metrics = probe.metrics(
        passes=len(passes),
        log_dir=trace_dir,
        app_id=app_id,
        tables_dir=tables_dir,
        out_paths=[workload.out_path(WORK, f) for f in workload.flows],
    )
    traced_wall = pass_stats(passes)["wall_s"]
    metrics["trace.wall_s"] = (traced_wall, "s")
    metrics["trace.overhead_s"] = (traced_wall - untraced_wall, "s")
    metrics["host.steal_share"] = (steal, "ratio")
    probe.write_spans(os.path.join(trace_dir, "spans.json"))
    for line in probe.profile_lines():
        log(f"profile {line}")
    log(f"per-layer metrics reading 0: {sorted(k for k, (v, _u) in metrics.items() if v == 0)}")
    return metrics, loop


def check_metric_names(metrics: dict, trace: int) -> list[str]:
    """Differences between the metrics measured and those BENCHMARK.json
    declares for this mode, as (name, unit) pairs."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if trace else "end_to_end"]
    want = {(m["name"], m["unit"]) for m in spec}
    got = {(name, unit) for name, (_value, unit) in metrics.items()}
    return [f"missing {m}" for m in sorted(want - got)] + [f"undeclared {m}" for m in sorted(got - want)]


def stop_jvm() -> None:
    """Stop the Spark JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a stuck JVM is killed, not left behind
            proc.kill()
            proc.wait()


def fingerprint(pins: dict, seed: int, workload: str) -> dict:
    import duckdb
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "nproc": len(os.sched_getaffinity(0)),
        **pins,
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to {os.path.basename(HERE)}/: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    pins = pin_environment()

    import workloads
    from gemini_data_wrangler_spark.queries import registry

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {workloads.WORKLOADS}",
              file=sys.stderr)
        return 2
    workload = workloads.make(args.workload, registry())
    tables_dir, digests = prepare(workload, args.seed)
    log(f"inputs and oracle digests ready: {tables_dir}")

    run = traced if args.trace else end_to_end
    try:
        metrics, loop = run(workload, tables_dir, digests, args.seed, args.seconds)
    finally:
        stop_jvm()
    for err in loop.errors:
        print(f"FAILED {err}", file=sys.stderr)
    mismatch = check_metric_names(metrics, args.trace)
    if mismatch:
        print(f"metrics differ from BENCHMARK.json: {mismatch}", file=sys.stderr)
        return 3
    print(json.dumps({"fingerprint": fingerprint(pins, args.seed, args.workload)}))
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
