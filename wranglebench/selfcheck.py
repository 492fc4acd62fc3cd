"""Self-checks of the benchmark itself; no Spark session is started.

    python3 wranglebench/selfcheck.py

* the same seed derives byte-identical inputs and identical oracle digests,
  and another seed derives different rows;
* self-time arithmetic of spans;
* every metric name in BENCHMARK.json uses only ``[A-Za-z0-9_.-]``;
* every per-layer metric names the end-to-end metric and workload it
  should move (``layers.py``), and those exist.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selfcheck FAILED: {what}")
    print(f"ok  {what}")


def check_seeding() -> None:
    import pyarrow.parquet as pq

    from derive import derive, tables_digest

    with tempfile.TemporaryDirectory(dir=ROOT) as tmp:
        a = derive(3, os.path.join(tmp, "a"))
        b = derive(3, os.path.join(tmp, "b"))
        c = derive(4, os.path.join(tmp, "c"))
        check(tables_digest(a) == tables_digest(b), "same seed derives identical inputs")
        check(tables_digest(a) != tables_digest(c), "another seed derives different inputs")
        for name in ("orders", "documents"):
            ka = pq.read_table(os.path.join(a, f"{name}.parquet")).column(0).to_pylist()
            kc = pq.read_table(os.path.join(c, f"{name}.parquet")).column(0).to_pylist()
            check(ka != kc, f"another seed samples different {name} rows")
        orders = set(pq.read_table(os.path.join(a, "orders.parquet")).column("o_orderkey").to_pylist())
        lines = set(pq.read_table(os.path.join(a, "lineitem.parquet")).column("l_orderkey").to_pylist())
        check(bool(lines) and lines <= orders, "lineitem keeps only lines of sampled orders")
        base = pq.read_schema(os.path.join(HERE, "data", "sf0.01", "events.parquet"))
        check(pq.read_schema(os.path.join(a, "events.parquet")).equals(base, check_metadata=False),
              "derived tables keep every column type")

        sys.path.insert(0, ROOT)
        import workloads
        from gemini_data_wrangler_spark.queries import registry

        reg = registry()
        for name in workloads.WORKLOADS:
            w = workloads.make(name, reg)
            check(w.oracle_digests(a) == w.oracle_digests(b),
                  f"same seed gives identical {name} oracle digests")


def check_self_times() -> None:
    from spans import layer_times, self_times

    # root [0,10] has children [1,4] and [3,6] (overlapping) and [8,9];
    # [1,4] has a child [2,3] of the same layer as the root.
    spans = [
        (0, None, "a", 0.0, 10.0),
        (1, 0, "b", 1.0, 4.0),
        (2, 0, "c", 3.0, 6.0),
        (3, 0, "b", 8.0, 9.0),
        (4, 1, "a", 2.0, 3.0),
    ]
    st = self_times(spans)
    check(st == [4.0, 2.0, 3.0, 1.0, 1.0], f"self time is duration minus covered children {st}")
    total, self_ = layer_times(spans)
    check(total == {"a": 10.0, "b": 4.0, "c": 3.0}, f"nested same-layer spans count once {total}")
    check(self_ == {"a": 5.0, "b": 3.0, "c": 3.0}, f"self time sums per layer {self_}")


def check_benchmark_json() -> None:
    from layers import NO_TARGET, TARGETS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    name_re = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    bad = [n for n in names if not name_re.fullmatch(n)]
    check(not bad, f"metric and workload names use only [A-Za-z0-9_.-] {bad}")
    check(len(names) == len(set(names)), "names are unique")
    e2e = {m["name"] for m in spec["end_to_end"]}
    wls = {w["name"] for w in spec["workloads"]}
    layer = [m["name"] for m in spec["per_layer"]]
    check(set(layer) == set(TARGETS), "layers.py covers exactly the per-layer metrics")
    untargeted = [n for n in layer if not TARGETS[n] and n not in NO_TARGET]
    check(not untargeted, f"every per-layer metric names its target {untargeted}")
    dangling = [n for n in layer if not all(m in e2e and w in wls for m, w in TARGETS[n])]
    check(not dangling, f"every target is a declared metric and workload {dangling}")


if __name__ == "__main__":
    check_self_times()
    check_benchmark_json()
    check_seeding()
    print("selfcheck passed")
