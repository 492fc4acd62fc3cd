"""Workload definitions and their oracle digests.

A workload is a fixed list of items (registry queries or CLI flows), run in
that order, a way to load its catalog, one warm-up call, and a DuckDB oracle
per item. The seed picks the input rows (``derive``); it never picks which
items run.

Correctness is checked by digest: the oracle's canonical result is reduced
to a digest once per (workload, seed) and cached, and each run reduces what
the program returned the same way and compares.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os

# Registry query families of the stage algebra; each contributes its first
# PER_FAMILY oracle-backed members by name, so the pick depends on names
# only.
STAGE_FAMILIES = (
    "flagship",
    "join_",
    "filter_",
    "group_",
    "aggregate_global",
    "select_projection",
    "sort_multi_key",
    "union_",
    "custom_",
    "tpch_",
    "window_",
    "events_",
)
PER_FAMILY = 2

# One registry query per kernel module (dedup, similarity, graphs, bpe),
# each chosen because its builder runs the module's eager jobs, then the CLI
# batch export of a derived corpus table. A traced run logs each item's builder
# share of its latency and its kernel self time.
CORPUS_QUERIES = (
    "dedup_simhash",
    "embedding_kmeans",
    "graph_pagerank_parts",
    "vocab_bpe_merges",
)

# CLI flows: name -> (flow stages, DuckDB oracle over the same tables). The
# CUSTOM stage is DuckDB dialect, so the oracle is its own SQL text.
_EXPORT_SQL = (
    "SELECT doc_id, lang, source, n_chars, len(string_split(text, ' ')) AS n_tokens, "
    "lower(text) AS text_lc FROM documents WHERE n_chars > 0"
)
FLOWS = {
    "cli_export_docs": (
        [{"id": "stage_0", "type": "CUSTOM", "data": {"sql": _EXPORT_SQL}}],
        _EXPORT_SQL,
    ),
}


def stage_flow_names(registry: dict) -> list[str]:
    names = []
    for fam in STAGE_FAMILIES:
        members = sorted(n for n, (_b, oracle) in registry.items() if n.startswith(fam) and oracle)
        names += members[:PER_FAMILY]
    return names


# ---------------------------------------------------------------------------
# Digests
# ---------------------------------------------------------------------------
def rows_digest(columns: list[str], rows: list[tuple]) -> str:
    """Digest of a result as a multiset of rows, in the canonical form of
    ``gemini_data_wrangler_spark.parity``: lower-cased columns sorted by
    name, values normalized, row order ignored."""
    from gemini_data_wrangler_spark.parity import _rows_multiset

    cols = [c.lower() for c in columns]
    h = hashlib.sha256(json.dumps(sorted(cols)).encode())
    for row in sorted(_rows_multiset(cols, rows).elements()):
        h.update("\x1f".join(row).encode() + b"\x1e")
    return h.hexdigest()


def _canonical_expr(col: str, duck_type: str) -> str:
    q = f'"{col}"'
    t = duck_type.upper()
    if t.startswith("TIMESTAMP"):
        return f"epoch_us({q})"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER"):
        return f"CAST({q} AS BIGINT)"
    if t in ("FLOAT", "DOUBLE") or t.startswith("DECIMAL"):
        return f"CAST({q} AS DOUBLE)"
    return f"CAST({q} AS VARCHAR)"


def duck_digest(con, relation_sql: str) -> str:
    """Order-insensitive digest of a relation, computed inside DuckDB so
    large written outputs never cross into Python. Column types are
    canonicalized (integers to BIGINT, timestamps to epoch microseconds), so
    the engine's parquet encoding choices do not matter."""
    desc = con.execute(f"DESCRIBE SELECT * FROM ({relation_sql})").fetchall()
    cols = sorted(((name.lower(), name, typ) for name, typ, *_ in desc))
    exprs = ", ".join(_canonical_expr(name, typ) for _l, name, typ in cols)
    n, s = con.execute(
        f"SELECT count(*), CAST(coalesce(sum(hash({exprs})), 0) AS VARCHAR) "
        f"FROM ({relation_sql})"
    ).fetchone()
    return hashlib.sha256(json.dumps([[c[0] for c in cols], n, s]).encode()).hexdigest()


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------
class Workload:
    """Registry queries, whose builders return a DataFrame that is collected
    to materialize it, and CLI flows, run in-process with the benchmark's
    session as ``python -m gemini_data_wrangler_spark --flow ... --out ...
    --show 0`` would run them, whose written parquet is the result."""

    warmup_query = "select_projection"

    def __init__(self, name: str, queries: list[str], flows: list[str], registry: dict) -> None:
        self.name = name
        self.queries = list(queries)
        self.flows = list(flows)
        self.items = self.queries + self.flows
        self.registry = registry

    def load_catalog(self, spark, tables_dir: str) -> None:
        from gemini_data_wrangler_spark.sources.readers import load_sf_tables

        load_sf_tables(spark, tables_dir)

    def warmup(self, spark, tables_dir: str) -> None:
        self.registry[self.warmup_query][0](spark, tables_dir).collect()

    def out_path(self, work_dir: str, flow: str) -> str:
        return os.path.join(work_dir, "out", self.name, flow)

    def _flow_path(self, work_dir: str, flow: str) -> str:
        path = os.path.join(work_dir, "flows", f"{flow}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(FLOWS[flow][0], fh)
        return path

    def run(self, spark, item: str, tables_dir: str, work_dir: str, on_built=None):
        """Run one item and return its result. ``on_built`` is called
        between a query builder's return and the action."""
        if item in self.flows:
            from gemini_data_wrangler_spark.__main__ import main

            out = self.out_path(work_dir, item)
            argv = ["--tables-dir", tables_dir, "--flow", self._flow_path(work_dir, item),
                    "--out", out, "--show", "0"]
            with contextlib.redirect_stdout(io.StringIO()):
                rc = main(argv, spark=spark)
            if rc != 0:
                raise RuntimeError(f"CLI exited with {rc}")
            return out, None
        df = self.registry[item][0](spark, tables_dir)
        if on_built is not None:
            on_built(df)
        return (list(df.columns), [tuple(r) for r in df.collect()]), df

    def digest(self, item: str, result) -> str:
        if item in self.flows:
            import duckdb

            con = duckdb.connect()
            try:
                return duck_digest(con, f"SELECT * FROM read_parquet('{result}/*.parquet')")
            finally:
                con.close()
        return rows_digest(*result)

    def oracle_digests(self, tables_dir: str) -> dict[str, str]:
        from gemini_data_wrangler_spark.parity import duck_connection

        con = duck_connection(tables_dir)
        try:
            out = {}
            for item in self.queries:
                res = con.execute(self.registry[item][1])
                out[item] = rows_digest([d[0] for d in res.description], res.fetchall())
            for item in self.flows:
                out[item] = duck_digest(con, FLOWS[item][1])
            return out
        finally:
            con.close()


def make(name: str, registry: dict) -> Workload:
    if name == "stage_flows":
        return Workload(name, stage_flow_names(registry), [], registry)
    if name == "corpus_ops":
        return Workload(name, CORPUS_QUERIES, list(FLOWS), registry)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("stage_flows", "corpus_ops")
