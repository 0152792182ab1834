"""batch_analytics: a fixed round of operator calls, no Cypher.

Over the NEXT graph (each user's events chained in time order):
`pagerank` (5 iterations), `connected_components`, `label_propagation`
(5 iterations) and `shortest_path_lengths` (1% of events as sources, 6
hops); `ngram_jaccard` dedup over the documents; `ann_search` (LSH pairs
plus IVF top-k) over the embeddings; and `pack_chunks`. The calls are the
gate queries of `__spark_entry__` (label propagation, which has no gate,
is called on the same edge frame), so the DuckDB oracles of
`__spark_entry__.oracle_sql()` apply unchanged.

The round is measured as a batch job runs it: each operator's first call in
a fresh process, paying its own first-use costs (JIT, code generation). The
warm-up only loads the inputs: it builds the NEXT edge list once. The
first call of each operator is checked against its oracle where one exists
(label propagation against a Python re-implementation), and every later
call must hash-equal the first. The round has no random inputs: every seed
runs the same calls in the same order. The oracles' answers depend only on
the dataset and the oracle text, so they are computed once per checkout and
kept under the dataset cache.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections import Counter, defaultdict

import duckdb

from common import rows_equal, rows_hash

OPS = (
    "pagerank", "connected_components", "label_propagation",
    "shortest_paths", "ngram_jaccard", "ann_search", "pack_chunks",
)
GATE = {
    "pagerank": "q_pagerank",
    "connected_components": "q_connected_components",
    "shortest_paths": "q_shortest_paths",
    "ngram_jaccard": "q_ngram_jaccard",
    "ann_search": "q_ann_search",
    "pack_chunks": "q_pack_chunks",
}
LP_ITERS = 5


class BatchAnalytics:
    name = "batch_analytics"
    round_s = 25.0  # nominal seconds per (cold) round on 4 cpus

    def __init__(self, ctx):
        import __spark_entry__ as entry

        self.ctx = ctx
        self.rng = ctx.rng
        self.entry = entry
        self.gates = entry.queries()
        self.first_hash: dict[str, str] = {}

    # -- set-up ---------------------------------------------------------------
    def setup(self) -> dict:
        """One set-up: drop the gates' per-dataset memo (table handles and
        the IVF index) and read the tables again."""
        spark, d = self.ctx.spark, self.ctx.batch_dir
        self.entry._TABLES_CACHE.clear()
        self.entry._IVF_INDEXES.clear()
        t0 = time.perf_counter()
        tables = self.entry._tables(spark, d)
        for t in ("events", "documents", "embeddings"):
            tables[t].count()
        return {"catalog_s": time.perf_counter() - t0}

    def discard_setup(self) -> None:
        pass

    # -- operations -----------------------------------------------------------
    def warmup_ops(self) -> list[dict]:
        return [{"kind": "load_graph", "params": None}]

    def round_ops(self, r: int) -> list[dict]:
        return [{"kind": n, "params": None} for n in OPS]

    def _frame(self, name: str):
        spark, d = self.ctx.spark, self.ctx.batch_dir
        if name == "label_propagation":
            from nicefox_graphdb_spark.operators import graph_algos as ga

            return ga.label_propagation(
                self.entry._next_edges(spark, d), max_iter=LP_ITERS
            ).orderBy("id")
        return self.gates[GATE[name]](spark, d)

    def execute(self, op: dict) -> dict:
        if op["kind"] == "load_graph":
            n = self.entry._next_edges(self.ctx.spark, self.ctx.batch_dir).count()
            return {"ok": True, "error": None, "result": [{"edges": n}],
                    "plan_cache": "n/a"}
        rows = [r.asDict(recursive=True) for r in self._frame(op["kind"]).collect()]
        return {"ok": True, "error": None, "result": rows, "plan_cache": "n/a"}

    # -- checks ---------------------------------------------------------------
    def verify(self, records: list[dict]) -> list[str]:
        """The first call of each operator against its oracle; every later
        call must hash-equal the first."""
        problems = []
        oracles = self.entry.oracle_sql()
        db = duckdb.connect()
        try:
            from nicefox_graphdb_spark.sources.tpch import TABLES

            for t in TABLES:
                db.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.ctx.batch_dir}/{t}.parquet')"
                )
            for rec in records:
                if not rec["ok"]:
                    continue
                name, rows = rec["kind"], rec["result"]
                if name not in self.first_hash:
                    why = self._oracle_problem(name, rows, oracles, db)
                    self.first_hash[name] = rows_hash(rows)
                    if why:
                        rec["ok"] = False
                        problems.append(f"{name} (first call): {why}")
                elif rows_hash(rows) != self.first_hash[name]:
                    rec["ok"] = False
                    problems.append(f"{name}: result differs from the first call")
        finally:
            db.close()
        return problems

    def _cached(self, key: str, compute) -> list[dict]:
        key = f"{os.path.abspath(self.ctx.batch_dir)}\n{key}"
        digest = hashlib.sha256(key.encode()).hexdigest()[:16]
        os.makedirs(self.ctx.cache_dir, exist_ok=True)
        path = os.path.join(self.ctx.cache_dir, f"oracle-{digest}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        rows = compute()
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(rows, f)
        os.replace(tmp, path)
        return rows

    def _oracle_problem(self, name, rows, oracles, db) -> str | None:
        gate = GATE.get(name)
        if gate in oracles:
            def compute():
                rel = db.sql(oracles[gate])
                return [dict(zip(rel.columns, r)) for r in rel.fetchall()]

            want = self._cached(oracles[gate], compute)
            if not rows_equal(rows, want, ordered=False):
                return f"{len(rows)} rows, DuckDB oracle has {len(want)} (or values differ)"
            return None
        if name == "load_graph":
            # every event but each user's last has a NEXT successor
            want = db.sql(
                "SELECT count(*) - count(DISTINCT user_id) FROM events"
            ).fetchone()[0]
            return None if rows == [{"edges": want}] else f"{rows} edges, want {want}"
        if name == "label_propagation":
            want = self._cached(
                f"label_propagation/{LP_ITERS}",
                lambda: self._label_propagation_oracle(db),
            )
            if not rows_equal(rows, want, ordered=False):
                return "differs from the Python label-propagation oracle"
            return None
        if name == "ann_search":
            # precision: every LSH pair really is above the threshold
            bad = [r for r in rows if r["method"] == "lsh_pair" and r["score"] < 0.35]
            topk = [r for r in rows if r["method"] == "ivf_topk"]
            if bad or len(topk) != 10:
                return f"{len(bad)} LSH pairs under threshold, {len(topk)} IVF hits"
            return None
        return "no oracle"

    @staticmethod
    def _label_propagation_oracle(db) -> list[dict]:
        """Synchronous label propagation over the symmetrised NEXT edges:
        each vertex takes the most frequent label among its in-neighbours,
        ties to the smallest label; a vertex with no votes keeps its own."""
        edges = db.sql(
            "SELECT 'E' || event_id AS src, 'E' || nxt AS dst FROM ("
            "SELECT event_id, lead(event_id) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) AS nxt FROM events) WHERE nxt IS NOT NULL"
        ).fetchall()
        sym = edges + [(b, a) for a, b in edges]
        label = {v: v for e in sym for v in e}
        into = defaultdict(list)
        for s, d in sym:
            into[d].append(s)
        for _ in range(LP_ITERS):
            new = {}
            for v, srcs in into.items():
                votes = Counter(label[s] for s in srcs)
                new[v] = min(votes, key=lambda lab: (-votes[lab], lab))
            label.update(new)
        return [{"id": v, "label": lab} for v, lab in label.items()]

    def final_checks(self) -> list[str]:
        return []

    def report(self, records: list[dict]) -> dict:
        return {}

    # -- tracing --------------------------------------------------------------
    def install_trace(self, tracer) -> None:
        from nicefox_graphdb_spark.operators import dedup, graph_algos, pipeline, similarity

        for mod, fns in (
            (graph_algos, ("pagerank", "connected_components",
                           "label_propagation", "shortest_path_lengths")),
            (dedup, ("jaccard_pairs",)),
            (similarity, ("ann_neardup_pairs", "build_ivf_index")),
            (pipeline, ("pack_chunks",)),
        ):
            for fn in fns:
                tracer.wrap(mod, fn, f"operator.{fn}")

    def close(self) -> None:
        pass
