"""read_mix: embedded `CypherEngine.query_response` over the read-only
TPC-H graph.

Five statement kinds mirror the reference benchmark's query categories:
point lookup, one hop, two hop with aggregation, a TPC-H-Q1-shaped
aggregate, and a variable-length NEXT walk. The warm-up runs one statement
of each kind; those five form the hot set. Every round is twelve
statements: nine fresh ones (parameters never used before in the run, so
each one compiles cold) and three repeats from the hot set (a quarter of
the round, each a plan-cache hit). The seed draws the parameters and the
order; the mix of kinds is the same for every seed. After the timed loop every
(statement, parameters) result is checked against DuckDB over the same
parquet files.
"""

from __future__ import annotations

import time

import duckdb

from common import rows_equal

CYPHER = {
    "lookup": (
        "MATCH (c:Customer {custkey: $k}) "
        "RETURN c.name AS name, c.acctbal AS acctbal, c.mktsegment AS segment"
    ),
    "one_hop": (
        "MATCH (c:Customer {custkey: $k})-[:PLACED]->(o:Order) "
        "RETURN o.orderkey AS orderkey, o.totalprice AS totalprice "
        "ORDER BY orderkey"
    ),
    "two_hop": (
        "MATCH (o:Order)-[c:CONTAINS]->(p:Part) "
        "WHERE p.brand = $brand AND p.size <= $size "
        "RETURN count(*) AS lines, sum(c.quantity) AS qty"
    ),
    "aggregate": (
        "MATCH (:Order)-[c:CONTAINS]->(:Part) WHERE c.quantity < $q "
        "RETURN c.returnflag AS returnflag, c.linestatus AS linestatus, "
        "sum(c.quantity) AS sum_qty, sum(c.extendedprice) AS sum_price, "
        "avg(c.discount) AS avg_disc, count(*) AS n "
        "ORDER BY returnflag, linestatus"
    ),
    "var_length": (
        "MATCH (e:Event {event_id: $e})-[:NEXT*1..3]->(f:Event) "
        "RETURN f.event_id AS event_id ORDER BY event_id"
    ),
}

SQL = {
    "lookup": (
        "SELECT c_name AS name, c_acctbal AS acctbal, c_mktsegment AS segment "
        "FROM customer WHERE c_custkey = $k"
    ),
    "one_hop": (
        "SELECT o_orderkey AS orderkey, o_totalprice AS totalprice "
        "FROM orders WHERE o_custkey = $k ORDER BY orderkey"
    ),
    "two_hop": (
        # Cypher's sum() over no rows is 0, SQL's is NULL
        "SELECT count(*) AS lines, coalesce(sum(l_quantity), 0) AS qty "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "JOIN orders ON l_orderkey = o_orderkey "
        "WHERE p_brand = $brand AND p_size <= $size"
    ),
    "aggregate": (
        "SELECT l_returnflag AS returnflag, l_linestatus AS linestatus, "
        "sum(l_quantity) AS sum_qty, sum(l_extendedprice) AS sum_price, "
        "avg(l_discount) AS avg_disc, count(*) AS n "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "JOIN orders ON l_orderkey = o_orderkey "
        "WHERE l_quantity < $q GROUP BY ALL ORDER BY 1, 2"
    ),
    # NEXT is each user's (ts, event_id)-ordered successor chain, so the
    # 1..3-hop targets of an event are its next three events of that user
    "var_length": (
        "SELECT event_id FROM (SELECT unnest([n1, n2, n3]) AS event_id "
        "FROM next3 WHERE src = $e) WHERE event_id IS NOT NULL ORDER BY 1"
    ),
}

# fresh statements per round, by kind; plus HOT_PER_ROUND hot-set repeats
FRESH_PER_ROUND = {
    "lookup": 2, "one_hop": 2, "two_hop": 2, "aggregate": 2, "var_length": 1,
}
HOT_PER_ROUND = 3


class ReadMix:
    name = "read_mix"
    round_s = 7.5  # nominal seconds per round on 4 cpus

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = ctx.rng
        self.db = duckdb.connect()
        for t in ("customer", "orders", "lineitem", "part", "events"):
            self.db.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{ctx.sf_dir}/{t}.parquet')"
            )
        # parameter domains, read from the data itself
        self.custkeys = self._range("SELECT min(c_custkey), max(c_custkey) FROM customer")
        self.event_ids = self._range("SELECT min(event_id), max(event_id) FROM events")
        self.brands = [r[0] for r in self.db.sql(
            "SELECT DISTINCT p_brand FROM part ORDER BY 1").fetchall()]
        self.sizes = self._range("SELECT min(p_size), max(p_size) FROM part")
        self.qtys = self._range(
            "SELECT min(l_quantity)::INT + 1, max(l_quantity)::INT + 1 FROM lineitem"
        )
        self.used: set = set()
        self.hot: list[tuple] = []
        self.engine = None

    def _range(self, sql: str) -> tuple[int, int]:
        lo, hi = self.db.sql(sql).fetchone()
        return int(lo), int(hi)

    # -- set-up ---------------------------------------------------------------
    def setup(self) -> dict:
        """One set-up: project the parquet tables into a graph catalog and
        build an engine on it. Returns the timed phases."""
        from nicefox_graphdb_spark import CypherEngine
        from nicefox_graphdb_spark.sources import load_tpch_graph

        t0 = time.perf_counter()
        catalog = load_tpch_graph(self.ctx.spark, self.ctx.sf_dir)
        self.engine = CypherEngine(self.ctx.spark, catalog)
        return {"catalog_s": time.perf_counter() - t0}

    def discard_setup(self) -> None:
        self.engine = None

    # -- statements -----------------------------------------------------------
    def _params(self, kind: str) -> dict:
        r = self.rng
        if kind == "lookup" or kind == "one_hop":
            return {"k": r.randint(*self.custkeys)}
        if kind == "two_hop":
            return {"brand": r.choice(self.brands), "size": r.randint(*self.sizes)}
        if kind == "aggregate":
            return {"q": r.randint(*self.qtys)}
        return {"e": r.randint(*self.event_ids)}

    def _fresh(self, kind: str) -> tuple:
        for _ in range(1000):
            p = self._params(kind)
            key = (kind, tuple(sorted(p.items())))
            if key not in self.used:
                self.used.add(key)
                return kind, p
        raise RuntimeError(f"parameter domain of {kind} exhausted")

    def warmup_ops(self) -> list[dict]:
        self.hot = [self._fresh(k) for k in CYPHER]
        return [{"kind": k, "params": p} for k, p in self.hot]

    def round_ops(self, r: int) -> list[dict]:
        ops = [
            {"kind": k, "params": p}
            for kind, n in FRESH_PER_ROUND.items()
            for k, p in (self._fresh(kind) for _ in range(n))
        ]
        # the hot kinds rotate with the round number, not the seed, so every
        # seed runs the same mix of kinds
        for i in range(HOT_PER_ROUND):
            k, p = self.hot[(r * HOT_PER_ROUND + i) % len(self.hot)]
            ops.append({"kind": k, "params": p})
        self.rng.shuffle(ops)
        return ops

    def execute(self, op: dict) -> dict:
        stats = self.engine.cache_stats
        hits = stats["plan_hits"]
        resp = self.engine.query_response(CYPHER[op["kind"]], op["params"])
        return {
            "ok": resp["success"],
            "error": None if resp["success"] else resp.get("error"),
            "result": resp["data"],
            "plan_cache": "hit" if stats["plan_hits"] > hits else "miss",
        }

    # -- checks ---------------------------------------------------------------
    def verify(self, records: list[dict]) -> list[str]:
        """Re-run every executed statement on DuckDB; mark wrong results."""
        self.db.execute(
            "CREATE OR REPLACE TEMP TABLE next3 AS SELECT event_id AS src, "
            "lead(event_id, 1) OVER w AS n1, lead(event_id, 2) OVER w AS n2, "
            "lead(event_id, 3) OVER w AS n3 FROM events "
            "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"
        )
        problems = []
        for rec in records:
            if not rec["ok"]:
                continue
            rel = self.db.execute(SQL[rec["kind"]], rec["params"])
            cols = [d[0] for d in rel.description]
            want = [dict(zip(cols, row)) for row in rel.fetchall()]
            if not rows_equal(rec["result"], want):
                rec["ok"] = False
                problems.append(
                    f"{rec['kind']} {rec['params']}: got {rec['result'][:3]} "
                    f"want {want[:3]}"
                )
        return problems

    def final_checks(self) -> list[str]:
        return []

    def report(self, records: list[dict]) -> dict:
        timed = [r for r in records if r["timed"]]
        hits = sum(r["plan_cache"] == "hit" for r in timed)
        return {"plan_cache_hits": hits, "plan_cache_misses": len(timed) - hits}

    # -- tracing --------------------------------------------------------------
    def install_trace(self, tracer) -> None:
        from nicefox_graphdb_spark import engine as eng_mod
        from nicefox_graphdb_spark.cypher.compiler import CypherToSpark

        E = eng_mod.CypherEngine
        tracer.wrap(E, "query_response", "engine.query_response")
        tracer.wrap(E, "query", "engine.query")
        tracer.wrap(E, "dataframe", "engine.dataframe")
        tracer.wrap(eng_mod, "parse", "cypher.parse")
        tracer.wrap(CypherToSpark, "compile_query", "cypher.compile", counts=True)

    def close(self) -> None:
        self.db.close()
