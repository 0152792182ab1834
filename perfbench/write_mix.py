"""write_mix: one durable project served over HTTP.

Set-up starts `server.create_server` with a `CypherEngine(data_path=...)`
registered as the project and loads an initial graph of Person nodes and
KNOWS edges through `remote.RemoteEngine`. Every round is eight seeded
statements: two UNWIND-CREATE batches, one MERGE upsert batch (about half
the keys exist, keys distinct within a batch), one keyed SET, one
relationship CREATE between existing nodes, one DETACH DELETE and two reads
— a quarter of the round: a point read and, in alternate rounds, a key
range or a one-hop read.

A client-side model of the graph gives every read its expected rows. At the
end a brand-new engine is opened on the project directory (a restart) and
its whole state is compared with the model.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

from common import rows_equal

Q = {
    "create": (
        "UNWIND $rows AS r CREATE (:Person {k: r.k, v: r.v, grp: r.grp})"
    ),
    "edges": (
        "MATCH (a:Person), (b:Person) WHERE a.k < $m AND b.k = (a.k * 7 + 1) % $n "
        "CREATE (a)-[:KNOWS {w: a.k}]->(b)"
    ),
    "merge": (
        "UNWIND $rows AS r MERGE (p:Person {k: r.k}) "
        "ON CREATE SET p.v = r.v, p.grp = r.grp ON MATCH SET p.v = r.v"
    ),
    "set": "MATCH (p:Person {k: $k}) SET p.v = $v",
    "rel": (
        "MATCH (a:Person {k: $a}), (b:Person {k: $b}) "
        "CREATE (a)-[:KNOWS {w: $w}]->(b)"
    ),
    "delete": "MATCH (p:Person {k: $k}) DETACH DELETE p",
    "point": "MATCH (p:Person {k: $k}) RETURN p.k AS k, p.v AS v, p.grp AS grp",
    "range": (
        "MATCH (p:Person) WHERE p.k >= $lo AND p.k < $hi "
        "RETURN p.k AS k, p.v AS v ORDER BY k"
    ),
    "hop": (
        "MATCH (a:Person {k: $k})-[r:KNOWS]->(b:Person) "
        "RETURN b.k AS k, r.w AS w ORDER BY k, w"
    ),
}
READS = ("point", "range", "hop")
WRITES = ("create", "create", "merge", "set", "rel", "delete")
BATCH = 20
RANGE = 40


class WriteMix:
    name = "write_mix"
    round_s = 6.5  # nominal seconds per round on 4 cpus

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = ctx.rng
        self.n_init = 60 if ctx.smoke else 500
        self.e_init = 20 if ctx.smoke else 100
        self.reps = 0
        self.httpd = None
        self.thread = None
        self.engine = None
        self.client = None
        self.path = None

    # -- set-up ---------------------------------------------------------------
    def setup(self) -> dict:
        """One set-up: a fresh project directory, the server, and the
        initial graph loaded over HTTP."""
        from nicefox_graphdb_spark import CypherEngine
        from nicefox_graphdb_spark.catalog import GraphCatalog
        from nicefox_graphdb_spark.remote import RemoteEngine
        from nicefox_graphdb_spark.server import create_server

        spark = self.ctx.spark
        self.reps += 1
        self.path = os.path.join(self.ctx.run_dir, f"project{self.reps}")
        t0 = time.perf_counter()
        self.engine = CypherEngine(spark, GraphCatalog(spark), data_path=self.path)
        self.httpd, manager = create_server(spark, host="127.0.0.1", port=0)
        manager.register("bench", self.engine)
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()
        self.client = RemoteEngine(
            f"http://127.0.0.1:{self.httpd.server_address[1]}",
            project="bench", timeout=170,
        )
        t1 = time.perf_counter()
        # the initial graph is the same on every set-up repetition
        self.nodes: dict[int, dict] = {}
        self.edges: list[tuple[int, int, int]] = []
        rows = [
            {"k": k, "v": k % 97, "grp": f"g{k % 10}"} for k in range(self.n_init)
        ]
        for kind, params in (
            ("create", {"rows": rows}),
            ("edges", {"m": self.e_init, "n": self.n_init}),
        ):
            resp = self.client.query_response(Q[kind], params)
            if not resp["success"]:
                raise RuntimeError(f"initial load failed: {resp.get('error')}")
        for r in rows:
            self.nodes[r["k"]] = {"v": r["v"], "grp": r["grp"]}
        self.edges = [(a, (a * 7 + 1) % self.n_init, a) for a in range(self.e_init)]
        self.next_key = self.n_init
        return {"store_open_s": t1 - t0, "initial_load_s": time.perf_counter() - t1}

    def _stop_server(self) -> None:
        if self.httpd is not None:
            self.httpd.shutdown()
            self.httpd.server_close()
            self.thread.join(timeout=30)
            self.httpd = None

    def discard_setup(self) -> None:
        self._stop_server()
        shutil.rmtree(self.path, ignore_errors=True)

    # -- statements -----------------------------------------------------------
    def _key(self) -> int:
        return self.rng.choice(sorted(self.nodes))

    def _new_keys(self, n: int) -> list[int]:
        keys = list(range(self.next_key, self.next_key + n))
        self.next_key += n
        return keys

    def _op(self, kind: str) -> dict:
        """Parameters for one statement, drawn against the model state at
        the moment it runs (so a later statement sees earlier writes)."""
        r = self.rng
        if kind == "create":
            p = {"rows": [
                {"k": k, "v": r.randrange(1000), "grp": f"g{r.randrange(10)}"}
                for k in self._new_keys(BATCH)
            ]}
        elif kind == "merge":
            old = r.sample(sorted(self.nodes), BATCH // 2)
            keys = old + self._new_keys(BATCH - len(old))
            r.shuffle(keys)
            p = {"rows": [
                {"k": k, "v": r.randrange(1000), "grp": f"g{r.randrange(10)}"}
                for k in keys
            ]}
        elif kind == "set":
            p = {"k": self._key(), "v": r.randrange(1000)}
        elif kind == "rel":
            p = {"a": self._key(), "b": self._key(), "w": r.randrange(1000)}
        elif kind == "delete":
            p = {"k": self._key()}
        elif kind == "point":
            p = {"k": r.randrange(self.next_key)}
        elif kind == "range":
            lo = r.randrange(max(1, self.next_key - RANGE))
            p = {"lo": lo, "hi": lo + RANGE}
        else:  # hop: a node with outgoing edges when there is one
            srcs = sorted({a for a, _, _ in self.edges})
            p = {"k": r.choice(srcs) if srcs else self._key()}
        return {"kind": kind, "params": p}

    def warmup_ops(self) -> list[dict]:
        return [self._lazy(k) for k in dict.fromkeys(WRITES + READS)]

    def round_ops(self, r: int) -> list[dict]:
        kinds = list(WRITES) + ["point", "range" if r % 2 else "hop"]
        self.rng.shuffle(kinds)
        return [self._lazy(k) for k in kinds]

    def _lazy(self, kind: str) -> dict:
        # parameters are drawn when the statement is about to run
        return {"kind": kind, "params": None}

    def _expected(self, kind: str, p: dict) -> list[dict]:
        if kind == "point":
            n = self.nodes.get(p["k"])
            return [] if n is None else [{"k": p["k"], **n}]
        if kind == "range":
            return [
                {"k": k, "v": self.nodes[k]["v"]}
                for k in sorted(self.nodes) if p["lo"] <= k < p["hi"]
            ]
        return sorted(
            ({"k": b, "w": w} for a, b, w in self.edges if a == p["k"]),
            key=lambda d: (d["k"], d["w"]),
        )

    def _apply(self, kind: str, p: dict) -> None:
        if kind == "create":
            for row in p["rows"]:
                self.nodes[row["k"]] = {"v": row["v"], "grp": row["grp"]}
        elif kind == "merge":
            for row in p["rows"]:
                if row["k"] in self.nodes:
                    self.nodes[row["k"]]["v"] = row["v"]
                else:
                    self.nodes[row["k"]] = {"v": row["v"], "grp": row["grp"]}
        elif kind == "set":
            self.nodes[p["k"]]["v"] = p["v"]
        elif kind == "rel":
            self.edges.append((p["a"], p["b"], p["w"]))
        elif kind == "delete":
            del self.nodes[p["k"]]
            self.edges = [e for e in self.edges if p["k"] not in (e[0], e[1])]

    def execute(self, op: dict) -> dict:
        op.update(self._op(op["kind"]))
        kind, p = op["kind"], op["params"]
        resp = self.client.query_response(Q[kind], p)
        rec = {
            "ok": resp["success"],
            "error": None if resp["success"] else resp.get("error"),
            "result": resp["data"],
            "plan_cache": "miss",  # every write bumps the catalog version
        }
        if kind in READS:
            rec["expected"] = self._expected(kind, p)
        else:
            rec["expected"] = []
            if resp["success"]:
                self._apply(kind, p)
        return rec

    # -- checks ---------------------------------------------------------------
    def verify(self, records: list[dict]) -> list[str]:
        problems = []
        for rec in records:
            if rec["ok"] and not rows_equal(rec["result"], rec["expected"]):
                rec["ok"] = False
                problems.append(
                    f"{rec['kind']} {rec['params']}: got {rec['result'][:3]} "
                    f"want {rec['expected'][:3]}"
                )
        return problems

    def store_files(self) -> dict[str, int]:
        """Every file of the project directory with its size."""
        out = {}
        for root, _, files in os.walk(self.path):
            for f in files:
                fp = os.path.join(root, f)
                out[fp] = os.path.getsize(fp)
        return out

    def final_checks(self) -> list[str]:
        """Restart: a brand-new engine on the project directory must hold
        exactly the model's nodes and edges."""
        from nicefox_graphdb_spark import CypherEngine
        from nicefox_graphdb_spark.catalog import GraphCatalog

        self._stop_server()
        spark = self.ctx.spark
        fresh = CypherEngine(spark, GraphCatalog(spark), data_path=self.path)
        got_nodes = fresh.query(
            "MATCH (p:Person) RETURN p.k AS k, p.v AS v, p.grp AS grp"
        )
        got_edges = fresh.query(
            "MATCH (a:Person)-[r:KNOWS]->(b:Person) "
            "RETURN a.k AS a, b.k AS b, r.w AS w"
        )
        want_nodes = [{"k": k, **n} for k, n in self.nodes.items()]
        want_edges = [{"a": a, "b": b, "w": w} for a, b, w in self.edges]
        problems = []
        if not rows_equal(got_nodes, want_nodes, ordered=False):
            problems.append(
                f"restart: {len(got_nodes)} nodes, model has {len(want_nodes)}"
            )
        if not rows_equal(got_edges, want_edges, ordered=False):
            problems.append(
                f"restart: {len(got_edges)} edges, model has {len(want_edges)}"
            )
        return problems

    def report(self, records: list[dict]) -> dict:
        rows = len(self.nodes) + len(self.edges)
        files = self.store_files()
        size = sum(files.values())
        return {
            "store_bytes": size,
            "store_files": len(files),
            "live_rows": rows,
            "bytes_per_row": size / rows if rows else None,
        }

    # -- tracing --------------------------------------------------------------
    def install_trace(self, tracer) -> None:
        from nicefox_graphdb_spark import engine as eng_mod
        from nicefox_graphdb_spark.cypher.compiler import CypherToSpark
        from nicefox_graphdb_spark.durable_store import DurableGraph

        E = eng_mod.CypherEngine
        tracer.wrap(self.httpd, "finish_request", "server.request")
        tracer.wrap(E, "query_response", "engine.query_response")
        tracer.wrap(E, "query", "engine.query")
        tracer.wrap(E, "dataframe", "engine.dataframe")
        tracer.wrap(eng_mod, "parse", "cypher.parse")
        tracer.wrap(CypherToSpark, "compile_query", "cypher.compile", counts=True)
        tracer.wrap(DurableGraph, "begin_query", "durable.begin_query")
        tracer.wrap(DurableGraph, "commit_query", "durable.commit_query")

    def close(self) -> None:
        self._stop_server()
