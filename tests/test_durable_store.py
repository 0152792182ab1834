"""DurableGraph — durability, restart recovery, and merge pruning.

The reference persists every write to a SQLite file and recovers it on
reopen (src/db.ts:47-70, src/local.ts:22-45); these tests assert the same
contract for the bucketed-parquet store, plus the scale property the
reference never needed: a keyed MERGE rewrites only the touched buckets.
"""

import json
import os

import pytest

from nicefox_graphdb_spark import CypherEngine, GraphCatalog
from pyspark.sql import functions as F

from nicefox_graphdb_spark.durable_store import DurableTableStore, node_key


def _engine(spark, path):
    return CypherEngine(spark, GraphCatalog(spark), data_path=str(path))


def test_restart_recovers_nodes_edges_and_labels(spark, tmp_path):
    p = tmp_path / "g"
    e1 = _engine(spark, p)
    e1.query("CREATE (a:Person {name: 'A', age: 30})-[:KNOWS {since: 2020}]->(b:Person {name: 'B'})")
    e1.query("MATCH (n:Person {name: 'A'}) SET n:Admin")

    # a brand-new engine + catalog over the same path sees everything
    e2 = _engine(spark, p)
    rows = e2.query(
        "MATCH (a:Person)-[r:KNOWS]->(b:Person) "
        "RETURN a.name AS a, r.since AS s, b.name AS b"
    )
    assert rows == [{"a": "A", "s": 2020, "b": "B"}]
    # multi-label membership survives the restart (manifest flag)
    assert e2.query(
        "MATCH (n:Admin) RETURN join(labels(n), '|') AS ls"
    ) == [{"ls": "Admin|Person"}]


def test_restart_sees_updates_and_deletes(spark, tmp_path):
    p = tmp_path / "g"
    e1 = _engine(spark, p)
    e1.query("CREATE (:Item {name: 'x', price: 1})")
    e1.query("CREATE (:Item {name: 'y', price: 2})")
    e1.query("MATCH (n:Item {name: 'x'}) SET n.price = 99")
    e1.query("MATCH (n:Item {name: 'y'}) DELETE n")

    e2 = _engine(spark, p)
    assert e2.query(
        "MATCH (n:Item) RETURN n.name AS name, n.price AS price"
    ) == [{"name": "x", "price": 99}]


def test_merge_on_match_durable(spark, tmp_path):
    p = tmp_path / "g"
    e1 = _engine(spark, p)
    e1.query("MERGE (n:C {k: 1}) ON CREATE SET n.v = 'created'")
    e1.query("MERGE (n:C {k: 1}) ON MATCH SET n.v = 'matched'")
    e1.query("MERGE (n:C {k: 2}) ON CREATE SET n.v = 'created'")
    e2 = _engine(spark, p)
    assert e2.query(
        "MATCH (n:C) RETURN n.k AS k, n.v AS v ORDER BY k"
    ) == [{"k": 1, "v": "matched"}, {"k": 2, "v": "created"}]


def test_merge_upsert_fused_single_write(spark, tmp_path):
    """A terminal MERGE with ON MATCH SET writes its created rows and the
    matched rows' rewrite as ONE durable file; the created rows still land
    when nothing matches or the ON MATCH SET targets another table, and a
    NULL key raises before the manifest changes."""
    from nicefox_graphdb_spark.graph_store import CypherRuntimeError

    p = tmp_path / "g"
    eng = _engine(spark, p)
    store = eng.store.tables
    ddir = p / "data" / "nodes" / "Doc"

    def n_files():
        return sum(f.endswith(".parquet") for f in os.listdir(ddir))

    def docs():
        return eng.query(
            "MATCH (d:Doc) RETURN count(*) AS n, sum(d.m) AS m, sum(d.c) AS c"
        )[0]

    eng.query("UNWIND range(0, 999) AS i CREATE (:Doc {k: i})")
    # (a) half the keys match, half are new: one file, one version
    f0, v0 = n_files(), store.manifest["version"]
    eng.query(
        "UNWIND range(500, 1499) AS i MERGE (d:Doc {k: i}) "
        "ON MATCH SET d.m = 1 ON CREATE SET d.c = 1"
    )
    assert n_files() == f0 + 1
    assert store.manifest["version"] == v0 + 1
    assert docs() == {"n": 1500, "m": 500, "c": 500}
    # (b) every key new: nothing to rewrite, the rows still append
    eng.query(
        "UNWIND range(2000, 2099) AS i MERGE (d:Doc {k: i}) ON MATCH SET d.m = 1"
    )
    assert docs() == {"n": 1600, "m": 500, "c": 500}
    # (c) ON MATCH updates only another label's node: each d created once
    eng.query("UNWIND range(3000, 3004) AS i CREATE (:O {k: i})")
    for _ in range(2):
        eng.query("MATCH (o:O) MERGE (d:Doc {k: o.k}) ON MATCH SET o.seen = 1")
    assert eng.query(
        "MATCH (d:Doc) WHERE d.k >= 3000 RETURN count(*) AS n"
    ) == [{"n": 5}]
    assert eng.query("MATCH (o:O) RETURN sum(o.seen) AS s") == [{"s": 5}]
    # (d) a NULL key in the fused upsert raises; nothing is published
    v1 = store.manifest["version"]
    with pytest.raises(CypherRuntimeError, match="null property value"):
        eng.query(
            "UNWIND [500, null] AS i MERGE (d:Doc {k: i}) "
            "ON MATCH SET d.m = 2 ON CREATE SET d.c = 1"
        )
    assert store.manifest["version"] == v1
    assert docs() == {"n": 1605, "m": 500, "c": 500}
    assert _engine(spark, p).query(
        "MATCH (d:Doc) RETURN count(*) AS n, sum(d.m) AS m"
    ) == [{"n": 1605, "m": 500}]


def test_update_rewrites_only_touched_buckets(spark, tmp_path):
    """The 100 TB property: on a compacted (bucket-exclusive) table, a
    keyed SET must leave every untouched file byte-identical in the
    manifest (file skipping, Delta-style)."""
    p = tmp_path / "g"
    eng = _engine(spark, p)
    eng.query(
        "UNWIND range(0, 199) AS i CREATE (:N {k: i, v: 0})"
    )
    store = eng.store.tables
    key = node_key("N")
    # compact into the steady-state layout a 100 TB table would have:
    # one exclusive file per bucket
    store._compact_shared(key)
    store.commit()
    before = {e["name"]: e for e in store.manifest["tables"][key]["files"]}
    assert all(len(e["buckets"]) == 1 for e in before.values())
    # update exactly one node → its _id hashes to exactly one bucket
    eng.query("MATCH (n:N {k: 7}) SET n.v = 1")
    after = {e["name"]: e for e in store.manifest["tables"][key]["files"]}
    removed = set(before) - set(after)
    touched = {b for n in removed for b in before[n]["buckets"]}
    assert len(touched) == 1, f"expected 1 rewritten bucket, got {touched}"
    for n in set(before) & set(after):  # untouched files untouched
        assert before[n] == after[n]
    # every new file covers only the touched bucket
    for n in set(after) - set(before):
        assert set(after[n]["buckets"]) <= touched
    # and the data is correct
    assert eng.query(
        "MATCH (n:N) WHERE n.v = 1 RETURN n.k AS k"
    ) == [{"k": 7}]
    assert eng.query(
        "MATCH (n:N) WHERE n.v = 0 RETURN count(*) AS c"
    ) == [{"c": 199}]


def test_append_does_not_rewrite_existing_files(spark, tmp_path):
    p = tmp_path / "g"
    eng = _engine(spark, p)
    eng.query("CREATE (:A {k: 1})")
    store = eng.store.tables
    key = node_key("A")
    before = {e["name"] for e in store.manifest["tables"][key]["files"]}
    eng.query("CREATE (:A {k: 2})")
    after = {e["name"] for e in store.manifest["tables"][key]["files"]}
    assert before <= after  # old files still referenced, only added to


def test_small_write_lands_as_one_stats_tagged_file(spark, tmp_path):
    """A small append writes ONE file whose manifest entry carries the
    exact bucket set + row/byte stats (observe-collected, no extra scan)."""
    from pyspark.sql import types as T

    store = DurableTableStore(spark, str(tmp_path / "sw"), n_buckets=8)
    schema = T.StructType([T.StructField("_id", T.StringType())])
    store.create_table("nodes/S", {"kind": "node", "label": "S"}, schema)
    store.append(
        "nodes/S",
        # a JVM-derived checkpointed frame carries exact size stats —
        # Python-parallelized local relations report unknown size and
        # deliberately take the fan-out path
        spark.range(50)
        .select(F.concat(F.lit("id"), F.col("id")).alias("_id"))
        .localCheckpoint(eager=True),
    )
    files = store.manifest["tables"]["nodes/S"]["files"]
    assert len(files) == 1
    e = files[0]
    assert e["rows"] == 50 and e["bytes"] > 0
    # exact bucket tag: a pruned read on any bucket outside the set skips
    # the file entirely; inside the set it row-filters
    all_buckets = set(e["buckets"])
    assert all_buckets <= set(range(8))
    inside = store.read_table("nodes/S", [e["buckets"][0]]).count()
    assert 0 < inside < 50


def test_bucket_compaction_bounds_file_count(spark, tmp_path):
    store = DurableTableStore(
        spark, str(tmp_path / "t"), n_buckets=1, compact_threshold=3
    )
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("_id", T.StringType())])
    store.create_table("nodes/X", {"kind": "node", "label": "X"}, schema)
    for i in range(10):
        store.append(
            "nodes/X", spark.createDataFrame([(f"id{i}",)], schema)
        )
        store.commit()
    files = store.manifest["tables"]["nodes/X"]["files"]
    assert len(files) <= 3 + 1  # compaction keeps the bucket bounded
    assert store.read_table("nodes/X").count() == 10


def test_shared_file_compaction_restores_exclusive_layout(spark, tmp_path):
    """Small appends accumulate shared (multi-bucket) files; crossing the
    threshold folds them back into bucket-exclusive files so pruned reads
    stay pruned at scale."""
    from pyspark.sql import types as T

    store = DurableTableStore(
        spark, str(tmp_path / "sh"), n_buckets=4, compact_threshold=2
    )
    schema = T.StructType([T.StructField("_id", T.StringType())])
    store.create_table("nodes/M", {"kind": "node", "label": "M"}, schema)
    for i in range(4):
        store.append(
            "nodes/M",
            spark.range(10)
            .select(
                F.concat(F.lit(f"m{i}-"), F.col("id")).alias("_id")
            )
            .localCheckpoint(eager=True),  # known-small → shared files
        )
        store.commit()
    files = store.manifest["tables"]["nodes/M"]["files"]
    shared = [e for e in files if len(e["buckets"]) != 1]
    assert len(shared) <= 2  # bounded by the threshold
    assert store.read_table("nodes/M").count() == 40


def test_adopt_bulk_table_then_mutate(spark, tmp_path):
    """A parquet-registered (bulk) table becomes durable on first write."""
    from pyspark.sql import Row

    cat = GraphCatalog(spark)
    cat.register_node(
        "Bulk", spark.createDataFrame([Row(_id="b1", v=1), Row(_id="b2", v=2)])
    )
    eng = CypherEngine(spark, cat, data_path=str(tmp_path / "g"))
    eng.query("MATCH (n:Bulk {v: 1}) SET n.v = 10")
    assert eng.query(
        "MATCH (n:Bulk) RETURN n.v AS v ORDER BY v"
    ) == [{"v": 2}, {"v": 10}]
    # recovery includes the adopted table
    e2 = CypherEngine(spark, GraphCatalog(spark), data_path=str(tmp_path / "g"))
    assert e2.query(
        "MATCH (n:Bulk) RETURN n.v AS v ORDER BY v"
    ) == [{"v": 2}, {"v": 10}]


def test_detach_delete_durable(spark, tmp_path):
    p = tmp_path / "g"
    e1 = _engine(spark, p)
    e1.query("CREATE (a:U {n: 'a'})-[:R]->(b:U {n: 'b'})")
    e1.query("MATCH (n:U {n: 'a'}) DETACH DELETE n")
    e2 = _engine(spark, p)
    assert e2.query("MATCH (n:U) RETURN n.n AS n") == [{"n": "b"}]
    assert e2.query("MATCH ()-[r:R]->() RETURN count(*) AS c") == [{"c": 0}]


def test_commit_is_atomic_versioned(spark, tmp_path):
    p = tmp_path / "g"
    eng = _engine(spark, p)
    eng.query("CREATE (:V {k: 1})")
    v1 = eng.store.tables.manifest["version"]
    eng.query("CREATE (:V {k: 2})")
    v2 = eng.store.tables.manifest["version"]
    assert v2 > v1
    mdir = p / "_manifest"
    current = (mdir / "CURRENT").read_text().strip()
    m = json.loads((mdir / current).read_text())
    assert m["version"] == v2
    # every referenced file exists on disk
    for key, t in m["tables"].items():
        for e in t["files"]:
            assert os.path.exists(p / "data" / key / e["name"])


def test_vacuum_removes_orphaned_files(spark, tmp_path):
    p = tmp_path / "g"
    eng = _engine(spark, p)
    eng.query("UNWIND range(0, 20) AS i CREATE (:W {k: i})")
    eng.query("MATCH (n:W) SET n.k = n.k + 100")  # rewrites all buckets
    removed = eng.store.tables.vacuum()
    assert removed > 0
    # table still fully readable after vacuum
    assert eng.query("MATCH (n:W) RETURN count(*) AS c") == [{"c": 21}]


def test_null_property_persists(spark, tmp_path):
    # parquet can't store void columns; all-null props persist as string
    p = tmp_path / "g"
    e1 = _engine(spark, p)
    e1.query("CREATE (:Z {a: 1, b: null})")
    e2 = _engine(spark, p)
    assert e2.query("MATCH (n:Z) RETURN n.a AS a, n.b AS b") == [
        {"a": 1, "b": None}
    ]


def test_replace_buckets_validates_before_mutating(spark, tmp_path):
    """Rows outside the touched set must raise BEFORE the in-memory bucket
    map changes — a caller that catches the error and later commits must
    not persist a half-updated manifest (ADVICE r4 #5)."""
    import copy

    from pyspark.sql import types as T

    store = DurableTableStore(spark, str(tmp_path / "rb"), n_buckets=4)
    schema = T.StructType([T.StructField("_id", T.StringType())])
    store.create_table("nodes/Y", {"kind": "node", "label": "Y"}, schema)
    ids = [f"id{i}" for i in range(20)]
    store.append("nodes/Y", spark.createDataFrame([(i,) for i in ids], schema))
    store.commit()
    before = copy.deepcopy(store.manifest["tables"]["nodes/Y"]["files"])
    # pick one real bucket, then feed replace_buckets the FULL table so
    # some rows hash outside the touched set
    touched = [before[0]["buckets"][0]]
    full = store.read_table("nodes/Y")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="outside touched"):
        store.replace_buckets("nodes/Y", touched, full)
    assert store.manifest["tables"]["nodes/Y"]["files"] == before
    store.commit()  # committing after the failed call stays consistent
    reopened = DurableTableStore(spark, str(tmp_path / "rb"), n_buckets=4)
    assert sorted(
        r._id for r in reopened.read_table("nodes/Y").collect()
    ) == sorted(ids)


def test_hadoop_commit_plane_roundtrip(spark, tmp_path):
    """The same store logic through the Hadoop FileSystem commit plane
    (file:// scheme here; hdfs:// at deploy) — write, commit, reopen,
    recover, vacuum."""
    from pyspark.sql import types as T

    from nicefox_graphdb_spark.commit_plane import HadoopCommitPlane

    root = "file://" + str(tmp_path / "hfs")
    fs = HadoopCommitPlane(spark, root)
    store = DurableTableStore(spark, root, n_buckets=4, fs=fs)
    schema = T.StructType(
        [
            T.StructField("_id", T.StringType()),
            T.StructField("v", T.LongType()),
        ]
    )
    store.create_table("nodes/H", {"kind": "node", "label": "H"}, schema)
    store.append(
        "nodes/H",
        spark.createDataFrame([(f"h{i}", i) for i in range(10)], schema),
    )
    store.commit()
    # rewrite a touched subset, commit again
    touched = store.touched_buckets(
        spark.createDataFrame([("h1",), ("h2",)], "struct<_id:string>")
    )
    updated = store.read_table("nodes/H", touched).withColumn(
        "v", F.col("v") + 100
    )
    store.replace_buckets("nodes/H", touched, updated)
    store.commit()
    # reopen through a fresh plane: recovery must see both commits
    reopened = DurableTableStore(
        spark, root, fs=HadoopCommitPlane(spark, root)
    )
    rows = {r._id: r.v for r in reopened.read_table("nodes/H").collect()}
    assert rows["h1"] == 101 and rows["h2"] == 102
    assert len(rows) == 10
    assert reopened.vacuum() >= 0  # old files drop cleanly via the plane


def test_query_atomicity_failing_clause_rolls_back_earlier_writes(
    spark, tmp_path
):
    """Reference semantics: all statements of one query run in a single
    transaction with rollback (src/executor.ts:446-456). A failing later
    clause must leave NO trace of the earlier clauses' writes — neither in
    the live catalog nor in the durable manifest."""
    from nicefox_graphdb_spark.cypher.compiler import CypherCompileError
    from nicefox_graphdb_spark.graph_store import CypherRuntimeError

    p = tmp_path / "g"
    eng = _engine(spark, p)
    eng.query("CREATE (:T {k: 0, q: null})")
    v_before = eng.store.tables.manifest["version"]
    # clause 1 CREATEs and executes; clause 3 MERGEs on a key that is null
    # AT RUNTIME (n.q types as string but holds null) → runtime error after
    # clause 1's write already staged
    with pytest.raises(CypherRuntimeError):
        eng.query(
            "CREATE (:T {k: 1}) WITH 1 AS one "
            "MATCH (n:T) MERGE (z:Zz {k: n.q})"
        )
    # in-memory state rolled back: the k=1 node is gone, no Zz label
    assert eng.query("MATCH (n:T) RETURN count(*) AS c") == [{"c": 1}]
    # durable state: no manifest version was published for the failed query
    assert eng.store.tables.manifest["version"] == v_before
    # a compile-time error after an executed clause rolls back the same way
    with pytest.raises(CypherCompileError):
        eng.query("CREATE (:T {k: 2}) WITH 1 AS one MERGE (x:T {k: null})")
    assert eng.query("MATCH (n:T) RETURN count(*) AS c") == [{"c": 1}]
    assert eng.store.tables.manifest["version"] == v_before
    # restart agrees
    e2 = _engine(spark, p)
    assert e2.query("MATCH (n:T) RETURN count(*) AS c") == [{"c": 1}]


def test_multi_write_query_publishes_one_manifest_version(spark, tmp_path):
    """One durable manifest version per query, however many write clauses
    it contains (the reference's one-transaction-per-query shape)."""
    p = tmp_path / "g"
    eng = _engine(spark, p)
    v0 = eng.store.tables.manifest["version"]
    eng.query(
        "CREATE (a:Q {k: 1}) CREATE (b:Q {k: 2}) "
        "WITH a, b SET a.v = 10 SET b.v = 20"
    )
    assert eng.store.tables.manifest["version"] == v0 + 1
    assert eng.query(
        "MATCH (n:Q) RETURN n.k AS k, n.v AS v ORDER BY k"
    ) == [{"k": 1, "v": 10}, {"k": 2, "v": 20}]


def test_mutable_store_query_atomicity(spark):
    """The in-memory store honors the same rollback contract."""
    from nicefox_graphdb_spark.cypher.compiler import CypherCompileError

    eng = CypherEngine(spark, GraphCatalog(spark), mutable=True)
    eng.query("CREATE (:T {k: 0})")
    with pytest.raises(CypherCompileError):
        eng.query("CREATE (:T {k: 1}) WITH 1 AS one MERGE (x:T {k: null})")
    assert eng.query("MATCH (n:T) RETURN count(*) AS c") == [{"c": 1}]


def test_pre_v2_manifest_loads(spark, tmp_path):
    """Back-compat: a manifest in the old bucket→files format (no stats)
    still reads; first rewrite upgrades the entries."""
    import json as _json
    import os as _os

    from pyspark.sql import types as T

    # write a table in the NEW store, then rewrite its manifest to the old
    # format on disk and reopen
    root = str(tmp_path / "old")
    store = DurableTableStore(spark, root, n_buckets=2)
    schema = T.StructType([T.StructField("_id", T.StringType())])
    store.create_table("nodes/O", {"kind": "node", "label": "O"}, schema)
    store.append(
        "nodes/O",
        spark.createDataFrame([(f"o{i}",) for i in range(6)], schema),
    )
    store._compact_shared("nodes/O")  # exclusive files → expressible in v1
    store.commit()
    mdir = _os.path.join(root, "_manifest")
    cur = open(_os.path.join(mdir, "CURRENT")).read().strip()
    m = _json.loads(open(_os.path.join(mdir, cur)).read())
    t = m["tables"]["nodes/O"]
    t["buckets"] = {}
    for e in t.pop("files"):
        t["buckets"].setdefault(str(e["buckets"][0]), []).append(e["name"])
    with open(_os.path.join(mdir, cur), "w") as f:
        f.write(_json.dumps(m))
    reopened = DurableTableStore(spark, root, n_buckets=2)
    assert reopened.read_table("nodes/O").count() == 6
    entries = reopened.manifest["tables"]["nodes/O"]["files"]
    assert all(len(e["buckets"]) == 1 for e in entries)


def test_load_falls_back_to_newest_version_when_current_missing(
    spark, tmp_path
):
    """Crash between manifest publish and CURRENT swing: reopen adopts the
    newest atomic manifest version."""
    import os as _os

    from pyspark.sql import types as T

    root = str(tmp_path / "crash")
    store = DurableTableStore(spark, root, n_buckets=2)
    schema = T.StructType([T.StructField("_id", T.StringType())])
    store.create_table("nodes/C", {"kind": "node", "label": "C"}, schema)
    store.append(
        "nodes/C", spark.createDataFrame([("c1",), ("c2",)], schema)
    )
    store.commit()
    _os.remove(_os.path.join(root, "_manifest", "CURRENT"))
    reopened = DurableTableStore(spark, root)
    assert reopened.read_table("nodes/C").count() == 2


def test_retention_bounds_files_and_time_travel_reads(spark, tmp_path):
    """VERDICT r6 ask #4: a SET/DELETE loop must leave manifest + data
    file counts bounded (auto-vacuum on the commit cadence) while
    time-travel to the retained window still reads consistently."""
    path = str(tmp_path / "g")
    eng = _engine(spark, path)
    store = eng.store.tables
    store.retain_versions = 4
    store.vacuum_every = 2
    eng.query("CREATE (:N {k: 1, v: 0})")
    for i in range(1, 13):
        eng.query(f"MATCH (n:N {{k: 1}}) SET n.v = {i}")
    mdir = os.path.join(path, "_manifest")
    manifests = [f for f in os.listdir(mdir) if f.endswith(".json")]
    # retained window only — never the full 13-version history
    assert len(manifests) <= store.retain_versions + store.vacuum_every
    ddir = os.path.join(path, "data", node_key("N"))
    files = [f for f in os.listdir(ddir) if f.endswith(".parquet")]
    # every retained version references at most 1 small file for this table
    assert len(files) <= store.retain_versions + store.vacuum_every
    # time travel: each retained version reads the value as-of then
    cur = store.manifest["version"]
    floor = cur - store.retain_versions + 1
    vals = {}
    for v in range(max(floor, 1), cur + 1):
        rows = store.read_table_at(node_key("N"), v).select("v").collect()
        vals[v] = rows[0]["v"] if rows else None
    # versions are montonically increasing SET values
    got = [vals[v] for v in sorted(vals)]
    assert got == sorted(got) and len(set(got)) == len(got)
    # versions older than the last retention run's floor are gone, loudly
    # (retention fires every vacuum_every commits, so the deletable
    # horizon lags the current version by at most that much)
    old = cur - store.retain_versions - store.vacuum_every
    if old >= 1:
        with pytest.raises(FileNotFoundError):
            store.read_table_at(node_key("N"), old)
    # current state survives a restart after vacuum
    eng2 = _engine(spark, path)
    assert eng2.query("MATCH (n:N) RETURN n.v AS v") == [{"v": 12}]
