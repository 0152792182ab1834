#!/usr/bin/env python3
"""Repository benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload write_mix --seed 1 --seconds 20 --trace 0

Workloads: read_mix, write_mix, batch_analytics (see perfbench/README.md).
Run from the repository root.

--seconds sets how much work a window holds: round(seconds / nominal round
time) whole rounds of the workload's fixed operation mix. A seed therefore
always runs the same operations, and ops_per_s is a fixed operation count
over its elapsed time. --trace 1 adds an untraced reference window and a
traced window after the measured one.

The last line of stdout is the result {"correct", "attempted", "failed",
"metrics"}: with --trace 0 the end-to-end metrics, with --trace 1 the
per-layer ones. The line before it, prefixed "perfbench-report ", is the
full report (provenance, host contention, per-kind latencies, every
per-layer figure, check results); the report and a traced run's spans are
also written under .perfbench_out/.

Further options: --smoke (tiny dataset, one round, one set-up) and
--plant-fault (corrupt one result before the checks, which must then
report a failure). Environment: SPARK_GRAFT_CPUS (local[N], default the
number of usable cpus), SPARK_GRAFT_SF_DIR (read an existing dataset
directory instead of generating one), NICEFOX_DRIVER_MEM (default 2g).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path[:0] = [HERE, ROOT]

READ_SF = 0.1
BATCH_SF = 0.02
SMOKE_SF = 0.001
SETUP_REPS = 3
# the metrics of the result line; BENCHMARK.json lists the same names
E2E_METRICS = ("setup_s", "ops_per_s")
LAYER_METRICS = (
    "setup.spark_s", "setup.data_s", "setup.warmup_s",
    "spark.plan_ms", "spark.execute_ms", "spark.job_ms", "spark.jobs",
    "spark.stages_run", "spark.stages_skipped", "spark.tasks",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "op.outside_jobs_ms", "trace.overhead_ratio",
)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["read_mix", "write_mix", "batch_analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--plant-fault", action="store_true")
    return ap.parse_args(argv)


# -- host and provenance ------------------------------------------------------
def proc_stat() -> dict[str, int] | None:
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
    except OSError:
        return None
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    return dict(zip(names, (int(x) for x in parts[1:9])))


def host_block(s0, s1) -> dict:
    out = {
        "cpus": len(os.sched_getaffinity(0)),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }
    if s0 and s1:
        d = {k: s1[k] - s0[k] for k in s0}
        total = sum(d.values()) or 1
        out["steal_pct"] = round(100.0 * d["steal"] / total, 3)
        out["iowait_pct"] = round(100.0 * d["iowait"] / total, 3)
        out["busy_pct"] = round(100.0 * (total - d["idle"] - d["iowait"]) / total, 2)
    return out


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(ROOT, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return None


def source_sha() -> str:
    """Digest of the program's sources: identifies the code measured even
    where the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "nicefox_graphdb_spark")
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for root, _, names in os.walk(pkg):
        files += [os.path.join(root, n) for n in names if n.endswith(".py")]
    for fp in sorted(files):
        h.update(os.path.relpath(fp, ROOT).encode())
        with open(fp, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def peak_rss_mb(pids) -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


# -- statistics ---------------------------------------------------------------
def pct(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[k]


def latency_block(lat_s: list[float]) -> dict:
    n = len(lat_s)
    return {
        "n": n,
        "p50_ms": 1000 * statistics.median(lat_s) if n else None,
        "p90_ms": 1000 * pct(lat_s, 90) if n else None,
        "samples_beyond_p90": sum(x > pct(lat_s, 90) for x in lat_s) if n else 0,
    }


# -- the run ------------------------------------------------------------------
def environment(run_dir: str) -> None:
    """Spark and Python temp space inside the checkout; defaults for cpus
    and driver memory unless the caller set them."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("NICEFOX_DRIVER_MEM", "2g")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        "pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM, which exits when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def make_workload(name, ctx):
    if name == "read_mix":
        from read_mix import ReadMix
        return ReadMix(ctx)
    if name == "write_mix":
        from write_mix import WriteMix
        return WriteMix(ctx)
    from batch_analytics import BatchAnalytics
    return BatchAnalytics(ctx)


def run_ops(wl, ops, records, timed, tracer=None, trace_store=False):
    """Run ops one after another (closed loop, one client); append one
    record per op. Returns the elapsed wall time."""
    t_start = time.perf_counter()
    for op in ops:
        op_id = len(records)
        files0 = wl.store_files() if trace_store else None
        t0 = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.op(op_id, op["kind"]) as sp:
                    rec = wl.execute(op)
                sp["plan_cache"] = rec["plan_cache"]
            else:
                rec = wl.execute(op)
        except Exception as e:  # noqa: BLE001 — an op that raises is a failure
            rec = {"ok": False, "error": f"{type(e).__name__}: {e}",
                   "result": None, "plan_cache": "n/a"}
        rec["latency_s"] = time.perf_counter() - t0
        if trace_store:
            files1 = wl.store_files()
            rec["store"] = {
                "bytes_written": sum(s for f, s in files1.items() if f not in files0),
                "files_written": sum(f not in files0 for f in files1),
                "files_removed": sum(f not in files1 for f in files0),
            }
        rec.update(kind=op["kind"], params=op["params"], timed=timed, op=op_id)
        records.append(rec)
    return time.perf_counter() - t_start


def measure(wl, records, rounds, first_round, tracer=None, trace_store=False):
    """A fixed number of whole rounds: the same operations on every run of a
    seed, however fast or slow the host is."""
    elapsed, n_ops = 0.0, 0
    for r in range(first_round, first_round + rounds):
        ops = wl.round_ops(r)
        elapsed += run_ops(wl, ops, records, True, tracer, trace_store)
        n_ops += len(ops)
    return {"ops": n_ops, "elapsed_s": elapsed, "rounds": rounds,
            "ops_per_s": n_ops / elapsed}, first_round + rounds


def window_records(records, lo, hi):
    return [r for r in records[lo:hi] if r["timed"]]


def end_to_end(recs, window, setup_s, rss_mb) -> dict:
    lat = [r["latency_s"] for r in recs]
    lb = latency_block(lat)
    m = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (window["ops_per_s"], "1/s"),
        "latency_p50_ms": (lb["p50_ms"], "ms"),
        "latency_p90_ms": (lb["p90_ms"], "ms"),
        "rss_mb": (rss_mb, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def workload_metrics(wl, recs) -> dict:
    """The end-to-end figures that only some workloads have."""
    out = {}
    kinds = sorted({r["kind"] for r in recs})
    per_kind = {k: latency_block([r["latency_s"] for r in recs if r["kind"] == k])
                for k in kinds}
    out["per_kind"] = per_kind
    if wl.name == "write_mix":
        from write_mix import READS

        reads = [r["latency_s"] for r in recs if r["kind"] in READS]
        writes = [r["latency_s"] for r in recs if r["kind"] not in READS]
        out["read_p50_ms"] = {"value": 1000 * statistics.median(reads), "unit": "ms"}
        out["write_p50_ms"] = {"value": 1000 * statistics.median(writes), "unit": "ms"}
    if wl.name == "batch_analytics":
        for k in kinds:
            out[f"{k}_s"] = {"value": per_kind[k]["p50_ms"] / 1000, "unit": "s"}
    return out


def per_layer(wl, tracer, recs, setup, extra, overhead) -> dict:
    from tracing import self_times

    spans = tracer.spans
    n_ops = max(1, len(recs))
    ops = [s for s in spans if s["name"] == "op"]
    sp_tot = {k: sum(s["spark"][k] for s in ops) for k in ops[0]["spark"]}
    selfs = self_times(spans)

    def total_ms(name):
        return 1000 * sum(s["t1"] - s["t0"] for s in spans if s["name"] == name)

    per_op = 1.0 / n_ops
    m = {
        "setup.spark_s": (setup["spark_s"], "s"),
        "setup.data_s": (setup["data_s"], "s"),
        "setup.warmup_s": (setup["warmup_s"], "s"),
        "spark.plan_ms": (total_ms("spark.plan") * per_op, "ms"),
        "spark.execute_ms": (total_ms("spark.execute") * per_op, "ms"),
        "spark.job_ms": (sp_tot["job_ms"] * per_op, "ms"),
        "spark.jobs": (sp_tot["jobs"] * per_op, "count"),
        "spark.stages_run": (sp_tot["stages_run"] * per_op, "count"),
        "spark.stages_skipped": (sp_tot["stages_skipped"] * per_op, "count"),
        "spark.tasks": (sp_tot["tasks"] * per_op, "count"),
        "spark.shuffle_read_bytes": (sp_tot["shuffle_read_bytes"] * per_op, "bytes"),
        "spark.shuffle_write_bytes": (sp_tot["shuffle_write_bytes"] * per_op, "bytes"),
        "spark.spill_bytes": (sp_tot["spill_bytes"] * per_op, "bytes"),
        "op.outside_jobs_ms": (
            (1000 * sum(s["t1"] - s["t0"] for s in ops) - sp_tot["job_ms"]) * per_op,
            "ms",
        ),
        "trace.overhead_ratio": (overhead, "ratio"),
    }
    names = {s["name"] for s in spans}
    if "cypher.parse" in names:
        n_parse = sum(s["name"] == "cypher.parse" for s in spans)
        comp = [s for s in spans if s["name"] == "cypher.compile"]
        hits = sum(r["plan_cache"] == "hit" for r in recs)
        m.update({
            "parser.ms": (total_ms("cypher.parse") / max(1, n_parse), "ms"),
            "engine.plan_cache_hit_ratio": (hits / n_ops, "ratio"),
            "engine.dataframe_ms": (total_ms("engine.dataframe") * per_op, "ms"),
            "engine.decode_ms": (1000 * selfs.get("engine.query", 0) * per_op, "ms"),
            "compiler.ms": (total_ms("cypher.compile") / max(1, len(comp)), "ms"),
            "compiler.jobs": (
                sum(s["spark"]["jobs"] for s in comp) / max(1, len(comp)), "count"),
        })
    if "server.request" in names:
        from write_mix import READS

        writes = [r for r in recs if r["kind"] not in READS]
        nw = max(1, len(writes))
        commits = [s for s in spans if s["name"] == "durable.commit_query"]
        m.update({
            "server.overhead_ms": (
                (sum(s["t1"] - s["t0"] for s in ops)
                 - sum(s["t1"] - s["t0"] for s in spans
                       if s["name"] == "engine.query_response")) * 1000 * per_op,
                "ms"),
            "durable.commit_ms": (total_ms("durable.commit_query") / max(1, len(commits)), "ms"),
            "durable.bytes_written": (
                sum(r["store"]["bytes_written"] for r in writes) / nw, "bytes"),
            "durable.files_written": (
                sum(r["store"]["files_written"] for r in writes) / nw, "count"),
            "durable.files_removed": (
                sum(r["store"]["files_removed"] for r in writes) / nw, "count"),
            "durable.bytes_per_row": (extra["bytes_per_row"], "bytes"),
        })
    if wl.name == "batch_analytics":
        for k in sorted({s["kind"] for s in ops}):
            calls = [s["spark"] for s in ops if s["kind"] == k]
            n = len(calls)
            m[f"{k}.jobs"] = (sum(c["jobs"] for c in calls) / n, "count")
            m[f"{k}.tasks"] = (sum(c["tasks"] for c in calls) / n, "count")
            m[f"{k}.shuffle_bytes"] = (
                sum(c["shuffle_read_bytes"] + c["shuffle_write_bytes"] for c in calls) / n,
                "bytes")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, {
        k: 1000 * v / n_ops for k, v in sorted(selfs.items())}


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import nicefox_graphdb_spark  # noqa: F401 — the program under test
    except ImportError as e:
        print(f"perfbench: the program is not here ({e}); run from the "
              "repository root", file=sys.stderr)
        return 2

    import datagen
    from common import Context

    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    environment(run_dir)
    data_root = os.path.join(ROOT, ".perfbench_data")
    sf_env = os.environ.get("SPARK_GRAFT_SF_DIR")
    t_data = time.perf_counter()
    if args.smoke:
        sf_dir = batch_dir = datagen.ensure_dataset(data_root, SMOKE_SF)
    elif sf_env:
        sf_dir = batch_dir = sf_env
    else:
        sf_dir = datagen.ensure_dataset(data_root, READ_SF)
        batch_dir = datagen.ensure_dataset(data_root, BATCH_SF)
    datagen_s = time.perf_counter() - t_data

    spark = None
    wl = None
    try:
        from nicefox_graphdb_spark import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        # from process start, less the one-time dataset generation
        spark_s = time.perf_counter() - T_START - datagen_s

        ctx = Context(spark=spark, seed=args.seed, sf_dir=sf_dir,
                      batch_dir=batch_dir, run_dir=run_dir,
                      cache_dir=os.path.join(data_root, "oracles"), smoke=args.smoke)
        wl = make_workload(args.workload, ctx)

        # set-up, repeated; the last repetition is the one measured
        reps = []
        for i in range(1 if args.smoke else SETUP_REPS):
            if i:
                wl.discard_setup()
            t0 = time.perf_counter()
            phases = wl.setup()
            reps.append({"total_s": time.perf_counter() - t0, **phases})
        data_s = statistics.median(r["total_s"] for r in reps)

        records: list[dict] = []
        t0 = time.perf_counter()
        run_ops(wl, wl.warmup_ops(), records, timed=False)
        warmup_s = time.perf_counter() - t0
        setup = {"spark_s": spark_s, "data_s": data_s, "warmup_s": warmup_s,
                 "reps": reps}
        setup_s = spark_s + data_s + warmup_s

        # --seconds sets the amount of work, not a deadline: that many
        # seconds' worth of whole rounds at the workload's nominal round time
        rounds = 1 if args.smoke else max(1, round(args.seconds / wl.round_s))
        s0 = proc_stat()
        n0 = len(records)
        window, next_round = measure(wl, records, rounds, 1)
        untraced = window_records(records, n0, len(records))

        traced = None
        if args.trace:
            # an untraced reference window right before the traced one, so
            # the overhead compares like with like (same warmth, next rounds)
            ref_window, next_round = measure(wl, records, rounds, next_round)
            from tracing import SparkCounters, Tracer

            tracer = Tracer(SparkCounters(spark))
            wl.install_trace(tracer)
            tracer.wrap_collect(type(spark.range(1)))
            try:
                n1 = len(records)
                traced_window, _ = measure(
                    wl, records, rounds, next_round, tracer,
                    trace_store=hasattr(wl, "store_files"),
                )
            finally:
                tracer.uninstall()
            traced = window_records(records, n1, len(records))
        s1 = proc_stat()

        pids = [os.getpid()]
        gw_proc = getattr(spark.sparkContext._gateway, "proc", None)
        if gw_proc is not None:
            pids.append(gw_proc.pid)
        rss_mb = peak_rss_mb(pids)

        if args.plant_fault:
            for rec in records:
                if rec["ok"] and rec["result"]:
                    rec["result"] = rec["result"][1:] + [
                        {k: None for k in rec["result"][0]}]
                    break
                if rec["ok"] and rec["result"] == []:
                    rec["result"] = [{"planted": 1}]
                    break
        t0 = time.perf_counter()
        problems = wl.verify(records)
        problems += wl.final_checks()
        verify_s = time.perf_counter() - t0
        extra = wl.report(records)
        attempted = len(records)
        failed = sum(not r["ok"] for r in records)
        errors = [f"{r['kind']}: {r['error']}" for r in records if r["error"]]
        correct = failed == 0 and not problems

        report = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "smoke": args.smoke,
            "provenance": {
                "git_commit": git_commit(),
                "source_sha256": source_sha(),
                "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                "driver_mem": os.environ["NICEFOX_DRIVER_MEM"],
                "sf_dir": os.path.relpath(sf_dir, ROOT) if not sf_env else sf_dir,
                "batch_dir": os.path.relpath(batch_dir, ROOT) if not sf_env else batch_dir,
                "datagen_s": datagen_s,
                "python": sys.version.split()[0],
                "pyspark": spark.version,
            },
            "host": host_block(s0, s1),
            "clients": 1,
            "loop": "closed",
            "setup": setup,
            "verify_s": verify_s,
            "window": window,
            "attempted": attempted,
            "failed": failed,
            "fail_ratio": failed / attempted,
            "errors": errors[:10],
            "problems": problems[:10],
            "plan_cache": {
                "hits": sum(r["plan_cache"] == "hit" for r in untraced),
                "misses": sum(r["plan_cache"] == "miss" for r in untraced),
            },
            "end_to_end": {
                **end_to_end(untraced, window, setup_s, rss_mb),
                **workload_metrics(wl, untraced),
            },
            "workload_report": extra,
        }
        if args.trace:
            layer, self_ms = per_layer(
                wl, tracer, traced, setup, extra,
                traced_window["ops_per_s"] / ref_window["ops_per_s"],
            )
            report["reference_window"] = ref_window
            report["traced_window"] = traced_window
            report["per_layer"] = layer
            report["self_ms_per_op"] = self_ms
            report["ops"] = [
                {"op": s["op"], "kind": s["kind"], "plan_cache": s.get("plan_cache"),
                 "ms": 1000 * (s["t1"] - s["t0"]),
                 "stages_run": s["spark"]["stages_run"],
                 "stages_skipped": s["spark"]["stages_skipped"],
                 "recollect": s.get("plan_cache") == "hit"
                 and s["spark"]["stages_skipped"] > 0}
                for s in tracer.spans if s["name"] == "op"
            ]
            tag = f"{args.workload}-seed{args.seed}"
            with open(os.path.join(out_dir, f"{tag}-spans.jsonl"), "w") as f:
                for s in tracer.spans:
                    f.write(json.dumps(s, default=str) + "\n")
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
            json.dump(report, f, indent=1, default=str)

        if args.trace:
            metrics = {k: report["per_layer"][k] for k in LAYER_METRICS}
        else:
            metrics = {k: report["end_to_end"][k] for k in E2E_METRICS}
        print("perfbench-report " + json.dumps(report, default=str))
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
