"""graft's benchmark: one command, three workloads.

    python3 graftbench/run.py --workload board|serve|alert \
        --seed N --seconds S --trace 0|1

Builds the program from source (graftbench/build.py), derives every input
from --seed, runs the workload in its own JVM against graft's public entry
points, checks the outputs, and prints as its last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The
line before it ("REPORT {...}") carries the workload's named figures, its
sample counts and the run context. See graftbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

BENCH_DIR = build.BENCH_DIR
ROOT = build.ROOT
WORKLOADS = ("board", "serve", "alert")
JVM_TIMEOUT_S = 160

# board: one key per query module (graft.queries.Q*), frozen
BOARD_KEYS = [
    "q_downsample_1m",        # QAgg
    "q_intersect",            # QCore
    "q_ema",                  # QCustom
    "q_dedup_sizes",          # QDedup
    "q_format",               # QFunc
    "q_macd",                 # QInflux
    "q_influxql_dema",        # QInfluxQL
    "q_join_broadcast",       # QJoin
    "q_zorder_layout",        # QLayout
    "q_change_detect",        # QStream
    "q_zipf_fit",             # QText
    "q_embedding_drift",      # QVector
    "q_win_topk_per_group",   # QWin
]
MODULES = ["QAgg", "QCore", "QCustom", "QDedup", "QFunc", "QInflux", "QInfluxQL",
           "QJoin", "QLayout", "QStream", "QText", "QVector", "QWin"]

PARAMS = {
    "board": {"setups": 3, "min_passes": 2},
    "serve": {"setups": 5, "tick_s": 2, "write_rate": 10, "query_rate": 1, "ann_rate": 4},
    "alert": {"setups": 5, "load": 2000, "min_samples": 16},
}

END_TO_END = {"setup_s": "s", "latency_ms": "ms", "throughput_per_s": "1/s"}

PER_LAYER = (
    [(f"queries.{m}.wall_s", "s") for m in MODULES] +
    [(f"queries.{m}.jobs", "count") for m in MODULES] +
    [("queries.build_ms", "ms"), ("catalyst.analysis_ms", "ms"),
     ("catalyst.optimization_ms", "ms"), ("catalyst.planning_ms", "ms"),
     ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
     ("spark.scheduler_delay_ms", "ms"), ("spark.executor_run_ms", "ms"),
     ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
     ("plan.parquet_scans", "count"),
     ("lineprotocol.parse_us", "us"), ("store.append_ms", "ms"),
     ("influxql.parse_us", "us"), ("influxql.catalog_ms", "ms"),
     ("influxql.plan_ms", "ms"), ("influxql.render_ms", "ms"),
     ("vectorindex.search_ms", "ms"), ("store.files", "count"),
     ("store.bytes_per_point", "bytes"), ("http.overhead_ms", "ms"),
     ("http.write_p50_ms", "ms"), ("http.query_p50_ms", "ms"), ("http.ann_p50_ms", "ms"),
     ("gen.lag_p99_ms", "ms")] +
    [(f"stream.{p}_ms", "ms") for p in
     ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")] +
    [("sink.bytes_per_row", "bytes"), ("sources.config_parse_ms", "ms")] +
    [(f"alert.{m}_ms", "ms") for m in ("cusum", "deadman", "mixture", "hist")] +
    [("state.rows_total", "count"), ("state.memory_bytes", "bytes"),
     ("state.rows_updated", "count"),
     ("jvm.gc_ms", "ms"), ("jvm.codeheap_used_mb", "MB"), ("host.steal_pct", "%"),
     ("trace.latency_ms", "ms")])

def java_cmd(classes, work, args):
    jars = build.spark_jars()
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return (["java"] + opens +
            ["-Xmx2g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp",
             f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
             "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
             "graftbench.Main"] + args)


def source_digest():
    """The commit when the checkout is a git repository, else a digest of
    the program's sources (a benchmark checkout carries no .git)."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for f in build.sources():
        with open(f, "rb") as fh:
            h.update(fh.read())
    return "src-sha256:" + h.hexdigest()[:16]


def oracle_rows(data_dir, oracle):
    """Row count of each key's DuckDB oracle over the same tables, kept
    beside the seed's tables for the same oracle SQL."""
    digest = hashlib.sha256(json.dumps(oracle, sort_keys=True).encode()).hexdigest()[:16]
    cache = os.path.join(data_dir, f"oracle-{digest}.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            return json.load(fh)
    import duckdb
    con = duckdb.connect()
    for t in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    counts = {k: con.sql(f"SELECT count(*) FROM ({sql.strip().rstrip(';')})").fetchone()[0]
              for k, sql in oracle.items()}
    with open(cache, "w") as fh:
        json.dump(counts, fh)
    return counts


def op_classes(workload, raw):
    """{operation class: latencies in ms} of the successful operations:
    board keys, serve endpoints (timed from when each request was due),
    alert monitors."""
    classes = {}
    if workload == "serve":
        ok = [r for r in raw["requests"] if r["ok"]]
        for kind in sorted({r["kind"] for r in ok}):
            classes[kind] = stats.due_latencies([r for r in ok if r["kind"] == kind])
    else:
        for o in raw["ops"]:
            if o.get("ok", True):
                classes.setdefault(o.get("key") or o["monitor"], []).append(o["ms"])
    return classes


def summarize(workload, raw):
    """Named figures (REPORT) and the end-to-end metric values."""
    classes = op_classes(workload, raw)
    medians = {k: stats.percentile(v, 0.5) for k, v in classes.items()}
    # the gated figure per class is its lower quartile: CPU steal on a
    # shared host arrives in bursts and only ever adds, like the minimum
    # over passes graft.Bench keeps
    lower = {k: stats.percentile(v, 0.25) for k, v in classes.items()}
    means = {k: sum(v) / len(v) for k, v in classes.items()}
    pooled = [x for v in classes.values() for x in v]
    named = {"samples": {k: len(v) for k, v in classes.items()}}
    # throughput is the work done over the time spent doing it, every
    # operation counted, so it also carries the slow ones the lower
    # quartiles leave out: board keys per second of a pass at each key's
    # mean time (a partial last pass does not move it),
    # serve acknowledged requests per second of worker busy time (geometric
    # mean over endpoints), alert rows fed per second of round time
    if workload == "board":
        named["board_total_s"] = sum(medians.values()) / 1000.0
        named["board_geomean_ms"] = stats.geomean(medians.values())
        named["passes"] = raw["passes"]
        work = 1000.0 * len(means) / sum(means.values()) if means else 0.0
    elif workload == "serve":
        recs = raw["requests"]
        for kind, hi in (("write", 0.99), ("query", 0.95), ("ann", 0.95)):
            if kind in classes:
                named[f"{kind}_p50_ms"] = medians[kind]
                named[f"{kind}_p{round(hi * 100)}_ms"] = stats.percentile(classes[kind], hi)
        named["gen_lag_p99_ms"] = stats.percentile(stats.lateness(recs), 0.99)
        busy = {}
        for r in recs:
            busy[r["kind"]] = busy.get(r["kind"], 0.0) + (r["end_ms"] - r["start_ms"]) / 1000.0
        named["class_busy_s"] = busy
        # per endpoint, so that the seeded mix of kinds does not move it
        work = stats.geomean(len(v) / max(busy[k], 1e-9) for k, v in classes.items())
    else:
        ok = [o for o in raw["ops"] if o["ok"]]
        work = 1000.0 * sum(o["rows"] for o in ok) / max(sum(o["ms"] for o in ok), 1e-9)
        if pooled:
            named["alert_p50_ms"] = stats.percentile(pooled, 0.5)
            named["alert_p90_ms"] = stats.percentile(pooled, 0.9)
    q, v = stats.tail(pooled)
    named["tail"] = {"quantile": q, "ms": v, "n": len(pooled)}
    named["class_medians_ms"] = medians
    named["class_p25_ms"] = lower
    named["class_means_ms"] = means
    named["setup_s_samples"] = raw["setup_s"]
    named["window_s"] = raw["window_s"]
    values = {"setup_s": stats.percentile(raw["setup_s"], 0.5),
              "latency_ms": stats.geomean(lower.values()),
              "throughput_per_s": work}
    return named, values


def layer_metrics(workload, raw, named, e2e):
    """Every per-layer metric; layers this workload does not exercise are 0."""
    vals = dict(raw.get("layers", {}))
    durations = {}
    for sp in raw.get("spans", []):
        durations.setdefault(sp["name"], []).append(sp["end_ns"] - sp["start_ns"])

    def median_ns(name):
        return stats.percentile(durations[name], 0.5) if name in durations else 0.0

    if workload == "serve":
        vals["lineprotocol.parse_us"] = median_ns("lineprotocol.parse") / 1e3
        vals["store.append_ms"] = median_ns("store.append") / 1e6
        vals["influxql.parse_us"] = median_ns("influxql.parse") / 1e3
        for k in ("catalog", "plan", "render"):
            vals[f"influxql.{k}_ms"] = median_ns(f"influxql.{k}") / 1e6
        vals["vectorindex.search_ms"] = median_ns("vectorindex.search") / 1e6
        recs = raw["requests"]
        for kind in ("write", "query", "ann"):
            vals[f"http.{kind}_p50_ms"] = named.get(f"{kind}_p50_ms", 0.0)
        service = [r["end_ms"] - r["start_ms"] for r in recs if r["kind"] == "query" and r["ok"]]
        inproc = (median_ns("influxql.parse") + median_ns("influxql.catalog") +
                  median_ns("influxql.render")) / 1e6
        if service:
            vals["http.overhead_ms"] = stats.percentile(service, 0.5) - inproc
        vals["gen.lag_p99_ms"] = named["gen_lag_p99_ms"]
    ctx = raw["context"]
    vals["jvm.gc_ms"] = ctx["gc_ms"]
    vals["jvm.codeheap_used_mb"] = ctx["codeheap_used_mb"]
    vals["host.steal_pct"] = ctx["host_steal_pct"]
    vals["trace.latency_ms"] = e2e["latency_ms"]
    return {name: {"value": float(vals.get(name, 0.0)), "unit": unit}
            for name, unit in PER_LAYER}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build.build()
    root = build.build_dir()
    work = os.path.join(root, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "work": work, "out": os.path.join(work, "result.json")}
        args.update(PARAMS[a.workload])
        if a.workload == "board":
            import gen
            data = os.path.join(root, "data", f"board-{a.seed}")
            if not os.path.exists(os.path.join(data, ".complete")):
                shutil.rmtree(data, ignore_errors=True)
                gen.write(data, a.seed)
                open(os.path.join(data, ".complete"), "w").close()
            args.update({"data": data, "keys": ",".join(BOARD_KEYS)})
        argv_jvm = [x for k, v in args.items() for x in (f"--{k}", str(v))]
        log = os.path.join(work, "jvm.log")
        t0 = time.time()
        with open(log, "w") as fh:
            proc = subprocess.Popen(java_cmd(classes, work, argv_jvm), cwd=work,
                                    stdout=fh, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = "timeout"
            finally:
                # never leave the JVM behind, also when this process is stopped
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if code != 0 or not os.path.exists(args["out"]):
            with open(log) as fh:
                sys.stderr.write(fh.read()[-6000:])
            raise SystemExit(f"graftbench: {a.workload} JVM failed ({code})")
        with open(args["out"]) as fh:
            raw = json.load(fh)

        checks = list(raw["checks"])
        if a.workload == "board":
            expect = oracle_rows(args["data"], raw["oracle"])
            for k, n in expect.items():
                got = raw["rows"].get(k, [])
                checks.append({"name": f"board.{k}.oracle_rows",
                               "ok": bool(got) and all(x == n for x in got),
                               "detail": f"spark {sorted(set(got))} vs oracle {n}"})
        failed_checks = [c for c in checks if not c["ok"]]
        for c in failed_checks:
            sys.stderr.write(f"graftbench: check failed: {c['name']}: {c['detail']}\n")

        named, values = summarize(a.workload, raw)
        if a.trace:
            metrics = layer_metrics(a.workload, raw, named, values)
        else:
            metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
        if a.trace:
            named["spans_ms"] = {k: {"n": n, "mean": d / 1e6, "self_mean": st / 1e6}
                                 for k, (n, d, st) in stats.span_summary(raw["spans"]).items()}
        report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "named": named, "checks_failed": [c["name"] for c in failed_checks],
                  "checks_run": len(checks), "context": dict(raw["context"],
                  commit=source_digest(), jvm_s=raw["jvm_s"], wall_s=time.time() - t0)}
        print("REPORT " + json.dumps(report, sort_keys=True))
        correct = not failed_checks and raw["failed"] == 0
        print(json.dumps({"correct": correct, "attempted": int(raw["attempted"]),
                          "failed": int(raw["failed"]), "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
