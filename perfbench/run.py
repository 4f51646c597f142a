#!/usr/bin/env python3
"""Benchmark of the graft lake engine, run from the root of a checkout:

    python3 perfbench/run.py --workload <ingest|lake_read|pipeline>
        --seed <n> --seconds <n> --trace <0|1>

It builds the program and the harness from source (perfbench/build.sbt,
which depends on the checkout's own build), runs one workload in one JVM at
local[nproc], checks the outputs, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the workload runs twice,
untraced then traced, and the metrics are the per-layer ones plus the
tracing overhead. The line before it is a JSON "detail" object with the
workload's own metrics by name, sample counts and span self times.

The pipeline workload reads the sf0.1 tables from $SPARK_GRAFT_SF_DIR,
by default ~/testdata/sf0.1, and checks each result against DuckDB.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import stats

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
CACHE = HERE / ".cache"
RUN_LIMIT_S = 170

WORKLOADS = ("ingest", "lake_read", "pipeline")
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_ms": "ms",
}
PIPELINE_ENTRIES = ("d02_bm25_index", "d06_pipeline_e2e", "b09_join_inner", "b17_q1")
SPAN_MS = {
    "LakeWriter.write_ms": "LakeWriter.write",
    "Monikers.publish_ms": "Monikers.publish",
    "LakeTable.load_ms": "LakeTable.load",
    "LakeTable.refresh_ms": "LakeTable.refresh",
    "LakeTable.files_ms": "LakeTable.files",
    "LakeTable.expire_ms": "LakeTable.expire",
    "LakeTable.retention_ms": "LakeTable.retention",
    "LakeTable.compact_ms": "LakeTable.compact",
    "LakeTable.orphan_ms": "LakeTable.orphan",
    "dsv2.plan_ms": "dsv2.plan",
    "dsv2.exec_ms": "dsv2.exec",
}
SPARK_SUMS = ("jobs", "tasks", "task_ms", "gc_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "fetch_wait_ms",
              "input_bytes", "output_bytes")
PER_LAYER = {
    **{k: "ms" for k in SPAN_MS},
    "LakeWriter.files": "count",
    "LakeWriter.bytes_out": "bytes",
    "LakeWriter.out_mb_per_s": "MB/s",
    "Monikers.pending_at_sweep": "count",
    "Bookkeeper.sweep_p50_ms": "ms",
    "Bookkeeper.sweep_p95_ms": "ms",
    "Bookkeeper.useful_sweep_ratio": "ratio",
    "Bookkeeper.files_per_commit": "count",
    "Bookkeeper.avg_latency_ms": "ms",
    "Bookkeeper.commit_latency_p50_ms": "ms",
    "Bookkeeper.commit_latency_p95_ms": "ms",
    "LakeTable.snapshots": "count",
    "LakeTable.manifests": "count",
    "LakeTable.metadata_bytes": "bytes",
    "LakeTable.maintenance_ms": "ms",
    "dsv2.bytes_read": "bytes",
    "dsv2.records_read": "count",
    "dsv2.scan_tasks": "count",
    "dsv2.bytes_read_ratio": "ratio",
    "streaming.triggers": "count",
    "streaming.trigger_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.plan_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.rows_per_trigger": "count",
    **{f"spark.{k}": ("ms" if k.endswith("_ms") else
                      "bytes" if k.endswith("_bytes") else "count")
       for k in SPARK_SUMS},
    "spark.utilization": "ratio",
    "hadoopfs.read_ops": "count",
    "hadoopfs.write_ops": "count",
    "hadoopfs.bytes_read": "bytes",
    "hadoopfs.bytes_written": "bytes",
    "hadoopfs.bytes_written_per_user_byte": "ratio",
    "hadoopfs.space_per_live_byte": "ratio",
    **{f"queries.{e}_s": "s" for e in PIPELINE_ENTRIES},
    **{f"trace_overhead.{k}": u for k, u in END_TO_END.items()},
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build -----------------------------------------------------------------

def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
             HERE / "build.sbt", HERE / "project", HERE / "src"]
    for r in roots:
        files = sorted(p for p in r.rglob("*") if p.is_file()) if r.is_dir() else [r]
        for p in files:
            if {"target", "project"} & set(p.relative_to(r).parts[:-1]):
                continue  # build output, and sbt's own meta-build
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile program and harness; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise BenchError(f"no program source at {ROOT}: build.sbt and src/main/scala are needed")
    stamp = source_stamp()
    cached = HERE / "target" / "perfbench-classpath.json"
    if cached.is_file():
        c = json.loads(cached.read_text())
        if c.get("stamp") == stamp:
            return c["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise BenchError("build failed")
    cached.parent.mkdir(parents=True, exist_ok=True)
    cached.write_text(json.dumps({"stamp": stamp, "classpath": lines[-1].strip()}))
    return lines[-1].strip()


# ---- one JVM run -----------------------------------------------------------

def clean_stale_work():
    """Remove work dirs of runs whose process is gone."""
    if not WORK.is_dir():
        return
    for d in WORK.iterdir():
        pid = d.name.rsplit("-", 1)[-1]
        alive = pid.isdigit() and Path(f"/proc/{pid}").exists()
        if not alive:
            shutil.rmtree(d, ignore_errors=True)


def cpu_times():
    """The machine's CPU time counters, from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def run_jvm(classpath, args, traced, sf_dir, deadline):
    work = WORK / f"{args.workload}-{int(traced)}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "raw.json"
    cores = len(os.sched_getaffinity(0))
    # a fixed heap and young generation keep the resident-set high-water
    # mark from following the collector's sizing decisions
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", "1" if traced else "0",
              "--cores", str(cores), "--work", str(work), "--sf", sf_dir,
              "--out", str(out)])
    jvm_log = work / "jvm.log"
    cpu0 = cpu_times()
    with open(jvm_log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            proc.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    try:
        if proc.returncode != 0 or not out.is_file():
            sys.stderr.write(jvm_log.read_text()[-6000:])
            raise BenchError(f"workload JVM failed (exit {proc.returncode})")
        raw = json.loads(out.read_text())
        raw["cores"] = cores
        # share of the machine's CPU time the hypervisor gave to others
        d = [b - a for a, b in zip(cpu0, cpu_times())]
        raw["steal_share"] = d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0
        if args.workload == "pipeline":
            check_pipeline(raw, sf_dir)
        return raw
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---- pipeline correctness ----------------------------------------------------

def sf_tables(sf_dir):
    return sorted(p for p in Path(sf_dir).iterdir() if p.name.endswith(".parquet"))


def oracle_digests(raw, sf_dir):
    """DuckDB result digest of each entry's oracle SQL, cached by the SQL
    text and the input files."""
    import duckdb
    tables = sf_tables(sf_dir)
    inputs = [(p.name, p.stat().st_size, int(p.stat().st_mtime)) for p in tables]
    out, con = {}, None
    for name, sql in sorted(raw["values"].get("oracle", {}).items()):
        key = hashlib.sha256(json.dumps([sql, inputs]).encode()).hexdigest()[:24]
        f = CACHE / f"oracle-{name}-{key}.json"
        if f.is_file():
            out[name] = json.loads(f.read_text())["digest"]
            continue
        if con is None:
            con = duckdb.connect()
            for p in tables:
                con.execute(f"CREATE VIEW {p.name[:-8]} AS SELECT * FROM read_parquet('{p}')")
        try:
            rows = con.execute(sql).fetchall()
        except duckdb.Error as exc:
            out[name] = f"oracle failed: {exc}"
            continue
        d = stats.digest([c[0] for c in con.description], rows)
        CACHE.mkdir(parents=True, exist_ok=True)
        f.write_text(json.dumps({"entry": name, "digest": d}))
        out[name] = d
    return out


def check_pipeline(raw, sf_dir):
    """Each result must match its oracle's digest."""
    import duckdb
    want = oracle_digests(raw, sf_dir)
    con = duckdb.connect()
    failures = raw.setdefault("failures", [])
    got_all = {}
    for name, p, path in raw["values"].get("results", []):
        try:
            res = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
            got = stats.digest([c[0] for c in res.description], res.fetchall())
        except duckdb.Error as exc:
            got = f"unreadable: {exc}"
        got_all.setdefault(name, got)
        expect = want.get(name)
        if got != expect:
            raw["failed"] += 1
            failures.append(f"{name} pass {p}: digest {got}, want {expect}")
    raw["digests"] = got_all


# ---- metrics -----------------------------------------------------------------

def pct(xs, p):
    return stats.percentile(xs, p) if xs else 0.0


def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(workload, raw):
    s, v = raw["samples"], raw["values"]
    e = {"setup_s": med(s["setup_s"]), "peak_rss_mb": raw["peak_rss_kb"] / 1024.0}
    if workload == "ingest":
        fresh = s.get("freshness_ms", [])
        e["throughput_per_s"] = v["ingest.rows_committed_in_window"] / v["ingest.window_s"]
        e["latency_ms"] = pct(fresh, 50)
    elif workload == "lake_read":
        kinds = [xs for k, xs in s.items() if k.startswith("read_ms.")]
        e["throughput_per_s"] = len(s.get("read_ms", [])) / raw["window_s"]
        e["latency_ms"] = stats.geomean([med(xs) for xs in kinds]) if kinds else 0.0
    else:
        walls = [s[f"queries.{n}"] for n in PIPELINE_ENTRIES if s.get(f"queries.{n}")]
        e["throughput_per_s"] = sum(len(w) for w in walls) / raw["window_s"]
        e["latency_ms"] = stats.geomean([med(w) for w in walls]) if walls else 0.0
    return e


def detail(workload, raw, e):
    """The workload's own metrics by name, with units and sample counts."""
    s, v = raw["samples"], raw["values"]
    d = {"setup_s": {"value": e["setup_s"], "unit": "s", "n": len(s["setup_s"])},
         "peak_rss_mb": {"value": e["peak_rss_mb"], "unit": "MB"},
         "steal_share": {"value": raw["steal_share"], "unit": "ratio"},
         "ops_failed_ratio": {"value": raw["failed"] / max(1, raw["attempted"]),
                              "attempted": raw["attempted"], "failed": raw["failed"]}}

    def timing(name, xs, p, unit="ms"):
        top = stats.highest_percentile(len(xs))
        d[name] = {"value": pct(xs, p), "unit": unit, "n": len(xs),
                   "supported": stats.supported(len(xs), p),
                   "highest_supported": top and [top, pct(xs, top)]}
    if workload == "ingest":
        d["ingest_rows_per_s"] = {"value": e["throughput_per_s"], "unit": "1/s"}
        for p in (50, 95):
            timing(f"commit_latency_p{p}_ms", s.get("commit_latency_ms", []), p)
            timing(f"freshness_p{p}_ms", s.get("freshness_ms", []), p)
        # bytes moved versus time per byte, for every ingest run
        d["LakeWriter.out_mb_per_s"] = {"value": out_mb_per_s(v), "unit": "MB/s"}
        d["hadoopfs.bytes_written_per_user_byte"] = {
            "value": raw["hadoopfs"]["bytes_written"] / v["ingest.user_bytes"],
            "unit": "ratio"}
    elif workload == "lake_read":
        for p in (50, 95):
            timing(f"read_p{p}_ms", s.get("read_ms", []), p)
        d["maintenance_s"] = {"value": v.get("maintenance_ms", 0.0) / 1000, "unit": "s"}
    else:
        d["pipeline_pass_s"] = {"value": med(s.get("pass_ms", [])) / 1000, "unit": "s",
                                "n": len(s.get("pass_ms", []))}
        d["pipeline_geomean_s"] = {"value": e["latency_ms"] / 1000, "unit": "s"}
        for n in PIPELINE_ENTRIES:
            d[f"queries.{n}_s"] = {"value": med(s.get(f"queries.{n}", [])) / 1000, "unit": "s"}
    return d


def out_mb_per_s(v):
    ms = v.get("writer.write_ms", 0.0)
    return v.get("writer.bytes_out", 0.0) / 1e6 / (ms / 1000) if ms else 0.0


def per_layer(raw):
    s, v = raw["samples"], raw["values"]
    spans = stats.self_times(raw["spans"])
    layers = raw["listener"]
    m = {k: spans.get(name, {}).get("self_ns", 0) / 1e6 for k, name in SPAN_MS.items()}
    sweeps = v.get("bookkeeper.sweeps", 0)
    useful = v.get("bookkeeper.useful_sweeps", 0)
    live = v.get("table.live_bytes", 0)
    dsv2 = layers.get("dsv2.exec", {})
    reads = spans.get("dsv2.exec", {}).get("count", 0)
    triggers = v.get("streaming.triggers", 0)
    spark = {k: sum(l.get(k, 0) for l in layers.values()) for k in SPARK_SUMS}
    user_bytes = v.get("ingest.user_bytes", 0)
    m.update({
        "LakeWriter.files": v.get("writer.files", 0),
        "LakeWriter.bytes_out": v.get("writer.bytes_out", 0),
        "LakeWriter.out_mb_per_s": out_mb_per_s(v),
        "Monikers.pending_at_sweep": statistics.mean(s["bookkeeper.pending_at_sweep"])
        if s.get("bookkeeper.pending_at_sweep") else 0.0,
        "Bookkeeper.sweep_p50_ms": pct(s.get("bookkeeper.sweep_ms", []), 50),
        "Bookkeeper.sweep_p95_ms": pct(s.get("bookkeeper.sweep_ms", []), 95),
        "Bookkeeper.useful_sweep_ratio": useful / sweeps if sweeps else 0.0,
        "Bookkeeper.files_per_commit":
            v.get("bookkeeper.files_committed", 0) / useful if useful else 0.0,
        "Bookkeeper.avg_latency_ms": v.get("bookkeeper.avg_latency_ms", 0.0),
        "Bookkeeper.commit_latency_p50_ms": pct(s.get("commit_latency_ms", []), 50),
        "Bookkeeper.commit_latency_p95_ms": pct(s.get("commit_latency_ms", []), 95),
        "LakeTable.snapshots": v.get("table.snapshots", 0),
        "LakeTable.manifests": v.get("table.manifests", 0),
        "LakeTable.metadata_bytes": v.get("table.metadata_bytes", 0),
        "LakeTable.maintenance_ms": v.get("maintenance_ms", 0.0),
        "dsv2.bytes_read": dsv2.get("input_bytes", 0),
        "dsv2.records_read": dsv2.get("input_records", 0),
        "dsv2.scan_tasks": dsv2.get("input_tasks", 0),
        "dsv2.bytes_read_ratio":
            dsv2.get("input_bytes", 0) / (reads * live) if reads and live else 0.0,
        "streaming.triggers": triggers,
        "streaming.rows_per_trigger": v.get("streaming.rows", 0) / triggers if triggers else 0.0,
        **{f"streaming.{k}": med(s.get(f"streaming.{k}", []))
           for k in ("trigger_ms", "latest_offset_ms", "plan_ms", "add_batch_ms")},
        **{f"spark.{k}": spark[k] for k in SPARK_SUMS},
        "spark.utilization": spark["task_ms"] / (raw["window_s"] * 1000 * raw["cores"]),
        **{f"hadoopfs.{k}": raw["hadoopfs"][k]
           for k in ("read_ops", "write_ops", "bytes_read", "bytes_written")},
        "hadoopfs.bytes_written_per_user_byte":
            raw["hadoopfs"]["bytes_written"] / user_bytes if user_bytes else 0.0,
        "hadoopfs.space_per_live_byte":
            v.get("table.dir_bytes", 0) / live if live else 0.0,
        **{f"queries.{e}_s": med(s.get(f"queries.{e}", [])) / 1000 for e in PIPELINE_ENTRIES},
    })
    return m, spans


def _terminate(signum, _frame):
    raise BenchError(f"stopped by signal {signum}")


def main(argv=None):
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + RUN_LIMIT_S
    try:
        classpath = build()
        # the build may take long on the first run; the limit is per run
        deadline = max(deadline, time.monotonic() + RUN_LIMIT_S)
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", str(Path.home() / "testdata" / "sf0.1"))
        if args.workload == "pipeline" and not Path(sf_dir).is_dir():
            raise BenchError(f"no input tables at {sf_dir}")
        clean_stale_work()
        runs = [run_jvm(classpath, args, False, sf_dir, deadline)]
        if args.trace:
            runs.append(run_jvm(classpath, args, True, sf_dir, deadline))
    except (BenchError, subprocess.TimeoutExpired) as exc:
        log(f"error: {exc}")
        return 2
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    for r in runs:
        for f in r.get("failures", []):
            log(f"failure: {f}")
    e = end_to_end(args.workload, runs[0])
    d = detail(args.workload, runs[0], e)
    if args.trace:
        layer, spans = per_layer(runs[1])
        e1 = end_to_end(args.workload, runs[1])
        for k in END_TO_END:
            layer[f"trace_overhead.{k}"] = e1[k] - e[k]
        d["spans"] = {k: {"count": x["count"], "total_ms": x["total_ns"] / 1e6,
                          "self_ms": x["self_ns"] / 1e6} for k, x in sorted(spans.items())}
        d["spark_by_layer"] = runs[1]["listener"]
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e[k], "unit": u} for k, u in END_TO_END.items()}
    if args.workload == "pipeline":
        d["digests"] = runs[0].get("digests", {})
    print(json.dumps({"detail": d}))
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
