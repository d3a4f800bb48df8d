#!/usr/bin/env python3
"""Benchmark launcher for the graft engine.

    python3 graftbench/run.py --workload relational|ingest \
        --seed N --seconds S --trace 0|1
    python3 graftbench/run.py --selftest

Run from the root of a checkout. The first run builds the engine sources
(src/main/scala) together with the harness (graftbench/src) with sbt into
graftbench/target; later runs reuse the build while no source changed.
Each run generates its inputs from the seed with DuckDB, runs one JVM with
the workload, checks its outputs and prints, as the last line of standard
output, one JSON object with `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics, or with --trace 1 the per-layer ones).
Everything a run writes stays under graftbench/.work and is deleted at
the end; a traced run keeps its spans in graftbench/.traces.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "graftbench.stamp")

WORKLOADS = ("relational", "ingest")

END_TO_END = [
    ("setup_s", "s"), ("ops_per_s", "1/s"), ("latency_p50_s", "s"),
    ("latency_tail_s", "s"), ("success_frac", "1"), ("peak_rss_mb", "MB"),
    ("recall_at_10", "1"), ("docs_per_s", "1/s"), ("read_after_write_s", "s"),
    ("dedup_recall", "1"), ("space_amp", "1"),
]

PER_LAYER = [
    ("engine.session_s", "s"), ("engine.catalog_load_s", "s"),
    ("engine.plan_ms", "ms"), ("engine.files_listed", "count"),
    ("engine.files_read", "count"), ("engine.files_read_frac", "1"),
    ("queries.build_ms", "ms"), ("queries.eager_jobs", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_wait_ms", "ms"), ("exec.task_run_ms", "ms"),
    ("exec.task_cpu_ms", "ms"), ("exec.busy_frac", "1"),
    ("exec.shuffle_read_bytes", "B"), ("exec.shuffle_write_bytes", "B"),
    ("exec.spill_bytes", "B"), ("exec.gc_ms", "ms"),
    ("exec.peak_execution_memory_bytes", "B"), ("exec.output_bytes", "B"),
    ("ops.bm25_serve_ms", "ms"), ("ops.ivfpq_serve_ms", "ms"),
    ("ops.maxsim_serve_ms", "ms"), ("ops.fusion_ms", "ms"),
    ("ops.index_build_s", "s"), ("ops.dedup_ms", "ms"),
    ("ops.dedup_precision", "1"), ("ops.index_append_ms", "ms"),
    ("ops.tombstone_ms", "ms"), ("ops.compaction_ms", "ms"),
    ("ops.compactions", "count"), ("ops.write_amp", "1"),
    ("ops.segments_live", "count"),
    ("expressions.sqdist_rows_per_s", "1/s"), ("expressions.dot_rows_per_s", "1/s"),
    ("expressions.topk_rows_per_s", "1/s"),
    ("functions.polyhash_rows_per_s", "1/s"),
    ("functions.min_window_hash_rows_per_s", "1/s"),
    ("streaming.trigger_ms", "ms"), ("streaming.add_batch_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"), ("streaming.planning_ms", "ms"),
    ("streaming.rows_per_batch", "count"),
    ("self.bench_ms", "ms"), ("self.queries_ms", "ms"), ("self.ops_ms", "ms"),
    ("self.spark_ms", "ms"), ("self.streaming_ms", "ms"),
    ("self.functions_ms", "ms"),
    ("trace_overhead_frac", "1"),
]

# Input sizes per workload (see README.md for the sizing).
SIZES = {
    "relational": {"sf": 0.01, "docs": 3000},
    "ingest": {"docs": 2000, "batches": 12, "batch_size": 100, "exact": 5,
               "near": 5, "deletes": 10},
}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names if n.endswith((".scala", ".java"))]
    files.append(os.path.join(HERE, "build.sbt"))
    for f in sorted(files):
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the installation whose bin/ holds spark-submit."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation: set SPARK_HOME")
    return home


def build():
    """Compile the engine and the harness unless the last build is current."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        die(f"engine sources not found under {ENGINE_SRC}; run from a checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")
    os.environ["SPARK_HOME"] = spark_home()
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                           timeout=840)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die("build failed")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def java_cmd(work, args):
    # A fixed heap (initial = maximum) keeps the resident-set high-water
    # mark from tracking heap-resizing decisions.
    heap = "2g"
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-XX:-UsePerfData",
            "-cp", f"{CLASSES}:{os.environ['SPARK_HOME']}/jars/*", "graft.perfbench.Main"] + args
    return cmd


def run_jvm(work, args, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(java_cmd(work, args), stdout=fh, stderr=subprocess.STDOUT,
                             cwd=work)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    return rc, log


def failure_lines(log):
    """The benchmark's own failure reports from the JVM log."""
    return [l.rstrip() for l in open(log, errors="replace")
            if l.startswith("[graftbench]") or "Exception" in l][:40]


def oracle_check(data, results):
    """Compare each relational result with its DuckDB oracle over the same
    generated tables: columns sorted by name, values by repr, rows in order
    (or, for ties in the ORDER BY, as multisets). Returns {query: (ok, note)}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for p in glob.glob(os.path.join(data, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(results, "oracle_sql.json")))

    def rows(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return list(df.columns), [tuple(repr(v.tolist() if hasattr(v, "tolist") else v)
                                        for v in r) for r in df.itertuples(index=False)]
    out = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(results, name, "*.parquet"))
        if not files or not sql:
            out[name] = (False, "no result" if not files else "no oracle")
            continue
        gc, gv = rows(con.execute(f"SELECT * FROM read_parquet({files!r})").df())
        ec, ev = rows(con.execute(sql).df())
        if gc != ec:
            out[name] = (False, f"columns {gc} vs {ec}")
        elif gv == ev or sorted(gv) == sorted(ev):
            out[name] = (True, f"{len(gv)} rows")
        else:
            diff = next((i for i, (a, b) in enumerate(zip(gv, ev)) if a != b), None)
            out[name] = (False, f"{len(gv)} vs {len(ev)} rows, first difference at {diff}")
    con.close()
    return out


def run(workload, seed, seconds, trace, extra=(), keep=False):
    """One run: generate, execute, check. Returns (JVM result record,
    [(check, passed, detail)])."""
    import gen
    build()
    work = os.path.join(HERE, ".work", f"{workload}-{seed}-{os.getpid()}-{time.time_ns()}")
    try:
        data = os.path.join(work, "data")
        gen.generate(workload, seed, data, SIZES[workload])
        out = os.path.join(work, "result.json")
        results = os.path.join(work, "results")
        os.makedirs(results)
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace), "--data", data, "--results", results,
                "--out", out] + list(extra)
        t_jvm = time.time()
        rc, log = run_jvm(work, args, timeout=172)
        print(f"graftbench: JVM wall {time.time() - t_jvm:.1f} s", file=sys.stderr)
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write("".join(open(log, errors="replace").readlines()[-60:]))
            die(f"workload JVM exited with {rc}")
        rec = json.load(open(out))
        checks = [(c["name"], c["ok"], c["detail"]) for c in rec["checks"]]
        if workload == "relational":
            verdicts = oracle_check(data, results)
            ok = sum(1 for v in verdicts.values() if v[0])
            bad = {k: v[1] for k, v in verdicts.items() if not v[0]}
            checks.append(("oracle_equality", bool(verdicts) and not bad,
                           f"{ok} of {len(verdicts)} results equal the DuckDB oracle"
                           + (f"; mismatches: {bad}" if bad else "")))
            rec["end_to_end"]["recall_at_10"] = ok / max(1, len(verdicts))
        for line in failure_lines(log):
            print(f"graftbench: {line}", file=sys.stderr)
        if trace:
            traces = os.path.join(HERE, ".traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(traces, f"{workload}-{seed}.spans.json")
            shutil.copyfile(out + ".spans.json", spans)
            print(f"graftbench: spans written to {os.path.relpath(spans, ROOT)}", file=sys.stderr)
        if keep:
            rec["_work"] = work
        return rec, checks
    finally:
        if not keep:
            shutil.rmtree(work, ignore_errors=True)


def result_line(rec, checks, trace):
    names = PER_LAYER if trace else END_TO_END
    src = rec["per_layer"] if trace else rec["end_to_end"]
    metrics = {n: {"value": float(src.get(n, 0.0) or 0.0), "unit": u} for n, u in names}
    return {"correct": all(c[1] for c in checks), "attempted": int(rec["attempted"]),
            "failed": int(rec["failed"]), "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    sys.path.insert(0, HERE)
    if a.selftest:
        import selftest
        sys.exit(selftest.main(sys.modules[__name__]))
    if not a.workload:
        ap.error("--workload is required")
    rec, checks = run(a.workload, a.seed, a.seconds, a.trace)
    print("graftbench: " + json.dumps({
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "latency_tail_percentile": rec["tail_percentile"], "n": rec["n"],
        "setup_phases_s": rec["setup_phases_s"], "setup_tasks_s": rec["setup_tasks_s"],
        "warmup_s": rec["warmup_s"],
        "checks_s": rec["checks_s"], "elapsed_s": rec["elapsed_s"], "checks": checks,
        "latency_by_op_s": rec["latency_by_op_s"], "latencies_s": rec["latencies_s"],
        "calls_ms": rec["calls_ms"],
        "spark_sql_confs": rec["spark_sql_confs"]}, sort_keys=True))
    print(json.dumps(result_line(rec, checks, a.trace)))


if __name__ == "__main__":
    main()
