#!/usr/bin/env python3
"""graft benchmark: one JVM, one closed-loop client, fixed key lists.

Run from the repository root:

    python3 graftbench/run.py --workload lake_dml --seed 1 --seconds 10 --trace 0

It builds the engine and the harness from source (sbt, once per source
change; later runs launch the JVM directly from the stamped classpath),
runs the harness (`graftbench.Main`) over the sf0.01 tables in
`graftbench/data/`, compares every key's first-pass result with its
`SparkEntry.oracleSql` entry in DuckDB, and prints two JSON lines: the run record, then the
result `{"correct", "attempted", "failed", "metrics"}`. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "target")
# The repository's sf0.01 test tables, the data its correctness gate runs on.
DATA = os.path.join(BENCH, "data", "sf0.01")
HEAP = "2g"
JVM_TIMEOUT_S = 165
# The default tiered JIT, as every run of the engine uses.
# -UsePerfData: no hsperfdata file outside the checkout.
JVM_OPTIONS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]

# Why each workload was chosen is in BENCHMARK.json. Key lists are short
# on purpose: every run pays a cold JVM, a cold check pass and the warm
# passes, so each key adds many times its warm latency to every run.
WORKLOADS = {
    "lake_dml": ["src13_lake_merge", "src37_sql_delete_in"],
    "stream": ["st10_stream_to_lake", "st12_lake_stream_read"],
}

# Spark on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))
                      or os.sep + "resources" + os.sep in d + os.sep]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine and harness; return the runtime classpath."""
    os.makedirs(WORK, exist_ok=True)
    stamp = os.path.join(WORK, "classpath.json")
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        fp = fingerprint()
        if os.path.exists(stamp):
            with open(stamp) as f:
                st = json.load(f)
            if st["fingerprint"] == fp and all(os.path.exists(p) for p in st["classpath"]):
                return st["classpath"]
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.exists(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                               f"-Dsbt.repository.config={repos} -Xmx2g")
        try:
            p = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
                timeout=800)
        except subprocess.TimeoutExpired:
            die("build timed out")
        lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
            die("build failed")
        cp = lines[-1].split(os.pathsep)
        with open(stamp, "w") as f:
            json.dump({"fingerprint": fp, "classpath": cp}, f)
        return cp


# ---------------------------------------------------------- correctness

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(got, want):
    """The comparison tools/check.py makes; returns None or the reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    g, w = canon(got), canon(want)
    for c in g.columns:
        gs, ws = g[c], w[c]
        kinds = {gs.dtype.kind, ws.dtype.kind}
        if len(kinds) > 1 and kinds <= {"i", "u", "f"}:
            return f"column {c} dtype {gs.dtype} vs oracle {ws.dtype}"
        if "f" in kinds:
            eq = (gs.isna() & ws.isna()) | (gs == ws)
        else:
            eq = gs.astype(str) == ws.astype(str)
        if not eq.all():
            i = int((~eq).idxmax())
            return f"column {c} row {i}: {gs[i]!r} vs {ws[i]!r}"
    return None


def tables(data):
    return sorted(f[:-len(".parquet")] for f in os.listdir(data) if f.endswith(".parquet"))


def oracle_results(sqls, data):
    """DuckDB results of the oracle SQL, cached by the digest of the
    input tables and the SQL."""
    import duckdb
    import pandas as pd
    cache = os.path.join(WORK, "oracle")
    os.makedirs(cache, exist_ok=True)
    h = hashlib.sha256()
    for t in tables(data):
        with open(os.path.join(data, t + ".parquet"), "rb") as f:
            h.update(t.encode() + hashlib.sha256(f.read()).digest())
    out, con = {}, None
    for key, sql in sqls.items():
        digest = hashlib.sha256(f"{h.hexdigest()}\n{sql}".encode()).hexdigest()
        path = os.path.join(cache, digest + ".pkl")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                for t in tables(data):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{os.path.join(data, t)}.parquet')")
            con.sql(sql).df().to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)
        out[key] = pd.read_pickle(path)
    return out


def check(keys, check_dir, data):
    """Key -> None when its first-pass result equals the oracle's."""
    import pandas as pd
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    want = oracle_results({k: sqls[k] for k in keys if k in sqls}, data)
    verdict = {}
    for k in keys:
        files = glob.glob(os.path.join(check_dir, k, "*.parquet"))
        if k not in want:
            verdict[k] = "no oracle SQL"
        elif not files:
            verdict[k] = "no result"
        else:
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            verdict[k] = compare(got, want[k])
    return verdict


# ------------------------------------------------------------- metrics

def per_type(ops):
    """Per-key sample count and median latency and CPU seconds. A run
    holds a handful of samples per key, far from the hundred a p90 would
    need."""
    by = {}
    for o in ops:
        by.setdefault(o["key"], []).append(o)
    return {k: {"n": len(xs),
                "median_s": statistics.median(o["build_s"] + o["materialize_s"] for o in xs),
                "median_cpu_s": statistics.median(o["op_cpu_s"] for o in xs)}
            for k, xs in sorted(by.items())}


def geomean(xs):
    xs = list(xs)
    return math.exp(statistics.fmean(math.log(x) for x in xs)) if xs else 0.0


def pass_rate(p, ok_ops):
    """Ops that succeeded in pass `p`, per second of the program's time:
    the pass wall less the harness's own bookkeeping in it."""
    n = sum(1 for o in ok_ops if o["pass"] == p["pass"])
    return n / (p["wall_s"] - p["book_s"])


def end_to_end(rec, ok_ops):
    """`ok_ops`: the untraced timed passes' ops that succeeded. The
    per-op figures are CPU seconds, not wall: on a shared host whose
    speed changes from minute to minute, CPU time moved about half as
    much as wall time between runs of the same code (figures in
    README.md). Both rest on
    each key's median, so one op slowed by a GC or the host moves them
    little: `cpu_per_op_s` is a median pass's CPU per op, which the long
    keys dominate; `op_cpu_geomean_s` weighs every key the same."""
    meds = [v["median_cpu_s"] for v in per_type(ok_ops).values()]
    return {
        "setup_s": (rec["setup_s"], "s"),
        "cpu_per_op_s": (statistics.fmean(meds) if meds else 0.0, "s"),
        "op_cpu_geomean_s": (geomean(meds), "s"),
        "rss_peak_mb": (rec["rss_peak_mb"], "MB"),
    }


def per_layer(passes, untraced, ops, ok_ops):
    """`passes`: the traced timed passes; `untraced`: the untraced ones
    between them, the reference for the tracing overhead; `ops`: the
    traced passes' ops; `ok_ops`: every timed op that succeeded."""
    n = len(ops)

    def tot(f):
        return sum(o[f] for o in ops)

    def per_op(f):
        return tot(f) / n

    wall = tot("build_s") + tot("materialize_s")
    gap = wall - tot("job_s")
    traced = statistics.median(pass_rate(p, ok_ops) for p in passes)
    plain = statistics.median(pass_rate(p, ok_ops) for p in untraced)
    plain_ops = [o for o in ok_ops if o["pass"] in {p["pass"] for p in untraced}]
    return {
        "wall.ops_per_s": (plain, "1/s"),
        "wall.op_geomean_s": (geomean(v["median_s"] for v in per_type(plain_ops).values()), "s"),
        "SparkEntry.build_s": (per_op("build_s"), "s"),
        "SparkEntry.materialize_s": (per_op("materialize_s"), "s"),
        "plans.analysis_s": (per_op("analysis_s"), "s"),
        "plans.optimization_s": (per_op("optimization_s"), "s"),
        "plans.planning_s": (per_op("planning_s"), "s"),
        "plans.sql_executions": (per_op("sql_executions"), "count"),
        "spark.jobs": (per_op("jobs"), "count"),
        "spark.stages": (per_op("stages"), "count"),
        "spark.tasks": (per_op("tasks"), "count"),
        "spark.tasks_per_stage": (tot("tasks") / max(tot("stages"), 1), "ratio"),
        "spark.job_s": (per_op("job_s"), "s"),
        "spark.driver_gap_s": (gap / n, "s"),
        "spark.driver_share": (gap / wall, "ratio"),
        "operators.task_run_s": (per_op("task_run_s"), "s"),
        "operators.task_cpu_s": (per_op("task_cpu_s"), "s"),
        "operators.task_gc_s": (per_op("task_gc_s"), "s"),
        "scan.files_read": (per_op("files_read"), "count"),
        "scan.bytes_read": (per_op("bytes_read"), "bytes"),
        "scan.records_read": (per_op("records_read"), "count"),
        "shuffle.write_bytes": (per_op("shuffle_write_bytes"), "bytes"),
        "shuffle.read_bytes": (per_op("shuffle_read_bytes"), "bytes"),
        "shuffle.fetch_wait_s": (per_op("fetch_wait_s"), "s"),
        "spill.bytes": (per_op("spill_bytes"), "bytes"),
        "sources.log_commits": (per_op("log_commits"), "count"),
        "sources.files_written": (per_op("files_written"), "count"),
        "sources.bytes_written": (per_op("bytes_written"), "bytes"),
        "sources.write_amp": (tot("bytes_written") / tot("live_bytes") if tot("live_bytes") else 0.0,
                              "ratio"),
        "io.read_bytes": (per_op("io_read_bytes"), "bytes"),
        "io.write_bytes": (per_op("io_write_bytes"), "bytes"),
        "io.read_syscalls": (per_op("io_read_syscalls"), "count"),
        "io.write_syscalls": (per_op("io_write_syscalls"), "count"),
        "streaming.batches": (per_op("batches"), "count"),
        "streaming.trigger_s": (per_op("trigger_s"), "s"),
        "streaming.add_batch_s": (per_op("add_batch_s"), "s"),
        "streaming.wal_commit_s": (per_op("wal_commit_s"), "s"),
        "streaming.overhead_s": ((tot("trigger_s") - tot("add_batch_s")) / n, "s"),
        "jvm.cpu_s": (per_op("cpu_s"), "s"),
        "jvm.gc_s": (per_op("gc_s"), "s"),
        "jvm.jit_s": (per_op("jit_s"), "s"),
        "jvm.heap_used_mb": (per_op("heap_used_mb"), "MB"),
        "host.steal_s": (per_op("steal_s"), "s"),
        "host.load1": (statistics.fmean(p["load1"] for p in passes), "load"),
        "trace.ops_per_s": (traced, "1/s"),
        "trace.overhead": (1 - traced / plain, "ratio"),
    }


def counters_by_key(ops):
    """Key -> [[jobs, stages, tasks] for each traced pass]."""
    out = {}
    for o in ops:
        out.setdefault(o["key"], []).append([o["jobs"], o["stages"], o["tasks"]])
    return out


# ----------------------------------------------------------------- run

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # Turn a termination signal into SystemExit so `finally` stops the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die(f"no engine sources next to {os.path.relpath(BENCH)}; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")
    if not os.path.isdir(DATA):
        die(f"no input tables in {os.path.relpath(DATA)}")
    keys = WORKLOADS[a.workload]
    classpath = build()
    nproc = len(os.sched_getaffinity(0))

    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(WORK, "runs"))
    proc = None
    try:
        tmp, check_dir = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "check")
        os.makedirs(tmp)
        os.makedirs(check_dir)
        out = os.path.join(run_dir, "record.json")
        cmd = (["java"] + JVM_OPTIONS
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + [f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(classpath),
                  "graftbench.Main", "--keys", ",".join(keys), "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--cpus", str(nproc), "--data", DATA,
                  "--check-dir", check_dir, "--out", out])
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                                    stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            die("harness JVM timed out" if rc is None else f"harness JVM exited with {rc}")
        with open(out) as f:
            rec = json.load(f)

        verdict = check(keys, check_dir, DATA)
        for c in rec["checked"]:
            if c["error"]:
                verdict[c["key"]] = c["error"]
        bad = {k for k, v in verdict.items() if v}
        ops = rec["ops"]
        failed = [o for o in ops if o["error"] is not None or o["key"] in bad]
        ok_ops = [o for o in ops if o["error"] is None and o["key"] not in bad]
        timed = [p for p in rec["passes"] if p["phase"] == "timed"]
        plain = [p for p in timed if not p["traced"]]
        traced = [p for p in timed if p["traced"]]
        traced_ops = [o for o in ops if o["pass"] in {p["pass"] for p in traced}]
        if a.trace:
            metrics = per_layer(traced, plain, traced_ops, ok_ops)
        else:
            metrics = end_to_end(rec, ok_ops)

        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "master": rec["master"], "nproc": nproc, "jvm_options": JVM_OPTIONS,
            "data": os.path.relpath(DATA, ROOT),
            "host": {"steal_s": sum(p["steal_s"] for p in timed), "load1": timed[-1]["load1"]},
            "warm_passes": rec["warm_passes"], "passes": rec["passes"],
            "timed": {"passes": len(timed), "jit_s": sum(p["jit_s"] for p in timed),
                      "wall_ops_per_s": statistics.median(pass_rate(p, ok_ops) for p in plain),
                      "per_type": per_type([o for o in ops if o["pass"] in
                                            {p["pass"] for p in plain}])},
            "checks": {k: v or "ok" for k, v in sorted(verdict.items())},
            "errors": sorted({f'{o["key"]}: {o["error"]}' for o in ops if o["error"]}),
        }
        if a.trace:
            record["traced"] = {"passes": len(traced), "per_type": per_type(traced_ops),
                                "counters": counters_by_key(traced_ops)}
        print(json.dumps({"record": record}))
        print(json.dumps({
            "correct": not bad and not failed,
            "attempted": len(ops),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
