#!/usr/bin/env python3
"""Benchmark runner for the user-behavior engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the driver from source (sbt, offline) into
.bench_build/, generates the workload's inputs from the seed, runs the
workload in a fresh JVM at local[<cores>] with one closed-loop client,
checks every output, and prints every metric with its unit. The last
line of stdout is one JSON object: correct, attempted, failed, metrics.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones (listeners on, spans in trace.json).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SETUPS = 3  # set-ups per untraced run; setup_s is their median

JAVA_OPTS = [
    "--add-opens=java.base/java.lang=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.reflect=ALL-UNNAMED",
    "--add-opens=java.base/java.io=ALL-UNNAMED",
    "--add-opens=java.base/java.net=ALL-UNNAMED",
    "--add-opens=java.base/java.nio=ALL-UNNAMED",
    "--add-opens=java.base/java.util=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.cs=ALL-UNNAMED",
    "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
    "-Xmx3g",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def run_proc(cmd, timeout, what, **kw):
    """Runs cmd in its own process group and waits for it; on timeout, or
    when the runner itself is stopped, kills the whole group (sbt's
    launcher forks its JVM) and waits for it."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"{what} timed out after {timeout:.0f} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode


# ---------------------------------------------------------------- inputs

def gen_batch(rng, out, copies):
    """Events with the shape of the driver's events table (1,500 users,
    100 items, 5 event types, 30 days, uniform) and a documents and
    embeddings corpus with the driver corpus's shape; one hard-linked
    copy per set-up, because stores are memoized per source directory."""
    data = os.path.join(out, "data")
    gen.write(gen.events(rng, 100_000, users=1500, items=100, days=30),
              os.path.join(data, "events.parquet"))
    gen.write(gen.documents(rng, 1000), os.path.join(data, "documents.parquet"))
    gen.write(gen.embeddings(rng, 500), os.path.join(data, "embeddings.parquet"))
    for i in range(copies):
        d = os.path.join(out, f"copy{i}")
        os.makedirs(d)
        for f in os.listdir(data):
            os.link(os.path.join(data, f), os.path.join(d, f))
    return {"events": 100_000, "users": 1500, "items": 100, "days": 30,
            "keys": "uniform", "documents": 1000, "dup_share": 0.05, "embeddings": 500}


def gen_stream(rng, out, chunks=4, chunk=15_000, disorder=0.1, cross=0.5,
               tail_us=8 * 60 * 10**6, late=0.01):
    """An ordered log of one-file chunks, one micro-batch each.

    Out of order within the 10-minute watermark delay: in each chunk a
    `disorder` share of rows is shuffled; at each chunk boundary a `cross`
    share of the users seen in the chunk's last `tail_us` of event time
    have all of those rows moved into the next chunk, so they arrive one
    micro-batch late but behind the watermark by less than the delay.
    Each user's rows still arrive in event-time order across chunks, so
    the keyed operators see them as the batch operator does.

    Late beyond the delay: from the third chunk on, a `late` share of
    extra rows carries timestamps a day before the log starts, so every
    stateful operator must drop them. Late rows get the ids from
    first_late_id up."""
    n = chunks * chunk
    ev = gen.events(rng, n, users=1000, items=100, days=2)
    ts = np.asarray(ev["ts"].cast(gen.pa.int64()))
    user = np.asarray(ev["user_id"])
    of = np.arange(n) // chunk
    for c in range(chunks - 1):
        in_c = of == c
        tail = in_c & (ts >= ts[in_c].max() - tail_us)
        movers = np.flatnonzero(rng.random(1000) < cross)
        of[tail & np.isin(user, movers)] = c + 1
    first_late = n
    cols = ev.column_names
    for c in range(chunks):
        idx = np.flatnonzero(of == c)
        moved = np.flatnonzero(rng.random(len(idx)) < disorder)
        idx[moved] = idx[rng.permutation(moved)]
        part = ev.take(idx)
        if c >= 2:
            k = max(1, int(chunk * late))
            lt = gen.events(rng, k, users=1000, items=100, days=1)
            arrays = [lt[name] for name in cols]
            arrays[0] = gen.pa.array(np.arange(first_late, first_late + k, dtype=np.int64))
            lts = np.asarray(lt["ts"].cast(gen.pa.int64())) - gen.DAY_US
            arrays[1] = gen.pa.array(lts, gen.pa.timestamp("us"))
            part = gen.pa.concat_tables([part, gen.pa.table(dict(zip(cols, arrays)))])
            first_late += k
        part = part.set_column(1, "ts", part["ts"].cast(gen.pa.timestamp("us", tz="UTC")))
        path = os.path.join(out, "chunks", f"chunk-{c:04d}.parquet")
        gen.write(part, path)
        # the file source reads files in modification-time order
        os.utime(path, (gen.T0_US // 10**6 + c, gen.T0_US // 10**6 + c))
    with open(os.path.join(out, "stream.json"), "w") as f:
        json.dump({"first_late_id": n}, f)
    return {"events": n, "chunks": chunks, "chunk_events": chunk, "users": 1000,
            "items": 100, "days": 2, "keys": "uniform", "disorder_share": disorder,
            "cross_chunk_user_share": cross, "cross_chunk_tail_s": tail_us / 1e6,
            "cross_chunk_events": int((of != np.arange(n) // chunk).sum()),
            "late_share": late, "late_events": first_late - n, "watermark": "10 minutes"}


def generate(workload, seed, out, setups):
    rng = np.random.default_rng(seed)
    if workload == "batch-serving":
        # set-ups, then one copy for the traced prewarm and store builds
        params = gen_batch(rng, out, setups + 1)
    else:
        params = gen_stream(rng, out)
    files = {os.path.relpath(p, out): p
             for p in glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True)
             if "copy" not in os.path.relpath(p, out)}
    return gen.manifest(seed, files, params)


# ----------------------------------------------------------------- build

def sources_stamp():
    h = hashlib.sha256()
    pats = ["build.sbt", "project/*.sbt", "project/build.properties", "lib/*.jar",
            "src/main/**/*", "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*"]
    for pat in pats:
        for p in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            if os.path.isfile(p):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine and driver; returns the driver's runtime classpath."""
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                f"-Djava.io.tmpdir={tmp}"]).strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export perfbench/Runtime/fullClasspath"]
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        rc = run_proc(cmd, 800, "build", cwd=HERE, env=env, stdout=log,
                      stderr=subprocess.STDOUT)
    out = open(log_path).read()
    cps = [l for l in out.splitlines() if l.startswith("/") and ".jar" in l]
    if rc != 0 or not cps:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {rc})")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


# ----------------------------------------------------------- correctness

def oracle_check(input_dir, work, outputs, covered_by):
    """Spark outputs against each query's DuckDB oracle, by the rules of
    the repository's oracle gate: columns sorted by name, rows compared
    as an exact multiset of value reprs. A query without oracle SQL is
    checked through its error-band twin. Returns query -> failure."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for p in glob.glob(os.path.join(input_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

    def rows(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return sorted(tuple(repr(v) for v in t) for t in df.itertuples(index=False))

    result = {}
    for name, sql in outputs.items():
        if not sql:
            continue
        files = glob.glob(os.path.join(work, "out", name, "*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        try:
            exp = con.sql(sql).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            result[name] = f"oracle SQL error: {e}"
            continue
        if sorted(got.columns) != sorted(exp.columns):
            result[name] = f"columns {sorted(got.columns)} vs oracle {sorted(exp.columns)}"
        elif rows(got) != rows(exp):
            result[name] = f"{len(got)} rows vs {len(exp)} from the oracle"
        else:
            result[name] = ""
    for name, sql in outputs.items():
        if not sql:
            twin = covered_by.get(name)
            if twin is None:
                result[name] = "no oracle and no error-band twin"
            elif result[twin]:
                result[name] = f"twin {twin}: {result[twin]}"
            else:
                result[name] = ""
    return result


# --------------------------------------------------------------- metrics

def host_free_ms(op):
    """An op's wall time with the host's steal taken out.

    On a shared host the hypervisor takes the machine's CPUs away now and
    then (steal in /proc/stat); an op that needed CPU then waits, longer
    the more it needed. If the op's threads lost the same share of their
    time to steal, its wall time grew by (cpu + steal) / cpu, where cpu is
    the CPU time the JVM used during the op and steal the CPU time the host
    took meanwhile; this divides it back out. With no steal it is the wall
    time."""
    _, ms, _, cpu, steal = op
    return ms * cpu / (cpu + steal) if cpu > 0 else ms


def main():
    # SIGTERM unwinds like an error, so run_proc stops the group it started
    signal.signal(signal.SIGTERM, lambda *_: fail("stopped by SIGTERM"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # A traced JVM runs about 105 s on 4 cores (batch: set-up, checks and
    # store builds; stream: one round of 30 drains); 140 s leaves room for
    # a slower machine. The timed loop ends only with a round, so it can
    # overrun --seconds.
    timeout = 140 + 3 * a.seconds
    workloads = ("batch-serving", "stream-stateful")
    if a.workload not in workloads:
        fail(f"unknown workload '{a.workload}' (one of {', '.join(workloads)})")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"workload {a.workload}: no engine sources (build.sbt, src/main/scala) in {ROOT}")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    cp = build()
    t_start = time.time()
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    # a traced run reports no setup_s, so it sets up once
    setups = 1 if a.trace else SETUPS
    manifest = generate(a.workload, a.seed, input_dir, setups)
    # the same seed must give byte-identical inputs
    again = generate(a.workload, a.seed, os.path.join(work, "again"), setups)
    if again["files"] != manifest["files"]:
        fail(f"workload {a.workload}: seed {a.seed} generated different inputs twice")
    shutil.rmtree(os.path.join(work, "again"))
    gen.save_manifest(manifest, os.path.join(work, "manifest.json"))

    cores = len(os.sched_getaffinity(0))
    print(f"workload {a.workload}: inputs in {time.time() - t_start:.1f} s; "
          f"JVM killed {timeout:.0f} s (140 + 3 x --seconds) after input generation began",
          file=sys.stderr)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Driver",
           f"workload={a.workload}", f"input={input_dir}", f"work={work}",
           f"seconds={a.seconds}", f"trace={a.trace}", f"cores={cores}",
           f"seed={a.seed}", f"setups={setups}"]
    with open(os.path.join(work, "driver.log"), "w") as log:
        rc = run_proc(cmd, timeout - (time.time() - t_start), f"workload {a.workload}",
                      cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(open(os.path.join(work, "driver.log")).read()[-6000:])
        fail(f"workload {a.workload}: driver exited with {rc}")
    res = json.load(open(os.path.join(work, "result.json")))

    # correctness: oracle compare for batch outputs, in-JVM checks for streams
    data_dir = input_dir if not os.path.isdir(os.path.join(input_dir, "data")) \
        else os.path.join(input_dir, "data")
    checks = dict(res["checks"])
    checks.update(oracle_check(data_dir, work, res["outputs"], res["covered_by"]))
    ops = res["ops"]
    bad = {k for k, v in checks.items() if v}
    failed = sum(1 for name, *_ in ops
                 if name in bad or f"stream.{name}" in bad)
    for k in sorted(bad):
        print(f"[FAIL] {k}: {checks[k]}")
    print(f"checks: {len(checks) - len(bad)} pass, {len(bad)} fail")

    # Times with the host's steal taken out (see host_free_ms)
    untraced = [host_free_ms(op) for op in ops if not op[2]]
    setups = [host_free_ms(op) for op in res["setups"]]
    e2e = {
        "setup_s": statistics.median(setups) / 1e3,
        "op_geomean_ms": statistics.geometric_mean(untraced),
        "ops_per_s": len(untraced) / (sum(untraced) / 1e3),
    }
    wall = [op[1] for op in ops if not op[2]]
    steal = sum(op[4] for op in ops) / (sum(op[1] for op in ops) * os.cpu_count()) * 100
    res["layer"]["host.steal_pct"] = steal
    print(f"inputs: {json.dumps(manifest['params'])}")
    print(f"ops: {len(ops)} in {res['timed_s']:.2f} s; set-ups: "
          f"{[round(op[1] / 1e3, 3) for op in res['setups']]} s of wall time")
    print(f"wall time, steal not taken out: op geomean {statistics.geometric_mean(wall):.1f} ms, "
          f"p50 {statistics.median(wall):.1f} ms; "
          f"host steal {steal:.1f} % of the CPUs' time during the ops")
    if a.trace:
        chosen = {m["name"]: (res["layer"].get(m["name"], 0.0), m["unit"])
                  for m in spec["per_layer"]}
        for k, v in sorted(res["layer"].items()):
            print(f"  {k} = {v}")
        print(f"spans: {os.path.join(work, 'trace.json')}")
    else:
        chosen = {m["name"]: (e2e[m["name"]], m["unit"]) for m in spec["end_to_end"]}
    for k, (v, u) in chosen.items():
        print(f"{k} = {v:.6g} {u}")
    print(json.dumps({
        "correct": not bad,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))


if __name__ == "__main__":
    main()
