#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
benchmark from source with sbt (offline) into .bench_build/; every run then
starts one JVM at local[nproc] that sets up the workload's inputs, repeats
its operation for --seconds, checks every answer and writes its metrics.
The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics. The line before it ("# run ...") records
the host, the JVM, the seed and the per-operation quartiles.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
DATA = os.path.join(HERE, "data")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("point_join", "query_sweep")
RUN_LIMIT_S = 175.0      # a run must end within 180 s
BUILD_RUN_LIMIT_S = 880.0  # ... or 900 s when it builds
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def run_process(cmd, cwd, env, deadline, stdout):
    """Run cmd in its own process group; kill the group at the deadline."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.monotonic()))
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{os.path.basename(cmd[0])} passed its deadline and was killed")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_built(deadline):
    """Compile library + benchmark unless the sources are unchanged.
    Returns the JVM classpath."""
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"no library sources under {os.path.relpath(LIB_SRC, ROOT)}")
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME does not name a Spark install with a jars directory")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           f"-Dsbt.ivy.home={os.path.join(BUILD, 'ivy')}", "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["clean", "compile", "export Runtime/fullClasspath"]
    log("building library and benchmark with sbt")
    t0 = time.monotonic()
    code, out = run_process(cmd, HERE, env, deadline, subprocess.PIPE)
    text = out.decode(errors="replace")
    if code != 0:
        sys.stderr.write(text)
        fail(f"sbt build failed with exit code {code}")
    cp = [l.strip() for l in text.splitlines() if "sbt-target" in l and ":" in l and " " not in l.strip()]
    if not cp:
        sys.stderr.write(text)
        fail("sbt printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.monotonic() - t0:.1f} s")
    return cp[-1], True


# ---------------------------------------------------------------- host

def host_info():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return len(os.sched_getaffinity(0)), mem_kb


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


# ---------------------------------------------------------------- oracle

def canon(v):
    """One string per value, equal for equal Spark and DuckDB answers."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v.is_integer() and abs(v) < 1e15:
            return str(int(v))
        return format(v, ".9g")
    if isinstance(v, str):
        if v.startswith(("ts:", "date:", "hex:")):
            return v
        return json.dumps(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - datetime.datetime(1970, 1, 1)
        return f"ts:{(d.days * 86400 + d.seconds) * 1000000 + d.microseconds}"
    if isinstance(v, datetime.date):
        return f"date:{(v - datetime.date(1970, 1, 1)).days}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "hex:" + bytes(v).hex()
    if isinstance(v, dict):
        return "[" + ",".join(canon(x) for x in v.values()) + "]"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return json.dumps(str(v))


def table(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [[columns[i] for i in order], sorted(
        "|".join(canon(r[i]) for i in order) for r in rows)]


def oracle_answer(con, sql):
    """DuckDB's answer to one oracle query, cached under .bench_build by
    the hash of the query and the input table: both are fixed for a
    checkout, so later runs reuse it."""
    h = hashlib.sha256(sql.encode())
    with open(os.path.join(DATA, "documents.parquet"), "rb") as f:
        h.update(f.read())
    path = os.path.join(BUILD, "oracle", h.hexdigest() + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    ans = table(cols, cur.fetchall())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(ans, f)
    os.replace(path + ".tmp", path)
    return ans


def oracle_check(answers_dir):
    """Compare each collected answer with DuckDB's answer to the query's
    oracle SQL. Returns the names of the queries that differ."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(DATA, 'documents.parquet')}')")
    bad = []
    for name in sorted(f[:-5] for f in os.listdir(answers_dir) if f.endswith(".json")):
        with open(os.path.join(answers_dir, name + ".json")) as f:
            got = json.load(f)
        with open(os.path.join(answers_dir, name + ".sql")) as f:
            sql = f.read()
        try:
            want = oracle_answer(con, sql)
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            log(f"oracle {name}: {e}")
            bad.append(name)
            continue
        have = table(got["columns"], got["rows"])
        if have != want:
            log(f"oracle {name}: answer differs (columns {have[0]} vs {want[0]}, "
                f"rows {len(have[1])} vs {len(want[1])})")
            bad.append(name)
    return bad


# ---------------------------------------------------------------- main

def quartiles(xs):
    if len(xs) < 2:
        return [xs[0]] * 3
    q = statistics.quantiles(xs, n=4)
    return [q[0], statistics.median(xs), q[2]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    start = time.monotonic()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("BENCHMARK.json not found at the checkout root")
    with open(bench_file) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
    if not os.path.exists(os.path.join(DATA, "documents.parquet")):
        fail("input table perfbench/data/documents.parquet is missing")

    classpath, built = ensure_built(start + BUILD_RUN_LIMIT_S)
    deadline = start + (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - 8.0

    cores, mem_kb = host_info()
    heap_mb = max(2048, min(8192, mem_kb // 4 // 1024))
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_file = os.path.join(work, "result.json")
    java = shutil.which("java") or fail("java is not on PATH")
    cmd = [java, f"-Xmx{heap_mb}m", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Duser.timezone=UTC",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--cores", str(cores), "--data", DATA, "--work", work,
            "--out", out_file]
    load_before = loadavg()
    t0 = time.monotonic()
    code, _ = run_process(cmd, ROOT, dict(os.environ), deadline, sys.stderr)
    load_after = loadavg()
    log(f"workload JVM ran {time.monotonic() - t0:.1f} s")
    if code != 0 or not os.path.exists(out_file):
        fail(f"benchmark JVM exited with code {code}")
    with open(out_file) as f:
        res = json.load(f)
    info = res["info"]
    failed = res["failed"]
    attempted = res["attempted"]
    answers = os.path.join(work, "answers")
    if os.path.isdir(answers):
        bad = oracle_check(answers)
        failed += len([b for b in bad if not any(e.startswith(b + ":") for e in info["errors"])])
    for e in info["errors"]:
        log(f"failed: {e}")

    metrics = {}
    for m in wanted:
        if m["name"] not in res["metrics"]:
            fail(f"the run produced no value for metric {m['name']}")
        metrics[m["name"]] = {"value": res["metrics"][m["name"]], "unit": m["unit"]}
    extra = set(res["metrics"]) - {m["name"] for m in wanted}
    if extra:
        fail(f"the run produced metrics BENCHMARK.json does not list: {sorted(extra)}")

    for sub in ("pods", "layer_pods", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": int(a.trace),
        "nproc": cores, "mem_total_kb": mem_kb, "heap_mb": heap_mb,
        "loadavg_before": load_before, "loadavg_after": load_after,
        "jvm": info["jvm"], "git_commit": git_commit(),
        "op_s_quartiles": quartiles(info["op_s"]), "ops": len(info["op_s"]),
        "session_s": info["session_s"], "build_s": info["build_s"],
        "warm_up_s": info["warm_up_s"], "item_median_s": info["item_median_s"],
        "item_profile": info["item_profile"], "op_cpu": info["op_cpu"],
        "describe": info["describe"],
    }
    print("# run " + json.dumps(record, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
