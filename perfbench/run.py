#!/usr/bin/env python3
"""Benchmark launcher. Run from the root of a checkout:

    python3 perfbench/run.py --workload sync_fanout --seed 1 --seconds 12 --trace 0

It builds the program and the harness from source (once per source
state), generates the workload's inputs from the seed, runs the harness
JVM, checks the outputs, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With `--trace 0` the
metrics are the workload's end-to-end metrics, with `--trace 1` the
per-layer metrics of a traced run. Exits 1 when an output check fails
and 2 when the benchmark cannot run at all. Every run is also appended,
with its noise columns, to perfbench/target/runs.jsonl.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(TARGET, "work")
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("sync_fanout", "gates_sf01", "resync_reads")
# Graph size of the sync workloads (see README.md for how it was set)
# and the graph generations each one syncs.
GRAPH = {"n_kinds": 6, "n_nodes": 6000, "n_reads": 30}
GENERATIONS = {"sync_fanout": [0], "resync_reads": [0, 1]}
GATE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings")
JVM_TIMEOUT_S = 170
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project"),
             os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(r)
            if "target" not in os.path.relpath(d, r).split(os.sep)
            for f in files)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the harness with sbt; return the runtime
    classpath. Skipped when the sources have not changed since the last
    build in this checkout."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        die("no program sources next to the benchmark (build.sbt, src/main)")
    stamp = os.path.join(TARGET, "build.json")
    digest = source_digest()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850).returncode
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        die(f"build failed (rc={rc}); see {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def steal_s():
    """Cumulative hypervisor steal of the machine, in seconds."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def generate(workload, seed, inp):
    """Write the sync workloads' inputs; return the generation seconds
    (median of three generations, so one slow one does not show)."""
    times = []
    for _ in range(3):
        shutil.rmtree(inp, ignore_errors=True)
        t0 = time.perf_counter()
        gen.write_inputs(inp, seed, generations=GENERATIONS[workload],
                         **GRAPH)
        times.append(time.perf_counter() - t0)
    return sorted(times)[1]


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, bytes):
        return v.hex()
    return v


def check_gates(res_dir, data_dir):
    """Compare every panel gate's parquet result with its oracle SQL run
    by DuckDB over the same fixtures: same columns, same rows in order.
    Returns the names of the gates that do not match."""
    import duckdb
    con = duckdb.connect()
    for t in GATE_TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM "
                f"read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(res_dir, "oracle.json")) as f:
        oracles = json.load(f)
    bad = []
    for name, sql in sorted(oracles.items()):
        try:
            rel = con.sql("SELECT * FROM read_parquet("
                          f"'{res_dir}/{name}/*.parquet')")
            scols, srows = rel.columns, rel.fetchall()
            rel = con.sql(sql)
            ocols, orows = rel.columns, rel.fetchall()
        except Exception as e:  # a missing result or a failing oracle
            print(f"perfbench: gate {name}: {str(e)[:200]}", file=sys.stderr)
            bad.append(name)
            continue
        same = sorted(scols) == sorted(ocols) and len(srows) == len(orows)
        if same:
            si = [scols.index(c) for c in sorted(scols)]
            oi = [ocols.index(c) for c in sorted(ocols)]
            same = all([norm(a[j]) for j in si] == [norm(b[j]) for j in oi]
                       for a, b in zip(srows, orows))
        if not same:
            print(f"perfbench: gate {name} differs from its oracle",
                  file=sys.stderr)
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t_start = time.perf_counter()
    classpath = build()
    shutil.rmtree(WORK, ignore_errors=True)
    inp = os.path.join(WORK, "input")
    os.makedirs(inp)
    gen_s = generate(a.workload, a.seed, inp) \
        if a.workload in GENERATIONS else 0.0

    env = dict(os.environ,
               SPARK_GRAFT_SCRATCH=os.path.join(WORK, "spark"),
               GRAFT_SCRATCH=os.path.join(WORK, "scratch"),
               SPARK_GRAFT_CPUS=str(os.cpu_count() or 4))
    cmd = (["java"] + ADD_OPENS +
           ["-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
            "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--input", inp, "--work", WORK])
    steal0 = steal_s()
    t_jvm = time.perf_counter()
    log = os.path.join(WORK, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"harness timed out; see {log}")
    steal = steal_s() - steal0
    t_jvm = time.perf_counter() - t_jvm
    result_path = os.path.join(WORK, "result.json")
    if rc != 0 or not os.path.isfile(result_path):
        with open(log) as f:
            text = f.read()
        causes = [ln for ln in text.splitlines()
                  if "Exception" in ln or "Error" in ln][:20]
        sys.stderr.write("\n".join(causes) + "\n" + text[-2000:])
        shutil.copy(log, os.path.join(TARGET, "failed-jvm.log"))
        die(f"harness failed (rc={rc}); log kept in perfbench/target")
    with open(result_path) as f:
        res = json.load(f)
    info = res["info"]
    checks = res["checks"]
    failed = res["failed"]

    if a.workload == "gates_sf01":
        bad = check_gates(os.path.join(WORK, "gates"), info["data_dir"])
        checks.append({"name": "gates match their DuckDB oracles",
                       "ok": not bad, "detail": ", ".join(bad)})
        # A gate whose answer is wrong fails in every pass.
        failed += sum(info["passes"] - info["gate_failures"].get(g, 0)
                      for g in bad)

    metrics = res["metrics"]
    if not a.trace:
        metrics["setup_s"] = {"value": gen_s + info["setup_jvm_s"],
                              "unit": "s"}
        metrics["peak_rss_mb"] = {"value": info["vm_hwm_mb"], "unit": "MB"}
    correct = all(c["ok"] for c in checks)
    for c in checks:
        if not c["ok"]:
            print(f"perfbench: check failed: {c['name']}: {c['detail']}",
                  file=sys.stderr)
    line = {"correct": correct, "attempted": res["attempted"],
            "failed": failed, "metrics": metrics}
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "result": line, "checks": checks,
              "info": info, "noise": {"steal_s": steal,
                                      "calib_s": info.get("calib_s")},
              "gen_s": gen_s, "jvm_s": t_jvm, "wall_s": time.perf_counter() - t_start}
    with open(os.path.join(TARGET, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"run": record["info"], "noise": record["noise"]}))
    print(json.dumps(line))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
