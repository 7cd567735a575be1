#!/usr/bin/env python3
"""Benchmark launcher for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--cores <n>]

Run from the root of a checkout. It builds the engine and the benchmark
harness from source (sbt, cached by a hash of the sources), generates the
workload's inputs from the seed, runs one workload in a fresh JVM on
local[cores] (default: every core this process may use) inside a fresh run
directory under perfbench/.work, checks the outputs, and prints:

  - one detail line: seed, host-noise record, named figures, errors;
  - as the LAST line, {"correct", "attempted", "failed", "metrics"}: the
    end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer
    metrics with --trace 1.

Exit code 0 means a result line was printed (which may still say
correct: false); anything else means the benchmark could not run.
"""
import argparse
import decimal
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(WORK, "build")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

WORKLOADS = ("olap_batch", "store_maintain", "tick_pipeline")
# fixture size per workload, in units of the sf0.01 row counts (lineitem 60k)
FIXTURE_SCALE = {"olap_batch": 0.1, "store_maintain": 0.5}
JVM_TIMEOUT_S = 160

# JVM flags of `sbt run` in build.sbt: the JIT pair that keeps generated
# code compiled, UTC, the JDK 17 add-opens list and no Spark UI
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-XX:-DontCompileHugeMethods",
    "-XX:ReservedCodeCacheSize=1g",
    # a fixed heap: no resizing between runs or after the explicit GCs
    "-Xms2g", "-Xmx2g",
    # no hsperfdata file outside the checkout
    "-XX:-UsePerfData",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    lines = open(log).read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


# ----------------------------------------------------------- host noise

def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# --------------------------------------------------------- oracle check
# Canonicalization of tools/check.py (the repository's correctness gate):
# columns sorted by name, rows sorted, NULL -> \N, Spark-side decimals and
# oracle-side HUGEINT rendered as float repr.

def canon_cell(v, spark_side, as_float):
    if v is None:
        return "\\N"
    if as_float and isinstance(v, int):
        return repr(float(v))
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal) and spark_side:
        return repr(float(v))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon(rows, cols, spark_side=False, float_cols=frozenset()):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\t".join(canon_cell(r[i], spark_side, cols[i] in float_cols)
                            for i in order) for r in rows)


def oracle_check(data_dir, checks):
    """Compare each dumped result to its DuckDB oracle; return failures."""
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    bad = []
    for c in checks:
        try:
            sql = c["sql"]
            hcols = {r[0] for r in con.execute(f"DESCRIBE ({sql})").fetchall()
                     if "HUGEINT" in r[1].upper()}
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            res2 = con.execute(f"SELECT * FROM read_parquet('{c['dir']}/*.parquet')")
            scols = [d[0] for d in res2.description]
            srows = res2.fetchall()
            if sorted(ocols) != sorted(scols):
                bad.append(f"{c['name']}: columns differ")
            elif canon(orows, ocols, float_cols=frozenset(hcols)) != \
                    canon(srows, scols, spark_side=True):
                bad.append(f"{c['name']}: rows differ from oracle "
                           f"({len(orows)} oracle, {len(srows)} spark)")
        except Exception as e:  # noqa: BLE001 - any failure is a failed op
            bad.append(f"{c['name']}: oracle check error: {e}")
    con.close()
    return bad


# ------------------------------------------------------------ trace report

def trace_report(spans_path):
    """Self time per layer: a span's duration minus what its children cover."""
    spans = json.load(open(spans_path))
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(k["start_ns"], s["start_ns"]), min(k["end_ns"], s["end_ns"]))
                    for k in kids.get(s["id"], []))
        cov, cur_s, cur_e = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    cov += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            cov += cur_e - cur_s
        layer = s["name"].split(".")[0]
        out[layer] = out.get(layer, 0.0) + (s["end_ns"] - s["start_ns"] - cov) / 1e9
    return {k: round(v, 4) for k, v in sorted(out.items())}


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources next to {HERE} (need build.sbt and src/main/scala)")
    bench = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench):
        fail("BENCHMARK.json not found")
    spec = json.load(open(bench))

    cp = build()
    import fixture
    import tickgen

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("data", "tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    gen = jvm = None
    # a terminated launcher still stops what it started (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        tot0, steal0 = cpu_times()
        load0 = loadavg()
        jargs = ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--cores", str(a.cores), "--data", os.path.join(run_dir, "data"),
                 "--work", run_dir]
        if a.workload in FIXTURE_SCALE:
            fixture.write(os.path.join(run_dir, "data"), a.seed, FIXTURE_SCALE[a.workload])
        if a.workload == "tick_pipeline":
            gen, gen_args = tickgen.launch(run_dir, a.seed, a.seconds)
            jargs += gen_args
        cmd = ["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={run_dir}/tmp",
                                      "-cp", cp, "perfbench.Main"] + jargs
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            jvm = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                   stdin=subprocess.DEVNULL)
            try:
                jvm.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        gen_stats = tickgen.stop(gen, run_dir) if gen else {}
        gen = None
        tot1, steal1 = cpu_times()
        res_path = os.path.join(run_dir, "result.json")
        if not os.path.exists(res_path):
            sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
            fail(f"the benchmark JVM wrote no result (exit {jvm.returncode})")
        res = json.load(open(res_path))
        errors = list(res["errors"])
        attempted, failed = res["attempted"], res["failed"]
        if res["oracle_checks"]:
            bad = oracle_check(os.path.join(run_dir, "data"), res["oracle_checks"])
            attempted += len(res["oracle_checks"])
            failed += len(bad)
            errors += bad
        if jvm.returncode != 0:
            failed += 1
            attempted = max(attempted, failed)
            errors.append(f"benchmark JVM exit code {jvm.returncode}")

        layers = dict(res["detail"], **res["layers"])
        layers.update(gen_stats)
        layers["host.steal_share"] = (steal1 - steal0) / max(1, tot1 - tot0)
        layers["host.loadavg_start"] = load0
        detail = {"workload": a.workload, "seed": a.seed, "cores": a.cores,
                  "seconds": a.seconds, "trace": a.trace, "nproc": os.cpu_count(),
                  "host.steal_share": layers["host.steal_share"],
                  "host.loadavg_start": load0, **res["detail"]}
        spans = os.path.join(run_dir, "spans.json")
        if a.trace and os.path.exists(spans):
            detail["self_s_per_layer"] = trace_report(spans)
            keep = os.path.join(WORK, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(spans, os.path.join(keep, f"{a.workload}-seed{a.seed}.spans.json"))

        metrics = {}
        if a.trace:
            for m in spec["per_layer"]:
                v = layers.get(m["name"], 0.0)
                metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
        else:
            for m in spec["end_to_end"]:
                v = res["e2e"].get(m["name"])
                if v is None:
                    failed += 1
                    attempted = max(attempted, failed)
                    errors.append(f"metric {m['name']} not measured")
                    v = 0.0
                metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        detail["layers"] = {k: v for k, v in sorted(layers.items()) if isinstance(v, (int, float))}
        detail["errors"] = errors[:20]
        print(json.dumps(detail))
        print(json.dumps({"correct": failed == 0, "attempted": max(1, attempted),
                          "failed": failed, "metrics": metrics}))
    finally:
        if jvm and jvm.poll() is None:
            jvm.kill()
            jvm.wait()
        if gen:
            tickgen.stop(gen, run_dir)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
