#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one run.

    python3 repobench/run.py --workload etl_fanout --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles `src/main/scala`
together with the harness in `repobench/src` into `.bench_build/`. Each
run starts one JVM (Spark `local[nproc]`), sets up, warms up, times
passes for `--seconds`, checks the outputs and prints, as its last line,
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
of BENCHMARK.json with `--trace 0`, its per-layer metrics with
`--trace 1`. The line before it holds the details (every pass, the
quartiles, each check, the session confs and the load average).
See repobench/README.md.
"""
import argparse
import datetime
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# q_loops: graded queries whose cost is their iterative operators
QUERIES = ["s_dbscan"]

WORKLOADS = {
    "etl_fanout": {"rows": 10_000, "warmup": 3, "min_passes": 5},
    "etl_ingest": {"rows": 50_000, "warmup": 3, "staging_reps": 3, "min_passes": 6},
    "q_loops": {"warmup": 3, "staging_reps": 3, "min_passes": 3,
                "tables": dict(n_emb=500, n_sup=100, n_orders=15_000,
                               n_parts=2_000, n_lines=60_000,
                               n_events=10_000, n_users=150, n_keys=100)},
}

JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[repobench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def spark_jars(root):
    """The jars the sbt build compiles against (its `unmanagedBase`), else $SPARK_HOME/jars."""
    dirs = []
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        pass
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in dirs:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if jars:
            return jars
    fail("no Spark jars: neither build.sbt's unmanagedBase nor $SPARK_HOME/jars holds any")


def build(root, jars):
    """Compile the program and the harness; reuse a build of identical sources."""
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        fail("src/main/scala holds no sources: run from the repository root")
    srcs += sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(os.path.relpath(p, root).encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    base = os.path.join(root, ".bench_build")
    out = os.path.join(base, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(base, exist_ok=True)
    for old in glob.glob(os.path.join(base, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(base, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    cp = os.pathsep.join(jars)
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    os.rename(tmp, out)
    log(f"compiled in {time.time() - t0:.1f} s")
    return out


def heap_size():
    """The tier-1 formula: half the machine's memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def stage_tables(work, spec, reps):
    """Write the q_loops tables `reps` times; returns (dir, seconds per rep)."""
    import qdata
    times, out = [], None
    for k in range(reps):
        d = os.path.join(work, f"data{k}")
        t0 = time.perf_counter()
        qdata.write(d, **spec)
        times.append(time.perf_counter() - t0)
        if out:
            shutil.rmtree(out)
        out = d
    return out, times


def oracle_checks(data, work):
    """Each query's rows against its DuckDB oracle, as tools/check_oracle.py compares them."""
    import duckdb
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        t = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracles = json.load(f)
    checks = []
    for name in QUERIES:
        ok, detail = False, ""
        try:
            got = con.sql(f"SELECT * FROM '{work}/qout/{name}/*.parquet'").df()
            exp = con.sql(oracles[name]).df()
            gc, ec = sorted(got.columns), sorted(exp.columns)
            kind = lambda dt: {"u": "i"}.get(dt.kind, dt.kind)
            if gc != ec:
                detail = f"columns {gc} != {ec}"
            elif [kind(got[c].dtype) for c in gc] != [kind(exp[c].dtype) for c in gc]:
                detail = "dtype classes differ"
            elif len(got) != len(exp):
                detail = f"rows {len(got)} != {len(exp)}"
            else:
                bad = sum(1 for c in gc for a, b in zip(got[c], exp[c]) if not same(a, b))
                ok, detail = bad == 0, f"{len(got)} rows, {bad} mismatched cells"
        except Exception as e:  # a query without output or a failing oracle is a failed check
            detail = f"{type(e).__name__}: {e}"[:300]
        checks.append({"name": f"oracle {name}", "ok": ok, "detail": detail})
    return checks


def same(a, b):
    def norm(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        if isinstance(v, datetime.datetime):
            return v.replace(tzinfo=None).isoformat()
        if isinstance(v, datetime.date):
            return v.isoformat()
        if hasattr(v, "item"):
            return v.item()
        return v
    a, b = norm(a), norm(b)
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return float(a) == float(b)
    return a == b


def quartiles(xs):
    if len(xs) < 2:
        return [xs[0], xs[0], xs[0]] if xs else []
    q = statistics.quantiles(xs, n=4)
    return [q[0], statistics.median(xs), q[2]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wl = WORKLOADS[a.workload]
    jars = spark_jars(root)
    classes = build(root, jars)

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".bench_build", "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))

    staging = []
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--cpus", str(cpus),
            "--warmup", str(wl["warmup"]), "--min-passes", str(wl["min_passes"]),
            "--staging-reps", str(wl.get("staging_reps", 1)),
            "--out", os.path.join(work, "result.json")]
    if "rows" in wl:
        args += ["--rows", str(wl["rows"])]
    data = None
    if a.workload == "q_loops":
        data, staging = stage_tables(work, wl["tables"], wl["staging_reps"])
        args += ["--data", data, "--queries", ",".join(QUERIES)]

    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xmx{heap_size()}", "-Xmn384m", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
           f"-Dderby.stream.error.file={work}/derby.log",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           "-cp", os.pathsep.join([classes, *jars]), "repobench.Main", *args]
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work,
                                env={**os.environ, "MALLOC_ARENA_MAX": "2"})

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=max(10, JVM_TIMEOUT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM timed out; see {jvm_log}")
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        with open(jvm_log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    checks = list(res["checks"])
    if a.workload == "q_loops":
        checks += oracle_checks(data, work)
    attempted = res["attempted"] + (len(checks) - len(res["checks"]))
    failed = res["failed"] + sum(1 for c in checks[len(res["checks"]):] if not c["ok"])

    passes = res["passes"]
    wall = statistics.median(passes) if passes else float("nan")
    staging_s = statistics.median(staging or res["staging_s"] or [0.0])
    values = {
        "wall_s": wall,
        "rows_per_s": res["result_rows"] / wall if passes else float("nan"),
        "output_mb": statistics.median(res["output_bytes"]) / 1e6 if res["output_bytes"] else float("nan"),
        "peak_rss_mb": res["peak_rss_mb"],
        "setup_s": res["session_s"] + staging_s + res["warmup_s"],
    }
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    source = res["layers"] if a.trace else values
    metrics = {}
    for m in wanted:
        # a layer the workload does not run is absent and reads 0
        v = source.get(m["name"], 0.0)
        if v is None or math.isnan(v):
            checks.append({"name": f"{m['name']} measured", "ok": False, "detail": "no value"})
            attempted += 1
            failed += 1
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "passes": passes, "wall_quartiles_s": quartiles(passes), "samples": len(passes),
        "traced_passes": res["traced_walls"],
        "setup": {"session_s": res["session_s"], "staging_s": staging or res["staging_s"],
                  "warmup_s": res["warmup_s"], "warmup_walls": res["warmup_walls"],
                  "checks_s": res["checks_s"]},
        "checks": checks, "failures": res["failures"], "context": res["context"],
    }
    results = os.path.join(root, ".bench_build", "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({"detail": detail, "layers": res["layers"], "metrics": metrics}, f, indent=1)
    if os.path.exists(os.path.join(work, "spans.jsonl")):
        shutil.copy(os.path.join(work, "spans.jsonl"), stem + ".spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
