#!/usr/bin/env python3
"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <flagship|curation> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark's JVM side from source (once per
checkout), makes the inputs from the seed, runs the workload in one JVM
with `local[nproc]`, checks every output, and prints as its last line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones.
See perfbench/README.md for what each workload and metric means.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

# Run sizes. `tiny` is the smoke test's size. `tables` names the copy of
# the reference query tables (documents, embeddings) under perfbench/data.
SIZES = {
    "full": {"docs": 20_000, "tables": "sf0.1"},
    "tiny": {"docs": 5_000, "tables": "sf0.001"},
}
WORKLOADS = ("flagship", "curation")
JVM_DEADLINE_S = 170

# Spark 4 on JDK 17 needs these opens when the session is created outside
# spark-submit (same list as org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

END_TO_END = [("setup_s", "s"), ("cpu_p50_norm_ms", "ms"), ("retained_heap_mb", "MB")]

# Per-thread CPU ms of one calibration sample (graftbench.Calibration) on the
# 4 vCPU host the benchmark was defined on. CPU figures are scaled by this
# over the run's median, so they read in CPU time at that host's speed.
CALIBRATION_REF_MS = 110.0


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def heap_gb(mem_kb):
    """Half the host's memory, clamped to 2..8 GiB (the Tier-1 rule)."""
    return max(2, min(8, mem_kb // 2097152))


def jvm_flags(heap, work):
    # The initial heap, a quarter of the maximum, is faulted in at start
    # (-XX:+AlwaysPreTouch), so requests don't pay page faults on fresh heap
    # as G1 grows it; pre-touching the whole maximum would commit it all on
    # a shared host. G1 (the JDK default) is named so a JDK change can't
    # switch collectors under the benchmark. -XX:-UsePerfData keeps the JVM
    # from writing its perf-data file outside the checkout.
    return ([f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
            [f"-Xmx{heap}g", f"-Xms{heap * 256}m", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
             "-Xss8m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"])


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("SPARK_HOME is not set and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def source_sha():
    """The commit when the checkout is a git tree, else a hash of the sources."""
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "--short=12", "HEAD"],
                              capture_output=True, text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        h = hashlib.sha256()
        for p in sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)):
            with open(p, "rb") as f:
                h.update(f.read())
        return "src-" + h.hexdigest()[:12]


def quantile(xs, q):
    """Linear-interpolated quantile (q in 0..1)."""
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_q(n):
    """Highest of p99/p95/p90/p75 that has at least ten samples beyond it,
    else p50."""
    for q in (0.99, 0.95, 0.9, 0.75, 0.5):
        if n * (1 - q) >= 10:
            return q
    return 0.5


def tables_key(data):
    """Hash of the query tables' bytes."""
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        with open(p, "rb") as f:
            h.update(os.path.basename(p).encode() + b"\0" + f.read())
    return h.hexdigest()


def oracle_rows(con, sql, cache_dir, tables_key):
    """Canonical DuckDB result of one oracle query. The tables are fixed, so
    the result is cached per (oracle SQL, tables, DuckDB version): some
    oracles take tens of seconds, and a run must stay within its budget."""
    import duckdb
    key = hashlib.sha256("\0".join([sql, tables_key, duckdb.__version__]).encode()).hexdigest()
    path = os.path.join(cache_dir, key[:32] + ".pickle")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    import check_oracles as co
    exp = con.execute(sql).fetchall()
    rows = co.canon(exp, [d[0] for d in con.description])
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(rows, f)
    os.replace(path + ".tmp", path)
    return rows


def check_oracles(result, work, data, cache_dir, tables_key):
    """Names of queries whose first result differs from its DuckDB oracle."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import check_oracles as co
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = {}
    for name, sql in sorted(result["oracle_sql"].items()):
        pdir = os.path.join(work, "results", name)
        if not glob.glob(os.path.join(pdir, "*.parquet")):
            bad[name] = "no result"
            continue
        try:
            got = con.execute(f"SELECT * FROM '{pdir}/*.parquet'").fetchall()
            gcols = [d[0] for d in con.description]
            tbad, _ = co.type_audit(con, name, sql, pdir)
            exp = oracle_rows(con, sql, cache_dir, tables_key)
        except Exception as e:  # noqa: BLE001 - any oracle error fails the query
            bad[name] = f"error {e}"
            continue
        if tbad:
            bad[name] = "types " + "; ".join(tbad)
        elif co.canon(got, gcols) != exp:
            bad[name] = f"values ({len(got)} rows vs {len(exp[1])})"
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--inject-wrong", action="store_true",
                    help="corrupt the results, to show the checks catch it")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}/src/main/scala")
    build = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "graftbench")
    home = spark_home()
    env = dict(os.environ, SPARK_HOME=home)
    subprocess.run(["bash", os.path.join(HERE, "build.sh"), build], check=True, env=env,
                   stdout=sys.stderr)

    size = SIZES[args.size]
    cores = nproc()
    mem_kb = mem_total_kb()
    heap = heap_gb(mem_kb)
    work = os.path.join(build, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = os.path.join(HERE, "data", size["tables"])
    try:
        cmd = ["java"] + jvm_flags(heap, work) + [
            "-cp", os.path.join(build, "classes") + os.pathsep + os.path.join(home, "jars", "*"),
            "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(cores),
            "--work", work, "--docs", str(size["docs"]), "--data", data,
            "--inject-wrong", "1" if args.inject_wrong else "0"]
        log_path = os.path.join(work, "jvm.log")
        with open(log_path, "w") as log:
            t_jvm = time.time()
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                rc = proc.wait(timeout=JVM_DEADLINE_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"benchmark JVM failed ({rc})")
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
        t_oracle = time.time()
        jvm_s = t_oracle - t_jvm
        bad = {}
        if "oracle_sql" in result:
            bad = check_oracles(result, work, data, os.path.join(build, "oracle-cache"),
                                tables_key(data))
        oracle_s = time.time() - t_oracle
        if result.get("layers") is not None:
            traces = os.path.join(build, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(traces, f"{args.workload}-seed{args.seed}-spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # Warm-up requests count as attempted, and fail the same way; the
    # timings come from the timed requests alone.
    warm, ops = result["warmup_ops"], result["ops"]
    for op in warm + ops:
        op["ok"] = op["ok"] and op["name"] not in bad
    good = [op for op in ops if op["ok"]]
    attempted = len(warm) + len(ops)
    failed = attempted - len(good) - sum(op["ok"] for op in warm)
    lat = [op["ms"] for op in good]
    # The host's speed in this run: the median calibration sample against
    # the reference. A co-tenant that slows the same instructions by a
    # third raises both the requests' CPU time and the calibration's.
    # The traced flagship run takes no samples; it prints no end-to-end metric.
    calibration = result.get("calibration_ms", [])
    speed = CALIBRATION_REF_MS / (statistics.median(calibration) / cores) if calibration else 1.0
    # Set-up is counted in CPU seconds of the whole JVM: session start,
    # the median of the input set-ups, and the warm-up.
    setup_cpu_s = (result["session_cpu_s"] + statistics.median(result["materialize_cpu_s"]) +
                   result["warmup_cpu_s"])
    setup_wall_s = (result["session_s"] + statistics.median(result["materialize_s"]) +
                    result["warmup_s"])
    q = tail_q(len(lat))
    p50_ms = statistics.median(lat) if lat else 0.0
    # The unit of work: one Pipeline.run (flagship), or one whole pass of
    # the queries (curation), so that every query moves the figure. A pass
    # with a failed request has no CPU figure.
    cpu_by_unit = {}
    for op in ops:
        cpu_by_unit.setdefault(op["pass"], []).append(op)
    unit_cpu = [sum(op["cpu_ms"] for op in u) for u in cpu_by_unit.values()
                if all(op["ok"] for op in u)]
    cpu_p50_ms = statistics.median(unit_cpu) if unit_cpu else 0.0
    e2e = {
        "setup_s": setup_cpu_s * speed,
        "cpu_p50_norm_ms": cpu_p50_ms * speed,
        "retained_heap_mb": result["retained_heap_mb"],
    }
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "nproc": cores, "mem_total_kb": mem_kb,
        "heap_gb": heap, "jdk": result["jdk"], "spark": result["spark_version"],
        "commit": source_sha(), "inputs": result["inputs"],
        "steal_pct": result.get("steal_pct", (result.get("layers") or {}).get("steal_pct")),
    }
    named = {
        "p50_ms": p50_ms,
        "cpu_p50_ms": cpu_p50_ms,
        "setup_cpu_total_s": setup_cpu_s,
        "host_speed": speed,
        "calibration_ms": [round(x, 1) for x in calibration],
        "failed_ratio": failed / attempted if attempted else 1.0,
        "failed_ratio_base": attempted,
        f"tail_p{round(q * 100)}_ms": quantile(lat, q) if lat else 0.0,
        "samples": len(lat),
        "samples_ms": [round(x, 1) for x in lat],
        "cpu_ms": [round(op["cpu_ms"], 1) for op in good],
        "unit_cpu_ms": [round(x, 1) for x in unit_cpu],
        "setup_wall_s": setup_wall_s,
        "jvm_s": jvm_s,
        "loop_s": result.get("loop_s"),
        "codegen_compiles_timed": result.get("codegen_compiles_timed"),
        "oracle_check_s": oracle_s,
        "warmup_s": result["warmup_s"],
        "warmup_each_s": [op.get("ms", 0.0) / 1e3 for op in result["warmup_ops"]],
        "materialize_s": result["materialize_s"],
        "setup_cpu_s": {k: result[k] for k in ("session_cpu_s", "materialize_cpu_s",
                                               "warmup_cpu_s")},
    }
    if args.workload == "flagship":
        named["flagship.docs_per_s"] = size["docs"] / (p50_ms / 1e3) if lat else 0.0
        named["flagship.sink_bytes_per_doc"] = statistics.median(result["sink_bytes_per_doc"])
        named["check_s"] = result["check_s"]
        named["reforacle_s"] = result["oracle_s"]
    else:
        named["curation.batch_s"] = statistics.median(result["passes_s"])
        named["curation.requests_per_s"] = len(good) / result["loop_s"]
        named["cache_entries_left"] = result["cache_entries_left"]
    by_name = {}
    for op in good:
        by_name.setdefault(op["name"], []).append(op["ms"])
    named["request_p50_ms"] = {k: round(statistics.median(v), 1) for k, v in sorted(by_name.items())}
    cpu_by_name = {}
    for op in good:
        cpu_by_name.setdefault(op["name"], []).append(round(op["cpu_ms"], 1))
    named["request_cpu_ms"] = dict(sorted(cpu_by_name.items()))
    problems = {"oracle": bad, "errors": result["errors"]}
    print(json.dumps({"stamp": stamp, "named": named, "problems": problems}))

    if args.trace:
        units = layer_units()
        got = {"steal_pct": result.get("steal_pct", 0.0), **(result.get("layers") or {})}
        # every per-layer metric prints; a layer the workload does not run reads 0
        metrics = {k: {"value": float(got.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        units = dict(END_TO_END)
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0 and not bad, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    main()
