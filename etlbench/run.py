#!/usr/bin/env python3
"""The repository's benchmark: one closed-loop workload per call.

    python3 etlbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first call builds the program and the
harness from source with sbt (etlbench/build.sbt); later calls reuse the
build while the sources are unchanged. Each call generates the workload's
inputs from the seed, runs the JVM harness (etlbench/src), checks every
output, prints a human-readable report and, as its last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones. See etlbench/README.md for what each workload and metric is.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".etlbench")
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")
STAMP = os.path.join(HERE, "target", "bench-build.sha256")

WORKLOADS = ["etl_full_jdbc", "curation_ops"]

# The queries of one curation_ops batch, in run order: one per operator
# family. d_dup_coverage is the dedup one because its memoized frame is why
# every batch starts cold.
CURATION_QUERIES = ["d_dup_coverage", "tx_pii_scrub", "sim_knn_brute", "mm_features"]

# One run must end within this many seconds once the build is done.
RUN_DEADLINE_S = 170
JVM_HEAP = "3g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(code)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_digest():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(r)
            for f in files if "target" not in os.path.relpath(d, r).split(os.sep))
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_checked(cmd, cwd, env, log_path, deadline_s):
    """Run cmd in its own process group; kill the group on timeout. Returns
    the exit code, or None on timeout."""
    with open(log_path, "ab") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline_s))
        except subprocess.TimeoutExpired:
            for sig in (signal.SIGTERM, signal.SIGKILL):
                try:
                    os.killpg(p.pid, sig)
                except ProcessLookupError:
                    break
                try:
                    p.wait(timeout=10)
                    break
                except subprocess.TimeoutExpired:
                    continue
            p.wait()
            return None


def cpu_times():
    """Aggregate (steal, total) CPU jiffies from /proc/stat; None elsewhere."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7], sum(fields)
    except (OSError, IndexError, ValueError):
        return None


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def build():
    """Compile the program and the harness with sbt unless the sources are
    unchanged since the last build in this checkout; return the classpath."""
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                with open(CLASSPATH) as c:
                    return [line.strip() for line in c if line.strip()]
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(STATE, "build.log")
    print("etlbench: building (sbt writeClasspath), log in .etlbench/build.log", file=sys.stderr)
    code = run_checked(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       HERE, env, log, 600)
    if code != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(tail(log))
        fail("build failed", 3)
    with open(STAMP, "w") as f:
        f.write(digest + "\n")
    with open(CLASSPATH) as c:
        return [line.strip() for line in c if line.strip()]


def canon(rel):
    """selfcheck.py's canonical form: columns sorted by name, rows by all
    columns."""
    df = rel.df()
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def oracle_check(data_dir, oracles, outputs):
    """Compare every curation output with its DuckDB oracle answer.
    Returns (attempted, failed, messages)."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS FROM '{data_dir}/{f}'")
    refs = {}
    attempted = failed = 0
    msgs = []
    for o in outputs:
        attempted += 1
        q = o["query"]
        try:
            if q not in refs:
                refs[q] = canon(con.sql(oracles[q]))
            ref = refs[q]
            mine = canon(con.sql(f"FROM '{o['dir']}/*.parquet'"))
            why = None
            if list(mine.columns) != list(ref.columns):
                why = f"columns {list(mine.columns)} vs {list(ref.columns)}"
            elif len(mine) != len(ref):
                why = f"rows {len(mine)} vs {len(ref)}"
            elif [str(t) for t in mine.dtypes] != [str(t) for t in ref.dtypes]:
                why = "column types differ"
            elif not mine.equals(ref):
                why = "values differ"
        except Exception as e:  # noqa: BLE001 - any oracle failure is a failed check
            why = f"{type(e).__name__}: {e}"
        if why:
            failed += 1
            msgs.append(f"{o['pass']} {q}: {why}")
    return attempted, failed, msgs


def etl_check(data_dir, outputs, failed_ops):
    """Compare every ETL destination with the bound source projection: per
    table, the row count and the sum of every row's hash over the registry
    columns (each cast to its declared type) must equal those of the input.
    Each destination belongs to an operation the harness already counted,
    so a mismatch only turns that operation into a failure. Returns
    (0, newly failed, messages)."""
    import duckdb
    with open(os.path.join(data_dir, "registry.json")) as f:
        registry = json.load(f)
    cast = {"INTEGER": "CAST({} AS BIGINT)", "FLOAT": "CAST({} AS DOUBLE)",
            "STRING": "CAST({} AS VARCHAR)", "TIMESTAMP": "epoch_us({})"}
    con = duckdb.connect()

    def fingerprint(t, source):
        cols = ", ".join(cast[c["type"]].format(c["name"]) for c in registry[t])
        return con.sql(f"SELECT count(*), coalesce(sum(hash({cols}))::HUGEINT, 0) "
                       f"FROM {source}").fetchone()

    expected = {}
    failed = 0
    msgs = []
    for o in outputs:
        bad = []
        for t in o["tables"]:
            if t not in expected:
                expected[t] = fingerprint(t, f"'{data_dir}/{t}.parquet'")
            got = fingerprint(
                t, f"read_parquet('{o['dest']}/{t}/**/*.parquet', hive_partitioning = true)")
            if got != expected[t]:
                bad.append(f"{t}: destination rows differ from the bound source projection")
        if bad:
            failed += o["op"] not in failed_ops
            failed_ops.add(o["op"])
            msgs.append(f"{o['op']}: {'; '.join(bad)}")
    return 0, failed, msgs


def percentile_line(name, unit, xs):
    """Median plus the highest percentile with at least ten samples beyond it."""
    n = len(xs)
    med = statistics.median(xs)
    line = f"  {name:<18} median {med:.4f} {unit}  (n={n}"
    if n >= 20:
        p = int(100 * (1 - 10 / n))
        k = min(n - 1, int(round(p / 100 * (n - 1))))
        line += f", p{p} {sorted(xs)[k]:.4f} {unit}"
    else:
        line += ", too few samples for a tail percentile"
    return line + ")"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["bench", "smoke"], default="bench",
                    help="input sizes; smoke is for the benchmark's own tests")
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program to benchmark: {need} is missing from {ROOT}")
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("BENCHMARK.json is missing")
    if shutil.which("java") is None:
        fail("java is not on PATH")
    with open(bench_file) as f:
        spec = json.load(f)
    os.makedirs(STATE, exist_ok=True)

    classpath = build()
    started = time.monotonic()

    sys.path.insert(0, HERE)
    import gen  # noqa: E402 - after the checkout checks, so a bare directory fails fast

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(STATE, "work", f"{tag}-{os.getpid()}")
    results = os.path.join(STATE, "results", tag)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(results, ignore_errors=True)
    data = os.path.join(work, "data")
    for d in (data, os.path.join(work, "tmp"), results):
        os.makedirs(d, exist_ok=True)
    try:
        rows = gen.generate(args.workload, args.seed, args.scale, data)
        plan = gen.plan(args.workload, args.seed, args.scale)
        if args.workload == "curation_ops":
            plan["queries"] = CURATION_QUERIES
        plan_file = os.path.join(work, "plan.json")
        with open(plan_file, "w") as f:
            json.dump(plan, f)

        out = os.path.join(results, "result.json")
        n = nproc()
        cmd = (["java", f"-Xmx{JVM_HEAP}"]
               + [f"--add-opens={p}=ALL-UNNAMED" for p in JDK17_OPENS]
               + ["-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
                  f"-Dderby.system.home={work}", "-cp", os.pathsep.join(classpath),
                  "etlbench.Main", "--workload", args.workload, "--data", data,
                  "--work", work, "--plan", plan_file, "--out", out,
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--nproc", str(n)])
        log = os.path.join(results, "jvm.log")
        cpu0 = cpu_times()
        code = run_checked(cmd, work, dict(os.environ), log,
                           RUN_DEADLINE_S - (time.monotonic() - started))
        if code != 0 or not os.path.exists(out):
            sys.stderr.write(tail(log))
            fail("harness timed out" if code is None else f"harness exited with {code}", 1)
        with open(out) as f:
            res = json.load(f)
        cpu1 = cpu_times()

        attempted, failed = res["attempted"], res["failed"]
        failures = list(res["failures"])
        if args.workload == "curation_ops":
            a, b, msgs = oracle_check(data, res["info"]["oracles"], res["info"]["outputs"])
        else:
            a, b, msgs = etl_check(data, res["info"]["outputs"], set(res["failed_ops"]))
        attempted, failed, failures = attempted + a, failed + b, failures + msgs
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # CPU time the hypervisor gave to other guests while the JVM ran: the
    # main source of run-to-run spread on a shared virtual machine
    steal = (round(100.0 * (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]), 1)
             if cpu0 and cpu1 else None)
    stamp = dict(res["stamp"], seed=args.seed, input_dir=os.path.relpath(data, ROOT),
                 input_rows=rows, workload=args.workload, trace=args.trace,
                 seconds=args.seconds, scale=args.scale, cpu_steal_pct=steal)
    print("stamp " + json.dumps(stamp, sort_keys=True))
    metrics = {}
    if args.trace == 0:
        print(f"end-to-end metrics ({args.workload}):")
        for m in spec["end_to_end"]:
            xs = res["samples"].get(m["name"], [])
            value = statistics.median(xs) if xs else 0.0
            metrics[m["name"]] = {"value": value, "unit": m["unit"]}
            print(percentile_line(m["name"], m["unit"], xs) if xs
                  else f"  {m['name']:<18} no samples")
        for name in ("setup_wall_s", "op_wall_s"):
            print(percentile_line(name, "s", res["samples"][name]) + " wall clock")
        print(f"  warmup_s           {res['info'].get('warmup_s', 0.0):.4f} s (one untimed operation)")
    else:
        print(f"per-layer metrics ({args.workload}, medians over traced operations):")
        for m in spec["per_layer"]:
            value = float(res["per_layer"].get(m["name"], 0.0))
            metrics[m["name"]] = {"value": value, "unit": m["unit"]}
            print(f"  {m['name']:<32} {value:.6g} {m['unit']}")
        print(f"  spans: {os.path.relpath(os.path.join(results, 'spans.jsonl'), ROOT)}")
    phases = " ".join(f"{k}={v:.1f}" for k, v in res["info"].get("phases_s", {}).items())
    print(f"run phases (s after session start {res['stamp']['session_start_s']:.1f}): {phases}; "
          f"total wall {time.monotonic() - started:.1f}")
    print(f"error_rate {failed / max(1, attempted):.6f} ({failed} failed of {attempted} operations)")
    for msg in failures[:20]:
        print(f"etlbench: FAILED {msg}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
