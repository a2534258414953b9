#!/usr/bin/env python3
"""graft benchmark: query_mix and ingest_mutate.

Usage (from the repository root):

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 12 --trace 0

Builds the library and the harness from this checkout's sources with sbt
(only when a source changed), starts the harness JVM directly (outside sbt,
so nothing is added to its output), checks query_mix outputs against
DuckDB, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Everything else the run measured
(medians, quartiles and sample counts, fail_ratio, per-kind latencies,
workload-specific layer numbers, steal-sentinel windows, spans) is on the
line before it and in perfbench/results/<workload>-seed<N>-trace<T>.json.

--smoke 1 runs the workload at sf0.001 with one set-up, for the test in
perfbench/test_smoke.py.
"""
import argparse
import glob
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
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("query_mix", "ingest_mutate")
RUN_LIMIT_S = 175

# Spark 4 on JDK 17 outside spark-submit (as in the repository's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


_children = []


def _stop_children(signum=None, frame=None):
    """Kill every process group this run started (sbt, the harness JVM)."""
    for proc in _children:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if signum is not None:
        sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; killed with it on timeout or
    when this script is stopped. Returns the exit code."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    _children.append(proc)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        _stop_children()
        raise RuntimeError(f"{cmd[0]} still running after {timeout:.0f} s")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_fingerprint():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(LIB_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(ROOT, "src", "main", "resources", "**"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for p in files:
        if os.path.isdir(p):
            continue
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def tool_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    if not env.get("SPARK_HOME"):
        submit = shutil.which("spark-submit")
        if submit:
            env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return env


def build(deadline):
    """Compile with sbt when the sources differ from the last build."""
    stamp = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    fp = source_fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == fp:
        return open(cp_file).read().strip(), False
    log("building library and harness with sbt")
    t0 = time.time()
    rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                   max(60, deadline - time.time()), cwd=HERE, env=tool_env())
    if rc != 0:
        raise RuntimeError(f"sbt build failed with code {rc}")
    log(f"build took {time.time() - t0:.1f} s")
    with open(stamp, "w") as f:
        f.write(fp)
    return open(cp_file).read().strip(), True


def run_jvm(classpath, args, work, out, timeout):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xmx3g", "-Xms3g", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--smoke", "1" if args.smoke else "0"]
    env = tool_env()
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")  # keep shuffle files in the checkout
    rc = run_child(cmd, timeout, cwd=ROOT, env=env)
    if rc != 0:
        raise RuntimeError(f"harness JVM exited with code {rc}")


def canon(df):
    """Order-free digest of a result: columns by name, floats to 6 digits
    (the rounding the oracle queries are written for), rows sorted."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and pd.isna(v)):
                vals.append("NULL")
            elif isinstance(v, float):
                vals.append(f"{v:.6g}")
            elif hasattr(v, "item") and not isinstance(v, (list, tuple)):
                x = v.item()
                vals.append(f"{x:.6g}" if isinstance(x, float) else str(x))
            else:
                vals.append(str(v))
        rows.append("|".join(vals))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest(), len(rows)


def oracle_check(oracle):
    """Entry -> reason, for query_mix outputs that differ from DuckDB."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in oracle["tables"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{oracle['data_dir']}/{t}.parquet/*.parquet')")
    wrong = {}
    for name, sql in sorted(oracle["sql"].items()):
        files = glob.glob(f"{oracle['output_dir']}/{name}/*.parquet")
        if not files:
            wrong[name] = "no output written"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        want = con.execute(sql).fetchdf()
        (gh, gn), (wh, wn) = canon(got), canon(want)
        if gh != wh:
            wrong[name] = f"differs from the DuckDB oracle ({gn} rows, oracle {wn})"
    return wrong


def quantile(xs, q):
    """Linear-interpolated quantile, as the harness computes it."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def fail_kinds(report, wrong):
    """Count every op of a kind whose output the oracle found wrong as
    failed, and take those ops out of the throughput and latencies."""
    for op in report["ops"]:
        if op["kind"] in wrong:
            op["ok"] = False
    ok = [op["s"] for op in report["ops"] if op["ok"]]
    e2e = report["end_to_end"]
    report["failed"] = report["attempted"] - len(ok)
    report["failures"].update({k: v for k, v in wrong.items() if k not in report["failures"]})
    e2e["fail_ratio"]["value"] = report["failed"] / report["attempted"]
    e2e["ops_per_s"]["value"] = len(ok) / sum(op["s"] for op in report["ops"])
    summary = {"median": quantile(ok, 0.5), "p25": quantile(ok, 0.25),
               "p75": quantile(ok, 0.75), "n": len(ok)} if ok else None
    for name, q in (("latency_p50_s", 0.5), ("latency_p90_s", 0.9)):
        e2e[name]["value"] = quantile(ok, q) if ok else float("nan")
        e2e[name]["summary"] = summary


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)

    if not os.path.isdir(LIB_SRC):
        log(f"no library sources at {os.path.relpath(LIB_SRC, ROOT)}: run from a full checkout")
        return 2
    bench = spec()

    classpath, built = build(start + 900)
    # a run that had to build gets its full time limit after the build
    deadline = (time.time() if built else start) + RUN_LIMIT_S
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)  # every run starts cold
    os.makedirs(work)
    out = os.path.join(work, "report.json")
    run_jvm(classpath, args, work, out, deadline - time.time())
    with open(out) as f:
        report = json.load(f)

    if report["oracle"]:
        wrong = oracle_check(report["oracle"])
        if wrong:
            fail_kinds(report, wrong)
    attempted, failed = report["attempted"], report["failed"]
    correct = failed == 0

    if args.trace:
        source = report["traced"]["per_layer"]
        names = [m["name"] for m in bench["per_layer"]]
    else:
        source = report["end_to_end"]
        names = [m["name"] for m in bench["end_to_end"]]
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    metrics = {}
    for n in names:
        m = source[n]
        if m["unit"] != units[n]:
            raise RuntimeError(f"{n}: harness unit {m['unit']} != BENCHMARK.json unit {units[n]}")
        metrics[n] = {"value": m["value"], "unit": m["unit"]}

    report.pop("oracle", None)
    results = os.path.join(HERE, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(results), exist_ok=True)
    with open(results, "w") as f:
        json.dump(report, f)
    shutil.rmtree(work, ignore_errors=True)
    detail = {k: report[k] for k in ("workload", "seed", "attempted", "failed", "failures",
                                      "end_to_end", "per_kind", "setup", "phase_wall_s")}
    if args.trace:
        detail["per_layer"] = report["traced"]["per_layer"]
        detail["workload_layer"] = report["traced"]["workload_layer"]
        detail["traced_ops_per_s"] = report["traced"]["traced_ops_per_s"]
        detail["untraced_ops_per_s"] = report["traced"]["untraced_ops_per_s"]
    detail["results_file"] = os.path.relpath(results, ROOT)
    print(json.dumps(detail))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
