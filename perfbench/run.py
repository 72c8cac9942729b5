#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the harness (perfbench/build.sbt,
which compiles graft from ../src) when its sources changed, runs one
JVM on all visible cores, checks the outputs that run kept, and prints
one JSON line last: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. See perfbench/README.md.

--perturb corrupts one kept output before the check, to show that the
check counts it in wrong_results.
"""
import argparse
import csv
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
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("m5_dag", "iterative")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# Workload-specific names of the end-to-end metrics, printed beside the
# uniform names for readers of the log.
ALIASES = {
    "m5_dag": {"pass_s": "dag_s"},
    "iterative": {"pass_s": "sweep_s", "op_geomean_s": "query_geomean_s"},
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles graft and the harness with sbt, offline; returns the
    runtime classpath. Skipped when the sources are unchanged."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={BUILD}/tmp"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    with open(os.path.join(BUILD, "build.log")) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and "scala-2.13/classes" in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return cps[-1]


def run_jvm(cp, args, work, cores):
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed heap layout: G1's adaptive sizing made memory and set-up
    # readings wander between identical runs
    cmd += ["-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn1g"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--cores", str(cores)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    return rc


# ── correctness ──────────────────────────────────────────────────────

def render(df):
    """Rows as the oracle gate renders them: pandas repr per cell."""
    return [tuple("NULL" if v is None or (isinstance(v, float) and v != v) else str(v)
                  for v in row) for row in df.itertuples(index=False, name=None)]


def check_board(checks):
    """Each kept query output against its DuckDB twin, columns sorted by
    name; returns the names that differ."""
    import duckdb
    con = duckdb.connect()
    tables = checks["tables"]
    for name in sorted(os.listdir(tables)):
        view = name[:-len(".parquet")]
        con.execute(f"CREATE VIEW {view} AS SELECT * FROM "
                    f"read_parquet('{tables}/{name}/*.parquet')")
    wrong = []
    for q, c in sorted(checks["queries"].items()):
        try:
            s = con.execute(f"SELECT * FROM read_parquet('{c['output']}/*.parquet')").df()
            if c["oracle"] is None:
                ok = len(s) > 0
            else:
                o = con.execute(c["oracle"]).df()
                s, o = s[sorted(s.columns)], o[sorted(o.columns)]
                ok = list(s.columns) == list(o.columns) and render(s) == render(o)
        except Exception as e:  # missing or unreadable output
            log(f"{q}: {e}")
            ok = False
        if not ok:
            log(f"{q}: output differs from its oracle")
            wrong.append(q)
    return wrong


def read_csv(path):
    with open(path, newline="") as f:
        rows = list(csv.reader(f))
    return rows[0], rows[1:]


def check_m5(checks):
    """Each DAG run's submission against the sample it updates; returns
    the output dirs that fail."""
    import pyarrow.parquet as pq
    _, sample = read_csv(os.path.join(checks["input"], "sample_submission.csv"))
    sample_by_id = {r[0]: r[1:] for r in sample}
    wrong = []
    for run in checks["runs"]:
        out = run["output"]
        problems = []
        try:
            header, rows = read_csv(os.path.join(out, "submission.csv"))
            if header != ["id"] + [f"F{k}" for k in range(1, 29)]:
                problems.append("header")
            if sorted(r[0] for r in rows) != sorted(sample_by_id):
                problems.append("ids differ from sample_submission")
            predicted = 0
            for r in rows:
                vals = [float(v) if v != "" else float("nan") for v in r[1:]]
                if r[0].endswith("_evaluation"):
                    if not all(math.isfinite(v) and v >= 0 for v in vals):
                        problems.append(f"{r[0]}: non-finite or negative forecast")
                    predicted += sum(1 for v in vals if v > 0)
                elif [float(v) for v in sample_by_id.get(r[0], [])] != vals:
                    problems.append(f"{r[0]}: validation row changed")
            if predicted != checks["predictions_expected"]:
                problems.append(f"{predicted} forecasts, expected {checks['predictions_expected']}")
            n = pq.read_table(os.path.join(out, "predictions.parquet")).num_rows
            if n != checks["predictions_expected"]:
                problems.append(f"predictions.parquet has {n} rows")
            if run["tasks_ran"] != checks["tasks_expected"]:
                problems.append(f"{run['tasks_ran']} tasks ran, graph has {checks['tasks_expected']}")
        except Exception as e:
            problems.append(str(e))
        if problems:
            log(f"{out}: " + "; ".join(problems[:5]))
            wrong.append(out)
    return wrong


def perturb(checks):
    """Corrupts one kept output in place."""
    if checks["kind"] == "board":
        import duckdb
        q, c = sorted(checks["queries"].items())[0]
        src = f"{c['output']}/*.parquet"
        tmp = c["output"] + ".perturbed.parquet"
        duckdb.execute(f"COPY (SELECT * FROM read_parquet('{src}') OFFSET 1) TO '{tmp}' (FORMAT parquet)")
        shutil.rmtree(c["output"])
        os.makedirs(c["output"])
        os.replace(tmp, os.path.join(c["output"], "part-0.parquet"))
        log(f"perturbed {q}: dropped its first row")
    else:
        path = os.path.join(checks["runs"][0]["output"], "submission.csv")
        header, rows = read_csv(path)
        victim = next(r for r in rows if r[0].endswith("_validation"))
        victim[1] = "1.0"
        with open(path, "w", newline="") as f:
            csv.writer(f, lineterminator="\n").writerows([header] + rows)
        log(f"perturbed {path}: changed {victim[0]} F1")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", action="store_true")
    args = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit(f"no graft sources next to {HERE}: run from a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        raise SystemExit("java and sbt must be on PATH")

    cp = build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    rc = run_jvm(cp, args, work, cores)
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        raise SystemExit(f"benchmark JVM exited {rc} after {time.time() - t0:.0f} s")
    with open(result_path) as f:
        res = json.load(f)
    log(f"JVM finished in {time.time() - t0:.1f} s ({res['passes']} timed passes, {cores} cores)")

    checks = res["checks"]
    if args.perturb:
        perturb(checks)
    wrong = check_board(checks) if checks["kind"] == "board" else check_m5(checks)
    attempted, failed = res["attempted"], res["failed"]
    for name, m in res["metrics"].items():
        alias = ALIASES[args.workload].get(name)
        print(f"{name:32s} {m['value']:.6g} {m['unit']}" + (f"  ({alias})" if alias else ""))
    print(f"{'wrong_results':32s} {len(wrong)} count")
    print(f"{'failed_frac':32s} {failed / max(attempted, 1):.6g} ratio")
    print(json.dumps({
        "correct": not wrong and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": res["metrics"],
    }))
    # keep the JVM log of the last run, drop its inputs and outputs
    os.replace(os.path.join(work, "jvm.log"), work + ".log")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
