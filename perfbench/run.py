#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the loan pipeline and the curation
registry (see perfbench/README.md).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program from source (see
build.py), runs one workload in one JVM with its own scratch directory
under `.bench_work/`, checks every registry result against its DuckDB
oracle, and prints as its last line one JSON object:
`{"correct", "attempted", "failed", "metrics"}` — the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. The line
before it carries the run's detail (headline metrics by their own names,
input summary, checks, effective session confs). Traced runs also keep
their spans and per-layer figures in `.bench_out/`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("loan_train_score", "curation_ingest", "neardup_pairs", "relational_scan")
JVM_TIMEOUT_S = 170
# The JVM options build.sbt gives the program's own runs (javaOptions).
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
JAVA_OPTS = [o for p in ADD_OPENS for o in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Xmx3g",
    "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=100"]


def oracle_checks(dumps):
    """Compare each dumped registry result with its DuckDB oracle in the
    canonical form of tools/local_verify.py; return (name, ok, detail)."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from local_verify import canon

    results = []
    for d in dumps:
        con = duckdb.connect()
        try:
            for t in sorted(os.listdir(d["tables_dir"])):
                if t.endswith(".parquet"):
                    con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                                f"read_parquet('{d['tables_dir']}/{t}/*.parquet')")
            got = con.execute(f"SELECT * FROM read_parquet('{d['dir']}/*.parquet')")
            gc, gr = canon(got.fetchall(), [c[0] for c in got.description])
            exp = con.execute(d["sql"])
            ec, er = canon(exp.fetchall(), [c[0] for c in exp.description])
        except Exception as e:  # an oracle that cannot run is a failed check
            results.append((d["query"], False, f"error: {e}"[:500]))
            continue
        finally:
            con.close()
        if gc != ec:
            results.append((d["query"], False, f"columns {gc} != {ec}"))
        elif gr != er:
            results.append((d["query"], False, f"{len(gr)} rows differ from {len(er)} oracle rows"))
        else:
            results.append((d["query"], True, f"{len(gr)} rows match"))
    return results


def run_jvm(classpath, args, work):
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_GRAFT_REPO_ROOT=ROOT,
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    out = os.path.join(work, "result.json")
    cmd = (["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
            "graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.isfile(out):
        tail = open(log_path, errors="replace").read()[-3000:]
        sys.exit(f"benchmark JVM failed ({code}); log tail:\n{tail}")
    return json.load(open(out))


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        sys.exit(f"build: {e}")
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        res = run_jvm(classpath, args, work)
        checks = [(c["name"], c["ok"], c["detail"]) for c in res["detail"]["checks"]]
        checks += oracle_checks(res["dumps"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = res["attempted"] + len(res["dumps"])
    failed = res["failed"] + sum(1 for _, ok, _ in checks[len(res["detail"]["checks"]):] if not ok)
    detail = res["detail"]
    detail["checks"] = [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks]
    detail["metrics"]["fail_ratio"] = failed / attempted
    metrics = res["per_layer"] if args.trace else res["end_to_end"]
    if args.trace:
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json"), "w") as f:
            json.dump({"detail": detail, "per_layer": res["per_layer"],
                       "end_to_end": res["end_to_end"], "spans": res["spans"]}, f, indent=1)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0 and all(ok for _, ok, _ in checks),
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
