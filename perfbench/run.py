#!/usr/bin/env python3
"""graft benchmark: one fresh-JVM run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
harness from source with sbt (offline); later runs reuse the build while
the sources are unchanged. Each run then:

1. generates the input tables from the seed (datagen.py);
2. starts one JVM on local[nproc] that sets up, checks and times the
   workload (src/main/scala/graftbench/Harness.scala);
3. compares every call's output with its DuckDB oracle, using the
   normalisation in tools/check.py;
4. prints a readable summary and, as the last line, one JSON object with
   `correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics
   with --trace 0, the per-layer metrics with --trace 1).

Everything a run writes stays under perfbench/.work/ and perfbench/target/,
plus the root build's target/ directories. See perfbench/DESIGN.md.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")
STAMP = os.path.join(HERE, "target", "bench-build.sha256")
ORACLES = os.path.join(HERE, "target", "oracles.json")
FIXTURE_REF = re.compile(r"__GRAFT_FIXTURE:([a-z0-9_]+)__")

# Input scale per workload (1.0 = 6M lineitem rows), an optional document
# count and, for the pipeline, how many files (= micro-batches) the stream
# input is split into.
WORKLOADS = {
    "dq_pipeline": {"sf": 0.01, "stream_files": 6},
    "stats_curation": {"sf": 0.01, "docs": 2000},
}
HEAP = "2g"
RUN_LIMIT_S = 170  # a run must end within 180 s
BUILD_LIMIT_S = 850
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_fingerprint():
    """Hash of every file the build reads from the checkout."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (ROOT, HERE):
        files += glob.glob(os.path.join(base, "project", "*.sbt"))
        files += glob.glob(os.path.join(base, "project", "build.properties"))
        files += glob.glob(os.path.join(base, "project", "*.scala"))
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(set(files)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def ensure_build():
    fp = source_fingerprint()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == fp:
                return
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness with sbt")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       BUILD_LIMIT_S, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
        if rc == 0 and os.path.exists(CLASSPATH):
            rc = run_group(java_cmd(["graftbench.DumpOracles", ORACLES]), BUILD_LIMIT_S, cwd=HERE,
                           stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(ORACLES):
        raise SystemExit(f"build failed (rc={rc}); see {os.path.join(WORK, 'build.log')}")
    with open(STAMP, "w") as fh:
        fh.write(fp)
    log(f"build took {time.time() - t0:.1f} s")


def java_cmd(main_and_args, jvm_opts=()):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return [java] + opens + [f"-Xms{HEAP}", f"-Xmx{HEAP}", *jvm_opts, "-cp", cp] + list(main_and_args)


def run_jvm(args, work, data, cpus, oracles, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    kinds = sorted({k for sql in oracles.values() for k in FIXTURE_REF.findall(sql)})
    cmd = java_cmd([
        "graftbench.Harness",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--data", data, "--work", work, "--cpus", str(cpus),
        "--fixture-kinds", ",".join(kinds)],
        [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"])
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as out:
        rc = run_group(cmd, max(10.0, deadline - time.time()), cwd=work, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        with open(jvm_log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise SystemExit(f"harness JVM failed (rc={rc})")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def load_check_module():
    spec = importlib.util.spec_from_file_location("graft_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_outputs(res, data, oracles):
    """Returns {call: reason} for every output that differs from its oracle."""
    import duckdb
    import pandas as pd
    check = load_check_module()
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in check.TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for name in res["order"]:
        if name in res["failures"]:
            continue
        files = sorted(glob.glob(os.path.join(res["outputs"][name], "*.parquet")))
        if not files:
            bad[name] = "no output"
            continue
        sdf = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if name not in oracles:
            if len(sdf) == 0:
                bad[name] = "empty output and no oracle"
            continue
        sql = FIXTURE_REF.sub(lambda m: res["fixtures"][m.group(1)], oracles[name])
        try:
            odf = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001 - the oracle itself failing is a failed check
            bad[name] = f"oracle error: {e}"
            continue
        sc, sr = check.norm_df(sdf)
        oc, orr = check.norm_df(odf)
        if sc != oc:
            bad[name] = f"columns differ: {sc} vs {oc}"
        elif sr != orr:
            bad[name] = f"rows differ ({len(sr)} vs {len(orr)} rows)"
    sc = res.get("stream_check")
    if sc is not None:
        ok = " AND ".join(f"COALESCE(({p}), FALSE)" for _, p in sc["rules"])
        clean, quar = con.execute(
            f"SELECT count(*) FILTER (WHERE {ok}), count(*) FILTER (WHERE NOT ({ok})) FROM lineitem"
        ).fetchone()
        if (clean, quar) != (sc["clean"], sc["quarantine"]):
            bad["dq_gate_stream"] = (f"stream split clean/quarantine {sc['clean']}/{sc['quarantine']}"
                                     f" != batch split {clean}/{quar}")
    elif res["workload"] == "dq_pipeline":
        bad.setdefault("dq_gate_stream", "stream check did not run")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run unwinds through run_group, which kills its JVM or sbt
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.time() + RUN_LIMIT_S

    missing = [p for p in ("build.sbt", os.path.join("src", "main", "scala"), os.path.join("tools", "check.py"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"not a graft checkout: missing {', '.join(missing)} under {ROOT}")
        return 2
    ensure_build()
    deadline = max(deadline, time.time() + 150)  # a first-run build does not eat the run's budget

    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    sys.path.insert(0, HERE)
    import datagen
    t0 = time.time()
    datagen.generate(data, args.seed, WORKLOADS[args.workload]["sf"], WORKLOADS[args.workload].get("docs"))
    if "stream_files" in WORKLOADS[args.workload]:
        datagen.split_stream(data, args.seed, WORKLOADS[args.workload]["stream_files"])
    t1 = time.time()
    cpus = len(os.sched_getaffinity(0))
    with open(ORACLES) as fh:
        oracles = json.load(fh)
    res = run_jvm(args, work, data, cpus, oracles, deadline)
    t2 = time.time()
    bad = check_outputs(res, data, oracles)
    log(f"inputs {t1 - t0:.1f} s, harness JVM {time.time() - t1:.1f} s, output check {time.time() - t2:.1f} s")

    failures = dict(res["failures"])
    failures.update(bad)
    for name, why in failures.items():
        log(f"FAILED {name}: {why}")
    attempted = int(res["attempted"])
    failed = len(failures)
    summary = dict(res["end_to_end"])
    summary.update(res["summary"])
    summary["failed_ratio"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} on local[{cpus}], heap {HEAP}")
    print("pass walls (s): " + " ".join(f"{w:.3f}" for w in res["pass_walls_s"]))
    print("pass cpu (s):   " + " ".join(f"{w:.3f}" for w in res["pass_cpu_s"]))
    for k, v in summary.items():
        print(f"  {k:24s} {v['value']:.6g} {v['unit']}")
    metrics = res["per_layer"] if args.trace else res["end_to_end"]
    if args.trace:
        for k, v in metrics.items():
            print(f"  {k:28s} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        kept = os.path.join(WORK, "spans", f"{args.workload}-s{args.seed}.jsonl")
        os.makedirs(os.path.dirname(kept), exist_ok=True)
        shutil.move(spans, kept)
        log(f"spans of the traced passes: {kept}")
    if failed == 0:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
