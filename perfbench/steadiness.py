#!/usr/bin/env python3
"""Steadiness check: runs the benchmark once per seed and reports, for each
end-to-end metric, the median, the quartiles and the spread
(q3 - q1) / median, with quartiles from statistics.quantiles(values, n=4).

    python3 perfbench/steadiness.py --workloads a,b --seeds 1-10 [--out FILE]

Run it from the root of a graft checkout; every run measures for the
run_seconds in BENCHMARK.json. With --out, the figures and the host they
were taken on are written as JSON.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def settings():
    """The host and JVM settings the figures were taken with."""
    sys.path.insert(0, HERE)
    import run
    with open(run.CLASSPATH) as fh:
        jars = [os.path.basename(p) for p in fh.read().strip().split(os.pathsep)]
    version = lambda prefix: next((j[len(prefix):-4] for j in jars if j.startswith(prefix)), None)
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.splitlines()[0]
    nproc = len(os.sched_getaffinity(0))
    return {"nproc": nproc, "master": f"local[{nproc}]", "driver_heap": run.HEAP,
            "spark": version("spark-core_2.13-"), "scala": version("scala-library-"), "jdk": java,
            "machine": platform.machine(), "python": platform.python_version()}


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    secs = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"run_seconds": secs, "seeds": args.seeds, "workloads": {}}
    for w in args.workloads.split(","):
        values = {}
        for s in seeds(args.seeds):
            out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                  "--seed", str(s), "--seconds", str(secs), "--trace", "0"],
                                 capture_output=True, text=True, check=True).stdout
            res = json.loads(out.strip().splitlines()[-1])
            if not res["correct"]:
                raise SystemExit(f"{w} seed {s}: incorrect output\n{out}")
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {s}: " + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
        stats = {}
        for k, vs in values.items():
            q1, q2, q3 = statistics.quantiles(vs, n=4)
            med = statistics.median(vs)
            stats[k] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                        "bound": bounds.get(k), "values": vs}
            print(f"  {w} {k}: median {med:.4g}, q1 {q1:.4g}, q3 {q3:.4g}, "
                  f"spread {(q3 - q1) / med:.3f} (bound {bounds.get(k)})", flush=True)
        report["workloads"][w] = stats
    report["settings"] = settings()  # after the runs, which build first
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
