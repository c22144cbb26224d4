#!/usr/bin/env python3
"""Benchmark of the points-in-polygons + tile engine and its catalog.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all        # every workload, one table
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the engine and the
benchmark with sbt (perfbench/build.sbt); later runs reuse the build while
no source changes. Inputs are generated from --seed under perfbench/.data.
One process runs the workload on a local[4] Spark session with one
closed-loop client (perfbench.Main); this script then checks its outputs
against independent computations (checks.py) and prints, as the last line
of stdout, {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1. Everything else (build log, progress, a summary) goes to
stderr; the full record is written to perfbench/.out/<workload>/result.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("pip_tile", "extract_sorted", "curate_multijob")
# fixed heap and young generation: G1's adaptive sizing otherwise moves
# job_s and peak RSS by 10-20 % from one run to the next
HEAP = "3g"
YOUNG = "1g"
RUN_LIMIT_S = 165
BUILD_LIMIT_S = 840
# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked JVMs).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def load1():
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:
        return None


# ---------------------------------------------------------------- build

def source_files():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Classpath of the compiled engine + benchmark, building when sources changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("engine sources (build.sbt, src/main/scala) not found next to perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are needed on PATH")
    digest = source_digest()
    stamp = os.path.join(HERE, "target", "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip(), digest
    log("building engine and benchmark with sbt")
    t0 = time.time()
    try:
        r = subprocess.run(["sbt", "-batch", "writeClasspath"], cwd=HERE, stdin=subprocess.DEVNULL,
                           stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    if r.returncode != 0 or not os.path.isfile(cp_file):
        die(f"build failed (exit {r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return open(cp_file).read().strip(), digest


def java_cmd(cp, out, main, args):
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"] + ADD_OPENS +
            ["-cp", cp, main] + args)


# ---------------------------------------------------------------- inputs

def inputs(workload, seed, size):
    """Generated inputs for (workload, seed, size); only the latest seed is kept."""
    import gen
    root = os.path.join(HERE, ".data")
    with open(gen.__file__, "rb") as f:  # a changed generator makes new inputs
        version = hashlib.sha256(f.read()).hexdigest()[:10]
    d = os.path.join(root, f"{workload}-{size}-{seed}-{version}")
    if os.path.isfile(os.path.join(d, "_DONE")):
        return d
    os.makedirs(root, exist_ok=True)
    for old in os.listdir(root):
        if old.startswith(workload + "-"):
            shutil.rmtree(os.path.join(root, old))
    t0 = time.time()
    gen.generate(workload, seed, d, size)
    open(os.path.join(d, "_DONE"), "w").close()
    log(f"generated {workload} inputs for seed {seed} in {time.time() - t0:.1f} s")
    return d


# ---------------------------------------------------------------- run

def bench_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        die("BENCHMARK.json not found at the checkout root")
    return json.load(open(path))


def run_workload(workload, seed, seconds, trace, spec, size="full"):
    t_start = time.time()
    load_start = load1()
    cp, digest = build()
    deadline = time.time() + RUN_LIMIT_S  # a first run's build is not counted
    data = inputs(workload, seed, size)
    out = os.path.join(HERE, ".out", workload)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    args = ["--workload", workload, "--seconds", str(seconds), "--trace", str(trace),
            "--data", data, "--out", out]
    if workload == "extract_sorted":
        import gen
        args += ["--"] + gen.extract_cli_args()
    try:
        r = subprocess.run(java_cmd(cp, out, "perfbench.Main", args), cwd=ROOT,
                           stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=max(10.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        die(f"{workload} did not finish in time")
    rec_path = os.path.join(out, "record.json")
    if r.returncode != 0 or not os.path.isfile(rec_path):
        die(f"{workload} run failed (exit {r.returncode})")
    rec = json.load(open(rec_path))

    import checks
    own = [(c["name"], c["ok"], c["detail"]) for c in rec["checks"]]
    try:
        ext = checks.CHECKS[workload](data, out)
    except Exception as e:  # a check that cannot run counts as failed
        ext = [(f"{workload}.checks", False, repr(e))]
    all_checks = own + ext
    for name, ok, detail in all_checks:
        log(f"check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    attempted = rec["attempted"] + len(all_checks)
    failed = rec["failed"] + sum(1 for _, ok, _ in all_checks if not ok)

    if trace:
        layers = rec["layers"]
        missing = [m["name"] for m in spec["per_layer"] if m["name"] not in layers]
        if missing:
            die(f"per-layer metrics missing from the run record: {missing}")
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        values = {"setup_s": rec["setup_s"], "job_s": rec["job_s"],
                  "rows_per_s": rec["rows_per_s"], "peak_rss_mb": rec["peak_rss_mb"]}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    bad = [k for k, v in metrics.items() if not isinstance(v["value"], (int, float))]
    if bad:
        die(f"{workload}: metrics without a value: {bad}")

    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    rec.update({"seed": seed, "source_digest": digest, "git_commit": git_commit(),
                "load1_run_start": load_start, "load1_run_end": load1(),
                "external_checks": [{"name": n, "ok": o, "detail": d} for n, o, d in ext],
                "fail_ratio": failed / attempted, "wall_s": time.time() - t_start, "result": result})
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump(rec, f, indent=1)
    return result, rec


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def summary(workload, result, rec):
    for k, v in result["metrics"].items():
        log(f"{workload:16s} {k:34s} {v['value']:.6g} {v['unit']}")
    for k, v in rec.get("layers", {}).items():
        if k not in result["metrics"]:  # metrics of workloads outside BENCHMARK.json
            log(f"{workload:16s} {k:34s} {v:.6g}")
    log(f"{workload:16s} {'job_n':34s} {rec['job_n']}")
    log(f"{workload:16s} {'fail_ratio':34s} {rec['fail_ratio']:.6g} ({result['failed']}/{result['attempted']})")


def selftest():
    """The benchmark's own arithmetic and record schema, on tiny inputs."""
    cp, _ = build()
    out = os.path.join(HERE, ".out", "selftest")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    r = subprocess.run(java_cmd(cp, out, "perfbench.SelfTest", []), stdout=sys.stderr, stderr=sys.stderr)
    ok = r.returncode == 0
    xs = [3.5, 1.25, 9.0, 2.0, 7.75]
    ok &= statistics.quantiles(xs, n=4) == [1.625, 3.5, 8.375]  # the values SelfTest.scala expects
    spec = bench_spec()
    res, rec = run_workload("pip_tile", 1, 1, 1, spec, size="tiny")
    spans = json.load(open(os.path.join(HERE, ".out", "pip_tile", "spans.json")))
    ids = {s["id"] for s in spans}
    schema = {
        "result keys": set(res) == {"correct", "attempted", "failed", "metrics"},
        "result correct": res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
        "per-layer names": list(res["metrics"]) == [m["name"] for m in spec["per_layer"]],
        "record fields": all(k in rec for k in ("setup_s", "job_s", "job_n", "rows_per_s",
                                                "peak_rss_mb", "host_start", "host_end", "checks")),
        "span parents exist": all(s["parent"] == -1 or s["parent"] in ids for s in spans),
        "span self time within duration": all(0 <= s["self_us"] <= s["end_us"] - s["start_us"] for s in spans),
        "iteration spans have children": any(s["parent"] == t["id"] for t in spans if t["name"] == "iteration"
                                             for s in spans),
    }
    for k, v in schema.items():
        log(f"selftest {'ok  ' if v else 'FAIL'} {k}")
    ok &= all(schema.values())
    print(json.dumps({"selftest": "pass" if ok else "fail"}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if a.workload is None:
        ap.error("--workload is required")
    spec = bench_spec()
    seconds = a.seconds or spec["run_seconds"]
    if a.workload != "all":
        result, rec = run_workload(a.workload, a.seed, seconds, a.trace, spec)
        summary(a.workload, result, rec)
        print(json.dumps(result))
        return 0
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        result, rec = run_workload(w, a.seed, seconds, a.trace, spec)
        summary(w, result, rec)
        total["correct"] &= result["correct"]
        total["attempted"] += result["attempted"]
        total["failed"] += result["failed"]
        total["metrics"].update({f"{w}.{k}": v for k, v in result["metrics"].items()})
    print(json.dumps(total))
    return 0


if __name__ == "__main__":
    sys.exit(main())
