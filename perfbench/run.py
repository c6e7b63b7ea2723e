#!/usr/bin/env python3
"""graft benchmark: builds the engine with its drivers from source, runs one
workload in a fresh JVM, checks every output, and prints one JSON result as
the last line of standard output.

  python3 perfbench/run.py --workload registry --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --workload all          # every workload, in turn
  python3 perfbench/run.py --selftest              # the benchmark's own checks
  python3 perfbench/run.py --record                # re-record registry checksums and latencies

Run it from the root of a checkout. Everything it builds or writes stays
under .bench_build/ there. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CP_FILE = os.path.join(BUILD, "classpath.txt")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
WORKLOADS = ["registry", "s3_ingest", "fs_rescan", "scan_stream"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    """A build or run failure: exit 2, so it reads apart from a failed
    output check (exit 1)."""
    log(msg)
    sys.exit(2)


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if submit:
        return os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    die("Spark not found (set SPARK_HOME)")


def sources():
    """Every input of the build: the engine's main sources and resources,
    and ours."""
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt")):
        if os.path.isfile(top):
            yield top
        for d, _, fs in os.walk(top):
            for f in fs:
                yield os.path.join(d, f)


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no engine sources at src/main/scala; "
            "run from the root of a full checkout")
    newest = max(os.path.getmtime(p) for p in sources())
    if os.path.exists(CP_FILE) and os.path.getmtime(CP_FILE) >= newest:
        return open(CP_FILE).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    log("building (first run in this checkout)")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in p.stdout:
        errors = [l for l in lines if l.startswith("[error]")]
        sys.stderr.write("\n".join(errors[:40]) + "\n" if errors else p.stdout[-4000:])
        die(f"build failed (rc {p.returncode})")
    cp = lines[-1].strip()
    with open(CP_FILE, "w") as f:
        f.write(cp + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def stop_postgres(work):
    """Stop any server a killed JVM left running under `work`."""
    for d, _, fs in os.walk(work):
        if "postmaster.pid" not in fs:
            continue
        try:
            pid = int(open(os.path.join(d, "postmaster.pid")).readline())
        except (OSError, ValueError):
            continue
        for sig, wait in ((signal.SIGINT, 10), (signal.SIGKILL, 5)):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                break
            end = time.time() + wait
            while time.time() < end and os.path.exists(f"/proc/{pid}"):
                time.sleep(0.05)


def jvm(cp, args, work, log_path, timeout=JVM_TIMEOUT_S):
    mem = "3g"
    # a fixed young generation keeps the heap's growth, and so the peak
    # resident set, from following the collector's adaptive sizing
    cmd = (["java", f"-Xmx{mem}", "-Xmn512m", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy"] +
           [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
           ["-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"] + args +
           ["--work", work,
            "--fixture", os.path.join(HERE, "fixture"),
            "--expected", os.path.join(HERE, "expected", "registry_sf0.001.tsv"),
            "--latency", os.path.join(HERE, "expected", "registry_latency_sf0.001.tsv")])
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            log(f"run exceeded {timeout} s; stopping it")
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = -1
        finally:
            stop_postgres(work)
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    return rc


def run_one(cp, workload, seed, seconds, trace):
    run_id = f"{workload}-seed{seed}-trace{trace}"
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    out = os.path.join(runs, run_id + ".json")
    work = os.path.join(BUILD, "work", f"{run_id}-{os.getpid()}")
    log_path = os.path.join(runs, run_id + ".log")
    if os.path.exists(out):
        os.remove(out)
    rc = jvm(cp, ["--mode", "run", "--workload", workload, "--seed", str(seed),
                  "--seconds", str(seconds), "--trace", str(trace), "--out", out],
             work, log_path)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"{workload} run failed (rc {rc}); log {log_path}")
    rec = json.load(open(out))
    rec["metrics"] = declared(rec["metrics"], "end_to_end", run_id, fill=False)
    rec["layers"] = declared(rec["layers"], "per_layer", run_id, fill=True) if trace else {}
    if trace:
        untraced = os.path.join(runs, f"{workload}-seed{seed}-trace0.json")
        rec["tracing_overhead"] = overhead(rec, untraced)
        with open(out, "w") as f:
            json.dump(rec, f)
    return rec


def declared(got, kind, run_id, fill):
    """The metrics BENCHMARK.json declares under `kind`, from `got`. A
    metric the run emits must be declared there with the same unit; a
    per-layer metric of a layer the workload does not touch (`fill`)
    reports 0; a missing end-to-end metric is a run failure."""
    spec = {m["name"]: m["unit"] for m in json.load(open(SPEC))[kind]}
    for k, v in got.items():
        if spec.get(k) != v["unit"]:
            die(f"{run_id}: metric {k} [{v['unit']}] is not declared in "
                f"BENCHMARK.json {kind} with that unit")
    missing = [k for k in spec if k not in got]
    if missing and not fill:
        die(f"{run_id}: {kind} metrics missing: {', '.join(missing)}")
    return {k: got.get(k, {"value": 0.0, "unit": u}) for k, u in spec.items()}


def overhead(traced, untraced_path):
    """Traced run's end-to-end metrics minus the untraced run's, same seed."""
    if not os.path.exists(untraced_path):
        return "no untraced run of this workload and seed to compare"
    base = json.load(open(untraced_path))["metrics"]
    return {k: {"traced": v["value"], "untraced": base[k]["value"],
                "delta": v["value"] - base[k]["value"], "unit": v["unit"]}
            for k, v in traced["metrics"].items() if k in base}


def report(rec, trace):
    m = rec["machine"]
    print(f"machine: nproc={m['nproc']} load1={m['load1_start']}->{m['load1_end']} "
          f"cal_1t_ms={m['cal_1t_ms']:.1f} cal_nt_ms={m['cal_nt_ms']:.1f} "
          f"(calibration {m['cal_iters']} iterations)")
    print(f"{rec['workload']}: sizes " +
          ", ".join(f"{k}={v}" for k, v in sorted(rec["sizes"].items())))
    att, fail = rec["attempted"], rec["failed"]
    print(f"{rec['workload']}: fail_ratio {fail / max(att, 1):.4f} "
          f"({fail} failed of {att} attempted)")
    for f in rec["failures"]:
        print(f"{rec['workload']}: FAILED {f}")
    for name, v in sorted({**rec["named"], **rec["metrics"]}.items()):
        print(f"{rec['workload']}: {name} {v['value']:.6g} {v['unit']}")
    if trace:
        for name, v in sorted(rec["layers"].items()):
            print(f"{rec['workload']}: layer {name} {v['value']:.6g} {v['unit']}")
        print(f"{rec['workload']}: tracing overhead {json.dumps(rec['tracing_overhead'])}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    cp = build()
    if a.selftest or a.record:
        mode = "selftest" if a.selftest else "record"
        work = os.path.join(BUILD, "work", f"{mode}-{os.getpid()}")
        out = os.path.join(BUILD, "runs", f"{mode}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        log_path = os.path.join(BUILD, "runs", f"{mode}.log")
        rc = jvm(cp, ["--mode", mode, "--seed", str(a.seed), "--out", out],
                 work, log_path, timeout=900)
        shutil.rmtree(work, ignore_errors=True)
        with open(log_path) as f:
            text = f.read()
        lines = [l for l in text.splitlines()
                 if l.startswith(("PASS", "FAIL", "selftest:"))]
        print("\n".join(lines) if lines else text[-3000:])
        if not lines and rc == 0:
            print(f"{mode}: ok")
        sys.exit(rc)
    names = WORKLOADS if a.workload == "all" else [a.workload]
    if any(n not in WORKLOADS for n in names):
        die(f"unknown workload {a.workload}")
    recs = [run_one(cp, n, a.seed, a.seconds, a.trace) for n in names]
    for r in recs:
        report(r, a.trace)
    attempted = sum(r["attempted"] for r in recs)
    failed = sum(r["failed"] for r in recs)
    key = "layers" if a.trace else "metrics"
    metrics = {k: {"value": v["value"], "unit": v["unit"]}
               for k, v in sorted(recs[-1][key].items())}
    if len(recs) > 1:
        metrics = {f"{r['workload']}.{k}": {"value": v["value"], "unit": v["unit"]}
                   for r in recs for k, v in sorted(r[key].items())}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
