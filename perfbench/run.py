#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <ais_trips|catalog_mix>
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the engine and the
benchmark harness from source with sbt (into .bench_build/); each run then
starts one fresh JVM (perfbench.Main), checks the outputs, measures what
the run left behind in its temp directories, and prints one JSON object as
the last line of stdout. The exit code is non-zero when a check fails.
See perfbench/WORKLOADS.md for what each workload measures.
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
RESULTS = os.path.join(ROOT, ".bench_results")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
SHM = "/dev/shm"
DEADLINE_S = 170.0
SETUP_REPS = 7
JVM_OPTS = [
    # a fixed heap size: heap resizing would vary GC work between runs
    "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources_stamp():
    h = hashlib.sha1()
    for base in (ENGINE_SRC, ENGINE_RES, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath(deadline):
    """Compile engine + harness with sbt once per source state; returns the
    runtime classpath and whether this call built it."""
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip(), False
    log("[perfbench] building engine and harness with sbt ...")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=max(60.0, deadline - time.time()))
    if proc.returncode != 0:
        log(proc.stdout[-4000:])
        raise SystemExit("[perfbench] build failed")
    cp = [l for l in proc.stdout.splitlines() if l.strip()][-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    log(f"[perfbench] built in {time.time() - t0:.0f} s")
    return cp, True


def dir_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def shm_entries():
    """The engine's tmpfs scratch roots (it checkpoints streams under
    /dev/shm/graft-* when that is writable)."""
    try:
        return {e for e in os.listdir(SHM) if e.startswith("graft-")}
    except OSError:
        return set()


def run_jvm(cp, argv, log_path, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(os.path.dirname(log_path), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "perfbench.Main", *argv]
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                cwd=ROOT, start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("[perfbench] JVM exceeded the run deadline")


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, seed, seconds, trace, keys=None, drop_table=None,
        catalog_py=os.path.join(HERE, "catalog.py")):
    """One benchmark run; returns (result dict, human-readable lines)."""
    t_start = time.time()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit("[perfbench] engine sources not found next to the "
                         "benchmark (run from the root of a full checkout)")
    spec = load_spec()
    # the first run in a checkout also builds; the run's own time limit
    # starts once the build is done
    cp, built = classpath(t_start + 720.0)
    deadline = (time.time() if built else t_start) + DEADLINE_S
    work = os.path.join(WORK, f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    shm_before = shm_entries()
    try:
        argv = ["--workload", workload, "--seed", str(seed),
                "--seconds", str(seconds), "--trace", str(trace),
                "--work", work, "--out", os.path.join(work, "out.json"),
                "--python", sys.executable,
                "--catalog-py", catalog_py]
        setup_s = None
        if workload == "catalog_mix":
            import catalog
            times = []
            for r in range(SETUP_REPS):
                d = os.path.join(work, f"data-{r}")
                t0 = time.perf_counter()
                catalog.generate(d, seed)
                times.append(time.perf_counter() - t0)
            setup_s = statistics.median(times)
            data = os.path.join(work, f"data-{SETUP_REPS - 1}")
            if drop_table:
                os.remove(os.path.join(data, f"{drop_table}.parquet"))
            argv += ["--data", data]
        if keys:
            argv += ["--keys", ",".join(keys)]
        t_jvm = time.time()
        rc = run_jvm(cp, argv, os.path.join(work, "jvm.log"), deadline)
        log(f"[perfbench] set-up {t_jvm - t_start:.1f} s, JVM {time.time() - t_jvm:.1f} s")
        out_path = os.path.join(work, "out.json")
        with open(os.path.join(work, "jvm.log")) as f:
            jvm_log = f.read()
        if rc != 0 or not os.path.exists(out_path):
            log(jvm_log[-6000:])
            raise SystemExit(f"[perfbench] JVM exited with {rc}")
        log("\n".join(l for l in jvm_log.splitlines() if l.startswith("[perfbench]")))
        with open(out_path) as f:
            res = json.load(f)
        attempted, failures = res["attempted"], list(res["failures"])
        new_shm = [os.path.join(SHM, e) for e in shm_entries() - shm_before]
        leftover_mb = (dir_bytes(os.path.join(work, "tmp")) +
                       sum(dir_bytes(p) for p in new_shm)) / 1048576.0
        for p in new_shm:
            shutil.rmtree(p, ignore_errors=True)
        if trace:
            os.makedirs(RESULTS, exist_ok=True)
            with open(os.path.join(RESULTS, f"trace-{workload}-{seed}.json"), "w") as f:
                json.dump({k: res[k] for k in (
                    "spans", "ops_by_kind", "self_ms_by_kind")}, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = dict(res["e2e"])
    if setup_s is not None:
        e2e["setup_s"] = {"value": setup_s, "n": SETUP_REPS}
    layer = dict(res["layer"], leftover_tmp_mb=leftover_mb)
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    source = layer if trace else {k: v["value"] for k, v in e2e.items()}
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    lines = [f"{n['name']} = {n['value']:.6g} {n['unit']} (n={n['n']})"
             for n in res["named"]]
    lines += [f"failed_ratio = {len(failures)}/{attempted} failed/attempted",
              f"leftover_tmp_mb = {leftover_mb:.3f} MB",
              f"retained_heap_mb = {e2e['retained_heap_mb']['value']:.1f} MB",
              f"setup_s = {e2e['setup_s']['value']:.4f} s "
              f"(median of n={e2e['setup_s']['n']})"]
    lines += [f"FAILED {op}: {msg}" for op, msg in failures]
    result = {"correct": not failures, "attempted": max(1, int(attempted)),
              "failed": len(failures), "metrics": metrics}
    return result, lines


# Stands in for `catalog.py compare` and reports every key as differing
# from its oracle twin.
MISMATCH_ORACLE = """import json, sys
with open(sys.argv[4]) as f:
    keys = list(json.load(f))
with open(sys.argv[5], "w") as f:
    json.dump({k: "planted oracle mismatch" for k in keys}, f)
"""


def selftest():
    """A query made to throw is reported as failed, is kept out of every
    latency sample, and makes the run incorrect (non-zero exit). A query
    whose result differs from its oracle loses its cold and warm samples."""
    good, bad = "q01_scan_project", "qx1_dedup_exact"
    res, lines = run("catalog_mix", 1, 3, 0, keys=[good, bad],
                     drop_table="documents")
    failed_ops = [l for l in lines if l.startswith("FAILED")]
    assert not res["correct"], "a throwing query must make the run incorrect"
    assert any(bad in l for l in failed_ops), failed_ops
    assert not any(l.startswith(f"FAILED {good}") for l in failed_ops), failed_ops
    assert res["failed"] >= 1 and res["attempted"] > res["failed"], res
    # the throwing key has no timed sample; the good key alone has latency
    warm = next(l for l in lines if l.startswith("query_p50_s"))
    assert warm.endswith("(n=1)"), warm
    assert res["metrics"]["latency_p50_ms"]["value"] > 0, res
    print("\n".join(lines))
    print(f"selftest ok: {bad} reported failed, {good} timed ({warm})")

    os.makedirs(WORK, exist_ok=True)
    stub = os.path.join(WORK, "mismatch_oracle.py")
    with open(stub, "w") as f:
        f.write(MISMATCH_ORACLE)
    try:
        res, lines = run("catalog_mix", 1, 3, 0, keys=[good], catalog_py=stub)
    finally:
        os.remove(stub)
    assert not res["correct"], "an oracle mismatch must make the run incorrect"
    assert any(l.startswith(f"FAILED oracle-{good}") for l in lines), lines
    for name in ("query_p50_s", "cold_s"):
        line = next(l for l in lines if l.startswith(name))
        assert line.endswith("(n=0)"), line
    print("\n".join(lines))
    print(f"selftest ok: {good} with a mismatching oracle has no samples")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    sys.path.insert(0, HERE)
    if a.selftest:
        selftest()
        return
    if a.workload not in ("ais_trips", "catalog_mix"):
        raise SystemExit(f"[perfbench] unknown workload {a.workload!r}")
    result, lines = run(a.workload, a.seed, a.seconds, a.trace)
    print("\n".join(lines))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
