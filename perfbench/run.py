#!/usr/bin/env python3
"""Benchmark runner: builds the benchmark (with the program's sources) and
runs one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --compare <results-a.jsonl> <results-b.jsonl>

Run it from the root of a source checkout. The first run compiles
`src/main/scala` together with `perfbench/src` through `perfbench/build.sbt`
(offline sbt) and caches the classpath under `.bench_build/`; later runs
start the JVM directly. Generated tables that do not depend on the seed
are written once to `.bench_build/fixtures/`. All other scratch space of a
run (Spark warehouse, shuffle files) lives under `.bench_build/work/` and
is removed when the run ends; traced runs leave their span and request logs
in `.bench_build/traces/`, and every run appends its detail and result
lines to `.bench_build/results.jsonl`.

The last line of stdout is the result object
`{"correct", "attempted", "failed", "metrics"}`. The exit code is 0 when
every check passed, 1 when a check failed, 2 when the run could not
produce a result.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["llm_pipelines", "registry_e2e"]
RUN_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
    ])
    return env


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (PROGRAM, os.path.join(BENCH, "src", "main")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_sbt(*tasks):
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks], cwd=BENCH,
                       env=sbt_env(), stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    sys.stderr.write("\n".join(l for l in p.stdout.splitlines()[-200:] if ".jar:" not in l) + "\n")
    return p.returncode, p.stdout


def build():
    """Compile if the sources changed since the last build; return the classpath."""
    os.makedirs(OUT, exist_ok=True)
    stamp_file, cp_file = os.path.join(OUT, "stamp"), os.path.join(OUT, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building the benchmark and the program (sbt compile)")
    t0 = time.time()
    rc, out = run_sbt("compile", "export Runtime/fullClasspath")
    cps = [l for l in out.splitlines() if l.startswith("/") and ".jar" in l]
    if rc != 0 or not cps:
        log(f"build failed (sbt exit code {rc})")
        sys.exit(2)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1].strip()


def run_workload(a):
    cp = build()
    # runs do not overlap: whatever an interrupted run left is stale
    shutil.rmtree(os.path.join(OUT, "work"), ignore_errors=True)
    work = os.path.join(OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP,
           "-Dsun.net.httpserver.nodelay=true", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--fixtures", os.path.join(OUT, "fixtures")]
    if a.record_digests:
        cmd += ["--record-digests", os.path.abspath(a.record_digests)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(out[-5000:])
        log(f"no result line (exit code {proc.returncode})")
        return 2
    for l in lines[:-1]:
        print(l)
    with open(os.path.join(OUT, "results.jsonl"), "a") as f:
        f.write("\n".join(lines[-2:]) + "\n")
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] and proc.returncode == 0 else 1


def load_runs(path):
    """(detail, result) pairs from a results.jsonl file."""
    runs, detail = [], None
    with open(path) as f:
        for line in f:
            obj = json.loads(line)
            if "detail" in obj:
                detail = obj["detail"]
            elif detail is not None:
                runs.append((detail, obj))
                detail = None
    return runs


def compare(a_path, b_path):
    """Median of every metric per workload in two result sets. Refuses sets
    taken at different core counts."""
    a, b = load_runs(a_path), load_runs(b_path)
    cores = {r[0]["provenance"]["nproc"] for r in a + b}
    if len(cores) != 1:
        log(f"refusing to compare results taken at different core counts: {sorted(cores)}")
        return 2
    keys = sorted({(d["workload"], m) for d, r in a + b for m in r["metrics"]})
    print(f"{'workload':18} {'metric':28} {'A median':>12} {'B median':>12} {'B/A':>7}")
    for w, m in keys:
        va = [r["metrics"][m]["value"] for d, r in a if d["workload"] == w and m in r["metrics"]]
        vb = [r["metrics"][m]["value"] for d, r in b if d["workload"] == w and m in r["metrics"]]
        if va and vb:
            ma, mb = statistics.median(va), statistics.median(vb)
            ratio = f"{mb / ma:7.3f}" if ma else "      -"
            print(f"{w:18} {m:28} {ma:12.4f} {mb:12.4f} {ratio}")
    return 0


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--record-digests", metavar="FILE",
                   help="registry_e2e: write the digests of the run to FILE")
    p.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    p.add_argument("--compare", nargs=2, metavar="RESULTS")
    a = p.parse_args()
    if a.compare:
        return compare(*a.compare)
    if not os.path.isdir(os.path.join(PROGRAM, "graft")):
        log(f"no program sources at {PROGRAM}: run from the root of a source checkout")
        return 2
    if a.selftest:
        return 0 if run_sbt("test")[0] == 0 else 1
    if not a.workload:
        p.error("--workload is required")
    return run_workload(a)


if __name__ == "__main__":
    sys.exit(main())
