#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <curation|cdc_ingest>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
benchmark from source with sbt (perfbench/build.sbt, which compiles the
repository's own build) and caches the runtime classpath under
.bench_build/perfbench; later runs rebuild only when a source or build
file changed. Each run starts one JVM (perfbench.Main) on local[4] with
one client thread, checks every output, and prints as its last stdout
line one JSON object: correct, attempted, failed and metrics (the
end-to-end metrics of BENCHMARK.json, or with --trace 1 its per-layer
metrics). Spark's own logging goes to a log file, never to stdout. A
traced run also leaves its trace file under .bench_build/perfbench.
"""
import argparse
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)
import canon  # noqa: E402

CORES = 4
JVM_TIMEOUT_S = 170
# units of the per-workload metrics printed above the result line
NAMED_UNITS = {
    "setup_s": "s", "wall_s": "s", "query_p50_s": "s", "query_tail_s": "s",
    "query_tail_n": "count", "catchup_rows_per_s": "1/s", "freshness_p50_s": "s",
    "freshness_tail_s": "s", "freshness_tail_n": "count", "snapshot_s": "s",
    "error_rate": "ratio", "peak_rss_mb": "MiB",
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def build_inputs():
    """Every file the build reads: the library's sources and build
    definition, and the benchmark's."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def classpath():
    """Build if needed; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} next to perfbench/: run from a checkout of the repository")
    h = hashlib.sha256()
    for f in build_inputs():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "inputs.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building library and benchmark with sbt")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                           cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True,
                           stdin=subprocess.DEVNULL, timeout=840)
        out.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed (exit {r.returncode}); see {os.path.join(BUILD, 'build.log')}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def run_jvm(cp, args, work):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", os.path.join(HERE, "data"), "--out", work,
            "--cores", str(CORES), "--launch-ns", str(time.time_ns())]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def check_batch(res, work, refs):
    """Hash each verify-pass output and compare with its reference."""
    failed = 0
    sf = res["detail"]["sf"]
    for q in res["verify"]:
        ref = refs[sf][q]
        try:
            rows, digest = canon.digest(canon.read_spark_result(os.path.join(work, "verify", q)))
        except Exception as e:  # missing or unreadable output
            log(f"verify {q}: {e}")
            failed += 1
            continue
        if rows != ref["rows"] or digest != ref["sha256"]:
            log(f"verify {q}: rows {rows} vs {ref['rows']}, hash {digest[:12]} vs {ref['sha256'][:12]}")
            failed += 1
    return len(res["verify"]), failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["curation", "cdc_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("no BENCHMARK.json at the repository root")
    spec = json.load(open(spec_path))
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    cp = classpath()

    work = os.path.join(BUILD, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code = run_jvm(cp, args, work)
        result_file = os.path.join(work, "result.json")
        if code != 0 or not os.path.exists(result_file):
            tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-3000:]
            fail(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}:\n{tail}")
        res = json.load(open(result_file))
        shutil.copy(result_file, os.path.join(BUILD, f"result-{args.workload}-seed{args.seed}.json"))
        attempted, failed = res["attempted"], res["failed"]
        if res["verify"]:
            refs = json.load(open(os.path.join(HERE, "refs.json")))
            n, bad = check_batch(res, work, refs)
            attempted += n
            failed += bad
        log("detail: " + json.dumps({k: v for k, v in res["detail"].items()
                                     if k not in ("samples", "spans")})[:2000])
        for e in res["errors"]:
            log(f"error: {e}")
        if args.trace:
            dest = os.path.join(BUILD, f"trace-{args.workload}-seed{args.seed}.json")
            shutil.copy(os.path.join(work, "trace.json"), dest)
            log(f"trace written to {os.path.relpath(dest, ROOT)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None:
            fail(f"metric {m['name']} missing from the run")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    named = dict(res["named"])
    named["error_rate"] = failed / attempted if attempted else 1.0
    named["peak_rss_mb"] = res["metrics"].get("peak_rss_mb")
    print(f"{args.workload} seed={args.seed}: " + ", ".join(
        f"{k}={v:.6g} {NAMED_UNITS.get(k, '')}".rstrip()
        for k, v in named.items() if isinstance(v, (int, float))))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
