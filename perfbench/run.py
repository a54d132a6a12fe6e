#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds graft and the
harness from the checkout's sources with sbt (later runs reuse the build
while the sources are unchanged). Each run then:

  1. generates the ten FIXTURES.md tables from the seed (gen.py) into a
     fresh work directory, which is also the run's SPARK_GRAFT_SCRATCH;
  2. runs the Scala harness (harness/) on local[4]: it sets up three times
     and reports the median, makes an untimed reference pass, and measures
     for --seconds; with --trace 1 it records spans and per-layer metrics;
  3. checks the reference results against the DuckDB oracle with the
     repository's tools/check.py;
  4. writes the stamped result to perfbench/.out/ and prints it; the last
     line of stdout is the JSON object {correct, attempted, failed, metrics}.

Workloads, metrics, units and bounds are listed in BENCHMARK.json.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

HEAP = "2g"
# A first run must end within 900 s, every later one within 180 s: the
# build, and then the rest of the run, each stay within their own limit.
BUILD_TIMEOUT_S = 700
RUN_LIMIT_S = 175
CHECK_RESERVE_S = 15

# Input rows per workload. The tables a workload does not read stay small.
SMALL = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
         "lineitem": 6000, "events": 1000, "documents": 100, "embeddings": 100}
ROWS = {
    "star_join": dict(gen.sizes_for(1.0), documents=100, embeddings=100),
    "llm_batch": dict(SMALL, documents=500, embeddings=500),
}

JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    for base in ["build.sbt", "project/build.properties", "src/main", "perfbench/harness"]:
        top = os.path.join(ROOT, base)
        paths = [top] if os.path.isfile(top) else []
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", ".bsp")
                       and not (x == "project" and os.path.basename(d) == "project")]
            paths += [os.path.join(d, f) for f in files]
        for p in sorted(paths):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt reads .jvmopts only from the directory it starts in, which is the
    # harness; graft's own (--add-modules=jdk.incubator.vector, without which
    # the compiler's analysis of functions/SimdDot fails) must reach it too.
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    jvmopts = os.path.join(ROOT, ".jvmopts")
    if os.path.exists(jvmopts):
        with open(jvmopts) as f:
            opts += f.read().split()
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_proc(cmd, cwd, env, timeout, log_path):
    """Runs cmd in its own process group. The group is killed, and waited
    for, on timeout and when this process is told to stop."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=log,
                             text=True, start_new_session=True)

        def stop(signum, _frame):
            # a second signal must not re-enter p.wait(), which would block
            # on the wait lock the first one holds
            for s in (signal.SIGTERM, signal.SIGINT):
                signal.signal(s, signal.SIG_IGN)
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)

        handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            out, _ = p.communicate(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None, -9
        finally:
            for s, h in handlers.items():
                signal.signal(s, h)
        return out, p.returncode


def build(state_dir):
    """Builds graft and the harness; returns the harness classpath."""
    stamp = source_hash()
    cp_file = os.path.join(state_dir, f"classpath-{stamp}")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cp = f.read().strip()
        if all(os.path.exists(e) for e in cp.split(os.pathsep) if "/target/" in e):
            return cp, stamp
    os.makedirs(state_dir, exist_ok=True)
    out, rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
                        "export harness/Runtime/fullClasspath"],
                       os.path.join(HERE, "harness"), sbt_env(), BUILD_TIMEOUT_S,
                       os.path.join(state_dir, "build.log"))
    lines = [line for line in (out or "").splitlines() if line.strip()]
    if rc != 0 or not lines:
        with open(os.path.join(state_dir, "build.log"), "a") as log:
            log.write(out or "")
        tail = "\n".join(line for line in lines if line.startswith("[error]"))[-2000:]
        fail(f"build failed (exit {rc}); see {state_dir}/build.log\n{tail}", 3)
    cp = lines[-1].strip()
    for old in os.listdir(state_dir):
        if old.startswith("classpath-"):
            os.remove(os.path.join(state_dir, old))
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp, stamp


def oracle_check(check_py, data, ref, timeout):
    """Runs tools/check.py over the reference dumps. It prints one line per
    key, starting with PASS when the key matches its oracle, then a blank
    line and a summary. Returns (keys checked, failure lines)."""
    log = os.path.join(os.path.dirname(ref), "check.log")
    out, rc = run_proc([sys.executable, check_py, data, ref], ROOT, os.environ, timeout, log)
    lines = [line for line in (out or "").splitlines() if line.strip()][:-1]
    bad = [line for line in lines if not line.startswith("PASS")]
    if rc not in (0, 1) or (rc == 1) != bool(bad):
        with open(log) as f:
            bad.append(f"tools/check.py exited {rc}: {f.read().strip()[-500:]}")
    return len(lines), bad


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    check_py = os.path.join(ROOT, "tools", "check.py")
    for need in [spec_path, check_py, os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main")]:
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} is missing: run from the root of a graft checkout", 2)
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in ROWS:
        fail(f"unknown workload {args.workload}", 2)

    state_dir = os.path.join(HERE, ".build")
    classpath, src_hash = build(state_dir)
    t_built = time.time()

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        rows = gen.generate(data, args.seed, ROWS[args.workload])
        result_file = os.path.join(work, "result.json")
        cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS] +
               ["--add-modules=jdk.incubator.vector", f"-Xms{HEAP}", f"-Xmx{HEAP}",
                f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath, "perfbench.Main",
                "--workload", args.workload, "--data", data, "--work", work,
                "--out", result_file, "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--rows", ",".join(f"{k}={v}" for k, v in rows.items())])
        env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"))
        env.pop("SPARK_GRAFT_SF_DIR", None)
        budget = RUN_LIMIT_S - CHECK_RESERVE_S - (time.time() - t_built)
        _, rc = run_proc(cmd, ROOT, env, budget, os.path.join(work, "harness.log"))
        shutil.copy(os.path.join(work, "harness.log"), os.path.join(state_dir, "last-harness.log"))
        if rc != 0 or not os.path.exists(result_file):
            with open(os.path.join(work, "harness.log")) as f:
                tail = f.read()[-3000:]
            fail(f"harness exited {rc}:\n{tail}", 4)
        with open(result_file) as f:
            res = json.load(f)

        failures = list(res["failures"])
        attempted = int(res["attempted"])
        n, bad = oracle_check(check_py, data, os.path.join(work, "ref"),
                              RUN_LIMIT_S - (time.time() - t_built))
        attempted += n
        failures += [f"oracle: {b}" for b in bad]
        failed = len(failures)
        attempted = max(attempted, 1)

        measured = dict(res["metrics"], ops_ok_ratio=1.0 - failed / attempted)
        wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
        source = res["layers"] if args.trace else measured
        metrics = {}
        for m in wanted:
            v = source.get(m["name"])
            if not isinstance(v, (int, float)) or not math.isfinite(v):
                fail(f"metric {m['name']} was not measured (got {v!r})", 5)
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}

        stamp = dict(res["stamp"], workload=args.workload, seed=args.seed,
                     seconds=args.seconds, trace=args.trace,
                     host_cpus=os.cpu_count(), git_commit=git_commit(), source_hash=src_hash,
                     input_rows=rows, input_bytes=sum(
                         os.path.getsize(os.path.join(data, f"{t}.parquet")) for t in gen.TABLES),
                     wall_s=round(time.time() - t_start, 3))
        out_dir = os.path.join(HERE, ".out", args.workload)
        os.makedirs(out_dir, exist_ok=True)
        tag = f"seed{args.seed}-trace{args.trace}"
        with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
            json.dump({"stamp": stamp, "metrics": metrics, "end_to_end": measured,
                       "layers": res["layers"], "setup_runs_s": res["setup_runs_s"],
                       "info": res["info"], "failures": failures}, f, indent=1)
        if args.trace:
            shutil.copy(os.path.join(work, "spans.json"), os.path.join(out_dir, f"{tag}-spans.json"))
        for msg in failures[:20]:
            print(f"FAILED {msg}", file=sys.stderr)
        print(json.dumps({"stamp": stamp}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
