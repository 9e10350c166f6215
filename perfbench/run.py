#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as one JSON line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload kg_pipeline --seed 1 --seconds 10 --trace 0

The script builds the library and the harness with sbt on first use
(sources are fingerprinted, so a changed source rebuilds), starts one JVM
running ``perfbench.Main`` against a fresh scratch directory under
``.bench_run/``, and deletes that directory when the JVM has exited.
The last line of standard output is the result object; the exit code is 0
only when every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("kg_pipeline", "llm_extract")
# a run that has not finished by then is stopped and reported as failed
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_built():
    """Compile with sbt unless the stamped classpath matches the sources."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    fp = source_fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == fp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail(f"build failed (exit {out.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(fp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write the full result (with run info) here")
    args = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "Pipeline.scala")):
        fail("graft sources not found next to perfbench/; run from a full checkout")
    cp = ensure_built()

    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    cpus = os.cpu_count() or 1
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g",
        "-XX:+UseParallelGC",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scratch", run_dir, "--cpus", str(cpus),
        "--expected", os.path.join(HERE, "expected"),
    ]
    load1 = os.getloadavg()[0]
    # a terminated run still stops its JVM and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    watchdog = threading.Timer(RUN_LIMIT_S, proc.kill)
    watchdog.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            else:
                sys.stderr.write(line)
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_run"))
        except OSError:
            pass

    if result is None:
        fail(f"workload {args.workload} printed no result (JVM exit {code})")
    info = {"workload": args.workload, "seed": args.seed, "nproc": cpus,
            "os_load1": round(load1, 2), "os_load1_end": round(os.getloadavg()[0], 2),
            "trace": args.trace}
    info.update(result.pop("info", {}))
    print(json.dumps({"run": info}))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"run": info, **result}, fh, indent=1, sort_keys=True)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    if code != 0 or not result["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
