#!/usr/bin/env python3
"""Build the engine and run one benchmark workload against it.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (outputs under `.bench_build/`); later runs
reuse the build while no source file has changed. The last line of
standard output is one JSON object with `correct`, `attempted`, `failed`
and `metrics`; the harness log and the run's detail go to
`.bench_build/logs/`.
"""

import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("mapreduce_batch", "curate_iterative", "serve_mixed")
RUN_TIMEOUT_S = 175
# fresh JVMs (`--probe 1`) that each time the workload's cold set-up once
# more; setup_s is the median over them and the run's own cold set-up
SETUP_PROBES = 1

# Spark 4 on JDK 17 needs these outside spark-submit; they match the
# engine's own build.
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


def sources_digest():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the last build is current;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources under src/main/scala/graft; run from the root of a checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp_path = os.path.join(BUILD, "build.stamp")
    cp_path = os.path.join(BUILD, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp_path) and os.path.exists(cp_path):
        with open(stamp_path) as fh:
            if fh.read().strip() == digest:
                with open(cp_path) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, stdin=subprocess.DEVNULL,
            text=True, timeout=700)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        fail(f"build failed (exit {p.returncode}); see {log_path}")
    cp = lines[-1].strip()
    with open(cp_path, "w") as fh:
        fh.write(cp)
    with open(stamp_path, "w") as fh:
        fh.write(digest)
    return cp


def harness(cp, args, work, deadline, probe=False):
    """Run the JVM harness (or one set-up probe); returns its result object."""
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = [o for p in ADD_OPENS for o in ("--add-opens", f"{p}=ALL-UNNAMED")]
    opts += ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
    cmd = ["java"] + opts + ["-cp", cp, "perfbench.Harness",
                             "--workload", args.workload, "--seed", str(args.seed),
                             "--seconds", str(args.seconds), "--trace", str(args.trace),
                             "--work", work, "--probe", str(int(probe))]
    log_path = os.path.join(BUILD, "logs", f"{args.workload}{'.probe' if probe else ''}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log_path}")
    results = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not results:
        fail(f"harness exit {proc.returncode} without a result; see {log_path}")
    return json.loads(results[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t0 = time.time()
    cp = build()
    # the build is allowed its own time; the run gets RUN_TIMEOUT_S
    deadline = time.time() + RUN_TIMEOUT_S
    work = os.path.join(BUILD, "work", args.workload)
    res = harness(cp, args, work, deadline)
    errors = list(res.get("errors", []))
    t1 = time.time()
    if args.workload == "curate_iterative":
        import oracle
        errors += oracle.check(os.path.join(work, "tables"), os.path.join(work, "outputs"))
    t2 = time.time()
    # the probes run after the harness, whose inputs they reuse
    probes = [res["setup"]] + [harness(cp, args, work, deadline, probe=True)
                               for _ in range(SETUP_PROBES)]
    setup = {"value": statistics.median(p["setup_s"] for p in probes), "unit": "s"}
    session = {"value": statistics.median(p["session_s"] for p in probes), "unit": "s"}
    metrics = dict({"setup_s": setup}, **res["metrics"]) if not args.trace \
        else dict(res["metrics"], **{"session.start_s": session})
    detail = dict(res.get("detail", {}), check_s=t2 - t1, probe_s=time.time() - t2,
                  setup_probes_s=[p["setup_s"] for p in probes], wall_s=time.time() - t0)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "detail": detail, "errors": errors}), file=sys.stderr)
    with open(os.path.join(BUILD, "logs", f"{args.workload}.detail.json"), "w") as fh:
        json.dump({"detail": detail, "errors": errors}, fh)
    print(json.dumps({"correct": not errors, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
