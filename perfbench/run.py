#!/usr/bin/env python3
"""Runs one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload ingest_hourly --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (into $CARGO_TARGET_DIR, default
.bench_build); later runs reuse the build while the sources are
unchanged. Each run starts from an empty work dir (.bench_work/<workload>)
and generates its inputs there from --seed. The last line of standard
output is the result: {"correct", "attempted", "failed", "metrics"}.
The lines before it carry the session's effective Spark confs and the
end-to-end metrics under their workload-specific names.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest_hourly", "query_mix")
RUN_TIMEOUT_S = 170  # a run, after the build
BUILD_TIMEOUT_S = 700  # the first run of a checkout builds; both fit in 900 s
PAGES = 200
# The mix's streamed replay: fixed pages, so its answer has a golden; the
# third page re-delivers an earlier hour (the ON CONFLICT path).
STREAM_PAGES = 3
STREAM_SEED = 0
JVM_HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)
import ingest_gen  # noqa: E402


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def fingerprint(root):
    """Hash of every source the build reads."""
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt", "perfbench/project/build.properties"):
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compiles engine + harness unless already built from these
    sources; returns the runtime classpath."""
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", os.path.join(root, ".bench_build")))
    os.makedirs(out, exist_ok=True)
    stamp = os.path.join(out, "perfbench.classpath")
    fp = fingerprint(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved["fingerprint"] == fp:
            return saved["classpath"]
    env = dict(os.environ, PERFBENCH_TARGET=os.path.join(out, "perfbench-target"))
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(out, "perfbench-build.log")
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=os.path.join(root, "perfbench"), env=env, stdout=f,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if "perfbench-target" in l and ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not cp:
        fail(f"build failed, see {log}")
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp[-1].strip()}, f)
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft is missing)")
    classpath = build(root)
    t_built = time.time()  # a build may take long; the run itself gets RUN_TIMEOUT_S

    work = os.path.join(root, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    pages = os.path.join(work, "pages")
    ingest_gen.generate(args.seed, PAGES, pages)
    stream_pages = os.path.join(work, "stream-pages")
    ingest_gen.generate(STREAM_SEED, STREAM_PAGES, stream_pages, redelivery_every=STREAM_PAGES)

    cores = len(os.sched_getaffinity(0))
    out = os.path.join(work, "result.json")
    # -XX:-UsePerfData: no perf-counter file in the system temp dir
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores), "--work", work,
            "--data", os.path.join(HERE, "data", "sf0.01"), "--pages", pages,
            "--stream-pages", stream_pages,
            "--mix", os.path.join(HERE, "mix.json"), "--goldens", os.path.join(HERE, "goldens.json"),
            "--out", out])
    # the production session only: no engine overrides leak in
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    budget = RUN_TIMEOUT_S - (time.time() - t_built)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {budget:.0f} s, see {work}/jvm.log")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited with {rc}")
    with open(out) as f:
        res = json.load(f)
    print(json.dumps({"session_confs": res["session_confs"]}, sort_keys=True))
    print(json.dumps({"workload": args.workload, "seed": args.seed, "pass_walls_s": res["pass_walls_s"],
                      "samples": res["samples"], "named": res["named"]}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
