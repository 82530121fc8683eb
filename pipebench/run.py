#!/usr/bin/env python3
"""End-to-end benchmark of the pretraining-data pipeline engine.

Run from the repository root:

    python3 pipebench/run.py --workload <web_fused|dupes_checkpointed>
        --seed <n> --seconds <s> --trace <0|1> [--corrupt line|dup]
    python3 pipebench/run.py --smoke      # every workload, tiny inputs

The first run builds the engine and the harness from source with sbt
(offline) and a class-data-sharing archive of the classes a run loads;
later runs reuse both while the sources are unchanged.
The harness JVM generates the workload's inputs from the seed, times the
workload, checks its outputs, and this script prints one JSON object as
the last line of stdout: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. `--smoke` runs every workload at a tiny scale; `--corrupt` damages
the pipeline deliverables before the checks to show that they fail.
Set-up parts and per-pass figures go to stderr.
See pipebench/README.md.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER = os.path.join(HERE, "driver")
BUILD_DIR = os.path.join(DRIVER, "target", "pipebench-build")
ARCHIVE = os.path.join(BUILD_DIR, "classes.jsa")
WORK_ROOT = os.path.join(HERE, "work")
WORKLOADS = ("web_fused", "dupes_checkpointed")
RUN_LIMIT_S = 175  # the caller allows 180 s per run (build excluded)

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every input of the build: engine and harness sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(DRIVER, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(DRIVER, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(DRIVER, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for dp, dns, fns in os.walk(r):
            dns.sort()
            files += [os.path.join(dp, f) for f in fns]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    if all(map(os.path.isfile, (cp_file, stamp_file, ARCHIVE))):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH; it is needed to build the engine")
    log_path = os.path.join(WORK_ROOT, "build.log")
    os.makedirs(WORK_ROOT, exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=DRIVER, env=sbt_env(), stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, text=True, timeout=480)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (exit {proc.returncode}); see {log_path}", 3)
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    os.makedirs(BUILD_DIR)
    classpath = ":".join(as_jar(e, i) for i, e in enumerate(lines[-1].strip().split(":")))
    make_class_archive(classpath)
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def as_jar(entry, i):
    """A class directory packed into a jar; the JVM archives classes only
    from jars. Jars pass through unchanged."""
    if not os.path.isdir(entry):
        return entry
    jar = os.path.join(BUILD_DIR, f"classes{i}.jar")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for dp, dns, fns in os.walk(entry):
            dns.sort()
            for f in sorted(fns):
                full = os.path.join(dp, f)
                z.write(full, os.path.relpath(full, entry))
    return jar


def make_class_archive(classpath):
    """Dump the classes a small run loads into a CDS archive that every
    later run maps at start, so class loading (thousands of Spark
    classes) is paid at build time instead of in each run's set-up."""
    work = os.path.join(WORK_ROOT, f"archive-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", "dupes_checkpointed", "--seed", "1", "--seconds", "1",
            "--trace", "0", "--work", work, "--result",
            os.path.join(work, "result.json"), "--size", "0.05"]
    try:
        code, log_path = run_jvm(classpath, args, work, time.monotonic() + 240,
                                 [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
        if code != 0 or not os.path.isfile(ARCHIVE):
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"making the class archive failed (exit {code})", 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_jvm(classpath, args, work, deadline, jvm_opts=None):
    """Run the harness JVM in its own process group; kill it at the deadline.

    `jvm_opts` defaults to mapping the class archive the build made."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    if java is None:
        fail("java is not on PATH")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a heap fixed at its maximum: a growing heap makes every pass run
    # with fewer collections than the one before it
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-XX:SharedArchiveFile={ARCHIVE}"] if jvm_opts is None else jvm_opts
    cmd += ["-cp", classpath, "pipebench.Main"] + args
    # engine knobs from the caller's environment must not change the
    # benchmark; Spark runs in local mode on the loopback interface
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    env.update(SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    return code, log_path


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once at a tiny size")
    ap.add_argument("--corrupt", choices=("line", "dup"),
                    help="damage the pipeline outputs before checking them")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources at {ROOT} (build.sbt, src/main/scala); "
             "run from a full checkout of the repository")

    classpath = build()
    if a.smoke:
        ok = True
        for w in WORKLOADS:
            res = run_workload(classpath, w, a.seed, 1, a.trace, size=0.1)
            print(f"{w}: {json.dumps(res)}")
            ok = ok and res["correct"]
        sys.exit(0 if ok else 1)
    if a.workload is None:
        ap.error("--workload is required unless --smoke is given")
    res = run_workload(classpath, a.workload, a.seed, a.seconds, a.trace,
                       corrupt=a.corrupt)
    print(json.dumps(res))


def run_workload(classpath, workload, seed, seconds, trace, size=1.0,
                 corrupt=None):
    """One harness run; returns the result object for the last stdout line.

    `size` scales the inputs: 1 for measured runs, small for the smoke run."""
    deadline = time.monotonic() + RUN_LIMIT_S - 15
    work = os.path.join(WORK_ROOT, f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    args = ["--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", work, "--result", result_path, "--size", str(size)]
    if corrupt:
        args += ["--corrupt", corrupt]
    try:
        code, log_path = run_jvm(classpath, args, work, deadline)
        if code != 0 or not os.path.isfile(result_path):
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"harness exited with {code}", 4)
        with open(result_path) as f:
            res = json.load(f)
        for msg in res.get("failures", []):
            print(f"pipebench: check failed: {msg}", file=sys.stderr)
        if "error" in res:
            fail(res["error"], 5)

        metrics = res["metrics"]
        print("pipebench: " + json.dumps({k: res[k] for k in ("setup_parts", "passes")
                                          if k in res}), file=sys.stderr)
        if trace:
            keep = os.path.join(WORK_ROOT, "traces")
            os.makedirs(keep, exist_ok=True)
            dst = os.path.join(keep, f"{workload}-s{seed}.json")
            shutil.copyfile(res["trace_file"], dst)
            print(f"pipebench: trace written to {os.path.relpath(dst, ROOT)}",
                  file=sys.stderr)
        bad = [k for k, v in metrics.items()
               if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"])]
        if bad:
            fail(f"no pass passed its checks, so no value for {', '.join(bad)}", 6)
        return {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                "failed": int(res["failed"]), "metrics": metrics}
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
