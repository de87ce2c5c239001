#!/usr/bin/env python3
"""Benchmark entry point.

Run from the root of a checkout:

    python3 perfbench/run.py --workload images_mixed --seed 1 --seconds 15 --trace 0

It builds the engine plus the benchmark driver (perfbench/build.sbt) into
.bench_build/ when the sources changed since the last build, then starts one
JVM that runs the workload at local[nproc] and prints one metric per line
followed by a JSON result as the last line of stdout. The exit code is 0 only
when every output check passed.
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

WORKLOADS = ("images_mixed", "docs_suite")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 175


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("cannot find Spark: set SPARK_HOME")
    return home


def source_digest(root):
    """Hash of everything the build reads, so a stale build is never run."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(root, "perfbench", "src")]
    files = [os.path.join(root, "perfbench", "build.sbt"),
             os.path.join(root, "perfbench", "project", "build.properties")]
    for d in dirs:
        for base, _, names in sorted(os.walk(d)):
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} timed out after {timeout} s")
    return proc.returncode, out


def build(root, build_dir, env):
    digest = source_digest(root)
    stamp = os.path.join(build_dir, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(build_dir, exist_ok=True)
    env = dict(env)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    tmp = os.path.join(build_dir, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    code, _ = run_group([sbt, "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                         f"-Djava.io.tmpdir={tmp}", "compile"],
                        BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench"),
                        env=env, stdout=sys.stderr)
    if code != 0:
        fail(f"build failed (sbt exit {code})")
    with open(stamp, "w") as fh:
        fh.write(digest)


def heap_gb():
    """Driver heap from MemTotal, as the repo's tier-1 launch derives it:
    half of RAM, clamped to [2, 8] GiB."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout that holds the engine sources (src/main/scala)")
    if not os.path.exists(os.path.join(root, "perfbench", "build.sbt")):
        fail("perfbench/build.sbt missing")
    build_dir = os.path.join(root, ".bench_build")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    build(root, build_dir, env)
    t_start = time.time()  # the run deadline starts after any build

    java = launcher(root, build_dir, env["SPARK_HOME"])

    def launch(trace):
        """One JVM; returns its exit code, report lines and parsed result."""
        work = os.path.join(build_dir, "work")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        cmd = java(work) + [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(trace),
            "--work", work, "--out", os.path.join(build_dir, "trace")]
        budget = max(10, RUN_TIMEOUT_S - (time.time() - t_start))
        code, out = run_group(cmd, budget, cwd=root, env=env,
                              stdout=subprocess.PIPE, text=True)
        shutil.rmtree(work, ignore_errors=True)
        lines = [l for l in out.splitlines() if l.strip()]
        result = next((l for l in reversed(lines) if l.startswith("{")), None)
        if result is None:
            fail(f"no result (JVM exit {code})")
        lines.remove(result)
        return code, lines, json.loads(result)

    if args.trace == 0:
        code, lines, result = launch(0)
    else:
        # The traced run's untraced twin: an ordinary --trace 0 JVM whose run
        # time is the base of the tracing overhead and whose runtime.* and
        # undecomposed.* figures describe the pipeline as run untraced.
        code_a, lines_a, res_a = launch(0)
        code_b, lines, result = launch(1)
        code = code_a or code_b
        metrics = result["metrics"]
        for l in lines_a:
            if l.startswith("untraced: "):
                name, value = l.split()[1:3]
                metrics[name]["value"] = float(value)
        metrics["trace.overhead_s"]["value"] = (
            metrics.pop("trace.run_s")["value"] - res_a["metrics"]["run_s"]["value"])
        result = {"correct": res_a["correct"] and result["correct"],
                  "attempted": res_a["attempted"] + result["attempted"],
                  "failed": res_a["failed"] + result["failed"], "metrics": metrics}
        lines = (["untraced twin: " + l for l in lines_a if not l.startswith("untraced: ")]
                 + [l for l in lines if l.split()[0] not in metrics and
                    not l.startswith("trace.run_s ")]
                 + [f"{k} {v['value']} {v['unit']}" for k, v in metrics.items()])
    for l in lines:
        print(l)
    print(json.dumps(result), flush=True)
    sys.exit(code)


def launcher(root, build_dir, spark_home):
    """The java command line, up to the main class's own arguments."""
    cp = os.pathsep.join([os.path.join(build_dir, "target", "scala-2.13", "classes"),
                          os.path.join(spark_home, "jars", "*")])
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    heap = f"{heap_gb()}g"
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else (shutil.which("java") or "java")

    def cmd(work):
        c = [java, f"-Xmx{heap}", f"-Xms{heap}", "-XX:+UseG1GC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dlog4j2.configurationFile={os.path.join(root, 'perfbench', 'conf', 'log4j2.properties')}",
             "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
        for p in opens:
            c += ["--add-opens", f"{p}=ALL-UNNAMED"]
        return c + ["-cp", cp, "perfbench.Main", "--heap", heap]
    return cmd


if __name__ == "__main__":
    main()
