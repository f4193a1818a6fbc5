#!/usr/bin/env python3
"""End-to-end benchmark of the ocrspark pipeline.

Usage, from the root of a checkout:

    python3 e2ebench/run.py --workload crawl_batch --seed 1 --seconds 10 --trace 0

Workloads: crawl_batch (ExtractJob.run), dropbox_stream (StreamingExtract.run
over successive drops) and eval_score (EvalJob.detail + EvalJob.summary).
The first run in a checkout compiles the library and the benchmark into one
jar with sbt (e2ebench/build.sbt); later runs reuse it while the sources are
unchanged. Each run gets its own temp root under .e2ebench_runs/, deleted on
exit. The last stdout line is the result object; the line before it is a
report with host facts, input properties and call walls. Traced runs
(--trace 1) also write their spans to .e2ebench_out/.

--corrupt alters one row of the first call's output before it is checked;
the run must then report correct=false (this proves the checks bite).
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("crawl_batch", "dropbox_stream", "eval_score")
BUILD_TIMEOUT_S = 840
RUN_DEADLINE_S = 170   # every run but a building one ends within this
HEAP = "3g"            # fixed and pre-touched: steady GC behaviour between runs
JAR = os.path.join(HERE, "target", "scala-2.13", "e2ebench_2.13-0.1.0.jar")
STAMP = os.path.join(HERE, "target", "e2ebench.sources.sha256")
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[e2ebench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(f"error: {msg}")
    sys.exit(2)


def source_files():
    roots = [LIB_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".properties"))]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compiles library + benchmark into JAR unless it matches the sources."""
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(os.path.join(HERE, "target", ".build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # side-by-side runs build once
        if os.path.exists(JAR) and os.path.exists(STAMP) and open(STAMP).read() == digest:
            return
        log("building library + benchmark with sbt (first run in this checkout)")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        t0 = time.time()
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0 or not os.path.exists(JAR):
            die(f"sbt package failed (exit {r.returncode})")
        with open(STAMP, "w") as fh:
            fh.write(digest)
        log(f"built in {time.time() - t0:.0f} s")


def git_sha():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None  # an exported checkout: the sources digest identifies it
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


class Jvm:
    """One benchmark JVM, with set-up timed from spawn to its first action."""

    def __init__(self, root, args, deadline):
        self.marker = os.path.join(root, "setup.ms")
        self.log_path = os.path.join(root, "jvm.log")
        spark_jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
        tmp = os.path.join(root, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java"]
        for p in OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
                f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
                "-cp", f"{JAR}{os.pathsep}{spark_jars}", "graftbench.Main",
                "--root", root, "--setup-marker", self.marker] + args
        self.deadline = deadline
        self.log = open(self.log_path, "w")
        self.t0 = time.time()
        self.proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=self.log,
                                     stdin=subprocess.DEVNULL, text=True)

    def finish(self):
        try:
            out, _ = self.proc.communicate(timeout=max(1.0, self.deadline - time.time()))
        except subprocess.TimeoutExpired:
            self.kill()
            self.fail("benchmark JVM ran past the run deadline")
        self.log.close()
        if self.proc.returncode != 0:
            self.fail(f"benchmark JVM exited with {self.proc.returncode}")
        with open(self.log_path, errors="replace") as fh:
            sys.stderr.write("".join(l for l in fh if l.startswith("[e2ebench]")))
        with open(self.marker) as fh:
            setup = int(fh.read().strip()) / 1000.0 - self.t0
        return out, setup

    def kill(self):
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()

    def fail(self, msg):
        self.log.close()
        with open(self.log_path, errors="replace") as fh:
            tail = fh.readlines()[-40:]
        sys.stderr.write("".join(tail))
        die(msg)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        die(f"library sources not found under {os.path.relpath(LIB_SRC, os.getcwd())}; "
            "run from a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt must be on PATH")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    t_start = time.time()
    digest = source_digest()
    build(digest)
    deadline = time.time() + RUN_DEADLINE_S

    cores = len(os.sched_getaffinity(0))
    runs = os.path.join(ROOT, ".e2ebench_runs")
    os.makedirs(runs, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=runs)
    jvm = None

    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        spans = os.path.join(ROOT, ".e2ebench_out",
                             f"spans-{a.workload}-seed{a.seed}-{os.path.basename(root)}.jsonl")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(cores),
                "--spans-out", spans] + (["--corrupt"] if a.corrupt else [])
        jvm = Jvm(root, args, deadline)
        out, setup = jvm.finish()
        lines = [l for l in out.splitlines() if l.strip()]
        if len(lines) < 2:
            die("benchmark JVM printed no result")
        report, result = json.loads(lines[-2]), json.loads(lines[-1])
        report["report"]["host"].update({
            "git_sha": git_sha(), "sources_sha256": digest, "setup_s": setup})
        report["report"]["run_wall_s"] = time.time() - t_start
        if a.trace == 0:
            result["metrics"]["setup_s"] = {"value": setup, "unit": "s"}
        want = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if got != want:
            die(f"metrics differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(want.items()))}")
        print(json.dumps(report))
        print(json.dumps(result), flush=True)
    finally:
        if jvm is not None:
            jvm.kill()
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
