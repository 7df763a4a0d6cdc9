#!/usr/bin/env python3
"""graft benchmark launcher.

Run from the root of a graft checkout:

    python3 graftbench/run.py --workload cypher_mix --seed 1 --seconds 12 --trace 0

Builds graft and the harness from source with sbt (once per source
state; the classpath and a class-data archive recorded by a short
training pass are cached under graftbench/.build), then runs the
harness JVM. Inputs are generated from --seed under
graftbench/.work/<workload> (kept until the next run of that workload,
with the spans of a traced run in spans.jsonl).
The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer with --trace 1).

    python3 graftbench/run.py --test    runs the harness's own check tests
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("cypher_mix", "fixpoint", "curation_etl")
# a first run (build, training pass, run) must end within 900 s, any
# later run within 180 s
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 540
TRAIN_TIMEOUT_S = 120

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
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256(ROOT.encode())
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(r)
            if "target" not in d.split(os.sep) for f in files)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_sbt(args, timeout):
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true"] + args
    p = subprocess.Popen(cmd, cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"sbt {' '.join(args)} timed out after {timeout} s")
    return p.returncode, out


def classpath():
    """Build if the sources changed; return the runtime classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    digest = sources_digest()
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    code, out = run_sbt(["compile", "export Runtime/fullClasspathAsJars"], BUILD_TIMEOUT_S)
    lines = [l for l in out.splitlines() if l and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    record_class_archive(lines[-1])
    # untraced op times recorded by the previous build's runs
    for f in glob.glob(os.path.join(WORK, "untraced-*.tsv")):
        os.remove(f)
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def java_cmd(cp, work, args):
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    if os.path.isfile(ARCHIVE):
        # class-data sharing: class loading and verification done once per build
        cmd += [f"-XX:SharedArchiveFile={ARCHIVE}", "-Xlog:disable"]
    return cmd + ["-Xmx3g", f"-Djava.io.tmpdir={work}", "-cp", cp, "graftbench.Main",
                  "--work", work] + args


def record_class_archive(cp):
    """Run the harness's short training pass with -XX:ArchiveClassesAtExit,
    so later runs start with the classes it loaded already parsed. A run
    without the archive is slower to start, never wrong."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(WORK, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = java_cmd(cp, work, ["--workload", "train", "--seed", "1", "--seconds", "1", "--trace", "0"])
    cmd.insert(1, f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                         start_new_session=True)
    try:
        p.wait(timeout=TRAIN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
    if p.returncode != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--test", action="store_true", help="run the harness's own tests")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources at {ROOT} (run from a graft checkout)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    if a.test:
        code, out = run_sbt(["test"], BUILD_TIMEOUT_S)
        print(out)
        sys.exit(code)
    if a.workload is None:
        fail("--workload is required")
    cp = classpath()
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = java_cmd(cp, work, ["--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace)])
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        print("\n".join(l for l in out.splitlines() if not l.startswith("{")))
        fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s")
    lines = out.rstrip("\n").splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        print("\n".join(l for l in lines if not l.startswith("{")))
        fail(f"{a.workload} exited with code {p.returncode} and no result")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
