#!/usr/bin/env python3
"""Segment-refresh benchmark: scheduler ticks and the rule API.

Run from the root of a checkout of the engine:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads, their sizes and the API op cycle are read from workloads.json.
Extra flags, for the self-tests: --scale <f> shrinks the generated data,
--corrupt-expected falsifies one expected fingerprint, --trace-out <file>
keeps the traced run's spans and jobs as JSON.

The first run in a checkout builds the engine and the benchmark with sbt into
jars, then records a class-data-sharing archive from a small training run;
later runs reuse both until a source or build file changes. Every run starts
its JVM with -Xshare:on and that archive, so it fails rather than start
without it, and a failed training run fails the build. Each run's
inputs and warehouse live under .bench_build/ and are removed afterwards.
Stdout carries one "metric <name> <value> <unit>" line per metric and, last,
the JSON result. The exit code is 0 only when every output checked correct.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "launch.txt")
ARCHIVE = os.path.join(BUILD, "perfbench.jsa")
STAMP = os.path.join(BUILD, "stamp.txt")
WORKLOADS_FILE = os.path.join(HERE, "workloads.json")
HEAP = "-Xmx3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file whose change requires a rebuild, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "project"), os.path.join(HERE, "src")):
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    files.append(os.path.join(HERE, "build.sbt"))
    return [f for f in files if os.path.isfile(f)]


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Runs a child in its own process group; on timeout kills the group."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{os.path.basename(cmd[0])} exceeded {timeout}s and was stopped", 3)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def launch():
    with open(LAUNCH) as fh:
        lines = fh.read().splitlines()
    return lines[0], lines[1:]


def java_cmd(args, work, cds):
    cp, opts = launch()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # No hsperfdata file (it would land in the system temp directory).
    return (["java", HEAP, f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
             "-Xlog:disable", "-Xlog:all=warning:stderr"]
            + opts + cds + ["-cp", cp, "perfbench.Main"] + args + ["--work", work])


def build():
    want = stamp()
    if all(os.path.isfile(f) for f in (STAMP, LAUNCH, ARCHIVE)):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the benchmark")
    os.makedirs(BUILD, exist_ok=True)
    for f in (STAMP, LAUNCH, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, PERFBENCH_LAUNCH_FILE=LAUNCH, TMPDIR=tmp)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -Dsbt.offline=true -Djava.io.tmpdir={tmp}").strip()
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    print("perfbench: building with sbt", file=sys.stderr)
    code, out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                          BUILD_TIMEOUT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if code != 0 or not os.path.isfile(LAUNCH):
        sys.stderr.write(out.decode(errors="replace")[-4000:])
        fail("sbt build failed")
    # Class-data-sharing archive from a small training run: it halves JVM and
    # Spark start-up, which setup_s includes.
    work = os.path.join(BUILD, "train")
    try:
        code, out = run_child(java_cmd(["--workload", "tick_many_rules",
                                        "--workloads", WORKLOADS_FILE, "--seed", "0",
                                        "--seconds", "1", "--trace", "0", "--scale", "0.02"],
                                       work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]),
                              RUN_TIMEOUT_S, stdin=subprocess.DEVNULL,
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.isfile(ARCHIVE):
        sys.stderr.write(out.decode(errors="replace")[-4000:])
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        fail("class-data-sharing training run failed")
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    with open(WORKLOADS_FILE) as fh:
        workloads = sorted(json.load(fh)["workloads"])
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", type=float)
    ap.add_argument("--corrupt-expected", action="store_true")
    ap.add_argument("--trace-out")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources next to {os.path.relpath(HERE, ROOT)}/ "
             "(run from the root of a full checkout)")
    build()

    args = ["--workload", a.workload, "--workloads", WORKLOADS_FILE, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace]
    if a.scale is not None:
        args += ["--scale", str(a.scale)]
    if a.corrupt_expected:
        args.append("--corrupt-expected")
    if a.trace_out:
        args += ["--trace-out", os.path.abspath(a.trace_out)]
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    try:
        code, out = run_child(java_cmd(args, work, ["-Xshare:on", f"-XX:SharedArchiveFile={ARCHIVE}"]),
                              RUN_TIMEOUT_S, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.decode(errors="replace").splitlines()
    keep = [l for l in lines if l.startswith("metric ") or l.startswith("{")]
    sys.stdout.write("".join(l + "\n" for l in keep))
    sys.exit(code if keep and keep[-1].startswith("{") else (code or 1))


if __name__ == "__main__":
    main()
