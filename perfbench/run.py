#!/usr/bin/env python3
"""Launcher for graft's benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload veg_dense --seed 1 --seconds 10 --trace 0

It builds the library and the harness from source (once per source
state). A first JVM generates the workload's seeded inputs and their
reference digest into a keyed cache under data/gen/perfbench (once per
workload, seed, generator parameters and source state). A second JVM
measures at local[nproc] with a heap sized from MemTotal. The result is
the last line of standard output.
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
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(ROOT, "data", "gen", "perfbench")
WORKLOADS = ("veg_dense", "veg_scan", "irgb_fusion")

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


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it, so no child outlives the launcher."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout}s: {cmd[0]} {' '.join(cmd[-8:])}")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build():
    """Compiles library + harness with sbt when the sources changed and
    caches the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's global state and temp files stay inside the checkout
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false", "-XX:-UsePerfData",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    # also for the JVMs the sbt launcher script starts on its own
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djna.tmpdir={tmp}"
    log("building library and harness with sbt")
    t0 = time.time()
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        timeout=840, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True)
    sys.stderr.write(out[-4000:])
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "classes" not in lines[-1]:
        fail(f"build failed (exit {code})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp, stamp


def heap_size():
    """Driver heap the way the repo's Tier-1 command sizes it: half of
    MemTotal in GiB, clamped to [2, 8]. build.sbt's 16g pre-touched
    default does not fit hosts with less memory."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(max(g, 2), 8)}g"
    except OSError:
        pass
    return "2g"


def cpu_count():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def java(cp, heap, args, timeout):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # Xms = Xmx: no heap shrink/regrow cycles between jobs (the repo's own
    # bench pins the heap for the same reason); no pre-touch, so only the
    # pages the JVM uses are committed
    cmd += [f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "graftbench.Main"] + args
    code, _ = run_bounded(cmd, max(timeout, 1), cwd=ROOT, stdin=subprocess.DEVNULL,
                          stdout=sys.stderr)
    return code


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found under src/main/scala: run from a full checkout")

    cp, stamp = build()
    heap = heap_size()
    cpus = cpu_count()
    os.makedirs(os.path.join(DATA, "results"), exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    common = ["--workload", a.workload, "--seed", str(a.seed), "--data", DATA,
              "--cpus", str(cpus), "--stamp", stamp]

    # both JVMs together stay within 170 s of this point
    t0 = time.time()
    if java(cp, heap, ["--prepare"] + common, timeout=120) != 0:
        fail("input generation failed")
    out = os.path.join(DATA, "results", tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    left = 170 - (time.time() - t0)
    if java(cp, heap, ["--out", out, "--seconds", str(a.seconds), "--trace", str(a.trace)] + common,
            timeout=left) != 0 or not os.path.exists(out):
        fail("benchmark process failed")
    with open(out) as f:
        res = json.load(f)
    info = res.get("info", {})
    info.update({"heap": heap, "commit": commit(), "source_stamp": stamp,
                 "run_wall_s": time.time() - t0,
                 "trace": a.trace})
    with open(out, "w") as f:
        json.dump(res, f, indent=1)
    print(json.dumps({"info": info}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
