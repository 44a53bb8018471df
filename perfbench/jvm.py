"""Build graft and the benchmark driver from source, and run the driver
JVM. The build runs sbt once per source state and caches the runtime
classpath and the build's JVM options; every run then starts `java`
directly."""
import hashlib
import json
import os
import shutil
import signal
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Inputs of the build: the program's build definition and sources, and
# the benchmark's own.
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src/main"]

def state_dir():
    """Build outputs and run scratch, inside the checkout."""
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if not os.path.isabs(d):
        d = os.path.join(ROOT, d)
    os.makedirs(d, exist_ok=True)
    return d


def missing_sources():
    return [p for p in BUILD_INPUTS if not os.path.exists(os.path.join(ROOT, p))]


def source_hash():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        top = os.path.join(ROOT, rel)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    """Offline sbt (dependencies come from the local caches only), with its
    temporary files inside the checkout."""
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(state_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    repos = os.path.expanduser("~/.sbt/repositories")
    env["SBT_OPTS"] = " ".join(
        ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx3g",
         "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
        + ([f"-Dsbt.repository.config={repos}"] if os.path.exists(repos) else []))
    return env


def build(log):
    """The benchmark JVM's runtime classpath and options
    ({"cp": [...], "opts": [...]}), building first if sources changed.
    The options are the root build's `javaOptions` (module opens, heap)."""
    cache = os.path.join(state_dir(), "build.json")
    digest = source_hash()
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c.get("hash") == digest and all(os.path.exists(p) for p in c["cp"][:2]):
            return c
    if shutil.which("sbt") is None:
        raise RuntimeError("sbt not found on PATH")
    log("building graft and the benchmark driver with sbt ...")
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath", "print perfbench/javaOptions"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    if out.returncode != 0:
        raise RuntimeError("sbt build failed:\n" + out.stdout[-4000:])
    lines = [l.strip() for l in out.stdout.splitlines() if l.strip() and not l.startswith("[")]
    opts = [l[2:] for l in lines if l.startswith("* ")]
    cp = [l for l in lines if not l.startswith("* ")][-1].split(os.pathsep)
    c = {"hash": digest, "cp": cp, "opts": opts}
    with open(cache, "w") as f:
        json.dump(c, f)
    return c


def run_java(jvm, args, work, log_path, timeout_s=170):
    """Runs a JVM with the build's classpath and options in its own
    process group, with its scratch (tmpdir, Derby, cwd) under `work`;
    returns its exit code."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + jvm["opts"]
           + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
              "-cp", os.pathsep.join(jvm["cp"])] + list(args))
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            return -9
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def host_calibration():
    """Fixed CPU loop time (ms, median of 5) and the 1-minute load average:
    a host stall shows here instead of being blamed on the code."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        s = 0
        for i in range(200_000):
            s += i * i % 7
        times.append((time.perf_counter() - t0) * 1e3)
    times.sort()
    return times[2], os.getloadavg()[0]
