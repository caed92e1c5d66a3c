#!/usr/bin/env python3
"""graft's benchmark: one JVM on local[nproc], one client in a closed loop.

    python3 perfbench/run.py --workload taq_chain|query_sweep \\
        --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds graft and the
driver with sbt (perfbench/build.sbt) into the checkout and caches the
classpath under .bench_build/, keyed by a hash of the sources; later runs
start the driver JVM directly. Each run then

1. generates its inputs from the seed (perfbench/gen.py),
2. runs perfbench.Driver: set-up three times (session build plus a warm
   pass; the first is cold, the other two give setup_s), then whole
   passes of the workload's ops for --seconds; only the calls into graft
   are timed,
3. grades every op's output against DuckDB (perfbench/checks.py),
4. prints one JSON line: end-to-end metrics with --trace 0, per-layer
   metrics with --trace 1 (the per-span table goes to stderr). Tracing
   overhead is trace.run_s of a traced run minus run_s of an untraced one.

Everything a run writes lives under .bench_build/runs/ and is deleted when
the run ends. A host stamp (local[N], nproc, load average, CPU steal,
-Xmx, commit or source hash) is printed to stderr.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

# scale factor of each workload's generated inputs
SCALE = {"taq_chain": 0.01, "query_sweep": 0.001}
XMX = "3g"
JVM_TIMEOUT = 150
BUILD_TIMEOUT = 700
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_hash():
    h = hashlib.sha256()
    for top in ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]:
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def commit():
    """The checkout's git commit, when it is a git repository."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                             cwd=ROOT, capture_output=True, text=True,
                             timeout=10).stdout.split()
    except (OSError, subprocess.TimeoutExpired):
        return None
    if len(out) == 2 and os.path.realpath(out[0]) == os.path.realpath(ROOT):
        return out[1]
    return None


def classpath(src_hash):
    """Builds graft and the driver once per source hash."""
    stamp = os.path.join(BUILD, f"classpath-{src_hash}.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    log("[perfbench] building graft and the driver with sbt")
    out = os.path.join(BUILD, "sbt-export.log")
    with open(out, "w") as fh:
        rc = wait_group(subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.forcestart=false",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=sys.stderr,
            start_new_session=True), BUILD_TIMEOUT)
    with open(out) as fh:
        text = fh.read()
    lines = [ln for ln in text.splitlines() if ".jar" in ln]
    if rc != 0 or not lines:
        log(text[-4000:])
        raise SystemExit("[perfbench] build failed")
    with open(stamp, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def wait_group(proc, timeout):
    """Waits for a child started in its own session; on timeout, SIGTERM
    or ^C, kills its whole process group, so nothing outlives this script.
    """
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"[perfbench] {proc.args[0]} timed out after {timeout} s")
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def run_jvm(cp, args, run_dir, n):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(n)
    env["SPARK_LOCAL_DIRS"] = tmp
    env.pop("GRAFT_CONF", None)
    cmd = (["java", f"-Xmx{XMX}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dderby.system.home={tmp}"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Driver"] + args)
    return wait_group(subprocess.Popen(
        cmd, cwd=run_dir, env=env, stdout=sys.stderr, stderr=sys.stderr,
        start_new_session=True), JVM_TIMEOUT)


def metrics(r, trace, n):
    passes = r["passes"]
    if not trace:
        return {
            "setup_s": (statistics.median(r["setup_s"][1:]), "s"),
            "run_s": (statistics.median(passes["wall_s"]), "s"),
            "peak_heap_mb": (r["peak_heap_mb"], "MB"),
        }
    spans = r["spans"]
    tot = lambda k: sum(s[k] for s in spans.values())
    for name, s in sorted(spans.items()):
        log(json.dumps({"span": name, **{k: round(v, 6) for k, v in s.items()}}))
    return {
        "op.p50_s": (statistics.median(o["s"] for o in r["ops"]), "s"),
        "spark.jobs": (tot("jobs"), "count"),
        "spark.stages": (tot("stages"), "count"),
        "spark.tasks": (tot("tasks"), "count"),
        "spark.task_cpu_s": (tot("task_cpu_s"), "s"),
        "jvm.gc_s": (statistics.median(passes["gc_s"]), "s"),
        "spark.shuffle_write_bytes": (tot("shuffle_write_bytes"), "bytes"),
        "spark.peak_exec_mem_mb": (max(s["peak_exec_mem_mb"]
                                       for s in spans.values()), "MB"),
        "spark.cpu_util": (tot("task_cpu_s") /
                           (statistics.mean(passes["wall_s"]) * n), "ratio"),
        "driver_s": (tot("driver_s"), "s"),
        "driver.cpu_s": (tot("driver_cpu_s"), "s"),
        "setup.cold_s": (r["setup_s"][0], "s"),
        "trace.run_s": (statistics.median(passes["wall_s"]), "s"),
    }


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float,
                    help="input scale factor (default: the workload's)")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("[perfbench] not a graft checkout: no build.sbt "
                         "and src/main/scala/graft next to perfbench/")
    n = cores()
    src = source_hash()
    cp = classpath(src)

    import checks
    import gen
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        stamp = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                 "nproc": n, "xmx": XMX, "source": src, "commit": commit(),
                 "load_start": os.getloadavg()}
        in_dir = os.path.join(run_dir, "in")
        t0 = time.time()
        gen.write(in_dir, a.scale or SCALE[a.workload], a.seed)
        t1 = time.time()
        result = os.path.join(run_dir, "result.json")
        steal0, total0 = cpu_ticks()
        rc = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--in", in_dir, "--work",
                          os.path.join(run_dir, "work"), "--result", result],
                         run_dir, n)
        t2 = time.time()
        steal1, total1 = cpu_ticks()
        if rc != 0 or not os.path.exists(result):
            raise SystemExit(f"[perfbench] driver exited with {rc}")
        with open(result) as f:
            r = json.load(f)
        bad = checks.run_checks(in_dir, r["check_dir"], r["checks"])
        wrong = {op: e for op, e in bad.items() if e}
        stamp.update(
            master=r["master"], load_end=os.getloadavg(),
            steal=(steal1 - steal0) / max(1, total1 - total0),
            out_bytes_per_pass=r["out_bytes"] / len(r["passes"]["wall_s"]),
            phases_s={"inputs": t1 - t0, "driver": t2 - t1,
                      "checks": time.time() - t2},
            setups_s=r["setup_s"], passes=r["passes"],
            op_median_s={name: statistics.median(
                o["s"] for o in r["ops"] if o["name"] == name)
                for name in sorted({o["name"] for o in r["ops"]})})
        log(json.dumps({"stamp": stamp}))
        for op, e in wrong.items():
            log(f"[perfbench] {op}: output check failed: {e}")
        # every timed call of an op whose output is wrong counts as failed
        failed = r["failed"] + sum(1 for o in r["ops"] if o["name"] in wrong)
        failed = min(failed, r["attempted"])
        correct = (not wrong and r["failed"] == 0 and
                   r["master"] == f"local[{n}]")
        m = metrics(r, a.trace == 1, n)
        print(json.dumps({
            "correct": correct, "attempted": r["attempted"],
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
