#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --jvm-flags "-Xms2g -Xmx2g -XX:+UseSerialGC -XX:TieredStopAtLevel=1 -XX:+AlwaysPreTouch" \
        --workload marts|cdc --seed N --seconds S --trace 0|1

The first run in a checkout compiles graft and the harness with sbt
(`perfbench/build.sbt`); later runs reuse the classpath until a source
file changes. Each run is one fresh JVM on that classpath, so sbt is never
inside a measurement. Everything a run writes lives under `.bench_build/`
in the checkout; the run's own tables and Spark scratch space are deleted
when it ends. The last line of standard output is the result as JSON.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "classpath.stamp")

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# Share of the machine's CPU time the hypervisor gave to other guests
# while the JVM ran. Above this, wall-clock figures measure the host, not
# the program (runs at 15-22 % took 1.6-1.9 times as long as quiet ones),
# so the run fails and is to be re-run rather than compared.
MAX_STEAL = 0.25

# Spark on JDK 17 outside spark-submit needs these (the list build.sbt
# passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt")]
    for base in [os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]:
        files += [os.path.join(base, f) for f in sorted(os.listdir(base))
                  if f.endswith((".sbt", ".properties", ".scala"))] if os.path.isdir(base) else []
    files.append(os.path.join(BENCH, "build.sbt"))
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]:
        for d, subdirs, names in os.walk(base):
            subdirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt if the sources changed; return the classpath."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f, open(CLASSPATH) as g:
            cp = g.read().strip()
            if f.read().strip() == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "-Dsbt.offline=true"),
                                f"-Djava.io.tmpdir={tmp}", "-Dsbt.server.autostart=false"])
    log = os.path.join(BUILD, "build.log")
    print("[build] compiling graft and the harness with sbt", flush=True)
    t0 = time.time()
    with open(log, "w") as out:
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"],
                             cwd=BENCH, env=env, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             text=True, start_new_session=True)
        try:
            text, _ = p.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"sbt build timed out, see {log}", 1)
        out.write(text)
    shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in text.splitlines() if os.pathsep in l and ".jar" in l and " " not in l.strip()]
    if p.returncode != 0 or not lines:
        die(f"sbt build failed (exit {p.returncode}), see {log}", 1)
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(cp + "\n")
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")
    print(f"[build] done in {time.time() - t0:.0f} s", flush=True)
    return cp


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat; None where the
    kernel does not report them."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    # user nice system idle iowait irq softirq steal; guest time is
    # already inside user and nice
    return (fields[7], sum(fields[:8])) if len(fields) >= 8 else None


def expected_metrics(traced):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if traced else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["marts", "cdc"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--jvm-flags", required=True, help="the JVM's flags, as BENCHMARK.json records them")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"no graft sources at {ROOT} (build.sbt and src/main/scala are needed)")
    os.makedirs(BUILD, exist_ok=True)
    cp = build()

    traced = args.trace == "1"
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cmd = (["java"] + args.jvm_flags.split()
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", "-cp", cp,
              "graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace, "--work", run_dir])
    if traced:
        cmd += ["--trace-out", os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.jsonl")]
    # the run's settings are its flags alone: no engine switch, master or
    # scratch directory comes in from the environment
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in ("SPARK_MASTER", "SPARK_LOCAL_DIRS")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    err_path = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}.stderr")
    out = ""
    cpu0 = cpu_times()
    try:
        with open(err_path, "w") as err:
            p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, stderr=err,
                                 stdin=subprocess.DEVNULL, text=True, start_new_session=True)
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                die(f"{args.workload} run exceeded {RUN_TIMEOUT_S} s", 1)
            finally:
                if p.poll() is None:
                    os.killpg(p.pid, signal.SIGKILL)
                    p.wait()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    cpu1 = cpu_times()
    steal = None
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        steal = (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])
    lines = out.strip().splitlines()
    result = None
    if p.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if result is None:
        with open(err_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"{args.workload} run failed (exit {p.returncode}), stderr kept in {err_path}", 1)
    os.remove(err_path)
    missing = set(expected_metrics(traced)) ^ set(result["metrics"])
    if missing:
        die(f"metrics differ from BENCHMARK.json: {sorted(missing)}", 1)
    for line in lines[:-1]:
        print(line)
    # the result line's keys are fixed, so the host's share goes on the
    # line before it
    print("[host] steal " + ("unknown" if steal is None else f"{steal:.4f}")
          + " of CPU time while the JVM ran", flush=True)
    if steal is not None and steal > MAX_STEAL:
        die(f"the host stole {steal:.1%} of CPU time (limit {MAX_STEAL:.0%}): "
            "the run measures contention, re-run it on a quieter host", 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
