#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload profile_long --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run in a checkout builds the
benchmark (graft's sources plus perfbench/bench, and the generator) with
sbt. Inputs are generated per (workload, seed) by a separate JVM that has
no graft code on its classpath, and cached read-only under
perfbench/.inputs. Each run works in a fresh directory under
perfbench/.work and deletes it at the end.

With --trace 0 the last stdout line carries the end-to-end metrics
(setup_s, first_pass_s, pass_s); with --trace 1 it carries the per-layer
metrics of one traced pass. Exit code 0 means a result was printed.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORKLOADS = ("profile_long", "profile_wide", "curate")
# set-up is timed in the main JVM and in this many set-up-only JVMs; the
# reported setup_s is the median of all of them
SETUP_PROBES = 1
HEAP = "2g"
# every JVM of one run must end within this many seconds (the build aside)
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, log=None):
    if log is not None and log.exists():
        sys.stderr.write(log.read_text(errors="replace")[-4000:])
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Every file the build reads, for the rebuild stamp."""
    roots = [REPO / "src" / "main", HERE / "gen", HERE / "bench"]
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for root in roots:
        files += sorted(p for p in root.rglob("*") if p.is_file()
                        and "target" not in p.relative_to(root).parts)
    return files


def build():
    if not (REPO / "src" / "main" / "scala").is_dir():
        fail("no program sources under src/main/scala")
    digest = hashlib.sha256()
    for f in build_inputs():
        digest.update(str(f.relative_to(REPO)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    target = HERE / "target"
    stamp_file = target / "build.stamp"
    classpaths = [target / "gen.classpath", target / "bench.classpath"]
    if (stamp_file.exists() and stamp_file.read_text() == stamp
            and all(c.exists() for c in classpaths)):
        return
    # offline, no server, no boot lock, temp files inside the checkout
    tmp = target / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.offline=true -Dsbt.server.autostart=false"
                       f" -Dsbt.boot.lock=false -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    log = target / "build.log"
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspaths"],
                cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=out,
                stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build did not finish: {e}", log)
    if r.returncode != 0 or not all(c.exists() for c in classpaths):
        fail("build failed", log)
    stamp_file.write_text(stamp)


def java(classpath, main, args, work):
    jvm = Path(os.environ["JAVA_HOME"]) / "bin" / "java" \
        if "JAVA_HOME" in os.environ else "java"
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [str(jvm), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}", "-Dio.netty.tryReflectionSetAccessible=true",
            *opens, "-cp", (HERE / "target" / classpath).read_text().strip(),
            main, *args]


def run_jvm(cmd, work, deadline):
    """Run one JVM to completion, killed and reaped at `deadline`
    (a time.monotonic() value)."""
    work.mkdir(parents=True, exist_ok=True)
    log = work / "jvm.log"
    start = time.time_ns()
    with open(log, "w") as err:
        try:
            r = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL,
                               stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail("JVM did not finish within the run's time limit", log)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-2000:])
        fail(f"JVM exited with {r.returncode}", log)
    return start, r.stdout, log


def inputs(workload, seed, work, deadline):
    """Generated inputs for (workload, seed), cached read-only."""
    cache = HERE / ".inputs"
    final = cache / f"{workload}-{seed}"
    if (final / "reference.properties").exists():
        return final
    tmp = cache / f".tmp-{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    run_jvm(java("gen.classpath", "perfbench.gen.Gen",
                 [workload, str(seed), str(tmp)], work / "gen"), work / "gen", deadline)
    for p in tmp.rglob("*"):
        if p.is_file():
            p.chmod(0o444)
    try:
        tmp.rename(final)
    except OSError:  # another run cached the same inputs first
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def marked(stdout, marker):
    for line in stdout.splitlines():
        if line.startswith(marker + " "):
            return line[len(marker) + 1:]
    return None


def unit(metric):
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MiB"
    if metric.endswith("slot_busy"):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    work = HERE / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        ind = inputs(a.workload, a.seed, work, deadline)

        def bench(mode, sub, extra=()):
            w = work / sub
            return run_jvm(java("bench.classpath", "perfbench.Main",
                                ["--workload", a.workload, "--inputs", str(ind),
                                 "--work", str(w), "--mode", mode, *extra], w),
                           w, deadline)

        setups = []
        if not a.trace:
            for i in range(SETUP_PROBES):
                start, out, log = bench("setup", f"setup-{i}")
                ready = marked(out, "PERFBENCH_READY")
                if ready is None:
                    fail("set-up probe printed no ready time", log)
                setups.append((int(ready) - start) / 1e9)
        start, out, log = bench("run", "main",
                                ["--seconds", str(a.seconds), "--trace", str(a.trace)])
        raw = marked(out, "PERFBENCH_RESULT")
        if raw is None:
            fail("benchmark JVM printed no result", log)
        res = json.loads(raw)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    setups.append((res["ready_ns"] - start) / 1e9)
    for line in out.splitlines():
        if "calls (s):" in line:
            print(line)
    for m in res["messages"]:
        print(f"failure: {m}")
    print(f"setup_s samples: {setups}")
    print(f"first pass {res['first_pass_s']:.3f} s; timed {res['pass_s']}")
    if a.trace:
        values = res["layers"]
    else:
        values = {"setup_s": statistics.median(setups),
                  "first_pass_s": res["first_pass_s"],
                  "pass_s": statistics.median(res["pass_s"])}
    print(json.dumps({
        "correct": res["check_failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
