#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 perfbench/selftest.py [workload ...]

1. The same seed gives byte-identical inputs; another seed gives other ones.
2. For each workload, one pass runs, every check accepts the real output,
   and every check rejects each deliberately corrupted copy of it (a
   perturbed describe value, a swapped logical type, a dropped duplicate,
   ...). See Corrupt.scala for the full list.

Exits 1 if any test fails. Uses the same build and scratch space as run.py.
"""
import filecmp
import os
import shutil
import subprocess
import sys
import time

import run


def same_tree(a, b):
    files_a = sorted(p.relative_to(a) for p in a.rglob("*") if p.is_file())
    files_b = sorted(p.relative_to(b) for p in b.rglob("*") if p.is_file())
    return files_a == files_b and all(
        filecmp.cmp(a / f, b / f, shallow=False) for f in files_a)


def main():
    workloads = sys.argv[1:] or list(run.WORKLOADS)
    run.build()
    work = run.HERE / ".work" / f"selftest-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    failures = 0
    try:
        for w in workloads:
            dirs = {}
            for name, seed in (("a", 7), ("b", 7), ("c", 8)):
                out = work / f"{w}-{name}"
                run.run_jvm(run.java("gen.classpath", "perfbench.gen.Gen",
                                     [w, str(seed), str(out)], work / "gen"),
                            work / "gen", time.monotonic() + run.RUN_TIMEOUT_S)
                dirs[name] = out
            ok = same_tree(dirs["a"], dirs["b"])
            differs = not same_tree(dirs["a"], dirs["c"])
            print(f"{'ok  ' if ok else 'FAIL'} {w}: same seed, byte-identical inputs")
            print(f"{'ok  ' if differs else 'FAIL'} {w}: other seed, other inputs")
            failures += (not ok) + (not differs)

            out = selftest_jvm(w, dirs["a"], work / f"{w}-checks")
            print(out, end="")
            failures += out.count("FAIL")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest:", "passed" if failures == 0 else f"{failures} failures")
    sys.exit(1 if failures else 0)


def selftest_jvm(workload, inputs, work):
    """The check self-test exits 1 when a check misbehaves; keep its output."""
    work.mkdir(parents=True, exist_ok=True)
    log = work / "jvm.log"
    cmd = run.java("bench.classpath", "perfbench.Main",
                   ["--workload", workload, "--inputs", str(inputs),
                    "--work", str(work), "--mode", "selftest"], work)
    with open(log, "w") as err:
        r = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, stderr=err, text=True,
                           timeout=run.RUN_TIMEOUT_S)
    out = r.stdout
    if r.returncode != 0 and "FAIL" not in out:
        out += f"FAIL {workload}: self-test JVM exited with {r.returncode}\n"
        out += log.read_text(errors="replace")[-2000:]
    return out


if __name__ == "__main__":
    main()
