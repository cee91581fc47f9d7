#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) together with the benchmark (perfbench/src) into
.bench_build/perfbench (see build.py); later runs reuse that build while
the sources are unchanged. The last line of standard output is the result
object {"correct", "attempted", "failed", "metrics"}; the line before it
records the run conditions. Each run also appends its conditions and result
to .bench_build/perfbench/runs.jsonl, a traced run writes its spans to
.bench_build/perfbench/trace-<workload>-<seed>.json, and Spark's log goes
to .bench_build/perfbench/logs/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

RUN_TIMEOUT_S = 170
SMOKE_TIMEOUT_S = 600
HEAP = "3g"
YOUNG = "1g"


def java_cmd(classes, work, main_args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    # Fixed heap and young generation: G1 neither resizes the young
    # generation nor shrinks the heap after the full collections that
    # sample the live heap, so the GC's share of cpu_s does not swing from
    # run to run. A fixed number of JIT compiler threads, for the same
    # reason. No hsperfdata file: nothing is written outside the checkout.
    flags = [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
             "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        flags += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    return ["java", *flags, "-cp", cp, "perfbench.Main", *main_args]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--smoke", action="store_true",
                    help="toy-size run of every workload, plus a run against a "
                         "deliberately wrong expectation that must be rejected")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required unless --smoke is given")

    out = os.path.join(ROOT, ".bench_build", "perfbench")
    classes = build.ensure_built(ROOT, out)
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    work = os.path.join(out, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(out, "logs"), exist_ok=True)
    if a.smoke:
        main_args = ["--smoke"]
        log = os.path.join(out, "logs", "smoke.log")
    else:
        main_args = ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", a.trace]
        log = os.path.join(out, "logs", f"{a.workload}-{a.seed}-trace{a.trace}.log")
    main_args += ["--work", os.path.join(work, "run"), "--records", out,
                  "--cores", str(cores)]

    with open(log, "w") as err:
        proc = subprocess.Popen(java_cmd(classes, work, main_args), cwd=ROOT,
                                stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            stdout, _ = proc.communicate(timeout=SMOKE_TIMEOUT_S if a.smoke else RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"benchmark run timed out; see {log}")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if a.smoke:
        print("\n".join(lines))
        sys.exit(proc.returncode)
    if proc.returncode != 0 or not lines:
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        sys.exit(f"benchmark JVM exited with {proc.returncode}; see {log}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("benchmark JVM printed no result line")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
