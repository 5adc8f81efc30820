#!/usr/bin/env python3
"""CC engine benchmark: one workload per invocation, in a fresh JVM.

    python3 perfbench/run.py --workload scatter --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark (perfbench/build.py), runs
`perfbench.Main` with a fixed heap on `local[4]`, and prints each metric
by name with its unit, the per-op times and the run's context, then as
its last line one JSON object: {"correct", "attempted", "failed",
"metrics"}. The full record of the run (every op time, host witness,
session config, spans) is written to .bench_build/runs/. Workloads,
metrics and their expected movements are described in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("scatter", "grouped")
HEAP = "2g"
TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(classes, args, scratch, log):
    cp = os.pathsep.join([classes, build.spark_classpath()])
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={scratch}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--local-dir", os.path.join(scratch, "spark")]
           + args)
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def fail(msg, log=None):
    print(msg, file=sys.stderr)
    if log and os.path.exists(log):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    try:
        classes = build.build()
    except build.BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)

    runs = os.path.join(build.BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    tag = "selftest" if a.selftest else f"{a.workload}-s{a.seed}-t{a.trace}"
    log = os.path.join(runs, tag + ".log")
    scratch = tempfile.mkdtemp(prefix="tmp-", dir=build.BUILD)
    out = os.path.join(scratch, "result.json")
    try:
        if a.selftest:
            code = jvm(classes, ["--selftest", "1"], scratch, log)
            with open(log) as f:
                sys.stdout.write("".join(l for l in f if l.startswith("selftest")))
            sys.exit(0 if code == 0 else 1)
        code = jvm(classes, ["--workload", a.workload, "--seed", str(a.seed),
                             "--seconds", str(a.seconds), "--trace", str(a.trace),
                             "--out", out], scratch, log)
        if code is None:
            fail(f"benchmark JVM timed out after {TIMEOUT_S} s", log)
        if code != 0 or not os.path.exists(out):
            fail(f"benchmark JVM exited with code {code}", log)
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    with open(os.path.join(runs, tag + ".json"), "w") as f:
        json.dump(res, f, indent=1)

    ops = [f"{o['phase']}:{o['s']:.3f}{'' if o['ok'] else '!'}" for o in res["ops"]]
    print("ops_s " + " ".join(ops))
    print("context " + json.dumps(res["context"], sort_keys=True))
    h = res["host"]
    for k in ("start", "end"):
        print(f"host_{k} " + json.dumps(h[k], sort_keys=True))
    for name, m in sorted(res["metrics"].items()):
        print(f"metric {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": res["metrics"],
    }))


if __name__ == "__main__":
    main()
