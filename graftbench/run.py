#!/usr/bin/env python3
"""graft benchmark: one seeded workload, one closed loop, one JSON line.

    python3 graftbench/run.py --workload <dq_checks|curation> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 graftbench/run.py --selftest

Run from the repository root. The first run builds graft and the harness
from source (graftbench/build.py). Each run works in a fresh directory
under .bench_build/runs (its own java.io.tmpdir, warehouse, checkpoint and
store directories), writes an artifact with the environment, the traffic
dimensions and every metric to .bench_build/artifacts, and prints as its
last stdout line {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("dq_checks", "curation")
HEAP = "3g"
JVM_BUDGET_S = 170  # a run must end within 180 s once built
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"graftbench: {msg}", file=sys.stderr, flush=True)


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true",
                   help="run the benchmark's own tests (generator determinism, failure accounting)")
    a = p.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        p.error("--workload, --seed and --seconds are required")

    source_digest = build.build()
    cpus = os.cpu_count() or 1
    name = "selftest" if a.selftest else f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(build.OUT, "runs", f"{name}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "result.json")
    jvm_log = os.path.join(run_dir, "jvm.log")
    jvm = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
           + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", build.classpath()])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    if a.selftest:
        r = subprocess.run(jvm + ["graftbench.SelfTest", "--dir", run_dir, "--cpus", str(cpus)],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, env=env)
        print("".join(l + "\n" for l in r.stdout.splitlines() if l.startswith("[selftest]")), end="")
        shutil.rmtree(run_dir, ignore_errors=True)
        return r.returncode
    cmd = jvm + ["graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace), "--cpus", str(cpus),
                 "--dir", run_dir, "--out", out]
    load_before = os.getloadavg()
    started = time.time()
    with open(jvm_log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=JVM_BUDGET_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    load_after = os.getloadavg()
    if code != 0 or not os.path.exists(out):
        with open(jvm_log) as fh:
            tail = fh.read()[-4000:]
        log(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}; log tail:\n{tail}")
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1
    with open(out) as fh:
        res = json.load(fh)
    res["env"].update({
        "git_sha": git_sha(), "source_digest": source_digest, "xmx": HEAP,
        "loadavg_before": load_before, "loadavg_after": load_after,
        "wall_s": time.time() - started, "workload": a.workload, "seconds": a.seconds,
        "trace": a.trace})
    arts = os.path.join(build.OUT, "artifacts")
    os.makedirs(arts, exist_ok=True)
    stem = os.path.join(arts, f"{a.workload}-s{a.seed}-t{a.trace}-{int(started)}")
    with open(stem + ".json", "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True)
    spans = os.path.join(run_dir, "spans.jsonl")
    if os.path.exists(spans):
        shutil.move(spans, stem + ".spans.jsonl")
    shutil.rmtree(run_dir, ignore_errors=True)
    for f in res["failures"]:
        log(f"failure: {f}")
    for k, m in sorted(res["metrics"].items()):
        log(f"{k} = {m['value']} {m['unit']}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
