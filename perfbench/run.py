#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload <query_mix|query_hot_sf1|lake_lane>
        --seed <n> --seconds <s> --trace <0|1>

The first run in a tree compiles the program and the harness
(perfbench/build.py) and generates the input tables; later runs reuse
both from .bench_build/. Each run starts one JVM (local[nproc], fixed
heap) whose work directory is removed afterwards. With --trace 1 the
per-layer metrics are printed instead of the end-to-end ones, and the
spans are written to .bench_build/traces/.

Options for the self-tests: --tier tiny (sf0.001-shaped tables),
--arrivals <n> (fixed arrival count), --fault digest|rbac (corrupt one
expected value, so the check must fail).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import build  # noqa: E402  (the benchmark's build file, beside this one)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "2g"
JVM_TIMEOUT_S = 170

# workload -> (data tier, GenData factor relative to sf0.1)
TIERS = {"mix": 0.1, "hot": 1.0, "tiny": 0.01}
WORKLOAD_TIER = {"query_mix": "mix", "query_hot_sf1": "hot", "lake_lane": None}

ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
    for a in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_metrics():
    with open(os.path.join(HERE, "metrics.json")) as f:
        return json.load(f)


def java_cmd(classes, work, props, main, args, cds=None):
    """The JVM command line. `cds` names a class-data sharing archive of
    the loaded classes: mapped when it exists, written at exit when it
    does not (so the first run of a workload in a tree pays the class
    loading, later runs map it)."""
    cp = ":".join([os.path.join(classes, "app.jar")] + build.spark_classpath())
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    share = []
    if cds:
        share = ([f"-XX:SharedArchiveFile={cds}"] if os.path.exists(cds)
                 else [f"-XX:ArchiveClassesAtExit={cds}"])
    return (["java"] + ADD_OPENS + share +
            [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp", f"-Dperfbench.work={work}",
             f"-Dperfbench.cpus={os.cpu_count()}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
            [f"-D{k}={v}" for k, v in props.items()] +
            ["-cp", cp, main] + args)


def jvm_env():
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    return env


def run_jvm(cmd, timeout):
    """Runs the JVM to completion (killing it on timeout); returns
    (exit code, stdout)."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=None, text=True,
                         env=jvm_env())
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        log(f"JVM exceeded {timeout} s and was stopped")
        return 124, ""
    return p.returncode, out


def ensure_data(tier, classes):
    """The tier's tables, generated once per tree (generation time is
    logged, and is not part of any run's set-up)."""
    gen = os.path.join(HERE, "src", "perfbench", "GenData.scala")
    with open(gen, "rb") as f:
        key = hashlib.sha256(f.read() + str(TIERS[tier]).encode()).hexdigest()[:12]
    out = os.path.join(build.build_dir(), "data", f"{tier}-{key}")
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    stage = out + ".staging"
    shutil.rmtree(stage, ignore_errors=True)
    work = os.path.join(build.build_dir(), "work", f"gen-{tier}-{os.getpid()}")
    t0 = time.time()
    code, _ = run_jvm(java_cmd(classes, work, {}, "perfbench.GenData",
                               [stage, str(TIERS[tier]), tier,
                                os.path.join(HERE, "digests")]), 600)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        raise build.BuildError(
            f"data generation for tier {tier} failed (exit {code}; 3 means"
            " the tables differ from perfbench/digests/inputs.tsv)")
    open(os.path.join(stage, ".complete"), "w").close()
    os.rename(stage, out)
    log(f"generated tier {tier} in {time.time() - t0:.1f} s (not part of setup_s)")
    return out


def commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_TIER))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tier", choices=sorted(TIERS))
    ap.add_argument("--arrivals", type=int, default=0)
    ap.add_argument("--fault", default="")
    a = ap.parse_args()

    spec = load_metrics()
    try:
        classes, src_hash = build.build()
        tier = a.tier or WORKLOAD_TIER[a.workload]
        data = ensure_data(tier, classes) if WORKLOAD_TIER[a.workload] else ""
    except build.BuildError as e:
        log(f"cannot run: {e}")
        return 2

    bdir = build.build_dir()
    work = os.path.join(bdir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spans = os.path.join(bdir, "traces",
                         f"{a.workload}-seed{a.seed}.spans.jsonl") if a.trace else ""
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--tier", tier or "lane", "--digests", os.path.join(HERE, "digests"),
            "--spans", spans, "--arrivals", str(a.arrivals),
            "--fault", a.fault]
    props = {"perfbench.commit": commit(), "perfbench.source_hash": src_hash}
    try:
        cds = os.path.join(bdir, f"cds-{src_hash}-{a.workload}.jsa")
        for old in glob.glob(os.path.join(bdir, "cds-*.jsa")):
            if not os.path.basename(old).startswith(f"cds-{src_hash}-"):
                os.remove(old)
        code, out = run_jvm(java_cmd(classes, work, props, "perfbench.Main",
                                     args, cds), JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    raw = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            raw = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if code != 0 or raw is None:
        log(f"run failed (exit {code})")
        return code or 1

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = raw["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got
               and not a.trace]
    if missing:
        log(f"harness did not report {missing}")
        return 1
    metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": raw["failed"] == 0,
                      "attempted": int(raw["attempted"]),
                      "failed": int(raw["failed"]),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
