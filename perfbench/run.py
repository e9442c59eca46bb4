#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the graft engine.

    python3 perfbench/run.py --workload {wordcount,curation,ingest}
        --seed N --seconds S --trace {0,1}

Builds the engine and the benchmark from this checkout's sources (once;
rebuilt when a source changes), generates the workload's inputs from the
seed, runs one JVM at local[N] (N = min(4, nproc - 1), heap pinned), checks
every output, prints each metric with its unit, and ends stdout with one
JSON line: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics of BENCHMARK.json, `--trace 1` the
per-layer ones. Everything it writes stays under `.perfbench/` at the
checkout root; the full record of a run goes to `.perfbench/artifacts/`.
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

HEAP = "3g"
# set-up repeats per run; the first also pays JVM class loading
SETUPS = 7
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 800
STATE = os.path.join(ROOT, ".perfbench")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_proc(cmd, timeout, **kw):
    """Run to completion or kill the whole process group at the timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1, timeout))
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_stamp():
    h = hashlib.sha256(ROOT.encode())
    for base in ("build.sbt", "project/build.properties", "src/main",
                 "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"):
        p = os.path.join(ROOT, base)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """sbt compile of engine + benchmark; returns (classpath, jvm options)."""
    launch = os.path.join(HERE, "target", "launch.txt")
    marker = os.path.join(STATE, "build.stamp")
    stamp = source_stamp()
    fresh = os.path.exists(launch) and os.path.exists(marker) and open(marker).read() == stamp
    if not fresh:
        # no sbt server, boot lock, perf-data file or temp files outside the checkout
        tmp = os.environ["TMPDIR"]
        cmd = ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
               "-Dsbt.boot.lock=false", f"-Dsbt.ivy.home={STATE}/ivy", f"-Djava.io.tmpdir={tmp}",
               f"-Djna.tmpdir={tmp}"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        with open(os.path.join(STATE, "build.log"), "w") as log:
            rc = run_proc(cmd + ["writeLaunch"], BUILD_LIMIT_S, cwd=HERE,
                          env=dict(os.environ, COURSIER_MODE="offline",
                                   JAVA_TOOL_OPTIONS="-XX:-UsePerfData"),
                          stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        if rc != 0:
            die(f"build failed (exit {rc}), see .perfbench/build.log")
        with open(marker, "w") as fh:
            fh.write(stamp)
    with open(launch) as fh:
        lines = fh.read().splitlines()
    return lines[0], lines[1:]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()
    # a terminated run still stops its JVM: SystemExit unwinds through run_proc
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for need in ("build.sbt", "src/main/scala/graft", "scripts/check.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} is missing: run from a checkout of the repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    os.makedirs(os.path.join(STATE, "tmp"), exist_ok=True)
    # temporary files of this process and its children stay in the checkout
    os.environ["TMPDIR"] = os.path.join(STATE, "tmp")

    t_build = time.monotonic()
    cp, jvm_opts = build()
    build_s = time.monotonic() - t_build
    data, props, gen_s = gen.ensure(a.workload, a.seed, os.path.join(STATE, "inputs"))

    # one core stays free for the driver thread, which plans every query and
    # runs q137's loop, and for the JIT compiler threads, which still use
    # about a core through every steady curation pass
    n = max(1, min(4, (os.cpu_count() or 2) - 1))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(STATE, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result_path = os.path.join(work, "result.json")
    cmd = ["java", *jvm_opts, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-cp", cp, "perfbench.Main", "--workload", a.workload, "--input", data,
           "--work", work, "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--n", str(n), "--setups", str(SETUPS), "--out", result_path]
    left = RUN_LIMIT_S - (time.monotonic() - t_start - build_s) - 15
    t_jvm = time.monotonic()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            rc = run_proc(cmd, left, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                          stdin=subprocess.DEVNULL, env=dict(os.environ, SPARK_DRIVER_MEM=HEAP))
        except subprocess.TimeoutExpired:
            die(f"the run exceeded its time limit, see {os.path.relpath(log.name, ROOT)}")
    if rc != 0 or not os.path.exists(result_path):
        die(f"the JVM failed (exit {rc}), see {os.path.relpath(log.name, ROOT)}")
    jvm_s = time.monotonic() - t_jvm
    with open(result_path) as fh:
        res = json.load(fh)

    # correctness, outside every timed region
    t_check = time.monotonic()
    failed_checks = [c for c in res["checks"] + res.get("stream", {}).get("checks", [])
                     if not c["ok"]]
    if a.workload == "wordcount":
        ref = checks.wordcount_reference(os.path.join(data, "input"))
        for o in res["wordcount_outputs"]:
            cause = checks.check_wordcount(ref, o["dir"])
            if cause:
                failed_checks.append({"name": "wordcount.run", "pass": o["pass"], "cause": cause})
    if a.workload == "curation":
        for q, cause in checks.check_curation(ROOT, data, res["curation_check_dir"]).items():
            if cause:
                failed_checks.append({"name": f"ops.{q}", "pass": -1, "cause": cause})
    attempted, failed, failures = stats.errors(res, failed_checks)
    check_s = time.monotonic() - t_check + res["check_s"]

    e2e, e2e_info = stats.end_to_end(res, props["input_bytes"])
    layer = stats.per_layer(res, a.workload, props) if a.trace else {}
    layer["error_rate"] = failed / attempted
    names = {m["name"]: m["unit"] for m in spec["end_to_end" if not a.trace else "per_layer"]}
    values = e2e if not a.trace else layer
    unknown = sorted(set(values) - set(names))
    if unknown:
        die(f"metrics missing from BENCHMARK.json: {unknown}")
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in names.items()}

    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "env": dict(res["env"], heap=HEAP, build_s=build_s, check_s=check_s, jvm_s=jvm_s,
                    jvm_uptime_s=res["uptime_s"],
                    run_s=time.monotonic() - t_start),
        "input": dict(props, dir=os.path.relpath(data, ROOT), gen_s=gen_s),
        "end_to_end": e2e, "end_to_end_info": e2e_info, "per_layer": layer,
        "attempted": attempted, "failed": failed, "failures": failures,
        "setups": res["setups"], "jit_quiet_wait_s": res["jit_quiet_wait_s"],
        "passes": [{k: v for k, v in p.items() if k != "ops"} | {
            "ops": [[o["name"], o["s"], o["ok"]] for o in p["ops"]]} for p in res["passes"]],
        "probe_end_s": res["probe_end_s"], "load_end": res["load_end"],
        "stream": res.get("stream"),
    }
    os.makedirs(os.path.join(STATE, "artifacts"), exist_ok=True)
    art = os.path.join(STATE, "artifacts", tag + ".json")
    if a.trace:
        table = stats.span_table(res["spans"])
        artifact["span_table"] = [{"name": r[0], "count": r[1], "total_s": r[2], "self_s": r[3]}
                                  for r in table]
        spans = [dict(s, workload=a.workload) for s in res["spans"]]
        with open(os.path.join(STATE, "artifacts", tag + ".spans.json"), "w") as fh:
            json.dump(spans, fh)
    with open(art, "w") as fh:
        json.dump(artifact, fh, indent=1)

    print(f"perfbench {tag}: input {props['input_bytes'] / stats.MB:.2f} MB, gen {gen_s:.2f} s, "
          f"local[{n}], heap {HEAP}, artifact {os.path.relpath(art, ROOT)}")
    for k, m in metrics.items():
        print(f"  {k:42s} {m['value']:14.6f} {m['unit']}")
    if a.trace:
        print(f"  {'span':36s} {'count':>5s} {'total_s':>10s} {'self_s':>10s}")
        for r in artifact["span_table"]:
            print(f"  {r['name']:36s} {r['count']:5d} {r['total_s']:10.3f} {r['self_s']:10.3f}")
    for f in failures:
        print(f"  FAILED {f['op']} pass {f['pass']}: {f['cause']}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
