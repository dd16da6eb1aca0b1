#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (cached under .perfbench/),
generates the workload's inputs from the seed, samples set-up time in a
probe JVM, then runs the closed-loop client (harness/Main.scala) in a
fresh JVM and working directory: one cold pass, one untimed settling pass,
then warm passes for the given seconds. Outputs are checked after the
timed windows. The last line of stdout is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1 (which also writes the
span tree to .perfbench/traces/).
See perfbench/README.md for every metric.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

# The analytic queries (a sub-second sql_* query and two of the heavy,
# shuffle-heavy ROADMAP targets) followed by the text pipeline (dedup
# kernels, then the tokenizer's train before its apply, so the cold pass
# pays the training). An odd count keeps op_p50_ms on one operation.
QUERY_MIX_OPS = [
    "sql_q1_pricing", "graph_copurchase_support", "ml_conformal_interval",
    "dedup_minhash", "dedup_simhash_pairs", "vocab_bpe_train", "vocab_bpe_apply",
]
WORKLOADS = {
    "product_build": {"ops": ["discover", "build", "read_back", "refresh", "compact"]},
    "query_mix": {"ops": QUERY_MIX_OPS, "sf": 0.01},
}
JVM_TIMEOUT_S = 150
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    that the repository's sbt build compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(f"{home}/jars"):
        return f"{home}/jars"
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise RuntimeError("no Spark jars: set SPARK_HOME")
    return m.group(1)


def nproc():
    return len(os.sched_getaffinity(0))


def source_key(root):
    h = hashlib.sha256()
    files = sorted(glob.glob(f"{root}/src/main/**/*", recursive=True) +
                   glob.glob(f"{root}/perfbench/harness/*.scala") +
                   [f"{root}/perfbench/build.sh"])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, state):
    """Compiled classes directory, rebuilt when any source changed."""
    if not os.path.isdir(f"{root}/src/main/scala"):
        raise RuntimeError("no engine sources (src/main/scala) under the current directory")
    out = os.path.join(state, "build", source_key(root))
    if not os.path.exists(f"{out}/ok"):
        for old in glob.glob(f"{state}/build/*"):
            shutil.rmtree(old, ignore_errors=True)
        os.makedirs(out)
        log = os.path.join(state, "build.log")
        with open(log, "w") as f:
            r = subprocess.run(["bash", "perfbench/build.sh", out, spark_jars()], cwd=root,
                               stdout=f, stderr=subprocess.STDOUT, timeout=840)
        if r.returncode != 0:
            raise RuntimeError(f"build failed (exit {r.returncode}), see {log}")
    return f"{out}/classes"


def jvm(classes, mode, cfg, work):
    """Run the harness in a fresh working directory; returns (launch epoch
    seconds, the JSON it wrote, None for `stage`)."""
    os.makedirs(f"{work}/tmp")
    os.makedirs(f"{work}/spark-local")
    cfg = dict(cfg, out=f"{work}/{mode}.json")
    with open(f"{work}/config.json", "w") as f:
        json.dump(cfg, f)
    cmd = ["java", *ADD_OPENS, "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=1g",
           "-XX:+UseCodeCacheFlushing", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{classes}:{spark_jars()}/*", "perfbench.Main", mode, f"{work}/config.json"]
    # Only the inputs may steer the engine: drop its developer knobs.
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    t0 = time.time()
    with open(f"{work}/jvm.log", "w") as log:
        r = subprocess.run(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                           timeout=JVM_TIMEOUT_S)
    if r.returncode != 0:
        with open(f"{work}/jvm.log") as log:
            tail = log.read()[-3000:]
        raise RuntimeError(f"harness {mode} exited {r.returncode}:\n{tail}")
    if mode == "stage":
        return t0, None
    with open(cfg["out"]) as f:
        return t0, json.load(f)


def digest_files(paths):
    h, total = hashlib.sha256(), 0
    for p in sorted(paths):
        with open(p, "rb") as f:
            b = f.read()
        h.update(os.path.basename(p).encode())
        h.update(b)
        total += len(b)
    return h.hexdigest()[:16], total


def run(classes, state, workload, seed, seconds, trace):
    wl = WORKLOADS[workload]
    cores = nproc()
    run_dir = os.path.join(state, "runs", f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = f"{run_dir}/inputs"
    cfg = {"cores": str(cores), "workload": workload, "data_dir": data_dir}
    clock = [("start", time.time())]
    try:
        if workload == "product_build":
            spec = gen.product_spec(seed, cores)
            expect = gen.product_expectations(spec)
            gen.write_product_staging(spec, data_dir)
            cfg["big_dataset"] = spec["datasets"][spec["big"]]["uuid"]
            cfg["refresh_dataset"] = spec["datasets"][spec["refresh"]]["uuid"]
        else:
            gen.write_tables(seed, wl["sf"], data_dir)
        if workload == "product_build":
            # the engine's h5ad writer, in a JVM that starts no session
            jvm(classes, "stage", cfg, f"{run_dir}/stage")
        inputs = glob.glob(f"{data_dir}/*.h5ad" if workload == "product_build"
                           else f"{data_dir}/*.parquet")
        input_digest, input_bytes = digest_files(inputs)
        clock.append(("inputs", time.time()))

        # A probe JVM repeats the measured JVM's set-up (session, then the
        # operation list) in its own fresh working directory and stops;
        # with the measured JVM it gives the two set-up samples.
        cfg["ops"] = wl["ops"]
        work = f"{run_dir}/probe"
        t0, res = jvm(classes, "probe", dict(cfg, run_dir=work), work)
        setups = [res["ready_ms"] / 1000.0 - t0]
        clock.append(("probe", time.time()))

        work = f"{run_dir}/main"
        t0, raw = jvm(classes, "run", dict(
            cfg, run_dir=work, check_dir=f"{work}/check",
            seconds=seconds, trace=bool(trace), min_warm=4 if trace else 3), work)
        setups.append(raw["ready_ms"] / 1000.0 - t0)
        clock.append(("client", time.time()))

        if workload == "product_build":
            bad = check.check_product(raw["ops"], f"{work}/product", expect)
        else:
            verdict = check.check_queries(data_dir, f"{work}/check", wl["ops"],
                                          raw["check_errors"])
            # a result that could not be written already counts as a failed execution
            bad = {k: v for k, v in verdict.items() if v and k not in raw["check_errors"]}
        exec_failed = sum(1 for r in raw["ops"] if not r["ok"])
        attempted = len(raw["ops"])
        failed = exec_failed + len(bad)
        dirty = stats.contamination(raw["passes"], cores, raw["other_jvms"])
        clock.append(("check", time.time()))
        print("harness wall (s): " + ", ".join(
            f"{b[0]} {b[1] - a[1]:.1f}" for a, b in zip(clock, clock[1:])))

        if trace:
            metrics = stats.per_layer(raw, input_bytes, workload)
            extras = {}
        else:
            metrics, extras = stats.end_to_end(raw, setups)
        extras["failed_frac"] = (failed / attempted, "ratio")
        if workload == "product_build":
            extras["write_amp"] = (raw["product_bytes"] / input_bytes, "ratio")

        if trace:
            os.makedirs(f"{state}/traces", exist_ok=True)
            path = f"{state}/traces/{workload}-s{seed}.json"
            with open(path, "w") as f:
                json.dump({"workload": workload, "seed": seed, "cores": cores,
                           "input_digest": input_digest, "contamination": dirty,
                           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                           "self_ms": stats.self_times(raw["spans"]),
                           "per_op": stats.per_op(raw),
                           "ops": raw["ops"], "passes": raw["passes"],
                           "spans": raw["spans"]}, f)
            print(f"trace written to {os.path.relpath(path)}")
        report(workload, seed, cores, raw, metrics, extras, setups, bad,
               exec_failed, dirty, input_digest, input_bytes)
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(workload, seed, cores, raw, metrics, extras, setups, bad, exec_failed,
           dirty, input_digest, input_bytes):
    print(f"workload {workload}  seed {seed}  local[{cores}]  "
          f"inputs {input_bytes} bytes sha256:{input_digest}")
    print("set-up samples (s): " + ", ".join(f"{s:.3f}" for s in setups))
    warm = {}
    for r in raw["ops"]:
        if r["pass"] > 0:
            warm.setdefault(r["op"], []).append(stats.op_ms(r))
    for r in raw["ops"]:
        if r["pass"] == 0:
            print(f"  {r['op']:32s} [{r['module']:9s}] cold {stats.op_ms(r):9.1f} ms"
                  f"  warm p50 {stats.median(warm.get(r['op'], [])):9.1f} ms")
    if any(r["traced"] for r in raw["ops"] if r["pass"] > 0):
        print("per operation, medians over the traced warm passes:")
        print(f"  {'op':28s} {'construct':>9s} {'exec':>7s} {'core_use':>8s} {'jobs':>4s}"
              f" {'task_ms':>8s} {'shuf_wr_kB':>10s} {'h5ad_ms':>8s} {'write_ms':>8s}")
        for o in stats.per_op(raw):
            print(f"  {o['op']:28s} {o['construct_ms']:9.1f} {o['exec_ms']:7.1f}"
                  f" {o['core_use']:8.3f} {o['jobs']:4.0f} {o['task_ms']:8.0f}"
                  f" {o['shuffle_write_bytes'] / 1024:10.1f} {o['h5ad_decode_task_ms']:8.0f}"
                  f" {o['write_ms']:8.1f}")
    for name, (v, unit) in list(metrics.items()) + list(extras.items()):
        print(f"{name} = {'n/a' if v is None else f'{v:.6g}'} {unit}")
    print(f"failed executions {exec_failed}; wrong outputs {len(bad)}")
    for op, why in bad.items():
        print(f"  WRONG {op}: {why}")
    print("contamination: " + ("SUSPECT (" + "; ".join(dirty["reasons"]) + ")"
                               if dirty["suspect"] else "clean")
          + f"; worst window: other processes {dirty['worst_other_cpu_share']:.2%},"
          f" steal {dirty['worst_steal_share']:.2%} of the cores")
    # The same verdict as JSON, on the line before the result, whose keys
    # are fixed.
    print(json.dumps({"suspect": dirty["suspect"], "reasons": dirty["reasons"]}))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # Turn SIGTERM into an exception: subprocess.run then kills and reaps
    # the JVM, and the run directory is removed on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    state = os.path.join(root, ".perfbench")
    try:
        classes = build(root, state)
        result = run(classes, state, a.workload, a.seed, a.seconds, a.trace)
    except Exception as e:  # noqa: BLE001 - any failure means no result line
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
