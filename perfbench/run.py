"""Benchmark of the graft engine: permission-aware top-k serving and a cold
build-and-pipeline batch, driven from outside the engine's public API.

Usage (from the repository root):

    python3 perfbench/run.py --workload serve_2k --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(and the spans go to ``.bench_build/traces/``). See perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("serve_2k", "batch")
JVM_TIMEOUT_S = 150
HEAP = "3g"
# JDK 17 module opens Spark needs outside spark-submit (the list the
# repository's build.sbt passes to forked runs)
OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
SERVE_CLIENTS_MAX = 4
SERVE_VECS = 2_000
# first-touch order of every strategy: those whose first call builds the
# most go first, so the builds overlap instead of queueing behind light
# queries
SERVE_SETUP_ORDER = (
    "rbac.dynamicPartitionTopK", "ann.predicateAwareSearch", "sources.prefilterPruned",
    "rbac.combPartitionTopK", "rbac.prefilterTopK", "rbac.postfilterTopK", "rbac.rlsTopK",
    "rbac.rolePartitionTopK")
# users per client whose approximate answers give recall_at_10
SERVE_CHECK_USERS = 1
# the pipeline corpus: copies of a base set, so dedup has families to find
BATCH_BASE_DOCS = 2_500
BATCH_DOC_COPIES = 2
BATCH_QUERIES = 32
# steps of the warm-up pass over the tiny corpus: the first jobs of a JVM
# pay most of its JIT and codegen warm-up, whichever step runs them (a
# warm-up of every step cost 22 s more a run)
BATCH_WARM_STEPS = ("sources.materializeRoleLayout", "operators.q5LocalVolume")


def cpus():
    return len(os.sched_getaffinity(0))


def user_lists(rng, shape):
    return rng.integers(0, gen.N_USERS, shape).tolist()


def prepare_serve(run_dir, seed, seconds):
    data = os.path.join(run_dir, "data")
    vecs, info = gen.corpus(data, seed, SERVE_VECS, gen.BASE_DOCS, 1, 0.1, ())
    clients = min(SERVE_CLIENTS_MAX, cpus())
    rng = np.random.default_rng([seed, 1])
    # first touches, heaviest builds first, dealt round-robin to clients
    setup = [[] for _ in range(clients)]
    for i, name in enumerate(SERVE_SETUP_ORDER):
        setup[i % clients].append({"strategy": name, "user": int(rng.integers(gen.N_USERS))})
    # recall check: each client runs the approximate strategies for its users
    warm = [[{"strategy": name, "user": int(u)}
             for u in rng.integers(gen.N_USERS, size=SERVE_CHECK_USERS)
             for name in sorted(checks.APPROXIMATE)]
            for _ in range(clients)]
    plan = {"dir": data, "clients": clients, "seconds": seconds, "setup": setup, "warm": warm,
            "users": user_lists(rng, (clients, 500)), "probe_users": user_lists(rng, 8)}
    return plan, {"vecs": vecs}, {"data": info}


def prepare_batch(run_dir, seed):
    def corpus(name, s, n_vecs, base_docs, copies, scale, keep):
        out = os.path.join(run_dir, name)
        return out, gen.corpus(out, s, n_vecs, base_docs, copies, scale, keep)

    tpch = ("region", "nation", "supplier", "part", "orders", "lineitem")
    rng = np.random.default_rng([seed, 2])
    queries = gen.unit_vectors(rng, BATCH_QUERIES)
    qpath = os.path.join(run_dir, "queries.parquet")
    gen.pq.write_table(gen.pa.table({
        "query_id": gen.pa.array(np.arange(BATCH_QUERIES, dtype=np.int64)),
        "qvec": gen.pa.array(list(queries), gen.pa.list_(gen.pa.float32()))}), qpath)
    tiny_b, _ = corpus("tiny_build", seed + 1, 200, 500, 1, 0.01, ())
    tiny_p, _ = corpus("tiny_pipe", seed + 1, 16, 500, 2, 0.01, tpch)
    b_dir, (vecs, b_info) = corpus("build", seed, 2_000, gen.BASE_DOCS, 1, 0.1, ())
    p_dir, (_, p_info) = corpus("pipe", seed, 16, BATCH_BASE_DOCS, BATCH_DOC_COPIES, 0.1, tpch)

    def pass_plan(build_dir, pipe_dir, layout):
        return {"build": build_dir, "pipe": pipe_dir, "queries": qpath,
                "out": os.path.join(run_dir, layout)}

    plan = {"warm": pass_plan(tiny_b, tiny_p, "layout_warm"),
            "warm_steps": list(BATCH_WARM_STEPS), "main": pass_plan(b_dir, p_dir, "layout"),
            "probe_users": user_lists(rng, 8)}
    truth = {"vecs": vecs, "queries": queries, "pipe": p_dir, "base_docs": BATCH_BASE_DOCS}
    return plan, truth, {"build": b_info, "pipe": p_info}


def run_jvm(classes, plan_path, result_path, run_dir):
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_LOCAL_DIR")}
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-XX:-UsePerfData"] + OPENS + [
        # a fixed heap: G1's adaptive resizing would make peak RSS noise
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
        f"-Dgraft.sidecar.dir={os.path.join(run_dir, 'sidecars')}",
        "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
        "perfbench.Main", plan_path, result_path])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                cwd=run_dir, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-6000:]
        raise RuntimeError(f"engine JVM exited with {code}:\n{tail}")
    with open(result_path) as f:
        return json.load(f)


def main():
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    try:
        classes = build.ensure(root)
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")

    run_dir = os.path.join(root, ".bench_build", "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        trace = bool(args.trace)
        if args.workload == "serve_2k":
            plan, truth, inputs = prepare_serve(run_dir, args.seed, args.seconds)
            plan["workload"] = "serve"
        else:
            plan, truth, inputs = prepare_batch(run_dir, args.seed)
            plan["workload"] = "batch"
        plan.update(cpus=cpus(), trace=trace,
                    local_dir=os.path.join(run_dir, "spark_local"),
                    warehouse_dir=os.path.join(run_dir, "warehouse"))
        plan_path = os.path.join(run_dir, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        t0 = time.time()
        raw = run_jvm(classes, plan_path, os.path.join(run_dir, "result.json"), run_dir)
        wall = time.time() - t0
        evaluate = checks.evaluate_serve if plan["workload"] == "serve" else checks.evaluate_batch
        report = evaluate(raw, plan, truth, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    inputs_fp = {name: gen.fingerprint(info) for name, info in inputs.items()}
    rows = {name: {t: v["rows"] for t, v in info.items()} for name, info in inputs.items()}
    summary = {"workload": args.workload, "seed": args.seed, "inputs": inputs_fp,
               "rows": rows, "jvm_wall_s": round(wall, 2), "errors": report["errors"][:10]}
    print(json.dumps(summary), file=sys.stderr)
    if trace:
        trace_dir = os.path.join(root, ".bench_build", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({**summary, "by_call": report["by_call"], "spans": raw["spans"]}, f)
        for name, row in sorted(report["by_call"].items()):
            print(f"  {name:40s} " + " ".join(f"{k}={v:.4g}" for k, v in row.items()),
                  file=sys.stderr)
    metrics = report["per_layer"] if trace else report["end_to_end"]
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
