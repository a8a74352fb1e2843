#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload chains --seed 1 --seconds 8 --trace 0

Builds the program from source if needed, generates the op plan from
the seed, runs it in one fresh JVM on local[<cores>] with its own
temporary and Spark local directories, checks the results, and prints a
readable report followed by one JSON line with the metrics. With
`--trace 1` the JSON carries the per-layer metrics, and the spans are
written to `.bench_build/traces/<workload>-seed<seed>.json`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pyarrow.parquet as pq

import build
import check
import plan
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.1")
JVM_TIMEOUT_S = 170
# A fixed heap keeps the JVM's resident size from following the
# collector's sizing choices run to run.
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these opens (the same list
# as the program's build).
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_jvm(classes, plan_path, out_dir, run_dir, cores):
    """Start the harness; return (launch time, exit code)."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=local)
    cmd = (["java", "-XX:-UsePerfData"] + OPENS + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "harness", "log4j2.properties"),
        "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
        "perfbench.Harness", plan_path, out_dir])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        launched = time.time()
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            raise
    return launched, code


def read_events(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def report(title, metrics):
    print(f"# {title}")
    for k, (v, unit) in metrics.items():
        print(f"{k:28s} {v:14.6f} {unit}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(plan.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    if not os.path.isfile(os.path.join(DATA, "documents.parquet")):
        fail(f"benchmark data not found under {DATA}")

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".bench_build", "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        out_dir = os.path.join(run_dir, "out")
        plan_path = os.path.join(run_dir, "plan.txt")
        store_plan = None
        if plan.WORKLOADS[a.workload]["kind"] == "lifecycle":
            t = pq.read_table(os.path.join(DATA, "documents.parquet"),
                              columns=["doc_id", "text"])
            text_bytes = {d: len(x.encode()) for d, x in zip(
                t.column("doc_id").to_pylist(), t.column("text").to_pylist())}
            store_plan = (text_bytes,) + plan.lifecycle_epochs(a.seed, text_bytes)
        doc_ids = store_plan[0] if store_plan else None
        plan.write_plan(plan_path, a.workload, a.seed, a.seconds, a.trace, DATA,
                        doc_ids)
        launched, code = run_jvm(classes, plan_path, out_dir, run_dir, cores)
        if code != 0:
            with open(os.path.join(run_dir, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-6000:])
            fail(f"harness exited with code {code}", 1)
        # a traced run keeps every timed pass: its passes alternate
        # between traced and untraced for the overhead figure
        run = stats.Run(read_events(os.path.join(out_dir, "events.jsonl")),
                        None if a.trace else a.seconds)
        print_results(a, run, launched, out_dir, store_plan)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def print_results(a, run, launched, out_dir, store_plan):
    spec = plan.WORKLOADS[a.workload]
    cards = spec.get("cards", [])
    failed_cards = check.check_cards(os.path.join(out_dir, "results"), cards)
    bad_probes = set()
    if store_plan:
        answers = check.probe_answers(check.load_bands(), *store_plan[1:])
        bad_probes = check.bad_probes(run.get("probe_check"), answers)
    store_check = run.one.get("store_check", {"ok": True})
    e2e, attempted, failed = stats.end_to_end(
        run, launched, failed_cards, bad_probes, store_check["ok"])
    extra = stats.store_metrics(run, *store_plan) if store_plan else {}
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{attempted} timed ops, {stats.samples_beyond(attempted, 0.75)} beyond p75 "
          f"(the rule asks {stats.TAIL}), "
          f"warm-up {run.one['warmup']['passes']} passes of "
          f"{', '.join('%.2f' % t for t in run.one['warmup']['pass_s'])} s "
          f"(converged: {run.one['warmup']['converged']})")
    t = run.one["timed"]
    print(f"timed passes: {len(t['pass_s'])}, steal "
          f"{', '.join('%.3f' % x for x in t['steal'])}; kept {len(run.passes)} "
          f"spanning {run.pass_wall:.2f} s")
    if failed_cards:
        print("results that do not match the oracle: " + ", ".join(failed_cards))
    if bad_probes:
        print(f"probes whose candidate counts differ from the oracle: {len(bad_probes)}")
    if not store_check["ok"]:
        print(f"store check failed: {store_check}")
    shown = dict(e2e)
    shown["fail_ratio"] = (failed / attempted, "ratio")
    shown.update(extra)
    report("end to end", shown)
    metrics = e2e
    if a.trace:
        layer, spans, jobs = stats.per_layer(run, launched, plan.CHAINS, store_plan)
        report("per layer", layer)
        write_trace(a, spans, jobs, layer)
        metrics = layer
    correct = not failed_cards and not bad_probes and store_check["ok"]
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def write_trace(a, spans, jobs, layer):
    """Spans (op > construct/plan/exec > job > stage) and the per-layer
    metrics, written when the run ends."""
    out = []
    for s in spans.values():
        out.append({k: s[k] for k in ("id", "name", "parent", "op", "t0", "t1")})
    for j in jobs:
        out.append({k: j[k] for k in ("id", "name", "parent", "op", "t0", "t1")})
        for st in j["stages"]:
            out.append({"id": f"{j['id']}.s{st['id']}.{st['attempt']}",
                        "name": f"stage {st['id']}", "parent": j["id"],
                        "op": j["op"], "t0": st["t0"], "t1": st["t1"],
                        "tasks": st["tasks"], "task_s": st["run_s"]})
    d = os.path.join(ROOT, ".bench_build", "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{a.workload}-seed{a.seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": a.workload, "seed": a.seed, "spans": out,
                   "per_layer": {k: v for k, (v, _) in layer.items()}}, fh)
    print(f"trace: {os.path.relpath(path, ROOT)} ({len(out)} spans)")


if __name__ == "__main__":
    main()
