"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  It generates the workload's inputs from
the seed under ``.perfbench_work/``, starts fresh worker processes (each
with a fresh JVM) one after the other, and prints, as its last stdout line,
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the ``end_to_end`` metrics of
``BENCHMARK.json``; with ``--trace 1`` its ``per_layer`` metrics, and the
spans go to ``.perfbench_out/<workload>-seed<n>-trace.json``.  The line
before the result holds diagnostics: sample counts, the host canary and
the load average.  See ``perfbench/README.md`` for the workloads and
metric definitions.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from dataclasses import asdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from worker import SPEEDUP_BATCHES  # noqa: E402

PACKAGE = "duckdb_extension_kafquack_spark"

# per-workload inputs and run shape
KAFKA = {
    "topic": gen.TopicSpec(rows=30_000, rows_per_group=2_500),
    "batch_rows": 2_500,  # max_offsets_per_trigger: 12 micro-batches per drain
    "warmup": 2,  # warm scans run before the --seconds of counted scans, and not counted
    "min_warm": 5,  # counted warm scans run even past --seconds
}
QUERIES = {"min_warm": 2}  # warm passes run even past --seconds
# the repository's sf0.01 fixture tables, copied unchanged (seed 42)
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
SIDE_TOPIC = gen.TopicSpec(rows=12_000, rows_per_group=2_000)  # Kafka layers of the query workloads
SIDE_BATCH_ROWS = 2_000


def cpu_ref_sec() -> float:
    """Host canary: seconds to md5 64 MiB in 64 KiB chunks (``bench.py``'s method)."""
    chunk = b"\xa5" * 65536
    t0 = time.perf_counter()
    h = hashlib.md5()
    for _ in range(1024):
        h.update(chunk)
    h.hexdigest()
    return time.perf_counter() - t0


def start_worker(cfg: dict, env: dict, work: str, deadline: float) -> dict | None:
    """Run ``worker.py`` in a fresh process and return its result, or None
    (after copying the tail of its log to stderr) when it failed.  A worker
    still running at ``deadline`` is killed with its whole process group,
    the JVM and the Python workers included."""
    name = os.path.splitext(os.path.basename(cfg["out"]))[0]
    cfg_path = os.path.join(work, f"{name}-config.json")
    log_path = os.path.join(work, f"{name}.log")
    cfg["t0"] = time.time()
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    with open(log_path, "w") as log:
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"), cfg_path], cwd=work, env=env,
                                stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(cfg["out"]):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        print(f"perfbench: {name} exited with {proc.returncode}", file=sys.stderr)
        return None
    with open(cfg["out"]) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {root}; run from a checkout root", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return run(args, root, work, wanted, deadline=time.time() + 170)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def plan(args, work: str, diag: dict) -> tuple[dict, list[dict]]:
    """Write the run's inputs and return the config every worker shares
    plus one config change per fresh worker process, in start order."""
    base = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "work_dir": work}
    if args.workload == "kafka_topic":
        topic = os.path.join(work, "topic")
        gen.write_topic(topic, args.seed, KAFKA["topic"])
        diag["topic"] = asdict(KAFKA["topic"])
        base.update(setup="source", topic_dir=topic, warmup=KAFKA["warmup"], min_warm=KAFKA["min_warm"],
                    drain_topic_dir=topic, drain_batch_rows=KAFKA["batch_rows"])
    else:
        base.update(setup="tables", data_dir=FIXTURES, min_warm=QUERIES["min_warm"])
        diag["tables"] = os.path.relpath(FIXTURES, args.root)
        if args.trace:
            side = os.path.join(work, "side-topic")
            gen.write_topic(side, args.seed, SIDE_TOPIC)
            base.update(drain_topic_dir=side, drain_batch_rows=SIDE_BATCH_ROWS)
    workers = [{"role": "main"}]
    if args.trace:
        # kafka.speedup_vs_1core: the main worker's drain (local[n]) against
        # the head of the same drain in a fresh local[1] session
        head = (1 + SPEEDUP_BATCHES) * base["drain_batch_rows"]
        workers.append({"role": "drain", "setup": "source", "cpus": 1, "stop_rows": head})
    return base, workers


def run(args, root: str, work: str, wanted: list[dict], deadline: float) -> int:
    diag = {"workload": args.workload, "seed": args.seed, "cpu_ref_sec": cpu_ref_sec(),
            "loadavg_before": os.getloadavg()}
    t = time.time()
    args.root = root
    base, workers = plan(args, work, diag)
    diag["generate_s"] = time.time() - t

    cpus = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_SUBMIT_OPTS=f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    )
    env.pop("KAFQUACK_STREAM_DEBUG", None)
    results = []
    for i, change in enumerate(workers):
        cfg = dict(base, root=root, out=os.path.join(work, f"{i}-{change['role']}.json"), **change)
        # SPARK_GRAFT_CPUS: local[32] otherwise, which oversubscribes a small host
        res = start_worker(cfg, dict(env, SPARK_GRAFT_CPUS=str(cfg.get("cpus", cpus))), work, deadline)
        if res is None:
            return 1
        results.append((cfg, res))
    diag["loadavg_after"] = os.getloadavg()
    diag["spark_cpus"] = cpus

    main = results[0][1]
    failures = [f for _, r in results for f in r["failures"]]
    diag.update(main.get("diagnostics", {}))
    diag.setdefault("samples", {})["setup_s"] = 1
    diag["oracle"] = [r.get("oracle") for _, r in results]
    if args.trace:
        source = dict(main.get("layers") or {})
        one_core = results[1][1]
        if "head_s" in main and "head_s" in one_core:
            source["kafka.speedup_vs_1core"] = one_core["head_s"] / main["head_s"]
    else:
        source = dict(main.get("metrics") or {}, setup_s=main["setup_s"])

    units = {m["name"]: m["unit"] for m in wanted}
    metrics = {}
    for name, unit in units.items():
        if name not in source:
            failures.append(f"metric {name} not measured")
            continue
        metrics[name] = {"value": source[name], "unit": unit}
    diag["failures"] = failures
    if args.trace:
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        trace_path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json")
        with open(trace_path, "w") as fh:
            json.dump({"layers": source, "breakdown": main.get("breakdown"), "spans": main.get("spans")}, fh,
                      indent=1)
        diag["trace_file"] = os.path.relpath(trace_path, root)
        diag["breakdown"] = main.get("breakdown")
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({"correct": not failures, "attempted": sum(r["attempted"] for _, r in results),
                      "failed": len(failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
