"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run it from the repository root. It generates the seeded inputs, starts
Spark on ``local[<nproc>]`` through the program's own ``get_spark``,
runs the workload (see workloads.py) and prints a human-readable
summary of every end-to-end figure, then, as the LAST line of standard
output, one JSON object::

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
Spark's event log, sets a job group per span and reports the per-layer
metrics instead. Scratch data, the event log and a JSON record of each
run go under ``.perfbench/`` at the root.

Exits 2 without a result when the program's sources are not beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "documents_vector_search_spark"
sys.path.insert(0, str(HERE))

from corpus import Generator, write_docs  # noqa: E402
from cpu import CpuMeter, HostProbe, descendants  # noqa: E402
from layers import layer_metrics  # noqa: E402

# end-to-end metrics every workload reports (BENCHMARK.json end_to_end);
# the wall-clock op_p50_ms is printed in the summary and kept in the run
# record, but not bounded: on a shared host it swings 2-3x with other
# tenants' load (see README.md)
E2E = {"setup_s": "s", "op_cpu_ms": "ms"}
WORKLOAD_NAMES = ("prep", "serve")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(state: Path) -> dict:
    """Pin what the run depends on and record it: Spark runs on every
    CPU this process may use, spills inside the checkout, and Python
    workers import the program from the checkout."""
    cpus = len(os.sched_getaffinity(0))
    local = state / "spark-local"
    tmp = state / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    return {"cpus": cpus, "load_before": os.getloadavg()[0]}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"error: {PACKAGE}/ not found beside perfbench/", file=sys.stderr)
        return 2
    state = ROOT / ".perfbench"
    work = state / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    results = state / "results"
    results.mkdir(parents=True, exist_ok=True)
    env = pin_environment(state)
    sys.path.insert(0, str(ROOT))

    gen = Generator(args.seed)
    data = work / "data"
    data.mkdir(parents=True)
    docs_path = data / "documents.parquet"
    write_docs(gen.docs, docs_path)
    try:
        record = run_workload(args, gen, work, docs_path, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    record["env"]["load_after"] = os.getloadavg()[0]
    out = json.dumps(record, indent=1, sort_keys=True, default=str)
    (results / f"{args.workload}-trace{args.trace}-seed{args.seed}.json").write_text(out)
    print_summary(record)
    print(json.dumps(record["result"]))
    return 0


def run_workload(args, gen: Generator, work: Path, docs_path: Path, env: dict) -> dict:
    from tracing import Tracer, event_log_conf
    from workloads import WORKLOADS, Run, op_ms, summary_metrics

    log_dir = work / "eventlog"
    extra = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        log_dir.mkdir(parents=True)
        extra.update(event_log_conf(log_dir))

    tracer = Tracer()
    t_setup = time.time()
    with tracer.span("session.start"):
        from documents_vector_search_spark.session import get_spark

        spark = get_spark(app_name="perfbench", extra_conf=extra)
        spark.sparkContext.setLogLevel("ERROR")
    if args.trace:
        tracer.sc = spark.sparkContext
    import pyspark
    from pyspark import SparkContext

    env.update(
        defaultParallelism=spark.sparkContext.defaultParallelism,
        master=spark.sparkContext.master,
        spark_version=pyspark.__version__,
    )
    run = Run(spark, gen, tracer, work, args.seconds, bool(args.trace))
    run.meter = CpuMeter(SparkContext._gateway.proc.pid)  # the JVM
    run.info["started"] = t_setup
    try:
        run.host_probe = HostProbe(spark._jvm, run.meter)
        WORKLOADS[args.workload](run, docs_path)
    finally:
        stop_spark(spark)
    run.info["setup_s"] = run.info["setup_end"] - t_setup

    summary = summary_metrics(args.workload, run)
    e2e = {
        "setup_s": run.info["setup_s"],
        "op_p50_ms": op_ms(args.workload, run.samples),
        "op_cpu_ms": op_ms(args.workload, run.samples, cpu=True),
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "corpus": gen.stats(),
        "info": run.info,
        "samples": run.samples,
        "summary": summary,
        "failures": run.failures,
    }
    results = ROOT / ".perfbench" / "results"
    tracer.write(results / f"{args.workload}-trace{args.trace}-seed{args.seed}.spans.jsonl")
    if args.trace:
        metrics = layer_metrics(args.workload, run, log_dir)
        record["per_layer"] = metrics
    else:
        metrics = {k: {"value": e2e[k], "unit": unit} for k, unit in E2E.items()}
    record["e2e"] = e2e
    failed = run.failed + sum(1 for m in metrics.values() if m["value"] is None)
    record["result"] = {
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {
            k: {"value": m["value"] if m["value"] is not None else 0.0, "unit": m["unit"]}
            for k, m in metrics.items()
        },
    }
    return record


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and the Python workers it
    started, and wait for all of them: the next run must not share the
    CPUs with this one's shutdown."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    workers = descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    for pid in workers:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.1)
        if _alive(pid):
            os.kill(pid, 9)


def _alive(pid: int) -> bool:
    """Running or sleeping; a zombie has ended and only awaits reaping."""
    try:
        state = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def print_summary(record: dict) -> None:
    env, corpus = record["env"], record["corpus"]
    print(
        f"# workload={record['workload']} seed={record['seed']} "
        f"seconds={record['seconds']} trace={record['trace']}"
    )
    print(
        f"# env: cpus={env['cpus']} defaultParallelism={env['defaultParallelism']} "
        f"master={env['master']} spark={env['spark_version']} "
        f"load1 before={env['load_before']:.2f} after={env['load_after']:.2f}"
    )
    print(
        f"# corpus: docs={corpus['docs']} text_bytes={corpus['text_bytes']} "
        f"vocab={corpus['vocab_size']} dup_share={corpus['dup_share']} "
        f"cached_mb={record['info'].get('cache_mb', 0.0):.2f}"
    )
    for name, m in record["summary"].items():
        v = "n/a" if m["value"] is None else f"{m['value']:.4f}"
        note = f"  ({m['note']})" if m.get("note") else ""
        print(f"{name:32s} {v:>14s} {m['unit']:10s} n={m['n']}{note}")
    for name, m in sorted(record.get("per_layer", {}).items()):
        print(f"{name:56s} {m['value']:>14.4f} {m['unit']}")
    res = record["result"]
    print(f"# checks: attempted={res['attempted']} failed={res['failed']}")
    for f in record["failures"]:
        print(f"#   failed: {f}")


if __name__ == "__main__":
    sys.exit(main())
