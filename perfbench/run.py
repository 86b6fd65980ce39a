#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {dedup_full,headline_leaves} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the repository. One driver process
starts one Spark session at ``local[nproc]``, sets the workload up,
then runs operations one at a time (closed loop) until the next one
would end past ``--seconds``; every operation's output is checked.

Output: one JSON line with every per-operation sample and the pinned
environment, then, as the last line, the result object with the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) named in BENCHMARK.json. The samples are also written
to ``.perfbench_out/`` in the checkout.

``--trace 1`` first runs the same workload untraced in a child process,
then runs it with the Spark event log on (uncompressed, one file, in a
temporary directory removed after parsing) and one job group per span,
and reports ``trace.overhead_frac`` = traced wall / untraced wall - 1.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

from eventlog import Tracer, attribute, read_stages
from procstat import TreeSampler, stop_descendants

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dedup_full", "headline_leaves")
DRIVER_MEMORY = "2g"


def program_missing() -> list[str]:
    need = ["__spark_entry__.py", "bench.py", "hyrise_generalized_dedup_spark/__init__.py"]
    return [p for p in need if not os.path.isfile(os.path.join(ROOT, p))]


def pin_environment(work: str, cores: int) -> None:
    """Everything the program reads from the environment, fixed before
    pyspark or the program is imported; scratch space stays in the
    checkout."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers import the program and the benchmark modules too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = None
    sys.path[:0] = [ROOT]


def untraced_wall_s(args) -> float:
    """wall_s of the same run without tracing, in its own process."""
    cmd = [
        sys.executable, os.path.abspath(__file__),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", "0",
    ]  # fmt: skip
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=170)
    if out.returncode != 0:
        raise RuntimeError(f"untraced run exited with {out.returncode}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise RuntimeError("untraced run reported wrong outputs")
    return result["metrics"]["wall_s"]["value"]


def measure(args, cores: int, work: str, spec: dict) -> tuple[dict, dict]:
    t_start = time.perf_counter()
    from hyrise_generalized_dedup_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    expected = json.load(open(os.path.join(HERE, "expected.json")))[args.workload]
    mod = importlib.import_module(args.workload)
    tracer = Tracer(spark, enabled=bool(args.trace))
    if args.trace and hasattr(mod, "install_stage_spans"):
        mod.install_stage_spans(tracer)
    wl = mod.Workload(spark, args.seed, work, tracer, expected)
    wl.setup()
    tracer.take()
    setup_s = time.perf_counter() - t_start

    samples, op_spans = [], []
    t_window = time.perf_counter()
    while True:
        sample: dict = {"op": len(samples)}
        res = None
        with TreeSampler() as ts:
            try:
                res = wl.op()
            except Exception:
                sample["errors"] = [traceback.format_exc()]
        op_spans.append(tracer.take())
        sample.update(cpu_s=ts.cpu_s, peak_rss_mb=ts.peak_rss_mb, steal_frac=ts.steal_frac)
        if res is not None:
            sample["wall_s"] = res["wall_s"]
            try:
                sample.update(wl.check(res))
            except Exception:
                sample["errors"] = [traceback.format_exc()]
        samples.append(sample)
        elapsed = time.perf_counter() - t_window
        if elapsed + sample.get("wall_s", elapsed) > args.seconds:
            break

    # the incremental extra needs the last operation's output
    traced_ok = args.trace and not samples[-1].get("errors")
    extra = wl.traced_extra() if traced_ok else {}
    env = {
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_LOCAL_DIRS": os.path.relpath(os.environ["SPARK_LOCAL_DIRS"], ROOT),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "spark": spark.version,
        "python": sys.version.split()[0],
        "java": spark.sql(
            "SELECT java_method('java.lang.System', 'getProperty', 'java.version')"
        ).first()[0],
        "cores": cores,
    }
    spark.stop()

    layers = {}
    if args.trace:
        stages = read_stages(log_dir)
        shutil.rmtree(log_dir)
        layers = trace_layers(wl, stages, op_spans, samples, spec, cores)
        for err in extra.pop("errors", []):
            samples[-1].setdefault("errors", []).append(err)
        layers.update(extra)
    return {"env": env, "setup_s": setup_s, "samples": samples}, layers


def trace_layers(wl, stages, op_spans, samples, spec, cores) -> dict:
    """Median per-layer metrics over the traced operations whose outputs
    and spans checked out; layers a workload does not run report 0."""
    per_op = []
    for spans, sample in zip(op_spans, samples):
        if sample.get("errors") or "wall_s" not in sample:
            continue
        attribute(stages, spans)
        errors = wl.span_errors(spans, sample)
        if errors:
            sample["errors"] = errors
            continue
        per_op.append(wl.layer_metrics(spans, sample, cores))
    layers = {}
    for metric in spec["per_layer"]:
        values = [m[metric["name"]] for m in per_op if metric["name"] in m]
        layers[metric["name"]] = statistics.median(values) if values else 0.0
    return layers


def record_expected(args, samples: list[dict]) -> None:
    """Store the first completed operation's outputs as the committed
    values later runs are checked against. The run's own result still
    reports the comparison with the values it replaced."""
    done = [s for s in samples if "wall_s" in s and "items" in s]
    if not done:
        raise SystemExit("--record: no operation completed")
    path = os.path.join(HERE, "expected.json")
    expected = json.load(open(path))
    mod = importlib.import_module(args.workload)
    expected[args.workload] = mod.record(expected[args.workload], args.seed, done[0])
    with open(path, "w") as f:
        f.write(json.dumps(expected, indent=1, sort_keys=True) + "\n")


def end_to_end(setup_s: float, ok: list[dict]) -> dict:
    """Medians over the operations whose outputs checked out."""

    def med(f):
        return statistics.median(f(s) for s in ok)

    return {
        "setup_s": setup_s,
        "wall_s": med(lambda s: s["wall_s"]),
        "throughput": med(lambda s: s["items"] / s["wall_s"]),
        "cpu_s": med(lambda s: s["cpu_s"]),
        "peak_rss_mb": med(lambda s: s["peak_rss_mb"]),
        "dedup_ratio": med(lambda s: s["dedup_ratio"]),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--record",
        action="store_true",
        help="write this run's observed outputs into expected.json",
    )
    args = ap.parse_args()

    missing = program_missing()
    if missing:
        print(f"run from a checkout of the repository: missing {missing}", file=sys.stderr)
        return 2
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    untraced = untraced_wall_s(args) if args.trace else None
    pin_environment(work, cores)
    try:
        run, layers = measure(args, cores, work, spec)
    finally:
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)

    samples = run["samples"]
    if args.record:
        record_expected(args, samples)
    ok = [s for s in samples if not s.get("errors")]
    failed = len(samples) - len(ok)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        if ok:
            traced = statistics.median(s["wall_s"] for s in ok)
            layers["trace.overhead_frac"] = traced / untraced - 1
        values = layers
    elif ok:
        values = end_to_end(run["setup_s"], ok)
        values["success_rate"] = len(ok) / len(samples)
    else:
        values = {"success_rate": 0.0}
    run["untraced_wall_s"] = untraced
    line = json.dumps(run, default=str)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        f.write(line + "\n")
    print(line)
    result = {
        "correct": failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
