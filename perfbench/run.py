"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It generates the workload's inputs
from the seed into a fresh directory under ``.perfbench_work/``, starts
Spark at ``local[2]`` with 4 GB of driver memory, sets the workload up
(untimed warm-up included), then runs rounds of the workload's fixed op
list until ``--seconds`` have passed, checks every output and prints one
JSON line: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
workload's untimed warm-up rounds, then an untraced, a traced and an
untraced round, and reports the per-layer metrics of the traced round,
plus the tracing overhead (traced minus mean untraced round_s). See
README.md.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pyspark_etl_project_spark"
MB = 1024 * 1024

# The benchmark's Spark environment (see README.md); no program setting changes.
SPARK_ENV = {"SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "4g"}

END_TO_END = {"setup_s": "s", "round_s": "s", "op_p50_s": "s",
              "cpu_s": "CPU-s"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["etl_batch_loads", "query_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Spark parallelism and memory, the repo on the Python workers' path,
    and every temporary file inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(SPARK_ENV)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # For every JVM, spark-submit's launcher included; -XX:-UsePerfData
    # keeps them out of /tmp/hsperfdata_<user>.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a stuck JVM is killed, not waited on forever
            proc.kill()
            proc.wait(timeout=30)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found beside {HERE}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        configure_env(work)
        sys.path[:0] = [ROOT, HERE]
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(base)
    print(summary(result), file=sys.stderr)
    print(json.dumps(result["json"]))
    return 0


def run(args, work: str) -> dict:
    import layers
    import workloads
    from collectors import (BatchListener, ProcSampler, Spans, StatusReader,
                            phase_listener)

    W = workloads.WORKLOADS[args.workload]
    g0 = time.time()
    manifest = W.generate(work, args.seed)
    gen_s = time.time() - g0

    with ProcSampler() as proc:
        s0 = time.time()
        from pyspark_etl_project_spark.session import get_spark
        spark = get_spark("perfbench")
        start_s = time.time() - s0
        try:
            spans = Spans(spark)
            status = StatusReader(spark)
            batches = BatchListener()
            spark.streams.addListener(batches)
            wl = W(spark, spans, work, args.seed)
            w0 = time.time()
            wl.setup(manifest)
            # Input generation and the DuckDB twin are the checker's work,
            # not the program's.
            oracle_s = getattr(wl, "oracle_s", 0.0)
            warmup_s = time.time() - w0 - oracle_s
            setup_s = time.time() - T_START - gen_s - oracle_s
            status.new_jobs()
            phases = phase_listener(spark) if args.trace else None
            rounds = run_rounds(args, wl, spark, spans, status, phases,
                                batches, proc)
        finally:
            stop_spark(spark)

    ops = [op for r in rounds for op in r["ops"]]
    failed = sum(not op.ok for op in ops)
    plain = [r for r in rounds if r["role"] == "plain"]
    if args.trace:
        traced = [r for r in rounds if r["role"] == "traced"]
        metrics = layers.per_layer(traced, start_s, warmup_s)
        metrics["trace.overhead_s"] = {
            "value": median([r["round_s"] for r in traced])
            - statistics.mean([r["round_s"] for r in plain]), "unit": "s"}
    else:
        plain_ops = [op.seconds for r in plain for op in r["ops"]]
        values = {"setup_s": setup_s,
                  "round_s": median([r["round_s"] for r in plain]),
                  "op_p50_s": median(plain_ops),
                  "cpu_s": median([r["cpu_s"] for r in plain])}
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in values.items()}
    return {"json": {"correct": failed == 0 and bool(ops),
                     "attempted": len(ops), "failed": failed,
                     "metrics": metrics},
            "rounds": rounds, "gen_s": gen_s, "setup_s": setup_s,
            "workload": args.workload}


def run_rounds(args, wl, spark, spans, status, phases, batches,
               proc) -> list[dict]:
    """Untraced: as many whole rounds as fit in ``--seconds`` (at least
    one). Traced: the workload's ``TRACE_WARMUP`` untimed rounds, so the
    JIT has settled, then an untraced, a traced and an untraced round;
    the untraced pair brackets the traced one."""
    import collectors
    import layers

    if args.trace:
        roles = ["warmup"] * wl.TRACE_WARMUP + ["plain", "traced", "plain"]
    else:
        roles = ["plain"] * wl.rounds()
    rounds = []
    m0 = time.time()
    for i, role in enumerate(roles):
        traced = role == "traced"
        spans.enabled = traced
        spans.records = []
        restore = layers.wrap_public_functions(spans) if traced else None
        if traced:
            spark._jsparkSession.listenerManager().register(phases)
        n0 = batches.count()
        try:
            proc.take_peaks()
            c0 = proc.cpu_s()
            r0 = time.perf_counter()
            ops = wl.run_round(i)
            round_s = time.perf_counter() - r0
            cpu_s = proc.cpu_s() - c0
            peak, worker_peak = proc.take_peaks()
        finally:
            if traced:
                restore()
                # Deliver the last queries' end events before the phase
                # listener goes.
                collectors.drain_bus(spark)
                spark._jsparkSession.listenerManager().unregister(phases)
            spans.enabled = False
        rec = {"i": i, "role": role, "ops": ops, "round_s": round_s,
               "cpu_s": cpu_s, "peak_rss": peak, "worker_peak_rss": worker_peak,
               "jobs": status.new_jobs(), "spans": list(spans.records),
               "progress": batches.since(n0)}
        if traced:
            rec["phases"] = phases.take()
        if not wl.check_round(i):
            for op in ops:
                op.ok = False
        status.new_jobs()  # the check's own jobs belong to no round
        rounds.append(rec)
        if not args.trace and time.time() - m0 + round_s > args.seconds:
            break
    return rounds


def summary(result: dict) -> str:
    rounds = result["rounds"]
    n_ops = sum(len(r["ops"]) for r in rounds)
    lines = [f"perfbench {result['workload']}: gen {result['gen_s']:.1f}s, "
             f"setup {result['setup_s']:.2f}s, {len(rounds)} rounds, "
             f"{n_ops} ops (op_p50_s is the median of these samples)"]
    for r in rounds:
        lines.append(f"  round {r['i']} {r['role']}: "
                     f"{r['round_s']:.2f}s wall, {r['cpu_s']:.1f} CPU-s, "
                     f"peak {r['peak_rss'] / MB:.0f} MB, ops "
                     + " ".join(f"{o.name}={o.seconds:.2f}{'' if o.ok else '!'}"
                                for o in r["ops"]))
    return "\n".join(lines)


if __name__ == "__main__":
    sys.exit(main())
