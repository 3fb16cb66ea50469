"""One benchmark run: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the root of a checkout.

It runs the checkout's own ``trend_o_meter_spark`` at its defaults in
one local Spark session, times a fixed number of whole rounds of the
workload's operations (``rounds_per_10s`` per 10 s of ``--seconds``),
checks the outputs, and prints one JSON object as the last line of
standard output.  An operation that raises ends the run with a non-zero
exit and no result, so ``failed`` is always 0.  See README.md next to
this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.harness import (  # noqa: E402
    ProcTree,
    Tracer,
    median,
    since_process_start,
    spark_op_metrics,
)

# Environment that would move the program off its own defaults.
DROPPED_ENV = (
    "SPARK_GRAFT_SHUFFLE",
    "SPARK_GRAFT_LOCAL_SCRATCH",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_LSH_STATE_PROVIDER",
    "SPARK_LOCAL_DIRS",
)


def host_settings(work: Path) -> dict[str, str]:
    """What a user of one local host must set: cores, a heap below RAM,
    and scratch space.  Scratch stays inside the checkout's work dir."""
    cores = len(os.sched_getaffinity(0))
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
    return {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(ram_gib // 4)))}g",
        "SPARK_GRAFT_SCRATCH": str(work / "scratch"),
        "TMPDIR": str(work / "tmp"),
        "TZ": "UTC",
        # Spark's Python workers import the package from this checkout
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    }


def check_origin(spark) -> None:
    """The driver and a Python worker must both import this checkout's package."""
    import trend_o_meter_spark

    want = str(ROOT / "trend_o_meter_spark")
    here = os.path.dirname(os.path.abspath(trend_o_meter_spark.__file__))
    worker = spark.sparkContext.parallelize([0], 1).map(
        lambda _: os.path.dirname(os.path.abspath(__import__("trend_o_meter_spark").__file__))
    ).collect()[0]
    if here != want or worker != want:
        raise RuntimeError(f"package imported from driver={here} worker={worker}, not {want}")


def check_settings(spark, settings: dict[str, str]) -> None:
    """The session runs at the host settings and the program's own defaults."""
    from trend_o_meter_spark.session import RUNTIME_CONF

    want = {
        "spark.master": f"local[{settings['SPARK_GRAFT_CPUS']}]",
        "spark.driver.memory": settings["SPARK_GRAFT_DRIVER_MEM"],
        "spark.sql.shuffle.partitions": RUNTIME_CONF["spark.sql.shuffle.partitions"],
    }
    got = {k: spark.conf.get(k, None) for k in want}
    if got != want:
        raise RuntimeError(f"session conf {got} differs from {want}")


def install_tracing(tracer: Tracer) -> None:
    """Spans around the program's public functions, from outside them."""
    from trend_o_meter_spark import catalog, workload
    from trend_o_meter_spark.llm import similarity
    from trend_o_meter_spark.streaming import pipeline
    from trend_o_meter_spark.streaming.statestore import PartialStateTable
    from trend_o_meter_spark.transports import redis_source

    tracer.wrap(catalog, "table", "catalog.table")
    tracer.wrap(workload, "table", "catalog.table")
    tracer.wrap_count(catalog, "spread", "catalog.spread")
    tracer.wrap_count(similarity, "spread", "catalog.spread")
    tracer.wrap(redis_source, "read_history_list", "transports.lrange")
    tracer.wrap(redis_source, "history_df", "transports.history_df")
    tracer.wrap(pipeline, "seed_history", "pipeline.seed")
    for m in ("append", "read", "seed"):
        tracer.wrap(PartialStateTable, m, f"statestore.{m}")


def layer_metrics(wl, tracer: Tracer, spark, windows, n_ops: int, lat_ms, items_per_s) -> dict:
    per_op = tracer.per_op_ms
    out = {
        "catalog.table_ms": per_op("catalog.table", n_ops),
        "catalog.spread_calls": tracer.counts.get("catalog.spread", 0) / max(1, n_ops),
        "transports.lrange_ms": per_op("transports.lrange", n_ops),
        "transports.history_df_ms": per_op("transports.history_df", n_ops),
        "transports.reply_bytes": 0.0,
        "pipeline.seed_ms": per_op("pipeline.seed", n_ops),
        "pipeline.add_batch_ms": 0.0,
        "pipeline.trigger_other_ms": 0.0,
        "pipeline.batch_self_ms": 0.0,
        "stateful.state_rows": 0.0,
        "stateful.state_bytes": 0.0,
        "stateful.commit_ms": 0.0,
        "stateful.partitions": 0.0,
        "statestore.append_ms": per_op("statestore.append", n_ops),
        "statestore.read_ms": per_op("statestore.read", n_ops),
        "statestore.seed_ms": per_op("statestore.seed", n_ops),
        "statestore.files": 0.0,
        "statestore.bytes": 0.0,
        "operators.daybins_ms": per_op("operators.daybins", n_ops),
        "sources.rows_per_batch": 0.0,
        "display.render_ms": per_op("display.render", n_ops),
        "trace.op_p50_ms": median(lat_ms),
        "trace.items_per_s": items_per_s,
        "trace.spans": float(len(tracer.spans)),
    }
    from perfbench.workloads import QUERIES

    for name in QUERIES:
        out[f"query.{name}.plan_ms"] = 0.0
        out[f"query.{name}.exec_ms"] = 0.0
    out.update(spark_op_metrics(spark, windows))
    layer = wl.layer_metrics(n_ops)
    for k in ("session.python_worker_ms_per_op", "session.python_bytes_per_op"):
        out[k] += layer.pop(k, 0.0)
    out.update(layer)
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = ROOT / ".perfbench_work" / f"{tag}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    settings = host_settings(work)
    # before the package is imported: session.py reads its environment
    # into BUILD_CONF / RUNTIME_CONF at import time
    for k in DROPPED_ENV:
        os.environ.pop(k, None)
    os.environ.update(settings)
    time.tzset()
    if "trend_o_meter_spark" in sys.modules:
        raise RuntimeError("trend_o_meter_spark was imported before the host settings were made")
    from trend_o_meter_spark.session import get_spark
    for d in ("scratch", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    print("settings: " + json.dumps(settings), flush=True)

    spark = None
    wl = None
    try:
        spark = get_spark("perfbench")
        check_origin(spark)
        check_settings(spark, settings)
        print(f"phase: session {since_process_start():.2f} s", flush=True)
        tracer = Tracer() if args.trace else None
        if tracer is not None:
            install_tracing(tracer)
        wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
        wl.setup()
        print(f"phase: setup {since_process_start():.2f} s", flush=True)

        tree = ProcTree()
        lat_ms, names, windows, items = [], [], [], 0
        setup_s = since_process_start()
        cpu0, t0 = tree.cpu_seconds(), time.perf_counter()
        # a fixed amount of work, so every run stops at the same warm-up
        # stage: ``rounds_per_10s`` whole rounds per 10 s asked for (README)
        for n_round in range(max(1, round(args.seconds * wl.rounds_per_10s / 10))):
            for op in wl.round(n_round):
                if tracer is not None:
                    tracer.start_op(len(lat_ms))
                w0, s = time.time() * 1000.0, time.perf_counter()
                items += op()
                lat_ms.append((time.perf_counter() - s) * 1000.0)
                names.append(getattr(op, "name", args.workload))
                windows.append((w0, time.time() * 1000.0))
                if tracer is not None:
                    tracer.end_op()
        wall = time.perf_counter() - t0
        cpu = tree.cpu_seconds() - cpu0

        correct, detail = wl.check()
        print(f"check: {'ok' if correct else 'FAILED'}: {detail}", flush=True)
        if tracer is None:
            metrics = {
                "setup_s": setup_s,
                "items_per_s": items / wall,
                "op_p50_ms": median(lat_ms),
                "cpu_ms_per_item": cpu * 1000.0 / items,
            }
        else:
            metrics = layer_metrics(wl, tracer, spark, windows, len(lat_ms), lat_ms, items / wall)
            tracer.dump(str(out_dir / f"trace-{tag}.json"), {"layers": metrics, "op_ms": lat_ms})
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        units = {m["name"]: m["unit"] for m in spec["per_layer" if tracer else "end_to_end"]}
        if set(units) != set(metrics):
            raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(units) ^ set(metrics))}")
        result = {
            "correct": bool(correct),
            "attempted": len(lat_ms),
            "failed": 0,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        out_dir.mkdir(exist_ok=True)
        (out_dir / f"result-{tag}.json").write_text(
            json.dumps({**result, "settings": settings, "rounds": n_round + 1, "ops": list(zip(names, lat_ms)),
                        "check": detail}, indent=1)
        )
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
