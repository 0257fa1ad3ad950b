"""Benchmark entry point.

    python3 perfbench/run.py --workload hourly_serve --seed 1 --seconds 10 --trace 0

Runs one workload against the engine in this checkout, on ``local[4]``
with one client thread, and prints one JSON object as the last line of
standard output: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). See README.md in this directory for what each workload
and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "clickhouse_github_log_importer_spark")

WORKLOADS = ("hourly_serve", "analyst_mix")
END_TO_END = (
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("records_per_s", "1/s"),
    ("stored_bytes_per_record", "B"),
    ("freshness_p50_s", "s"),
    ("query_set_s", "s"),
    ("round_s", "s"),
    ("light_p50_s", "s"),
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Keep Spark, its Python workers and temp files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE] + ([path] if path else []))
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata files
    java = os.environ.get("JAVA_TOOL_OPTIONS")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        ([java] if java else []) + [f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"])
    sys.path[:0] = [ROOT, HERE]


def start_session(work: str):
    from clickhouse_github_log_importer_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the Spark JVM (and with it the Python workers) and wait."""
    from pyspark import SparkContext

    from host import descendants

    gateway = SparkContext._gateway
    if gateway is None:
        return
    kids = [p for p in descendants(os.getpid()) if p != os.getpid()]
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")
                 and open(f"/proc/{p}/stat").read().split(")")[-1].split()[0] != "Z"]
        if not alive:
            break
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args) -> dict:
    from host import RssSampler, cpu_ticks, loadavg, steal_pct
    from layers import PER_LAYER, held_storage, round_metrics, targets
    from spans import SpanRecorder, patched, stage_totals
    from workload import CheckFailed

    if args.workload == "analyst_mix":
        from analyst import AnalystMix as cls
    else:
        from ingest import HourlyServe as cls

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    sampler = RssSampler().start()
    ticks0, load0 = cpu_ticks(), loadavg()
    spark = wl = None
    setup_s = 0.0
    correct, error = True, None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        wl = cls(spark, os.path.join(work, "data"), args.seed)
        wl.setup()
        setup_s = time.perf_counter() - t0
        wl.prepare()
        sc = spark.sparkContext
        rec = SpanRecorder(sc) if args.trace else None
        layer_rounds, flags, held = [], [], []
        n, t_start = 0, time.perf_counter()
        while (n < wl.min_rounds or time.perf_counter() - t_start < args.seconds
               or (args.trace and n % 4)):
            # traced rounds in the pattern U T T U U T T U ..., whole blocks
            # of four, so that a drift across the run weighs on both kinds
            # alike
            traced = bool(args.trace) and n % 4 in (1, 2)
            flags.append(traced)
            if traced:
                wl.rec = rec
                with patched(targets(rec)):
                    wl.run_round()
                wl.rec = None
            else:
                wl.run_round()
            if traced:
                spans = rec.take()
                stages = stage_totals(sc, {sp.group for sp in spans})
                layer_rounds.append(round_metrics(spans, rec.self_times(spans), stages))
            held.append(held_storage(sc))
            n += 1
        wl.finish()
    except CheckFailed as e:
        correct, error = False, f"check failed: {e}"
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            spark.stop()
        stop_jvm()
        sampler.stop()
    steal, load1 = steal_pct(ticks0, cpu_ticks()), max(load0, loadavg())
    shutil.rmtree(work, ignore_errors=True)

    host = {"steal_pct": round(steal, 2), "load1": load1, "rounds": n,
            "setup_s": round(setup_s, 3),
            "held_rdds": [h[0] for h in held], "held_mb": [round(h[1], 2) for h in held]}
    if error:
        print(error, file=sys.stderr)
    if args.trace:
        values = {k: statistics.median(r[k] for r in layer_rounds) for k in layer_rounds[0]} \
            if layer_rounds else {}
        values["cache.held_rdds"], values["cache.held_mb"] = held[-1] if held else (0, 0.0)
        # round_s has one sample per round in every workload
        by_kind = {f: [r for r, g in zip(wl.samples["round_s"], flags) if g == f]
                   for f in (False, True)}
        plain = statistics.median(by_kind[False]) if by_kind[False] else 0.0
        tr = statistics.median(by_kind[True]) if by_kind[True] else 0.0
        values["trace.overhead_s"] = tr - plain
        values["trace.overhead_pct"] = 100.0 * (tr - plain) / plain if plain else 0.0
        rec.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in PER_LAYER}
    else:
        values = wl.metrics() if correct else {}
        values["setup_s"] = setup_s
        values["peak_rss_mb"] = sampler.peak / 1e6
        metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in END_TO_END}
    print(json.dumps({"host": host, "samples": {k: [round(v, 4) for v in vs]
                                                for k, vs in wl.samples.items()} if wl else {}}))
    return {"correct": correct, "attempted": wl.attempted if wl else 0,
            "failed": wl.failed if wl else 0, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(PACKAGE):
        print(f"engine package not found at {PACKAGE}", file=sys.stderr)
        return 2
    prepare_environment(os.path.join(ROOT, ".perfbench_work", str(os.getpid())))
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 — report the failure, print no result
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
