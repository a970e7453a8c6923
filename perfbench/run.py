"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Starts one Spark session on
``local[<usable cores>]``, builds the workload's inputs (the same in
every run; the seed picks op arguments and order), runs one warm-up
op, then runs ops in a closed loop until ``S`` seconds of op time have
been measured (at least two ops, three when traced), checks every
output outside the timed region, and prints one JSON line as the last
line of stdout: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` wrappers are installed around the engine's layer entry
points, every other op runs traced, and the metrics are the per-layer
ones. All files live under ``perfbench/work/`` for the duration of the
run and are removed at exit; the traced run writes its spans to
``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def end_to_end(ops: list[dict], setup_s: float) -> dict:
    """``round_ms`` is the time of one op built from its steps: the sum
    over the steps of each step's median over the run's ops that ran."""
    ran = [r["steps"] for r in ops if r["steps"]]
    return {
        "setup_s": (setup_s, "s"),
        "round_ms": (sum(_median(st[k] for st in ran) for k in ran[0]) * 1000.0
                     if ran else 0.0, "ms"),
    }


def per_layer(tracer, ledger, clock: float, ops: list[dict], wl, queries: tuple,
              peak_kb: int) -> dict:
    """``clock`` turns a span's perf_counter time into the epoch time
    the ledger's jobs carry."""
    import tracing as tr

    spans = tracer.spans
    traced = [r for r in ops if r["traced"]]
    # the first op still runs slow after the warm-up op: the overhead
    # compares the traced ops with the plain ops after it
    plain = [r for r in ops[1:] if not r["traced"]]
    in_ops = [
        s for s in spans
        if any(r["t0"] <= s["t0"] <= r["t1"] for r in traced)
    ]

    def med_ms(name: str, exclude_under: str = "") -> float:
        """Median span duration in the traced ops; set-up spans only
        for a layer the ops never call (session start)."""
        found = tr.outermost(in_ops, name, exclude_under) or tr.outermost(
            spans, name, exclude_under)
        return _median((s["t1"] - s["t0"]) * 1000.0 for s in found)

    def med_jobs(name: str, exclude_under: str = "") -> float:
        """Median number of Spark jobs submitted during one call."""
        return _median(
            ledger.window(s["t0"] + clock, s["t1"] + clock)["jobs"]
            for s in tr.outermost(in_ops, name, exclude_under))

    def attr(name: str, key: str) -> list:
        return [s["attrs"][key] for s in spans if s["name"] == name and key in s["attrs"]]

    def per_op(xs) -> float:
        return sum(xs) / max(1, len(traced))

    skipped = attr("operators.metadata.skipped_stats", "files_skipped")
    files = attr("operators.metadata.skipped_stats", "num_files")
    writes = getattr(wl, "round_writes", [])
    m = {
        "session.get_spark_s": (med_ms("session.get_spark") / 1000.0, "s"),
        "delta.log.snapshot_ms": (med_ms("delta.log.snapshot"), "ms"),
        "delta.log.replay_ms": (med_ms("delta.log.replay"), "ms"),
        "delta.log.latest_version_ms": (med_ms("delta.log.latest_version"), "ms"),
        "delta.log.json_commits_read": (_median(attr("delta.log.snapshot", "json_commits")), "count"),
        "delta.log.live_files": (_median(attr("delta.log.replay", "live_files")), "count"),
    }
    for op in ("skipped_stats", "delta_file_sizes", "updated_partitions", "pruned_scan"):
        m[f"operators.metadata.{op}_ms"] = (med_ms(f"operators.metadata.{op}"), "ms")
    m["operators.metadata.files_skipped_ratio"] = (sum(skipped) / max(1, sum(files)), "ratio")
    m.update({
        "delta.writer.write_delta_ms": (med_ms("delta.writer.write_delta"), "ms"),
        "delta.writer.commits": (_mean(w["commits"] for w in writes), "count/op"),
        "delta.writer.files_written": (_mean(w["files"] for w in writes), "count/op"),
        "delta.writer.bytes_written": (_mean(w["bytes"] for w in writes), "B/op"),
        "delta.writer.write_amp": (wl.extra().get("write_amp", 0.0), "ratio"),
        "delta.checkpoint.write_ms": (med_ms("delta.checkpoint.write"), "ms"),
        "delta.checkpoint.count": (_mean(w["checkpoints"] for w in writes), "count/op"),
        "operators.dedup.drop_duplicates_ms": (med_ms("operators.dedup.drop_duplicates"), "ms"),
        "operators.dedup.files_rewritten_ratio": (
            _mean(w["dedup_rewritten_ratio"] for w in writes), "ratio"),
        "operators.scd.type_2_scd_upsert_ms": (med_ms("operators.scd.type_2_scd_upsert"), "ms"),
        "operators.scd.files_rewritten_ratio": (
            _mean(w["scd_rewritten_ratio"] for w in writes), "ratio"),
        "operators.merge.execute_ms": (
            med_ms("operators.merge.execute", "operators.scd.type_2_scd_upsert"), "ms"),
        "operators.merge.files_rewritten_ratio": (
            _mean(w["merge_rewritten_ratio"] for w in writes), "ratio"),
    })
    scd = "operators.scd.type_2_scd_upsert"
    for name in ("operators.metadata.skipped_stats", "operators.metadata.delta_file_sizes",
                 "operators.metadata.updated_partitions", "operators.metadata.pruned_scan",
                 "delta.writer.write_delta", "operators.dedup.drop_duplicates", scd,
                 "operators.merge.execute"):
        m[f"{name}_jobs"] = (med_jobs(name, scd if name == "operators.merge.execute" else ""),
                             "count")
    for q in queries:
        m[f"queries.{q}_s"] = (med_ms(q) / 1000.0, "s")
        m[f"queries.{q}_jobs"] = (med_jobs(q), "count")
    m.update({
        "spark.jobs": (per_op(r["jobs"] for r in traced), "count/op"),
        "spark.tasks": (per_op(r["tasks"] for r in traced), "count/op"),
        "spark.in_jobs_s": (per_op(r["in_jobs_s"] for r in traced), "s/op"),
        "spark.task_busy_s": (per_op(r["busy_s"] for r in traced), "s/op"),
        "driver.outside_jobs_s": (per_op(r["s"] - r["in_jobs_s"] for r in traced), "s/op"),
        "py4j.calls": (per_op(r["py4j"] for r in traced), "count/op"),
        "fs.calls": (per_op(1 for s in in_ops if s["name"] == "fs"), "count/op"),
        "fs.busy_ms": (per_op(
            (s["t1"] - s["t0"]) * 1000.0 for s in tr.outermost(in_ops, "fs")), "ms/op"),
        "process.peak_rss_mb": (peak_kb / 1024.0, "MB"),
        "trace.overhead_frac": (
            _mean(r["s"] for r in traced) / _mean(r["s"] for r in plain) - 1.0
            if plain else 0.0, "ratio"),
    })
    return m


def run(args, work: str, nproc: int) -> dict:
    sys.path[:0] = [REPO, HERE]
    import tracing as tr
    import workloads

    tracer = tr.Tracer()
    tracer.enabled = bool(args.trace)
    attempted = failed = 0
    ops: list[dict] = []
    rss = tr.RssSampler()
    with rss if args.trace else contextlib.nullcontext():
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            from levi_spark.session import get_spark

            spark = get_spark(app_name="perfbench", extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
                "spark.local.dir": f"{work}/tmp",
                "spark.sql.warehouse.dir": f"{work}/warehouse",
            })
        session_s = time.perf_counter() - t0
        try:
            if args.trace:
                tr.install(tracer)
            wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
            if args.sf:
                wl.sf = args.sf
            if hasattr(wl, "on_query"):
                wl.on_query = tracer.span
            wl.make_inputs()
            t1 = time.perf_counter()
            wl.build()
            build_s = time.perf_counter() - t1
            wl.expected_answers()
            wl.before(-1)
            t2 = time.perf_counter()
            warm = wl.warmup()
            warm_s = time.perf_counter() - t2
            attempted += 1
            failed += not wl.check(-1, warm)
            setup_s = session_s + build_s + warm_s

            ledger = tr.SparkLedger(spark) if args.trace else None
            clock = time.time() - time.perf_counter()
            # The traced run traces every other op, starting with the
            # second, and needs a plain op after a traced one.
            min_ops = 3 if args.trace else 2
            busy, i = 0.0, 0
            while busy < args.seconds or len(ops) < min_ops:
                wl.before(i)
                traced = bool(args.trace) and i % 2 == 1
                tracer.enabled = traced
                calls0 = tracer.py4j_calls
                e0, s0 = time.time(), time.perf_counter()
                try:
                    result, err = wl.op(i), None
                except Exception:
                    result, err = None, traceback.format_exc()
                dt = time.perf_counter() - s0
                e1 = time.time()
                tracer.enabled = False
                ok = err is None and wl.check(i, result)
                if err:
                    print(err, file=sys.stderr)
                rec = {"i": i, "s": dt, "ok": ok, "traced": traced,
                       "steps": result["steps"] if err is None else {},
                       "t0": s0, "t1": s0 + dt, "py4j": tracer.py4j_calls - calls0}
                if traced:
                    ledger.settle()
                    rec.update(ledger.window(e0, e1))
                ops.append(rec)
                attempted += 1
                failed += not ok
                busy += dt
                i += 1
            checks = wl.verify()
            attempted += len(checks)
            failed += checks.count(False)
        finally:
            _shutdown(spark)
    extra = wl.extra()
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    stem = os.path.join(HERE, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({"setup": {"session_s": session_s, "build_s": build_s, "warmup_s": warm_s},
                   "peak_rss_kb": rss.peak_by_name, "ops": ops, "extra": extra,
                   "nproc": nproc}, f, indent=1, default=str)
    if args.trace:
        tracer.dump(stem + ".spans.jsonl")
        metrics = per_layer(tracer, ledger, clock, ops, wl, workloads.PIPELINE_QUERIES,
                            rss.peak_kb)
    else:
        metrics = end_to_end(ops, setup_s)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["levi_tables", "pipeline_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=0.0,
                    help="override the workload's input scale (self-test only)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "levi_spark")):
        print(f"no levi_spark package in {REPO}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "TMPDIR": f"{work}/tmp",
        "SPARK_LOCAL_DIRS": f"{work}/tmp",
        # spark-submit's launcher JVM: no perf-data file in the system temp dir
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
    })
    tempfile.tempdir = None
    try:
        result = run(args, work, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
