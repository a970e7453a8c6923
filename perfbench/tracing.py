"""Tracing for the benchmark's traced run, installed from outside the
engine.

* ``Tracer`` records spans (name, parent, start, end, attributes) in
  memory, one stack per thread, and writes them out once at the end.
  Wrappers are installed over the engine's public entry points by
  replacing the module and class attributes that reference them; a
  wrapper records nothing while ``Tracer.enabled`` is false.
* ``SparkLedger`` reads finished jobs from the Spark status store and
  attributes them to ops by time window (job groups are not inherited
  by streaming micro-batch threads, time windows are).
* ``RssSampler`` samples the resident set of the whole process tree
  (this Python process, the JVM and its Python workers) from a thread
  of its own.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import sys
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span; yields its attribute dict so callers can add
        counts measured inside it."""
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else None,
            "thread": threading.get_ident(),
            "t0": time.perf_counter(),
            "attrs": {},
        }
        stack.append(sid)
        try:
            yield rec["attrs"]
        finally:
            stack.pop()
            rec["t1"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, fn, name: str, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name) as attrs:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(attrs, result)
                return result

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["t0"]):
                f.write(json.dumps(rec) + "\n")


# -- span arithmetic ---------------------------------------------------


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def outermost(spans: list[dict], name: str, exclude_under: str = "") -> list[dict]:
    """Spans called ``name`` with no ancestor of the same name (nor, if
    given, one called ``exclude_under``)."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if s["name"] != name:
            continue
        p, keep = s["parent"], True
        while p is not None and p in by_id:
            pn = by_id[p]["name"]
            if pn in (name, exclude_under):
                keep = False
                break
            p = by_id[p]["parent"]
        if keep:
            out.append(s)
    return out


# -- installing wrappers -----------------------------------------------


def _replace_everywhere(orig, traced) -> None:
    """Point every ``levi_spark`` module attribute bound to ``orig`` at
    ``traced`` (covers ``from x import f`` copies as well as ``x.f``)."""
    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "")
        if not (name == "levi_spark" or name.startswith("levi_spark.")):
            continue
        for key, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, key, traced)


def install(tracer: Tracer) -> None:
    """Wrap the engine's layer entry points and py4j's command channel."""
    import py4j.java_gateway as jg

    import levi_spark.delta.checkpoint as checkpoint
    import levi_spark.delta.log as log
    import levi_spark.delta.table  # noqa: F401  (binds write_delta)
    import levi_spark.delta.writer as writer
    import levi_spark.fs as fs
    import levi_spark.operators.dedup as dedup
    import levi_spark.operators.merge as merge
    import levi_spark.operators.metadata as metadata
    import levi_spark.operators.scd as scd

    send = jg.GatewayClient.send_command

    def counted_send(self, *args, **kwargs):
        if tracer.enabled:
            tracer.py4j_calls += 1
        return send(self, *args, **kwargs)

    jg.GatewayClient.send_command = counted_send

    def on_snapshot(attrs, snap):
        attrs["json_commits"] = len(snap._commit_versions)

    def on_live(attrs, rows):
        if rows is not None:
            attrs["live_files"] = len(rows)

    def on_skipped(attrs, res):
        attrs["num_files"] = res["num_files"]
        attrs["files_skipped"] = res["num_files_skipped"]

    def on_rewrite(attrs, res):
        if isinstance(res, dict):
            attrs["files_rewritten"] = res.get("files_rewritten", 0)

    for cls, meth, name, hook in [
        (log.DeltaLog, "snapshot", "delta.log.snapshot", on_snapshot),
        (log.DeltaLog, "latest_version", "delta.log.latest_version", None),
        # Log replay: the driver-side reconcile of the snapshot's actions
        # (parsing them on its first call), which every add-actions frame
        # and live-file list is built from. A snapshot too large for it
        # replays inside the caller's Spark job instead (not timed here).
        (log.Snapshot, "_local_live", "delta.log.replay", on_live),
        (merge.MergeBuilder, "execute", "operators.merge.execute", on_rewrite),
    ]:
        setattr(cls, meth, tracer.wrap(getattr(cls, meth), name, hook))

    for mod, fn, name, hook in [
        (metadata, "skipped_stats", "operators.metadata.skipped_stats", on_skipped),
        (metadata, "delta_file_sizes", "operators.metadata.delta_file_sizes", None),
        (metadata, "updated_partitions", "operators.metadata.updated_partitions", None),
        (metadata, "pruned_scan", "operators.metadata.pruned_scan", None),
        (writer, "write_delta", "delta.writer.write_delta", None),
        (checkpoint, "write_checkpoint", "delta.checkpoint.write", None),
        (dedup, "drop_duplicates", "operators.dedup.drop_duplicates", on_rewrite),
        (scd, "type_2_scd_upsert", "operators.scd.type_2_scd_upsert", on_rewrite),
        (fs, "copy_file", "fs", None),
        (fs, "copy_tree", "fs", None),
    ]:
        orig = getattr(mod, fn)
        _replace_everywhere(orig, tracer.wrap(orig, name, hook))

    for cls in (fs.LocalFS, fs.HadoopFS):
        for meth, val in list(vars(cls).items()):
            if callable(val) and not meth.startswith("_"):
                setattr(cls, meth, tracer.wrap(val, "fs"))


# -- Spark jobs by time window -------------------------------------------


class SparkLedger:
    """Finished Spark jobs, read incrementally from the status store."""

    def __init__(self, spark) -> None:
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.jobs: dict[int, dict] = {}
        self.pending: set[int] = set()  # seen unfinished, looked up again

    def _read(self) -> bool:
        """Fold newly visible jobs in; False while any job is unfinished."""
        jobs = self.store.jobsList(None)
        # the list is newest first: stop below the oldest job that may
        # still be missing (an unfinished one, or the newest one held)
        stop = min([*self.pending, max(self.jobs, default=-1) + 1])
        pending: set[int] = set()
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid < stop:
                break
            if jid in self.jobs:
                continue
            end = j.completionTime()
            if not end.isDefined():
                pending.add(jid)
                continue
            sids = j.stageIds()
            busy_ms = 0
            for k in range(sids.size()):
                busy_ms += self.store.lastStageAttempt(sids.apply(k)).executorRunTime()
            self.jobs[jid] = {
                "t0": j.submissionTime().get().getTime() / 1000.0,
                "t1": end.get().getTime() / 1000.0,
                "tasks": j.numTasks() - j.numSkippedTasks(),
                "busy_s": busy_ms / 1000.0,
            }
        self.pending = pending
        return not pending

    def settle(self, timeout_s: float = 2.0) -> None:
        """Wait for the listener bus to publish every finished job."""
        deadline = time.monotonic() + timeout_s
        while not self._read() and time.monotonic() < deadline:
            time.sleep(0.02)
        time.sleep(0.05)
        self._read()

    def window(self, t0: float, t1: float) -> dict:
        """Jobs submitted inside the epoch-seconds window [t0, t1]."""
        inside = [j for j in self.jobs.values() if t0 - 0.002 <= j["t0"] <= t1 + 0.002]
        return {
            "jobs": len(inside),
            "tasks": sum(j["tasks"] for j in inside),
            "in_jobs_s": _covered(
                [(max(j["t0"], t0), min(j["t1"], t1)) for j in inside]
            ),
            "busy_s": sum(j["busy_s"] for j in inside),
        }


# -- resident memory of the process tree ----------------------------------


def _tree_rss_kb(root: int) -> dict[str, int]:
    """Resident kB of ``root`` and its descendants, summed per command
    name (``java``, ``python3``, ...)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total: dict[str, int] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmRSS" in fields:
            name = fields["Name"].strip()
            total[name] = total.get(name, 0) + int(fields["VmRSS"].split()[0])
    return total


class RssSampler:
    def __init__(self, period_s: float = 0.25) -> None:
        self.period_s = period_s
        self.peak_kb = 0
        self.peak_by_name: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            by_name = _tree_rss_kb(me)
            if sum(by_name.values()) > self.peak_kb:
                self.peak_kb = sum(by_name.values())
                self.peak_by_name = by_name
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
