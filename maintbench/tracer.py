"""Outside-in tracer for the maintenance engine.

Spans come from wrappers this module installs around the engine's
public functions. Nothing inside ``hoopstat_haus_spark/`` is edited: a
wrapper replaces a function where its caller looks it up (a module
attribute such as ``lakehouse.table.compact_partition``, which
``table.py`` imported by name, or a class attribute such as
``SnapshotLog.commit``) and :meth:`Tracer.uninstall` puts the original
back, so untraced rounds run the engine's own code.

Each span records name, start, end, parent and op id. The runner is a
single driver in a closed loop, so exactly one op is open at a time; a
span opened on a thread with no open span of its own (compaction's unit
thread pool) takes the op's root span as its parent.

Spark jobs are attributed to spans through the local property
``maintbench.span``. A wrapper that can start Spark jobs sets it in the
calling thread on entry and restores it on exit, so jobs submitted from
compaction's pool threads carry their unit's span. Stage and task
metrics come from the ``spark.eventLog`` file that only the traced run
enables (:func:`read_event_log`).

Process CPU time is read from ``/proc`` around every op and peak RSS at
the end of a run (:class:`ProcTree`), with no sampler thread.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import resource
import statistics
import threading
import time
from contextlib import contextmanager

SPAN_PROP = "maintbench.span"

# each benchmark op kind and the workloads that issue it; the traced run
# reports each kind's median wall and CPU seconds (from untraced rounds)
OP_KINDS = {
    "append": "compact_zorder",
    "compact": "compact_zorder",
    "merge": "merge_dml_cdc",
    "delete": "merge_dml_cdc",
    "update": "merge_dml_cdc",
    "cdc": "merge_dml_cdc",
    "lookup": "both workloads",
    "expire": "both workloads",
    "gc": "both workloads",
}

# (name, unit, better, the end-to-end metric and workloads it should move).
# Values are per traced round unless the name says otherwise (per lookup,
# per op, a ratio, a percentile). A layer a workload never enters reads 0.
PER_LAYER = [
    ("scan.plan_s", "s", "lower", "maint_cpu_s (lookups) on both workloads"),
    ("scan.exec_s", "s", "lower", "maint_cpu_s (lookups) on both workloads"),
    ("scan.files_per_lookup", "count", "lower", "maint_cpu_s (lookups) on both workloads"),
    ("scan.bytes_per_lookup", "bytes", "lower", "maint_cpu_s (lookups) on both workloads"),
    ("scan.files_pruned_frac", "ratio", "higher", "maint_cpu_s (lookups) on both workloads"),
    ("compaction.plan_s", "s", "lower", "maint_cpu_s on compact_zorder"),
    ("compaction.units", "count", "lower", "maint_cpu_s on compact_zorder"),
    ("compaction.unit_s_sum", "s", "lower", "maint_cpu_s on compact_zorder"),
    ("compaction.unit_busy_s", "s", "lower", "op.compact_s on compact_zorder (no CPU saved by overlap)"),
    ("compaction.files_in", "count", "lower", "maint_cpu_s on compact_zorder"),
    ("compaction.files_out", "count", "lower", "space_amp, maint_cpu_s (lookups) on compact_zorder"),
    ("compaction.bytes_in", "bytes", "lower", "maint_cpu_s on compact_zorder"),
    ("compaction.bytes_out", "bytes", "lower", "space_amp, write_amp on compact_zorder"),
    ("manifest.read_s", "s", "lower", "maint_cpu_s (lookups too) on both workloads"),
    ("manifest.read_list_calls", "count", "lower", "maint_cpu_s on both workloads"),
    ("manifest.read_shard_calls", "count", "lower", "maint_cpu_s on merge_dml_cdc"),
    ("manifest.update_s", "s", "lower", "maint_cpu_s on both workloads"),
    ("manifest.write_s", "s", "lower", "maint_cpu_s on both workloads"),
    ("manifest.files_written", "count", "lower", "write_amp, space_amp on both workloads"),
    ("manifest.rows_per_file_written", "count", "higher", "space_amp, maint_cpu_s (lookups) on merge_dml_cdc"),
    ("snapshots.commit_s", "s", "lower", "maint_cpu_s on both workloads"),
    ("snapshots.commits", "count", "lower", "maint_cpu_s on both workloads"),
    ("snapshots.commit_failures", "count", "lower", "ok_op_frac on both workloads"),
    ("snapshots.expire_s", "s", "lower", "maint_cpu_s on both workloads"),
    ("snapshots.expired", "count", "higher", "space_amp on both workloads"),
    ("checkpoint.writes", "count", "lower", "maint_cpu_s on compact_zorder"),
    ("checkpoint.s", "s", "lower", "maint_cpu_s on compact_zorder"),
    ("merge.candidate_files", "count", "lower", "maint_cpu_s, write_amp on merge_dml_cdc"),
    ("merge.files_rewritten", "count", "lower", "maint_cpu_s, write_amp on merge_dml_cdc"),
    ("merge.rows_rewritten", "count", "lower", "maint_cpu_s, write_amp on merge_dml_cdc"),
    ("merge.rows_changed", "count", "higher", "write_amp on merge_dml_cdc"),
    ("merge.useful_row_frac", "ratio", "higher", "maint_cpu_s, write_amp on merge_dml_cdc"),
    ("delete.find_s", "s", "lower", "maint_cpu_s on merge_dml_cdc"),
    ("delete.commit_rewrite_s", "s", "lower", "maint_cpu_s on merge_dml_cdc"),
    ("delete.files_touched", "count", "lower", "maint_cpu_s, write_amp on merge_dml_cdc"),
    ("delete.useful_row_frac", "ratio", "higher", "write_amp on merge_dml_cdc"),
    ("update.find_s", "s", "lower", "maint_cpu_s on merge_dml_cdc"),
    ("update.commit_rewrite_s", "s", "lower", "maint_cpu_s on merge_dml_cdc"),
    ("update.files_touched", "count", "lower", "maint_cpu_s, write_amp on merge_dml_cdc"),
    ("update.useful_row_frac", "ratio", "higher", "write_amp on merge_dml_cdc"),
    ("changes.diff_s", "s", "lower", "maint_cpu_s on merge_dml_cdc"),
    ("changes.classify_s", "s", "lower", "maint_cpu_s on merge_dml_cdc"),
    ("changes.fetch_s", "s", "lower", "maint_cpu_s on merge_dml_cdc"),
    ("changes.files_read", "count", "lower", "maint_cpu_s on merge_dml_cdc"),
    ("changes.rows_out", "count", "lower", "maint_cpu_s on merge_dml_cdc"),
    ("gc.s", "s", "lower", "maint_cpu_s on both workloads"),
    ("gc.reachable_files", "count", "lower", "maint_cpu_s on both workloads"),
    ("gc.removed_files", "count", "higher", "space_amp on both workloads"),
    ("gc.removed_manifests", "count", "higher", "space_amp on both workloads"),
    ("health.record_s", "s", "lower", "maint_cpu_s on both workloads (should stay near 0)"),
    ("health.records", "count", "lower", "maint_cpu_s on both workloads"),
    ("spark.jobs", "count", "lower", "maint_cpu_s on both workloads"),
    ("spark.stages", "count", "lower", "maint_cpu_s on both workloads"),
    ("spark.tasks", "count", "lower", "maint_cpu_s on compact_zorder"),
    ("spark.executor_run_s", "s", "lower", "maint_cpu_s on compact_zorder"),
    ("spark.executor_cpu_s", "s", "lower", "maint_cpu_s on both workloads"),
    ("spark.jvm_gc_s", "s", "lower", "maint_cpu_s on both workloads"),
    ("spark.shuffle_write_bytes", "bytes", "lower", "maint_cpu_s on both workloads"),
    ("spark.shuffle_read_bytes", "bytes", "lower", "maint_cpu_s on both workloads"),
    ("spark.input_bytes", "bytes", "lower", "maint_cpu_s (lookups too) on both workloads"),
    ("spark.dead_s", "s", "lower", "op.maint_s on both workloads (serial driver-side wall)"),
    ("spark.slot_util", "ratio", "higher", "op.compact_s on compact_zorder"),
    ("proc.driver_cpu_s", "s", "lower", "maint_cpu_s on both workloads"),
    ("proc.jvm_cpu_s", "s", "lower", "maint_cpu_s on both workloads"),
    ("proc.pyworker_cpu_s", "s", "lower", "maint_cpu_s on compact_zorder"),
    ("proc.peak_rss_mb", "MB", "lower", "peak_rss_mb on both workloads"),
    # wall and CPU seconds of each op kind, from the untraced rounds
    *[
        entry
        for kind, where in OP_KINDS.items()
        for entry in (
            (f"op.{kind}_s", "s", "lower", f"wall only; its CPU moves maint_cpu_s on {where}"),
            (f"op.{kind}_cpu_s", "s", "lower", f"maint_cpu_s on {where}"),
        )
    ],
    ("op.append_tail_s", "s", "lower", "wall only, compact_zorder"),
    ("op.lookup_tail_s", "s", "lower", "wall only, both workloads"),
    ("op.maint_s", "s", "lower", "wall only: a round's ops, both workloads"),
    ("trace.overhead_s", "s", "lower", "none: traced minus untraced round wall"),
]


class Span:
    __slots__ = ("sid", "name", "parent", "op", "start", "end", "attrs")

    def __init__(self, sid: int, name: str, parent: int | None, op: int, start: float):
        self.sid, self.name, self.parent, self.op = sid, name, parent, op
        self.start, self.end = start, start
        self.attrs: dict = {}

    @property
    def dur(self) -> float:
        return self.end - self.start


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Installs span wrappers; keeps spans in memory until the run ends."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._next_sid = 0
        self._root: Span | None = None
        self._saved: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _open(self, name: str, tag_spark: bool) -> tuple[Span, str | None]:
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        with self._lock:
            self._next_sid += 1
            sid = self._next_sid
        sp = Span(sid, name, parent.sid if parent else None, parent.op if parent else sid, time.time())
        stack.append(sp)
        prev = None
        if tag_spark:
            prev = self.sc.getLocalProperty(SPAN_PROP)
            self.sc.setLocalProperty(SPAN_PROP, str(sid))
        return sp, prev

    def _close(self, sp: Span, tag_spark: bool, prev: str | None) -> None:
        sp.end = time.time()
        self._stack().pop()
        if tag_spark:
            self.sc.setLocalProperty(SPAN_PROP, prev)
        with self._lock:
            self.spans.append(sp)

    @contextmanager
    def op(self, kind: str, attrs: dict | None = None):
        """Root span of one benchmark op; Spark jobs it starts directly
        (a lookup's count, a CDC fetch) are tagged with it."""
        sp, prev = self._open(kind, True)
        sp.attrs.update(attrs or {})
        self._root = sp
        try:
            yield sp
        except BaseException:
            sp.attrs["failed"] = 1
            raise
        finally:
            self._close(sp, True, prev)
            self._root = None

    # --------------------------------------------------------- wrappers
    def _wrap(self, owner, attr: str, name: str, tag_spark: bool = False, note=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            sp, prev = tracer._open(name, tag_spark)
            try:
                out = orig(*args, **kwargs)
            except BaseException:
                sp.attrs["failed"] = 1
                raise
            finally:
                tracer._close(sp, tag_spark, prev)
            if note is not None:
                note(sp, args, out)
            return out

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from hoopstat_haus_spark.lakehouse import changes, checkpoint, delete, gc, health
        from hoopstat_haus_spark.lakehouse import manifest, merge, snapshots, table, update

        T = table.TokenLakeTable
        self._wrap(T, "scan", "scan", note=self._note_scan)
        self._wrap(T, "compact", "compaction.compact", note=_note_metrics)
        self._wrap(table, "plan_compaction", "compaction.plan")
        self._wrap(table, "plan_unit_bounds", "compaction.plan", tag_spark=True)
        self._wrap(table, "compact_partition", "compaction.unit", tag_spark=True)
        self._wrap(manifest, "read_manifest_list", "manifest.read_list")
        self._wrap(manifest, "read_shard", "manifest.read_shard")
        self._wrap(manifest, "update_manifest", "manifest.update")
        self._wrap(
            manifest, "write_partitioned_with_stats", "manifest.write", tag_spark=True,
            note=_note_written,
        )
        self._wrap(snapshots.SnapshotLog, "commit", "snapshots.commit")
        self._wrap(snapshots.SnapshotLog, "expire", "snapshots.expire", note=_note_len)
        self._wrap(checkpoint.JobCheckpoint, "intent", "checkpoint.write")
        self._wrap(checkpoint.JobCheckpoint, "done", "checkpoint.write")
        self._wrap(merge, "merge_into", "merge.merge_into", tag_spark=True, note=_note_metrics)
        self._wrap(merge, "_candidate_files", "merge.candidates", tag_spark=True, note=_note_cand)
        for mod in (delete, update):
            self._wrap(mod, "find_touched_files", "dml.find", tag_spark=True, note=_note_find)
            self._wrap(mod, "commit_rewrite", "dml.commit_rewrite")
        self._wrap(changes, "changed_files", "changes.diff", note=_note_diff)
        self._wrap(changes, "table_changes", "changes.classify", tag_spark=True)
        self._wrap(gc, "collect_garbage", "gc.collect", note=_note_gc)
        self._wrap(health, "record_job_metrics", "health.record")

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def _note_scan(self, sp: Span, args, df) -> None:
        # counts only for the benchmark's lookups; inputFiles() lists the
        # relation's files driver-side (no Spark job)
        root = self._root
        if root is None or root.name != "lookup":
            return
        t0 = time.time()
        files = df.inputFiles()
        table = args[0]
        sp.attrs["files"] = len(files)
        sp.attrs["bytes"] = sum(os.path.getsize(_uri_path(u)) for u in files)
        sp.attrs["live_files"] = int(table.log.current().summary.get("files", 0))
        sp.attrs["note_s"] = time.time() - t0

    # ------------------------------------------------------- summarizing
    def layer_metrics(
        self, rounds: int, events: dict, slots: int, proc: dict, op_walls: dict, overhead_s: float
    ) -> dict[str, float]:
        """Per-layer numbers per traced round (see PER_LAYER)."""
        spans = self.spans
        by_sid = {s.sid: s for s in spans}
        kids: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)

        def self_s(s: Span) -> float:
            cover = [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.sid, ())]
            return s.dur - _union_len([iv for iv in cover if iv[1] > iv[0]])

        def op_of(s: Span) -> Span:
            return by_sid[s.op]

        named: dict[str, list[Span]] = {}
        for s in spans:
            named.setdefault(s.name, []).append(s)

        def all_(name: str, kind: str | None = None) -> list[Span]:
            return [s for s in named.get(name, []) if kind is None or op_of(s).name == kind]

        def tot_self(name: str, kind: str | None = None) -> float:
            return sum(self_s(s) for s in all_(name, kind))

        def tot_attr(name: str, key: str, kind: str | None = None) -> float:
            return sum(s.attrs.get(key, 0) for s in all_(name, kind))

        def ratio(a: float, b: float) -> float:
            return a / b if b else 0.0

        r = max(1, rounds)
        m: dict[str, float] = {}

        lookups = named.get("lookup", [])
        scans = all_("scan", "lookup")
        n_look = len(lookups)
        scan_dur = sum(s.dur + s.attrs.get("note_s", 0.0) for s in scans)
        m["scan.plan_s"] = ratio(sum(self_s(s) for s in scans), n_look)
        m["scan.exec_s"] = ratio(sum(s.dur for s in lookups) - scan_dur, n_look)
        files = tot_attr("scan", "files", "lookup")
        m["scan.files_per_lookup"] = ratio(files, n_look)
        m["scan.bytes_per_lookup"] = ratio(tot_attr("scan", "bytes", "lookup"), n_look)
        live = tot_attr("scan", "live_files", "lookup")
        m["scan.files_pruned_frac"] = 1.0 - ratio(files, live) if live else 0.0

        units = named.get("compaction.unit", [])
        busy = 0.0
        for op_sid in {u.op for u in units}:
            busy += _union_len([(u.start, u.end) for u in units if u.op == op_sid])
        m["compaction.plan_s"] = tot_self("compaction.plan") / r
        m["compaction.units"] = len(units) / r
        m["compaction.unit_s_sum"] = sum(u.dur for u in units) / r
        m["compaction.unit_busy_s"] = busy / r
        for key in ("files_in", "files_out", "bytes_in", "bytes_out"):
            m[f"compaction.{key}"] = tot_attr("compaction.compact", key) / r

        m["manifest.read_s"] = (tot_self("manifest.read_list") + tot_self("manifest.read_shard")) / r
        m["manifest.read_list_calls"] = len(all_("manifest.read_list")) / r
        m["manifest.read_shard_calls"] = len(all_("manifest.read_shard")) / r
        m["manifest.update_s"] = tot_self("manifest.update") / r
        m["manifest.write_s"] = tot_self("manifest.write") / r
        written = tot_attr("manifest.write", "files")
        m["manifest.files_written"] = written / r
        m["manifest.rows_per_file_written"] = ratio(tot_attr("manifest.write", "rows"), written)

        commits = all_("snapshots.commit")
        failed = sum(1 for s in commits if s.attrs.get("failed"))
        m["snapshots.commit_s"] = tot_self("snapshots.commit") / r
        m["snapshots.commits"] = (len(commits) - failed) / r
        m["snapshots.commit_failures"] = failed / r
        m["snapshots.expire_s"] = tot_self("snapshots.expire") / r
        m["snapshots.expired"] = tot_attr("snapshots.expire", "n") / r

        m["checkpoint.writes"] = len(all_("checkpoint.write")) / r
        m["checkpoint.s"] = tot_self("checkpoint.write") / r

        m["merge.candidate_files"] = tot_attr("merge.candidates", "files") / r
        m["merge.files_rewritten"] = tot_attr("merge.merge_into", "files_out") / r
        rows_rw = tot_attr("merge.candidates", "rows")
        rows_ch = sum(s.attrs.get("rows_changed", 0) for s in named.get("merge", []))
        m["merge.rows_rewritten"] = rows_rw / r
        m["merge.rows_changed"] = rows_ch / r
        m["merge.useful_row_frac"] = ratio(rows_ch, rows_rw)

        for kind in ("delete", "update"):
            m[f"{kind}.find_s"] = tot_self("dml.find", kind) / r
            m[f"{kind}.commit_rewrite_s"] = tot_self("dml.commit_rewrite", kind) / r
            m[f"{kind}.files_touched"] = tot_attr("dml.find", "files", kind) / r
            m[f"{kind}.useful_row_frac"] = ratio(
                tot_attr("dml.find", "matched", kind), tot_attr("dml.find", "rows", kind)
            )

        cdc = named.get("cdc", [])
        m["changes.diff_s"] = tot_self("changes.diff") / r
        m["changes.classify_s"] = tot_self("changes.classify") / r
        m["changes.fetch_s"] = (
            sum(s.dur for s in cdc) - sum(s.dur for s in all_("changes.classify", "cdc"))
        ) / r
        m["changes.files_read"] = tot_attr("changes.diff", "files") / r
        m["changes.rows_out"] = sum(s.attrs.get("rows_out", 0) for s in cdc) / r

        m["gc.s"] = tot_self("gc.collect") / r
        for key in ("reachable_files", "removed_files", "removed_manifests"):
            m[f"gc.{key}"] = tot_attr("gc.collect", key) / r

        m["health.record_s"] = tot_self("health.record") / r
        m["health.records"] = len(all_("health.record")) / r

        m.update(_spark_metrics(events, spans, by_sid, r, slots))
        m.update(proc)
        m.update(op_walls)
        m["trace.overhead_s"] = overhead_s
        return m


def _uri_path(uri: str) -> str:
    from urllib.parse import unquote, urlparse

    return unquote(urlparse(uri).path) if uri.startswith("file:") else uri


def _note_metrics(sp: Span, args, out) -> None:
    metrics = out[1]
    for key in ("files_in", "files_out", "bytes_in", "bytes_out"):
        sp.attrs[key] = getattr(metrics, key)


def _note_written(sp: Span, args, rows) -> None:
    sp.attrs["files"] = len(rows)
    sp.attrs["rows"] = sum(r["row_count"] for r in rows)


def _note_len(sp: Span, args, out) -> None:
    sp.attrs["n"] = len(out)


def _note_cand(sp: Span, args, cand) -> None:
    sp.attrs["files"] = len(cand)
    sp.attrs["rows"] = sum(e["row_count"] for e in cand)


def _note_find(sp: Span, args, out) -> None:
    _head, matched, cand, _shards = out
    sp.attrs["matched"] = matched
    sp.attrs["files"] = len(cand)
    sp.attrs["rows"] = sum(e["row_count"] for e in cand)


def _note_diff(sp: Span, args, out) -> None:
    added, removed = out
    sp.attrs["files"] = len(added) + len(removed)


def _note_gc(sp: Span, args, out) -> None:
    sp.attrs["reachable_files"] = out["reachable_files"]
    sp.attrs["removed_files"] = len(out["removed_data_files"])
    sp.attrs["removed_manifests"] = len(out["removed_manifests"])


# ------------------------------------------------------------ event log
def read_event_log(log_dir: str) -> dict:
    """Parse the Spark event log into jobs, stages and tasks, keeping the
    ``maintbench.span`` property each stage was submitted under."""
    jobs: dict[int, str | None] = {}
    stage_span: dict[int, str | None] = {}
    tasks: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = (ev.get("Properties") or {}).get(SPAN_PROP)
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stage_span.setdefault(sid, (ev.get("Properties") or {}).get(SPAN_PROP))
                elif kind == "SparkListenerTaskEnd":
                    info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "start": info["Launch Time"] / 1000.0,
                            "end": info["Finish Time"] / 1000.0,
                            "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                            "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                            "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                            "shuffle_write": (tm.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            "shuffle_read": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "input": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                        }
                    )
    return {"jobs": jobs, "stages": stage_span, "tasks": tasks}


def _spark_metrics(events: dict, spans: list[Span], by_sid: dict, r: int, slots: int) -> dict:
    """Spark work attributed to traced ops, and each op's dead time (its
    wall with no task of its own running)."""

    def op_sid(prop: str | None) -> int | None:
        if prop is None or not prop.isdigit():
            return None
        s = by_sid.get(int(prop))
        return s.op if s is not None else None

    jobs = [j for j, p in events.get("jobs", {}).items() if op_sid(p) is not None]
    stage_op = {st: op_sid(p) for st, p in events.get("stages", {}).items()}
    stage_op = {st: o for st, o in stage_op.items() if o is not None}
    tasks = [t for t in events.get("tasks", []) if t["stage"] in stage_op]
    ops = [by_sid[o] for o in {s.op for s in spans}]
    task_iv: dict[int, list[tuple[float, float]]] = {}
    for t in tasks:
        task_iv.setdefault(stage_op[t["stage"]], []).append((t["start"], t["end"]))
    dead = 0.0
    wall = 0.0
    for o in ops:
        clipped = [(max(s, o.start), min(e, o.end)) for s, e in task_iv.get(o.sid, [])]
        dead += o.dur - _union_len([iv for iv in clipped if iv[1] > iv[0]])
        wall += o.dur
    task_s = sum(t["end"] - t["start"] for t in tasks)
    return {
        "spark.jobs": len(jobs) / r,
        "spark.stages": len(stage_op) / r,
        "spark.tasks": len(tasks) / r,
        "spark.executor_run_s": sum(t["run_s"] for t in tasks) / r,
        "spark.executor_cpu_s": sum(t["cpu_s"] for t in tasks) / r,
        "spark.jvm_gc_s": sum(t["gc_s"] for t in tasks) / r,
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks) / r,
        "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks) / r,
        "spark.input_bytes": sum(t["input"] for t in tasks) / r,
        "spark.dead_s": dead / r,
        "spark.slot_util": task_s / (wall * slots) if wall else 0.0,
    }


# ---------------------------------------------------------------- /proc
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcTree:
    """The driver, its JVM and the JVM's Python daemon and workers."""

    def __init__(self) -> None:
        self.me = os.getpid()

    def _children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
        return kids

    def roles(self) -> dict[str, list[int]]:
        kids = self._children()
        out: dict[str, list[int]] = {"jvm": [], "daemon": [], "worker": []}
        todo = list(kids.get(self.me, []))
        while todo:
            pid = todo.pop()
            cmd = _cmdline(pid)
            if "pyspark.daemon" in cmd or "pyspark/daemon" in cmd:
                out["daemon"].append(pid)
                out["worker"].extend(kids.get(pid, []))
                continue
            if "java" in cmd:
                out["jvm"].append(pid)
            todo.extend(kids.get(pid, []))
        return out

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds per role; the daemon counts the reaped
        workers it waited for (cutime/cstime)."""
        ru = resource.getrusage(resource.RUSAGE_SELF)
        roles = self.roles()

        def ticks(pid: int, fields: tuple[int, ...]) -> float:
            st = _stat(pid)
            return sum(int(st[i]) for i in fields) / _TICK if st else 0.0

        return {
            "driver": ru.ru_utime + ru.ru_stime,
            "jvm": sum(ticks(p, (11, 12)) for p in roles["jvm"]),
            "pyworker": sum(ticks(p, (11, 12, 13, 14)) for p in roles["daemon"])
            + sum(ticks(p, (11, 12)) for p in roles["worker"]),
        }

    def peak_rss_mb(self) -> float:
        """Sum of each live process's own peak RSS (VmHWM)."""
        roles = self.roles()
        pids = [self.me, *roles["jvm"], *roles["daemon"], *roles["worker"]]
        return sum(_hwm_kb(p) for p in pids) / 1024.0


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: max(0.0, after[k] - before.get(k, 0.0)) for k in after}


def median_or_zero(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
