"""The traced run: spans around the program's public calls, Spark jobs
attributed to them, and the per-layer metrics derived from both.

Spans are recorded by wrapping public functions and methods of the
program's modules for the duration of the run (nothing is wrapped when
tracing is off). Each span carries a name, start, end, parent, thread and
the op it belongs to; a span that can launch Spark jobs also sets the
thread's job group, so the event log names the span that launched each
job. Jobs that run under a group the tracer did not set (a streaming
query's own micro-batch group) are attributed to the innermost span open
at their submission time.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time

from harness import median

GROUP_KEY = "spark.jobGroup.id"

# every per-layer metric a traced run prints, with its unit; a metric of a
# layer the workload does not touch reads 0
PER_LAYER = {
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.driver_ms_per_op": "ms",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms", "spark.shuffle_write_bytes": "B",
    "session.start_ms": "ms",
    "index.build_index_ms": "ms", "index.stamp_key_encodings_ms": "ms",
    "index.probe_ms": "ms", "index.fs_ms": "ms", "index.probe_range_ms": "ms",
    "index.dense_keys": "count", "index.index_bytes": "B",
    "rowset.intersect_all_ms": "ms", "rowset.union_all_ms": "ms",
    "rowset.andnot_ms": "ms", "rowset.to_rows_ms": "ms",
    "access.smart_filter_ms": "ms", "access.index_path_calls": "count",
    "access.scan_path_calls": "count",
    "costats.costats_index_ms": "ms",
    "segments.write_segment_ms": "ms", "segments.write_segment_jobs": "count",
    "segments.smart_filter_ms": "ms", "segments.smart_filter_jobs": "count",
    "segments.pruned_ratio": "ratio", "segments.merge_by_key_ms": "ms",
    "segments.delete_where_ms": "ms", "segments.compact_ms": "ms",
    "segments.vacuum_ms": "ms", "segments.bytes_written_per_input_byte": "ratio",
    "fsio.calls_per_commit": "count", "fsio.ms_per_commit": "ms",
    "fsio.read_text_calls": "count", "fsio.list_dir_calls": "count",
    "fsio.atomic_write_text_calls": "count",
    "ingest.batch_ms": "ms",
    "similarity.ivf_build_store_ms": "ms", "similarity.ivfpq_build_store_ms": "ms",
    "similarity.ann_ivf_store_ms": "ms", "similarity.ann_ivfpq_store_ms": "ms",
    "similarity.ivf_append_ms": "ms",
    "ann_maintenance.live_codes_ms": "ms",
    "ann_maintenance.read_centroid_sidecar_ms": "ms",
    **{f"self.{layer}_ms_per_op": "ms" for layer in (
        "op", "index", "rowset", "access", "costats", "segments", "fsio",
        "ingest", "similarity", "ann_maintenance")},
    "trace.ops_per_s": "ops/s", "trace.unattributed_jobs": "count",
    "trace.tracker_mismatches": "count", "trace.jobs_repeat_compared": "count",
    "trace.jobs_repeat_mismatches": "count",
}
# per-layer values the workload measures itself (sizes on disk, counts)
FROM_WORKLOAD = ("index.build_index_ms", "index.dense_keys", "index.index_bytes",
                 "segments.bytes_written_per_input_byte")


class NullTracer:
    enabled = False

    def op(self, name, timed, round_no=None):
        return contextlib.nullcontext()

    def span(self, name, layer, jobs=True, timed=None):
        return contextlib.nullcontext()


def _targets():
    """(owner, attribute, layer, launches_jobs) for every wrapped call."""
    from iodf_spark.operators import access, ann_maintenance, costats, similarity
    from iodf_spark.operators import index as idx
    from iodf_spark.plans import rowset
    from iodf_spark.sources import fsio
    from iodf_spark.sources.segments import SegmentStore
    from iodf_spark.streaming import ingest

    out = []
    for name in ("build_index", "stamp_key_encodings", "probe", "fs", "probe_range", "write_index"):
        out.append((idx, name, "index", True))
    for name in ("intersect_all", "union_all"):
        out.append((rowset, name, "rowset", True))
    for name in ("andnot", "to_rows", "f"):
        out.append((rowset.PostingSet, name, "rowset", True))
    out.append((access, "smart_filter", "access", True))
    out.append((costats, "costats_index", "costats", True))
    for name in ("write_segment", "smart_filter", "merge_by_key", "delete_where",
                 "compact", "compact_run", "vacuum", "open"):
        out.append((SegmentStore, name, "segments", True))
    for name in ("list_dir", "exists", "is_dir", "makedirs", "walk_has_suffix",
                 "atomic_replace", "link_claim", "atomic_write_text", "remove_file",
                 "rename_dir", "remove_tree", "list_files", "list_subdirs",
                 "claim_dir", "read_text", "mtime"):
        out.append((fsio, name, "fsio", False))
    out.append((ingest, "stream_ingest_segments", "ingest", True))
    for name in ("ivf_build_store", "ivfpq_build_store", "ann_ivf_store",
                 "ann_ivfpq_store", "ivf_append"):
        out.append((similarity, name, "similarity", True))
    for name in ("live_codes", "read_centroid_sidecar", "read_codebook_sidecar"):
        out.append((ann_maintenance, name, "ann_maintenance", True))
    return out


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[dict] = []
        self._saved: list[tuple] = []
        self.tracker_counts: dict[str, int] = {}

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, layer: str, jobs: bool = True, timed: bool | None = None):
        stack = self._stack()
        # a span on a callback thread (a foreachBatch body) hangs under the
        # main thread's open span, which is blocked waiting for it
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sp = {
            "id": next(self._ids), "name": name, "layer": layer,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else None,
            "timed": parent["timed"] if parent else bool(timed),
            "thread": threading.get_ident(), "group": None, "t0": time.time(),
        }
        if layer == "op":
            sp["op"], sp["timed"] = sp["id"], bool(timed)
        if jobs:
            outer = next((s["group"] for s in reversed(stack) if s["group"]), None)
            if outer is None:
                outer = self.sc.getLocalProperty(GROUP_KEY)
            sp["group"] = f"pb-{sp['id']}"
            self.sc.setLocalProperty(GROUP_KEY, sp["group"])
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp["t1"] = time.time()
            if jobs:
                self.sc.setLocalProperty(GROUP_KEY, outer)
            self.spans.append(sp)

    @contextlib.contextmanager
    def op(self, name, timed, round_no=None):
        with self.span(name, "op", True, timed) as sp:
            sp["round"] = round_no
            yield sp

    def install(self) -> None:
        for owner, attr, layer, jobs in _targets():
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, f"{layer}.{attr}", layer, jobs))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def _wrap(self, fn, name, layer, jobs):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer, jobs) as sp:
                out = fn(*args, **kwargs)
                # the two calls whose return value reports a plan decision
                if name == "access.smart_filter":
                    sp["path"] = out[1]
                elif name == "segments.smart_filter":
                    sp["info"] = dict(out[1])
                return out

        return wrapper

    # -- jobs ----------------------------------------------------------------

    def read_tracker(self) -> None:
        """Job counts per span group from the status tracker; must run while
        the session is still up."""
        st = self.sc.statusTracker()
        for sp in self.spans:
            if sp["group"]:
                self.tracker_counts[sp["group"]] = len(st.getJobIdsForGroup(sp["group"]))

    def attribute(self, eventlog_dir: str) -> dict:
        """Parse the plain event log and attribute every job, stage and task
        to a span."""
        jobs, stages, tasks = {}, {}, []
        for fname in sorted(os.listdir(eventlog_dir)):
            with open(os.path.join(eventlog_dir, fname)) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jobs[ev["Job ID"]] = {
                            "group": (ev.get("Properties") or {}).get(GROUP_KEY),
                            "t0": ev["Submission Time"] / 1000.0,
                        }
                    elif kind == "SparkListenerJobEnd":
                        if ev["Job ID"] in jobs:
                            jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
                    elif kind == "SparkListenerStageSubmitted":
                        info = ev["Stage Info"]
                        stages[info["Stage ID"]] = {
                            "group": (ev.get("Properties") or {}).get(GROUP_KEY),
                            "t0": info.get("Submission Time", 0) / 1000.0,
                        }
                    elif kind == "SparkListenerTaskEnd":
                        m = ev.get("Task Metrics") or {}
                        sw = m.get("Shuffle Write Metrics") or {}
                        tasks.append((ev["Stage ID"], m.get("Executor Run Time", 0),
                                      m.get("Executor CPU Time", 0) / 1e6,
                                      m.get("JVM GC Time", 0),
                                      sw.get("Shuffle Bytes Written", 0)))
        by_group = {sp["group"]: sp for sp in self.spans if sp["group"]}
        job_spans = [sp for sp in self.spans if sp["group"]]
        lo = min((s["t0"] for s in job_spans), default=0.0)
        hi = max((s["t1"] for s in job_spans), default=0.0)

        def owner(group, t):
            if group in by_group:
                return by_group[group]
            best = None
            for s in job_spans:
                if s["t0"] <= t <= s["t1"] and (best is None or s["t0"] >= best["t0"]):
                    best = s
            return best

        unattributed = []
        in_window = 0
        el_counts: dict[str, int] = {}
        for jid, j in sorted(jobs.items()):
            in_window += lo <= j["t0"] <= hi
            sp = owner(j["group"], j["t0"])
            if j["group"] in by_group:
                el_counts[j["group"]] = el_counts.get(j["group"], 0) + 1
            if sp is None:
                if lo <= j["t0"] <= hi:
                    unattributed.append({"job": jid, "group": j["group"],
                                         "at_s": round(j["t0"] - lo, 3)})
                continue
            sp.setdefault("jobs", []).append(j)
        for sid, st in stages.items():
            sp = owner(st["group"], st["t0"])
            if sp is not None:
                sp.setdefault("stage_ids", []).append(sid)
        stage_span = {sid: sp for sp in self.spans for sid in sp.get("stage_ids", [])}
        for sid, run_ms, cpu_ms, gc_ms, shw in tasks:
            sp = stage_span.get(sid)
            if sp is not None:
                acc = sp.setdefault("tasks", [0, 0.0, 0.0, 0.0, 0])
                acc[0] += 1
                acc[1] += run_ms
                acc[2] += cpu_ms
                acc[3] += gc_ms
                acc[4] += shw
        mismatches = sum(
            1 for g, n in self.tracker_counts.items() if el_counts.get(g, 0) != n
        )
        return {
            "jobs_in_log": len(jobs),
            # jobs submitted while traced spans were open; every one of them
            # should be attributed
            "jobs_in_traced_window": in_window,
            "jobs_attributed": sum(len(s.get("jobs", [])) for s in self.spans),
            "unattributed_jobs": len(unattributed),
            "unattributed": unattributed,
            "tracker_mismatches": mismatches,
        }

    # -- metrics -------------------------------------------------------------

    def metrics(self, counts: dict) -> tuple[dict, dict]:
        """Per-layer metrics over the timed ops, plus a report (per-op job
        counts, per-layer self time) for the trace file."""
        by_id = {s["id"]: s for s in self.spans}
        children: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        ops = sorted((s for s in self.spans if s["layer"] == "op"), key=lambda s: s["t0"])
        timed_ops = [s for s in ops if s["timed"]]
        n_ops = max(len(timed_ops), 1)
        members: dict[int, list] = {}
        for s in self.spans:
            if s["op"] is not None:
                members.setdefault(s["op"], []).append(s)

        def op_jobs(op):
            return [j for s in members.get(op["id"], []) for j in s.get("jobs", [])]

        def op_tasks(op):
            acc = [0, 0.0, 0.0, 0.0, 0]
            for s in members.get(op["id"], []):
                for i, v in enumerate(s.get("tasks", ())):
                    acc[i] += v
            return acc

        def union_len(intervals, lo, hi):
            total, cur_lo, cur_hi = 0.0, None, None
            for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
                if b <= a:
                    continue
                if cur_hi is None or a > cur_hi:
                    if cur_hi is not None:
                        total += cur_hi - cur_lo
                    cur_lo, cur_hi = a, b
                else:
                    cur_hi = max(cur_hi, b)
            if cur_hi is not None:
                total += cur_hi - cur_lo
            return total

        m: dict[str, float] = {}
        jobs_n = stages_n = 0
        tasks_acc = [0, 0.0, 0.0, 0.0, 0]
        driver_s = 0.0
        for op in timed_ops:
            js = op_jobs(op)
            jobs_n += len(js)
            stages_n += sum(len(s.get("stage_ids", [])) for s in members.get(op["id"], []))
            for i, v in enumerate(op_tasks(op)):
                tasks_acc[i] += v
            covered = union_len([(j["t0"], j.get("t1", op["t1"])) for j in js], op["t0"], op["t1"])
            driver_s += (op["t1"] - op["t0"]) - covered
        m["spark.jobs_per_op"] = jobs_n / n_ops
        m["spark.stages_per_op"] = stages_n / n_ops
        m["spark.tasks_per_op"] = tasks_acc[0] / n_ops
        m["spark.driver_ms_per_op"] = driver_s * 1000.0 / n_ops
        m["spark.executor_run_ms"] = tasks_acc[1] / n_ops
        m["spark.executor_cpu_ms"] = tasks_acc[2] / n_ops
        m["spark.gc_ms"] = tasks_acc[3] / n_ops
        m["spark.shuffle_write_bytes"] = tasks_acc[4] / n_ops

        # per call: latency of the ops that exercise it (call + materialise)
        op_ms: dict[str, list] = {}
        op_jobs_n: dict[str, list] = {}
        for op in timed_ops:
            op_ms.setdefault(op["name"], []).append((op["t1"] - op["t0"]) * 1000.0)
            op_jobs_n.setdefault(op["name"], []).append(len(op_jobs(op)))
        # nested calls and calls made outside ops (builds): span durations
        span_ms: dict[str, list] = {}
        for s in self.spans:
            if s["layer"] != "op" and (s["timed"] or s["op"] is None):
                span_ms.setdefault(s["name"], []).append((s["t1"] - s["t0"]) * 1000.0)

        def call_ms(name):
            return median(op_ms.get(name) or span_ms.get(name) or [])

        for name in ("index.stamp_key_encodings",
                     "similarity.ivf_build_store", "similarity.ivfpq_build_store",
                     "ann_maintenance.live_codes", "ann_maintenance.read_centroid_sidecar"):
            m[name + "_ms"] = median(span_ms.get(name, []))
        for name in ("index.probe", "index.fs", "index.probe_range",
                     "rowset.intersect_all", "rowset.union_all", "rowset.andnot",
                     "rowset.to_rows", "access.smart_filter", "costats.costats_index",
                     "segments.write_segment", "segments.smart_filter",
                     "segments.merge_by_key", "segments.delete_where",
                     "segments.compact", "segments.vacuum",
                     "similarity.ann_ivf_store", "similarity.ann_ivfpq_store",
                     "similarity.ivf_append"):
            m[name + "_ms"] = call_ms(name)
        m["segments.write_segment_jobs"] = median(op_jobs_n.get("segments.write_segment", []))
        m["segments.smart_filter_jobs"] = median(op_jobs_n.get("segments.smart_filter", []))

        timed_spans = [s for s in self.spans if s["timed"]]
        calls = [s for s in timed_spans if s["layer"] != "op"]
        paths = [s["path"] for s in calls if s["name"] == "access.smart_filter"]
        m["access.index_path_calls"] = paths.count("index") / n_ops
        m["access.scan_path_calls"] = paths.count("scan") / n_ops
        infos = [s["info"] for s in calls if s["name"] == "segments.smart_filter"]
        considered = sum(i["segments"] for i in infos)
        m["segments.pruned_ratio"] = (
            sum(i["pruned"] for i in infos) / considered if considered else 0.0
        )
        # a foreachBatch body runs on a callback thread under the ingest span
        ingest_ids = {s["id"] for s in calls if s["name"] == "ingest.stream_ingest_segments"}
        m["ingest.batch_ms"] = median([
            (s["t1"] - s["t0"]) * 1000.0 for s in calls
            if s["name"] == "segments.write_segment" and s["parent"] in ingest_ids
        ])

        commits = counts.get("commits", 0)
        fs_spans = [s for s in timed_spans if s["layer"] == "fsio"]
        per_commit = (lambda x: x / commits) if commits else (lambda x: 0.0)
        m["fsio.calls_per_commit"] = per_commit(len(fs_spans))
        m["fsio.ms_per_commit"] = per_commit(sum((s["t1"] - s["t0"]) * 1000.0 for s in fs_spans))
        for call in ("read_text", "list_dir", "atomic_write_text"):
            m[f"fsio.{call}_calls"] = per_commit(sum(1 for s in fs_spans if s["name"] == "fsio." + call))

        # self time: a span's duration minus what its children cover
        self_ms: dict[str, float] = {}
        for s in timed_spans:
            kids = [(c["t0"], c["t1"]) for c in children.get(s["id"], [])]
            own = (s["t1"] - s["t0"]) - union_len(kids, s["t0"], s["t1"])
            self_ms[s["layer"]] = self_ms.get(s["layer"], 0.0) + own * 1000.0
        for layer in ("op", "index", "rowset", "access", "costats", "segments",
                      "fsio", "ingest", "similarity", "ann_maintenance"):
            m[f"self.{layer}_ms_per_op"] = self_ms.get(layer, 0.0) / n_ops

        report = {
            "ops": [
                {"name": op["name"], "round": op["round"], "timed": op["timed"],
                 "jobs": len(op_jobs(op)),
                 "ms": round((op["t1"] - op["t0"]) * 1000.0, 3)}
                for op in ops
            ],
            "self_ms_per_op": {k: v / n_ops for k, v in self_ms.items()},
            "spans": len(self.spans),
            "max_depth": max((_depth(s, by_id) for s in self.spans), default=0),
        }
        return m, report


def _depth(s, by_id):
    d = 0
    while s["parent"] is not None:
        s = by_id[s["parent"]]
        d += 1
    return d


def compare_job_counts(report: dict, previous_path: str) -> tuple[int, list]:
    """Per-op job counts of this traced run against an earlier traced run of
    the same workload and seed, op by op within each round both runs made:
    (ops compared, the ops whose count differs)."""
    if not os.path.exists(previous_path):
        return 0, []
    with open(previous_path) as fh:
        prev = json.load(fh)["ops"]

    def keyed(ops):
        seen: dict = {}
        out = {}
        for o in ops:
            i = seen[o["round"]] = seen.get(o["round"], -1) + 1
            out[(o["round"], i)] = o
        return out

    before, now = keyed(prev), keyed(report["ops"])
    common = [k for k in now if k in before]
    diffs = [
        {"round": k[0], "op": k[1], "name": now[k]["name"],
         "before": before[k]["jobs"], "now": now[k]["jobs"]}
        for k in common
        if before[k]["name"] != now[k]["name"] or before[k]["jobs"] != now[k]["jobs"]
    ]
    return len(common), diffs
