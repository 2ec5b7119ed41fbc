"""The traced run: spans around each layer's public calls, Spark jobs
attributed to the innermost open span, and the per-layer split.

Wrappers are installed from here, never inside the program.  Each span
records name, layer, start, end, parent and thread.  On entry a span
sets the ``perfbench.span`` local property in the calling thread, so
every Spark job the call starts carries the span id into the event log.
The persist fan-out runs in a thread pool; a span that opens with no
parent in its own thread is parented to the open ``run_round`` span.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import statistics
import sys
import threading
import time

SPAN_PROPERTY = "perfbench.span"

# (layer, module, attribute) — "Class.method" for methods
TARGETS = [
    ("session", "artemis_spark.session", "get_spark"),
    ("plans.crawl", "artemis_spark.plans.crawl", "CrawlEngine.__init__"),
    ("plans.crawl", "artemis_spark.plans.crawl", "CrawlEngine.bootstrap"),
    ("plans.crawl", "artemis_spark.plans.crawl", "CrawlEngine.run_round"),
    ("sources.state", "artemis_spark.sources.state", "StateStore.read"),
    ("sources.state", "artemis_spark.sources.state", "StateStore.read_appended"),
    ("sources.state", "artemis_spark.sources.state", "StateStore.write_version"),
    ("sources.state", "artemis_spark.sources.state", "StateStore.write_version_delta"),
    ("sources.state", "artemis_spark.sources.state", "StateStore.write_version_bucketed"),
    ("sources.state", "artemis_spark.sources.state", "StateStore.merge_upsert"),
    ("sources.state", "artemis_spark.sources.state", "StateStore.append_round"),
    ("sources.state", "artemis_spark.sources.state", "StateStore.commit"),
    ("sources.state", "artemis_spark.sources.state", "StateStore.vacuum"),
    ("operators.bloom", "artemis_spark.operators.bloom", "with_bloom_maybe_seen"),
    ("operators.bloom", "artemis_spark.operators.bloom", "with_bloom_maybe_seen_shard_local"),
    ("operators.bloom", "artemis_spark.operators.bloom", "update_and_save_shards"),
    ("operators.bloom", "artemis_spark.operators.bloom", "BloomShards.load"),
    ("operators.bloom", "artemis_spark.operators.bloom", "BloomShards.load_dir"),
    ("operators.dedup", "artemis_spark.operators.dedup", "dedupe_within_batch"),
    ("operators.dedup", "artemis_spark.operators.dedup", "split_by_bloom"),
    ("operators.dedup", "artemis_spark.operators.dedup", "validate_against_seen"),
    ("operators.dedup", "artemis_spark.operators.dedup", "as_new"),
    ("operators.robots", "artemis_spark.operators.robots", "apply_robots_flags"),
    ("operators.robots", "artemis_spark.operators.robots", "sitemap_candidates"),
    ("operators.politeness", "artemis_spark.operators.politeness", "with_score"),
    ("operators.politeness", "artemis_spark.operators.politeness", "politeness_ranked"),
    ("sources.fetch", "artemis_spark.sources.fetch", "build_web"),
    ("sources.fetch", "artemis_spark.sources.fetch", "build_payload_cache"),
    ("sources.fetch", "artemis_spark.sources.fetch", "synthetic_fetch"),
    ("functions.markup", "artemis_spark.functions.markup", "extract_outlinks"),
    ("functions.markup", "artemis_spark.functions.markup", "first_login_form"),
]

STATE_WRITES = {
    "StateStore.write_version",
    "StateStore.write_version_delta",
    "StateStore.write_version_bucketed",
    "StateStore.merge_upsert",
    "StateStore.append_round",
}
STATE_READS = {"StateStore.read", "StateStore.read_appended"}

# Python UDF plan nodes on the crawl path, told apart by the UDF name in
# the node's description
UDF_NODES = {
    "images.decode": "decode_validate_image",
    "bloom.probe": "probe",
}
PY_TIME_METRIC = "time to run Python workers"
PY_SENT_METRIC = "data sent to Python workers"


# every per-layer metric a traced run reports, with its unit
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "plans.crawl.init_s": "s",
    "plans.crawl.round_self_s": "s",
    "plans.crawl.jobs_per_round": "count",
    "plans.crawl.tasks_per_round": "count",
    "plans.crawl.exec_busy_frac": "ratio",
    "sources.state.write_s": "s",
    "sources.state.write_calls": "count",
    "sources.state.bytes_written": "B",
    "sources.state.read_s": "s",
    "sources.state.commit_s": "s",
    "sources.state.vacuum_s": "s",
    "sources.state.exec_s": "s",
    "sources.state.chain_len": "count",
    "operators.bloom.update_s": "s",
    "operators.bloom.load_s": "s",
    "operators.bloom.probe_py_s": "s",
    "operators.bloom.fill_ratio": "ratio",
    "operators.bloom.est_fp": "ratio",
    "operators.dedup.build_s": "s",
    "operators.dedup.dup_frac": "ratio",
    "operators.robots.build_s": "s",
    "operators.robots.blocked_frac": "ratio",
    "operators.politeness.build_s": "s",
    "sources.fetch.build_s": "s",
    "functions.markup.build_s": "s",
    "functions.images.decode_py_s": "s",
    "functions.images.py_bytes_sent": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "trace.spans": "count",
    "trace.bookkeeping_s": "s",
    "trace.setup_s": "s",
    "trace.first_round_s": "s",
    "trace.round_s_p50": "s",
}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._round_span: int | None = None
        self._undo: list[tuple[object, str, object]] = []
        self.enabled = True

    # -- wrapping ------------------------------------------------------------

    def install(self) -> None:
        for layer, mod_name, attr in TARGETS:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                raw = cls.__dict__[meth]
                if isinstance(raw, classmethod):
                    new = classmethod(self._wrap(layer, attr, raw.__func__))
                else:
                    new = self._wrap(layer, attr, raw)
                self._patch(cls, meth, new)
                continue
            orig = getattr(mod, attr)
            new = self._wrap(layer, attr, orig)
            # rebind every `from module import name` copy as well
            for other in list(sys.modules.values()):
                if (
                    getattr(other, "__name__", "").startswith("artemis_spark")
                    and other.__dict__.get(attr) is orig
                ):
                    self._patch(other, attr, new)

    def uninstall(self) -> None:
        while self._undo:
            obj, name, orig = self._undo.pop()
            setattr(obj, name, orig)

    def _patch(self, obj, name, new) -> None:
        self._undo.append((obj, name, obj.__dict__[name]))
        setattr(obj, name, new)

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            b0 = time.perf_counter()
            sid, parent = tracer._enter(name)
            t0 = time.time()
            b1 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.time()
                b2 = time.perf_counter()
                tracer._exit(sid, parent, layer, name, t0, t1)
                cost = (b1 - b0) + (time.perf_counter() - b2)
                with tracer._lock:
                    tracer.bookkeeping_s += cost

        return traced

    def _enter(self, name: str) -> tuple[int, int | None]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        parent = stack[-1] if stack else self._round_span
        stack.append(sid)
        if name == "CrawlEngine.run_round":
            self._round_span = sid
        _set_span_property(sid)
        return sid, parent

    def _exit(self, sid, parent, layer, name, t0, t1) -> None:
        stack = self._local.stack
        stack.pop()
        if name == "CrawlEngine.run_round":
            self._round_span = None
        _set_span_property(stack[-1] if stack else None)
        span = {
            "id": sid,
            "parent": parent,
            "layer": layer,
            "name": name,
            "thread": threading.current_thread().name,
            "start": t0,
            "end": t1,
        }
        with self._lock:
            self.spans.append(span)


def _set_span_property(sid: int | None) -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.setLocalProperty(SPAN_PROPERTY, None if sid is None else str(sid))


# ------------------------------------------------------------------ event log


def _app_events(app_dir: str):
    """Events of one application, across its rolled ``events_<n>_*`` files."""
    files = glob.glob(os.path.join(app_dir, "events_*"))
    for path in sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def read_event_logs(log_dir: str) -> tuple[list[dict], dict[str, list]]:
    """Jobs with their task totals, and per-UDF-node Python metrics.

    Returns ``(jobs, udf)``: each job is ``{span, submit, tasks, exec_s,
    gc_s, shuffle_write, spill, output_bytes}``; ``udf[kind]`` lists
    ``(finish_time, py_time_s, py_bytes_sent)`` per task."""
    jobs: list[dict] = []
    udf: dict[str, list] = {k: [] for k in UDF_NODES}
    # one event log per SparkContext; Spark 4 writes each as a directory
    # of rolled files
    for app_dir in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        app_jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        acc_kind: dict[int, tuple[str, str, str]] = {}
        for ev in _app_events(app_dir):
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                span = props.get(SPAN_PROPERTY)
                job = {
                    "span": int(span) if span else None,
                    "submit": ev["Submission Time"] / 1000.0,
                    "tasks": 0,
                    "exec_s": 0.0,
                    "gc_s": 0.0,
                    "shuffle_write": 0,
                    "spill": 0,
                    "output_bytes": 0,
                }
                app_jobs[ev["Job ID"]] = job
                for s in ev["Stage IDs"]:
                    stage_job.setdefault(s, ev["Job ID"])
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _index_udf_nodes(ev["sparkPlanInfo"], acc_kind)
            elif kind == "SparkListenerTaskEnd":
                job = app_jobs.get(stage_job.get(ev["Stage ID"], -1))
                tm = ev.get("Task Metrics") or {}
                if job is not None and tm:
                    job["tasks"] += 1
                    job["exec_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    job["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    job["spill"] += tm.get("Disk Bytes Spilled", 0)
                    job["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    job["output_bytes"] += (tm.get("Output Metrics") or {}).get(
                        "Bytes Written", 0
                    )
                info = ev.get("Task Info") or {}
                per_kind: dict[str, list] = {}
                for acc in info.get("Accumulables", []):
                    hit = acc_kind.get(acc.get("ID"))
                    if hit is None:
                        continue
                    node_kind, metric, mtype = hit
                    v = per_kind.setdefault(node_kind, [0.0, 0])
                    upd = float(acc.get("Update") or 0)
                    if metric == PY_TIME_METRIC:
                        v[0] += upd / (1e9 if mtype == "nsTiming" else 1e3)
                    else:
                        v[1] += int(upd)
                for node_kind, (t, b) in per_kind.items():
                    udf[node_kind].append((info.get("Finish Time", 0) / 1000.0, t, b))
        jobs.extend(app_jobs.values())
    return jobs, udf


def _index_udf_nodes(plan: dict, acc_kind: dict) -> None:
    desc = plan.get("simpleString", "")
    if "Python" in plan.get("nodeName", "") or "Pandas" in plan.get("nodeName", ""):
        for kind, udf_name in UDF_NODES.items():
            if f"{udf_name}(" in desc:
                for m in plan.get("metrics", []):
                    if m["name"] in (PY_TIME_METRIC, PY_SENT_METRIC):
                        acc_kind[m["accumulatorId"]] = (kind, m["name"], m["metricType"])
                break
    for child in plan.get("children", []):
        _index_udf_nodes(child, acc_kind)


# --------------------------------------------------------------- per layer


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
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


def _top_level(spans: list[dict], names: set[str]) -> list[dict]:
    """Spans named in ``names`` that are not nested in another such span."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if s["name"] not in names:
            continue
        p = by_id.get(s["parent"])
        while p is not None and p["name"] not in names:
            p = by_id.get(p["parent"])
        if p is None:
            out.append(s)
    return out


def layer_report(
    spans: list[dict], jobs: list[dict], udf: dict, cores: int
) -> tuple[dict[str, float], list[dict], list[dict]]:
    """Per-layer metrics (medians over rounds >= 1), the per-round rows
    and the whole-run per-layer table."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def self_time(s):
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], ())]
        return (s["end"] - s["start"]) - _covered(kids, s["start"], s["end"])

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    rounds = sorted(
        (s for s in spans if s["name"] == "CrawlEngine.run_round"),
        key=lambda s: s["start"],
    )
    rows = []
    for i, rs in enumerate(rounds):
        lo, hi = rs["start"], rs["end"]
        inside = [s for s in spans if lo <= s["start"] <= hi and s is not rs]
        rjobs = [j for j in jobs if lo <= j["submit"] <= hi]

        def named(names):
            return _top_level(inside, set(names))

        def jobs_in(layer):
            return [
                j for j in rjobs
                if j["span"] in by_id and by_id[j["span"]]["layer"] == layer
            ]

        def udf_sum(kind, idx):
            return sum(t[idx] for t in udf[kind] if lo <= t[0] <= hi)

        state_jobs = jobs_in("sources.state")
        wall = hi - lo
        exec_s = sum(j["exec_s"] for j in rjobs)
        rows.append(
            {
                "round": i,
                "wall_s": wall,
                "plans.crawl.round_self_s": self_time(rs),
                "plans.crawl.jobs_per_round": len(rjobs),
                "plans.crawl.tasks_per_round": sum(j["tasks"] for j in rjobs),
                "plans.crawl.exec_busy_frac": exec_s / (wall * cores),
                "sources.state.write_s": dur(named(STATE_WRITES)),
                "sources.state.write_calls": len(named(STATE_WRITES)),
                "sources.state.bytes_written": sum(j["output_bytes"] for j in state_jobs),
                "sources.state.read_s": dur(named(STATE_READS)),
                "sources.state.commit_s": dur(named({"StateStore.commit"})),
                "sources.state.vacuum_s": dur(named({"StateStore.vacuum"})),
                "sources.state.exec_s": sum(j["exec_s"] for j in state_jobs),
                "operators.bloom.update_s": dur(named({"update_and_save_shards"})),
                "operators.bloom.load_s": dur(
                    named({"BloomShards.load", "BloomShards.load_dir"})
                ),
                "operators.bloom.probe_py_s": udf_sum("bloom.probe", 1),
                "operators.dedup.build_s": dur(
                    named({"dedupe_within_batch", "validate_against_seen",
                           "split_by_bloom", "as_new"})
                ),
                "operators.robots.build_s": dur(
                    named({"apply_robots_flags", "sitemap_candidates"})
                ),
                "operators.politeness.build_s": dur(
                    named({"with_score", "politeness_ranked"})
                ),
                "sources.fetch.build_s": dur(named({"synthetic_fetch"})),
                "functions.markup.build_s": dur(named({"extract_outlinks"})),
                "functions.images.decode_py_s": udf_sum("images.decode", 1),
                "functions.images.py_bytes_sent": udf_sum("images.decode", 2),
                "spark.shuffle_write_bytes": sum(j["shuffle_write"] for j in rjobs),
                "spark.spill_bytes": sum(j["spill"] for j in rjobs),
                "spark.gc_s": sum(j["gc_s"] for j in rjobs),
            }
        )
    steady = rows[1:] or rows
    metrics = {
        k: statistics.median(r[k] for r in steady)
        for k in (rows[0] if rows else {})
        if k not in ("round", "wall_s")
    }
    # the set-up engine's constructor and session start: the parts of setup_s
    metrics["plans.crawl.init_s"] = _first_dur(spans, "CrawlEngine.__init__")
    metrics["session.get_spark_s"] = _first_dur(spans, "get_spark")

    table = []
    for layer in sorted({s["layer"] for s in spans}):
        ls = [s for s in spans if s["layer"] == layer]
        top = [s for s in ls if not (s["parent"] in by_id and by_id[s["parent"]]["layer"] == layer)]
        lj = [j for j in jobs if j["span"] in by_id and by_id[j["span"]]["layer"] == layer]
        table.append(
            {
                "layer": layer,
                "calls": len(ls),
                "wall_s": round(dur(top), 3),
                "self_s": round(sum(self_time(s) for s in ls), 3),
                "jobs": len(lj),
                "tasks": sum(j["tasks"] for j in lj),
                "exec_s": round(sum(j["exec_s"] for j in lj), 3),
                "shuffle_write_bytes": sum(j["shuffle_write"] for j in lj),
                "output_bytes": sum(j["output_bytes"] for j in lj),
            }
        )
    unattributed = [j for j in jobs if j["span"] not in by_id]
    table.append(
        {
            "layer": "(no span)",
            "calls": 0,
            "wall_s": 0.0,
            "self_s": 0.0,
            "jobs": len(unattributed),
            "tasks": sum(j["tasks"] for j in unattributed),
            "exec_s": round(sum(j["exec_s"] for j in unattributed), 3),
            "shuffle_write_bytes": sum(j["shuffle_write"] for j in unattributed),
            "output_bytes": sum(j["output_bytes"] for j in unattributed),
        }
    )
    return metrics, rows, table


def _first_dur(spans: list[dict], name: str) -> float:
    named = sorted((s for s in spans if s["name"] == name), key=lambda s: s["start"])
    return named[0]["end"] - named[0]["start"] if named else 0.0


def format_table(table: list[dict]) -> str:
    cols = list(table[0])
    width = {c: max(len(c), *(len(str(r[c])) for r in table)) for c in cols}
    lines = ["  ".join(c.ljust(width[c]) for c in cols)]
    lines += ["  ".join(str(r[c]).ljust(width[c]) for c in cols) for r in table]
    return "\n".join(lines) + "\n"
