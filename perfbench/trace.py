"""Traced run: per-layer spans around ``pke_spark``'s public functions.

Wrappers are installed from the outside, for the traced pass only:
each wrapped function is replaced on its defining module, on every
``pke_spark`` module that bound it with ``from ... import``, and, for
``IndexReader``, on the class. A wrapper records a span (name, layer,
start, end, parent span, request id) in memory. The benchmark opens one
request span per operation and gives each request its own Spark job
group; Spark's event log (on for this run only) then supplies each
job's tasks, and a job is attributed to the innermost span of its
request that was open when the job was submitted. Task time, GC,
shuffle and spill bytes, failed tasks and the Python runner's SQL
metrics reach the span that launched the job: worker-side tokenize,
decode and per-doc Python are only visible this way.

A wrapper pickles as the function it wraps (``__reduce__``), so a
closure shipped to a Python worker carries the original function, not
the tracer. ``uninstall`` puts the original back wherever a wrapper is
bound, also on modules first imported during the traced pass, and a
wrapper still held elsewhere (a closure, a dict) calls straight through
once its tracer is uninstalled: the untraced pass records no span.

The run is: a traced pass (the set-up and the loop of a timed run),
then a fresh set-up and an untraced loop over exactly the same
operations. Tracing overhead is the traced loop's wall time minus the
untraced loop's, each after its own set-up; the untraced loop runs
second, on a warmer JVM, so the overhead is an upper bound.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import sys
import time

_CLOCK_OFFSET = time.time() - time.perf_counter()

# (module, attribute, layer); "Class.method" attributes wrap on the class
WRAP = [
    ("pke_spark.index.build", "build_index", "index.build"),
    ("pke_spark.index.build", "compact", "index.compact"),
    ("pke_spark.index.build", "IndexReader.__init__", "index.reader"),
    ("pke_spark.index.build", "IndexReader.term_dfs", "index.reader"),
    ("pke_spark.index.build", "IndexReader.decoded_postings",
     "index.reader"),
    ("pke_spark.index.build", "IndexReader.docset_cache", "index.reader"),
    ("pke_spark.index.codec", "decode_blocks", "index.codec"),
    ("pke_spark.index.positions", "build_positions", "index.positions"),
    ("pke_spark.index.positions", "term_positions", "index.positions"),
    ("pke_spark.index.wand", "search", "index.wand"),
    ("pke_spark.index.wand", "boolean_search", "index.wand"),
    ("pke_spark.index.wand", "bm25_topk_batch", "index.wand"),
    ("pke_spark.index.serving", "querystring_search_indexed",
     "index.serving"),
    ("pke_spark.index.serving", "querystring_topk_batch", "index.serving"),
    ("pke_spark.index.serving", "snippet_search", "index.serving"),
    ("pke_spark.index.serving", "expand_prefix_indexed", "index.serving"),
    ("pke_spark.index.serving", "expand_fuzzy_indexed", "index.serving"),
    ("pke_spark.ops.querylang", "parse_querystring", "ops.querylang"),
    ("pke_spark.rows", "rows_df", "rows"),
    ("pke_spark.streaming", "append_batch", "streaming"),
    ("pke_spark.streaming", "refresh_postings", "streaming"),
    ("pke_spark.index.delete", "delete_docs", "index.delete"),
    ("pke_spark.ops.perdoc", "per_doc_rows", "ops.perdoc"),
    ("pke_spark.ops.graph", "textrank_topk", "ops.graph"),
    ("pke_spark.ops.graph", "singlerank_topk", "ops.graph"),
    ("pke_spark.ops.graph", "positionrank_topk", "ops.graph"),
    ("pke_spark.ops.topicrank", "topicrank_topk", "ops.topicrank"),
    ("pke_spark.ops.topicrank", "multipartiterank_topk", "ops.topicrank"),
    ("pke_spark.ops.tpr", "topical_pagerank_topk", "ops.tpr"),
    ("pke_spark.ops.yake", "yake_full", "ops.yake"),
    ("pke_spark.ops.keyphrase", "tfidf_topk", "ops.keyphrase"),
    ("pke_spark.ops.keyphrase", "kpminer", "ops.keyphrase"),
    ("pke_spark.ops.keyphrase", "firstphrases", "ops.keyphrase"),
    ("pke_spark.ops.supervised", "kea_fit_predict", "ops.supervised"),
]

KEYPHRASE_OPS = ("textrank", "singlerank", "positionrank", "topicrank",
                 "multipartiterank", "topical_pagerank", "yake_full",
                 "tfidf_topk", "kpminer", "firstphrases", "kea_predict")


def event_log_conf(work: str) -> dict:
    d = os.path.join(work, "eventlog")
    os.makedirs(d, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + d,
            "spark.eventLog.compress": "false"}


def _resolve(module: str, attr: str):
    obj = importlib.import_module(module)
    for part in attr.split("."):
        obj = getattr(obj, part)
    return obj


class Span:
    __slots__ = ("id", "name", "layer", "start", "end", "parent", "req",
                 "info", "children_s", "jobs")

    def __init__(self, sid, name, layer, parent, req):
        self.id, self.name, self.layer = sid, name, layer
        self.parent, self.req = parent, req
        self.start = time.perf_counter()
        self.end = None
        self.info: dict = {}
        self.children_s = 0.0
        self.jobs: list[dict] = []

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.req = None
        self.active = False
        self.installed: list[tuple] = []

    # -- spans --------------------------------------------------------------
    def open(self, name: str, layer: str) -> Span:
        parent = self.stack[-1] if self.stack else None
        if parent is None:
            self.req = f"req{len(self.spans)}"
            self.sc.setJobGroup(self.req, name)
        s = Span(len(self.spans), name, layer,
                 parent.id if parent else None, self.req)
        self.spans.append(s)
        self.stack.append(s)
        return s

    def close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self.stack.pop()
        if self.stack:
            self.stack[-1].children_s += s.dur

    # -- wrappers -----------------------------------------------------------
    def install(self) -> None:
        self.active = True
        for module, attr, layer in WRAP:
            orig = _resolve(module, attr)
            w = _Wrapped(self, orig, module, attr, layer)
            if "." in attr:
                cls, meth = attr.split(".")
                setattr(getattr(importlib.import_module(module), cls),
                        meth, w)
                self.installed.append((getattr(
                    importlib.import_module(module), cls), meth, orig))
                continue
            for name, mod in list(sys.modules.items()):
                if (name.startswith(("pke_spark", "perfbench"))
                        and getattr(mod, attr, None) is orig):
                    setattr(mod, attr, w)
                    self.installed.append((mod, attr, orig))

    def uninstall(self) -> None:
        self.active = False
        for obj, attr, orig in reversed(self.installed):
            setattr(obj, attr, orig)
        self.installed.clear()
        # modules imported during the traced pass bound the wrappers
        for name, mod in list(sys.modules.items()):
            if name.startswith(("pke_spark", "perfbench")):
                for attr, val in list(vars(mod).items()):
                    if isinstance(val, _Wrapped) and val.tracer is self:
                        setattr(mod, attr, val.fn)


class _Wrapped:
    def __init__(self, tracer, fn, module, attr, layer):
        self.tracer, self.fn = tracer, fn
        self.module, self.attr, self.layer = module, attr, layer
        self.name = attr.split(".")[-1].strip("_")
        functools.update_wrapper(self, fn)

    def __reduce__(self):
        return (_resolve, (self.module, self.attr))

    def __get__(self, obj, objtype=None):
        return self if obj is None else functools.partial(self, obj)

    def __call__(self, *args, **kw):
        tr = self.tracer
        if not tr.active:
            return self.fn(*args, **kw)
        s = tr.open(self.name, self.layer)
        try:
            _before(s, self.attr, args, kw)
            out = self.fn(*args, **kw)
            _after(s, self.attr, out)
            return out
        finally:
            tr.close(s)


def _uniq(terms) -> list:
    return list(dict.fromkeys(terms))


def _before(s: Span, attr: str, args, kw) -> None:
    """Counters read before the call: cache hits are the requested keys
    already present in the reader's caches."""
    if attr == "build_index":
        s.name = "build_index.dense" if kw.get("dense_doc_ids") else \
            "build_index.sparse"
    elif attr == "IndexReader.term_dfs":
        cache = getattr(args[0], "_term_df", None) or {}
        req = _uniq(args[1])
        s.info.update(req=len(req), hit=sum(t in cache for t in req))
    elif attr == "IndexReader.decoded_postings":
        cache = getattr(args[0], "_decoded", None) or {}
        req = _uniq(args[1])
        s.info.update(req=len(req), hit=sum(t in cache for t in req))
    elif attr == "IndexReader.docset_cache":
        cache = getattr(args[0], "_docsets", None) or {}
        s.info.update(req=1, hit=int(args[1] in cache))


def _after(s: Span, attr: str, out) -> None:
    if attr == "decode_blocks":
        s.info["rows"] = len(out[0])


# ------------------------------------------------------------ event log

def _acc(task_info: dict, name: str) -> float:
    for a in task_info.get("Accumulables", []):
        if a.get("Name") == name:
            try:
                return float(a.get("Update", 0))
            except (TypeError, ValueError):
                return 0.0
    return 0.0


def read_jobs(eventlog_dir: str) -> list[dict]:
    """One record per job: submission time (epoch s), wall seconds,
    job group, and its tasks' summed metrics."""
    events = []
    for f in sorted(glob.glob(os.path.join(eventlog_dir, "**", "*"),
                              recursive=True)):
        if os.path.isfile(f) and not os.path.basename(f).startswith(
                (".", "appstatus")):
            with open(f) as fh:
                events.extend(json.loads(line) for line in fh
                              if line.strip())
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            j = {"id": e["Job ID"], "submit": e["Submission Time"] / 1000.0,
                 "end": None,
                 "group": (e.get("Properties") or {}).get(
                     "spark.jobGroup.id"),
                 "stages": len(e["Stage IDs"]), "tasks": 0,
                 "task_s": 0.0, "gc_s": 0.0, "map_task_s": 0.0,
                 "reduce_task_s": 0.0, "shuffle_write_bytes": 0.0,
                 "spill_bytes": 0.0, "tasks_failed": 0,
                 "python_s": 0.0, "python_sent": 0.0,
                 "python_received": 0.0}
            jobs[j["id"]] = j
            for sid in e["Stage IDs"]:
                stage_job[sid] = j["id"]
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif ev == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(e["Stage ID"]))
            if j is None:
                continue
            m = e.get("Task Metrics") or {}
            info = e.get("Task Info") or {}
            run_s = m.get("Executor Run Time", 0) / 1000.0
            j["tasks"] += 1
            j["task_s"] += run_s
            j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            if (m.get("Input Metrics") or {}).get("Bytes Read", 0) > 0:
                j["map_task_s"] += run_s
            sr = m.get("Shuffle Read Metrics") or {}
            if sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read",
                                                       0) > 0:
                j["reduce_task_s"] += run_s
            j["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics")
                                         or {}).get("Shuffle Bytes Written",
                                                    0)
            j["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + \
                m.get("Disk Bytes Spilled", 0)
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                j["tasks_failed"] += 1
            # the Python runner's time metric is in milliseconds
            j["python_s"] += _acc(info, "time to run Python workers") / 1e3
            j["python_sent"] += _acc(info, "data sent to Python workers")
            j["python_received"] += _acc(info,
                                         "data returned from Python workers")
    return sorted(jobs.values(), key=lambda j: j["id"])


def attribute(spans: list[Span], jobs: list[dict]) -> list[dict]:
    """Attach each job to the innermost span of its request that was
    open at submission; returns the jobs that fell inside no span."""
    by_req: dict[str, list[Span]] = {}
    for s in spans:
        by_req.setdefault(s.req, []).append(s)
    loose = []
    for j in jobs:
        t = j["submit"] - _CLOCK_OFFSET
        best = None
        for s in by_req.get(j["group"], []):
            # event-log times are whole milliseconds
            if s.start - 0.001 <= t <= s.end + 0.001 and (
                    best is None or s.start >= best.start):
                best = s
        if best is None:
            loose.append(j)
        else:
            best.jobs.append(j)
    return loose


# ----------------------------------------------------------- per-layer

def _tree(spans: list[Span]) -> dict[int, list[Span]]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return kids


def _subtree_jobs(s: Span, kids) -> list[dict]:
    out = list(s.jobs)
    for c in kids.get(s.id, []):
        out.extend(_subtree_jobs(c, kids))
    return out


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(spans) -> float:
    req = sum(s.info.get("req", 0) for s in spans)
    return sum(s.info.get("hit", 0) for s in spans) / req if req else 0.0


def layer_metrics(spans: list[Span], jobs: list[dict], wl,
                  tokenizer_mb_per_s: float) -> dict:
    kids = _tree(spans)
    named: dict[str, list[Span]] = {}
    for s in spans:
        named.setdefault(s.name, []).append(s)

    def sp(name):
        return named.get(name, [])

    def per_call(name, key):
        calls = sp(name)
        return (sum(j[key] for s in calls for j in _subtree_jobs(s, kids))
                / len(calls)) if calls else 0.0

    def njobs(name):
        calls = sp(name)
        return (sum(len(_subtree_jobs(s, kids)) for s in calls)
                / len(calls)) if calls else 0.0

    builds = sp("build_index.sparse") + sp("build_index.dense")
    bjobs = [j for s in builds for j in _subtree_jobs(s, kids)]
    nb = max(len(builds), 1)
    pos_read = [s for s in spans if any(
        c.name == "term_positions" for c in kids.get(s.id, []))]
    requests = [s for s in spans if s.parent is None]
    interactive = [s for s in requests if s.name in (
        "req:search", "req:boolean", "req:querystring", "req:phrase",
        "req:snippet")]
    wand = [s for s in spans if s.layer == "index.wand"]
    perdoc = [s for s in requests
              if any(c.name == "per_doc_rows" for c in _walk(s, kids))]
    pjobs = [j for s in perdoc for j in _subtree_jobs(s, kids)]
    folds = sp("refresh_postings")
    art = getattr(wl, "artifacts", lambda: {})()
    m = {
        "tokenizer.mb_per_s": (tokenizer_mb_per_s, "MB/s"),
        "index.build.sparse_s": (_mean(s.dur for s in sp(
            "build_index.sparse")), "s"),
        "index.build.dense_s": (_mean(s.dur for s in sp(
            "build_index.dense")), "s"),
        "index.build.jobs": (len(bjobs) / nb, "count"),
        "index.build.map_task_s": (sum(j["map_task_s"] for j in bjobs)
                                   / nb, "s"),
        "index.build.reduce_task_s": (sum(j["reduce_task_s"] for j in bjobs)
                                      / nb, "s"),
        "index.build.shuffle_write_bytes": (sum(
            j["shuffle_write_bytes"] for j in bjobs) / nb, "bytes"),
        "index.build.spill_bytes": (sum(j["spill_bytes"] for j in bjobs)
                                    / nb, "bytes"),
        "index.build.postings_bytes": (art.get("postings_bytes", 0), "bytes"),
        "index.build.docmap_bytes": (art.get("docmap_bytes", 0), "bytes"),
        "index.positions.build_s": (_mean(s.dur for s in sp(
            "build_positions")), "s"),
        "index.positions.shuffle_write_bytes": (per_call(
            "build_positions", "shuffle_write_bytes"), "bytes"),
        "index.positions.bytes": (art.get("positions_bytes", 0), "bytes"),
        "index.positions.read_s": (
            sum(s.dur for s in sp("term_positions"))
            + sum(j["end"] - j["submit"] for s in pos_read for j in s.jobs
                  if j["end"] is not None), "s"),
        "index.reader.open_ms": (1000 * _mean(s.dur for s in sp("init")),
                                 "ms"),
        "index.reader.dict_ms": (1000 * _mean(s.dur for s in sp(
            "term_dfs")), "ms"),
        "index.reader.dict_hit_ratio": (_ratio(sp("term_dfs")), "ratio"),
        "index.reader.postings_read_ms": (1000 * _mean(
            s.dur for s in sp("decoded_postings")), "ms"),
        "index.reader.postings_hit_ratio": (_ratio(sp("decoded_postings")),
                                            "ratio"),
        "index.reader.docset_hit_ratio": (_ratio(sp("docset_cache")),
                                          "ratio"),
        "index.codec.decode_ms": (1000 * sum(s.dur for s in sp(
            "decode_blocks")), "ms"),
        "index.codec.rows_decoded": (sum(s.info.get("rows", 0) for s in sp(
            "decode_blocks")), "count"),
        "index.wand.search_ms": (1000 * _mean(s.dur for s in sp("search")),
                                 "ms"),
        "index.wand.batch_s": (_mean(s.dur for s in sp("req:batch:search")),
                               "s"),
        "index.wand.jobs_per_call": (_mean(
            len(_subtree_jobs(s, kids)) for s in wand), "count"),
        "index.serving.querystring_ms": (1000 * _mean(
            s.dur for s in sp("querystring_search_indexed")), "ms"),
        "index.serving.expand_ms": (1000 * _mean(
            s.dur for s in sp("expand_prefix_indexed")
            + sp("expand_fuzzy_indexed")), "ms"),
        "index.serving.snippet_ms": (1000 * _mean(
            s.dur for s in sp("snippet_search")), "ms"),
        "index.serving.batch_s": (_mean(s.dur for s in sp(
            "req:batch:querystring")), "s"),
        "index.serving.job_share": (_mean(
            1.0 if _subtree_jobs(s, kids) else 0.0 for s in interactive),
            "ratio"),
        "ops.querylang.parse_ms": (1000 * _mean(s.dur for s in sp(
            "parse_querystring")), "ms"),
        "rows.wrap_ms": (1000 * _mean(s.dur for s in sp("rows_df")), "ms"),
        "streaming.append_s": (_mean(s.dur for s in sp("append_batch")),
                               "s"),
        "streaming.fold_s": (_mean(s.dur for s in folds), "s"),
        "streaming.jobs_per_fold": (njobs("refresh_postings"), "count"),
        "index.delete.delete_s": (_mean(s.dur for s in sp("delete_docs")),
                                  "s"),
        "index.delete.tombstone_ratio": (art.get("tombstone_ratio", 0),
                                         "ratio"),
        "index.compact.s": (_mean(s.dur for s in sp("compact")), "s"),
        "index.compact.bytes_before": (art.get("compact_bytes_before", 0),
                                       "bytes"),
        "index.compact.bytes_after": (art.get("compact_bytes_after", 0),
                                      "bytes"),
        "ops.perdoc.task_s": (sum(j["task_s"] for j in pjobs), "s"),
        "ops.perdoc.python_total_s": (sum(j["python_s"] for j in pjobs),
                                      "s"),
        "ops.perdoc.python_bytes_sent": (sum(j["python_sent"]
                                             for j in pjobs), "bytes"),
        "ops.perdoc.python_bytes_received": (sum(
            j["python_received"] for j in pjobs), "bytes"),
        "ops.perdoc.shuffle_bytes": (sum(j["shuffle_write_bytes"]
                                         for j in pjobs), "bytes"),
    }
    for op in KEYPHRASE_OPS:
        m[f"ops.{op}.s"] = (_mean(s.dur for s in sp(f"req:{op}")), "s")
    m.update({
        "spark.jobs": (len(jobs), "count"),
        "spark.stages": (sum(j["stages"] for j in jobs), "count"),
        "spark.task_s": (sum(j["task_s"] for j in jobs), "s"),
        "spark.gc_s": (sum(j["gc_s"] for j in jobs), "s"),
        "spark.shuffle_write_bytes": (sum(j["shuffle_write_bytes"]
                                          for j in jobs), "bytes"),
        "spark.spill_bytes": (sum(j["spill_bytes"] for j in jobs), "bytes"),
        "spark.tasks_failed": (sum(j["tasks_failed"] for j in jobs),
                               "count"),
    })
    return m


def _union_s(spans) -> float:
    """Wall seconds covered by the union of the spans' intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted((s.start, s.end) for s in spans):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _walk(s: Span, kids):
    for c in kids.get(s.id, []):
        yield c
        yield from _walk(c, kids)


def layer_table(spans: list[Span]) -> dict:
    """Per layer: calls, total and self seconds, Spark jobs and task
    seconds attributed to its spans."""
    t: dict[str, dict] = {}
    for s in spans:
        r = t.setdefault(s.layer, {"calls": 0, "total_s": 0.0, "self_s": 0.0,
                                   "jobs": 0, "task_s": 0.0})
        r["calls"] += 1
        r["total_s"] += s.dur
        r["self_s"] += s.self_s
        r["jobs"] += len(s.jobs)
        r["task_s"] += sum(j["task_s"] for j in s.jobs)
    return {k: {a: round(b, 6) for a, b in v.items()}
            for k, v in sorted(t.items())}


def tokenizer_mb_per_s(texts, budget_bytes: int = 2_000_000) -> float:
    """In-process ``tokenize_series`` over the workload's own text."""
    import pandas as pd

    from pke_spark.tokenizer import tokenize_series
    s = pd.Series(list(texts))
    s = s[s.str.len().cumsum() <= budget_bytes]
    t = time.perf_counter()
    tokenize_series(s)
    return s.str.len().sum() / 1e6 / (time.perf_counter() - t)


class TracedRun:
    """Traced pass (set-up and loop), then an untraced replay of the
    same operations on a fresh set-up; ``finish`` (after the Spark
    session has stopped and flushed its event log) builds the per-layer
    metrics."""

    def __init__(self, make_workload, seconds: float):
        wl = make_workload("traced")
        tr = Tracer(wl.spark)
        wl.tracer = tr
        tr.install()
        t = time.perf_counter()
        try:
            wl.setup()
            t_loop = time.perf_counter()
            wl.loop(seconds)
            self.traced_loop_s = time.perf_counter() - t_loop
        finally:
            tr.uninstall()
            wl.tracer = None
            wl.spark.sparkContext.setJobGroup("untraced", "untraced")
        self.traced_s = time.perf_counter() - t
        self.wl, self.tracer = wl, tr
        self.t0, self.t1 = t, t + self.traced_s
        self.mbps = tokenizer_mb_per_s(wl.docs["text"])
        wl.verify()
        replay = make_workload("replay")
        replay.setup()
        t = time.perf_counter()
        replay.loop(seconds, count=wl.loop_count())
        self.untraced_loop_s = time.perf_counter() - t
        wl.attempted += replay.attempted
        wl.failed += replay.failed

    def finish(self, eventlog_dir: str, spans_path: str) -> dict:
        """Per-layer metrics and summary; the spans, with the Spark jobs
        attributed to each, are written to ``spans_path`` (JSON lines;
        times in seconds since the traced pass began)."""
        spans = self.tracer.spans
        jobs = [j for j in read_jobs(eventlog_dir)
                if self.t0 <= j["submit"] - _CLOCK_OFFSET <= self.t1]
        loose = attribute(spans, jobs)
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        with open(spans_path, "w") as f:
            for s in spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "layer": s.layer,
                    "start": round(s.start - self.t0, 6),
                    "end": round(s.end - self.t0, 6), "parent": s.parent,
                    "request": s.req, "info": s.info,
                    "jobs": [j["id"] for j in s.jobs]}) + "\n")
        metrics = layer_metrics(spans, jobs, self.wl, self.mbps)
        overhead = self.traced_loop_s - self.untraced_loop_s
        metrics.update({
            "trace.overhead_s": (overhead, "s"),
            "trace.overhead_share": (overhead / self.untraced_loop_s,
                                     "ratio"),
            "trace.span_coverage": (_union_s(
                s for s in spans if s.layer != "request") / self.traced_s,
                "ratio"),
        })
        summary = {
            "traced_s": round(self.traced_s, 4),
            "traced_loop_s": round(self.traced_loop_s, 4),
            "untraced_loop_s": round(self.untraced_loop_s, 4),
            "spans": len(spans), "jobs": len(jobs),
            "jobs_outside_spans": len(loose),
            "layers": layer_table(spans),
        }
        return {"metrics": metrics, "summary": summary}
