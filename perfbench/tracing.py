"""Spans around calls into the engine's layers, and Spark attribution.

The benchmark traces the engine from outside: it opens spans around its
own calls, and in a traced run it also wraps a few engine functions that
are only reached from inside other calls (the filter compiler inside
``query_items``, the index MERGE inside document ingest, the renderer
inside ``render_document_sections``). Every span sets a Spark job group,
so the local event log attributes each job, stage and task to the span
that caused it.

A span is ``{id, name, start, end, parent, request_id, attrs}`` with
times in epoch seconds (the clock the event log uses). A span's self
time is its duration minus the part of its interval that its children
cover.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from collections.abc import Callable, Iterable
from contextlib import contextmanager
from pathlib import Path

GROUP_PREFIX = "perfbench-"
# registry queries the traced run probes, over each workload's own tables
ENTRY_QUERIES = ("vector_topk_filtered", "doc_chunks")


# -- interval arithmetic ------------------------------------------------------


def covered(start: float, end: float, intervals: Iterable[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals if b > start and a < end)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: dict, children: Iterable[dict]) -> float:
    """Duration minus child coverage, in seconds."""
    return (span["end"] - span["start"]) - covered(
        span["start"], span["end"], ((c["start"], c["end"]) for c in children)
    )


# -- spans ----------------------------------------------------------------------


class Tracer:
    """Records spans in memory. With a SparkContext, each span also sets
    the job group and description of the jobs started inside it."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        if self.sc is None:
            return
        gid = f"{GROUP_PREFIX}{span['id']}" if span else None
        self.sc.setLocalProperty("spark.jobGroup.id", gid)
        self.sc.setLocalProperty("spark.job.description", span["name"] if span else None)

    @contextmanager
    def span(self, name: str, request_id: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": parent["id"] if parent else None,
            "request_id": request_id or (parent["request_id"] if parent else None),
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)

    def write(self, path: Path) -> None:
        """One span per line, without the working keys (``_``-prefixed)."""
        with open(path, "w") as f:
            for s in self.spans:
                rec = {k: v for k, v in s.items() if not k.startswith("_")}
                f.write(json.dumps(rec, default=str) + "\n")


@contextmanager
def no_span(*_args, **_kwargs):
    """The untraced stand-in for ``Tracer.span``."""
    yield {"attrs": {}}


def _dir_files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith("part-"):
                st = os.stat(os.path.join(root, f))
                out[os.path.join(root, f)] = (st.st_size, st.st_mtime_ns)
    return out


def dir_diff_hook(obj) -> Callable[[dict], None]:
    """Before/after listing of an index directory: data files written."""
    before = _dir_files(obj.path)

    def finish(span: dict) -> None:
        after = _dir_files(obj.path)
        new = [p for p, v in after.items() if before.get(p) != v]
        span["attrs"]["files_rewritten"] = len(new)
        span["attrs"]["bytes_written"] = sum(after[p][0] for p in new)

    return finish


def _wrap(tracer: Tracer, name: str, fn, hook):
    def wrapper(*args, **kwargs):
        finish = hook(args[0]) if hook else None
        with tracer.span(name) as s:
            out = fn(*args, **kwargs)
            if finish:
                finish(s)
            return out

    wrapper.__wrapped__ = fn
    return wrapper


@contextmanager
def instrument(tracer: Tracer, targets: list[tuple]):
    """Wrap ``owner.attr`` in a span for each ``(owner, attr, span_name,
    hook)`` target; the originals are restored on exit."""
    saved = []
    for owner, attr, name, hook in targets:
        orig = owner.__dict__[attr]
        saved.append((owner, attr, orig))
        setattr(owner, attr, _wrap(tracer, name, orig, hook))
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def engine_targets() -> list[tuple]:
    """Engine functions reached only from inside other engine calls."""
    from vectra_py_spark import document_index, embeddings, index

    vi, di = index.SparkVectorIndex, document_index.SparkDocumentIndex
    return [
        (index, "compile_filter", "filters.compile_filter", None),
        (vi, "commit", "index.commit", dir_diff_hook),
        (vi, "merge_batch", "index.merge_batch", dir_diff_hook),
        (vi, "delete_where", "index.delete_where", dir_diff_hook),
        (di, "upsert_documents_df", "document_index.upsert_documents_df", None),
        (di, "delete_document", "document_index.delete_document", None),
        (di, "query_documents", "document_index.query_documents.build", None),
        (di, "render_document_sections", "document_index.render_document_sections", None),
        (embeddings.DeterministicEmbedder, "create_embeddings",
         "embeddings.create_embeddings", None),
        (document_index, "render_sections", "render.render_sections", None),
    ]


# -- Spark attribution ----------------------------------------------------------


def _event_files(log_dir: Path) -> list[Path]:
    files = [p for p in Path(log_dir).rglob("*") if p.is_file()
             and not p.name.startswith(("appstatus", ".")) and not p.name.endswith(".crc")]

    def order(p: Path):
        parts = p.name.split("_")
        return (str(p.parent), int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0)

    return sorted(files, key=order)


def read_event_log(log_dir: Path) -> dict[str, dict]:
    """Per job group: jobs (with their intervals), stages run, tasks,
    executor run time, shuffle read/write bytes and spill."""
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": [], "stages": 0, "tasks": 0, "executor_ms": 0,
        "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
    })
    stage_group: dict[int, str] = {}
    open_jobs: dict[int, dict] = {}
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job = {"id": ev["Job ID"], "start": ev["Submission Time"] / 1000.0, "end": None}
                    open_jobs[ev["Job ID"]] = job
                    if gid:
                        groups[gid]["jobs"].append(job)
                elif kind == "SparkListenerJobEnd":
                    job = open_jobs.pop(ev["Job ID"], None)
                    if job:
                        job["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid:
                        stage_group[ev["Stage Info"]["Stage ID"]] = gid
                        groups[gid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if gid is None or not m:
                        continue
                    g = groups[gid]
                    g["tasks"] += 1
                    g["executor_ms"] += m.get("Executor Run Time", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    g["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    g["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    g["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return dict(groups)


def attach_spark(spans: list[dict], groups: dict[str, dict]) -> None:
    """Give every span its inclusive Spark counts (own jobs plus those of
    its descendants) under ``attrs['spark']``."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def visit(s: dict) -> dict:
        own = groups.get(f"{GROUP_PREFIX}{s['id']}", {})
        agg = {
            "jobs": list(own.get("jobs", [])),
            **{k: own.get(k, 0) for k in
               ("stages", "tasks", "executor_ms", "shuffle_read", "shuffle_write", "spill")},
        }
        for c in children[s["id"]]:
            sub = visit(c)
            agg["jobs"] += sub["jobs"]
            for k in ("stages", "tasks", "executor_ms", "shuffle_read", "shuffle_write", "spill"):
                agg[k] += sub[k]
        s["attrs"]["spark"] = {**agg, "jobs": len(agg["jobs"])}
        s["_job_intervals"] = [(j["start"], j["end"] or s["end"]) for j in agg["jobs"]]
        return agg

    for s in spans:
        if s["parent"] is None:
            visit(s)


def python_bytes(df) -> tuple[int, int]:
    """Bytes sent to and received from Python workers, summed over the
    executed plan's SQL metrics (call after the DataFrame has run)."""
    sent = received = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getName()
        if cls.endswith("AdaptiveSparkPlanExec"):
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        metrics = node.metrics()
        for key in ("pythonDataSent", "pythonDataReceived"):
            if metrics.contains(key):
                value = metrics.apply(key).value()
                if key == "pythonDataSent":
                    sent += value
                else:
                    received += value
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return sent, received


# -- per-layer metrics ----------------------------------------------------------


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def op_breakdown(spans: list[dict], cores: int) -> dict[str, dict]:
    """Per op kind: wall, Spark counts, executor busy ratio and the
    span time no Spark job was running (driver-only)."""
    kinds = defaultdict(list)
    for s in spans:
        if s["name"].startswith("op."):
            kinds[s["name"][3:]].append(s)
    out = {}
    for kind, ss in kinds.items():
        wall = sum(s["end"] - s["start"] for s in ss)
        sp = [s["attrs"]["spark"] for s in ss]
        out[kind] = {
            "n": len(ss),
            "wall_ms_p50": _median((s["end"] - s["start"]) * 1e3 for s in ss),
            "jobs_p50": _median(x["jobs"] for x in sp),
            "stages_p50": _median(x["stages"] for x in sp),
            "tasks_p50": _median(x["tasks"] for x in sp),
            "shuffle_bytes_p50": _median(x["shuffle_read"] + x["shuffle_write"] for x in sp),
            "spill_bytes": sum(x["spill"] for x in sp),
            "executor_busy_ratio": sum(x["executor_ms"] for x in sp) / (wall * 1e3 * cores)
            if wall else 0.0,
            "driver_only_ms_p50": _median(
                ((s["end"] - s["start"]) - covered(s["start"], s["end"], s["_job_intervals"])) * 1e3
                for s in ss
            ),
        }
    return out


def layer_metrics(spans: list[dict], cores: int) -> dict[str, float]:
    """The per-layer metrics named in BENCHMARK.json, from spans that
    already carry their Spark counts (``attach_spark``). Warm-up calls
    are left out; set-up work (index builds) is kept."""
    warm = set()
    for s in spans:  # parents precede children
        if s["name"].startswith("warmup.") or s["parent"] in warm:
            warm.add(s["id"])
    by = defaultdict(list)
    children = defaultdict(list)
    for s in spans:
        if s["id"] in warm:
            continue
        by[s["name"]].append(s)
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def dur_ms(s):
        return (s["end"] - s["start"]) * 1e3

    def med(name, f):
        return _median(f(s) for s in by[name])

    def spark(key):
        return lambda s: s["attrs"]["spark"][key]

    def attr(key):  # .get: a call that raised never recorded it
        return lambda s: s["attrs"].get(key, 0)

    writes = by["index.commit"] + by["index.merge_batch"] + by["index.delete_where"]
    rds = by["document_index.render_document_sections"]
    ops = [s for s in spans if s["name"].startswith("op.")]
    reads = [s for s in ops if "items_cache_hit" in s["attrs"]]
    op_wall = sum(dur_ms(s) for s in ops)

    def rate(name):
        secs = sum(s["end"] - s["start"] for s in by[name])
        return sum(s["attrs"]["rows"] for s in by[name]) / secs if secs else 0.0

    m = {
        "filters.compile_filter_us": med("filters.compile_filter", dur_ms) * 1e3,
        "index.query_items.build_ms": med("index.query_items.build", dur_ms),
        "index.query_items.collect_ms": med("index.query_items.collect", dur_ms),
        "index.query_items.jobs": med("index.query_items.collect", spark("jobs")),
        "index.query_items.tasks": med("index.query_items.collect", spark("tasks")),
        "index.items.cached_ratio": sum(s["attrs"]["items_cache_hit"] for s in reads) / len(reads)
        if reads else 0.0,
        "index.write_ms": _median(dur_ms(s) for s in writes),
        "index.write.jobs": _median(s["attrs"]["spark"]["jobs"] for s in writes),
        "index.write.files_rewritten": _median(map(attr("files_rewritten"), writes)),
        "index.write.bytes_written": _median(map(attr("bytes_written"), writes)),
        "similarity.topk_batch.build_ms": med("similarity.cosine_topk_batch.build", dur_ms),
        "similarity.topk_batch.collect_ms": med("similarity.cosine_topk_batch.collect", dur_ms),
        "similarity.topk_batch.jobs": med("similarity.cosine_topk_batch.collect", spark("jobs")),
        "similarity.topk_batch.executor_ms":
            med("similarity.cosine_topk_batch.collect", spark("executor_ms")),
        "similarity.topk_batch.python_bytes_in":
            med("similarity.cosine_topk_batch.collect", attr("python_bytes_in")),
        "similarity.topk_batch.python_bytes_out":
            med("similarity.cosine_topk_batch.collect", attr("python_bytes_out")),
        "text.split_documents.rows_per_s": rate("text.split_documents"),
        "embeddings.embed_chunks.rows_per_s": rate("embeddings.embed_chunks"),
        "document_index.upsert_ms": med("document_index.upsert_documents_df", dur_ms),
        "document_index.upsert.jobs": med("document_index.upsert_documents_df", spark("jobs")),
        # what render_document_sections spends outside its traced children:
        # the collect of the query plan, plus driver glue
        "document_index.query_documents.collect_ms":
            _median(self_time(s, children[s["id"]]) * 1e3 for s in rds),
        "document_index.query_documents.jobs": _median(s["attrs"]["spark"]["jobs"] for s in rds),
        "render.render_sections_ms": _median(
            sum(dur_ms(c) for c in children[s["id"]] if c["name"] == "render.render_sections")
            for s in rds
        ),
        "spark.executor_busy_ratio":
            sum(s["attrs"]["spark"]["executor_ms"] for s in ops) / (op_wall * cores)
            if op_wall else 0.0,
        "spark.driver_only_ms": _median(
            (dur_ms(s) - covered(s["start"], s["end"], s["_job_intervals"]) * 1e3) for s in ops
        ),
    }
    for q in ENTRY_QUERIES:
        name = f"entry_queries.{q}"
        m[f"{name}.wall_s"] = med(name, dur_ms) / 1e3
        m[f"{name}.jobs"] = med(name, spark("jobs"))
        m[f"{name}.stages"] = med(name, spark("stages"))
        m[f"{name}.shuffle_bytes"] = med(
            name, lambda s: spark("shuffle_read")(s) + spark("shuffle_write")(s))
    return m
