"""Per-layer tracing for `run.py --trace 1`.

Spans (name, start, end, parent, request id) and counts are recorded in
memory around the engine's public layer functions and written as one
JSON file when the run ends. The wrappers are installed from here, in
the module namespace where each caller looks the name up:
operators/service.py binds wand_topk, site_topk, the present functions
and the query analysers at import time, operators/serving.py binds the
codec's decode kernel, and pyarrow's ParquetFile.read_row_group is
wrapped on the class.

Spark job, shuffle and spill figures come from the Spark event log the
traced run enables: a job belongs to the span during which it was
submitted, a task to the span during which it was launched. The status
tracker is not used for this because it is filled asynchronously by the
listener bus, and the index build runs jobs from worker threads that
carry no job group of the caller.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from bisect import bisect_left, bisect_right
from collections import defaultdict
from contextlib import contextmanager


WARMUP = "warmup"   # request id of untraced warm-up operations


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[tuple, float] = defaultdict(float)
        self.req: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        if self.req == WARMUP:   # warm-up work is not traced
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": stack[-1] if stack else None, "req": self.req}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        if self.req == WARMUP:
            return
        with self._lock:
            self.counts[(self.req, name)] += n

    def _install(self, owner, attr: str, fn) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, fn)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        orig = getattr(owner, attr)

        def traced(*a, **k):
            with self.span(name):
                out = orig(*a, **k)
            if on_result is not None:
                on_result(out)
            return out
        self._install(owner, attr, traced)

    def install_engine(self) -> None:
        import pyarrow.parquet as pq

        from search_engine_skillbox_spark.operators import serving, service

        for attr in ("distinct_query_terms", "query_words"):
            self.wrap(service, attr, "textprep.query")
        for attr in ("build_title", "build_snippet", "build_result_url"):
            self.wrap(service, attr, "present")

        def declined(out):
            if out is None:
                self.count("serving.declined")
        self.wrap(serving, "terms_rows_arrow", "serving.terms", declined)
        self.wrap(serving, "serve_topk", "serving.topk", declined)
        self.wrap(serving, "serve_site_topk", "serving.topk", declined)
        self.wrap(serving, "serve_match_count", "serving.count", declined)
        self.wrap(serving, "serve_doc_rows", "serving.hydrate", declined)
        self.wrap(serving, "decode_blocks_batch_threaded", "codec.decode",
                  lambda out: self.count("codec.postings_decoded",
                                         len(out[0])))

        # the distributed top-k returns a lazy DataFrame the service
        # collects; collect inside the span so it covers the jobs
        class _Rows:
            def __init__(self, rows):
                self.rows = rows

            def collect(self):
                return self.rows

        for attr in ("wand_topk", "site_topk"):
            orig = getattr(service, attr)

            def traced(*a, _orig=orig, **k):
                with self.span("wand.topk"):
                    return _Rows(_orig(*a, **k).collect())
            self._install(service, attr, traced)

        read = pq.ParquetFile.read_row_group

        def read_row_group(pf, i, columns=None, *a, **k):
            out = read(pf, i, columns, *a, **k)
            rg = pf.metadata.row_group(i)
            want = set(columns) if columns is not None else None
            nbytes = sum(rg.column(c).total_compressed_size
                         for c in range(rg.num_columns)
                         if want is None
                         or rg.column(c).path_in_schema in want)
            self.count("serving.row_groups_read")
            self.count("serving.bytes_read", nbytes)
            return out
        self._install(pq.ParquetFile, "read_row_group", read_row_group)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # ---- reduction --------------------------------------------------

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def per_request(self, reqs: list[str], name: str) -> list[float]:
        """Per request: summed duration (ms) of spans `name`, or the
        count `name` when no span has that name."""
        spans = defaultdict(float)
        for s in self.spans:
            if s["name"] == name and s["end"] is not None:
                spans[s["req"]] += (s["end"] - s["start"]) * 1e3
        if spans:
            return [spans.get(r, 0.0) for r in reqs]
        return [self.counts.get((r, name), 0.0) for r in reqs]

    def total(self, name: str) -> float:
        return sum(v for (_, n), v in self.counts.items() if n == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "counts": [{"req": r, "name": n, "value": v}
                                  for (r, n), v in self.counts.items()]}, f)


def median0(xs) -> float:
    """Median, or 0 when the layer did no work in this run."""
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def read_event_log(log_dir: str) -> tuple[list[float], list[tuple]]:
    """(job submission times in s, tasks as (launch s, shuffle bytes
    written, disk bytes spilled)) from every event log in log_dir."""
    jobs, tasks = [], []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    jobs.append(json.loads(line)["Submission Time"] / 1e3)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    m = ev.get("Task Metrics") or {}
                    sw = (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    tasks.append((ev["Task Info"]["Launch Time"] / 1e3, sw,
                                  m.get("Disk Bytes Spilled", 0)))
    return jobs, tasks


def _window(sorted_ts: list[float], span: dict) -> tuple[int, int]:
    """Index range of sorted event times inside the span (event-log
    times have millisecond resolution)."""
    lo = math.floor(span["start"] * 1e3) / 1e3
    hi = math.ceil(span["end"] * 1e3) / 1e3
    return bisect_left(sorted_ts, lo), bisect_right(sorted_ts, hi)


def attribute(spans: list[dict], jobs: list[float],
              tasks: list[tuple]) -> None:
    """Set per span the Spark jobs submitted and the shuffle/spill bytes
    of tasks launched while it was open."""
    jobs = sorted(jobs)
    tasks = sorted(tasks)
    t_ts = [t[0] for t in tasks]
    sw, sp = [0], [0]
    for t in tasks:
        sw.append(sw[-1] + t[1])
        sp.append(sp[-1] + t[2])
    for s in spans:
        a, b = _window(jobs, s)
        s["spark_jobs"] = b - a
        a, b = _window(t_ts, s)
        s["shuffle_write_bytes"] = sw[b] - sw[a]
        s["spill_bytes"] = sp[b] - sp[a]


def lineage_phases(store_path: str) -> dict:
    """Phase seconds of a fresh store's build from its lineage.jsonl:
    materialize, dims, and blocks as the wall from the first block group
    start to the last block group finish (groups run concurrently)."""
    rows = []
    with open(os.path.join(store_path, "lineage.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            if r["status"] == "DONE":
                rows.append(r)

    def dur(pred):
        sel = [r for r in rows if pred(r["partition_id"])]
        if not sel:
            return 0.0
        return (max(r["finished_at"] for r in sel)
                - min(r["started_at"] for r in sel))
    return {"materialize": dur(lambda p: p == "materialize"),
            "dims": dur(lambda p: p == "dims"),
            "blocks": dur(lambda p: p.startswith("blocks-"))}


UNITS = {
    "session.start_s": "s",
    "build.materialize_s": "s", "build.dims_s": "s", "build.blocks_s": "s",
    "build.spark_jobs": "count", "build.shuffle_write_bytes": "B",
    "build.spill_bytes": "B",
    "store.blocks_bytes": "B", "store.docs_bytes": "B",
    "store.terms_bytes": "B", "store.doclens_bytes": "B",
    "store.meta_json_bytes": "B",
    "textprep.query_ms": "ms",
    "serving.terms_ms": "ms", "serving.topk_ms": "ms",
    "serving.count_ms": "ms", "serving.hydrate_ms": "ms",
    "serving.row_groups_read": "count", "serving.bytes_read": "B",
    "serving.declined": "count",
    "codec.decode_ms": "ms", "codec.postings_decoded": "count",
    "present.ms": "ms",
    "service.spark_jobs": "count",
    "wand.topk_ms": "ms", "wand.spark_jobs": "count",
    "incremental.upsert_ms": "ms", "incremental.delete_ms": "ms",
    "incremental.upsert_spark_jobs": "count",
    "incremental.delete_spark_jobs": "count",
    "incremental.bytes_written": "B", "incremental.tombstones": "count",
    "host.calib_ms": "ms",
}


def per_layer(tr: Tracer, event_dir: str, store_path: str,
              session_start_s: float, calib: list[float]) -> dict:
    """Every per-layer metric of the run: per call or per request
    medians, or totals; 0 where the layer did no work."""
    import pyarrow.parquet as pq

    jobs, tasks = read_event_log(event_dir)
    done = [s for s in tr.spans if s["end"] is not None]
    attribute(done, jobs, tasks)

    def named(name):
        return [s for s in done if s["name"] == name]
    builds = named("build")
    reqs = [s["req"] for s in named("service.search")]

    def sub(name):
        p = os.path.join(store_path, name)
        return (sum(os.path.getsize(os.path.join(d, f))
                    for d, _, fs in os.walk(p) for f in fs)
                if os.path.isdir(p) else 0)
    tomb = os.path.join(store_path, "tombstones")
    v = {
        "session.start_s": session_start_s,
        "build.materialize_s": median0(s["phases"]["materialize"]
                                       for s in builds),
        "build.dims_s": median0(s["phases"]["dims"] for s in builds),
        "build.blocks_s": median0(s["phases"]["blocks"] for s in builds),
        "build.spark_jobs": median0(s["spark_jobs"] for s in builds),
        "build.shuffle_write_bytes": median0(s["shuffle_write_bytes"]
                                             for s in builds),
        "build.spill_bytes": median0(s["spill_bytes"] for s in builds),
        "store.blocks_bytes": sub("blocks"), "store.docs_bytes": sub("docs"),
        "store.terms_bytes": sub("terms"),
        "store.doclens_bytes": sub("doclens"),
        "store.meta_json_bytes": os.path.getsize(
            os.path.join(store_path, "meta.json")),
        "textprep.query_ms": median0(tr.per_request(reqs, "textprep.query")),
        "serving.terms_ms": median0(tr.durations_ms("serving.terms")),
        "serving.topk_ms": median0(tr.durations_ms("serving.topk")),
        "serving.count_ms": median0(tr.durations_ms("serving.count")),
        "serving.hydrate_ms": median0(tr.durations_ms("serving.hydrate")),
        "serving.row_groups_read": median0(
            tr.per_request(reqs, "serving.row_groups_read")),
        "serving.bytes_read": median0(
            tr.per_request(reqs, "serving.bytes_read")),
        "serving.declined": tr.total("serving.declined"),
        "codec.decode_ms": median0(tr.per_request(reqs, "codec.decode")),
        "codec.postings_decoded": median0(
            tr.per_request(reqs, "codec.postings_decoded")),
        "present.ms": median0(tr.per_request(reqs, "present")),
        "service.spark_jobs": median0(s["spark_jobs"]
                                      for s in named("service.search")),
        "wand.topk_ms": median0(tr.durations_ms("wand.topk")),
        "wand.spark_jobs": median0(s["spark_jobs"]
                                   for s in named("wand.topk")),
        "incremental.upsert_ms": median0(
            tr.durations_ms("incremental.upsert")),
        "incremental.delete_ms": median0(
            tr.durations_ms("incremental.delete")),
        "incremental.upsert_spark_jobs": median0(
            s["spark_jobs"] for s in named("incremental.upsert")),
        "incremental.delete_spark_jobs": median0(
            s["spark_jobs"] for s in named("incremental.delete")),
        "incremental.bytes_written": median0(
            s["bytes_written"] for s in named("incremental.upsert")
            + named("incremental.delete")),
        "incremental.tombstones": (pq.read_table(tomb).num_rows
                                   if os.path.isdir(tomb) else 0),
        "host.calib_ms": median0(calib),
    }
    return {k: {"value": float(x), "unit": UNITS[k]} for k, x in v.items()}
