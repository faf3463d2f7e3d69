"""End-to-end benchmark of the search engine.

    python3 perfbench/run.py --workload {build,search,update_mix} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Inputs are generated from --seed
(perfbench/inputs.py); the engine is driven only through its public
functions (prepare_pages, IndexStore.build, search_service,
statistics_service, reindex_page, delete_page) on Spark local[nproc],
one client in a closed loop. Every response and store statistic is
checked against perfbench/checker.py. The last stdout line is one JSON
object: correct, attempted, failed and the metrics (end-to-end ones
with --trace 0, per-layer ones with --trace 1). Work files go under
.perfbench/ in the checkout; see perfbench/README.md.
"""

from __future__ import annotations

import argparse
import copy
import datetime as dt
import json
import os
import resource
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checker as C  # noqa: E402
import inputs as I  # noqa: E402

DOCS = {"build": 4000, "search": 4000, "update_mix": 2000}
SEARCH_MIN_ROUNDS = 10       # 940 timed requests: p98 has ≥ 10 beyond it
TAIL_PCT = 98
N_BUCKETS, CHECKPOINT_GROUPS = 8, 2   # store layout sized to the corpus


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def calib_ms() -> float:
    """Engine-independent machine-speed probe: a numpy sort plus a pure
    Python loop, the two kinds of driver work a search does."""
    import numpy as np
    t = time.perf_counter()
    a = np.random.default_rng(1).random(400_000)
    a.sort()
    s = 0
    for i in range(200_000):
        s += (i * i) % 7
    return (time.perf_counter() - t) * 1e3


def dir_bytes(path: str, since_ns: int = 0) -> int:
    n = 0
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            if st.st_mtime_ns >= since_ns:
                n += st.st_size
    return n


def pct(xs: list[float], p: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(len(xs) * p / 100))]


class Bench:
    def __init__(self, args):
        self.args = args
        self.t0 = time.perf_counter()
        self.work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
        self.out = os.path.join(ROOT, ".perfbench", "results")
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.calib: list[float] = []
        self.errors: list[str] = []
        self.tracer = None
        self.spark = None

    # ---- environment ----------------------------------------------

    def start_spark(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "spark-local", "events"):
            os.makedirs(os.path.join(self.work, d))
        os.makedirs(self.out, exist_ok=True)
        ncpu = len(os.sched_getaffinity(0))
        tmp = os.path.join(self.work, "tmp")
        os.environ.update({
            "PYTHONPATH": os.pathsep.join(
                [ROOT] + [p for p in os.environ.get("PYTHONPATH", "")
                          .split(os.pathsep) if p]),
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
            "SPARK_DRIVER_MEM": "2g",
            "SPARK_GRAFT_CPUS": str(ncpu),
            "TMPDIR": tmp,
        })
        # no JVM file outside the checkout: temp files and hsperfdata
        conf = {"spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work,
                                                               "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false"})
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
        ) + " pyspark-shell"
        from search_engine_skillbox_spark.session import get_spark
        t = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{ncpu}]",
                               shuffle_partitions=ncpu)
        self.session_start_s = time.perf_counter() - t
        log(f"session start: {self.session_start_s:.2f} s")
        if self.args.trace:
            from tracing import Tracer
            self.tracer = Tracer()
            self.tracer.spans.append({
                "id": 0, "name": "session.start", "parent": None,
                "req": None, "start": time.time() - self.session_start_s,
                "end": time.time()})
            self.tracer.install_engine()

    def stop_spark(self) -> None:
        if self.tracer is not None:
            self.tracer.uninstall()
        if self.spark is None:
            return
        from pyspark import SparkContext
        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    def set_req(self, req: str | None) -> None:
        """Request id for the spans that follow ("warmup": untraced)."""
        if self.tracer is not None:
            self.tracer.req = req

    def span(self, name: str):
        if self.tracer is None:
            from contextlib import nullcontext
            return nullcontext()
        return self.tracer.span(name)

    # ---- inputs and store -------------------------------------------

    def corpus(self, n_docs: int):
        import pyarrow as pa
        import pyarrow.parquet as pq
        gen = I.Generator(self.args.seed)
        pages = gen.corpus(n_docs)
        path = os.path.join(self.work, "corpus")
        os.makedirs(path)
        schema = pa.schema([("url", pa.string()),
                            ("warc_ts", pa.timestamp("us", tz="UTC")),
                            ("html", pa.binary()), ("text", pa.string()),
                            ("lang", pa.string())])
        rows = [page_row(p) for p in pages]
        pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                       os.path.join(path, "pages.parquet"))
        model = C.Model()
        for p in pages:
            url = I.normalize_url(p.url)
            model.upsert(url, host_of(url), p.text)
        return gen, pages, path, model

    def build(self, corpus_path: str, name: str):
        from search_engine_skillbox_spark.operators.index_store import (
            IndexStore)
        from search_engine_skillbox_spark.sources.pages import prepare_pages
        store_path = os.path.join(self.work, name)
        with self.span("build") as sp:
            t = time.perf_counter()
            raw = self.spark.read.parquet(corpus_path)
            store = IndexStore(store_path, n_buckets=N_BUCKETS)
            store.build(self.spark, prepare_pages(raw),
                        checkpoint_groups=CHECKPOINT_GROUPS)
            secs = time.perf_counter() - t
        log(f"build {name}: {secs:.2f} s")
        if sp is not None:
            from tracing import lineage_phases
            sp["phases"] = lineage_phases(store_path)
        return store, secs

    def check(self, errs: list[str], fault: bool = False,
              op: bool = True) -> None:
        """Count one operation (op=False: a set-up check, which counts
        no operation); a disagreement fails it, and a failure outside
        the named fault makes the run incorrect."""
        self.attempted += op
        if not errs:
            return
        self.failed += op
        if not fault:
            self.correct = False
            if len(self.errors) < 5:
                self.errors.append("; ".join(errs[:3]))
                log("check failed: " + "; ".join(errs[:3]))

    def check_store(self, store, model: C.Model) -> list[str]:
        """n_docs, sum_dl and per-term df/cf of the store against counts
        made from the generated pages, and the statistics service."""
        import pyarrow.parquet as pq
        from search_engine_skillbox_spark.operators.service import (
            statistics_service)
        meta = store.meta()
        errs = []
        if meta["n_docs"] != model.n_docs():
            errs.append(f"n_docs {meta['n_docs']}, want {model.n_docs()}")
        if meta["sum_dl"] != model.sum_dl():
            errs.append(f"sum_dl {meta['sum_dl']}, want {model.sum_dl()}")
        t = pq.read_table(os.path.join(store.path, "terms"),
                          columns=["term", "df", "cf"]).to_pydict()
        got = {tm: (df, cf) for tm, df, cf in zip(t["term"], t["df"],
                                                  t["cf"]) if df > 0}
        want = model.term_stats()
        if got != want:
            bad = sorted(set(got.items()) ^ set(want.items()))[:3]
            errs.append(f"{len(set(got.items()) ^ set(want.items()))} "
                        f"term df/cf rows differ, e.g. {bad}")
        errs += C.check_statistics(model,
                                   statistics_service(self.spark, store))
        return errs

    def search(self, store, q: I.Query) -> tuple[dict, float]:
        from search_engine_skillbox_spark.operators.service import (
            search_service)
        with self.span("service.search"):
            t = time.perf_counter()
            resp = search_service(self.spark, store, q.text,
                                  offset=q.offset, limit=q.limit,
                                  mode=q.mode, site=q.site)
            ms = (time.perf_counter() - t) * 1e3
        return resp, ms

    def elapsed(self, since: float) -> float:
        return time.perf_counter() - since

    # ---- workloads --------------------------------------------------

    def run_build(self) -> dict:
        """Raw pages → committed store, repeated until --seconds have
        passed; the build layers are the timed work and no serving code
        runs. The first build of a session is timed as it comes: a batch
        indexing job pays JIT and Python-worker start on every run."""
        _, pages, cpath, model = self.corpus(DOCS["build"])
        self.calib.append(calib_ms())
        self.setup_s = self.elapsed(self.t0)
        times, t_run, i = [], time.perf_counter(), 0
        while self.elapsed(t_run) < self.args.seconds or not times:
            if i:
                shutil.rmtree(os.path.join(self.work, f"b{i - 1}"))
            store, secs = self.build(cpath, f"b{i}")
            times.append(secs)
            self.check(self.check_store(store, model))
            self.calib.append(calib_ms())
            i += 1
        self.store = store
        self.detail = {"build_s": times, "build_docs_per_s": len(pages)
                       / statistics.median(times)}
        return {"op_latency_ms": statistics.median(times) * 1e3,
                "store_bytes_per_text_byte": dir_bytes(store.path)
                / sum(model.text_bytes.values()),
                "driver_py_peak_rss_mb": rss_mb()}

    def search_round(self, gen: I.Generator, model: C.Model) -> list:
        """One round: the seeded Zipf query log, offset/limit edge cases
        and the named-fault queries, in a seeded order."""
        import random
        log_q = gen.query_log()
        rng = random.Random(self.args.seed * 53 + 5)
        hits = [q for q in log_q
                if not q.site and model.expected(q.text, q.mode, None)[0]]
        q0, q1 = hits[0], hits[-1]
        n0 = len(model.expected(q0.text, q0.mode, None)[0])
        edges = [I.Query("   "), I.Query("12345 678"),
                 I.Query(q0.text, q0.mode, offset=n0),
                 I.Query(q0.text, q0.mode, offset=n0 + 1),
                 I.Query(q1.text, q1.mode, limit=1),
                 I.Query(q1.text, q1.mode, limit=25)]
        faults = [I.Query(t, m, fault=True) for t in I.FAULT_QUERIES
                  for m in ("compat", "bm25")]
        ops = log_q + edges + faults
        self.repeat_share = 1 - len({(q.text, q.mode, q.site, q.offset)
                                     for q in log_q}) / len(log_q)
        rng.shuffle(ops)
        return ops

    def run_search(self) -> dict:
        """Zipf query log against a tombstone-free store built in
        set-up; every request is served driver-side."""
        gen, _, cpath, model = self.corpus(DOCS["search"])
        store, _ = self.build(cpath, "store")
        self.check(self.check_store(store, model), op=False)
        ops = self.search_round(gen, model)
        expected: dict = {}

        def request(q: I.Query) -> tuple[float, list[str]]:
            resp, ms = self.search(store, q)
            key = (q.text, q.mode, q.site, q.offset, q.limit,
                   json.dumps(resp, sort_keys=True))
            if key not in expected:
                expected[key] = C.check_response(
                    model, q.text, q.mode, q.site, q.offset, q.limit, resp)
            return ms, expected[key]

        self.set_req("warmup")
        for q in ops:   # warm-up round: fills the serving caches
            self.check(request(q)[1], q.fault, op=False)
        self.calib.append(calib_ms())
        self.setup_s = self.elapsed(self.t0)
        lat, rounds, t_run = [], 0, time.perf_counter()
        while (self.elapsed(t_run) < self.args.seconds
               or rounds < SEARCH_MIN_ROUNDS):
            for q in ops:
                self.set_req(f"r{rounds}-{len(lat)}")
                ms, errs = request(q)
                lat.append(ms)
                self.check(errs, q.fault)
            rounds += 1
            self.calib.append(calib_ms())
        self.store = store
        tail = pct(lat, TAIL_PCT)
        self.detail = {"latency_ms": lat, "round_len": len(ops),
                       "search_tail_ms": tail,
                       "search_tail_over_p50": tail / statistics.median(lat)}
        text = sum(model.text_bytes.values())
        return {"op_latency_ms": statistics.median(lat),
                "store_bytes_per_text_byte": dir_bytes(store.path) / text,
                "driver_py_peak_rss_mb": rss_mb()}

    def run_update_mix(self) -> dict:
        """Upserts of existing and new urls, deletes and searches at a
        fixed ratio on a fresh copy of a store built in set-up."""
        from search_engine_skillbox_spark.operators.incremental import (
            delete_page, reindex_page)
        from search_engine_skillbox_spark.operators.index_store import (
            IndexStore)
        gen, pages, cpath, model = self.corpus(DOCS["update_mix"])
        base, _ = self.build(cpath, "base")
        self.check(self.check_store(base, model), op=False)
        base.close()
        script = gen.update_script(pages, 12)

        def apply(store, m: C.Model, op, times=None) -> float:
            """Run, check and time one operation of the script; returns
            its ms. times=None: a warm-up operation, checked but not
            counted"""
            kind, arg = op
            if kind == "search":
                resp, ms = self.search(store, arg)
                errs = C.check_response(m, arg.text, arg.mode, arg.site,
                                        arg.offset, arg.limit, resp)
                self.check(errs, op=times is not None)
                if times is not None:
                    times["search"].append(ms)
                return ms
            since = time.time_ns()
            with self.span(f"incremental.{kind}") as sp:
                t = time.perf_counter()
                if kind == "upsert":
                    reindex_page(self.spark, store, page_row(arg))
                else:
                    delete_page(self.spark, store, arg)
                ms = (time.perf_counter() - t) * 1e3
            url = I.normalize_url(arg.url if kind == "upsert" else arg)
            if kind == "upsert":
                m.upsert(url, host_of(url), arg.text)
            else:
                m.delete(url)
            if sp is not None:
                sp["bytes_written"] = dir_bytes(store.path, since)
            if times is not None:
                self.attempted += 1
                times[kind].append(ms)
            return ms

        # warm-up on a throwaway copy: the first mutation of a session
        # pays JIT and code-path loading that a long-lived service
        # pays once
        warm = os.path.join(self.work, "warm")
        shutil.copytree(base.path, warm)
        wstore, wmodel = IndexStore(warm), copy.deepcopy(model)
        self.set_req("warmup")
        apply(wstore, wmodel, script[-1][0])
        wstore.close()
        shutil.rmtree(warm)

        live = os.path.join(self.work, "live")
        shutil.copytree(base.path, live)
        store = IndexStore(live)
        self.calib.append(calib_ms())
        self.setup_s = self.elapsed(self.t0)
        times = {"upsert": [], "delete": [], "search": [], "round": []}
        rounds, t_run = 0, time.perf_counter()
        while self.elapsed(t_run) < self.args.seconds or not rounds:
            round_ms = []
            for op in script[rounds]:
                self.set_req(f"r{rounds}-{self.attempted}")
                round_ms.append(apply(store, model, op, times))
            times["round"].append(statistics.fmean(round_ms))
            rounds += 1
            self.calib.append(calib_ms())
        self.set_req(None)
        self.check(self.check_store(store, model), op=False)
        self.store = store
        self.detail = times
        text = sum(model.text_bytes.values())
        return {"op_latency_ms": statistics.median(times["round"]),
                "store_bytes_per_text_byte": dir_bytes(store.path) / text,
                "driver_py_peak_rss_mb": rss_mb()}


def page_row(p: I.Page) -> dict:
    return {"url": p.url, "html": p.html, "text": None, "lang": p.lang,
            "warc_ts": dt.datetime.fromtimestamp(p.warc_ts,
                                                 dt.timezone.utc)}


def host_of(url_norm: str) -> str:
    return url_norm.split("://", 1)[1].split("/", 1)[0]


def rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["build", "search", "update_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "search_engine_skillbox_spark")):
        log(f"no engine package under {ROOT}: run from a checkout root")
        return 2
    missed = C.self_test()
    if missed:
        log(f"checker self-test missed: {missed}")
        return 3

    b = Bench(args)
    try:
        b.start_spark()
        e2e = getattr(b, f"run_{args.workload}")()
        e2e["setup_s"] = b.setup_s
        layers = None
        if b.tracer is not None:
            from tracing import per_layer
            b.stop_spark()   # flushes the event log
            layers = per_layer(b.tracer, os.path.join(b.work, "events"),
                               b.store.path, b.session_start_s, b.calib)
            b.tracer.write(os.path.join(b.out, f"trace-{args.workload}-s"
                                        f"{args.seed}.json"))
    finally:
        b.stop_spark()
        if getattr(b, "store", None) is not None:
            b.store.close()
        shutil.rmtree(b.work, ignore_errors=True)

    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "e2e": e2e, "per_layer": layers,
              "host.calib_ms": statistics.median(b.calib),
              "calib_ms": b.calib, "attempted": b.attempted,
              "failed": b.failed, "errors": b.errors,
              "repeat_share": getattr(b, "repeat_share", None),
              "detail": getattr(b, "detail", None)}
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(b.out, f"{args.workload}-s{args.seed}-"
                           f"t{args.trace}-{stamp}.json"), "w") as f:
        json.dump(record, f)
    units = {"setup_s": "s", "op_latency_ms": "ms",
             "store_bytes_per_text_byte": "B/B", "driver_py_peak_rss_mb": "MB"}
    if layers is None and set(e2e) != set(units):
        log(f"end-to-end metrics {sorted(e2e)}, want {sorted(units)}")
        return 4
    metrics = ({k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
               if layers is None else layers)
    print(json.dumps({"correct": b.correct, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
