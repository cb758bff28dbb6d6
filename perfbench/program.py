"""The measured process of the benchmark: one Spark session, one workload.

Started by ``run.py`` in its own session (``setsid``), so that the driver
Python, the JVM it launches and the Python workers the JVM forks can be told
apart from the benchmark's own processes.  It only calls the package's public
surface and writes what it saw to ``<work>/ops.jsonl`` (one line per finished
operation, flushed at once, so a crash loses at most the operation in
flight) and ``<work>/summary.json`` (written last; its absence tells the
parent that the process died).

Timing discipline: everything before the first timed operation -- session
start, the cold build (build_zipf), engine open and query warm-up
(query_ref) -- is set-up.  Only warm operations are timed.

The ``prepare`` workload is not measured: it builds the index that
query_ref searches, once per checkout, with Spark's event log on so that
traced query_ref runs can report the index layer of that build.  Then it
runs one update cycle and ``optimize`` on a copy of that index, for the
update layer's figures and its oracle check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession  # noqa: E402

from apache___solr_spark.analysis.chain import analyze, extract_text  # noqa: E402
from apache___solr_spark.index.builder import build_index  # noqa: E402
from apache___solr_spark.index.updates import add_docs, delete_docs, optimize  # noqa: E402
from apache___solr_spark.query.engine import SearchEngine  # noqa: E402
from apache___solr_spark.query.parser import parse_query_tree  # noqa: E402
from apache___solr_spark.session import get_spark  # noqa: E402
from run import session_stats  # noqa: E402

# the timed queries of query_ref, by qid in corpus.generate_queries: a
# 4-term OR with a rare term at k=100 and a 2-term AND at k=10.
# WARMUP_ROUNDS untimed rounds over them, then whole timed rounds, at least
# TIMED_ROUNDS, until --seconds has passed.
TIMED_QIDS = (4, 6)
WARMUP_ROUNDS = 2
TIMED_ROUNDS = 2


class Tracer:
    """Spans kept in memory: one per operation, one per layer call inside
    it.  All spans of one operation share ``op``.  Off in timed runs."""

    def __init__(self, on: bool, sid: int) -> None:
        self.on = on
        self.sid = sid
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = None

    def op(self, name: str):
        return self._Span(self, name, op=True)

    def span(self, name: str):
        return self._Span(self, name, op=False)

    class _Span:
        def __init__(self, tr: "Tracer", name: str, op: bool) -> None:
            self.tr, self.name, self.is_op = tr, name, op

        def __enter__(self):
            tr = self.tr
            if not tr.on:
                return self
            if self.is_op:
                tr._op = len(tr.spans)
            self.i = len(tr.spans)
            tr.spans.append(
                {
                    "id": self.i,
                    "op": tr._op,
                    "parent": tr._stack[-1] if tr._stack else None,
                    "name": self.name,
                    "start": time.monotonic(),
                }
            )
            tr._stack.append(self.i)
            return self

        def __exit__(self, exc_type, exc, tb):
            tr = self.tr
            if tr.on:
                tr._stack.pop()
                tr.spans[self.i]["end"] = time.monotonic()
                tr.spans[self.i]["error"] = exc_type is not None
            return False


def session_cpu_s(sid: int) -> float:
    """User+system CPU seconds of every live process in session ``sid``:
    the driver Python, the JVM and its Python workers."""
    ticks = sum(int(f[11]) + int(f[12]) for f in session_stats(sid).values())
    return ticks / os.sysconf("SC_CLK_TCK")


class Recorder:
    def __init__(self, work: str) -> None:
        self.f = open(os.path.join(work, "ops.jsonl"), "w")

    def __call__(self, **rec) -> None:
        self.f.write(json.dumps(rec) + "\n")
        self.f.flush()


def rows_of(df) -> list[list]:
    return [[int(r["doc_id"]), r["url"], float(r["score"])] for r in df.collect()]


def run_query(spark, eng, tr, q: dict, prune: bool = True, group: str = "") -> dict:
    """search() then collect(), timed apart; rows are in hand at the end."""
    sc = spark.sparkContext
    out = {"qid": q["qid"], "query": q["query"], "k": q["k"], "prune": prune}
    with tr.op(f"query:{q['qid']}"):
        if tr.on:
            with tr.span("query.parse"):
                t = time.perf_counter()
                parse_query_tree(q["query"])
                out["parse_s"] = time.perf_counter() - t
            cpu0 = session_cpu_s(tr.sid)
            sc.setJobGroup(f"{group}.search", "perfbench")
        t0 = time.perf_counter()
        with tr.span("query.search"):
            df = eng.search(q["query"], k=q["k"], prune=prune)
        t1 = time.perf_counter()
        if tr.on:
            sc.setJobGroup(f"{group}.collect", "perfbench")
        with tr.span("query.collect"):
            rows = rows_of(df)
        t2 = time.perf_counter()
        if tr.on:
            out["cpu_s"] = session_cpu_s(tr.sid) - cpu0
            out["groups"] = [f"{group}.search", f"{group}.collect"]
            sc.setLocalProperty("spark.jobGroup.id", None)
    out.update(search_s=t1 - t0, collect_s=t2 - t1, wall_s=t2 - t0, rows=rows)
    return out


def timed_build(spark, tr, pages: str, out_dir: str, group: str) -> float:
    if tr.on:
        spark.sparkContext.setJobGroup(group, "perfbench")
    t = time.perf_counter()
    with tr.op("build"), tr.span("index.build_index"):
        build_index(spark, pages, out_dir, resume=False)
    wall = time.perf_counter() - t
    if tr.on:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return wall


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--spawn-ts", type=float, required=True)
    a = ap.parse_args()
    work = a.work
    with open(os.path.join(work, "inputs.json")) as f:
        inputs = json.load(f)
    queries = inputs["queries"]
    pages = inputs["pages"]
    rec = Recorder(work)
    prepare = a.workload == "prepare"
    tr = Tracer(a.trace == 1 or prepare, os.getsid(0))
    summary: dict = {"samples": {}}
    samples = summary["samples"]

    conf = {
        # keep every file the JVM writes inside the checkout
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if tr.on:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    t = time.perf_counter()
    with tr.op("session"), tr.span("session.get_spark"):
        spark: SparkSession = get_spark(
            "perfbench", cores=len(os.sched_getaffinity(0)), extra_conf=conf
        )
    samples["session_start_s"] = time.perf_counter() - t
    jvm = spark.sparkContext._jvm
    summary["provenance"] = {
        "java_version": jvm.System.getProperty("java.version"),
        "spark_conf": {
            k: spark.conf.get(k)
            for k in (
                "spark.master",
                "spark.driver.memory",
                "spark.sql.shuffle.partitions",
            )
        },
    }

    def setup_done() -> None:
        summary["setup_s"] = time.monotonic() - a.spawn_ts

    index_dir = inputs.get("index") or os.path.join(work, "idx")
    try:
        if prepare:
            samples["cold_build_s"] = timed_build(spark, tr, pages, index_dir, "build.cold")
            setup_done()
            update_cycle(spark, tr, rec, work, index_dir, inputs, samples)
            eng = None
        elif a.workload == "build_zipf":
            # the cold build is the untimed warm-up build
            samples["cold_build_s"] = timed_build(
                spark, tr, pages, os.path.join(work, "idx-cold"), "build.cold"
            )
            setup_done()
            # at least one timed build; another only if it should end
            # before --seconds has passed, judged by the last one
            deadline = time.perf_counter() + a.seconds
            builds = []
            i = 0
            while not builds or time.perf_counter() + builds[-1] <= deadline:
                out_dir = os.path.join(work, f"idx-{i}")
                try:
                    wall = timed_build(spark, tr, pages, out_dir, f"build.{i}")
                except Exception as e:  # noqa: BLE001
                    rec(kind="build", i=i, failed=True, error=repr(e)[:500])
                    raise
                rec(kind="build", i=i, wall_s=wall, index=out_dir)
                builds.append(wall)
                i += 1
            samples["build_s"] = builds
            index_dir = os.path.join(work, f"idx-{i - 1}")
            eng = None
        elif a.workload == "query_ref":
            t = time.perf_counter()
            with tr.op("open"), tr.span("query.SearchEngine"):
                eng = SearchEngine(spark, index_dir)
            samples["open_s"] = time.perf_counter() - t
            timed_qs = [q for q in queries if q["qid"] in TIMED_QIDS]
            samples["warmup_query_s"] = [
                run_query(spark, eng, tr, q, group=f"warm{j}")["wall_s"]
                for j, q in enumerate(timed_qs * WARMUP_ROUNDS)
            ]
            setup_done()
            deadline = time.perf_counter() + a.seconds
            n = 0
            while (
                n < TIMED_ROUNDS * len(timed_qs)
                or n % len(timed_qs)
                or time.perf_counter() < deadline
            ):
                q = timed_qs[n % len(timed_qs)]
                try:
                    r = run_query(spark, eng, tr, q, group=f"q{n}")
                except Exception as e:  # noqa: BLE001
                    rec(kind="query", n=n, qid=q["qid"], failed=True, error=repr(e)[:500])
                    raise
                rec(kind="query", n=n, round=n // len(timed_qs), **r)
                n += 1
        else:
            raise SystemExit(f"unknown workload {a.workload!r}")
        summary["timed_done"] = True

        if tr.on and not prepare:
            trace_tail(spark, tr, rec, a.workload, index_dir, inputs, samples, eng)
    except BaseException as e:
        summary["error"] = repr(e)[:2000]
        raise
    finally:
        if tr.on:
            with open(os.path.join(work, "spans.json"), "w") as f:
                json.dump(tr.spans, f)
        with open(os.path.join(work, "summary.json"), "w") as f:
            json.dump(summary, f)
    if tr.on:
        spark.stop()  # flushes the event log; otherwise the harness kills the JVM
    return 0


def trace_tail(spark, tr, rec, workload, index_dir, inputs, samples, eng) -> None:
    """Traced runs only: drive the query and analysis layers where the
    timed loop of this workload does not, so that every traced run reports
    every per-layer metric.  The update layer's figures come from the
    prepare run."""
    queries = inputs["queries"]
    if workload == "build_zipf":
        t = time.perf_counter()
        with tr.op("open"), tr.span("query.SearchEngine"):
            eng = SearchEngine(spark, index_dir)
        samples["open_s"] = time.perf_counter() - t
        for n, q in enumerate(q for q in queries if q["qid"] in TIMED_QIDS):
            rec(kind="query", n=n, **run_query(spark, eng, tr, q, group=f"q{n}"))
    for n, q in enumerate(q for q in queries if q["qid"] in TIMED_QIDS):
        rec(kind="noprune", n=n, **run_query(spark, eng, tr, q, prune=False, group=f"np{n}"))

    # driver-side analysis chain over a fixed seeded sample
    import pyarrow.parquet as pq

    sample = pq.read_table(inputs["pages"], columns=["html", "text"]).to_pylist()
    sample = [sample[i] for i in inputs["analysis_sample"]]
    t = time.perf_counter()
    with tr.op("analysis"), tr.span("analysis.chain"):
        for r in sample:
            analyze(extract_text(r["html"], r["text"]))
    samples["analysis_chain_s"] = time.perf_counter() - t
    samples["analysis_docs"] = len(sample)


def update_cycle(spark, tr, rec, work, index_dir, inputs, samples) -> None:
    """The prepare run only, after its build: one update cycle on a copy of
    the index (add_docs, delete_docs, a new engine and its first query),
    then optimize and the checked queries on the optimized index."""
    import pyarrow.parquet as pq

    queries = inputs["queries"]
    upd = os.path.join(work, "idx-upd")
    shutil.copytree(index_dir, upd)
    batch = spark.read.parquet(inputs["batch"])
    sc = spark.sparkContext
    t = time.perf_counter()
    with tr.op("refresh"):
        sc.setJobGroup("upd.add", "perfbench")
        with tr.span("index.updates.add_docs"):
            add_docs(spark, upd, batch)
        t1 = time.perf_counter()
        sc.setJobGroup("upd.delete", "perfbench")
        with tr.span("index.updates.delete_docs"):
            delete_docs(spark, upd, urls=inputs["delete_urls"])
        t2 = time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", None)
        with tr.span("query.SearchEngine"):
            eng2 = SearchEngine(spark, upd)
        t3 = time.perf_counter()
        with tr.span("query.first"):
            rows_of(eng2.search(queries[0]["query"], k=queries[0]["k"]))
        t4 = time.perf_counter()
    samples.update(
        add_docs_s=t1 - t, delete_docs_s=t2 - t1, reopen_s=t3 - t2,
        first_after_open_s=t4 - t3, refresh_s=t4 - t,
    )
    rec(kind="refresh", wall_s=t4 - t)
    terms = pq.read_table(os.path.join(upd, "dictionary"), columns=["term"]).column("term")
    samples["dictionary_rows"] = len(terms)
    samples["dictionary_terms"] = len(terms.unique())
    t = time.perf_counter()
    with tr.op("optimize"), tr.span("index.updates.optimize"):
        sc.setJobGroup("upd.optimize", "perfbench")
        optimize(spark, upd)
        sc.setLocalProperty("spark.jobGroup.id", None)
    samples["optimize_s"] = time.perf_counter() - t
    rec(kind="optimize", wall_s=samples["optimize_s"])
    eng3 = SearchEngine(spark, upd)
    for q in queries:
        if q["qid"] in TIMED_QIDS:
            rec(kind="check", index="optimized", **run_query(spark, eng3, Tracer(False, 0), q))


if __name__ == "__main__":
    sys.exit(main())
