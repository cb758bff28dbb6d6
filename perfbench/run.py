"""Build/query benchmark of the index engine on the Zipf corpus.

    python3 perfbench/run.py --workload build_zipf --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  The line before it holds the provenance and every raw
sample of the run.

This process is the harness, never measured: it writes the seeded corpus,
starts the measured program (``program.py``) in a session of its own,
samples the memory high-water marks of that session's processes, stops them
all, and then checks every recorded result against the single-process
oracle (``apache___solr_spark.oracle``), outside every timed window.
Before that, if this checkout has none yet, it has the index that
query_ref searches built and checked (``query_index``).
See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
N_DOCS = 2000
DOCS_PER_FILE = 250
BATCH_DOCS = 200
DELETE_DOCS = 10
ANALYSIS_SAMPLE = 2000
CHILD_LIMIT_S = 160.0
# query_ref searches one fixed corpus, built once per checkout; its seed
# drives the queries
QUERY_INDEX_SEED = 0
WORKLOADS = ("build_zipf", "query_ref")


def session_stats(sid: int) -> dict[int, list[str]]:
    """pid -> the fields of /proc/<pid>/stat after the command name, for
    every live process of session ``sid``."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:  # fields[3] is the session id
            out[int(pid)] = fields
    return out


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def stop_session(sid: int) -> None:
    """SIGKILL every process left in the session and wait until none is."""
    for _ in range(200):
        pids = list(session_stats(sid))
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
    raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def provenance(a, summary: dict) -> dict:
    from importlib.metadata import version

    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "trace": a.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "pyspark_version": version("pyspark"),
        "python_version": sys.version.split()[0],
        "corpus_docs": N_DOCS,
        "corpus_seed": QUERY_INDEX_SEED if a.workload == "query_ref" else a.seed,
        "corpus_files": math.ceil(N_DOCS / DOCS_PER_FILE),
        "update_batch_docs": BATCH_DOCS,
        "update_delete_docs": DELETE_DOCS,
        **summary.get("provenance", {}),
    }


def package_key() -> str:
    """Hash of the package's sources and of the query_ref corpus shape."""
    h = hashlib.sha256(f"{N_DOCS}/{DOCS_PER_FILE}/{QUERY_INDEX_SEED}".encode())
    pkg = os.path.join(ROOT, "apache___solr_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def query_index(base: str) -> tuple[str, bool]:
    """The directory holding the corpus (``pages``) and index (``idx``)
    that query_ref searches, and whether this call built it.  It is built
    by this checkout's package, in a process of its own before the measured
    one, and kept under ``base`` for later runs: like corpus generation it
    is outside ``setup_s``.  Every workload makes sure it exists, so that
    the first run in a checkout, whichever it is, pays for it.  A changed
    package source gives a new key and a new build."""
    import report

    cache = os.path.join(base, "cache", f"query_ref-{package_key()}")
    if os.path.isfile(os.path.join(cache, "summary.json")):
        return cache, False
    tmp = f"{cache}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        inputs = corpus_inputs(tmp, QUERY_INDEX_SEED)
        inputs.update(update_inputs(tmp, QUERY_INDEX_SEED, inputs["pages"]))
        with open(os.path.join(tmp, "inputs.json"), "w") as f:
            json.dump(inputs, f)
        code, _ = run_program(tmp, "prepare", 0, 0)
        summary = {}
        if os.path.exists(os.path.join(tmp, "summary.json")):
            with open(os.path.join(tmp, "summary.json")) as f:
                summary = json.load(f)
        if code != 0 or not summary.get("timed_done"):
            with open(os.path.join(tmp, "program.log")) as f:
                tail = f.read()[-2000:]
            raise RuntimeError(f"building the query_ref index failed ({code}): {tail}")
        mismatches = report.check_prepared(tmp, inputs)
        if mismatches:
            raise RuntimeError(f"the query_ref index or its update cycle is wrong: {mismatches}")
        for scratch in ("tmp", "idx-upd"):
            shutil.rmtree(os.path.join(tmp, scratch))
        os.replace(tmp, cache)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return cache, True


def corpus_inputs(work: str, seed: int) -> dict:
    """The seeded corpus, written under ``work``, and the reference queries."""
    from apache___solr_spark.corpus import generate_queries, write_pages_parquet

    pages = os.path.join(work, "pages")
    write_pages_parquet(pages, n_docs=N_DOCS, seed=seed, docs_per_file=DOCS_PER_FILE)
    return {"pages": pages, "n_docs": N_DOCS, "queries": generate_queries(seed)}


def update_inputs(work: str, seed: int, pages: str) -> dict:
    """The batch the update cycle adds and the urls it deletes."""
    import numpy as np
    import pyarrow.parquet as pq

    from apache___solr_spark.corpus import generate_pages

    rng = np.random.default_rng(seed + 2)
    batch = os.path.join(work, "batch.parquet")
    # urls carry the batch seed, so they are disjoint from the base's
    pq.write_table(generate_pages(BATCH_DOCS, seed=seed + 100_003), batch)
    urls = sorted(pq.read_table(pages, columns=["url"]).column("url").to_pylist())
    return {
        "batch": batch,
        "delete_urls": sorted(rng.choice(urls, DELETE_DOCS, replace=False).tolist()),
    }


def write_inputs(a, work: str, prepared: str) -> dict:
    import numpy as np

    from apache___solr_spark.corpus import generate_queries

    if a.workload == "query_ref":
        inputs = {
            "pages": os.path.join(prepared, "pages"),
            "n_docs": N_DOCS,
            "queries": generate_queries(a.seed),
            "index": os.path.join(prepared, "idx"),
        }
    else:
        inputs = corpus_inputs(work, a.seed)
    inputs["prepared"] = prepared
    if a.trace:
        rng = np.random.default_rng(a.seed + 2)
        inputs["analysis_sample"] = sorted(
            rng.choice(N_DOCS, min(ANALYSIS_SAMPLE, N_DOCS), replace=False).tolist()
        )
    with open(os.path.join(work, "inputs.json"), "w") as f:
        json.dump(inputs, f)
    return inputs


def run_program(work: str, workload: str, seconds: float, trace: int) -> tuple[int | None, float]:
    """Run the measured process; return (exit code or None if killed,
    sum of the high-water RSS of its processes in MB)."""
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # PYTHONHASHSEED: the same seed gives the same work in the driver too.
    # SPARK_LAUNCHER_OPTS: the launcher JVM of spark-submit would otherwise
    # write its perf-data file under /tmp.
    env.update(
        TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp, PYTHONPATH=ROOT, PYTHONHASHSEED="0",
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    hwm: dict[int, int] = {}
    with open(os.path.join(work, "program.log"), "w") as log:
        spawn = time.monotonic()
        child = subprocess.Popen(
            [
                sys.executable, os.path.join(HERE, "program.py"),
                "--work", work, "--workload", workload,
                "--seconds", str(seconds), "--trace", str(trace),
                "--spawn-ts", repr(spawn),
            ],
            stdout=log, stderr=subprocess.STDOUT, env=env,
            start_new_session=True,
        )
        code = None
        try:
            while time.monotonic() - spawn < CHILD_LIMIT_S:
                for pid in session_stats(child.pid):
                    hwm[pid] = max(hwm.get(pid, 0), vm_hwm_kb(pid))
                try:
                    code = child.wait(timeout=0.5)
                    break
                except subprocess.TimeoutExpired:
                    pass
        finally:
            stop_session(child.pid)
            child.wait()
    return code, sum(hwm.values()) / 1024.0


def failed_result(a, error: str, elapsed: float) -> dict:
    """Every metric of the run's kind, each read as the whole run's wall."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if a.trace else "end_to_end"]
    return {
        "summary": {},
        "record": {"error": error},
        "correct": False,
        "attempted": 1,
        "failed": 1,
        "metrics": {m["name"]: {"value": elapsed, "unit": m["unit"]} for m in spec},
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "apache___solr_spark", "__init__.py")):
        print("perfbench: run from a checkout root holding apache___solr_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import report

    # on SIGTERM unwind through the finally blocks that stop the program
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    t_start = time.monotonic()
    base = os.path.join(HERE, ".work")
    work = os.path.join(base, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        built_now = None
        try:
            prepared, built_now = query_index(base)
            t_start = time.monotonic()
            inputs = write_inputs(a, work, prepared)
            code, peak_rss_mb = run_program(work, a.workload, a.seconds, a.trace)
            result = report.build(a, work, inputs, code, peak_rss_mb, time.monotonic() - t_start)
        except Exception as e:  # noqa: BLE001 -- a run never ends without a result
            result = failed_result(a, repr(e), time.monotonic() - t_start)
        record = {
            "provenance": {**provenance(a, result.pop("summary")), "built_query_index": built_now},
            **result.pop("record"),
        }
        spans = record.pop("spans", None)
        os.makedirs(os.path.join(base, "results"), exist_ok=True)
        name = f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}.json"
        with open(os.path.join(base, "results", name), "w") as f:
            json.dump({**record, "spans": spans}, f)
        print(json.dumps(record))
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
