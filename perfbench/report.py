"""Turn what the measured process recorded into checked metrics.

Runs in the harness process after the measured processes have ended, so
neither the oracle (single-process Python, ~0.35 ms per doc) nor the
event-log parse lands in a timed window or in ``peak_rss_mb``.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics

SERVING = ("postings", "dictionary", "docs")
CHECKPOINTS = ("analyzed_raw", "analyzed")
STAGES = ("analyzed_raw", "numbering", "docs", "postings", "dictionary")


def _read_jsonl(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    out = []
    with open(path) as f:
        for line in f:
            try:
                out.append(json.loads(line))
            except ValueError:  # a line cut short by a crash
                pass
    return out


def _median(xs):
    return statistics.median(xs) if xs else None


# ---------------------------------------------------------------- oracle ---


class Oracle:
    def __init__(self, inputs: dict) -> None:
        import pyarrow.parquet as pq

        from apache___solr_spark.oracle import build_oracle_index

        cols = ["url", "html", "text"]
        self.base_rows = pq.read_table(inputs["pages"], columns=cols).to_pylist()
        self.base = build_oracle_index(self.base_rows)
        self.inputs = inputs
        self._live = None
        self._memo: dict = {}

    def live(self):
        """Oracle over the live corpus after the update cycle, numbered the
        way ``add_docs`` numbers: base urls in url order from 0, then the
        batch's urls in url order after them."""
        if self._live is None:
            import pyarrow.parquet as pq

            from apache___solr_spark.oracle import build_oracle_index

            batch = pq.read_table(self.inputs["batch"], columns=["url", "html", "text"]).to_pylist()
            dead = set(self.inputs["delete_urls"])
            order = sorted(r["url"] for r in self.base_rows)
            order += sorted(r["url"] for r in batch)
            id_of = {u: i for i, u in enumerate(order)}
            rows = [r for r in self.base_rows if r["url"] not in dead] + batch
            self._live = _renumber(build_oracle_index(rows), id_of)
        return self._live

    def expected(self, which: str, query: str, k: int) -> list:
        from apache___solr_spark.oracle import oracle_search

        key = (which, query, k)
        if key not in self._memo:
            idx = self.base if which == "base" else self.live()
            self._memo[key] = [
                [h["doc_id"], h["url"], h["score"]] for h in oracle_search(idx, query, k=k)
            ]
        return self._memo[key]


def _renumber(o, id_of: dict):
    from apache___solr_spark.oracle import OracleIndex

    new = [id_of[u] for u in o.url_by_doc]
    size = max(new) + 1 if new else 0
    url, dl, nb = [None] * size, [0] * size, [0] * size
    for old, nid in enumerate(new):
        url[nid], dl[nid], nb[nid] = o.url_by_doc[old], o.doclen[old], o.norm_byte[old]

    def remap(m):
        return {t: {new[d]: v for d, v in p.items()} for t, p in m.items()}

    return OracleIndex(
        url_by_doc=url, doclen=dl, norm_byte=nb, postings=remap(o.postings),
        n_docs=o.n_docs, avgdl=o.avgdl, positions=remap(o.positions or {}),
    )


def rows_match(got: list, want: list) -> bool:
    """Rank-identical doc_ids and urls, scores within rel 1e-6."""
    return len(got) == len(want) and all(
        g[0] == w[0] and g[1] == w[1] and math.isclose(g[2], w[2], rel_tol=1e-6)
        for g, w in zip(got, want)
    )


def index_matches(index_dir: str, oracle) -> bool:
    """The built index's docs table and dictionary agree with the oracle:
    every (url, doc_id, doclen), and every term's df and cf."""
    import pyarrow.parquet as pq

    o = oracle.base
    docs = pq.read_table(os.path.join(index_dir, "docs"), columns=["url", "doc_id", "doclen"])
    got_docs = sorted(zip(*(docs.column(c).to_pylist() for c in ("doc_id", "url", "doclen"))))
    want_docs = [(i, u, o.doclen[i]) for i, u in enumerate(o.url_by_doc)]
    if got_docs != want_docs:
        return False
    d = pq.read_table(os.path.join(index_dir, "dictionary"), columns=["term", "df", "cf"])
    got: dict = {}
    for t, df, cf in zip(*(d.column(c).to_pylist() for c in ("term", "df", "cf"))):
        a, b = got.get(t, (0, 0))
        got[t] = (a + df, b + cf)
    want = {t: (len(p), sum(p.values())) for t, p in o.postings.items()}
    return got == want


def check_prepared(prepared: str, inputs: dict) -> list:
    """What the prepare run got wrong: its index against the oracle over
    its corpus, and the queries after its update cycle and ``optimize``
    against the oracle over the live corpus.  Empty if nothing."""
    oracle = Oracle(inputs)
    wrong = []
    if not index_matches(os.path.join(prepared, "idx"), oracle):
        wrong.append({"kind": "index", "index": "idx"})
    checks = 0
    for o in _read_jsonl(os.path.join(prepared, "ops.jsonl")):
        if o.get("failed"):
            wrong.append({"kind": o["kind"], "error": o.get("error")})
        elif o["kind"] == "check":
            checks += 1
            if not rows_match(o["rows"], oracle.expected("live", o["query"], o["k"])):
                wrong.append({"kind": "check", "qid": o["qid"], "query": o["query"]})
    if not checks:
        wrong.append({"kind": "check", "error": "no checked query after optimize"})
    return wrong


# ----------------------------------------------------------- index files ---


def _bytes(index_dir: str, parts) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under the given stage dirs.
    Manifests, stats.json, _SUCCESS and .crc files are not counted: two
    identical builds differ in them (``wall_sec``)."""
    n = size = 0
    for p in parts:
        for f in glob.glob(os.path.join(index_dir, p, "**", "*.parquet"), recursive=True):
            n += 1
            size += os.path.getsize(f)
    return size, n


def stage_walls(index_dir: str) -> dict:
    out = {}
    for st in STAGES:
        try:
            with open(os.path.join(index_dir, st, "_MANIFEST.json")) as f:
                out[st] = float(json.load(f)["wall_sec"])
        except (OSError, ValueError, KeyError):
            pass
    return out


# -------------------------------------------------------------- event log ---


def event_log_groups(work: str) -> dict:
    """Per job group: jobs, stages and tasks run, executor CPU and GC
    seconds, executor run seconds, shuffle bytes written and bytes spilled,
    from Spark's JSON event log."""
    # Spark 4 writes a directory of rolled files, events_<n>_<app id>
    files = sorted(
        (f for f in glob.glob(os.path.join(work, "eventlog", "**"), recursive=True)
         if os.path.isfile(f)),
        key=lambda f: (os.path.dirname(f), int(os.path.basename(f).split("_")[1])
                       if os.path.basename(f).startswith("events_") else 0),
    )
    groups: dict = {}
    stage_group: dict = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    agg = groups.setdefault(g, _empty_group())
                    agg["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    agg = groups[g]
                    agg["tasks"] += 1
                    agg["stages"].add(ev["Stage ID"])
                    agg["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    agg["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    agg["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    agg["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    for agg in groups.values():
        agg["stages"] = len(agg["stages"])
    return groups


def _empty_group() -> dict:
    return {
        "jobs": 0, "stages": set(), "tasks": 0, "cpu_s": 0.0, "run_s": 0.0,
        "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0,
    }


# ----------------------------------------------------------------- build ---


def build(a, work: str, inputs: dict, code, peak_rss_mb: float, elapsed: float) -> dict:
    summary = {}
    if os.path.exists(os.path.join(work, "summary.json")):
        with open(os.path.join(work, "summary.json")) as f:
            summary = json.load(f)
    ops = _read_jsonl(os.path.join(work, "ops.jsonl"))
    samples = summary.get("samples", {})
    died = code != 0 or "error" in summary or not summary.get("timed_done")

    oracle = Oracle(inputs)
    attempted = failed = 0
    mismatches = []
    for o in ops:
        attempted += 1
        if o.get("failed"):
            failed += 1
            continue
        if "rows" in o:
            ok = rows_match(o["rows"], oracle.expected("base", o["query"], o["k"]))
        elif o["kind"] == "build":
            ok = index_matches(o["index"], oracle)
        else:
            ok = True
        if not ok:
            failed += 1
            mismatches.append({k: o.get(k) for k in ("kind", "n", "i", "qid", "query", "index")})
    if a.workload == "query_ref":
        attempted += 1
        if not index_matches(inputs["index"], oracle):
            failed += 1
            mismatches.append({"kind": "index", "index": inputs["index"]})
    if died:
        # the operation in flight when the program failed or was killed
        attempted += 1
        failed += 1

    if a.workload == "build_zipf":
        walls = [o["wall_s"] for o in ops if o["kind"] == "build" and not o.get("failed")]
        built = [o["index"] for o in ops if o["kind"] == "build" and not o.get("failed")]
    else:
        # one sample per timed round: the mean wall of its queries, so that
        # every sample weighs the round's query shapes alike
        rounds: dict = {}
        for o in ops:
            if o["kind"] == "query" and not o.get("failed"):
                rounds.setdefault(o["round"], []).append(o["wall_s"])
        walls = [statistics.mean(r) for r in rounds.values()]
        built = [inputs["index"]]
    index_dir = built[-1] if built else None
    serving = _bytes(index_dir, SERVING)[0] if index_dir else 0

    e2e = {
        "setup_s": (summary.get("setup_s") or elapsed, "s"),
        "op_p50_s": (_median(walls) or elapsed, "s"),
        "index_bytes_per_doc": (serving / inputs["n_docs"], "B/doc"),
    }
    record = {
        "exit_code": code,
        "error": summary.get("error"),
        "mismatches": mismatches,
        "samples": {**samples, "op_s": walls},
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
        "peak_rss_mb": peak_rss_mb,
    }
    if a.trace:
        layer = per_layer(a, work, ops, samples, built, e2e, inputs)
        layer["memory.peak_rss_mb"] = (peak_rss_mb, "MB")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        record["per_layer"] = {k: v for k, (v, _u) in layer.items()}
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            with open(spans) as f:
                record["spans"] = json.load(f)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    return {
        "summary": summary,
        "record": record,
        "correct": failed == 0 and not died,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def per_layer(a, work, ops, samples, built, e2e, inputs) -> dict:
    n_docs = inputs["n_docs"]
    # the update layer's figures, from the update cycle of the prepare run
    with open(os.path.join(inputs["prepared"], "summary.json")) as f:
        prepared = json.load(f)["samples"]
    groups = event_log_groups(work)
    # the builds whose figures stand for the index layer: the timed builds
    # of build_zipf; on query_ref, the cold build of its index, made before
    # the measured process by the prepare run, which kept its event log
    if a.workload == "build_zipf":
        build_groups = [g for g in groups if g.startswith("build.") and g != "build.cold"]
        build_walls = [o["wall_s"] for o in ops if o["kind"] == "build" and not o.get("failed")]
    else:
        groups.update(event_log_groups(inputs["prepared"]))
        build_groups = ["build.cold"]
        build_walls = [prepared["cold_build_s"]]
    bg = [groups[g] for g in build_groups if g in groups] or [_empty_group() | {"stages": 0}]

    def per_build(key):
        return statistics.mean(g[key] for g in bg)

    cores = len(os.sched_getaffinity(0))
    cpu_share = (
        statistics.mean(g["cpu_s"] for g in bg) / (statistics.mean(build_walls) * cores)
        if build_walls
        else 0.0
    )
    walls = [stage_walls(d) for d in built]
    index_dir = built[-1] if built else None
    post_b, post_files = _bytes(index_dir, ("postings",)) if index_dir else (0, 0)
    docs_b, _ = _bytes(index_dir, ("docs",)) if index_dir else (0, 0)
    dict_b, _ = _bytes(index_dir, ("dictionary",)) if index_dir else (0, 0)
    ckpt_b, _ = _bytes(index_dir, CHECKPOINTS) if index_dir else (0, 0)

    qs = [o for o in ops if o["kind"] == "query" and not o.get("failed")]
    nps = [o for o in ops if o["kind"] == "noprune" and not o.get("failed")]

    search_g = [groups.get(o["groups"][0], _empty_group()) for o in qs if "groups" in o]
    collect_g = [groups.get(o["groups"][1], _empty_group()) for o in qs if "groups" in o]
    tasks = [s["tasks"] + c["tasks"] for s, c in zip(search_g, collect_g)]
    out = {
        "session.start_s": (samples.get("session_start_s", 0.0), "s"),
        "analysis.chain_docs_per_s": (
            samples["analysis_docs"] / samples["analysis_chain_s"]
            if samples.get("analysis_chain_s") else 0.0,
            "docs/s",
        ),
    }
    for st in STAGES:
        out[f"index.stage.{st}_s"] = (_median([w[st] for w in walls if st in w]) or 0.0, "s")
    out.update(
        {
            "index.build_s": (_median(build_walls) or 0.0, "s"),
            "index.build_jobs": (per_build("jobs"), "count"),
            "index.build_stages": (per_build("stages"), "count"),
            "index.build_tasks": (per_build("tasks"), "count"),
            "index.build_cpu_s": (per_build("cpu_s"), "s"),
            "index.build_gc_s": (per_build("gc_s"), "s"),
            "index.build_shuffle_write_bytes": (per_build("shuffle_write_bytes"), "bytes"),
            "index.build_spill_bytes": (per_build("spill_bytes"), "bytes"),
            "index.build_cpu_share": (cpu_share, "fraction"),
            "index.postings_bytes_per_doc": (post_b / n_docs, "B/doc"),
            "index.docs_bytes_per_doc": (docs_b / n_docs, "B/doc"),
            "index.dictionary_bytes": (dict_b, "bytes"),
            "index.postings_files": (post_files, "count"),
            "index.checkpoint_bytes_per_doc": (ckpt_b / n_docs, "B/doc"),
            "updates.add_docs_s": (prepared["add_docs_s"], "s"),
            "updates.delete_docs_s": (prepared["delete_docs_s"], "s"),
            "updates.optimize_s": (prepared["optimize_s"], "s"),
            "updates.refresh_s": (prepared["refresh_s"], "s"),
            "updates.dictionary_rows_per_term": (
                prepared["dictionary_rows"] / prepared["dictionary_terms"],
                "ratio",
            ),
            "query.open_s": (samples.get("open_s", 0.0), "s"),
            "query.parse_s": (_median([o["parse_s"] for o in qs if "parse_s" in o]) or 0.0, "s"),
            "query.search_s": (_median([o["search_s"] for o in qs]) or 0.0, "s"),
            "query.collect_s": (_median([o["collect_s"] for o in qs]) or 0.0, "s"),
            "query.p50_s": (_median([o["wall_s"] for o in qs]) or 0.0, "s"),
            "query.search_jobs": (_mean([g["jobs"] for g in search_g]), "count"),
            "query.collect_jobs": (_mean([g["jobs"] for g in collect_g]), "count"),
            "query.tasks_per_query": (_mean(tasks), "count"),
            "query.cpu_s_per_query": (_mean([o["cpu_s"] for o in qs if "cpu_s" in o]), "s"),
            "query.noprune_p50_s": (_median([o["wall_s"] for o in nps]) or 0.0, "s"),
            "query.first_after_open_s": (prepared["first_after_open_s"], "s"),
            "trace.setup_s": (e2e["setup_s"][0], "s"),
            "trace.op_p50_s": (e2e["op_p50_s"][0], "s"),
        }
    )
    return out


def _mean(xs):
    return statistics.mean(xs) if xs else 0.0
