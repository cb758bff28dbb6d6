"""End-to-end: distributed index + BM25 query engine vs the pure-Python
oracle (Solr control-vs-distributed equivalence pattern,
BaseDistributedSearchTestCase.java:98)."""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from apache___solr_spark.config import IndexConfig
from apache___solr_spark.corpus import generate_pages, generate_queries
from apache___solr_spark.index.builder import build_index
from apache___solr_spark.oracle import build_oracle_index, oracle_search
from apache___solr_spark.query.engine import SearchEngine

N_DOCS = 400
CFG = IndexConfig(salt_range=128, n_buckets=8)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    path = str(d / "pages.parquet")
    table = generate_pages(N_DOCS, seed=42)
    pq.write_table(table, path)
    return path, table


@pytest.fixture(scope="module")
def oracle_idx(corpus):
    _, table = corpus
    rows = table.to_pylist()
    return build_oracle_index(rows)


@pytest.fixture(scope="module")
def built(spark, corpus, tmp_path_factory):
    path, _ = corpus
    out = str(tmp_path_factory.mktemp("index") / "idx")
    build_index(spark, path, out, cfg=CFG)
    return out


PLACEMENTS = ("driver", "spark")


def _place_build(monkeypatch, placement):
    """Force the build placement through its budget (a test seam, not an
    option): every input fits the driver's, or none does."""
    from apache___solr_spark.index import builder

    budget = 1 << 62 if placement == "driver" else 0
    monkeypatch.setattr(builder, "_build_budget", lambda: budget)


@pytest.fixture(scope="module")
def spark_built(spark, corpus, tmp_path_factory):
    """The ``built`` corpus built in the Spark placement."""
    path, _ = corpus
    out = str(tmp_path_factory.mktemp("index_spark") / "idx")
    with pytest.MonkeyPatch.context() as m:
        _place_build(m, "spark")
        build_index(spark, path, out, cfg=CFG)
    return out


def test_corpus_deterministic(corpus):
    _, table = corpus
    again = generate_pages(N_DOCS, seed=42)
    assert table.equals(again)
    assert not table.equals(generate_pages(N_DOCS, seed=7))


def test_extracted_text_byte_identical(spark, corpus, oracle_idx, built):
    # engine docs table must agree with oracle on every doclen + norm byte
    # (doclen is a pure function of the extracted text, so byte-identical
    # analysis is a precondition of this passing for all 400 docs)
    docs = spark.read.parquet(os.path.join(built, "docs")).orderBy("doc_id")
    rows = docs.collect()
    assert len(rows) == oracle_idx.n_docs
    for r in rows:
        assert r["url"] == oracle_idx.url_by_doc[r["doc_id"]]
        assert r["doclen"] == oracle_idx.doclen[r["doc_id"]]
        assert r["norm_byte"] == oracle_idx.norm_byte[r["doc_id"]]


def test_stats_exact(built, oracle_idx):
    with open(os.path.join(built, "stats.json")) as f:
        stats = json.load(f)
    assert stats["N"] == oracle_idx.n_docs
    assert math.isclose(stats["avgdl"], oracle_idx.avgdl, rel_tol=1e-12)


def test_dictionary_matches_oracle(spark, built, oracle_idx):
    d = spark.read.parquet(os.path.join(built, "dictionary")).collect()
    got = {r["term"]: (r["df"], r["cf"]) for r in d}
    want = {
        t: (len(pl), sum(pl.values())) for t, pl in oracle_idx.postings.items()
    }
    assert got == want


def test_postings_rows_decode_to_oracle(spark, built, oracle_idx):
    from apache___solr_spark.index.codec import decode_vbyte, delta_decode

    rows = spark.read.parquet(os.path.join(built, "postings")).collect()
    per_term: dict[str, dict[int, int]] = {}
    for b in rows:
        ids = delta_decode(
            decode_vbyte(bytes(b["doc_gaps"]), b["n_docs"]).astype(np.int64),
            b["salt"] * CFG.salt_range,
        )
        tfs = decode_vbyte(bytes(b["tfs"]), b["n_docs"])
        assert b["first_doc"] == ids[0]
        assert (ids // CFG.salt_range == b["salt"]).all()
        assert (np.diff(ids) > 0).all()  # strictly increasing within a row
        assert b["sum_tf"] == tfs.sum()
        for i, t in zip(ids, tfs):
            assert per_term.setdefault(b["term"], {}).setdefault(int(i), int(t)) == int(t)
    assert per_term == oracle_idx.postings


def _run_query_pair(spark, built, oracle_idx, q, k, prune):
    eng = SearchEngine(spark, built, cfg=CFG)
    got = [r.asDict() for r in eng.search(q, k=k, prune=prune).collect()]
    want = oracle_search(oracle_idx, q, k=k)
    assert [g["doc_id"] for g in got] == [w["doc_id"] for w in want], q
    assert [g["url"] for g in got] == [w["url"] for w in want], q
    for g, w in zip(got, want):
        assert math.isclose(g["score"], w["score"], rel_tol=1e-6), (q, g, w)
    return got


@pytest.mark.parametrize("prune", [False, True])
def test_reference_queries_rank_identical(spark, built, oracle_idx, prune):
    for spec in generate_queries():
        _run_query_pair(
            spark, built, oracle_idx, spec["query"], spec["k"], prune
        )


def test_prune_equals_noprune(spark, built):
    eng = SearchEngine(spark, built, cfg=CFG)
    for spec in generate_queries():
        a = [tuple(r) for r in eng.search(spec["query"], k=spec["k"], prune=True).collect()]
        b = [tuple(r) for r in eng.search(spec["query"], k=spec["k"], prune=False).collect()]
        assert a == b, spec


def test_partitioning_invariance(
    spark, corpus, built, spark_built, tmp_path_factory, monkeypatch
):
    """1-partition build == many-partition build (control vs distributed),
    in each placement against the default build of that placement."""
    path, _ = corpus
    for placement, default in zip(PLACEMENTS, (built, spark_built)):
        _place_build(monkeypatch, placement)
        out2 = str(tmp_path_factory.mktemp(f"index1p_{placement}") / "idx")
        pages1 = spark.read.parquet(path).repartition(1)
        build_index(spark, pages1, out2, cfg=CFG, n_parts=1)
        a = (
            spark.read.parquet(os.path.join(default, "docs"))
            .orderBy("doc_id")
            .collect()
        )
        b = (
            spark.read.parquet(os.path.join(out2, "docs"))
            .orderBy("doc_id")
            .collect()
        )
        assert a == b, placement
        da = spark.read.parquet(os.path.join(default, "dictionary")).orderBy("term").collect()
        db = spark.read.parquet(os.path.join(out2, "dictionary")).orderBy("term").collect()
        assert [(r["term"], r["df"], r["cf"]) for r in da] == [
            (r["term"], r["df"], r["cf"]) for r in db
        ], placement
        # postings rows, every column: the 1-partition build encodes each
        # (term, salt) group whole, the default build merges fragments
        pa_ = spark.read.parquet(os.path.join(default, "postings")).collect()
        pb_ = spark.read.parquet(os.path.join(out2, "postings")).collect()
        rows_a = {(r["term"], r["salt"]): r.asDict() for r in pa_}
        rows_b = {(r["term"], r["salt"]): r.asDict() for r in pb_}
        assert len(rows_a) == len(pa_) and len(rows_b) == len(pb_)
        assert rows_a == rows_b, placement


def test_optimize_drops_fully_deleted_term(spark, built, oracle_idx, tmp_path):
    """Deleting every doc of a rare term and optimizing leaves no postings
    row and no dictionary row for it; every other term keeps exactly its
    live df/cf."""
    import shutil

    from apache___solr_spark.index.updates import delete_docs, optimize

    out = str(tmp_path / "idx")
    shutil.copytree(built, out)
    rare = min(
        (t for t, pl in oracle_idx.postings.items() if len(pl) >= 2),
        key=lambda t: (len(oracle_idx.postings[t]), t),
    )
    victims = set(oracle_idx.postings[rare])
    delete_docs(spark, out, doc_ids=sorted(victims))
    optimize(spark, out, cfg=CFG)

    postings = spark.read.parquet(os.path.join(out, "postings"))
    assert postings.filter(F.col("term") == rare).count() == 0
    got = {
        r["term"]: (r["df"], r["cf"])
        for r in spark.read.parquet(os.path.join(out, "dictionary")).collect()
    }
    want = {}
    for t, pl in oracle_idx.postings.items():
        live = {d: tf for d, tf in pl.items() if d not in victims}
        if live:
            want[t] = (len(live), sum(live.values()))
    assert rare not in got
    assert got == want


def test_resume_skips_completed_stages(spark, corpus, built):
    """Re-running build on a finished index is a no-op (manifests match)."""
    path, _ = corpus
    import time

    t0 = time.time()
    build_index(spark, path, built, cfg=CFG)
    assert time.time() - t0 < 5.0  # no stage re-ran (full build takes longer)


def test_resume_after_partial_failure(spark, corpus, tmp_path_factory):
    """Deleting a later stage's manifest re-runs only that stage and yields
    identical output (north_rule: resumable from per-partition checkpoints)."""
    path, _ = corpus
    out = str(tmp_path_factory.mktemp("resume") / "idx")
    build_index(spark, path, out, cfg=CFG)
    before = (
        spark.read.parquet(os.path.join(out, "dictionary")).orderBy("term").collect()
    )
    os.remove(os.path.join(out, "dictionary", "_MANIFEST.json"))
    build_index(spark, path, out, cfg=CFG)
    after = (
        spark.read.parquet(os.path.join(out, "dictionary")).orderBy("term").collect()
    )
    assert before == after


class _Crash(RuntimeError):
    pass


def _persistent_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.mark.parametrize(
    "stage, placement",
    [
        pytest.param(s, p, id=s if p == "driver" else f"{s}-{p}")
        for p in PLACEMENTS
        for s in ("analyzed_raw", "numbering", "docs", "postings", "dictionary")
    ],
)
def test_crash_in_stage_resumes_identical(
    spark, corpus, built, tmp_path_factory, monkeypatch, stage, placement
):
    """A build that dies inside a stage (its data written, its manifest
    not yet published) leaks no cached frame, and a resume finishes to an
    index row-identical to an uninterrupted build: docs, dictionary and
    postings in every column, and the same N/avgdl.  Crash and resume run
    in the placement under test; the uninterrupted build is ``built``."""
    from apache___solr_spark.index import checkpoint as ckpt

    path, _ = corpus
    out = str(tmp_path_factory.mktemp(f"crash_{stage}_{placement}") / "idx")
    publish = ckpt.publish_manifest
    _place_build(monkeypatch, placement)

    def crash_at_stage(stage_dir, **kw):
        if kw["stage"] == stage:
            raise _Crash(stage)
        return publish(stage_dir, **kw)

    monkeypatch.setattr(ckpt, "publish_manifest", crash_at_stage)
    cached = _persistent_rdd_ids(spark)
    with pytest.raises(_Crash):
        build_index(spark, path, out, cfg=CFG)
    assert _persistent_rdd_ids(spark) == cached
    assert not os.path.exists(os.path.join(out, stage, "_MANIFEST.json"))
    monkeypatch.undo()

    _place_build(monkeypatch, placement)
    build_index(spark, path, out, cfg=CFG, resume=True)
    for table, keys in (
        ("docs", ["doc_id"]),
        ("dictionary", ["term"]),
        ("postings", ["term", "salt"]),
    ):
        want = spark.read.parquet(os.path.join(built, table)).orderBy(*keys)
        got = spark.read.parquet(os.path.join(out, table)).orderBy(*keys)
        assert got.columns == want.columns, table
        assert got.collect() == want.collect(), table
    stats = []
    for root in (built, out):
        with open(os.path.join(root, "stats.json")) as f:
            stats.append(json.load(f))
    assert stats[1]["N"] == stats[0]["N"]
    assert stats[1]["avgdl"] == stats[0]["avgdl"]


@pytest.mark.parametrize("placement", PLACEMENTS)
def test_written_column_sets(spark, request, placement):
    """Each placement writes the postings columns of SEGMENT_SCHEMA (plus
    the bucket partition) and the dictionary's (term, df, cf, bucket):
    no impact or skip-block column that no reader uses."""
    from apache___solr_spark.index.builder import DICTIONARY_COLUMNS, _SEGMENT_COLUMNS

    root = request.getfixturevalue("built" if placement == "driver" else "spark_built")
    postings = [
        "term", "salt", "n_docs", "first_doc", "doc_gaps", "tfs", "norms",
        "positions", "sum_tf", "bucket",
    ]
    assert _SEGMENT_COLUMNS + ["bucket"] == postings
    assert spark.read.parquet(os.path.join(root, "postings")).columns == postings
    assert DICTIONARY_COLUMNS == ["term", "df", "cf", "bucket"]
    assert (
        spark.read.parquet(os.path.join(root, "dictionary")).columns
        == DICTIONARY_COLUMNS
    )


def test_retired_config_key_keeps_digest(spark, built, tmp_path):
    """A stats file written while IndexConfig still had the (never
    digested) checkpoint_numbered field, or carrying the retired
    block_range, keeps its digest and still opens: from_dict ignores the
    retired keys.  The digest is format_version 5's: the postings and
    dictionary layout changed with it."""
    import shutil

    from apache___solr_spark.config import DEFAULT_CONFIG

    old = {**DEFAULT_CONFIG.to_dict(), "checkpoint_numbered": True, "block_range": 128}
    assert IndexConfig.from_dict(old).digest() == "e21103c2dbdd42b0"
    assert DEFAULT_CONFIG.digest() == "e21103c2dbdd42b0"

    copy = str(tmp_path / "idx")
    shutil.copytree(built, copy)
    stats_path = os.path.join(copy, "stats.json")
    with open(stats_path) as f:
        stats = json.load(f)
    stats["config"]["checkpoint_numbered"] = False
    stats["config"]["block_range"] = 32
    with open(stats_path, "w") as f:
        json.dump(stats, f)
    eng = SearchEngine(spark, copy)
    assert eng.cfg == CFG
    want = SearchEngine(spark, built).search("web data", k=10).collect()
    assert want
    assert eng.search("web data", k=10).collect() == want


def _v4_digest(config: dict) -> str:
    """IndexConfig.digest() as format_version 4 computed it."""
    import hashlib

    return hashlib.sha256(json.dumps(config, sort_keys=True).encode()).hexdigest()[:16]


def _tree_bytes(root: str) -> dict:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            with open(os.path.join(d, n), "rb") as f:
                out[os.path.relpath(os.path.join(d, n), root)] = f.read()
    return out


def test_v4_index_opens_and_refuses_updates(spark, built, tmp_path):
    """An index written at format_version 4 (its postings carry the impact
    and skip-block columns, its dictionary max_impact, its stats the v4
    config and digest) still opens and answers search() in both query
    placements.  add_docs and optimize refuse it with the config-digest
    ValueError before they write, so no v5 row lands in its postings."""
    import shutil

    import pyarrow as pa

    from apache___solr_spark.config import DEFAULT_CONFIG
    from apache___solr_spark.index.updates import add_docs, optimize

    v4_default = {**DEFAULT_CONFIG.to_dict(), "format_version": 4, "block_range": 128}
    assert _v4_digest(v4_default) == "ae9ba006269b46a5"  # v4's pinned digest

    copy = str(tmp_path / "idx")
    shutil.copytree(built, copy)
    for d, _, names in os.walk(copy):
        for n in names:
            f = os.path.join(d, n)
            if not n.endswith(".parquet"):
                continue
            t = pq.ParquetFile(f).read()
            rel = os.path.relpath(f, copy).split(os.sep)[0]
            if rel == "postings":
                first = t.column("first_doc").to_pylist()
                n_docs = t.column("n_docs").to_pylist()
                t = (
                    t.append_column("last_doc", pa.array(first, pa.int64()))
                    .append_column("max_tf", pa.array([1] * len(t), pa.int32()))
                    .append_column("max_impact", pa.array([0.5] * len(t), pa.float32()))
                    .append_column(
                        "block_first_docs",
                        pa.array([[x] for x in first], pa.list_(pa.int64())),
                    )
                    .append_column(
                        "block_n", pa.array([[x] for x in n_docs], pa.list_(pa.int32()))
                    )
                    .append_column(
                        "block_max_impacts",
                        pa.array([[0.5]] * len(t), pa.list_(pa.float32())),
                    )
                )
            elif rel == "dictionary":
                t = t.append_column(
                    "max_impact", pa.array([0.5] * len(t), pa.float32())
                )
            else:
                continue
            pq.write_table(t, f)
    stats_path = os.path.join(copy, "stats.json")
    with open(stats_path) as f:
        stats = json.load(f)
    stats["config"] = {**CFG.to_dict(), "format_version": 4, "block_range": 32}
    stats["config_digest"] = _v4_digest(stats["config"])
    with open(stats_path, "w") as f:
        json.dump(stats, f)

    want = SearchEngine(spark, built).search("web data", k=10).collect()
    assert want
    eng = SearchEngine(spark, copy)
    assert eng.cfg.format_version == 4
    assert eng.search("web data", k=10).collect() == want
    eng._driver_budget = 0
    assert eng.search("web data", k=10).collect() == want

    postings = _tree_bytes(os.path.join(copy, "postings"))
    pages = spark.createDataFrame(
        [("zz-v4-added", None, None, "alpha web data", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    for cfg in (CFG, eng.cfg):
        with pytest.raises(ValueError, match="does not match"):
            add_docs(spark, copy, pages, cfg=cfg)
        with pytest.raises(ValueError, match="does not match"):
            optimize(spark, copy, cfg=cfg)
    assert _tree_bytes(os.path.join(copy, "postings")) == postings


def test_fused_resume_recomputes_numbering(spark, corpus, tmp_path_factory):
    """Fused build resume: with docs complete but postings invalidated, the
    numbering pass is recomputed from the analyzed_raw checkpoint (rank-of-
    url is partition-invariant, so the recompute yields the SAME doc_ids)
    and the rebuilt postings are identical."""
    path, _ = corpus
    out = str(tmp_path_factory.mktemp("fresume") / "idx")
    build_index(spark, path, out, cfg=CFG)
    before = (
        spark.read.parquet(os.path.join(out, "postings"))
        .orderBy("term", "salt")
        .collect()
    )
    os.remove(os.path.join(out, "postings", "_MANIFEST.json"))
    build_index(spark, path, out, cfg=CFG)
    after = (
        spark.read.parquet(os.path.join(out, "postings"))
        .orderBy("term", "salt")
        .collect()
    )
    assert before == after


def test_manifests_carry_lineage(built):
    # "numbering" is the fused stage's metrics-only manifest (no data dir);
    # its lineage rows are the per-range-partition counts from the offsets
    # pass.  The numbered rows themselves are never written: the build has
    # no "analyzed" dir, only the analyzed_raw checkpoint.
    assert not os.path.exists(os.path.join(built, "analyzed"))
    for stage in ("numbering", "docs", "postings", "dictionary"):
        with open(os.path.join(built, stage, "_MANIFEST.json")) as f:
            m = json.load(f)
        assert m["rows"] > 0
        assert m["rows"] == sum(p["rows"] for p in m["partitions"])
        assert m["wall_sec"] >= 0


def _adversarial_pages(spark):
    """Theta-decoy corpus (VERDICT.md round-1 wrong #1): the rarest MUST term
    ('beta') has its highest partial scores in docs that do NOT contain the
    other MUST term, and the 3 truly qualifying docs live in a different salt
    range with low per-term scores.  An unsound theta derived from partial
    scores prunes the qualifying salt range entirely."""
    rows = []
    # 5 beta-only decoys, urls sorting first -> doc_ids 0..4 (salt 0)
    for i in range(5):
        rows.append((f"a{i:03d}", " ".join(["beta"] * 50)))
    # 195 alpha-only fillers -> doc_ids 5..199 (salts 0..1)
    for i in range(195):
        rows.append((f"m{i:03d}", f"alpha filler{i} text"))
    # 3 qualifying alpha+beta docs, urls sorting last -> doc_ids 200..202
    for i in range(3):
        rows.append((f"z{i:03d}", "alpha beta common words here"))
    return spark.createDataFrame(
        [(u, None, None, t, "en") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def test_must_not_expansion_uncapped(spark, tmp_path_factory):
    """Prohibited multi-term clauses expand with NO term cap (Lucene's
    constant-score rewrite has none): docs matching only a rare term beyond
    the df-ordered 128-term cap must still be excluded — in the flat path
    (``-pre*``) AND when the clause sits inside a negated GROUP handled by
    the tree evaluator (``-(pre* OR ...)``), where the negated scope must
    propagate to descendants (ADVICE round-3 medium)."""
    rows = []
    # two docs holding 128 head pre-terms each -> df=2 per head term, so a
    # df-desc cap of 128 keeps exactly these and drops every rare term
    head = " ".join(f"prehead{i:03d}" for i in range(128))
    rows.append(("h000", f"alpha {head}"))
    rows.append(("h001", f"alpha {head}"))
    # 12 docs each with a UNIQUE rare pre-term (df=1, beyond the cap)
    for i in range(12):
        rows.append((f"r{i:03d}", f"alpha prerare{i:03d}"))
    # 20 clean docs that must be the entire result set
    for i in range(20):
        rows.append((f"z{i:03d}", f"alpha clean{i:03d}"))
    pages = spark.createDataFrame(
        [(u, None, None, t, "en") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = str(tmp_path_factory.mktemp("mncap") / "idx")
    build_index(spark, pages, out, cfg=CFG)
    eng = SearchEngine(spark, out, cfg=CFG)
    clean = {u for u, _ in rows if u.startswith("z")}
    flat = {r["url"] for r in eng.search("alpha -pre*", k=50).collect()}
    assert flat == clean
    tree = {
        r["url"]
        for r in eng.search("alpha -(pre* OR zzzunseen)", k=50).collect()
    }
    assert tree == clean


def test_must_not_overflow_uses_distributed_exclusion(
    spark, tmp_path_factory, monkeypatch
):
    """When a prohibited clause matches more dictionary terms than
    ``_EXCLUDE_LITERAL_CAP``, the engine must switch to the distributed
    postings⋈dictionary exclusion (no driver term list) and return the
    SAME results as the literal path — flat and tree evaluators both."""
    import apache___solr_spark.query.engine as eng_mod

    rows = [("h000", "alpha prehead000 prehead001 prehead002")]
    for i in range(12):
        rows.append((f"r{i:03d}", f"alpha prerare{i:03d}"))
    for i in range(20):
        rows.append((f"z{i:03d}", f"alpha clean{i:03d}"))
    pages = spark.createDataFrame(
        [(u, None, None, t, "en") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = str(tmp_path_factory.mktemp("mnov") / "idx")
    build_index(spark, pages, out, cfg=CFG)
    eng = SearchEngine(spark, out, cfg=CFG)
    clean = {u for u, _ in rows if u.startswith("z")}
    queries = ["alpha -pre*", "alpha -(pre* OR zzzunseen)"]
    literal = [
        {r["url"] for r in eng.search(q, k=50).collect()} for q in queries
    ]
    # 15 pre* dictionary terms > cap of 4 -> every prohibited expansion
    # overflows and must take the distributed path
    monkeypatch.setattr(eng_mod, "_EXCLUDE_LITERAL_CAP", 4)
    distributed = [
        {r["url"] for r in eng.search(q, k=50).collect()} for q in queries
    ]
    assert literal == distributed == [clean, clean]
    # explain of the negated-group form still gates correctly
    exp = eng.explain_scores_tree("alpha -(pre* OR zzzunseen)", k=5)
    assert {r["doc_id"] for r in exp.collect() if r["path"] == ""} <= {
        r["doc_id"]
        for r in eng.search(queries[1], k=5, with_url=False).collect()
    }


def test_negated_and_counts_each_expansion_doc_once(
    spark, tmp_path_factory, monkeypatch
):
    """A prohibited AND over an uncapped expansion: a doc holding two
    expansion terms but not the other required term is not excluded, on
    the literal and the semi-join scan alike."""
    import apache___solr_spark.query.engine as eng_mod

    rows = [
        ("d0", "alpha prea preb"),
        ("d1", "alpha beta prea"),
        ("d2", "alpha beta"),
    ]
    pages = spark.createDataFrame(
        [(u, None, None, t, "en") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = str(tmp_path_factory.mktemp("negand") / "idx")
    build_index(spark, pages, out, cfg=CFG)
    eng = SearchEngine(spark, out, cfg=CFG)
    for cap in (1024, 1):
        monkeypatch.setattr(eng_mod, "_EXCLUDE_LITERAL_CAP", cap)
        got = {
            r["url"]
            for r in eng.search("alpha -(beta AND pre*)", k=10).collect()
        }
        assert got == {"d0", "d2"}, cap


def test_must_prune_adversarial(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("adv") / "idx")
    build_index(spark, _adversarial_pages(spark), out, cfg=CFG)
    eng = SearchEngine(spark, out, cfg=CFG)
    pruned = [tuple(r) for r in eng.search("alpha AND beta", k=3, prune=True).collect()]
    full = [tuple(r) for r in eng.search("alpha AND beta", k=3, prune=False).collect()]
    assert pruned == full
    assert len(full) == 3  # exactly the three alpha+beta docs qualify
    assert {r[1] for r in full} == {200, 201, 202}


def test_doc_filter_restricts_and_matches(spark, built):
    """search(doc_filter=ids) == full search restricted to ids (the rerank
    second-pass path; ReRankQParserPlugin semantics)."""
    eng = SearchEngine(spark, built, cfg=CFG)
    full = eng.search("web page", k=N_DOCS, prune=False, with_url=False).collect()
    ids = [r["doc_id"] for r in full[:7]]
    sub = eng.search(
        "web page", k=len(ids), prune=False, with_url=False, doc_filter=ids
    ).collect()
    want = sorted(
        [(r["doc_id"], r["score"]) for r in full if r["doc_id"] in set(ids)],
        key=lambda x: (-x[1], x[0]),
    )
    got = [(r["doc_id"], r["score"]) for r in sub]
    assert got == want


def test_phrase_queries_match_oracle(spark, corpus, built, oracle_idx):
    """Exact-adjacency phrase scoring (PhraseQuery semantics: tf=phrase
    freq, idf=sum of constituent idfs) in SHOULD/MUST/MUST_NOT roles."""
    from apache___solr_spark.analysis.chain import analyze, extract_text

    _, table = corpus
    rows = table.to_pylist()
    toks0 = analyze(extract_text(rows[0].get("html"), rows[0].get("text")))
    ph = f'"{toks0[3]} {toks0[4]}"'
    queries = [
        ph,
        f"{ph} web",
        f"+{ph} data",
        f"web -{ph}",
        f'"{toks0[3]} {toks0[4]} {toks0[5]}"',
        '"zzz yyy"',
        f"{ph} AND web",
    ]
    for q in queries:
        _run_query_pair(spark, built, oracle_idx, q, 10, prune=True)


def test_and_binds_adjacent_clauses():
    """QueryParser.jj conjunction semantics: 'a AND b c' == '+a +b c'."""
    from apache___solr_spark.query.parser import parse_query

    pq = parse_query("alpha AND beta gamma")
    assert pq.must == ["alpha", "beta"]
    assert pq.should == ["gamma"]
    pq2 = parse_query('alpha AND "beta gamma" delta')
    assert pq2.must == ["alpha"]
    assert pq2.must_phrases == [["beta", "gamma"]]
    assert pq2.should == ["delta"]


def test_positions_roundtrip(spark, built, oracle_idx):
    """Decoded position streams equal the oracle's occurrence lists."""
    import numpy as np
    from apache___solr_spark.index.builder import _undelta_positions
    from apache___solr_spark.index.codec import decode_vbyte

    rows = (
        spark.read.parquet(os.path.join(built, "postings"))
        .orderBy("term", "salt")
        .collect()
    )
    checked = 0
    for b in rows[:200]:
        ids = np.cumsum(
            decode_vbyte(bytes(b["doc_gaps"]), b["n_docs"]).astype(np.int64)
        ) + b["salt"] * CFG.salt_range
        tfs = decode_vbyte(bytes(b["tfs"]), b["n_docs"]).astype(np.int64)
        gaps = decode_vbyte(bytes(b["positions"]), int(b["sum_tf"])).astype(
            np.int64
        )
        pos = _undelta_positions(gaps, tfs)
        splits = np.split(pos, np.cumsum(tfs)[:-1])
        for doc_id, plist in zip(ids, splits):
            assert list(plist) == oracle_idx.positions[b["term"]][int(doc_id)]
            checked += 1
    assert checked > 100


def test_expansion_and_boost_queries_match_oracle(spark, built, oracle_idx):
    """Dictionary-expanded clauses (prefix/wildcard/fuzzy/range) and boosts
    (SolrQueryParserBase getPrefixQuery/getFuzzyQuery/getRangeQuery +
    boost semantics) in every boolean role."""
    queries = [
        "web*",
        "w?b",
        "dat* page",
        "+dat* web",
        "web -dat*",
        "webb~1",
        "page~",
        "[data TO dog]",
        "{data TO dog}",
        "web^2 page",
        '"web page"^3 data',
        "text:web",
        "web AND dat*",
        "zzz*",
    ]
    for q in queries:
        _run_query_pair(spark, built, oracle_idx, q, 10, prune=True)


def test_query_time_synonyms(spark, built, oracle_idx):
    """SynonymGraphFilter-at-query-time capability: a term with synonyms
    becomes one disjunction clause; MUST_NOT excludes all synonyms."""
    syn = {"web": ["data"]}
    eng = SearchEngine(spark, built, cfg=CFG, synonyms=syn)
    plain_eng = SearchEngine(spark, built, cfg=CFG)
    got = [
        (r["doc_id"], r["score"]) for r in eng.search("web", k=10).collect()
    ]
    plain = {
        r["doc_id"]: r["score"]
        for r in plain_eng.search("web data", k=N_DOCS).collect()
    }
    assert len(got) == 10
    for doc_id, score in got:
        assert abs(plain[doc_id] - score) < 1e-5  # sum-disjunction == web+data
    # MUST_NOT side: -web also excludes docs containing data
    excl = eng.search("page -web", k=400).collect()
    from apache___solr_spark.oracle import oracle_search

    want = oracle_search(oracle_idx, "page -web -data", k=400)
    assert [r["doc_id"] for r in excl] == [w["doc_id"] for w in want]


def test_multiword_synonyms(spark, built):
    """SynonymGraphFilter multi-token mappings (managed-schema.xml:312):
    "usa" -> "united states"-style synonyms become PHRASE alternatives —
    a query term with a multi-word synonym scores like the manually
    written phrase disjunction, and MUST_NOT excludes the phrase too."""
    syn = {"web": ["page", "aaa bhhh"]}
    eng = SearchEngine(spark, built, cfg=CFG, synonyms=syn)
    plain = SearchEngine(spark, built, cfg=CFG)

    got = {
        r["doc_id"]: r["score"] for r in eng.search("web", k=N_DOCS).collect()
    }
    want = {
        r["doc_id"]: r["score"]
        for r in plain.search('web page "aaa bhhh"', k=N_DOCS).collect()
    }
    assert set(got) == set(want) and got
    for d, s in got.items():
        assert abs(s - want[d]) < 1e-5
    # the phrase alternative really matches: docs with the consecutive
    # pair but neither single word rank under the synonym query
    ph_only = {
        r["doc_id"] for r in plain.search('"aaa bhhh"', k=N_DOCS).collect()
    }
    assert ph_only & set(got)

    # MUST_NOT: -web excludes single-word synonyms AND the phrase docs
    excl = {r["doc_id"] for r in eng.search("table -web", k=N_DOCS).collect()}
    man = {
        r["doc_id"]
        for r in plain.search('table -web -page -"aaa bhhh"', k=N_DOCS).collect()
    }
    assert excl == man
    assert not (excl & ph_only)


def test_incremental_add_and_delete(spark, corpus, tmp_path_factory):
    """/update parity: deleteById tombstones filter every query path;
    add_docs appends a new immutable segment whose docs are searchable
    (DirectUpdateHandler2.java:407-513 semantics)."""
    from apache___solr_spark.index.updates import add_docs, delete_docs

    path, _ = corpus
    out = str(tmp_path_factory.mktemp("upd") / "idx")
    build_index(spark, path, out, cfg=CFG)
    eng = SearchEngine(spark, out, cfg=CFG)
    before = eng.search("web", k=5).collect()
    victim = before[0]["doc_id"]

    assert delete_docs(spark, out, doc_ids=[victim]) == 1
    eng2 = SearchEngine(spark, out, cfg=CFG)
    after = eng2.search("web", k=5).collect()
    assert victim not in {r["doc_id"] for r in after}
    # other results keep their scores (stats stay frozen until rebuild)
    kept = {r["doc_id"]: r["score"] for r in before if r["doc_id"] != victim}
    for r in after:
        if r["doc_id"] in kept:
            assert abs(kept[r["doc_id"]] - r["score"]) < 1e-6

    # append brand-new docs containing a unique term, then search it
    new_pages = spark.createDataFrame(
        [
            ("zzadd-doc-1", None, None, "qqzzuniq alpha beta web", "en"),
            ("zzadd-doc-2", None, None, "qqzzuniq gamma", "en"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    n = add_docs(spark, out, new_pages, cfg=CFG)
    assert n == 2
    eng3 = SearchEngine(spark, out, cfg=CFG)
    hits = eng3.search("qqzzuniq", k=10).collect()
    assert len(hits) == 2
    assert {r["url"] for r in hits} == {"zzadd-doc-1", "zzadd-doc-2"}
    assert all(r["doc_id"] >= N_DOCS for r in hits)
    # old corpus still searchable alongside the new segment
    assert eng3.search("web", k=5).count() == 5


def test_optimize_equals_fresh_build(spark, corpus, tmp_path_factory):
    """optimize() after delete+add must score identically (per url) to a
    fresh full build over the equivalent live corpus — exact stats,
    fresh impacts, no tombstones left (forceMerge/expungeDeletes parity)."""
    import pyarrow as pa
    import pyarrow.parquet as paq

    from apache___solr_spark.index.updates import add_docs, delete_docs, optimize

    path, table = corpus
    out = str(tmp_path_factory.mktemp("opt") / "idx")
    build_index(spark, path, out, cfg=CFG)
    eng0 = SearchEngine(spark, out, cfg=CFG)
    victims = [r["url"] for r in eng0.search("web", k=2).collect()]
    delete_docs(spark, out, urls=victims)
    new_pages = spark.createDataFrame(
        [
            ("zzopt-1", None, None, "web data qqoptuniq merge", "en"),
            ("zzopt-2", None, None, "qqoptuniq web", "en"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    add_docs(spark, out, new_pages, cfg=CFG)
    stats = optimize(spark, out, cfg=CFG)
    assert stats["N"] == N_DOCS - 2 + 2
    assert not os.path.exists(os.path.join(out, "deletes"))

    # equivalent corpus, fresh build
    rows = [r for r in table.to_pylist() if r["url"] not in victims]
    rows += [
        {"url": "zzopt-1", "warc_ts": None, "html": None,
         "text": "web data qqoptuniq merge", "lang": "en"},
        {"url": "zzopt-2", "warc_ts": None, "html": None,
         "text": "qqoptuniq web", "lang": "en"},
    ]
    fresh_dir = tmp_path_factory.mktemp("optfresh")
    fresh_pages = str(fresh_dir / "pages.parquet")
    paq.write_table(pa.Table.from_pylist(rows, schema=table.schema), fresh_pages)
    fresh_idx = str(fresh_dir / "idx")
    build_index(spark, fresh_pages, fresh_idx, cfg=CFG)

    opt_eng = SearchEngine(spark, out, cfg=CFG)
    fresh_eng = SearchEngine(spark, fresh_idx, cfg=CFG)
    for q in ("web", "web AND data", "qqoptuniq", '"web page"'):
        a = {
            (r["url"], round(r["score"], 5))
            for r in opt_eng.search(q, k=400, prune=False).collect()
        }
        b = {
            (r["url"], round(r["score"], 5))
            for r in fresh_eng.search(q, k=400, prune=False).collect()
        }
        assert a == b, q
    # dictionary folded to one row per term
    d = spark.read.parquet(os.path.join(out, "dictionary"))
    assert d.groupBy("term").count().filter(F.col("count") > 1).count() == 0


def test_paren_group_queries_match_oracle(spark, built, oracle_idx):
    """Flat OR groups in every role: (a b) AND c, +(...), -(...)."""
    queries = [
        "(web data) AND page",
        "+(web data) page",
        "page -(web data)",
        "(web OR data) site",
    ]
    for q in queries:
        _run_query_pair(spark, built, oracle_idx, q, 10, prune=True)

def _run_tree_query_pair(spark, built, oracle_idx, q, k):
    """Engine (tree or flat route — search() decides) vs the tree oracle."""
    from apache___solr_spark.oracle import oracle_search_tree

    eng = SearchEngine(spark, built, cfg=CFG)
    got = [r.asDict() for r in eng.search(q, k=k).collect()]
    want = oracle_search_tree(oracle_idx, q, k=k)
    assert [g["doc_id"] for g in got] == [w["doc_id"] for w in want], q
    for g, w in zip(got, want):
        assert math.isclose(g["score"], w["score"], rel_tol=1e-6), (q, g, w)


def test_nested_boolean_queries_match_oracle(spark, corpus, built, oracle_idx):
    """Arbitrary BooleanQuery nesting (QueryParser.jj:135-172 recursive
    Clause/Query productions): engine tree evaluator vs the tree oracle."""
    from apache___solr_spark.analysis.chain import analyze, extract_text

    _, table = corpus
    rows = table.to_pylist()
    toks0 = analyze(extract_text(rows[0].get("html"), rows[0].get("text")))
    ph = f'"{toks0[3]} {toks0[4]}"'
    queries = [
        "(web AND data) OR (page AND site)",
        "(web AND data) (page AND site)",          # same, implicit OR
        "+(web AND data) page",
        "page -(web AND data)",
        "(web OR (data AND page)) site",
        f"({ph} page) AND web",                     # phrase inside a group
        "(web^2 data) page",                        # boosted term in group
        "(web data)^2 AND page",                    # boosted group (ADVICE fix)
        "(dat* web) AND page",                      # expansion inside group
        "((web AND data) OR page) AND -site",
        "(web AND zzznotaterm) OR page",            # dead MUST branch
        "(-web -data) page",                        # pure-negative subgroup
    ]
    for q in queries:
        _run_tree_query_pair(spark, built, oracle_idx, q, 10)


def test_tree_oracle_agrees_with_flat_oracle_on_flat_queries(oracle_idx):
    """The two oracle evaluators must agree wherever both apply."""
    from apache___solr_spark.corpus import generate_queries
    from apache___solr_spark.oracle import oracle_search, oracle_search_tree

    for spec in generate_queries():
        a = oracle_search(oracle_idx, spec["query"], k=spec["k"])
        b = oracle_search_tree(oracle_idx, spec["query"], k=spec["k"])
        assert [(r["doc_id"]) for r in a] == [(r["doc_id"]) for r in b], spec
        for x, y in zip(a, b):
            assert math.isclose(x["score"], y["score"], rel_tol=1e-9), spec


def test_sloppy_phrase_queries_match_oracle(spark, corpus, built, oracle_idx):
    """Phrase slop (Lucene SloppyPhraseMatcher semantics: fractional tf =
    sum of 1/(1+matchLength) over minimized windows, out-of-order matches
    at transposition cost) — engine vs the independent oracle twin."""
    from apache___solr_spark.analysis.chain import analyze, extract_text

    _, table = corpus
    rows = table.to_pylist()
    toks0 = analyze(extract_text(rows[0].get("html"), rows[0].get("text")))
    # adjacent pair, gapped pair (distance 2), and a reversed pair
    a, b, c = toks0[3], toks0[4], toks0[5]
    queries = [
        f'"{a} {b}"~1',
        f'"{a} {c}"~1',      # needs slop >= 1 (one token between)
        f'"{a} {c}"~3',
        f'"{b} {a}"~2',      # reversed: matches at transposition cost 2
        f'"{a} {b}"~0',      # slop=0: exact adjacency (integer tf)
        f'+"{a} {c}"~2 web',
        f'web -"{a} {c}"~2',
        f'"{a} {b} {c}"~2',
    ]
    for q in queries:
        _run_query_pair(spark, built, oracle_idx, q, 10, prune=True)


def test_sloppy_lucene_vs_window_flag(spark, built, oracle_idx):
    """Classic sloppy phrases score transposed occurrences (Lucene
    SloppyPhraseMatcher); a ``PhraseNode(window=True)`` twin of the same
    phrase keeps ordered-window counting.  A doc containing only the
    REVERSED pair ranks under lucene semantics and vanishes under window
    semantics."""
    from apache___solr_spark.query.parser import BoolChild, BoolQuery, PhraseNode

    def window(toks, slop=0):
        return BoolQuery(
            [BoolChild("SHOULD", PhraseNode(toks, slop=slop, window=True))]
        )

    eng = SearchEngine(spark, built, cfg=CFG)
    # a reversed-only pair: find terms where some doc has b-before-a only
    q = '"page web"~3'
    lucene_ids = {r["doc_id"] for r in eng.search(q, k=400, prune=False).collect()}
    window_ids = {
        r["doc_id"]
        for r in eng.search(window(["page", "web"], 3), k=400, prune=False).collect()
    }
    # window matches (ordered chains) are a subset of lucene matches
    assert window_ids <= lucene_ids
    # and the transposed occurrences ("web page" order with gap <= 2,
    # i.e. adjusted spread <= 3) rank ONLY under lucene semantics
    rev_only = lucene_ids - window_ids
    from apache___solr_spark.oracle import _sloppy_pf

    for d in sorted(rev_only)[:5]:
        assert _sloppy_pf(oracle_idx, ["page", "web"], d, 3) > 0.0
    # exact phrases (slop=0) are identical in both modes
    e0 = [(r["doc_id"], r["score"]) for r in eng.search('"web page"', k=50).collect()]
    w0 = [
        (r["doc_id"], r["score"])
        for r in eng.search(window(["web", "page"]), k=50).collect()
    ]
    assert e0 == w0


def test_slop_widens_matches(oracle_idx):
    """slop=0 matches are a subset of slop=2 matches for the same phrase."""
    from apache___solr_spark.oracle import oracle_search

    from apache___solr_spark.query.parser import parse_query

    # find a term pair occurring at distance 2 somewhere
    pq0 = parse_query('"web page"')
    pq2 = parse_query('"web page"~2')
    r0 = {h["doc_id"] for h in oracle_search(oracle_idx, pq0, k=400)}
    r2 = {h["doc_id"] for h in oracle_search(oracle_idx, pq2, k=400)}
    assert r0 <= r2


def test_add_docs_rejects_mismatched_config(spark, corpus, built):
    """add_docs/optimize with a different IndexConfig than the build must
    refuse (incompatibly-analyzed or mis-salted segments would corrupt
    results silently)."""
    from apache___solr_spark.index.updates import add_docs, optimize

    path, _ = corpus
    other = IndexConfig(salt_range=64, n_buckets=8)
    pages = spark.read.parquet(path).limit(5)
    with pytest.raises(ValueError, match="config"):
        add_docs(spark, built, pages, cfg=other)
    with pytest.raises(ValueError, match="config"):
        optimize(spark, built, cfg=other)


def test_localparams_dispatch(spark, corpus, built):
    """QParser local-params front-end ({!type k=v}rest, QueryParsing.java)
    vs the equivalent direct engine calls."""
    from apache___solr_spark.query.localparams import (
        dispatch_query,
        parse_local_params,
    )
    from apache___solr_spark.query.parser import ParsedQuery

    ptype, params, rest = parse_local_params('{!term f=text}web')
    assert (ptype, params, rest) == ("term", {"f": "text"}, "web")
    ptype, params, rest = parse_local_params('{!bool must="web data" must_not=merge}')
    assert ptype == "bool" and params["must"] == "web data"
    assert parse_local_params("plain query")[0] is None

    eng = SearchEngine(spark, built, cfg=CFG)

    def ids(df):
        return [r["doc_id"] for r in df.collect()]

    # {!lucene} == default grammar
    assert ids(dispatch_query(eng, "{!lucene}web data", k=10)) == ids(
        eng.search("web data", k=10)
    )
    # {!term}: raw indexed term, no analysis
    assert ids(dispatch_query(eng, "{!term f=text}web", k=10)) == ids(
        eng.search(ParsedQuery(must=["web"]), k=10)
    )
    # {!lucene q.op=AND}: bare terms bind MUST (QueryParsing.OP)
    assert ids(dispatch_query(eng, "{!lucene q.op=AND}web data", k=10)) == ids(
        eng.search("web AND data", k=10)
    )
    assert ids(eng.search("web data", default_op="AND", k=10)) == ids(
        eng.search("web AND data", k=10)
    )
    # {!field}: analyzed; multi-token value becomes a phrase
    got = dispatch_query(eng, "{!field f=text}Web Data", k=10)
    toks = eng._analyze("Web Data")
    want = eng.search(ParsedQuery(must_phrases=[toks]), k=10)
    assert ids(got) == ids(want)
    # {!prefix}: raw prefix expansion
    assert ids(dispatch_query(eng, "{!prefix f=text}dat", k=10)) == ids(
        eng.search("dat*", k=10)
    )
    # {!bool}: clause composition through the recursive grammar
    assert ids(
        dispatch_query(eng, '{!bool must="web" must_not="merge"}', k=10)
    ) == ids(eng.search("+(web) -(merge)", k=10))
    # {!boost}: constant multiplier scales scores, keeps ranks
    base = eng.search("web data", k=10).collect()
    boosted = dispatch_query(eng, "{!boost b=2}web data", k=10).collect()
    assert [r["doc_id"] for r in base] == [r["doc_id"] for r in boosted]
    assert all(
        abs(b["score"] - 2 * a["score"]) < 5e-5 * max(1.0, abs(a["score"]))
        for a, b in zip(base, boosted)
    )
    # {!mlt}: dispatches to more_like_this with mintf/mindf/maxqt mapped
    from apache___solr_spark.query.extras import more_like_this

    src = ids(eng.search("web data", k=1))[0]
    got_mlt = dispatch_query(eng, f"{{!mlt maxqt=5 mindf=2 mintf=1}}{src}", k=5)
    want_mlt = more_like_this(
        eng, src, k=5, max_query_terms=5, min_doc_freq=2, min_term_freq=1
    )
    assert ids(got_mlt) == ids(want_mlt)
    with pytest.raises(NotImplementedError, match="qf"):
        dispatch_query(eng, f"{{!mlt qf=title}}{src}", k=5)

    # {!knn}: real dispatch when the vectors table is passed
    from apache___solr_spark.pipeline.similarity import cosine_topk_bruteforce

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0, float(i % 3)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    got_knn = dispatch_query(
        eng, "{!knn f=embedding topK=4}[3.0, 1.0, 0.0]", vectors_df=vecs
    )
    want_knn = cosine_topk_bruteforce(vecs, [3.0, 1.0, 0.0], k=4)
    assert [r["vec_id"] for r in got_knn.collect()] == [
        r["vec_id"] for r in want_knn.collect()
    ]
    # without vectors_df it stays a table-shaped pointer
    with pytest.raises(NotImplementedError):
        dispatch_query(eng, "{!knn f=embedding topK=4}[1.0]")

    # {!func}: docs scored by a function-query string over docs columns
    func_hits = dispatch_query(eng, "{!func}recip(doclen,1,1000,1)", k=5).collect()
    doclens = {
        r["doc_id"]: r["doclen"]
        for r in eng.docs.select("doc_id", "doclen").collect()
    }
    want_order = sorted(doclens, key=lambda d: (-1000.0 / (doclens[d] + 1), d))[:5]
    assert [r["doc_id"] for r in func_hits] == want_order
    assert func_hits[0]["rank"] == 1
    assert abs(func_hits[0]["score"] - 1000.0 / (doclens[want_order[0]] + 1)) < 1e-9

    # {!frange}: function-value range filter, constant score
    fr = dispatch_query(eng, "{!frange l=40 u=60}doclen", k=5).collect()
    want_fr = sorted(d for d, dl in doclens.items() if 40 <= dl <= 60)
    assert [r["doc_id"] for r in fr] == want_fr
    assert all(r["score"] == 1.0 for r in fr)
    fr_excl = dispatch_query(eng, "{!frange l=40 u=60 incl=false incu=false}doclen").collect()
    want_fr_excl = sorted(d for d, dl in doclens.items() if 40 < dl < 60)
    assert [r["doc_id"] for r in fr_excl] == want_fr_excl

    # {!rerank}: matches the extras.rerank combination
    from apache___solr_spark.query.extras import rerank

    got_rr = dispatch_query(
        eng,
        '{!rerank reRankQuery="data" reRankDocs=30 reRankWeight=3}web',
        k=5,
    )
    want_rr = rerank(eng, "web", "data", k=5, rerank_docs=30, rerank_weight=3.0)
    assert ids(got_rr) == ids(want_rr)

    # {!switch}: case selection routes to the sub-query
    assert ids(
        dispatch_query(eng, "{!switch case.a=web case.b=data default=merge}a", k=5)
    ) == ids(eng.search("web", k=5))
    assert ids(
        dispatch_query(eng, "{!switch case.a=web default=merge}zzz", k=5)
    ) == ids(eng.search("merge", k=5))

    # {!raw}: no analysis — identical to {!term} here
    assert ids(dispatch_query(eng, "{!raw f=text}web", k=10)) == ids(
        dispatch_query(eng, "{!term f=text}web", k=10)
    )

    # table-shaped parsers point at the DataFrame combinators
    with pytest.raises(NotImplementedError):
        dispatch_query(eng, "{!collapse field=x}", k=5)
    with pytest.raises(NotImplementedError):
        dispatch_query(eng, "{!term f=title}web", k=5)

def test_porter_analyzer_end_to_end(spark, tmp_path_factory):
    """text_en-shaped index (standard chain + PorterStemFilter): "running"
    and "runs" meet at the stem "run" on both the index and query side
    because analyzer_fn resolves the SAME chain for builder and engine."""
    pages = spark.createDataFrame(
        [
            ("a000", None, None, "the dog runs quickly home", "en"),
            ("b000", None, None, "she was running every morning", "en"),
            ("c000", None, None, "a walk in the park", "en"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    cfg = IndexConfig(
        salt_range=128, n_buckets=8, analyzer="standard_porter"
    )
    out = str(tmp_path_factory.mktemp("porter") / "idx")
    build_index(spark, pages, out, cfg=cfg)
    # dictionary holds stems, not surface forms
    terms = {
        r["term"]
        for r in spark.read.parquet(os.path.join(out, "dictionary")).collect()
    }
    assert "run" in terms and "running" not in terms and "runs" not in terms
    assert "quickli" in terms  # step 1c y->i after step 2 li handling
    eng = SearchEngine(spark, out, cfg=cfg)
    hits = {r["url"] for r in eng.search("running", k=10).collect()}
    assert hits == {"a000", "b000"}
    hits2 = {r["url"] for r in eng.search("runs AND quickly", k=10).collect()}
    assert hits2 == {"a000"}


def test_min_should_match_tree(spark, built, oracle_idx):
    """BooleanQuery minimumNumberShouldMatch (Lucene Builder#
    setMinimumNumberShouldMatch, dismax mm param): docs must match >= mm
    SHOULD clauses; engine tree evaluator vs oracle rank+score identical."""
    from apache___solr_spark.oracle import oracle_search_tree
    from apache___solr_spark.query.parser import (
        BoolChild,
        BoolQuery,
        TermNode,
    )

    eng = SearchEngine(spark, built, cfg=CFG)

    def tree(mm):
        return BoolQuery(
            children=[
                BoolChild("SHOULD", TermNode("web")),
                BoolChild("SHOULD", TermNode("page")),
                BoolChild("SHOULD", TermNode("data")),
            ],
            mm=mm,
        )

    # ground truth from the oracle postings: docs matching >= mm terms
    def n_matched(doc_id):
        return sum(
            1
            for t in ("web", "page", "data")
            if doc_id in oracle_idx.postings.get(t, {})
        )

    for mm in (0, 2, 3):
        got = [r.asDict() for r in eng.search(tree(mm), k=400).collect()]
        want = oracle_search_tree(oracle_idx, tree(mm), k=400)
        assert [g["doc_id"] for g in got] == [w["doc_id"] for w in want], mm
        for g, w in zip(got, want):
            assert math.isclose(g["score"], w["score"], rel_tol=1e-6), mm
        assert all(n_matched(g["doc_id"]) >= max(mm, 1) for g in got)
    # non-vacuous: each tightening strictly shrinks the match set
    n0 = len(oracle_search_tree(oracle_idx, tree(0), k=400))
    n2 = len(oracle_search_tree(oracle_idx, tree(2), k=400))
    n3 = len(oracle_search_tree(oracle_idx, tree(3), k=400))
    assert n0 > n2 > n3 > 0
    # mm > optional clause count: matches nothing (Lucene semantics)
    assert eng.search(tree(4), k=10).count() == 0
    assert oracle_search_tree(oracle_idx, tree(4), k=10) == []
    # mm composes with MUST: must-matching docs still need mm SHOULDs
    t = tree(2)
    t.children.append(BoolChild("MUST", TermNode("web")))
    got = [r.asDict() for r in eng.search(t, k=400).collect()]
    want = oracle_search_tree(oracle_idx, t, k=400)
    assert [g["doc_id"] for g in got] == [w["doc_id"] for w in want]
    assert all(
        "web" in oracle_idx.postings
        and g["doc_id"] in oracle_idx.postings["web"]
        for g in got
    )


def test_dismax_dispatch(spark, built, oracle_idx):
    """{!dismax} / {!edismax}: escaped user string, mm, pf phrase boost,
    bq boost query (DisMaxQParser.java / ExtendedDismaxQParser.java) —
    engine output vs the oracle over the SAME lowered tree."""
    from apache___solr_spark.oracle import oracle_search_tree
    from apache___solr_spark.query.localparams import (
        _dismax_tree,
        dispatch_query,
    )

    eng = SearchEngine(spark, built, cfg=CFG)

    def check(q, tree_params=None, rest=None):
        got = [r.asDict() for r in dispatch_query(eng, q, k=50).collect()]
        want = oracle_search_tree(
            oracle_idx, _dismax_tree(eng, rest, tree_params), k=50
        )
        assert [g["doc_id"] for g in got] == [w["doc_id"] for w in want], q
        for g, w in zip(got, want):
            assert math.isclose(g["score"], w["score"], rel_tol=1e-6), q
        return got

    base = check("{!dismax}web page data", {}, "web page data")
    strict = check("{!dismax mm=2}web page data", {"mm": "2"}, "web page data")
    assert len(strict) < len(base) or (
        len(base) == 50 and len(strict) == 50
    )
    # mm as a percentage and a conditional spec dispatch too
    check("{!dismax mm=67%}web page data", {"mm": "67%"}, "web page data")
    check(
        "{!dismax mm='1<100%'}web page data", {"mm": "1<100%"}, "web page data"
    )
    # +/- signs survive the dismax escape
    check("{!dismax}+web -merge data", {}, "+web -merge data")
    # pf: whole-query phrase added as a SHOULD boost clause
    check(
        "{!dismax pf=text^2 ps=1}web data",
        {"pf": "text^2", "ps": "1"},
        "web data",
    )
    # bq: parsed boost query joins the optional clauses
    check("{!dismax bq=page}web data", {"bq": "page"}, "web data")
    # edismax: full grammar + mm over root SHOULD clauses
    got = [
        r.asDict()
        for r in dispatch_query(
            eng, '{!edismax mm=2}web page "data merge"~2', k=50
        ).collect()
    ]
    from apache___solr_spark.query.localparams import _edismax_tree

    want = oracle_search_tree(
        oracle_idx,
        _edismax_tree(eng, 'web page "data merge"~2', {"mm": "2"}),
        k=50,
    )
    assert [g["doc_id"] for g in got] == [w["doc_id"] for w in want]
    # qf boost scales scores; unknown field still raises
    with pytest.raises(NotImplementedError):
        dispatch_query(eng, "{!dismax qf=title}web", k=5)


def test_dismax_bf_and_edismax_boost_functions(spark, built, oracle_idx):
    """bf (additive, DisMaxQParser getBoostFunctions) and boost
    (multiplicative, ExtendedDismaxQParser getMultiplicativeBoosts) over
    docs-table function queries: final = (score + Σbf)·Πboost, verified
    against the plain search re-ranked with the same arithmetic."""
    from apache___solr_spark.query.localparams import dispatch_query

    eng = SearchEngine(spark, built, cfg=CFG)
    base = {
        r["doc_id"]: r["score"]
        for r in eng.search("web data", k=400).collect()
    }
    dl = {
        r["doc_id"]: r["doclen"]
        for r in eng.docs.select("doc_id", "doclen").collect()
    }

    def expect(keyf, k=10):
        order = sorted(base, key=lambda d: (-keyf(d), d))[:k]
        return order

    # additive: score + 0.01*doclen  (bf=div(doclen,100))
    got = [
        r["doc_id"]
        for r in dispatch_query(
            eng, "{!dismax bf=div(doclen,100)}web data", k=10
        ).collect()
    ]
    assert got == expect(lambda d: base[d] + dl[d] / 100.0)

    # bf with ^weight: f^2 == 2*f
    got_w = [
        r["doc_id"]
        for r in dispatch_query(
            eng, "{!dismax bf=div(doclen,100)^2}web data", k=10
        ).collect()
    ]
    assert got_w == expect(lambda d: base[d] + 2 * dl[d] / 100.0)

    # multiplicative: score * doclen (edismax boost param)
    got_m = [
        r["doc_id"]
        for r in dispatch_query(
            eng, "{!edismax boost=doclen}web data", k=10
        ).collect()
    ]
    assert got_m == expect(lambda d: base[d] * dl[d])


def test_span_near_matches_oracle(spark, built, oracle_idx):
    """{!surround} distance operators: nW (ordered) / nN (unordered) spans
    vs an independent per-doc bisect oracle (oracle_span_near), scores and
    ranks exact.  Cross-checks: W(dist=1) == exact phrase; ordered matches
    are a subset of unordered at equal distance."""
    from apache___solr_spark.oracle import oracle_span_near
    from apache___solr_spark.query.localparams import dispatch_query

    eng = SearchEngine(spark, built, cfg=CFG)
    cases = [
        (["web", "page"], 1, True),
        (["web", "page"], 3, True),
        (["web", "data"], 4, False),
        (["page", "web"], 2, False),
        (["web", "data", "page"], 6, False),
        (["web", "page", "data"], 8, True),
    ]
    for words, dist, ordered in cases:
        got = [
            (r["rank"], r["doc_id"], round(r["score"], 5))
            for r in eng.span_near(
                words, dist=dist, ordered=ordered, k=25
            ).collect()
        ]
        want = [
            (h["rank"], h["doc_id"], round(h["score"], 5))
            for h in oracle_span_near(oracle_idx, words, dist, ordered, k=25)
        ]
        assert got == want, (words, dist, ordered)
        assert want, (words, dist, ordered)  # non-vacuous: every case matches

    # W with dist=1 == exact phrase query (identical doc sets + scores)
    ph = {
        (r["doc_id"], round(r["score"], 5))
        for r in eng.search('"web page"', k=400, prune=False).collect()
    }
    sp = {
        (r["doc_id"], round(r["score"], 5))
        for r in eng.span_near(["web", "page"], dist=1, k=400).collect()
    }
    assert ph == sp

    # ordered matches subset of unordered at the same distance
    o_docs = {r["doc_id"] for r in eng.span_near(["aaa", "bhhh"], 2, True, k=400).collect()}
    u_docs = {r["doc_id"] for r in eng.span_near(["aaa", "bhhh"], 2, False, k=400).collect()}
    assert o_docs <= u_docs
    assert u_docs - o_docs, "unordered must add out-of-order matches here"

    # {!surround} local-params dispatch
    via_lp = [
        (r["rank"], r["doc_id"], round(r["score"], 5))
        for r in dispatch_query(eng, "{!surround}4n(web, data)", k=10).collect()
    ]
    direct = [
        (r["rank"], r["doc_id"], round(r["score"], 5))
        for r in eng.span_near(["web", "data"], dist=4, ordered=False, k=10).collect()
    ]
    assert via_lp == direct

    # truncation inside spans (SrndTruncQuery): a pattern operand routes
    # through the complexphrase SpanOr machinery — dispatch == direct,
    # and the truncated span's doc set CONTAINS the concrete span's
    trunc = [
        (r["rank"], r["doc_id"], round(r["score"], 5))
        for r in dispatch_query(eng, "{!surround}2W(web, pag*)", k=25).collect()
    ]
    direct_cp = [
        (r["rank"], r["doc_id"], round(r["score"], 5))
        for r in eng.complex_phrase("web pag*", slop=1, ordered=True, k=25).collect()
    ]
    assert trunc == direct_cp and trunc
    concrete = {
        r["doc_id"]
        for r in eng.span_near(["web", "page"], dist=2, ordered=True, k=400).collect()
    }
    wide = {
        r["doc_id"]
        for r in eng.complex_phrase("web pag*", slop=1, ordered=True, k=400).collect()
    }
    assert concrete <= wide
    # malformed nesting still raises
    with pytest.raises(NotImplementedError):
        dispatch_query(eng, "{!surround}3W(2N(a, b, c)", k=5)  # unbalanced

    # infix forms: "a nW b" == nW(a, b); uniform chains n-ary; bare
    # operand lowers to the classic term/prefix query
    infix = [
        (r["rank"], r["doc_id"], round(r["score"], 5))
        for r in dispatch_query(eng, "{!surround}web 4N data", k=10).collect()
    ]
    assert infix == direct
    chain = [
        (r["doc_id"], round(r["score"], 5))
        for r in dispatch_query(eng, "{!surround}web 6n data 6n page", k=10).collect()
    ]
    chain_prefix = [
        (r["doc_id"], round(r["score"], 5))
        for r in dispatch_query(eng, "{!surround}6N(web, data, page)", k=10).collect()
    ]
    assert chain == chain_prefix and chain
    bare = [
        (r["doc_id"], round(r["score"], 5))
        for r in dispatch_query(eng, "{!surround}pag*", k=10).collect()
    ]
    classic = [
        (r["doc_id"], round(r["score"], 5))
        for r in eng.search("pag*", k=10).collect()
    ]
    assert bare == classic and bare
    with pytest.raises(NotImplementedError):
        dispatch_query(eng, "{!surround}a 3w b 2n c", k=5)  # mixed chain


def test_complex_phrase_matches_oracle(spark, built, oracle_idx):
    """{!complexphrase}: wildcard/prefix/fuzzy slots inside phrases
    (ComplexPhraseQParserPlugin -> SpanNear over SpanOr rewrites) vs an
    independent per-doc bisect oracle with independently-expanded slots.
    Cross-checks: a pattern-free complex phrase == the plain phrase; the
    wildcard variant's doc set contains the concrete phrase's."""
    import re as _re

    from apache___solr_spark.oracle import oracle_complex_phrase
    from apache___solr_spark.query.localparams import dispatch_query

    eng = SearchEngine(spark, built, cfg=CFG)
    vocab = sorted(oracle_idx.postings)

    def expand(tok):
        rx = _re.compile(
            "^"
            + "".join(
                ".*" if c == "*" else "." if c == "?" else _re.escape(c)
                for c in tok
            )
            + "$"
        )
        return tuple(t for t in vocab if rx.match(t))

    def lev(a, b):
        # plain DP — independent of the engine's F.levenshtein
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    def slots_of(phrase):
        out = []
        for tok in phrase.split():
            if "*" in tok or "?" in tok:
                out.append(expand(tok))
                continue
            m = _re.fullmatch(r"(.+?)~(\d+)", tok)
            if m:
                base, fz = m.group(1), int(m.group(2))
                out.append(
                    tuple(t for t in vocab if lev(t, base) <= fz)
                )
            else:
                out.append((tok,))
        return out

    cases = [
        ("pag* data", 0, True),
        ("web pag*", 2, True),
        ("w?b data", 1, True),
        ("pag* web", 4, False),
        ("page~1 data", 1, True),
    ]
    for phrase, slop, ordered in cases:
        got = [
            (r["rank"], r["doc_id"], round(r["score"], 5))
            for r in eng.complex_phrase(
                phrase, slop=slop, ordered=ordered, k=25, max_expansions=100000
            ).collect()
        ]
        want = [
            (h["rank"], h["doc_id"], round(h["score"], 5))
            for h in oracle_complex_phrase(
                oracle_idx, slots_of(phrase), slop=slop, ordered=ordered, k=25
            )
        ]
        assert got == want, (phrase, slop, ordered)
        assert want, (phrase, slop, ordered)  # non-vacuous

    # pattern-free == plain phrase query (identical docs + scores)
    cp = {
        (r["doc_id"], round(r["score"], 5))
        for r in eng.complex_phrase("web page", k=400).collect()
    }
    ph = {
        (r["doc_id"], round(r["score"], 5))
        for r in eng.search('"web page"', k=400, prune=False).collect()
    }
    assert cp == ph

    # the wildcard phrase's docs contain the concrete phrase's docs
    wide = {r["doc_id"] for r in eng.complex_phrase("web pag*", k=400).collect()}
    narrow = {r["doc_id"] for r in eng.complex_phrase("web page", k=400).collect()}
    assert narrow <= wide

    # {!complexphrase} local-params dispatch, incl. inOrder=false + slop
    via_lp = [
        (r["rank"], r["doc_id"], round(r["score"], 5))
        for r in dispatch_query(
            eng, '{!complexphrase inOrder=false}"pag* web"~4', k=10
        ).collect()
    ]
    direct = [
        (r["rank"], r["doc_id"], round(r["score"], 5))
        for r in eng.complex_phrase(
            "pag* web", slop=4, ordered=False, k=10
        ).collect()
    ]
    assert via_lp == direct


def test_complex_phrase_stopword_token_skipped(spark, built):
    """Regression: a whitespace token that ANALYZES AWAY (a stopword under
    the standard chain) is skipped and the remaining slots keep matching —
    Lucene ComplexPhraseQueryParser behavior — instead of silently
    emptying the result.  A pattern expanding to NOTHING stays
    unmatchable."""
    eng = SearchEngine(spark, built, cfg=CFG)
    with_stop = [
        (r["rank"], r["doc_id"], round(r["score"], 5))
        for r in eng.complex_phrase("the web pag*", k=25).collect()
    ]
    without = [
        (r["rank"], r["doc_id"], round(r["score"], 5))
        for r in eng.complex_phrase("web pag*", k=25).collect()
    ]
    assert with_stop == without and with_stop
    # all-stopword phrase -> no slots -> empty, not an error
    assert eng.complex_phrase("the of and", k=5).collect() == []
    # pattern with empty dictionary expansion is still unmatchable
    assert eng.complex_phrase("web zzzzqqq*", k=5).collect() == []

    # span_tree: a stopword operand drops from the near, the survivor
    # collapses to the remaining child
    dropped = [
        (r["rank"], r["doc_id"], round(r["score"], 5))
        for r in eng.span_tree(
            ("near", 3, True, [("op", "the"), ("op", "web"), ("op", "data")]),
            k=25,
        ).collect()
    ]
    plain = [
        (r["rank"], r["doc_id"], round(r["score"], 5))
        for r in eng.span_tree(
            ("near", 3, True, [("op", "web"), ("op", "data")]), k=25
        ).collect()
    ]
    assert dropped == plain and dropped


def test_spellcheck_collate(spark, built, oracle_idx):
    """SpellCheckCollator: misspelled terms replaced by dictionary-nearest
    corrections, collations verified by re-running the query (hits capped
    at collateMaxCollectDocs)."""
    from apache___solr_spark.query.suggest import spellcheck_collate

    eng = SearchEngine(spark, built, cfg=CFG)
    out = spellcheck_collate(eng, "webb dataa", max_collations=3)
    assert out, "a near-miss misspelling must collate"
    assert all(c["hits"] > 0 for c in out)
    toks = set(out[0]["collation"].split())
    assert toks <= set(oracle_idx.postings), out  # every term now real
    # fully-spelled queries produce no collation
    assert spellcheck_collate(eng, "web data") == []
    # unfixable garbage produces none either
    assert spellcheck_collate(eng, "qqqqqqqqqqqq") == []


def test_elevate(spark, built):
    """QueryElevationComponent: pinned docs first in config order (even
    non-matching ones), excluded docs dropped, organic tail by score."""
    from apache___solr_spark.query.extras import elevate

    eng = SearchEngine(spark, built, cfg=CFG)
    organic = [r["doc_id"] for r in eng.search("web data", k=10).collect()]
    stranger = 399 if organic[5] != 399 else 398
    pin = [organic[5], stranger]  # one matching doc + one arbitrary doc
    out = elevate(eng, "web data", pin, exclude_ids=[organic[0]], k=10).collect()
    got = [r["doc_id"] for r in out]
    assert got[:2] == pin  # config order, incl. the non-matching doc
    assert out[0]["elevated"] and out[1]["elevated"]
    assert organic[0] not in got  # excluded
    # organic tail keeps score order, no duplicates of the pinned docs
    tail = got[2:]
    want_tail = [d for d in organic if d not in set(pin) | {organic[0]}]
    assert tail[: len(want_tail)] == want_tail[: len(tail)]
    assert not any(r["elevated"] for r in out[2:])
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))


def test_terms_qparser_set_filter(spark, built, oracle_idx):
    """{!terms}: raw-value set membership, constant score 1, no analysis
    (TermsQParserPlugin.java) — vs the oracle postings dict."""
    from apache___solr_spark.query.localparams import dispatch_query

    eng = SearchEngine(spark, built, cfg=CFG)
    got = dispatch_query(eng, "{!terms f=text}web,data,zzznotaterm", k=500).collect()
    want = sorted(
        set(oracle_idx.postings.get("web", {})) | set(oracle_idx.postings.get("data", {}))
    )
    assert [r["doc_id"] for r in got] == want
    assert all(r["score"] == 1.0 for r in got)
    # raw means NO analysis: an uppercase value matches nothing
    up = dispatch_query(eng, "{!terms f=text}WEB", k=50).collect()
    assert up == []
    # custom separator
    got2 = dispatch_query(
        eng, "{!terms f=text separator=|}web|data", k=500
    ).collect()
    assert [r["doc_id"] for r in got2] == want


def test_en_splitting_analyzer_end_to_end(spark, tmp_path_factory):
    """Index built with analyzer='en_splitting' (WDGF+porter chain): a query
    for the catenated form ('powershot') and for a stemmed part ('run')
    both hit docs whose raw text contains neither literal token."""
    from apache___solr_spark.config import IndexConfig

    rows = [
        ("a000", "The new PowerShot camera is running fast"),
        ("a001", "another camera entirely"),
        ("a002", "wi-fi setup guide"),
    ]
    pages = spark.createDataFrame(
        [(u, None, None, t, "en") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    cfg = IndexConfig(analyzer="en_splitting", n_buckets=4, store_positions=False)
    out = str(tmp_path_factory.mktemp("ensplit") / "idx")
    build_index(spark, pages, out, cfg=cfg)
    eng = SearchEngine(spark, out, cfg=cfg)
    assert {r["doc_id"] for r in eng.search("powershot", k=5).collect()} == {0}
    assert {r["doc_id"] for r in eng.search("run", k=5).collect()} == {0}
    assert {r["doc_id"] for r in eng.search("wifi", k=5).collect()} == {2}
    # and the un-catenated parts hit too
    assert {r["doc_id"] for r in eng.search("shot", k=5).collect()} == {0}


def test_standard_folding_analyzer_end_to_end(spark, tmp_path_factory):
    """analyzer='standard_folding': accented doc text matches the ASCII
    query and vice versa (ASCIIFoldingFilter applied index- and query-side)."""
    from apache___solr_spark.config import IndexConfig

    rows = [
        ("a000", "le café résumé"),
        ("a001", "coffee shop cafe"),
        ("a002", "unrelated text"),
    ]
    pages = spark.createDataFrame(
        [(u, None, None, t, "en") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    cfg = IndexConfig(analyzer="standard_folding", n_buckets=4, store_positions=False)
    out = str(tmp_path_factory.mktemp("folding") / "idx")
    build_index(spark, pages, out, cfg=cfg)
    eng = SearchEngine(spark, out, cfg=cfg)
    assert {r["doc_id"] for r in eng.search("cafe", k=5).collect()} == {0, 1}
    assert {r["doc_id"] for r in eng.search("café", k=5).collect()} == {0, 1}


def test_fq_filter_queries(spark, corpus, built):
    """fq (SolrIndexSearcher.getProcessedFilter): each filter query's full
    DocSet intersects the main query's matches BEFORE top-k without
    touching scores (ConstantScore semantics — unlike a MUST clause,
    which would add its BM25 contribution).  Oracle: the unfiltered full
    ranking manually intersected with the fq docsets."""
    eng = SearchEngine(spark, built, cfg=CFG)
    allowed = {r["doc_id"] for r in eng.docset("data").collect()}
    base = eng.search("web search", k=N_DOCS, prune=False).collect()
    want = [
        (r["doc_id"], r["score"]) for r in base if r["doc_id"] in allowed
    ][:10]
    got = eng.search("web search", k=10, fq=["data"]).collect()
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    # scores are the MAIN query's scores, bit-identical to the unfiltered
    # ranking (fq adds nothing)
    assert [r["score"] for r in got] == [s for _, s in want]
    assert got and got[0]["rank"] == 1

    # two fqs intersect; fq composes with the default prune=True soundly
    # (theta is auto-disabled under fq)
    allowed2 = allowed & {
        r["doc_id"] for r in eng.docset("engine").collect()
    }
    want2 = [r["doc_id"] for r in base if r["doc_id"] in allowed2][:10]
    got2 = eng.search("web search", k=10, fq=["data", "engine"])
    assert [r["doc_id"] for r in got2.collect()] == want2

    # an impossible fq empties the result
    assert eng.search("web search", k=10, fq=["zzznotaterm"]).count() == 0

    # nested-tree main query takes the same fq path
    tree_q = "(web AND data) OR (search AND engine)"
    base_t = eng.search(tree_q, k=N_DOCS).collect()
    want_t = [r["doc_id"] for r in base_t if r["doc_id"] in allowed][:10]
    got_t = eng.search(tree_q, k=10, fq=["data"])
    assert [r["doc_id"] for r in got_t.collect()] == want_t


def test_collapsed_search_matches_manual_window(spark, corpus, built):
    """collapsed_search == CollapsingQParserPlugin-as-fq: score EVERY
    match, keep each group's best doc, then top-k.  Oracle: a manual
    replay over the full scored docset."""
    eng = SearchEngine(spark, built, cfg=CFG)
    sd = {
        r["doc_id"]: r["score"]
        for r in eng.scored_docset("web data").collect()
    }
    top5 = [r["doc_id"] for r in eng.search("web data", k=5).collect()]

    def group_heads(m: int) -> list[int]:
        heads: dict[int, int] = {}
        for d in sorted(sd):
            g = d % m
            if g not in heads or (sd[d], -d) > (sd[heads[g]], -heads[g]):
                heads[g] = d
        return sorted(heads.values(), key=lambda d: (-sd[d], d))[:5]

    # pick a modulus where collapsing provably changes the top-5 — two
    # global winners share a group, so collapsing the GLOBAL top-k
    # instead of the full docset would be detectably wrong (non-vacuous)
    m = next(
        m for m in range(2, 11) if set(group_heads(m)) != set(top5)
    )
    want = group_heads(m)
    got = eng.collapsed_search("web data", by=f"pmod(doc_id, {m})", k=5).collect()
    assert [r["doc_id"] for r in got] == want
    assert [r["rank"] for r in got] == list(range(1, len(want) + 1))
    for r in got:
        assert abs(r["score"] - sd[r["doc_id"]]) < 1e-6


def test_dispatch_fq_and_collapse(spark, corpus, built):
    """dispatch_query fq= plumbing: {!term} fq entries lower to DocSets,
    a {!collapse} fq entry routes through collapsed_search (the
    reference's only collapse shape)."""
    from apache___solr_spark.query.localparams import dispatch_query

    eng = SearchEngine(spark, built, cfg=CFG)

    # plain fq through dispatch == engine fq
    got = dispatch_query(eng, "web search", k=10, fq=["{!term f=text}data"])
    want = eng.search("web search", k=10, fq=["data"])
    assert [r["doc_id"] for r in got.collect()] == [
        r["doc_id"] for r in want.collect()
    ]

    # collapse fq: manual oracle — fq-filtered scored docset, group
    # heads, top-k
    allowed = {r["doc_id"] for r in eng.docset("web").collect()}
    sd = {
        r["doc_id"]: r["score"]
        for r in eng.scored_docset("web data").collect()
        if r["doc_id"] in allowed
    }
    heads: dict[int, int] = {}
    for d in sorted(sd):
        g = d % 5
        if g not in heads or (sd[d], -d) > (sd[heads[g]], -heads[g]):
            heads[g] = d
    want_ids = sorted(heads.values(), key=lambda d: (-sd[d], d))[:5]
    got2 = dispatch_query(
        eng,
        "web data",
        k=5,
        fq=["{!term f=text}web", '{!collapse field="pmod(doc_id, 5)"}'],
    )
    assert [r["doc_id"] for r in got2.collect()] == want_ids

    # {!collapse max=doclen}: head = group's longest doc, not best score
    sd_all = {
        r["doc_id"]: r["score"]
        for r in eng.scored_docset("web data").collect()
    }
    doclens = {
        r["doc_id"]: r["doclen"]
        for r in eng.docs.select("doc_id", "doclen").collect()
    }
    heads2: dict[int, int] = {}
    for d in sorted(sd_all):
        g = d % 5
        if g not in heads2 or (doclens[d], -d) > (
            doclens[heads2[g]],
            -heads2[g],
        ):
            heads2[g] = d
    want3 = sorted(heads2.values(), key=lambda d: (-sd_all[d], d))[:5]
    got3 = dispatch_query(
        eng,
        "web data",
        k=5,
        fq=['{!collapse field="pmod(doc_id, 5)" max=doclen}'],
    )
    assert [r["doc_id"] for r in got3.collect()] == want3

    # fq does not compose with table-shaped parsers
    with pytest.raises(NotImplementedError, match="fq"):
        dispatch_query(eng, "{!func}doclen", k=5, fq=["web"])


def test_dispatch_table_shaped_real(spark, corpus, built):
    """Table-shaped QParsers dispatch for REAL when their table arrives
    as a keyword ({!knn} vectors_df= pattern): {!parent}/{!child} over a
    blocks table, {!graph} BFS, {!geofilt}/{!bbox} radius filters,
    {!ltr} model rescoring, and the same-index {!join} semi-join."""
    from pyspark.sql import functions as F

    from apache___solr_spark.operators.graph import gather_nodes
    from apache___solr_spark.operators.streams import (
        block_join_children,
        block_join_parent,
    )
    from apache___solr_spark.query.localparams import dispatch_query

    eng = SearchEngine(spark, built, cfg=CFG)

    # --- {!parent which=...}child_pred / {!child of=...}parent_pred
    blocks = spark.createDataFrame(
        [
            (1, None, "parent", "red", 0),
            (10, 1, "child", "red", 5),
            (11, 1, "child", "blue", 7),
            (2, None, "parent", "blue", 0),
            (20, 2, "child", "blue", 9),
            (3, None, "parent", "red", 0),
        ],
        "id long, _root_ long, kind string, color string, qty long",
    )
    got_p = dispatch_query(
        eng, "{!parent which=\"kind='parent'\"}color='red'", blocks_df=blocks
    )
    want_p = block_join_parent(
        blocks.filter("kind='parent'"),
        blocks.filter("kind<>'parent'"),
        "id",
        "_root_",
        F.expr("color='red'"),
    )
    assert sorted(r["id"] for r in got_p.collect()) == sorted(
        r["id"] for r in want_p.collect()
    ) == [1]

    got_c = dispatch_query(
        eng, "{!child of=\"kind='parent'\"}color='blue'", blocks_df=blocks
    )
    want_c = block_join_children(
        blocks.filter("kind='parent'"),
        blocks.filter("kind<>'parent'"),
        "id",
        "_root_",
        F.expr("color='blue'"),
    )
    assert sorted(r["id"] for r in got_c.collect()) == sorted(
        r["id"] for r in want_c.collect()
    ) == [20]
    # empty child predicate: parents with at least one child
    got_any = dispatch_query(
        eng, "{!parent which=\"kind='parent'\"}", blocks_df=blocks
    )
    assert sorted(r["id"] for r in got_any.collect()) == [1, 2]

    # --- {!graph from=... to=... maxDepth=N}seed_pred
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (9, 1)], "src long, dst long"
    )
    got_g = dispatch_query(
        eng, "{!graph from=src to=dst maxDepth=2}src=1", graph_df=edges
    )
    want_g = gather_nodes(
        edges, edges.filter("src=1").select("src"), "src", "dst", hops=2
    )
    assert {(r["node"], r["depth"]) for r in got_g.collect()} == {
        (r["node"], r["depth"]) for r in want_g.collect()
    } == {(1, 0), (2, 1), (3, 2)}

    # --- {!geofilt} / {!bbox} with an independent haversine check
    pts = spark.createDataFrame(
        [
            (1, 48.8566, 2.3522),   # Paris (center)
            (2, 48.8600, 2.3270),   # ~2.2 km away
            (3, 48.9566, 2.3522),   # ~11 km north
            (4, 40.4168, -3.7038),  # Madrid
        ],
        "id long, lat double, lon double",
    )
    got_geo = dispatch_query(
        eng,
        "{!geofilt sfield=lat,lon pt=48.8566,2.3522 d=5}",
        docs_df=pts,
    )
    assert sorted(r["id"] for r in got_geo.collect()) == [1, 2]
    got_box = dispatch_query(
        eng,
        "{!bbox sfield=lat,lon pt=48.8566,2.3522 d=5 score=kilometers}",
        docs_df=pts,
    )
    rows_box = {r["id"]: r["score"] for r in got_box.collect()}
    assert set(rows_box) >= {1, 2}  # bbox is a superset of the radius
    import math as _m

    def hav(lat1, lon1, lat2, lon2):
        rl1, rl2 = _m.radians(lat1), _m.radians(lat2)
        a = (
            _m.sin((rl2 - rl1) / 2) ** 2
            + _m.cos(rl1) * _m.cos(rl2)
            * _m.sin(_m.radians(lon2 - lon1) / 2) ** 2
        )
        return 2 * 6371.0087714 * _m.asin(_m.sqrt(a))

    assert abs(rows_box[2] - hav(48.8566, 2.3522, 48.8600, 2.3270)) < 0.02

    # --- {!ltr model=...}q vs direct ltr_rerank
    from apache___solr_spark.query.ltr import ltr_rerank

    feats = {
        "fp": F.col("score").cast("double"),
        "dl": F.col("doclen").cast("double"),
    }
    model = {
        "type": "linear",
        "weights": {"fp": 1.0, "dl": -0.01},
    }
    got_ltr = dispatch_query(
        eng,
        "{!ltr model=m reRankDocs=20}web data",
        k=5,
        ltr_models={"m": {"features": feats, "model": model}},
    )
    first = eng.search("web data", k=20).join(
        eng.docs.drop("url"), "doc_id", "left"
    )
    want_ltr = ltr_rerank(first, feats, model, rerank_docs=20, k=5)
    assert [r["doc_id"] for r in got_ltr.collect()] == [
        r["doc_id"] for r in want_ltr.collect()
    ]

    # --- same-index {!join from=doc_id to=doc_id}q == the inner docset
    got_j = dispatch_query(eng, "{!join from=doc_id to=doc_id}data")
    want_ids = sorted(r["doc_id"] for r in eng.docset("data").collect())
    rows_j = got_j.collect()
    assert [r["doc_id"] for r in rows_j] == want_ids
    assert all(r["score"] == 1.0 for r in rows_j)
    # fromIndex resolves through the indexes= registry
    got_j2 = dispatch_query(
        eng,
        "{!join from=doc_id to=doc_id fromIndex=other}data",
        indexes={"other": eng},
    )
    assert [r["doc_id"] for r in got_j2.collect()] == want_ids
    # --- {!parent score=max}: ToParentBlockJoinQuery ScoreMode — parent
    # score = aggregate of matching children's scoreField
    scored_blocks = blocks.withColumn(
        "score", F.col("qty").cast("double")
    )
    got_ps = dispatch_query(
        eng,
        "{!parent which=\"kind='parent'\" score=max}qty > 0",
        blocks_df=scored_blocks,
    )
    rows_ps = {r["id"]: r["join_score"] for r in got_ps.collect()}
    assert rows_ps == {1: 7.0, 2: 9.0}
    got_pt = dispatch_query(
        eng,
        "{!parent which=\"kind='parent'\" score=total}qty > 0",
        blocks_df=scored_blocks,
    )
    assert {r["id"]: r["join_score"] for r in got_pt.collect()} == {
        1: 12.0,
        2: 9.0,
    }

    # without its table a table-shaped parser still raises the pointer
    with pytest.raises(NotImplementedError, match="table-shaped"):
        dispatch_query(eng, "{!parent which=x}y")


def test_start_offset_paging(spark, corpus, built):
    """start/rows offset paging (SolrIndexSearcher: collector depth =
    start+rows, QueryComponent slices the window; ranks stay global)."""
    eng = SearchEngine(spark, built, cfg=CFG)
    full = eng.search("web data", k=30).collect()
    page2 = eng.search("web data", k=10, start=10).collect()
    assert [r["doc_id"] for r in page2] == [r["doc_id"] for r in full[10:20]]
    assert [r["score"] for r in page2] == [r["score"] for r in full[10:20]]
    assert [r["rank"] for r in page2] == list(range(11, 21))
    # each rank's url is its doc's stored url, on a page past the first too
    url_of = dict(eng.docs.select("doc_id", "url").collect())
    for r in full + page2:
        assert r["url"] == url_of[r["doc_id"]], r
    # past the end of the result set -> empty page
    assert eng.search("web data", k=10, start=10_000).count() == 0
    # tree path pages identically
    tree_full = eng.search("(web AND data) OR search", k=20).collect()
    tree_p2 = eng.search("(web AND data) OR search", k=5, start=5).collect()
    assert [r["doc_id"] for r in tree_p2] == [
        r["doc_id"] for r in tree_full[5:10]
    ]


def test_sorted_search_field_and_function(spark, corpus, built):
    """sort= request param (SortSpecParsing.java): field sort, compound
    specs, function sorts, score key — replayed manually over the full
    scored docset."""
    eng = SearchEngine(spark, built, cfg=CFG)
    sd = {
        r["doc_id"]: r["score"]
        for r in eng.scored_docset("web data").collect()
    }
    doclens = {
        r["doc_id"]: r["doclen"]
        for r in eng.docs.select("doc_id", "doclen").collect()
    }

    # field sort asc: shortest matching docs first, doc_id tiebreak
    want = sorted(sd, key=lambda d: (doclens[d], d))[:8]
    got = eng.sorted_search("web data", sort="doclen asc", k=8).collect()
    assert [r["doc_id"] for r in got] == want
    # relevance score is still reported under field sort
    for r in got:
        assert abs(r["score"] - sd[r["doc_id"]]) < 1e-6

    # compound: doclen desc, then doc_id asc implicit tiebreak
    want2 = sorted(sd, key=lambda d: (-doclens[d], d))[:8]
    got2 = eng.sorted_search("web data", sort="doclen desc", k=8).collect()
    assert [r["doc_id"] for r in got2] == want2

    # sort=score desc == the default ranking
    got3 = eng.sorted_search("web data", sort="score desc", k=10).collect()
    base = eng.search("web data", k=10, prune=False).collect()
    assert [r["doc_id"] for r in got3] == [r["doc_id"] for r in base]

    # function sort: recip(doclen,1,1000,1) desc == doclen asc
    got4 = eng.sorted_search(
        "web data", sort="recip(doclen,1,1000,1) desc", k=8
    ).collect()
    assert [r["doc_id"] for r in got4] == want

    # start pages the sorted ranking with global ranks
    page = eng.sorted_search("web data", sort="doclen asc", k=3, start=3)
    rows = page.collect()
    assert [r["doc_id"] for r in rows] == want[3:6]
    assert [r["rank"] for r in rows] == [4, 5, 6]

    # fq composes: filtered membership, same ordering rule
    allowed = {r["doc_id"] for r in eng.docset("search").collect()}
    want_fq = sorted(
        (d for d in sd if d in allowed), key=lambda d: (doclens[d], d)
    )[:8]
    got_fq = eng.sorted_search(
        "web data", sort="doclen asc", k=8, fq=["search"]
    ).collect()
    assert [r["doc_id"] for r in got_fq] == want_fq


def test_dispatch_registry_tail(spark, corpus, built):
    """The rest of the QParser registry (QParserPlugin.java
    standardPlugins): {!fuzzy}, {!hash}, {!hash_range}, {!graphTerms},
    {!vectorSimilarity}, {!numericRange} dispatch for real; the
    request-context / unmodeled parsers raise their documented reason."""
    from pyspark.sql import functions as F

    from apache___solr_spark.query.localparams import dispatch_query

    eng = SearchEngine(spark, built, cfg=CFG)

    def ids(df):
        return [r["doc_id"] for r in df.collect()]

    # {!fuzzy} == the grammar's ~N expansion
    assert ids(dispatch_query(eng, "{!fuzzy f=text maxEdits=1}dta", k=10)) == ids(
        eng.search("dta~1", k=10)
    )

    # {!hash}: disjoint partitions covering all docs
    parts = [
        dispatch_query(eng, f"{{!hash workers=3 worker={w} keys=url}}")
        for w in range(3)
    ]
    counts = [p.count() for p in parts]
    assert sum(counts) == eng.docs.count() and all(c > 0 for c in counts)
    first = {r["doc_id"] for r in parts[0].collect()}
    second = {r["doc_id"] for r in parts[1].collect()}
    assert not (first & second)
    with pytest.raises(ValueError, match="workers"):
        dispatch_query(eng, "{!hash workers=1 worker=0 keys=url}")

    # {!hash_range}: half-open hash bands partition the docs
    lohalf = dispatch_query(eng, f"{{!hash_range f=url l=0 u={2**30}}}")
    hihalf = dispatch_query(
        eng, f"{{!hash_range f=url l={2**30 + 1} u={2**31 - 1}}}"
    )
    assert lohalf.count() + hihalf.count() == eng.docs.count()

    # {!graphTerms}: terms filter skipping high-df terms — with a tiny
    # cap every candidate term is skipped, so nothing matches
    rows = eng.dictionary.orderBy(F.col("df").desc()).limit(2).collect()
    head_term, head_df = rows[0]["term"], rows[0]["df"]
    got = dispatch_query(
        eng, f"{{!graphTerms f=text maxDocFreq={head_df}}}{head_term}", k=5
    )
    assert got.count() > 0
    assert (
        dispatch_query(
            eng, f"{{!graphTerms f=text maxDocFreq=0}}{head_term}", k=5
        ).count()
        == 0
    )

    # {!vectorSimilarity}: threshold query over the vectors table
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.8, 0.6]), (3, [0.0, 1.0]), (4, [-1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got_vs = dispatch_query(
        eng, "{!vectorSimilarity f=embedding minReturn=0.7}[1.0, 0.0]",
        vectors_df=vecs,
    ).collect()
    assert [r["vec_id"] for r in got_vs] == [1, 2]  # cos = 1.0, 0.8
    assert abs(got_vs[1]["cosine"] - 0.8) < 1e-9

    # {!numericRange}: range-field relationship criteria
    ranges = spark.createDataFrame(
        [(1, 100, 200), (2, 0, 300), (3, 150, 175), (4, 150, 250), (5, 400, 500)],
        "id long, lo long, hi long",
    )

    def nr(crit):
        return sorted(
            r["id"]
            for r in dispatch_query(
                eng,
                f'{{!numericRange criteria="{crit}" field=lo,hi}}[150 TO 200]',
                docs_df=ranges,
            ).collect()
        )

    assert nr("intersects") == [1, 2, 3, 4]
    assert nr("within") == [3]
    assert nr("contains") == [1, 2, 4]  # [150,250] contains [150,200]
    assert nr("crosses") == [1, 2, 4]

    # honest raises with the documented reason ({!min_hash}/{!payload_*}
    # now dispatch for real but need their specialized index builds)
    for q, msg in [
        ("{!min_hash}text", "analyzer='min_hash'"),
        ("{!payload_score f=text func=max}x", "payload side table"),
        ("{!vectorSimilarity f=v minReturn=0.5}[1.0]", "vectors_df"),
        ("{!numericRange field=lo,hi}[1 TO 2]", "docs_df"),
    ]:
        with pytest.raises(NotImplementedError, match=msg):
            dispatch_query(eng, q)


def test_maxscore_should_combine(spark, corpus, built):
    """{!maxscore} (MaxScoreQParserPlugin.java): SHOULD clauses combine as
    DisjunctionMax(tie) — max + tie*sum(others) — while MUST clauses keep
    their summed contribution.  Oracle: per-term score maps replayed in
    Python."""
    from apache___solr_spark.query.localparams import dispatch_query

    eng = SearchEngine(spark, built, cfg=CFG)

    def scores(term):
        return {
            r["doc_id"]: r["score"]
            for r in eng.search(term, k=N_DOCS, prune=False).collect()
        }

    s_web, s_data, s_search = scores("web"), scores("data"), scores("search")

    def topk(m, k=10):
        return sorted(m.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    # pure-SHOULD, tie=0: per-doc max of the clause scores
    want = topk(
        {
            d: max(s_web.get(d, 0.0), s_data.get(d, 0.0))
            for d in set(s_web) | set(s_data)
        }
    )
    got = eng.search("web data", k=10, should_combine="max").collect()
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_, sc) in zip(got, want):
        assert abs(r["score"] - sc) < 1e-5 * max(1.0, abs(sc))

    # tie=0.5: max + 0.5 * (sum - max)
    want_t = topk(
        {
            d: (lambda a, b: max(a, b) + 0.5 * (a + b - max(a, b)))(
                s_web.get(d, 0.0), s_data.get(d, 0.0)
            )
            for d in set(s_web) | set(s_data)
        }
    )
    got_t = dispatch_query(eng, "{!maxscore tie=0.5}web data", k=10).collect()
    assert [r["doc_id"] for r in got_t] == [d for d, _ in want_t]
    for r, (_, sc) in zip(got_t, want_t):
        assert abs(r["score"] - sc) < 1e-5 * max(1.0, abs(sc))

    # MUST + two SHOULDs: must sums, optionals dismax
    want_m = topk(
        {
            d: s_web[d]
            + max(s_data.get(d, 0.0), s_search.get(d, 0.0))
            for d in s_web
        }
    )
    got_m = eng.search(
        "+web data search", k=10, should_combine="max"
    ).collect()
    assert [r["doc_id"] for r in got_m] == [d for d, _ in want_m]

    # nested structure: the MaxScoreQParser rewrite touches only the TOP
    # BooleanQuery — each SHOULD subtree keeps sum semantics internally,
    # subtrees combine as DisjunctionMax(tie).  Oracle: every subtree
    # replayed through the ordinary evaluator, combined in Python.
    def sub_scores(q):
        return {
            r["doc_id"]: r["score"]
            for r in eng.search(q, k=N_DOCS, prune=False).collect()
        }

    g1 = sub_scores("web AND data")  # MUST-sum subtree
    g2 = sub_scores("search links")  # SHOULD-sum subtree
    want_n = topk(
        {
            d: (lambda a, b: max(a, b) + 0.3 * (a + b - max(a, b)))(
                g1.get(d, 0.0), g2.get(d, 0.0)
            )
            for d in set(g1) | set(g2)
        }
    )
    got_n = eng.search(
        "(web AND data) (search links)", k=10, should_combine="max", tie=0.3
    ).collect()
    assert [r["doc_id"] for r in got_n] == [d for d, _ in want_n]
    for r, (_, sc) in zip(got_n, want_n):
        assert abs(r["score"] - sc) < 1e-5 * max(1.0, abs(sc))

    # MUST + nested SHOULD group: must sums, the group dismaxes as one unit
    want_nm = topk(
        {d: s_web[d] + g2.get(d, 0.0) for d in s_web}
    )
    got_nm = eng.search(
        "+web (search links)", k=10, should_combine="max"
    ).collect()
    assert [r["doc_id"] for r in got_nm] == [d for d, _ in want_nm]
    for r, (_, sc) in zip(got_nm, want_nm):
        assert abs(r["score"] - sc) < 1e-5 * max(1.0, abs(sc))


def test_simple_query_parser(spark, corpus, built):
    """{!simple} (SimpleQParserPlugin -> Lucene SimpleQueryParser): the
    never-throws end-user grammar — checked against equivalent classic
    queries, plus the degradation contract on malformed input."""
    from apache___solr_spark.query.localparams import dispatch_query

    eng = SearchEngine(spark, built, cfg=CFG)

    def ids(df):
        return [r["doc_id"] for r in df.collect()]

    def simple(q, k=30, **p):
        extra = " ".join(f"{k2}={v2}" for k2, v2 in p.items())
        return dispatch_query(eng, f"{{!simple {extra}}}{q}", k=k)

    k = 30
    # whitespace = default OR; + = AND; | = OR; - = NOT
    assert ids(simple("web data")) == ids(eng.search("web data", k=k))
    assert ids(simple("web + data")) == ids(eng.search("web AND data", k=k))
    assert ids(simple("data -web")) == ids(eng.search("data -web", k=k))
    # left fold with operator-change wrapping
    assert ids(simple("web + data | search")) == ids(
        eng.search("(web AND data) OR search", k=k)
    )
    assert ids(simple("web | data + search")) == ids(
        eng.search("(web OR data) AND search", k=k)
    )
    # parens override the fold
    assert ids(simple("web + (data | search)")) == ids(
        eng.search("web AND (data OR search)", k=k)
    )
    # phrase + slop, prefix, fuzzy
    assert ids(simple('"web data" + search')) == ids(
        eng.search('+"web data" +search', k=k)
    )
    assert ids(simple("dat* | web")) == ids(eng.search("dat* web", k=k))
    assert ids(simple("dta~1")) == ids(eng.search("dta~1", k=k))
    # q.op=AND switches the whitespace operator
    assert ids(simple("web data", **{"q.op": "AND"})) == ids(
        eng.search("web AND data", k=k)
    )
    # degradation: unclosed paren/quote, dangling ops, stray close — the
    # parser NEVER raises and keeps the parseable prefix's semantics
    assert ids(simple("web (data")) == ids(eng.search("web data", k=k))
    assert ids(simple("web +")) == ids(eng.search("web", k=k))
    assert ids(simple(') web "data')) == ids(eng.search("web data", k=k))
    assert simple("| | -").count() == 0  # nothing parseable -> empty
    # pure negation matches nothing (Lucene BooleanQuery contract)
    assert simple("-web").count() == 0


def test_rank_qparser(spark, corpus, built):
    """{!rank} (RankQParserPlugin.java / Lucene FeatureField): satu /
    linear / log / sigm scoring over a precomputed numeric column,
    replayed in Python."""
    import math

    from apache___solr_spark.query.localparams import dispatch_query

    eng = SearchEngine(spark, built, cfg=CFG)
    doclens = {
        r["doc_id"]: r["doclen"]
        for r in eng.docs.select("doc_id", "doclen").collect()
    }

    def want(fn, k=5):
        scored = sorted(
            ((fn(v), d) for d, v in doclens.items()),
            key=lambda t: (-t[0], t[1]),
        )[:k]
        return [d for _, d in scored], [s for s, _ in scored]

    cases = [
        ("{!rank f=doclen function=satu pivot=50 weight=2}",
         lambda v: 2.0 * v / (v + 50.0)),
        ("{!rank f=doclen function=linear weight=0.5}", lambda v: 0.5 * v),
        ("{!rank f=doclen function=log scalingFactor=3}",
         lambda v: math.log(3.0 + v)),
        ("{!rank f=doclen function=sigm pivot=40 exponent=2}",
         lambda v: v**2 / (v**2 + 40.0**2)),
    ]
    for q, fn in cases:
        got = dispatch_query(eng, q, k=5).collect()
        ids_w, scores_w = want(fn)
        assert [r["doc_id"] for r in got] == ids_w, q
        for r, sw in zip(got, scores_w):
            assert abs(r["score"] - sw) < 1e-9 * max(1.0, abs(sw)), q

    with pytest.raises(ValueError, match="pivot"):
        dispatch_query(eng, "{!rank f=doclen function=satu weight=2}")


def test_request_param_refs_and_filters(spark, corpus, built):
    """$param dereference (QueryParsing request-parameter macros),
    {!query v=$q1} nesting, and {!filters param=$fqs excludeTags=}."""
    from apache___solr_spark.query.localparams import dispatch_query

    eng = SearchEngine(spark, built, cfg=CFG)

    def ids(df):
        return [r["doc_id"] for r in df.collect()]

    # {!query v=$qq} == dispatching the referenced query directly
    req = {"qq": "web AND data", "rq": "{!term f=text}web"}
    assert ids(dispatch_query(eng, "{!query v=$qq}", request=req)) == ids(
        eng.search("web AND data", k=10)
    )
    # nesting: the referenced value is itself a local-params query
    assert ids(dispatch_query(eng, "{!query v=$rq}", request=req)) == ids(
        dispatch_query(eng, "{!term f=text}web")
    )
    # without a request context, $refs raise the documented error
    with pytest.raises(NotImplementedError, match="request-parameter"):
        dispatch_query(eng, "{!query v=$qq}")
    with pytest.raises(ValueError, match="missing request parameter"):
        dispatch_query(eng, "{!query v=$nope}", request=req)

    # {!filters}: tagged filter list, excludeTags drops by tag
    req2 = {"fqs": ["{!tag=t1}data", "{!tag=t2}engine"]}
    base = eng.search("web search", k=N_DOCS, prune=False).collect()
    d_data = {r["doc_id"] for r in eng.docset("data").collect()}
    d_eng = {r["doc_id"] for r in eng.docset("engine").collect()}
    got_all = dispatch_query(
        eng, "{!filters param=$fqs}web search", k=10, request=req2
    )
    want_all = [
        r["doc_id"] for r in base if r["doc_id"] in (d_data & d_eng)
    ][:10]
    assert ids(got_all) == want_all
    got_ex = dispatch_query(
        eng,
        "{!filters param=$fqs excludeTags=t2}web search",
        k=10,
        request=req2,
    )
    want_ex = [r["doc_id"] for r in base if r["doc_id"] in d_data][:10]
    assert ids(got_ex) == want_ex
    # filter-only form: constant-score DocSet intersection
    got_fo = dispatch_query(eng, "{!filters param=$fqs}", request=req2)
    rows_fo = got_fo.collect()
    assert sorted(r["doc_id"] for r in rows_fo) == sorted(d_data & d_eng)
    assert all(r["score"] == 1.0 for r in rows_fo)


def test_xml_qparser(spark, corpus, built):
    """{!xml} (XmlQParserPlugin -> lucene CoreParser builders): every
    supported element matches its classic-grammar / engine-API twin."""
    from apache___solr_spark.query.localparams import dispatch_query

    eng = SearchEngine(spark, built, cfg=CFG)

    def ids(df):
        return [r["doc_id"] for r in df.collect()]

    def scored(df):
        return [(r["doc_id"], round(float(r["score"]), 4)) for r in df.collect()]

    # TermQuery == {!term} (verbatim term, no analysis)
    assert ids(dispatch_query(eng, "{!xml}<TermQuery>web</TermQuery>", k=5)) == ids(
        dispatch_query(eng, "{!term f=text}web", k=5)
    )

    # BooleanQuery occurs=must|should|mustNot == classic +/-/bare
    xml = (
        "<BooleanQuery>"
        '<Clause occurs="must"><TermQuery>web</TermQuery></Clause>'
        '<Clause occurs="should"><TermQuery>data</TermQuery></Clause>'
        '<Clause occurs="mustNot"><TermQuery>engine</TermQuery></Clause>'
        "</BooleanQuery>"
    )
    assert scored(dispatch_query(eng, "{!xml}" + xml, k=10)) == scored(
        eng.search("+web data -engine", k=10)
    )

    # occurs=filter: required but zero score contribution == fq semantics
    xmlf = (
        "<BooleanQuery>"
        '<Clause occurs="must"><TermQuery>web</TermQuery></Clause>'
        '<Clause occurs="filter"><TermQuery>data</TermQuery></Clause>'
        "</BooleanQuery>"
    )
    assert scored(dispatch_query(eng, "{!xml}" + xmlf, k=10)) == scored(
        eng.search("web", k=10, fq=["{!term f=text}data"])
    )

    # UserQuery: classic grammar incl. phrases; nested under a boolean
    assert ids(
        dispatch_query(eng, '{!xml}<UserQuery>"web data" OR engine</UserQuery>', k=8)
    ) == ids(eng.search('"web data" OR engine', k=8))

    # TermsQuery: analyzed text -> SHOULD group
    assert ids(
        dispatch_query(eng, "{!xml}<TermsQuery>Web DATA</TermsQuery>", k=8)
    ) == ids(eng.search("web data", k=8))

    # Range builders == classic [lo TO hi]
    assert ids(
        dispatch_query(
            eng, '{!xml}<PointRangeQuery lowerTerm="data" upperTerm="web"/>', k=5
        )
    ) == ids(eng.search("[data TO web]", k=5))

    # MatchAllDocsQuery: every live doc, constant boost score
    rows = dispatch_query(
        eng, '{!xml}<MatchAllDocsQuery boost="3.0"/>', k=N_DOCS + 10
    ).collect()
    assert len(rows) == N_DOCS and all(r["score"] == 3.0 for r in rows)

    # ConstantScoreQuery: wrapped DocSet at boost score
    rows = dispatch_query(
        eng,
        '{!xml}<ConstantScoreQuery boost="2.5">'
        "<TermQuery>web</TermQuery></ConstantScoreQuery>",
        k=N_DOCS,
    ).collect()
    want = sorted(r["doc_id"] for r in eng.docset("web").collect())
    assert sorted(r["doc_id"] for r in rows) == want
    assert all(r["score"] == 2.5 for r in rows)

    # SpanNear over SpanTerms == engine.span_near (slop n == dist n+1)
    assert scored(
        dispatch_query(
            eng,
            '{!xml}<SpanNear slop="1" inOrder="true">'
            "<SpanTerm>web</SpanTerm><SpanTerm>data</SpanTerm></SpanNear>",
            k=5,
        )
    ) == scored(eng.span_near(["web", "data"], dist=2, ordered=True, k=5))

    # DisjunctionMaxQuery: tie=0 max-combine; tie=1 folds to SHOULD sum
    assert scored(
        dispatch_query(
            eng,
            "{!xml}<DisjunctionMaxQuery><TermQuery>web</TermQuery>"
            "<TermQuery>data</TermQuery></DisjunctionMaxQuery>",
            k=5,
        )
    ) == scored(eng.search("web data", k=5, should_combine="max", tie=0.0))
    assert ids(
        dispatch_query(
            eng,
            '{!xml}<DisjunctionMaxQuery tieBreaker="1.0">'
            "<TermQuery>web</TermQuery><TermQuery>data</TermQuery>"
            "</DisjunctionMaxQuery>",
            k=5,
        )
    ) == ids(eng.search("web data", k=5))

    # fq composes with the tree path
    assert ids(
        dispatch_query(eng, "{!xml}<TermQuery>web</TermQuery>", k=10, fq=["data"])
    ) == ids(eng.search("web", k=10, fq=["data"]))

    # honest raises
    for q, msg in [
        ("{!xml}<SpanOr><SpanTerm>a</SpanTerm></SpanOr>", "span algebra"),
        ("{!xml}<BoostingTermQuery>web</BoostingTermQuery>", "payload"),
        (
            '{!xml}<PointRangeQuery lowerTerm="a" upperTerm="b" '
            'includeLower="false"/>',
            "inclusivity",
        ),
        ('{!xml}<TermQuery fieldName="title">a</TermQuery>', "single-field"),
    ]:
        with pytest.raises(NotImplementedError, match=msg):
            dispatch_query(eng, q)


def test_export_qparser(spark, corpus, built):
    """{!export sort= fl=}: the FULL sorted DocSet (no top-k), the
    ExportWriter capability as one external sort."""
    from apache___solr_spark.query.localparams import dispatch_query

    eng = SearchEngine(spark, built, cfg=CFG)
    out = dispatch_query(
        eng, "{!export sort='doc_id desc' fl=doc_id,url}web AND data"
    )
    assert out.columns == ["doc_id", "url"]
    got = [r["doc_id"] for r in out.collect()]
    want = sorted(
        (r["doc_id"] for r in eng.docset("web AND data").collect()),
        reverse=True,
    )
    assert got == want and len(got) > 10  # full set, not top-k
    # fq intersects before the sort
    got_fq = [
        r["doc_id"]
        for r in dispatch_query(
            eng, "{!export sort='doc_id asc' fl=doc_id}web", fq=["data"]
        ).collect()
    ]
    inter = {r["doc_id"] for r in eng.docset("web AND data").collect()}
    assert got_fq == sorted(inter)


@pytest.fixture(scope="module")
def mh_built(spark, corpus, tmp_path_factory):
    """Min-hash index over long docs plus planted near-duplicates
    (tail-truncated copies) so similarity results are non-vacuous."""
    import pandas as pd
    import pyarrow as pa

    _, table = corpus
    tbl = table.to_pandas()
    long = (
        tbl[tbl.text.map(lambda t: t is not None and len(str(t).split()) >= 60)]
        .head(40)
        .copy()
    )
    dups = long.head(5).copy()
    dups["text"] = dups["text"].map(lambda t: " ".join(str(t).split()[:-8]))
    dups["url"] = dups["url"] + "#dup"
    pages = pd.concat([long, dups], ignore_index=True)
    d = tmp_path_factory.mktemp("mh")
    path = str(d / "pages.parquet")
    pq.write_table(pa.Table.from_pandas(pages, preserve_index=False), path)
    idx = str(d / "idx")
    cfg = IndexConfig(
        analyzer="min_hash",
        store_positions=False,
        salt_range=128,
        n_buckets=8,
    )
    build_index(spark, path, idx, cfg=cfg)
    return pages, idx, cfg


def test_minhash_qparser(spark, corpus, built, mh_built):
    """{!min_hash} (MinHashQParser): signature, Jaccard estimate vs the
    exact shingle-set oracle, LSH banding gate, honest raises."""
    from apache___solr_spark.analysis.chain import simple_analyze
    from apache___solr_spark.analysis.minhash import (
        BUCKETS,
        SHINGLE_WORDS,
        compute_band_size,
        minhash_analyze,
    )
    from apache___solr_spark.query.localparams import dispatch_query

    pages, idx, cfg = mh_built
    eng = SearchEngine(spark, idx, cfg=cfg)
    by_url = {r["url"]: str(r["text"] or "") for _, r in pages.iterrows()}
    src = pages.iloc[0]  # has a planted "#dup" twin

    # fixed-size signature (rotation fills every bucket)
    assert len(minhash_analyze(src["text"])) == BUCKETS
    assert minhash_analyze("too short") == []

    # self-match at estimate 1.0; the planted near-dup in the top 2
    top = dispatch_query(eng, "{!min_hash}" + src["text"], k=5).collect()
    assert top[0]["url"] == src["url"] and top[0]["score"] == 1.0
    assert top[1]["url"] == src["url"] + "#dup" and top[1]["score"] > 0.5

    # estimate vs exact Jaccard of the underlying shingle sets
    def shingles(t):
        w = simple_analyze(t)
        return {
            " ".join(w[i : i + SHINGLE_WORDS])
            for i in range(len(w) - SHINGLE_WORDS + 1)
        }

    qs = shingles(src["text"])
    for r in top:
        ds = shingles(by_url[r["url"]])
        exact = len(qs & ds) / len(qs | ds)
        assert abs(float(r["score"]) - exact) < 0.12

    # banding: candidates are a subset of the ungated set; the truly
    # similar docs (self + near-dup) survive the sim=0.5 tp=0.5 gate
    all_ids = {
        r["url"]
        for r in dispatch_query(eng, "{!min_hash}" + src["text"], k=100).collect()
    }
    gated = {
        r["url"]
        for r in dispatch_query(
            eng, "{!min_hash sim=0.5 tp=0.5}" + src["text"], k=100
        ).collect()
    }
    assert gated <= all_ids
    assert {src["url"], src["url"] + "#dup"} <= gated

    # band size math: selective for high sim, degenerate (1) for tp=1
    assert compute_band_size(512, 0.8, 0.5) > 1
    assert compute_band_size(512, 0.8, 1.0) == 1

    # sep=: querying back a pre-hashed signature equals analyzing the text
    sig = ",".join(minhash_analyze(src["text"]))
    got_sep = dispatch_query(
        eng, "{!min_hash sep=,}" + sig, k=5, request=None
    ).collect()
    assert [r["url"] for r in got_sep] == [r["url"] for r in top]
    assert got_sep[0]["score"] == 1.0

    # honest raises
    with pytest.raises(NotImplementedError, match="min_hash"):
        dispatch_query(eng, "{!min_hash fq=x}t", fq=["a"])
    eng_std = SearchEngine(spark, built, cfg=CFG)
    with pytest.raises(NotImplementedError, match="analyzer='min_hash'"):
        dispatch_query(eng_std, "{!min_hash}some text")


@pytest.fixture(scope="module")
def payload_built(spark, tmp_path_factory):
    """whitespace_payload index over a synthetic `term|payload` corpus,
    with a planted exact-payload phrase pair for payload_check."""
    import random

    import pandas as pd
    import pyarrow as pa

    rng = random.Random(3)
    vocab = ["apple", "banana", "cherry", "durian", "elder", "fig", "grape"]
    rows = []
    for i in range(120):
        toks = []
        for _ in range(rng.randint(20, 60)):
            w = rng.choice(vocab)
            toks.append(
                f"{w}|{round(rng.uniform(0.1, 5.0), 2)}"
                if rng.random() < 0.7
                else w
            )
        rows.append(
            {
                "url": f"u{i}",
                "warc_ts": "2026",
                "html": None,
                "text": " ".join(toks),
                "lang": "en",
            }
        )
    rows.append(
        {
            "url": "uX",
            "warc_ts": "2026",
            "html": None,
            "text": "red|1.5 apple|2.5 tail words here fine now",
            "lang": "en",
        }
    )
    rows.append(
        {
            "url": "uY",
            "warc_ts": "2026",
            "html": None,
            "text": "red|9.0 apple|2.5 tail words here fine now",
            "lang": "en",
        }
    )
    d = tmp_path_factory.mktemp("payload")
    path = str(d / "pages.parquet")
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame(rows), preserve_index=False), path
    )
    idx = str(d / "idx")
    cfg = IndexConfig(
        analyzer="whitespace_payload",
        salt_range=128,
        n_buckets=8,
    )
    build_index(spark, path, idx, cfg=cfg)
    return rows, idx, cfg


def test_payload_qparsers(spark, built, payload_built):
    """{!payload_score} / {!payload_check} vs a pure-Python payload
    oracle over the same corpus."""
    from apache___solr_spark.query.localparams import dispatch_query

    rows, idx, cfg = payload_built
    eng = SearchEngine(spark, idx, cfg=cfg)

    def split(t):
        # payload None == missing (the engine stores NaN there and skips
        # such positions, like Lucene's null payloads)
        out = []
        for raw in t.split():
            term, _, pay = raw.partition("|")
            out.append((term.lower(), float(pay) if pay else None))
        return out

    docs = {r["url"]: split(r["text"]) for r in rows}

    # func=max over a term: every doc containing it; missing payloads
    # are skipped, a doc with only payload-less occurrences scores 0
    got = {
        r["url"]: round(float(r["score"]), 4)
        for r in dispatch_query(
            eng, "{!payload_score f=text func=max}apple", k=500
        ).collect()
    }
    want = {}
    for u, d in docs.items():
        occ = [p for t, p in d if t == "apple"]
        if occ:
            vals = [p for p in occ if p is not None]
            want[u] = round(float(np.float32(max(vals))), 4) if vals else 0.0
    assert got == want and len(got) > 50  # non-vacuous

    # func=min must NOT collapse to 0.0 on mixed payload/no-payload docs
    got_min = {
        r["url"]: round(float(r["score"]), 4)
        for r in dispatch_query(
            eng, "{!payload_score f=text func=min}apple", k=500
        ).collect()
    }
    want_min = {}
    for u, d in docs.items():
        occ = [p for t, p in d if t == "apple"]
        if occ:
            vals = [p for p in occ if p is not None]
            want_min[u] = (
                round(float(np.float32(min(vals))), 4) if vals else 0.0
            )
    assert got_min == want_min
    assert any(v > 0 for v in want_min.values())

    # func=sum accumulates every PAYLOADED occurrence (float32 tolerance)
    got = {
        r["url"]: float(r["score"])
        for r in dispatch_query(
            eng, "{!payload_score f=text func=sum}banana", k=500
        ).collect()
    }
    for u, v in got.items():
        exact = float(
            np.sum(
                np.asarray(
                    [
                        p
                        for t, p in docs[u]
                        if t == "banana" and p is not None
                    ],
                    np.float32,
                )
            )
        )
        assert abs(v - exact) < 1e-3
    assert set(got) == {
        u for u, d in docs.items() if any(t == "banana" for t, _ in d)
    }

    # operator=or: every occurrence of either term is its own span
    got_or = {
        r["url"]: round(float(r["score"]), 4)
        for r in dispatch_query(
            eng,
            "{!payload_score f=text func=max operator=or}apple banana",
            k=500,
        ).collect()
    }
    want_or = {}
    for u, d in docs.items():
        occ = [p for t, p in d if t in ("apple", "banana")]
        if occ:
            vals = [p for p in occ if p is not None]
            want_or[u] = (
                round(float(np.float32(max(vals))), 4) if vals else 0.0
            )
    assert got_or == want_or and len(want_or) >= len(want)

    # payload_check: exact per-position payloads select the planted doc
    got = [
        r["url"]
        for r in dispatch_query(
            eng, '{!payload_check f=text payloads="1.5 2.5"}red apple', k=10
        ).collect()
    ]
    assert got == ["uX"]
    assert (
        dispatch_query(
            eng, '{!payload_check f=text payloads="7.7 2.5"}red apple', k=10
        ).count()
        == 0
    )

    # includeSpanScore keeps the doc set, scales by the span BM25
    spanned = dispatch_query(
        eng,
        "{!payload_score f=text func=max includeSpanScore=true}apple",
        k=500,
    ).collect()
    assert {r["url"] for r in spanned} == set(want)

    # payload_check op=gt: 9.0 > 1.5 selects only the uY twin
    got = [
        r["url"]
        for r in dispatch_query(
            eng,
            '{!payload_check f=text payloads="1.6 2.0" op=gt}red apple',
            k=10,
        ).collect()
    ]
    assert got == ["uY"]

    # XML BoostingTermQuery == payload_score(average, includeSpanScore)
    bt = dispatch_query(
        eng, "{!xml}<BoostingTermQuery>apple</BoostingTermQuery>", k=20
    ).collect()
    ps = eng.payload_score(
        "apple", func="average", include_span_score=True, k=20
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in bt] == [
        (r["doc_id"], r["score"]) for r in ps
    ] and len(bt) == 20
    # the XML boost attribute scales the payload score
    bt2 = dispatch_query(
        eng,
        '{!xml}<BoostingTermQuery boost="2.0">apple</BoostingTermQuery>',
        k=20,
    ).collect()
    assert [
        (r["doc_id"], round(float(r["score"]), 3)) for r in bt2
    ] == [(r["doc_id"], round(float(r["score"]) * 2.0, 3)) for r in bt]

    # honest raises
    with pytest.raises(ValueError, match="payloads count"):
        eng.payload_check("red apple", [1.0])
    with pytest.raises(ValueError, match="payload func"):
        eng.payload_score("apple", func="median")
    with pytest.raises(ValueError, match="requires func"):
        dispatch_query(eng, "{!payload_score f=text}apple")
    eng_std = SearchEngine(spark, built, cfg=CFG)
    with pytest.raises(NotImplementedError, match="payload side table"):
        eng_std.payload_score("apple")


def test_xml_span_nests_in_boolean(spark, corpus, built):
    """An ordered <SpanNear> lowers to a window-semantics PhraseNode, so
    it composes inside <BooleanQuery> clauses like any phrase — and keeps
    SpanNearQuery (ordered-window) counting even though classic sloppy
    phrases score with SloppyPhraseMatcher weighting (the BoolQuery with
    a ``PhraseNode(window=True)`` is the exact twin)."""
    import xml.etree.ElementTree as ET

    from apache___solr_spark.query.localparams import dispatch_query
    from apache___solr_spark.query.parser import (
        BoolChild,
        BoolQuery,
        PhraseNode,
        TermNode,
    )
    from apache___solr_spark.query.xmlparser import _lower

    eng = SearchEngine(spark, built, cfg=CFG)
    xml = (
        "<BooleanQuery>"
        '<Clause occurs="must"><SpanNear slop="1" inOrder="true">'
        "<SpanTerm>web</SpanTerm><SpanTerm>data</SpanTerm></SpanNear></Clause>"
        '<Clause occurs="should"><TermQuery>engine</TermQuery></Clause>'
        "</BooleanQuery>"
    )
    got = [
        (r["doc_id"], round(float(r["score"]), 4))
        for r in dispatch_query(eng, "{!xml}" + xml, k=10).collect()
    ]
    twin = BoolQuery(
        [
            BoolChild("MUST", PhraseNode(["web", "data"], slop=1, window=True)),
            BoolChild("SHOULD", TermNode("engine")),
        ]
    )
    want = [
        (r["doc_id"], round(float(r["score"]), 4))
        for r in eng.search(twin, k=10).collect()
    ]
    assert got == want and len(got) > 0
    # the span clause is UNCHANGED by classic sloppy-phrase semantics: its
    # lowering is a window node, and searching that lowered tree directly
    # gives the same page
    lowered = _lower(ET.fromstring(xml), eng._analyze)
    spans = [
        ch.node for ch in lowered.children if isinstance(ch.node, PhraseNode)
    ]
    assert spans and all(n.window for n in spans)
    got_w = [
        (r["doc_id"], round(float(r["score"]), 4))
        for r in eng.search(lowered, k=10).collect()
    ]
    assert got == got_w


def test_significant_terms_and_mlt_content(spark, corpus, built):
    """{!significantTerms} vs an exact python oracle (reference collector
    formula, SignificantTermsQParserPlugin.java:247-249) and
    {!mlt_content} free-text MLT."""
    import collections

    from apache___solr_spark.analysis.chain import analyze, extract_text
    from apache___solr_spark.query.localparams import dispatch_query

    _, table = corpus
    tbl = table.to_pandas()
    eng = SearchEngine(spark, built, cfg=CFG)

    res = dispatch_query(
        eng,
        "{!significantTerms numTerms=10 minDocFreq=3 maxDocFreq=0.5 "
        "minTermLength=4}web",
    ).collect()
    assert len(res) == 10

    doc_terms = {
        row["url"]: set(analyze(extract_text(row["html"], row["text"])))
        for _, row in tbl.iterrows()
    }
    fg = {u for u, ts in doc_terms.items() if "web" in ts}
    n = len(doc_terms)
    df = collections.Counter(t for ts in doc_terms.values() for t in ts)
    cands = []
    for t, d in df.items():
        if d < 3 or d / n > 0.5 or len(t) < 4:
            continue
        qdf = sum(1 for u in fg if t in doc_terms[u])
        if qdf:
            s = math.log(qdf) * (math.log((n + 1) / (d + 1)) + 1.0)
            cands.append((round(-s, 4), t, qdf, d))
    cands.sort()
    want = [(t, q, d, round(-s, 4)) for s, t, q, d in cands[:10]]
    got = [
        (r["term"], r["queryDocFreq"], r["docFreq"], round(r["score"], 4))
        for r in res
    ]
    assert got == want

    # mlt_content on a doc's own text ranks that doc first
    r0 = tbl.iloc[3]
    content = extract_text(r0["html"], r0["text"])
    hits = dispatch_query(
        eng, "{!mlt_content maxqt=8}" + content, k=8
    ).collect()
    src_id = eng.docs.filter(F.col("url") == r0["url"]).collect()[0]["doc_id"]
    assert hits and hits[0]["doc_id"] == src_id

    with pytest.raises(ValueError, match="foreground"):
        dispatch_query(eng, "{!significantTerms}")


def test_payload_add_docs(spark, payload_built, tmp_path):
    """add_docs on a payload index grows the payload side table — an
    incrementally added doc is visible to payload queries."""
    import shutil

    import pandas as pd

    from apache___solr_spark.index.updates import add_docs
    from apache___solr_spark.query.localparams import dispatch_query

    rows, idx, cfg = payload_built
    idx2 = str(tmp_path / "idx_copy")
    shutil.copytree(idx, idx2)
    batch = spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "url": "uNEW",
                    "warc_ts": "2026",
                    "html": None,
                    "text": "zebra|7.5 apple|0.25 words words again",
                    "lang": "en",
                }
            ]
        )
    )
    add_docs(spark, idx2, batch, cfg=cfg)
    eng = SearchEngine(spark, idx2, cfg=cfg)
    got = {
        r["url"]: round(float(r["score"]), 4)
        for r in dispatch_query(
            eng, "{!payload_score f=text func=max}zebra", k=10
        ).collect()
    }
    assert got == {"uNEW": 7.5}


def test_json_request_api(spark, corpus, built):
    """JSON Request API (RequestUtil + JsonQueryConverter): every query
    form matches its classic / dispatch twin through the one execution
    path."""
    from apache___solr_spark.query.json_request import json_request
    from apache___solr_spark.query.localparams import dispatch_query

    eng = SearchEngine(spark, built, cfg=CFG)

    def ids(df):
        return [r["doc_id"] for r in df.collect()]

    def scored(df):
        return [
            (r["doc_id"], round(float(r["score"]), 4)) for r in df.collect()
        ]

    # string / parser-object / scalar-body forms
    assert ids(json_request(eng, {"query": "web AND data", "limit": 5})) == ids(
        eng.search("web AND data", k=5)
    )
    assert ids(
        json_request(
            eng, {"query": {"term": {"f": "text", "query": "web"}}, "limit": 5}
        )
    ) == ids(dispatch_query(eng, "{!term f=text}web", k=5))
    assert ids(
        json_request(eng, {"query": {"lucene": "web data"}, "limit": 5})
    ) == ids(eng.search("web data", k=5))

    # bool composition: filter occur is REQUIRED but non-scoring (== fq)
    req = {
        "query": {
            "bool": {
                "must": ["web"],
                "filter": ["data"],
                "must_not": ["engine"],
            }
        },
        "limit": 10,
    }
    assert scored(json_request(eng, req)) == scored(
        eng.search("web -engine", k=10, fq=["data"])
    )

    # param macro + filter list + offset paging + fields projection
    req = {
        "query": {"param": "qq"},
        "filter": ["data"],
        "limit": 5,
        "params": {"qq": "web"},
    }
    assert ids(json_request(eng, req)) == ids(eng.search("web", k=5, fq=["data"]))
    page = json_request(
        eng, {"query": "web", "limit": 3, "offset": 2, "fields": "doc_id,score"}
    )
    assert page.columns == ["doc_id", "score"]
    assert [r["doc_id"] for r in page.collect()] == ids(eng.search("web", k=5))[
        2:5
    ]

    # sort routes to the TopFieldCollector path; *:* default matches all
    assert ids(
        json_request(eng, {"query": "web", "sort": "doclen asc", "limit": 5})
    ) == ids(eng.sorted_search("web", "doclen asc", k=5))
    assert json_request(eng, {"limit": N_DOCS + 10}).count() == N_DOCS
    page2 = json_request(eng, {"limit": 3, "offset": 2}).collect()
    assert [r["rank"] for r in page2] == [3, 4, 5]  # *:* offset pages too

    # offset works for parser branches with no start kwarg (rank slice)
    deep = json_request(
        eng,
        {"query": {"term": {"f": "text", "query": "web"}}, "limit": 3,
         "offset": 2},
    ).collect()
    base = dispatch_query(eng, "{!term f=text}web", k=5).collect()
    assert [(r["doc_id"], r["rank"]) for r in deep] == [
        (r["doc_id"], r["rank"]) for r in base[2:5]
    ]

    # honest raises
    with pytest.raises(NotImplementedError, match="parser-object"):
        json_request(
            eng,
            {"query": {"bool": {"must": [{"term": {"f": "text", "query": "x"}}]}}},
        )
    with pytest.raises(ValueError, match="unknown"):
        json_request(eng, {"query": "web", "rows": 5})


def test_offset_paging_prune_sound(spark, corpus, built):
    """Offset paging with theta pruning ON must equal the unpruned full
    ranking's slice — the theta bound has to cover the collector depth
    start+k, not just the page size k (regression: deep pages silently
    dropped true rank-(start+i) hits)."""
    eng = SearchEngine(spark, built, cfg=CFG)
    full = [
        (r["doc_id"], round(float(r["score"]), 5))
        for r in eng.search("web", k=12, prune=False).collect()
    ]
    for start, k in ((2, 3), (5, 5), (9, 3)):
        page = [
            (r["doc_id"], round(float(r["score"]), 5))
            for r in eng.search("web", k=k, start=start, prune=True).collect()
        ]
        assert page == full[start : start + k], (start, k)


def test_bool_filter_occur_non_scoring(spark, corpus, built):
    """{!bool filter=} is Occur.FILTER — required but non-scoring
    (BoolQParser.java): equals the same query with the clause as fq."""
    from apache___solr_spark.query.localparams import dispatch_query

    eng = SearchEngine(spark, built, cfg=CFG)
    got = [
        (r["doc_id"], round(float(r["score"]), 4))
        for r in dispatch_query(
            eng, '{!bool must="web" filter="data"}', k=10
        ).collect()
    ]
    want = [
        (r["doc_id"], round(float(r["score"]), 4))
        for r in eng.search("web", k=10, fq=["data"]).collect()
    ]
    assert got == want and len(got) > 0


def test_json_facet_request(spark, corpus, built):
    """JSON Request API facet section: facets over the query+filter
    domain equal a manual groupBy over the same docset."""
    import collections

    from apache___solr_spark.query.json_request import json_facet_request

    eng = SearchEngine(spark, built, cfg=CFG)
    req = {
        "query": "web",
        "filter": ["data"],
        "facet": {
            "by_len": {
                "type": "terms",
                "field": "doclen",
                "limit": 5,
                "facet": {"max_doc": "max(doc_id)"},
            }
        },
    }
    out = json_facet_request(eng, req)
    got = [
        (r["doclen"], r["count"], r["max_doc"])
        for r in out["by_len"].collect()
    ]

    dom = {r["doc_id"] for r in eng.docset("web AND data").collect()}
    rows = [
        (r["doclen"], r["doc_id"])
        for r in eng.docs.collect()
        if r["doc_id"] in dom
    ]
    cnt = collections.Counter(dl for dl, _ in rows)
    mx = {}
    for dl, did in rows:
        mx[dl] = max(mx.get(dl, -1), did)
    want = sorted(
        ((dl, c, mx[dl]) for dl, c in cnt.items()),
        key=lambda x: (-x[1], x[0]),
    )[:5]
    assert got == want and len(got) == 5


def test_nested_span_tree_matches_oracle(spark, built, oracle_idx):
    """Nested surround operators — SpanNear nesting SpanNear — vs the
    independent exhaustive-enumeration oracle (oracle_span_tree uses
    itertools.product; the engine a DP combiner).  Also: a degenerate
    flat tree scores identically to span_near, and nesting with a wide
    budget relaxes to the flat doc set."""
    from apache___solr_spark.oracle import oracle_span_tree
    from apache___solr_spark.query.localparams import dispatch_query

    eng = SearchEngine(spark, built, cfg=CFG)

    def run(q, k=25):
        return [
            (r["rank"], r["doc_id"], round(r["score"], 5))
            for r in dispatch_query(eng, "{!surround}" + q, k=k).collect()
        ]

    def want(slot_tree, slots, k=25):
        return [
            (h["rank"], h["doc_id"], round(h["score"], 5))
            for h in oracle_span_tree(oracle_idx, slot_tree, slots, k=k)
        ]

    cases = [
        (
            "6W(web, 4N(page, data))",
            ("near", 6, True, [
                ("slot", 0),
                ("near", 4, False, [("slot", 1), ("slot", 2)]),
            ]),
            [("web",), ("page",), ("data",)],
        ),
        (
            "8N(3W(web, page), data)",
            ("near", 8, False, [
                ("near", 3, True, [("slot", 0), ("slot", 1)]),
                ("slot", 2),
            ]),
            [("web",), ("page",), ("data",)],
        ),
        (
            # depth 3: near inside near inside near
            "10N(6W(web, 4N(page, data)), aaa)",
            ("near", 10, False, [
                ("near", 6, True, [
                    ("slot", 0),
                    ("near", 4, False, [("slot", 1), ("slot", 2)]),
                ]),
                ("slot", 3),
            ]),
            [("web",), ("page",), ("data",), ("aaa",)],
        ),
    ]
    for q, slot_tree, slots in cases:
        got = run(q)
        expect = want(slot_tree, slots)
        assert got == expect, q
        assert expect, q  # non-vacuous: every case matches something

    # a truncation inside a NESTED operator goes through the same path
    got = run("6W(web, 4N(pag*, data))")
    exp_terms = tuple(sorted(
        t for t in oracle_idx.postings if t.startswith("pag")
    ))
    expect = want(
        ("near", 6, True, [
            ("slot", 0),
            ("near", 4, False, [("slot", 1), ("slot", 2)]),
        ]),
        [("web",), exp_terms, ("data",)],
    )
    assert got == expect and expect

    # degenerate flat tree == span_near exactly (scores included)
    via_tree = [
        (r["doc_id"], round(r["score"], 5))
        for r in eng.span_tree(
            ("near", 4, False, [("op", "web"), ("op", "data")]), k=50
        ).collect()
    ]
    flat = [
        (r["doc_id"], round(r["score"], 5))
        for r in eng.span_near(["web", "data"], dist=4, ordered=False, k=50).collect()
    ]
    assert via_tree == flat and flat

    # widening the outer budget only grows the doc set
    tight = {r["doc_id"] for r in dispatch_query(
        eng, "{!surround}2W(web, 4N(page, data))", k=400).collect()}
    wide = {r["doc_id"] for r in dispatch_query(
        eng, "{!surround}9W(web, 4N(page, data))", k=400).collect()}
    assert tight <= wide and wide


def test_classic_grammar_fuzz_vs_oracle(spark, built, oracle_idx):
    """Grammar-directed fuzz: random classic-syntax queries (terms,
    boosts, phrases+slop, prefix/wildcard/fuzzy, +/-, OR groups, nested
    boolean trees) must rank+score-match the independent oracle.  The
    generator is seeded; every query is printed on failure."""
    import random

    rng = random.Random(17)
    by_df = sorted(
        oracle_idx.postings, key=lambda t: -len(oracle_idx.postings[t])
    )
    common = by_df[:12]
    mid = by_df[len(by_df) // 4 : len(by_df) // 4 + 30]
    vocab = common + mid + ["zzzunseen"]

    def term():
        t = rng.choice(vocab)
        r = rng.random()
        if r < 0.15:
            return f"{t}^{rng.choice([2, 3, 0.5])}"
        if r < 0.25 and len(t) > 3:
            return t[:3] + "*"
        if r < 0.32 and len(t) > 4:
            return t[:2] + "?" + t[3:]
        if r < 0.4 and len(t) > 4:
            return t + "~1"
        return t

    def phrase():
        k = rng.randrange(2, 4)
        ws = [rng.choice(common) for _ in range(k)]
        s = '"' + " ".join(ws) + '"'
        if rng.random() < 0.4:
            s += f"~{rng.randrange(1, 4)}"
        return s

    def atom(depth):
        r = rng.random()
        if r < 0.15:
            return phrase()
        if r < 0.3:
            return "(" + " ".join(term() for _ in range(rng.randrange(2, 4))) + ")"
        if depth > 0 and r < 0.45:
            op = rng.choice([" AND ", " OR "])
            return "(" + op.join(atom(depth - 1) for _ in range(2)) + ")"
        return term()

    for trial in range(15):
        n = rng.randrange(2, 5)
        parts = []
        for i in range(n):
            a = atom(1)
            r = rng.random()
            if i > 0 and r < 0.2 and not a.startswith("("):
                parts.append("-" + a)
            elif r < 0.35:
                parts.append("+" + a)
            else:
                parts.append(a)
        q = " ".join(parts)
        try:
            _run_tree_query_pair(spark, built, oracle_idx, q, 15)
        except AssertionError:
            print("FUZZ QUERY FAILED:", q)
            raise


# ---------------------------------------------------------------------------
# Round-5 hardening regressions (ADVICE r4): cache-leak on failed build,
# duplicate-url numbering determinism, fresh term vectors after a rebuild.
# ---------------------------------------------------------------------------


def test_failed_build_unpersists_cache(spark, corpus, tmp_path_factory, monkeypatch):
    """An exception mid-build (here: a tripped permutation check) must not
    leak the MEMORY_AND_DISK-persisted corpus for the life of the session —
    build_index unpersists via try/finally on every exit path."""
    from apache___solr_spark.index import builder as builder_mod

    path, _ = corpus
    out = str(tmp_path_factory.mktemp("leak") / "idx")

    def boom(m):
        raise RuntimeError("injected permutation failure")

    monkeypatch.setattr(builder_mod, "_assert_doc_id_permutation", boom)
    n_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="injected"):
        build_index(spark, path, out, cfg=CFG)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == n_before


def _dup_url_rows(table):
    """The first 60 corpus rows with three urls shared by two or three rows
    of different content — the dangerous case for the numbering."""
    rows = table.to_pylist()[:60]
    rows[1]["url"] = rows[0]["url"]
    rows[7]["url"] = rows[0]["url"]
    rows[13]["url"] = rows[12]["url"]
    return rows


def test_duplicate_url_numbering_deterministic(
    spark, corpus, tmp_path_factory, monkeypatch
):
    """Duplicate-url inputs: the numbering sort is a total order over the
    row, so a postings-only resume (docs kept, numbering recomputed from
    analyzed_raw) re-derives the SAME doc_id for each physical row even when
    urls tie — under a bare url sort the tie order was shuffle-refetch
    nondeterministic and the dense-permutation check could not see a swap.
    Both placements; the docs they number are equal."""
    import pyarrow as pa

    _, table = corpus
    rows = _dup_url_rows(table)
    dup_path = str(tmp_path_factory.mktemp("dupurl") / "pages.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=table.schema), dup_path)
    numbered = []
    for placement in PLACEMENTS:
        _place_build(monkeypatch, placement)
        out = str(tmp_path_factory.mktemp(f"dupidx_{placement}") / "idx")
        build_index(spark, dup_path, out, cfg=CFG)
        docs = spark.read.parquet(os.path.join(out, "docs"))
        assert docs.count() == 60  # every physical row numbered (dense: checked in-build)
        assert docs.filter(F.col("url") == rows[0]["url"]).count() == 3
        before = (
            spark.read.parquet(os.path.join(out, "postings"))
            .orderBy("term", "salt")
            .collect()
        )
        docs_before = docs.orderBy("doc_id").collect()
        os.remove(os.path.join(out, "postings", "_MANIFEST.json"))
        build_index(spark, dup_path, out, cfg=CFG)
        after = (
            spark.read.parquet(os.path.join(out, "postings"))
            .orderBy("term", "salt")
            .collect()
        )
        assert before == after, placement
        assert docs_before == (
            spark.read.parquet(os.path.join(out, "docs")).orderBy("doc_id").collect()
        ), placement
        numbered.append(docs_before)
    assert numbered[0] == numbered[1]


def _placement_tables(spark, root):
    """Every row and column of an index's docs, dictionary and postings,
    in key order, and its stats.json corpus figures."""
    tables = [
        spark.read.parquet(os.path.join(root, table)).orderBy(*keys).collect()
        for table, keys in (
            ("docs", ["doc_id"]),
            ("dictionary", ["term"]),
            ("postings", ["term", "salt"]),
        )
    ]
    with open(os.path.join(root, "stats.json")) as f:
        stats = json.load(f)
    return tables, [stats[k] for k in ("N", "avgdl", "total_len")]


def test_build_placements_agree(spark, corpus, built, spark_built, tmp_path_factory):
    """The driver and the Spark placement of the build give row-identical
    indexes: docs, dictionary (term, df, cf, bucket), every
    postings column and the stats, on the reference corpus, a
    duplicate-url corpus (urls tied on doclen too, so the numbering's
    order over terms, tfs and positions decides) and the theta-decoy
    corpus.  Each index then takes the same add_docs, delete_docs and
    optimize, and gives the same query pages after each."""
    import shutil

    import pyarrow as pa

    from apache___solr_spark.index.updates import add_docs, delete_docs, optimize

    path, table = corpus
    rows = _dup_url_rows(table)
    # tied on url and doclen: other terms, same terms in other positions,
    # and two rows identical in every column
    for text in ("alpha beta", "beta alpha", "alpha gamma", "alpha beta"):
        rows.append({**rows[20], "url": rows[3]["url"], "html": None, "text": text})
    dup = str(tmp_path_factory.mktemp("agree_pages") / "dup.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=table.schema), dup)
    added = spark.createDataFrame(
        [
            (f"zz-added-{i}", None, None, text, "en")
            for i, text in enumerate(
                ["alpha web data", "beta page web", "gamma data page alpha", "web web"]
            )
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    corpora = {"reference": None, "dup_url": dup, "decoy": _adversarial_pages(spark)}
    for name, pages in corpora.items():
        roots = {}
        for placement in PLACEMENTS:
            out = str(tmp_path_factory.mktemp(f"agree_{name}_{placement}") / "idx")
            if pages is None:
                shutil.copytree(built if placement == "driver" else spark_built, out)
            else:
                with pytest.MonkeyPatch.context() as m:
                    _place_build(m, placement)
                    build_index(spark, pages, out, cfg=CFG)
            roots[placement] = out
        want, got = (_placement_tables(spark, roots[p]) for p in PLACEMENTS)
        assert want[0][0] and want[0][2], name
        for table, a, b in zip(("docs", "dictionary", "postings"), want[0], got[0]):
            assert a == b, (name, table)
        assert want[1] == got[1], name

        top = [
            r["term"]
            for r in spark.read.parquet(os.path.join(roots["driver"], "dictionary"))
            .orderBy(F.desc("df"), "term")
            .limit(3)
            .collect()
        ]
        queries = [
            " ".join(top), f"{top[0]} AND {top[1]}", f'"{top[0]} {top[1]}"',
            "alpha web", "beta -alpha",
        ]
        gone = [
            r["url"]
            for r in spark.read.parquet(os.path.join(roots["driver"], "docs"))
            .filter(F.col("doc_id").isin(0, 5))
            .collect()
        ]

        def pages_of(root):
            eng = SearchEngine(spark, root, cfg=CFG)
            return [eng.search(q, k=20).collect() for q in queries]

        for step in ("add_docs", "delete_docs", "optimize"):
            for root in roots.values():
                if step == "add_docs":
                    add_docs(spark, root, added, cfg=CFG)
                elif step == "delete_docs":
                    delete_docs(spark, root, urls=gone)
                else:
                    optimize(spark, root, cfg=CFG)
            a, b = (pages_of(roots[p]) for p in PLACEMENTS)
            assert any(a), (name, step)
            assert a == b, (name, step)


def test_build_placement_follows_input_size(spark, corpus, tmp_path_factory, monkeypatch):
    """The placement is the input's size estimate against the budget: a
    corpus at the budget builds on the driver, and a warm build there runs
    at most 2 Spark jobs (the pages' schema read and ``toArrow``); one
    byte under it the same corpus builds through Spark."""
    from apache___solr_spark.index import builder

    path, _ = corpus
    size = builder._input_bytes(spark.read.parquet(path))
    assert 0 < size < 1 << 62
    jobs = _job_counter(spark)
    root = tmp_path_factory.mktemp("placement")
    counts = {}
    for placement, budget in (("driver", size), ("spark", size - 1)):
        monkeypatch.setattr(builder, "_build_budget", lambda: budget)
        build_index(spark, path, str(root / f"{placement}_cold"), cfg=CFG)
        _, counts[placement] = jobs(
            placement,
            lambda: build_index(spark, path, str(root / f"{placement}_warm"), cfg=CFG),
        )
    assert counts["driver"] <= 2, counts
    assert counts["spark"] > 2, counts


def test_mlt_ignores_stale_analyzed_checkpoint(spark, corpus, tmp_path_factory):
    """After an in-place rebuild with an analysis-changing config, the
    term-vector lookup behind more_like_this returns the fresh terms (the
    rebuilt analyzed_raw row), never the first build's, and no numbered
    analyzed/ table exists to go stale."""
    import dataclasses

    from apache___solr_spark.query.extras import _term_vector_row

    path, _ = corpus
    out = str(tmp_path_factory.mktemp("staleidx") / "idx")
    build_index(spark, path, out, cfg=CFG)
    first = _term_vector_row(SearchEngine(spark, out, cfg=CFG), 5)
    assert any(len(t) > 4 for t in first[0]["terms"])
    # in-place rebuild; the config digest change invalidates every stage
    cfg2 = dataclasses.replace(CFG, max_token_len=4)
    assert cfg2.digest() != CFG.digest()
    build_index(spark, path, out, cfg=cfg2)
    assert not os.path.exists(os.path.join(out, "analyzed"))
    eng = SearchEngine(spark, out, cfg=cfg2)
    row = _term_vector_row(eng, 5)
    assert row
    got_terms = list(row[0]["terms"])
    assert all(len(t) <= 4 for t in got_terms), "stale (pre-truncation) terms leaked"
    url = (
        spark.read.parquet(os.path.join(out, "docs"))
        .filter(F.col("doc_id") == 5)
        .collect()[0]["url"]
    )
    fresh = (
        spark.read.parquet(os.path.join(out, "analyzed_raw"))
        .filter(F.col("url") == url)
        .collect()[0]
    )
    assert got_terms == list(fresh["terms"])


# ---------------------------------------------------------------------------
# One evaluator: every search() input reaches SearchEngine._search_tree.
# ---------------------------------------------------------------------------


def test_search_leaves_no_cached_frames(spark, built):
    """search(), docset() and scored_docset() persist nothing: the cache
    manager is empty after each, on nested and flat queries (regression:
    docset() of a nested query returned while a shared scan frame was
    still persisted)."""
    eng = SearchEngine(spark, built, cfg=CFG)
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    for q in (
        "(web AND data) OR page",
        "(web data) AND -(page site)",
        "web data page",
        "web AND data -page",
    ):
        eng.docset(q).count()
        assert cache.isEmpty(), ("docset", q)
        eng.scored_docset(q).count()
        assert cache.isEmpty(), ("scored_docset", q)
        eng.search(q, k=5).collect()
        assert cache.isEmpty(), ("search", q)


def test_root_repeated_terms_score_once(spark, built, oracle_idx):
    """A term repeated at the root of a flat query scores once for string
    and ParsedQuery inputs (lower_tree dedups it, as oracle_search does).
    A BoolQuery from parse_query_tree is evaluated as given: each
    occurrence is its own clause and scores (Lucene's semantics for a
    repeated SHOULD clause)."""
    from apache___solr_spark.query.parser import parse_query, parse_query_tree

    eng = SearchEngine(spark, built, cfg=CFG)
    by_df = sorted(
        oracle_idx.postings, key=lambda t: (-len(oracle_idx.postings[t]), t)
    )
    a, b = by_df[10], by_df[40]
    for q in (f"{a} {a}", f"{a} {a}^2 {b}"):
        want = oracle_search(oracle_idx, q, k=10)
        assert want, q
        for query in (q, parse_query(q)):
            got = eng.search(query, k=10).collect()
            assert [g["doc_id"] for g in got] == [w["doc_id"] for w in want], q
            for g, w in zip(got, want):
                assert math.isclose(g["score"], w["score"], rel_tol=1e-6), q
    once = eng.search(f"{a} {a}", k=10).collect()
    twice = eng.search(parse_query_tree(f"{a} {a}"), k=10).collect()
    assert [r["doc_id"] for r in twice] == [r["doc_id"] for r in once]
    for r1, r2 in zip(once, twice):
        assert math.isclose(r2["score"], 2 * r1["score"], rel_tol=1e-6)


def test_empty_result_schema_follows_with_url(spark, built):
    """An empty result carries a url column only when with_url asks."""
    from apache___solr_spark.query.parser import ParsedQuery

    eng = SearchEngine(spark, built, cfg=CFG)
    for q in ("zzznotaterm", "the and of", ParsedQuery()):
        assert eng.search(q, with_url=False).columns == [
            "rank", "doc_id", "score"
        ], q
        assert eng.search(q).columns == ["rank", "doc_id", "url", "score"], q


def _job_counter(spark):
    """fn -> (fn(), number of Spark jobs fn ran), counted by job group."""
    import uuid

    sc = spark.sparkContext
    tag = uuid.uuid4().hex

    def jobs(name, fn):
        group = f"{name}-{tag}"
        sc.setJobGroup(group, "jobs per query")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return jobs


def _py4j_commands(fn):
    """fn() and the number of py4j commands it sent to the JVM."""
    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command
    sent = []

    def counted(conn, command, *args, **kwargs):
        sent.append(command)
        return send(conn, command, *args, **kwargs)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counted)
        out = fn()
    return out, len(sent)


def test_warm_query_job_counts(spark, built, payload_built, mh_built):
    """On a warm engine a search() whose postings fit the driver runs no
    Spark job and makes no JVM call: the kernel runs over a pyarrow read,
    the top-k is taken in numpy and the page is held on the driver, so
    its collect() makes none either.  Forced to the Spark placement, it
    runs only its scan and top-k (≤2).  So do the span, payload and
    constant-score operators, leaves of the same kernel."""
    from apache___solr_spark.query.localparams import dispatch_query

    eng = SearchEngine(spark, built, cfg=CFG)
    peng = SearchEngine(spark, payload_built[1], cfg=payload_built[2])
    meng = SearchEngine(spark, mh_built[1], cfg=mh_built[2])
    mh_text = mh_built[0].iloc[0]["text"]
    jobs = _job_counter(spark)

    for q in ("web data", "zzznotaterm"):  # warm the engine
        eng.search(q, k=10).collect()
    page, n_search = jobs("search", lambda: eng.search("web data", k=10))
    rows, n_collect = jobs("collect", page.collect)
    assert len(rows) == 10
    assert n_search == 0, n_search
    assert n_collect == 0, n_collect
    rows, n_miss = jobs("miss", lambda: eng.search("zzznotaterm").collect())
    assert rows == [] and n_miss == 0, n_miss
    # counted around the calls only: the job counter itself talks to the JVM
    assert _py4j_commands(lambda: spark.conf.get("spark.app.name"))[1] > 0
    for q in ("web data", "zzznotaterm"):
        rows, sent = _py4j_commands(lambda: eng.search(q, k=10).collect())
        assert sent == 0, (q, sent)
    # a nested tree with a phrase, a prefix and a MUST_NOT group, and a
    # {!maxscore} root: still no job
    for q, kw in (
        ('(+"web page" dat*) -(search links)', {}),
        ("+web data search", {"should_combine": "max", "tie": 0.1}),
    ):
        eng.search(q, k=10, **kw).collect()
        rows, n = jobs(f"warm {q}", lambda: eng.search(q, k=10, **kw).collect())
        assert rows and n == 0, (q, n)
    moved = {
        "span_near": lambda: eng.span_near(["web", "data"], dist=3, k=10),
        "complex_phrase": lambda: eng.complex_phrase("web pag*", k=10),
        "surround": lambda: dispatch_query(eng, "{!surround}6W(web, 4N(pag*, data))", k=10),
        "payload_score": lambda: peng.payload_score("apple", func="max", k=10),
        "payload_check": lambda: peng.payload_check("red apple", [1.5, 2.5], k=10),
        "terms_query": lambda: eng.terms_query(["web", "data"], k=10),
        "minhash_search": lambda: meng.minhash_search(mh_text, k=10),
    }
    for name, op in moved.items():
        op().collect()
        rows, n = jobs(f"warm {name}", lambda: op().collect())
        assert rows and n == 0, (name, n)
    for e in (eng, peng, meng):
        e._driver_budget = _SPARK
    eng.search("web data", k=10).collect()
    rows, n = jobs("spark", lambda: eng.search("web data", k=10).collect())
    assert len(rows) == 10 and 1 <= n <= 2, n
    for name, op in moved.items():
        op().collect()
        rows, n = jobs(f"spark {name}", lambda: op().collect())
        assert rows and 1 <= n <= 2, (name, n)


def test_span_tree_work_counts_its_matcher(spark, built, monkeypatch):
    """A span tree's interval matcher runs per candidate doc in Python, so
    its cost enters the placement's work estimate: priced high enough, a
    nested surround leaves the driver (1-2 jobs, same page) while a flat
    span_near, which has no such matcher, stays on it."""
    from apache___solr_spark.query import engine as engine_mod
    from apache___solr_spark.query.localparams import dispatch_query

    eng = SearchEngine(spark, built, cfg=CFG)
    jobs = _job_counter(spark)
    q = "{!surround}6W(web, 4N(pag*, data))"
    driver = dispatch_query(eng, q, k=10).collect()
    near = eng.span_near(["web", "data"], dist=3, k=10).collect()
    monkeypatch.setattr(engine_mod, "_SPAN_ROW_POSTINGS", eng._driver_budget)
    dispatch_query(eng, q, k=10).collect()
    rows, n = jobs("span tree", lambda: dispatch_query(eng, q, k=10).collect())
    assert driver and rows == driver and 1 <= n <= 2, n
    rows, n = jobs("span_near", lambda: eng.span_near(["web", "data"], dist=3, k=10).collect())
    assert near and rows == near and n == 0, n


def test_cold_planning_job_counts(spark, built):
    """Query planning runs no Spark job: on a freshly opened engine the
    first term, prefix, wildcard, fuzzy and range queries run no job at
    all (the dictionary and the postings are read on the driver), and
    neither does a vocabulary miss."""
    jobs = _job_counter(spark)
    for q in ("web data", "web*", "w?b*", "data~1", "[a TO c]"):
        eng = SearchEngine(spark, built, cfg=CFG)
        rows, n = jobs(f"cold {q}", lambda: eng.search(q, k=10).collect())
        assert rows, q
        assert n == 0, (q, n)
    for q in ("zzznotaterm", "zzznot*"):
        eng = SearchEngine(spark, built, cfg=CFG)
        rows, n = jobs(f"miss {q}", lambda: eng.search(q).collect())
        assert rows == [] and n == 0, (q, n)


# the engine's placement budget, forced: every query on the driver, or
# every query in Spark
_DRIVER, _SPARK = 10**15, 0


def _both(eng, fn):
    """fn() under the forced driver and the forced Spark placement."""
    out = []
    for budget in (_DRIVER, _SPARK):
        eng._driver_budget = budget
        out.append(fn())
    return out


def _window_tree():
    from apache___solr_spark.query.parser import (
        BoolChild,
        BoolQuery,
        PhraseNode,
        TermNode,
    )

    return BoolQuery(
        children=[
            BoolChild("MUST", PhraseNode(["web", "data"], slop=1, window=True)),
            BoolChild("SHOULD", TermNode("page")),
        ]
    )


def _mm_tree():
    from apache___solr_spark.query.parser import BoolChild, BoolQuery, TermNode

    return BoolQuery(
        children=[
            BoolChild("SHOULD", TermNode(t)) for t in ("web", "page", "data", "search")
        ],
        mm=2,
    )


def test_placements_agree(spark, built):
    """The driver and the Spark placement of the kernel give identical
    pages (rank, doc_id, url, float32 score), docsets and explain rows.
    Queries with fq, bf or boost, and docsets, take the Spark placement
    under either budget; their cases check that routing."""
    eng = SearchEngine(spark, built, cfg=CFG)
    hits = [r["doc_id"] for r in eng.search("web data", k=60).collect()]
    cases = [
        ("(web AND (data OR page)) OR (search -links)", {}),
        ('"web page"', {}),
        ('"web data"~3 page', {}),
        (_window_tree(), {}),
        ("web* pag? data~1 [a TO c]", {}),
        ("page -w*", {}),
        (_mm_tree(), {}),
        ("+web data search", {"should_combine": "max", "tie": 0.1}),
        ("web data", {"doc_filter": hits[::3]}),
        ("web page", {"fq": ["data"]}),
        ("web data", {"bf": [F.col("doclen") / 100]}),
        ("web data", {"boost": [F.lit(1.0) + F.col("doclen") / 1000]}),
        ("web page data", {"start": 10}),
    ]
    for q, kw in cases:
        driver, spark_placed = _both(
            eng, lambda: eng.search(q, k=25, **kw).collect()
        )
        assert driver, (q, kw)
        assert driver == spark_placed, (q, kw)
    for q in ("(page AND (data OR search)) -l*", '"web page" page'):
        driver, spark_placed = _both(
            eng,
            lambda: (
                sorted(map(tuple, eng.docset(q).collect())),
                sorted(map(tuple, eng.scored_docset(q).collect())),
                sorted(map(tuple, eng.scored_docset(q, fq=["page"]).collect())),
            ),
        )
        assert driver[0] and driver == spark_placed, q
    for q in ('(web AND (data OR "web page")) OR (search -links)', "web* data"):
        driver, spark_placed = _both(
            eng, lambda: eng.explain_scores_tree(q, k=10).collect()
        )
        assert driver and driver == spark_placed, q


def test_tombstones_masked_in_both_placements(spark, built, tmp_path):
    """Tombstoned docs leave search, docset and scored_docset alike in
    both placements."""
    import shutil

    from apache___solr_spark.index.updates import delete_docs

    idx = str(tmp_path / "idx")
    shutil.copytree(built, idx)
    victims = [
        r["doc_id"]
        for r in SearchEngine(spark, idx, cfg=CFG).search("web data", k=3).collect()
    ][1:]
    assert delete_docs(spark, idx, doc_ids=victims) == 2
    eng = SearchEngine(spark, idx, cfg=CFG)
    driver, spark_placed = _both(
        eng,
        lambda: (
            eng.search("web data", k=N_DOCS).collect(),
            sorted(map(tuple, eng.docset("web data").collect())),
            sorted(map(tuple, eng.scored_docset("web data").collect())),
        ),
    )
    assert driver == spark_placed
    page, docset, scored = driver
    assert page and not {r["doc_id"] for r in page} & set(victims)
    assert not {d for (d,) in docset} & set(victims)
    assert not {d for d, _ in scored} & set(victims)
    # the tombstones are masked in the kernel's stage: no extra job
    jobs = _job_counter(spark)
    eng._driver_budget = _SPARK
    rows, n = jobs("spark tombstones", lambda: eng.search("web data", k=10).collect())
    assert rows and 1 <= n <= 2, n


def test_page_contract(spark, built):
    """A result page is held on the driver, and answers like the Spark
    relation of its own rows, ``createDataFrame(page.toArrow(),
    page.schema)``: collect(), count(), schema and toArrow() equal that
    relation's value by value and type by type, and the calls that build
    its JVM relation (select, filter, orderBy, a join, a temp view,
    toPandas) give the same results.  This pins the fields of PySpark's
    classic DataFrame that the page relies on."""
    import pandas as pd

    eng = SearchEngine(spark, built, cfg=CFG)
    seng = SearchEngine(spark, built, cfg=CFG)
    seng._driver_budget = _SPARK
    pages = {
        "hits": lambda: eng.search("web data", k=10),
        "empty": lambda: eng.search("zzznotaterm"),
        "no url": lambda: eng.search("web data", k=10, with_url=False),
        "start": lambda: eng.search("web page data", k=10, start=5),
        "spark": lambda: seng.search("web data", k=10),
        "span": lambda: eng.span_near(["web", "data"], dist=3, k=10),
    }
    docs = eng.docs.select("doc_id", "doclen")
    for name, make in pages.items():
        page = make()
        ref = spark.createDataFrame(page.toArrow(), page.schema)
        assert page.schema == ref.schema and page.columns == ref.columns, name
        assert page.count() == ref.count(), name
        got, want = page.collect(), ref.collect()
        assert got == want and (name == "empty") == (not got), name
        for g, w in zip(got, want):
            assert g.asDict() == w.asDict(), name
            assert [type(v) for v in g] == [type(v) for v in w], name
        assert page.toArrow().equals(ref.toArrow(), check_metadata=True), name
        for op in (
            lambda df: df.select("doc_id", "score").collect(),
            lambda df: df.filter(F.col("rank") % 2 == 0).collect(),
            lambda df: df.orderBy("doc_id").collect(),
            lambda df: df.join(docs, "doc_id").orderBy("rank").collect(),
        ):
            assert op(page) == op(ref), name
        views = []
        for df in (page, ref):
            df.createOrReplaceTempView("contract_page")
            views.append(
                spark.sql("SELECT doc_id, score FROM contract_page ORDER BY rank").collect()
            )
        assert views[0] == views[1], name
        pd.testing.assert_frame_equal(page.toPandas(), ref.toPandas())
    spark.catalog.dropTempView("contract_page")


@pytest.fixture(scope="module")
def shared(spark, tmp_path_factory):
    """A 1,560-doc Zipf index (salt_range 128, so 13 salts): a 1,500-doc
    build, one add_docs segment of 60 docs, then tombstones.  With the
    oracle index over every doc (the deleted docs still count in the
    stats, and avgdl stays at the build's value after add_docs) and the
    deleted doc ids."""
    import dataclasses

    import pyarrow as pa

    from apache___solr_spark.index.updates import add_docs, delete_docs

    d = tmp_path_factory.mktemp("shared")
    base = generate_pages(1500, seed=5)
    extra = generate_pages(60, seed=6)
    # urls after every base url, so the added docs number 1500.. in both
    extra = extra.set_column(
        0, "url", pa.array([f"https://zzadd.example/{i:03d}" for i in range(60)])
    )
    pq.write_table(base, str(d / "pages.parquet"))
    idx = str(d / "idx")
    build_index(spark, str(d / "pages.parquet"), idx, cfg=CFG)
    assert add_docs(spark, idx, spark.createDataFrame(extra.to_pandas()), cfg=CFG) == 60
    eng = SearchEngine(spark, idx, cfg=CFG)
    victims = {r["doc_id"] for r in eng.span_near(["web", "page"], dist=3, k=2).collect()}
    victims |= {r["doc_id"] for r in eng.complex_phrase("web pag*", slop=2, k=2).collect()}
    victims |= set(range(7, 1560, 53))
    assert delete_docs(spark, idx, doc_ids=sorted(victims)) == len(victims)
    oracle = build_oracle_index(base.to_pylist() + extra.to_pylist())
    return idx, dataclasses.replace(oracle, avgdl=eng.stats["avgdl"]), victims


def test_moved_operators_agree_across_placements(
    spark, shared, payload_built, mh_built, tmp_path
):
    """The span, payload and constant-score operators, leaves of the one
    kernel, give identical pages (rank, doc_id, url, score) under the
    forced driver and the forced Spark placement on an index with an
    add_docs segment and tombstones; no page holds a deleted doc, and the
    span operators rank and score like their oracles over the live docs.
    significantTerms and phrase identification read through the same
    kernel and agree across placements too."""
    import shutil

    from apache___solr_spark.index.updates import add_docs, delete_docs
    from apache___solr_spark.oracle import (
        oracle_complex_phrase,
        oracle_span_near,
        oracle_span_tree,
    )
    from apache___solr_spark.query.localparams import dispatch_query
    from apache___solr_spark.query.phrases import identify_phrases

    idx, oracle, victims = shared
    eng = SearchEngine(spark, idx, cfg=CFG)
    pag = tuple(sorted(t for t in oracle.postings if t.startswith("pag")))
    nested = ("near", 6, True, [("slot", 0), ("near", 4, False, [("slot", 1), ("slot", 2)])])
    every = len(oracle.url_by_doc)

    def live(hits):
        kept = [h for h in hits if h["doc_id"] not in victims][:25]
        return [(i + 1, h["doc_id"], round(h["score"], 5)) for i, h in enumerate(kept)]

    cases = [
        (
            lambda: eng.span_near(["web", "page"], dist=3, k=25),
            oracle_span_near(oracle, ["web", "page"], 3, True, k=every),
        ),
        (
            lambda: eng.span_near(["web", "data", "page"], dist=6, ordered=False, k=25),
            oracle_span_near(oracle, ["web", "data", "page"], 6, False, k=every),
        ),
        (
            lambda: eng.complex_phrase("web pag*", slop=2, k=25, max_expansions=10**5),
            oracle_complex_phrase(oracle, [("web",), pag], slop=2, k=every),
        ),
        (
            lambda: eng.complex_phrase(
                "pag* web", slop=4, ordered=False, k=25, max_expansions=10**5
            ),
            oracle_complex_phrase(oracle, [pag, ("web",)], slop=4, ordered=False, k=every),
        ),
        (
            lambda: dispatch_query(eng, "{!surround}6W(web, 4N(pag*, data))", k=25),
            oracle_span_tree(oracle, nested, [("web",), pag, ("data",)], k=every),
        ),
    ]
    for op, want in cases:
        driver, spark_placed = _both(eng, lambda: op().collect())
        assert driver and driver == spark_placed
        assert [(r["rank"], r["doc_id"], round(r["score"], 5)) for r in driver] == live(want)
        assert all(r["url"] == oracle.url_by_doc[r["doc_id"]] for r in driver)

    terms = sorted(
        (set(oracle.postings["web"]) | set(oracle.postings["data"])) - victims
    )
    driver, spark_placed = _both(eng, lambda: eng.terms_query(["web", "data"], k=every).collect())
    assert driver == spark_placed
    assert [r["doc_id"] for r in driver] == terms and {r["score"] for r in driver} == {1.0}
    for op in (
        lambda: dispatch_query(
            eng, "{!significantTerms numTerms=10 minDocFreq=3 maxDocFreq=0.5}web"
        ).collect(),
        lambda: identify_phrases(eng, "the web page data search engine web data"),
    ):
        driver, spark_placed = _both(eng, op)
        assert driver and driver == spark_placed

    # payload and min-hash indexes, each with an added segment and tombstones
    _, pidx, pcfg = payload_built
    pidx2 = str(tmp_path / "pidx")
    shutil.copytree(pidx, pidx2)
    added = spark.createDataFrame(
        [(f"uadd{i}", "2026", None, f"red|{i}.5 apple|2.5 fig|0.5 apple", "en") for i in range(4)],
        "url string, warc_ts string, html binary, text string, lang string",
    )
    assert add_docs(spark, pidx2, added, cfg=pcfg) == 4
    assert delete_docs(spark, pidx2, doc_ids=[0, 5, 122]) == 3
    peng = SearchEngine(spark, pidx2, cfg=pcfg)
    pages, midx, mcfg = mh_built
    midx2 = str(tmp_path / "midx")
    shutil.copytree(midx, midx2)
    assert delete_docs(spark, midx2, doc_ids=[1]) == 1
    meng = SearchEngine(spark, midx2, cfg=mcfg)
    for e, q in [
        (peng, "{!payload_score f=text func=max}apple"),
        (peng, "{!payload_score f=text func=average includeSpanScore=true}red apple"),
        (peng, "{!payload_score f=text func=sum operator=or}apple fig"),
        (peng, '{!payload_check f=text payloads="1.5 2.5"}red apple'),
        (meng, "{!min_hash}" + pages.iloc[0]["text"]),
        (meng, "{!min_hash sim=0.5 tp=0.5}" + pages.iloc[0]["text"]),
    ]:
        driver, spark_placed = _both(e, lambda: dispatch_query(e, q, k=200).collect())
        assert driver and driver == spark_placed, q
        deleted = {0, 5, 122} if e is peng else {1}
        assert not {r["doc_id"] for r in driver} & deleted, q
    added_hits = peng.payload_check("red apple", [2.5, 2.5], k=10).collect()
    assert [r["url"] for r in added_hits] == ["uadd2"]


def test_buckets_come_from_dictionary(spark, built, monkeypatch):
    """Every postings read takes its terms' buckets from the dictionary
    rows planning already read: the driver-side term hash is never
    called, on either placement, through the literal term list or the
    semi-joined one."""
    from apache___solr_spark.index import xxhash
    from apache___solr_spark.query import engine as engine_mod

    eng = SearchEngine(spark, built, cfg=CFG)
    # w* expands to more than 4 terms (web* to one in this corpus)
    queries = ["web", "web*", "page -web*", "page -w*"]

    def pages():
        out = []
        for cap in (1024, 4):
            monkeypatch.setattr(engine_mod, "_EXCLUDE_LITERAL_CAP", cap)
            out += _both(eng, lambda: [eng.search(q, k=20).collect() for q in queries])
        return out

    want = pages()

    def no_hash(*args):
        raise AssertionError("term_buckets called")

    monkeypatch.setattr(xxhash, "term_buckets", no_hash)
    assert pages() == want


def test_index_under_a_bucket_folder(spark, built, tmp_path):
    """The driver placement takes each postings file's bucket from the
    directory under the postings root, never from the index's own path:
    an index kept under a hive-style ``bucket=0/`` folder gives, in both
    placements, the pages it gives at its usual place."""
    import shutil

    idx = str(tmp_path / "bucket=0" / "idx")
    shutil.copytree(built, idx)
    queries = ["web", "web data", '"web page"', "page -w*"]

    def pages(eng):
        return [eng.search(q, k=20).collect() for q in queries]

    want = pages(SearchEngine(spark, built, cfg=CFG))
    eng = SearchEngine(spark, idx, cfg=CFG)
    assert all(want)
    assert _both(eng, lambda: pages(eng)) == [want, want]


def test_dictionary_stats_sum_segments(spark, tmp_path_factory):
    """After add_docs a term holds one dictionary row per segment; every
    reader sees the summed df: {!graphTerms}'s maxDocFreq cap,
    {!significantTerms}'s docFreq (one row per term) and the spellcheck
    ranking of corrections."""
    from apache___solr_spark.index.updates import add_docs
    from apache___solr_spark.query.extras import significant_terms_index
    from apache___solr_spark.query.localparams import dispatch_query
    from apache___solr_spark.query.suggest import spellcheck_collate

    schema = (
        "url string, warc_ts timestamp, html binary, text string, lang string"
    )

    def pages(rows):
        return spark.createDataFrame(
            [(u, None, None, t, "en") for u, t in rows], schema
        )

    base = [("z0", "zeta alpha"), ("z1", "zeta beta"), ("z2", "zeta gamma")]
    base += [(f"c{i}", f"zetc {w}") for i, w in enumerate(["i", "ii", "x", "v"])]
    base += [(f"f{i}", f"filler{i} word") for i in range(6)]
    added = [("y0", "zeta delta"), ("y1", "zeta alpha"), ("y2", "zeta omega")]
    out = str(tmp_path_factory.mktemp("segdict") / "idx")
    build_index(spark, pages(base), out, cfg=CFG)
    add_docs(spark, out, pages(added), cfg=CFG)
    eng = SearchEngine(spark, out, cfg=CFG)
    zeta_rows = eng.dictionary.filter(F.col("term") == "zeta").collect()
    assert sorted(r["df"] for r in zeta_rows) == [3, 3]

    def graph_hits(maxdf):
        q = f"{{!graphTerms f=text maxDocFreq={maxdf}}}zeta"
        return dispatch_query(eng, q, k=20).count()

    assert graph_hits(4) == 0
    assert graph_hits(6) == 6

    sig = significant_terms_index(
        eng, "zeta", min_doc_freq=1, max_doc_freq=0.9, min_term_length=3
    ).collect()
    zeta = [
        (r["queryDocFreq"], r["docFreq"]) for r in sig if r["term"] == "zeta"
    ]
    assert zeta == [(6, 6)], sig

    # zetb is one edit from zeta (df 3 + 3) and from zetc (df 4): the
    # summed df ranks zeta first
    assert spellcheck_collate(eng, "zetb", max_collations=1) == [
        {"collation": "zeta", "hits": 6}
    ]


def test_sql_dictionary_view_sums_segments(spark, tmp_path_factory):
    """The SQL ``dictionary`` view holds one row per term after add_docs,
    with df summed over the segments (as the engine's reader sums it)."""
    from apache___solr_spark.index.updates import add_docs
    from apache___solr_spark.query.sql_handler import register_index, sql

    schema = (
        "url string, warc_ts timestamp, html binary, text string, lang string"
    )

    def pages(rows):
        return spark.createDataFrame(
            [(u, None, None, t, "en") for u, t in rows], schema
        )

    base = [("z0", "zeta alpha"), ("z1", "zeta beta"), ("z2", "zeta gamma")]
    base += [(f"f{i}", f"filler{i} word") for i in range(4)]
    added = [("y0", "zeta delta"), ("y1", "zeta alpha"), ("y2", "zeta omega")]
    idx = str(tmp_path_factory.mktemp("sqldict") / "index")
    build_index(spark, pages(base), idx)
    add_docs(spark, idx, pages(added))
    register_index(spark, SearchEngine(spark, idx))
    rows = sql(spark, "SELECT df, cf FROM dictionary WHERE term = 'zeta'").collect()
    assert [(r["df"], r["cf"]) for r in rows] == [(6, 6)]
