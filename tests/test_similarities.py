"""Pluggable similarity factories vs the scalar Python oracle.

Reference: solr/core/src/java/org/apache/solr/search/similarities/
(BM25SimilarityFactory, ClassicSimilarityFactory, LMDirichletSimilarityFactory,
LMJelinekMercerSimilarityFactory, BooleanSimilarityFactory) — the engine's
``similarity=`` parameter is the SchemaSimilarityFactory analog, and every
factory must rank-identically match the independent per-doc-loop oracle."""

from __future__ import annotations

import math

import pyarrow.parquet as pq
import pytest

from apache___solr_spark.config import IndexConfig
from apache___solr_spark.corpus import generate_pages
from apache___solr_spark.index.builder import build_index
from apache___solr_spark.oracle import build_oracle_index, oracle_search
from apache___solr_spark.query.engine import SearchEngine

N_DOCS = 400
CFG = IndexConfig(salt_range=128, n_buckets=8)

SIMS = [
    "classic",
    "lmdirichlet",
    "lmjelinekmercer",
    "boolean",
    "dfr_inl2",
    "rawtf",
    "sweetspot",
    "dfi_chisquared",
    "dfi_standardized",
    "dfi_saturated",
    "ib_ll_df_h2",
    "ib_spl_ttf_h1",
    "ib_ll_ttf_z",
    "ib_spl_df_none",
    "ib_ll_df_h3",
    "ib_spl_ttf_h3",
]
QUERIES = [
    "web",                 # single head term
    "web data",            # OR of two terms
    "web AND data",        # MUST conjunction
    "web -data",           # exclusion
    "web^2.5 data",        # boosted term (non-linear composition for LM)
    "da*",                 # dictionary expansion group
    "(web data) query",    # flat OR-group + term
]


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("sim_corpus")
    path = str(d / "pages.parquet")
    table = generate_pages(N_DOCS, seed=42)
    pq.write_table(table, path)
    return path, table


@pytest.fixture(scope="module")
def oracle_idx(corpus):
    _, table = corpus
    return build_oracle_index(table.to_pylist())


@pytest.fixture(scope="module")
def built(spark, corpus, tmp_path_factory):
    path, _ = corpus
    out = str(tmp_path_factory.mktemp("sim_index") / "idx")
    build_index(spark, path, out, cfg=CFG)
    return out


@pytest.mark.parametrize("sim", SIMS)
def test_similarity_rank_identical(spark, built, oracle_idx, sim):
    eng = SearchEngine(spark, built, cfg=CFG, similarity=sim)
    any_hits = False
    for q in QUERIES:
        got = [r.asDict() for r in eng.search(q, k=15).collect()]
        want = oracle_search(oracle_idx, q, k=15, similarity=sim)
        assert [g["doc_id"] for g in got] == [w["doc_id"] for w in want], (
            sim,
            q,
            got,
            want,
        )
        for g, w in zip(got, want):
            assert math.isclose(g["score"], w["score"], rel_tol=1e-6), (
                sim,
                q,
                g,
                w,
            )
        any_hits = any_hits or bool(got)
    assert any_hits, f"no query produced hits under {sim}"


@pytest.mark.parametrize("sim", SIMS)
def test_similarity_tree_path(spark, built, oracle_idx, sim):
    """Nested boolean queries route through _search_tree — same weights."""
    q = "(web AND data) OR (query AND merge)"
    eng = SearchEngine(spark, built, cfg=CFG, similarity=sim)
    got = [r.asDict() for r in eng.search(q, k=15).collect()]
    from apache___solr_spark.oracle import oracle_search_tree
    from apache___solr_spark.query.parser import parse_query_tree

    if sim != "bm25":
        # tree oracle is BM25-only: check the flat-equivalent ranking for
        # the disjunction instead (doc sets of each conjunct are sim-free)
        flat = oracle_search(oracle_idx, "web AND data", k=400, similarity=sim)
        flat2 = oracle_search(
            oracle_idx, "query AND merge", k=400, similarity=sim
        )
        acc: dict[int, float] = {}
        for h in flat + flat2:
            acc[h["doc_id"]] = acc.get(h["doc_id"], 0.0) + h["score"]
        want_ids = [
            d
            for d, _s in sorted(acc.items(), key=lambda x: (-x[1], x[0]))[:15]
        ]
        assert [g["doc_id"] for g in got] == want_ids, (sim, got, want_ids)
    else:
        tree = parse_query_tree(q)
        want = oracle_search_tree(oracle_idx, tree, k=15)
        assert [g["doc_id"] for g in got] == [w["doc_id"] for w in want]


def test_bm25_name_matches_default(spark, built):
    """similarity='bm25' must be byte-identical to the historic default."""
    base = SearchEngine(spark, built, cfg=CFG)
    named = SearchEngine(spark, built, cfg=CFG, similarity="bm25")
    a = [r.asDict() for r in base.search("web data merge", k=20).collect()]
    b = [r.asDict() for r in named.search("web data merge", k=20).collect()]
    assert a == b


def test_phrase_raises_under_non_bm25(spark, built):
    eng = SearchEngine(spark, built, cfg=CFG, similarity="classic")
    with pytest.raises(NotImplementedError, match="phrase"):
        eng.search('"web data"', k=5)
    with pytest.raises(NotImplementedError):
        eng.span_near(["web", "data"], dist=2)


def test_unknown_similarity_raises(spark, built):
    with pytest.raises(NotImplementedError, match="unknown similarity"):
        SearchEngine(spark, built, cfg=CFG, similarity="notasim")
    with pytest.raises(NotImplementedError, match="independence"):
        SearchEngine(spark, built, cfg=CFG, similarity="dfi_bogus")
    with pytest.raises(NotImplementedError):
        SearchEngine(spark, built, cfg=CFG, similarity="ib_ll_df_h9")


def test_sweetspot_defaults_reduce_to_classic(spark, built):
    """Lucene defaults (ln_min=ln_max=1, steepness=0.5, base=min=0) make
    SweetSpotSimilarity's lengthNorm collapse to 1/sqrt(dl) and baselineTf
    to sqrt(tf) — ClassicSimilarity up to one float32 ulp (the plateau
    computes x·(1/√dl) where classic computes x/√dl)."""
    a = SearchEngine(spark, built, cfg=CFG, similarity="classic")
    b = SearchEngine(spark, built, cfg=CFG, similarity="sweetspot")
    ra = [r.asDict() for r in a.search("web data merge", k=20).collect()]
    rb = [r.asDict() for r in b.search("web data merge", k=20).collect()]
    assert ra and [r["doc_id"] for r in ra] == [r["doc_id"] for r in rb]
    for x, y in zip(ra, rb):
        assert math.isclose(x["score"], y["score"], rel_tol=1e-6)


def test_sweetspot_plateau_params(spark, built, oracle_idx):
    """A real plateau (ln_min=3, ln_max=12) scores oracle-exactly and
    differs from the classic ranking's scores."""
    from apache___solr_spark.query.similarities import SweetSpotSimilarity

    sim = SweetSpotSimilarity(ln_min=3, ln_max=12)
    eng = SearchEngine(spark, built, cfg=CFG, similarity=sim)
    got = [r.asDict() for r in eng.search("web data", k=15).collect()]
    want = oracle_search(
        oracle_idx,
        "web data",
        k=15,
        similarity="sweetspot",
        sim_params={"ln_min": 3, "ln_max": 12},
    )
    assert [g["doc_id"] for g in got] == [w["doc_id"] for w in want]
    for g, w in zip(got, want):
        assert math.isclose(g["score"], w["score"], rel_tol=1e-6)
    classic = SearchEngine(spark, built, cfg=CFG, similarity="classic")
    rc = [r.asDict() for r in classic.search("web data", k=15).collect()]
    assert any(
        not math.isclose(a["score"], b["score"], rel_tol=1e-9)
        for a, b in zip(got, rc)
        if a["doc_id"] == b["doc_id"]
    )


def test_similarity_params_override(spark, built, oracle_idx):
    """mu is a real knob: mu=1 weights the doc LM far above the collection
    LM, so scores differ from mu=2000 while ranking stays oracle-exact."""
    from apache___solr_spark.query.similarities import LMDirichletSimilarity

    eng = SearchEngine(
        spark, built, cfg=CFG, similarity=LMDirichletSimilarity(mu=500.0)
    )
    got = [r.asDict() for r in eng.search("web data", k=10).collect()]
    eng2k = SearchEngine(spark, built, cfg=CFG, similarity="lmdirichlet")
    got2k = [r.asDict() for r in eng2k.search("web data", k=10).collect()]
    assert got and got2k
    assert any(
        not math.isclose(a["score"], b["score"], rel_tol=1e-9)
        for a, b in zip(got, got2k)
        if a["doc_id"] == b["doc_id"]
    )


def test_sweetspot_hyperbolic_tf(spark, built, oracle_idx):
    """hyperbolicTf variant: oracle-exact and distinct from baselineTf."""
    from apache___solr_spark.query.similarities import SweetSpotSimilarity

    sim = SweetSpotSimilarity(tf_mode="hyperbolic", hyper_xoffset=2.0)
    eng = SearchEngine(spark, built, cfg=CFG, similarity=sim)
    got = [r.asDict() for r in eng.search("web data", k=15).collect()]
    want = oracle_search(
        oracle_idx,
        "web data",
        k=15,
        similarity="sweetspot",
        sim_params={"tf_mode": "hyperbolic", "hyper_xoffset": 2.0},
    )
    assert got and [g["doc_id"] for g in got] == [w["doc_id"] for w in want]
    for g, w in zip(got, want):
        assert math.isclose(g["score"], w["score"], rel_tol=1e-6)
