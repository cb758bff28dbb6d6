"""Differential fuzz of the boolean query surface: random boolean ASTs are
rendered to classic query strings (explicit parens, AND/OR/NOT), run through
the full parse -> tree-evaluate -> index path, and the MATCH SET is compared
against the AST's set semantics computed directly from the corpus — an
oracle that shares no code with the parser or engine.

Scores are oracled elsewhere (DuckDB BM25 entries, rank-identity tests);
this test pins down pure matching semantics for arbitrarily nested
(a AND (b OR NOT c)) shapes the golden suites can't enumerate.
"""

from __future__ import annotations

import os
import sys
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apache___solr_spark.index.builder import build_index
from apache___solr_spark.query.engine import SearchEngine

VOCAB = [f"qt{i}" for i in range(8)]
N_DOCS = 120


def _doc_terms(doc_id: int) -> set[str]:
    # deterministic, hits varied subsets: doc i contains qt_j iff bit j of
    # a mixed hash is set (plus qt0 for every 5th doc so head/rare mix)
    h = (doc_id * 2654435761) & 0xFFFFFFFF
    terms = {VOCAB[j] for j in range(8) if (h >> j) & 1}
    if doc_id % 5 == 0:
        terms.add(VOCAB[0])
    return terms or {VOCAB[1]}


@pytest.fixture(scope="module")
def fuzz_engine(spark):
    rows = [
        (
            f"https://fuzz.example/{i}",
            None,
            " ".join(sorted(_doc_terms(i))),
            "en",
        )
        for i in range(N_DOCS)
    ]
    pages = spark.createDataFrame(
        rows, "url string, html binary, text string, lang string"
    ).withColumn("warc_ts", F.current_timestamp())
    work = tempfile.mkdtemp(prefix="boolfuzz_")
    idx = os.path.join(work, "index")
    build_index(spark, pages, idx)
    eng = SearchEngine(spark, idx)
    # url -> oracle doc-term sets, keyed by the engine's own url column
    url_terms = {f"https://fuzz.example/{i}": _doc_terms(i) for i in range(N_DOCS)}
    return eng, url_terms


# ---- random AST ------------------------------------------------------------

leaf = st.sampled_from(VOCAB).map(lambda t: ("term", t))


def _node(children):
    return st.one_of(
        st.tuples(st.just("and"), children, children),
        st.tuples(st.just("or"), children, children),
        # NOT only in guarded form (x AND NOT y): pure-negative queries have
        # engine-specific top-level semantics and are tested separately
        st.tuples(st.just("andnot"), children, children),
    )


ast = st.recursive(leaf, _node, max_leaves=6)


def render(node) -> str:
    kind = node[0]
    if kind == "term":
        return node[1]
    _, a, b = node
    if kind == "and":
        return f"({render(a)} AND {render(b)})"
    if kind == "or":
        return f"({render(a)} OR {render(b)})"
    return f"({render(a)} AND NOT {render(b)})"


def semantics(node, doc: set[str]) -> bool:
    kind = node[0]
    if kind == "term":
        return node[1] in doc
    _, a, b = node
    if kind == "and":
        return semantics(a, doc) and semantics(b, doc)
    if kind == "or":
        return semantics(a, doc) or semantics(b, doc)
    return semantics(a, doc) and not semantics(b, doc)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tree=ast)
def test_random_boolean_tree_matches_set_oracle(fuzz_engine, tree):
    eng, url_terms = fuzz_engine
    q = render(tree)
    got = {r["url"] for r in eng.search(q, k=N_DOCS + 1).collect()}
    want = {u for u, terms in url_terms.items() if semantics(tree, terms)}
    assert got == want, f"query {q!r}: engine{sorted(got)[:5]}... oracle{sorted(want)[:5]}..."


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tree=ast, fq_tree=ast)
def test_random_fq_is_docset_intersection(fuzz_engine, tree, fq_tree):
    """fq property: search(q, fq=[f]) matches exactly
    matches(q) ∩ matches(f) — for arbitrary nested boolean q AND f, both
    flat and tree engine paths, against the shared-nothing set oracle."""
    eng, url_terms = fuzz_engine
    q, f = render(tree), render(fq_tree)
    got = {
        r["url"] for r in eng.search(q, k=N_DOCS + 1, fq=[f]).collect()
    }
    want = {
        u
        for u, terms in url_terms.items()
        if semantics(tree, terms) and semantics(fq_tree, terms)
    }
    assert got == want, f"q={q!r} fq={f!r}"


# ---- JSON Request API front door (query/json_request.py) -------------------


def to_json_query(node):
    """AST -> the JSON Request API's bool DSL (JsonQueryConverter shapes)."""
    kind = node[0]
    if kind == "term":
        return node[1]
    _, a, b = node
    if kind == "and":
        return {"bool": {"must": [to_json_query(a), to_json_query(b)]}}
    if kind == "or":
        return {"bool": {"should": [to_json_query(a), to_json_query(b)]}}
    return {
        "bool": {"must": [to_json_query(a)], "must_not": [to_json_query(b)]}
    }


def _leaves(node) -> list:
    if node[0] == "term":
        return [node[1]]
    return _leaves(node[1]) + _leaves(node[2])


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tree=ast, fq_tree=ast)
def test_random_json_request_matches_classic(fuzz_engine, tree, fq_tree):
    """JSON Request API property: {"query": <bool DSL>, "filter": [f]}
    returns the SAME docs AND scores as the classic-grammar twin with an
    fq — the front door is a pure translation layer, fuzz-checked over
    arbitrary nested bool bodies.

    Restricted to distinct leaves: a term DUPLICATED across SHOULD
    branches scores once on the classic flat path but once per clause
    through the {!bool} translation (Lucene itself merges duplicate
    clauses by summing boosts) — a documented clause-dedup divergence,
    not a translation defect."""
    from hypothesis import assume

    from apache___solr_spark.query.json_request import json_request

    lv = _leaves(tree)
    assume(len(lv) == len(set(lv)))
    eng, url_terms = fuzz_engine
    q, f = render(tree), render(fq_tree)
    got = {
        (r["url"], round(float(r["score"]), 4))
        for r in json_request(
            eng,
            {"query": to_json_query(tree), "filter": [f], "limit": N_DOCS + 1},
        ).collect()
    }
    want = {
        (r["url"], round(float(r["score"]), 4))
        for r in eng.search(q, k=N_DOCS + 1, fq=[f]).collect()
    }
    assert got == want, f"q={q!r} fq={f!r}"
    # the doc set also matches the shared-nothing semantics oracle
    assert {u for u, _ in got} == {
        u
        for u, terms in url_terms.items()
        if semantics(tree, terms) and semantics(fq_tree, terms)
    }


# ---- {!collapse} over arbitrary boolean + fq combos ------------------------


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tree=ast, fq_tree=ast, nmod=st.integers(min_value=2, max_value=9))
def test_random_collapse_matches_groupwise_argmax(fuzz_engine, tree, fq_tree, nmod):
    """collapsed_search property: for ANY boolean query + fq, collapsing
    on a derived key equals groupwise argmax (score desc, doc_id asc)
    over the full scored match set, then top-k — verified against a
    python oracle fed by the (independently fuzz-verified) scored
    search."""
    eng, url_terms = fuzz_engine
    q, f = render(tree), render(fq_tree)
    full = eng.search(q, k=N_DOCS + 1, fq=[f], prune=False).collect()
    best: dict[int, tuple] = {}
    for r in full:
        g = r["doc_id"] % nmod
        key = (-float(r["score"]), r["doc_id"])
        if g not in best or key < best[g]:
            best[g] = key
    want = sorted(best.values())[:10]
    want = [(d, round(-s, 4)) for s, d in want]
    got = [
        (r["doc_id"], round(float(r["score"]), 4))
        for r in eng.collapsed_search(
            q, by=f"pmod(doc_id, {nmod})", k=10, fq=[f]
        ).collect()
    ]
    assert got == want, f"q={q!r} fq={f!r} nmod={nmod}"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tree=ast)
def test_random_boolean_tree_same_in_both_placements(fuzz_engine, tree):
    """The kernel's driver placement (budget forced huge) and its Spark
    placement (budget forced to 0) return the same full page: rank,
    doc_id, url and score."""
    eng, _ = fuzz_engine
    q = render(tree)
    pages, host_budget = [], eng._driver_budget
    for budget in (10**15, 0):
        eng._driver_budget = budget
        pages.append(eng.search(q, k=N_DOCS + 1).collect())
    eng._driver_budget = host_budget
    assert pages[0] == pages[1], q
