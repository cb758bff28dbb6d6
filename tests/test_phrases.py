"""PhrasesIdentificationComponent analog: exact-stat phrase scoring vs an
independent brute-force oracle (PhrasesIdentificationComponent.java:1038
computeFieldScore, :266 scoreAndAddResultsToResponse)."""

from __future__ import annotations

import math

import pytest

from apache___solr_spark.analysis.chain import analyze
from apache___solr_spark.config import IndexConfig
from apache___solr_spark.index.builder import build_index
from apache___solr_spark.query.engine import SearchEngine
from apache___solr_spark.query.phrases import identify_phrases

CFG = IndexConfig(salt_range=64, n_buckets=4)


def _texts() -> list[str]:
    rows = []
    # strong collocation: "san francisco" always adjacent
    for i in range(30):
        rows.append(f"san francisco is foggy number{i}")
    # the words also exist apart (keeps conj/ttf apart from df)
    rows += ["san diego stays sunny", "san diego surfs", "francisco walks home"]
    # a 3-term run for the long-phrase path
    for i in range(10):
        rows.append(f"golden gate bridge views item{i}")
    rows += ["golden retriever plays", "gate keeper waits", "bridge cards night"]
    # background
    for i in range(20):
        rows.append(f"random filler words w{i} alpha beta")
    return rows


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    texts = _texts()
    pages = spark.createDataFrame(
        [(f"u{i:04d}", None, None, t, "en") for i, t in enumerate(texts)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = str(tmp_path_factory.mktemp("ph") / "idx")
    build_index(spark, pages, out, cfg=CFG)
    return out, texts


def _oracle_scores(
    texts: list[str], query: str, max_idx: int, max_q: int
) -> dict[tuple[int, int], float]:
    """Brute-force reimplementation: stats counted directly off the corpus
    token lists, formula transcribed independently from the reference."""
    corpus = [analyze(t) for t in texts]
    qtoks = analyze(query)

    def conj(ts):
        need = set(ts)
        return sum(1 for d in corpus if need <= set(d))

    def phrase_stats(ts):
        ttf = df = 0
        for d in corpus:
            c = sum(
                1
                for k in range(len(d) - len(ts) + 1)
                if tuple(d[k: k + len(ts)]) == tuple(ts)
            )
            ttf += c
            df += 1 if c else 0
        return ttf, df

    def term_ttf(t):
        return sum(d.count(t) for d in corpus)

    spans = [
        (i, j)
        for i in range(len(qtoks))
        for j in range(i + 1, min(i + max_q, len(qtoks)) + 1)
    ]
    scores: dict[tuple[int, int], float] = {}
    for i, j in spans:
        ts = tuple(qtoks[i:j])
        length = j - i
        c_p = conj(ts)
        if c_p <= 0 or any(term_ttf(t) <= 0 for t in ts):
            scores[(i, j)] = -1.0
            continue
        if length == 1:
            scores[(i, j)] = 0.0
            continue
        windows = (
            [(i, j)]
            if length <= max_idx
            else [(i + k, i + k + max_idx) for k in range(length - max_idx + 1)]
        )
        total = 0.0
        max_sub = c_p
        dead = False
        for wi, wj in windows:
            wts = tuple(qtoks[wi:wj])
            w_ttf, _ = phrase_stats(wts)
            w_conj = conj(wts)
            if w_conj <= 0:
                dead = True
                break
            max_sub = max(max_sub, w_conj)
            wrap = 0.0
            for si, sj in spans:
                sl = sj - si
                if (wj - wi) < sl <= max_idx and si <= wi and wj <= sj:
                    sc = conj(tuple(qtoks[si:sj]))
                    if sc > 0:
                        wrap = max(wrap, phrase_stats(tuple(qtoks[si:sj]))[1] / sc)
            ttfs = [term_ttf(t) for t in wts]
            p_words = w_ttf / min(ttfs)
            p_not = w_ttf / max(ttfs)
            p_phrase = c_p / w_conj
            total += p_words * (p_phrase - wrap) - p_not * (1 - (p_phrase - wrap))
        if dead:
            scores[(i, j)] = -1.0
            continue
        total *= 1.0 / (1 + max_q - max_idx)
        total *= c_p / max_sub
        scores[(i, j)] = total
    return scores


def test_identify_phrases_matches_oracle(spark, built):
    out, texts = built
    eng = SearchEngine(spark, out, cfg=CFG)
    q = "please visit san francisco and the golden gate bridge today"
    res = identify_phrases(eng, q, max_indexed_len=3, max_query_len=7)
    want = _oracle_scores(texts, q, 3, 7)
    got = {(s["start"], s["end"]): s["score"] for s in res["all_phrases"]}
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=1e-9, abs_tol=1e-12), (
            k,
            got[k],
            want[k],
        )
    # the planted collocations must be the chosen phrases
    chosen = {d["text"] for d in res["details"]}
    assert "san francisco" in chosen
    assert "golden gate bridge" in chosen
    assert "{san francisco}" in res["summary"]
    assert "{golden gate bridge}" in res["summary"]
    # summary preserves every non-marker character of the input
    assert res["summary"].replace("{", "").replace("}", "") == q


def test_identify_phrases_degenerate_inputs(spark, built):
    out, _ = built
    eng = SearchEngine(spark, out, cfg=CFG)
    res = identify_phrases(eng, "")
    assert res["summary"] == "" and res["details"] == []
    # unknown terms: no positive phrase, summary unchanged
    res = identify_phrases(eng, "zzz qqq")
    assert res["details"] == [] and res["summary"] == "zzz qqq"
    # single known word scores 0 (not a phrase) and is never wrapped
    res = identify_phrases(eng, "francisco")
    assert res["details"] == [] and res["summary"] == "francisco"


def test_identify_phrases_repeated_runs(spark, built):
    """Repeated token runs in the input: sub-phrase windows and wrapper
    (super-phrase) containment are POSITIONAL, so each occurrence scores
    through its own span objects; identical tuples share corpus stats."""
    out, texts = built
    eng = SearchEngine(spark, out, cfg=CFG)
    q = "san francisco stays foggy san francisco"
    res = identify_phrases(eng, q, max_indexed_len=3, max_query_len=7)
    want = _oracle_scores(texts, q, 3, 7)
    got = {(s["start"], s["end"]): s["score"] for s in res["all_phrases"]}
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=1e-9, abs_tol=1e-12), (
            k, got[k], want[k],
        )
    # both occurrences of the collocation are chosen (non-overlapping)
    assert res["summary"].count("{san francisco}") == 2
