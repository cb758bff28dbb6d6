"""The engine's term-dictionary reader, without Spark: expansion over a
two-segment dictionary must equal the oracle's expansion over the summed
per-term stats, and the vectorized Levenshtein must equal the oracle's."""

from __future__ import annotations

import random
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest

from apache___solr_spark.oracle import _expand_oracle, _levenshtein
from apache___solr_spark.query.engine import SearchEngine
from apache___solr_spark.query.engine import _levenshtein as engine_levenshtein
from apache___solr_spark.query.parser import Clause

# (term, df) rows of the built segment, then of an appended one; terms are
# written out of order so no reader sees them pre-sorted
SEGMENT_0 = [
    ("zeta", 3), ("a.b", 2), ("axb", 2), ("c+d", 2), ("cd", 2), ("ccd", 2),
    ("café", 2), ("cafe", 2), ("cafés", 1), ("naïve", 2), ("naive", 1),
    ("日本", 3), ("日本語", 1), ("über", 2), ("uber", 2), ("web", 9),
    ("webs", 2), ("weave", 2), ("wet", 2), ("we", 2), ("wax", 1),
    ("bat", 2), ("bet", 2), ("bit", 2), ("but", 2), ("bot", 2), ("b", 1),
    ("apple", 2), ("apply", 2), ("ample", 2), ("maple", 2), ("a", 3),
]
SEGMENT_1 = [
    ("wax", 8), ("bot", 1), ("but", 1), ("a.b", 1), ("日本語", 4),
    ("cafés", 3), ("zeta", 3), ("ample", 1), ("new", 2),
]


@pytest.fixture(scope="module")
def dict_engine(tmp_path_factory):
    root = tmp_path_factory.mktemp("dict")
    files = []
    for i, seg in enumerate((SEGMENT_0, SEGMENT_1)):
        f = str(root / f"part-{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "term": [t for t, _ in seg],
                    "df": pa.array([d for _, d in seg], pa.int64()),
                    "cf": pa.array([2 * d for _, d in seg], pa.int64()),
                    "bucket": pa.array([0] * len(seg), pa.int32()),
                }
            ),
            f,
        )
        files.append(f)
    eng = SearchEngine.__new__(SearchEngine)
    eng._dict = pads.dataset(files, format="parquet")
    eng._mt_normalize = lambda s: s
    eng.synonyms = {}
    df: dict[str, int] = {}
    for t, d in SEGMENT_0 + SEGMENT_1:
        df[t] = df.get(t, 0) + d
    # the oracle reads a term's df as the length of its postings
    oracle = SimpleNamespace(postings={t: range(d) for t, d in df.items()})
    return eng, oracle


CLAUSES = [
    Clause("SHOULD", "prefix", "a*"),
    Clause("SHOULD", "prefix", "caf*"),
    Clause("SHOULD", "prefix", "日*"),
    Clause("SHOULD", "prefix", "zzz*"),
    Clause("SHOULD", "wildcard", "a.*"),
    Clause("SHOULD", "wildcard", "c+d"),
    Clause("SHOULD", "wildcard", "?d"),
    Clause("SHOULD", "wildcard", "b?t"),
    Clause("SHOULD", "wildcard", "*é*"),
    Clause("SHOULD", "wildcard", "日本?"),
    Clause("SHOULD", "fuzzy", "wet", fuzz=1),
    Clause("SHOULD", "fuzzy", "wet", fuzz=2),
    Clause("SHOULD", "fuzzy", "cafe", fuzz=1),
    Clause("SHOULD", "fuzzy", "nave", fuzz=2),
    Clause("SHOULD", "fuzzy", "日本", fuzz=1),
    Clause("SHOULD", "fuzzy", "web", fuzz=0),
    Clause("SHOULD", "range", lo="b", hi="c"),
    Clause("SHOULD", "range", lo="b", hi="bot", inclusive=False),
    Clause("SHOULD", "range", lo=None, hi="axb"),
    Clause("SHOULD", "range", lo="uber", hi=None),
    Clause("SHOULD", "range", lo="über", hi=None, inclusive=False),
    Clause("SHOULD", "range", lo=None, hi=None),
    Clause("SHOULD", "group", terms=["web", "zzz", "a.b"]),
]


@pytest.mark.parametrize("cap", [128, 3, 5, None])
@pytest.mark.parametrize("cl", CLAUSES, ids=lambda c: f"{c.kind}:{c.label}")
def test_expansion_matches_oracle(dict_engine, cl, cap):
    eng, oracle = dict_engine
    got = eng._expand_rows(cl, max_expansions=cap)["term"].to_pylist()
    assert got == _expand_oracle(oracle, cl, max_expansions=cap)


def test_cap_cuts_through_tied_dfs(dict_engine):
    """b?t matches five terms that all sum to df 2 or 3: a cap of 2 keeps
    the df-3 terms, in term order."""
    eng, _ = dict_engine
    cl = Clause("SHOULD", "wildcard", "b?t")
    assert eng._expand_rows(cl, max_expansions=2)["term"].to_pylist() == [
        "bot", "but",
    ]
    assert eng._expand_rows(cl, max_expansions=4)["term"].to_pylist() == [
        "bot", "but", "bat", "bet",
    ]


def test_term_meta_sums_segments(dict_engine):
    eng, _ = dict_engine
    meta = eng._term_rows(["wax", "nothere", "zeta", "web"])
    assert meta["term"].to_pylist() == ["wax", "zeta", "web"]  # request order
    assert meta["df"].to_pylist() == [9, 6, 9]
    assert meta["cf"].to_pylist() == [18, 12, 18]
    assert eng._term_rows([]).num_rows == 0
    assert eng._term_rows(["nothere"]).num_rows == 0


def test_levenshtein_matches_oracle():
    rng = random.Random(7)
    alphabet = "abcé日本"
    words = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 7)))
        for _ in range(300)
    ]
    for q in ["", "a", "abc", "日本é", "cabbage"] + words[:20]:
        got = engine_levenshtein(words, q).tolist()
        assert got == [_levenshtein(w, q) for w in words], q
    assert engine_levenshtein([], "abc").tolist() == []
