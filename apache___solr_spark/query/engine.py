"""BM25 top-k query engine.

Reproduces the reference /select retrieval path
(solr/core/src/java/org/apache/solr/search/SolrIndexSearcher.java:1633-1916:
filter -> score -> top-k priority queue; distributed merge in
handler/component/QueryComponent.java:970) as a DataFrame plan.  Every
query — classic string, flat ParsedQuery or BoolQuery — is one recursive
boolean tree (QueryParser.jj:135-172), evaluated by one evaluator
(SearchEngine._search_tree), and the span, payload and constant-score
operators ({!surround}, {!complexphrase}, {!payload_score},
{!payload_check}, {!terms}, {!min_hash}) are single leaves of the same
compiled tree, so every query takes one path (SearchEngine._search_plan):

  planning on the driver (no Spark job): synonyms, dictionary expansions,
  term weights, every never-matches rule (_compile), and the placement:
  the query's work (summed df, plus cf when positions are read, plus
  measured per-term-and-salt and span-matcher costs) against a budget
  from host memory and the measured crossover of the placements
  (_driver_budget)
  eval_tree per salt: one batch decode (index/builder._decode_rows), then
  term, expansion, phrase/span, payload and const leaves scored in numpy
  and combined over sorted doc-id arrays (MUST count,
  minimum-should-match, MUST_NOT, boosts, the {!maxscore} dismax root), in
  one of two placements, each salt's root rows masked by the
  tombstones (liveDocs) of its doc-id range inside the kernel's stage:
    driver (work within the budget, no fq/bf/boost, not a docset):
       a pyarrow read of the terms' bucket files captured at engine open
       (bucket, term, and doc_filter's salts, pushed down; positions only
       when the tree holds a phrase), split by salt -> doc_filter mask,
       top-k by (score desc, doc_id asc) in numpy: 0 Spark jobs
    Spark (the rest): ONE bucket-pruned postings scan
       -> groupBy(salt).applyInArrow(eval_tree) -> doc_filter, fq
       semi-join, bf/boost
       -> orderBy(score desc, doc_id asc).limit(k) [TakeOrderedAndProject],
       collected as Arrow
  then the page's urls are read on the driver (pyarrow over the docs
  files) and the page is returned held on the driver (_Page): its
  collect() makes no JVM call.
The explain walker, {!significantTerms} and phrase identification read
every node's per-doc rows or totals from the same kernel
(SearchEngine._evaluate).  ``salt = doc_id // salt_range`` is aligned
across terms, so a tree decomposes exactly by salt (Solr's per-shard
collectors, salts as shards).  Every query-side postings read decodes
through _decode_rows, the same batch decoder the build's merge and
optimize use.  Planning runs no Spark job: every term lookup and
expansion reads the dictionary files on the driver
(SearchEngine._dict_rows).

Scoring: BM25 with k1=1.2, b=0.75
(search/similarities/BM25SimilarityFactory.java:41-51):
  idf  = ln(1 + (N - df + 0.5)/(df + 0.5))                 [float32]
  s_td = idf * tf / (tf + k1*((1-b) + b*dl/avgdl))          [float32]
  doc score = float32(sum_f64(s_td over query terms))
dl is the SmallFloat-quantized doc length (1-byte norms, decoded through the
256-entry table — FieldLengthFeature.java:74-88 semantics), exactly as
Lucene's BM25 length cache does.

The index stores no impact bounds or skip blocks (Lucene's ImpactsEnum):
every query decodes the whole postings row of each (term, salt) it reads.
"""

from __future__ import annotations

import json
import math
import os
import posixpath
import re
from dataclasses import dataclass
from functools import cached_property, reduce
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.fs as pafs
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from apache___solr_spark.analysis.chain import analyzer_fn
from apache___solr_spark.analysis.payloads import decode_payloads
from apache___solr_spark.config import DEFAULT_CONFIG, IndexConfig
from apache___solr_spark.index.builder import (
    DICTIONARY_COLUMNS,
    IndexPaths,
    _decode_rows,
    _undelta_positions,
)
from apache___solr_spark.index.codec import decode_vbyte
from apache___solr_spark.index.smallfloat import NORM_TABLE
from apache___solr_spark.query.parser import (
    BoolQuery,
    Clause,
    NotFlatQuery,
    ParsedQuery,
    PhraseNode,
    TermNode,
    lower_tree,
    parse_query_tree,
)
from apache___solr_spark.query.similarities import BM25Similarity
from apache___solr_spark.session import host_memory_mb


# the (doc_id, score) rows of an empty result, for SearchEngine._page
_NO_HITS = pa.table(
    {"doc_id": pa.array([], pa.int64()), "score": pa.array([], pa.float64())}
)
# positions are matched as ``row << _SHIFT | pos`` int64 keys
_SHIFT = np.int64(32)
_EMPTY = np.empty(0, dtype=np.int64)
_MAX_DOC = np.iinfo(np.int64).max


def bm25_idf(n_docs: int, df: int, dtype=np.float32):
    return dtype(math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))


# a postings scan takes its term list as a literal ``isin`` predicate only
# up to this many terms; past it the list ships as an Arrow LocalRelation
# that the bucket-pruned scan semi-joins (a prohibited ``-t*`` expands
# uncapped, so its list can be long)
_EXCLUDE_LITERAL_CAP = 1024

# bytes of driver working set per posting a query reads (see _driver_budget)
_POSTING_BYTES = 128
# the driver's cost of one term of the query tree in one salt (eval_tree's
# per-leaf numpy calls), in postings decoded in the same time; measured
# before a one-term leaf skipped the union (now ~1/3 of that cost), so it
# errs toward the Spark placement until measured again
_TERM_SALT_POSTINGS = 180
# work (postings, plus _TERM_SALT_POSTINGS per term and salt) up to which
# the driver placement measured faster than the Spark one (see _driver_budget)
_CROSSOVER = 10_000_000
# the driver's cost of a span tree's matcher (_span_freqs, pure Python) in
# postings: per doc holding every slot, and per position beyond its read
_SPAN_ROW_POSTINGS = 60
_SPAN_POS_POSTINGS = 3


def _driver_budget() -> int:
    """The most work a query may hold to run in the driver placement:
    ``min(MemTotal / 16 / _POSTING_BYTES, _CROSSOVER)`` (8.2M at 15.7 GiB).
    The work is the query's postings, plus ``_TERM_SALT_POSTINGS`` for
    each term of the tree in each salt of the index
    (:meth:`SearchEngine._evaluate`).

    Memory: the placement holds a query's postings in the driver's Python
    process (the Arrow read of the encoded rows, one salt's decoded
    arrays at a time, the per-salt results).  Its peak (tracemalloc plus
    the Arrow pool) measured 41-44 bytes per posting on a 100k-doc index
    and 100-110 bytes on a 2k-doc one, where one salt holds every posting;
    ``_POSTING_BYTES`` rounds the worst up.  A sixteenth of the RAM leaves
    the rest to the driver JVM (half of it, ``session._driver_memory``),
    the Python workers and the OS.

    Time: warm ``search()`` + ``collect()`` medians of 5 alternating runs
    per placement, 4 cores, PySpark 4.1.2, the 100k-doc Zipf index (13
    salts), OR queries over the n most frequent terms.  The driver time
    fits postings / 4.0M/s + 44 us per term and salt (so one term in one
    salt weighs as 180 postings):

    =========  ==========  ============  ===========  ========
    terms      postings    work          driver (s)   Spark (s)
    =========  ==========  ============  ===========  ========
    2          0.19M       0.19M         0.10         0.63
    40         1.97M       2.07M         0.48         1.17
    400        4.31M       5.25M         1.34         1.81
    1,000      5.14M       7.48M         1.87         3.75
    2,500      5.89M       11.7M         2.90         2.91
    10,012     6.89M       30.3M         7.47         5.37
    =========  ==========  ============  ===========  ========

    Phrase ORs (positions read, cf counted) kept the driver ahead up to
    the largest measured, 80 phrases and 10.5M work: 1.31 s against
    2.21 s.  The placements tie near 11.7M work, so ``_CROSSOVER`` is set
    just under it.  More cores speed the Spark placement only, so on a
    larger host the crossover is lower than measured here.

    Span trees: the interval matcher (:func:`_span_freqs`) measured 15 us
    per doc holding every slot (at most the smallest slot df) and 0.87 us
    per position (at most the slots' cf): ``_SPAN_ROW_POSTINGS``,
    ``_SPAN_POS_POSTINGS``.  Same index and method, 3 alternating runs,
    ``{!surround}6W(a, 4N(b, c))`` over terms of df / N = 0.1, 0.3, 0.5,
    0.7, 1.0: candidate docs 169, 4.1k, 15.9k, 44.2k, 89.1k; work 0.75M,
    2.26M, 3.75M, 6.13M, 18.4M (0.07M-3.45M without the matcher); driver
    0.05, 0.14, 0.36, 1.17, 5.09 s; Spark 0.42, 0.47, 0.94, 1.80, 4.09 s."""
    mb = host_memory_mb() or 8 * 1024
    return min((mb << 20) // 16 // _POSTING_BYTES, _CROSSOVER)


def _top_order(ids: np.ndarray, scores: np.ndarray, depth: int) -> np.ndarray:
    """Indices of the top ``depth`` rows ordered by (score desc, doc_id
    asc): the driver's TakeOrderedAndProject.  Every row tied with the
    depth-th score enters the final sort, so the doc_id tiebreak decides
    between them as the ordered Spark limit does."""
    n = scores.size
    sel = np.arange(n)
    if 0 < depth < n:
        sel = np.flatnonzero(scores >= np.partition(scores, n - depth)[n - depth])
    return sel[np.lexsort((ids[sel], -scores[sel]))][:depth]


def _snapshot(df: DataFrame, partition: pa.Field | None = None) -> pads.Dataset:
    """The parquet files ``df`` reads, as listed now, opened as a
    driver-side pyarrow dataset: the engine's snapshot of that table.

    ``partition``: the hive partition column of a table written as
    ``<root>/<name>=<value>/part-*.parquet``.  It is parsed from the one
    directory level under the table's root, never from the root's own
    path, so an index kept under a ``bucket=0/`` folder reads right."""
    files = df.inputFiles()
    fs = pafs.FileSystem.from_uri(files[0])[0]
    paths = [pafs.FileSystem.from_uri(u)[1] for u in files]
    kw = {}
    if partition is not None:
        kw = {
            "partitioning": pads.partitioning(pa.schema([partition]), flavor="hive"),
            "partition_base_dir": posixpath.dirname(posixpath.dirname(paths[0])),
        }
    return pads.dataset(paths, format="parquet", filesystem=fs, **kw)


def _levenshtein(terms: list[str], q: str) -> np.ndarray:
    """Code-point edit distance of every term in ``terms`` to ``q`` (Spark's
    ``levenshtein``): one Wagner–Fischer row sweep over all terms at once,
    each term's distance read off the row at its own length."""
    n, m = len(terms), len(q)
    lens = np.fromiter(map(len, terms), np.int64, n)
    # code point i of every term as row i of a (longest, n) matrix, -1 past
    # a term's end; rows of the DP below are (m + 1, n), so every numpy op
    # runs over all terms contiguously
    flat = np.frombuffer("".join(terms).encode("utf-32-le"), np.uint32)
    inside = np.arange(int(lens.max(initial=0)))[:, None] < lens
    cps = np.full(inside.shape, -1, np.int64)
    cps.T[inside.T] = flat
    qc = np.frombuffer(q.encode("utf-32-le"), np.uint32).astype(np.int64)
    prev = np.repeat(np.arange(m + 1, dtype=np.int64)[:, None], n, axis=1)
    out = np.full(n, m, np.int64)  # an empty term is m edits away
    for i, ci in enumerate(cps):
        # substitution / deletion from the previous row, then insertion
        # runs down the new row
        sub = prev[:-1] + (ci != qc[:, None])
        best = np.minimum(sub, prev[1:] + 1)
        cur = np.empty_like(prev)
        cur[0] = i + 1
        for j in range(m):
            cur[j + 1] = np.minimum(best[j], cur[j] + 1)
        prev = cur
        done = lens == i + 1
        out[done] = cur[m, done]
    return out


def _sloppy_freqs(
    enc: dict[str, np.ndarray], ptoks: list[str], slop: int
) -> tuple[np.ndarray, np.ndarray]:
    """:func:`_phrase_freqs` for classic sloppy phrases: the FRACTIONAL
    SloppyPhraseMatcher freq of every row holding all of ``ptoks``, one
    :func:`query.sloppy.sloppy_freq` call per such row."""
    from apache___solr_spark.query.sloppy import sloppy_freq

    g: dict[str, int] = {}
    groups = [g.setdefault(t, len(g)) for t in ptoks]
    row_of = {t: enc.get(t, _EMPTY) >> _SHIFT for t in g}
    rows = np.unique(reduce(np.intersect1d, row_of.values()))
    cuts = {
        t: (np.searchsorted(r, rows, "left"), np.searchsorted(r, rows, "right"))
        for t, r in row_of.items()
    }
    mask = np.int64((1 << 32) - 1)
    freqs = np.array(
        [
            sloppy_freq(
                [
                    (enc[t][cuts[t][0][i] : cuts[t][1][i]] & mask).tolist()
                    for t in ptoks
                ],
                slop,
                groups,
            )
            for i in range(rows.size)
        ],
        dtype=np.float64,
    )
    hit = freqs > 0.0
    return rows[hit], freqs[hit]


def _phrase_freqs(
    enc: dict[str, np.ndarray],
    ptoks: list[str],
    slop: int = 0,
    ordered: bool = True,
    slots: list[tuple[str, ...]] | None = None,
    lucene_sloppy: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """The phrase matcher: (rows, freqs) of the rows whose phrase frequency
    is > 0, rows ascending.  ``enc`` maps each term to its positions
    encoded ``row << 32 | pos``, ascending; a row is a doc's offset in its
    salt (:func:`eval_tree`).

    ``lucene_sloppy=True`` (classic sloppy phrases, slop>0): freq = the
    FRACTIONAL SloppyPhraseMatcher freq — sum of 1/(1+matchLength) over
    minimized windows, out-of-order matches at transposition cost
    (query/sloppy.py; lucene/core SloppyPhraseMatcher.java) — the
    reference's rank semantics for ``"a b"~N``; one matcher call per row
    holding every term.

    ``ordered=True`` otherwise (SpanNearQuery inOrder=true): freq =
    number of first-term positions starting an INCREASING position chain
    of the phrase terms whose span is <= len(ptoks)-1+slop; slop=0 is
    exact adjacency in both modes (ExactPhraseMatcher).

    ``ordered=False`` (SpanNearQuery inOrder=false — the surround
    parser's N operator, queryparser/surround/query/DistanceQuery.java):
    freq = number of MINIMAL windows containing at least one occurrence
    of every distinct term with span <= m-1+slop (m = #distinct terms).
    Each merged position is a candidate window start; its minimal cover
    is the earliest occurrence of every term at-or-after it, and windows
    are deduplicated by their end position so each minimal window counts
    once (unweighted, vs Lucene's 1/(1+slop-matchLength) sloppyFreq —
    same documented divergence as the ordered path).

    ``slots`` generalizes each phrase position to a term SET
    (ComplexPhraseQParserPlugin: a wildcard inside a phrase rewrites to a
    SpanOr of its dictionary expansions — any member term satisfies the
    slot); the default is singleton slots == plain phrase terms.

    The ordered and unordered checks run over all rows at once: one
    vectorized searchsorted per phrase slot advances every candidate
    chain in every row — no per-row Python loop (high-df phrase terms stay
    numpy-bound).  Greedy smallest-next is exact: it minimizes the chain
    end for each start, so a start matches iff its greedy chain satisfies
    the span bound."""
    if lucene_sloppy and ordered and slop > 0 and slots is None and len(ptoks) > 1:
        return _sloppy_freqs(enc, ptoks, slop)
    if slots is None:
        slots = [(t,) for t in (ptoks if ordered else sorted(set(ptoks)))]
    bound = np.int64(len(slots) - 1 + slop)
    if ordered:
        start = _slot_positions(enc, slots[0])
        cur = start
        alive = np.ones(start.shape, dtype=bool)
        for s in slots[1:]:
            arr = _slot_positions(enc, s)
            if arr.size == 0:
                return _EMPTY, _EMPTY
            idx = np.searchsorted(arr, cur, side="right")
            ok = idx < arr.size
            nxt = arr[np.minimum(idx, arr.size - 1)]
            ok &= (nxt >> _SHIFT) == (cur >> _SHIFT)  # same row
            alive &= ok
            cur = np.where(ok, nxt, cur)
        alive &= (cur - start) <= bound
        return np.unique(start[alive] >> _SHIFT, return_counts=True)
    arrs = [_slot_positions(enc, s) for s in slots]
    if any(a.size == 0 for a in arrs):
        return _EMPTY, _EMPTY
    merged = np.sort(np.concatenate(arrs))
    row_of = merged >> _SHIFT
    valid = np.ones(merged.shape, dtype=bool)
    end_vals = merged.copy()
    for arr in arrs:
        idx = np.searchsorted(arr, merged, side="left")
        ok = idx < arr.size
        nxt = arr[np.minimum(idx, arr.size - 1)]
        ok &= (nxt >> _SHIFT) == row_of
        valid &= ok
        end_vals = np.maximum(end_vals, np.where(ok, nxt, end_vals))
    match = valid & ((end_vals - merged) <= bound)
    return np.unique(np.unique(end_vals[match]) >> _SHIFT, return_counts=True)


def _slot_positions(enc: dict[str, np.ndarray], slot: tuple[str, ...]) -> np.ndarray:
    """The encoded positions of any member of ``slot``, ascending."""
    if len(slot) == 1:
        return enc.get(slot[0], _EMPTY)
    a = np.concatenate([enc.get(t, _EMPTY) for t in slot])
    a.sort()  # distinct terms never share (row, pos): no dups
    return a


def _span_freqs(tree, slots: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """:func:`_phrase_freqs` for a span tree (query/spans.py, shared
    verbatim with the oracle): ``slots`` holds each slot's encoded
    positions, and :func:`query.spans.match_intervals` runs once per row
    holding every slot.  The freq is the root's distinct match STARTS when
    the root is ordered (or a seq/slot); when unordered, its distinct
    MINIMAL ENDS (min end per start, then distinct), the flat matchers'
    counting, so a degenerate tree scores like span_near/complex_phrase."""
    from apache___solr_spark.query.spans import match_intervals

    row_of = [a >> _SHIFT for a in slots]
    rows = reduce(np.intersect1d, row_of)
    cuts = [(np.searchsorted(r, rows, "left"), np.searchsorted(r, rows, "right")) for r in row_of]
    mask = np.int64((1 << 32) - 1)
    unordered = tree[0] == "near" and not tree[2]
    freqs = np.zeros(rows.size, dtype=np.int64)
    for i in range(rows.size):
        m = match_intervals(
            tree,
            {j: (a[lo[i] : hi[i]] & mask).tolist() for j, (a, (lo, hi)) in enumerate(zip(slots, cuts))},
        )
        if unordered:  # m is sorted: the last write per start is its min end
            freqs[i] = len(set(dict(reversed(m)).values()))
        else:
            freqs[i] = len({s for s, _ in m})
    hit = freqs > 0
    return rows[hit], freqs[hit]


# -- the boolean evaluator ---------------------------------------------------


@dataclass(frozen=True)
class _PlanNode:
    """One matchable node of a compiled query tree (:func:`_compile`, or
    one operator's single leaf).

    ``kind``: ``terms`` (a term, or an expansion clause: the sum of its
    terms' scores); ``docs`` (an expansion under a MUST_NOT ancestor: doc
    ids only, score 0); ``phrase`` (a phrase or span: ``terms`` = its
    tokens, or its slot members in slot order, whose weights sum to its
    idf; ``slots`` = the term set of each position, None for one token
    each; ``ordered`` and ``spans``, a span tree over the slots, pick the
    matcher); ``payload`` (the exact-adjacency spans of ``slots``, scored
    from the payloads at their positions: ``payload`` = (func,
    include_span, expected, check_op)); ``const`` (a doc holding any of
    ``terms`` scores 1, or with ``n`` set, how many of them it holds / n;
    ``bands``, when set, keeps only docs holding every term of one band);
    ``bool`` (``children`` = (occur, node) pairs).  ``path`` is the
    node's dotted child-index position in the query tree ("" = root).
    ``tie`` is set on a ``{!maxscore}`` root only."""

    path: str
    kind: str
    terms: tuple[str, ...] = ()
    boost: float = 1.0
    slop: int = 0
    window: bool = False
    mm: int = 0
    children: tuple[tuple[str, "_PlanNode"], ...] = ()
    tie: float | None = None
    slots: tuple[tuple[str, ...], ...] | None = None
    ordered: bool = True
    spans: tuple | None = None
    payload: tuple | None = None
    n: int = 0
    bands: tuple[tuple[str, ...], ...] | None = None

    def walk(self) -> Iterator["_PlanNode"]:
        yield self
        for _occur, c in self.children:
            yield from c.walk()


@dataclass(frozen=True)
class TreePlan:
    """What :func:`eval_tree` needs besides the postings rows: the compiled
    tree, the per-term weights, the similarity kernel scoring term leaves,
    the BM25 kernel scoring phrase and payload leaves, the index's
    ``salt_range`` and the score dtype."""

    root: _PlanNode
    weights: dict
    kernel: object
    phrase_kernel: object
    salt_range: int
    dtype: type = np.float32


def _compile(
    tree, resolved, found, sim, store_positions: bool, tie: float | None = None
) -> _PlanNode | None:
    """The static half of boolean evaluation, on the driver, from
    :meth:`SearchEngine._plan`'s output: the tree with every node that can
    never match removed, or None when the whole query can never match.

    A leaf can never match when a term or phrase token is not in the
    dictionary or an expansion is empty.  A boolean node can never match
    when a MUST child can never match, when it has no matchable positive
    child (Lucene: only prohibited clauses match nothing) or when ``mm``
    exceeds its matchable SHOULD children.  Children are compiled in
    order and the first dead MUST child stops the node.  ``tie`` makes a
    boolean root the ``{!maxscore}`` dismax (MaxScoreQParser rewrites only
    the top BooleanQuery); its ``mm`` > 1 can never be met, since the
    rewrite leaves one optional clause."""

    def leaf(node, path: str) -> _PlanNode | None:
        if isinstance(node, TermNode):
            if node.term not in found:
                return None
            return _PlanNode(path, "terms", (node.term,), float(node.boost))
        if isinstance(node, PhraseNode):
            if not sim.supports_phrases:
                raise NotImplementedError(
                    f"similarity {sim.name!r} scores term queries "
                    "only; phrase clauses need BM25"
                )
            if any(t not in found for t in node.toks):
                return None
            if not store_positions:
                raise NotImplementedError(
                    "index built with store_positions=False; phrase queries "
                    "unavailable (rebuild with store_positions=True)"
                )
            return _PlanNode(
                path,
                "phrase",
                tuple(node.toks),
                float(node.boost),
                slop=int(node.slop),
                window=bool(node.window),
            )
        terms, negated = resolved[id(node)]
        if not terms:
            return None
        # a group repeating a term, (a a), scores it once
        return _PlanNode(
            path,
            "docs" if negated else "terms",
            tuple(dict.fromkeys(terms)),
            float(node.boost),
        )

    def walk(node, path: str, tie: float | None = None) -> _PlanNode | None:
        if not isinstance(node, BoolQuery):
            return leaf(node, path)
        kids = []
        for i, c in enumerate(node.children):
            occur = c.occur if c.occur in ("MUST", "MUST_NOT") else "SHOULD"
            kid = walk(c.node, f"{path}.{i}" if path else str(i))
            if kid is None:
                if occur == "MUST":
                    return None
                continue
            kids.append((occur, kid))
        if all(o == "MUST_NOT" for o, _ in kids):
            return None
        mm = int(node.mm)
        if mm > sum(o == "SHOULD" for o, _ in kids) or (tie is not None and mm > 1):
            return None
        return _PlanNode(
            path,
            "bool",
            boost=float(node.boost),
            mm=mm,
            children=tuple(kids),
            tie=None if tie is None else float(tie),
        )

    return walk(tree, "", tie)


# payload_check's comparison of each span position's payload
_CHECK_OPS = {
    "eq": np.equal,
    "gt": np.greater,
    "gte": np.greater_equal,
    "lt": np.less,
    "lte": np.less_equal,
}


def eval_tree(
    rows: pa.Table, plan: TreePlan, payloads=None
) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """Evaluate ``plan`` over the postings rows of ONE salt: every node's
    path -> (doc_ids ascending, float64 scores) of the docs it matches.

    ``salt = doc_id // salt_range`` is aligned across terms, so every
    posting of a doc is in its salt's rows and a query tree decomposes
    exactly by salt (Solr's per-shard collectors, with salts as shards).
    The rows (term, salt, n_docs, doc_gaps, tfs, norms[, positions]) decode
    once (index/builder._decode_rows); after add_docs a (term, salt) pair
    holds one row per segment, merged here by doc id.  Then:

    - a term scores with the similarity kernel (dtype, like Lucene's float
      scores); an expansion sums its terms' scores, a negated one yields
      doc ids;
    - a phrase leaf runs :func:`_phrase_freqs` (or :func:`_span_freqs`
      for a span tree) over positions encoded
      ``(doc_id - salt_base) << 32 | pos`` and scores BM25 with tf = the
      phrase freq and idf = the summed token idfs;
    - a payload leaf finds the exact-adjacency spans of its slots, reads
      the payloads at their positions from ``payloads(doc_ids)``, rows
      (doc_id, n, payloads) of at least those docs, and scores them
      (PayloadScoreQuery / SpanPayloadCheckQuery);
    - a const leaf scores 1, or its matched-term count / n (min-hash);
    - a boolean node combines its children over their sorted doc ids:
      every MUST child present, at least ``mm`` SHOULD children, no
      MUST_NOT child, score = float64 sum of the positive children times
      the node boost.  A ``{!maxscore}`` root scores sum(MUST) + max(SHOULD)
      + tie * (sum(SHOULD) - max(SHOULD)).

    Child scores accumulate in float64; the caller rounds the root's once
    to the score dtype (the oracle's f64 accumulation + single rounding)."""
    rb = rows.combine_chunks().to_batches()[0]
    salt_range, dtype = plan.salt_range, plan.dtype
    doc_ids, tfs, norms, pos_gaps, starts = _decode_rows(rb, salt_range)
    ends = starts + rb.column("n_docs").to_numpy()
    base = int(rb.column("salt")[0].as_py()) * salt_range
    if tfs is not None:  # a tree of doc-id and const leaves reads doc_gaps only
        tfd = tfs.astype(dtype)
        dl = NORM_TABLE.astype(dtype)[norms]
    if pos_gaps is not None:
        positions = _undelta_positions(pos_gaps, tfs)
        pos_at = np.cumsum(tfs) - tfs
    rows_of: dict[str, list[int]] = {}
    for i, t in enumerate(rb.column("term").to_pylist()):
        rows_of.setdefault(t, []).append(i)
    empty = _EMPTY, np.empty(0)

    def postings(t: str) -> slice | np.ndarray:
        """``t``'s postings in the flat arrays, by doc id: a slice when
        the term has one row in the salt."""
        rs = rows_of.get(t, [])
        if len(rs) == 1:
            return slice(starts[rs[0]], ends[rs[0]])
        idx = np.concatenate([_EMPTY] + [np.arange(starts[r], ends[r]) for r in rs])
        return idx[np.argsort(doc_ids[idx], kind="stable")]

    def term_scores(t: str, boost: float) -> tuple[np.ndarray, np.ndarray]:
        idx = postings(t)
        sc = plan.kernel(plan.weights[t], boost, tfd[idx], dl[idx])
        return doc_ids[idx], np.asarray(sc, dtype).astype(np.float64)

    def encoded(idx) -> np.ndarray:
        """(doc_id - base) << 32 | pos over the postings ``idx``."""
        n = tfs[idx]
        at = np.repeat(pos_at[idx] - (np.cumsum(n) - n), n) + np.arange(n.sum())
        return (np.repeat(doc_ids[idx] - base, n) << _SHIFT) + positions[at]

    def positional(node: _PlanNode) -> dict[str, np.ndarray] | None:
        """Each term of ``node`` -> its encoded positions, or None when a
        slot has no posting in this salt."""
        slots = node.slots or [(t,) for t in node.terms]
        if not all(any(t in rows_of for t in s) for s in slots):
            return None
        return {t: encoded(postings(t)) for t in dict.fromkeys(node.terms)}

    def dl_of(docs: np.ndarray, terms) -> np.ndarray:
        """dl of ``docs``, each holding a posting of one of ``terms``."""
        got = [postings(t) for t in dict.fromkeys(terms)]
        d = np.concatenate([doc_ids[i] for i in got])
        lens = np.concatenate([dl[i] for i in got])
        if len(got) > 1:
            order = np.argsort(d, kind="stable")
            d, lens = d[order], lens[order]
        return lens[np.searchsorted(d, docs)]

    def weight(node: _PlanNode) -> float:
        return float(sum(plan.weights[t] for t in node.terms))

    def phrase(node: _PlanNode) -> tuple[np.ndarray, np.ndarray]:
        enc = positional(node)
        if enc is None:
            return empty
        if node.spans is None:
            keys, freq = _phrase_freqs(
                enc,
                list(node.terms),
                node.slop,
                node.ordered,
                node.slots,
                lucene_sloppy=not node.window,
            )
        else:
            keys, freq = _span_freqs(
                node.spans, [_slot_positions(enc, s) for s in node.slots]
            )
        docs = keys + base
        first = node.slots[0] if node.slots else node.terms[:1]
        sc = plan.phrase_kernel(
            weight(node), node.boost, freq.astype(dtype), dl_of(docs, first)
        )
        return docs, np.asarray(sc, dtype).astype(np.float64)

    def payload(node: _PlanNode) -> tuple[np.ndarray, np.ndarray]:
        """Spans of every position of slot 0 followed by a position of
        each next slot at +1, +2, ... (``operator=or``: one slot of every
        token, each occurrence its own span), scored from their payloads.
        ``func`` mode (PayloadScoreQuery): func over the payloads of every
        matched span position, optionally times the span's BM25 (tf =
        span frequency); a position without a payload (NaN) is skipped
        like collectLeaf skips null payloads, and a doc whose spans carry
        none scores 0.  ``expected`` mode (SpanPayloadCheckQuery): docs
        with >= 1 span whose payloads satisfy ``check_op`` against
        ``expected`` position by position (NaN satisfies none), scored
        BM25 with tf = the matching spans."""
        enc = positional(node)
        if enc is None:
            return empty
        span = _slot_positions(enc, node.slots[0])
        for i, s in enumerate(node.slots[1:], 1):
            span = span[np.isin(span + i, _slot_positions(enc, s))]
        if span.size == 0:
            return empty
        docs = np.unique(span >> _SHIFT) + base
        pay = payloads(docs)  # every doc of a payload index has its row
        at = pc.index_in(pa.array(docs), value_set=pay["doc_id"]).to_numpy()
        func, include_span, expected, check_op = node.payload
        m = len(node.slots)
        ns = pay["n"].to_numpy()[at]
        stream = decode_payloads(
            decode_vbyte(
                b"".join(pay["payloads"].take(pa.array(at)).to_pylist()), int(ns.sum())
            ).astype(np.uint32)
        )
        row = np.searchsorted(docs - base, span >> _SHIFT)
        first = (np.cumsum(ns) - ns)[row] + (span & np.int64((1 << 32) - 1))
        gathered = stream[(first[:, None] + np.arange(m)).ravel()].reshape(-1, m)
        ok = slice(None)
        if expected is not None:
            # NaN (missing payload) fails every comparison op
            ok = _CHECK_OPS[check_op](
                gathered, np.asarray(expected, dtype=np.float32)
            ).all(axis=1)
        hit, tf = np.unique(row[ok], return_counts=True)
        if hit.size == 0:
            return empty
        docs = docs[hit]
        score = plan.phrase_kernel(
            weight(node), node.boost, tf.astype(dtype), dl_of(docs, node.terms)
        )
        if expected is None:
            # segmented reduce over each doc's span payloads (spans are
            # doc-sorted, so a doc owns tf * m contiguous values); NaN
            # payloads are skipped (fmin/fmax ignore them, sums fold 0,
            # the mean divides by the SEEN count, like Lucene's
            # payloadsSeen), and an all-missing doc scores 0
            flat = gathered.ravel().astype(np.float64)
            seg = np.cumsum(tf * m) - tf * m
            nseen = np.add.reduceat(np.isfinite(flat).astype(np.float64), seg)
            if func in ("average", "avg", "sum"):
                vals = np.add.reduceat(np.nan_to_num(flat), seg)
                if func != "sum":
                    vals = np.divide(
                        vals, nseen, out=np.zeros_like(vals), where=nseen > 0
                    )
            else:
                red = np.fmin if func == "min" else np.fmax
                vals = np.where(nseen > 0, np.nan_to_num(red.reduceat(flat, seg)), 0.0)
            span_score = score
            score = vals.astype(dtype)
            if include_span:
                score = score * span_score
        return docs, np.asarray(score, dtype).astype(np.float64)

    def const(node: _PlanNode) -> tuple[np.ndarray, np.ndarray]:
        of = {t: doc_ids[postings(t)] for t in node.terms}
        u, count = np.unique(np.concatenate([_EMPTY, *of.values()]), return_counts=True)
        if node.bands is not None:
            ok = np.zeros(u.size, dtype=bool)
            for band in node.bands:
                ok |= np.isin(u, reduce(np.intersect1d, [of[t] for t in band]))
            u, count = u[ok], count[ok]
        score = count / node.n if node.n else np.ones(u.size)
        return u, np.asarray(score, dtype).astype(np.float64)

    def sums(inv: np.ndarray, w: np.ndarray, n: int) -> np.ndarray:
        """Float64 sums of ``w`` per group ``inv`` (also when empty)."""
        return np.bincount(inv, weights=w, minlength=n).astype(np.float64)

    def combine(node: _PlanNode, kids) -> tuple[np.ndarray, np.ndarray]:
        pos = [(o, r) for o, r in kids if o != "MUST_NOT"]
        u, inv = np.unique(
            np.concatenate([r[0] for _, r in pos]), return_inverse=True
        )
        sc = np.concatenate([r[1] for _, r in pos])
        must = np.repeat([o == "MUST" for o, _ in pos], [r[0].size for _, r in pos])
        n = u.size
        n_must = sum(o == "MUST" for o, _ in pos)
        nm = np.bincount(inv, weights=must, minlength=n)
        if node.tie is None:
            score = sums(inv, sc, n)
        else:
            sh = ~must
            mx = np.full(n, -np.inf)
            np.maximum.at(mx, inv[sh], sc[sh])
            has = np.isfinite(mx)  # the doc matched a SHOULD child
            dis = np.zeros(n)
            dis[has] = mx[has] + node.tie * (sums(inv[sh], sc[sh], n)[has] - mx[has])
            score = sums(inv, np.where(must, sc, 0.0), n) + dis
        keep = np.ones(n, dtype=bool)
        if n_must:
            keep &= nm == n_must
        if node.mm:
            keep &= np.bincount(inv, minlength=n) - nm >= node.mm
        for o, r in kids:
            if o == "MUST_NOT":
                keep &= ~np.isin(u, r[0])
        score = score[keep]
        if node.boost != 1.0:
            score = score * node.boost
        return u[keep], score

    out: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    leaf = {"phrase": phrase, "payload": payload, "const": const}

    def ev(node: _PlanNode) -> tuple[np.ndarray, np.ndarray]:
        if node.kind == "bool":
            res = combine(node, [(o, ev(c)) for o, c in node.children])
        elif node.kind in leaf:
            res = leaf[node.kind](node)
        elif node.kind == "terms" and len(node.terms) == 1:
            # one term's postings are already unique and ascending
            res = term_scores(node.terms[0], node.boost)
        elif node.kind == "terms":
            parts = [term_scores(t, node.boost) for t in node.terms]
            u, inv = np.unique(
                np.concatenate([d for d, _ in parts]), return_inverse=True
            )
            res = u, sums(inv, np.concatenate([s for _, s in parts]), u.size)
        else:  # docs
            u = doc_ids[postings(node.terms[0])]
            if len(node.terms) > 1:
                u = np.unique(np.concatenate([doc_ids[postings(t)] for t in node.terms]))
            res = u, np.zeros(u.size)
        out[node.path] = res
        return res

    ev(plan.root)
    return out


def _node_rows(keep: list[int]) -> tuple:
    """A :meth:`SearchEngine._evaluate` output: every node's (path,
    doc_id, score) rows of the docs ``keep`` (explain)."""
    schema = pa.schema(
        [("path", pa.string()), ("doc_id", pa.int64()), ("score", pa.float64())]
    )
    # ascending, with a sentinel past every doc id
    wanted = np.append(np.unique(np.asarray(keep, dtype=np.int64)), _MAX_DOC)

    def run(res: dict) -> pa.Table:
        paths, ids, scores = [], [_EMPTY], [np.empty(0)]
        for path, (d, sc) in res.items():
            m = wanted[np.searchsorted(wanted, d)] == d
            paths += [path] * int(m.sum())
            ids.append(d[m])
            scores.append(sc[m])
        return pa.table(
            [paths, np.concatenate(ids), np.concatenate(scores)], schema=schema
        )

    return schema, run


class _Page(ClassicDataFrame):
    """A result page held on the driver: its Arrow table and a schema
    built in Python.  ``collect()``, ``count()``, ``toArrow()`` and
    ``schema`` (so ``columns``) are answered from the table, with the
    rows, values and Python types Spark's collect gives, and make no JVM
    call (``toArrow()`` reads one conf, the Arrow string width).  The JVM
    relation, ``createDataFrame(table, schema)``, is built once, by the
    first call that needs it: select, filter, join, orderBy, union,
    createOrReplaceTempView, toPandas, show or write."""

    def __new__(cls, *args, **kwargs):
        # the classic DataFrame.__new__(jdf, session) calls __init__ itself
        return object.__new__(cls)

    def __init__(self, table: pa.Table, schema: StructType, session: SparkSession):
        # the fields the classic DataFrame.__init__ sets, bar _jdf
        self._session = session
        self._sc = session._sc
        self.is_cached = False
        self._support_repr_html = False
        self._schema = schema
        self._table = table.cast(to_arrow_schema(schema))

    @property
    def schema(self) -> StructType:
        return self._schema

    @cached_property
    def _jdf(self):
        return self._session.createDataFrame(self._table, self._schema)._jdf

    def collect(self) -> list[Row]:
        row = Row(*self._schema.names)
        return [row(*r) for r in zip(*(c.to_pylist() for c in self._table.columns))]

    def count(self) -> int:
        return self._table.num_rows

    def toArrow(self) -> pa.Table:
        large = self._session._jconf.arrowUseLargeVarTypes()
        return self._table.cast(to_arrow_schema(self._schema, prefers_large_types=large))


class SearchEngine:
    """Query-side handle on a built index directory: a point-in-time
    reader, like a Lucene ``IndexReader`` before reopen.  The engine reads
    the index as it was at open: the stats, the dictionary, postings and
    docs files it lists then, and the tombstones (``deletes/``), read
    then too.  Docs added or deleted after open stay invisible to it, and
    after ``optimize`` (which rewrites those files) it must be reopened;
    open a new engine to see any update."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        cfg: IndexConfig | None = None,
        synonyms: dict[str, list[str]] | None = None,
        similarity: str | object = "bm25",
    ) -> None:
        """Classic sloppy phrases (``"a b"~N``) score with Lucene
        SloppyPhraseMatcher semantics: out-of-order matches at
        transposition cost, each match weighted 1/(1+matchLength) into a
        fractional tf (query/sloppy.py).  Span/surround/complexphrase
        queries and ``PhraseNode(window=True)`` (the XML ``<SpanNear>``
        lowering) keep ordered-window span semantics, as SpanNearQuery
        does in the reference.

        ``synonyms``: query-time synonym map (SynonymGraphFilter in the
        default schema's QUERY analyzer, managed-schema.xml:308-314) —
        analyzed lowercase term -> equivalent terms.  A query term with
        synonyms becomes one disjunction clause over the synonym set
        (divergence from Lucene's SynonymQuery blended statistics: each
        synonym scores with its own idf — documented).  A synonym value
        containing spaces is a MULTI-WORD mapping ("usa" -> "united
        states"): it becomes a phrase alternative (SynonymGraphFilter's
        multi-token graph), scored like the manually written phrase
        disjunction and excluded as a phrase under MUST_NOT.

        ``similarity``: a factory name ("bm25", "classic", "lmdirichlet",
        "lmjelinekmercer", "boolean") or a Similarity instance
        (query/similarities.py — the SchemaSimilarityFactory analog).
        Non-BM25 similarities score term queries only; phrase/span clauses
        raise."""
        from apache___solr_spark.query.similarities import get_similarity

        self.spark = spark
        self.paths = IndexPaths(index_dir)
        with open(self.paths.stats) as f:
            self.stats = json.load(f)
        # the index's own config is authoritative: cfg=None loads it from
        # the stats file (an index of an older format_version, whose digest
        # covered retired fields, opens too); an explicit cfg must MATCH the
        # build (a mismatch silently mis-prunes buckets/salts — fail loudly
        # instead)
        stored = self.stats.get("config")
        if cfg is None:
            cfg = IndexConfig.from_dict(stored) if stored else DEFAULT_CONFIG
            if not stored and self.stats.get("config_digest") not in (
                None,
                cfg.digest(),
            ):
                raise ValueError(
                    "index predates stored configs and was not built with "
                    "DEFAULT_CONFIG — pass the build cfg explicitly"
                )
        elif self.stats.get("config_digest") not in (None, cfg.digest()):
            raise ValueError(
                "SearchEngine cfg does not match the index's build config "
                f"(digest {cfg.digest()} != {self.stats['config_digest']}); "
                "omit cfg to load the index's own config"
            )
        self.cfg = cfg
        self.postings = spark.read.parquet(self.paths.postings)
        self.dictionary = spark.read.parquet(self.paths.dictionary)
        self.docs = spark.read.parquet(self.paths.docs)
        # the same files, for driver-side reads: stored fields (_stored),
        # every term-dictionary lookup (_dict_rows) and the driver
        # placement's postings reads (_read_postings), whose files carry
        # their bucket= partition
        self._stored_docs = _snapshot(self.docs)
        self._dict = _snapshot(self.dictionary)
        self._postings = _snapshot(self.postings, pa.field("bucket", pa.int32()))
        self._payloads = None  # listed by the first payload query
        self._driver_budget = _driver_budget()
        self._dtype = np.float64 if cfg.score_dtype == "float64" else np.float32
        self._sql_t = "double" if cfg.score_dtype == "float64" else "float"
        self._analyze = analyzer_fn(cfg.analyzer)
        from apache___solr_spark.analysis.chain import multiterm_normalize_fn

        self._mt_normalize = multiterm_normalize_fn(cfg.analyzer)
        self.synonyms = synonyms or {}
        self.sim = get_similarity(similarity, cfg)
        self._kernel = self.sim.kernel(self.stats["avgdl"], dtype=self._dtype)
        # phrase, span and payload scores are BM25 under every similarity
        self._bm25 = BM25Similarity(cfg.bm25_k1, cfg.bm25_b).kernel(
            self.stats["avgdl"], dtype=self._dtype
        )
        from apache___solr_spark.index.updates import load_deletes

        # tombstoned doc_ids (liveDocs mask) — None when never deleted; the
        # kernel's stage masks with the same ids as a sorted array
        self.deletes = load_deletes(spark, index_dir)
        self._deleted = (
            _EMPTY
            if self.deletes is None
            else np.unique(
                _snapshot(self.deletes)
                .to_table(columns=["doc_id"])["doc_id"]
                .to_numpy()
            )
        )

    # -- term dictionary ---------------------------------------------------
    def _dict_rows(self, expr: pc.Expression) -> pa.Table:
        """Aggregated dictionary rows (``DICTIONARY_COLUMNS``) of the terms
        matching ``expr``, a predicate on ``term`` pushed down to the
        snapshot's parquet files.  A term holds one row per segment after add_docs;
        they are summed here (the ExactStatsCache merge).  The term-
        dictionary seek (Lucene's FST analog) is a pyarrow read on the
        driver: no Spark job."""
        got = self._dict.to_table(columns=DICTIONARY_COLUMNS, filter=expr)
        # a term's rows share its bucket
        agg = got.group_by("term", use_threads=False).aggregate(
            [("df", "sum"), ("cf", "sum"), ("bucket", "max")]
        )
        return agg.select(["term", "df_sum", "cf_sum", "bucket_max"]).rename_columns(
            DICTIONARY_COLUMNS
        )

    def _fuzzy_rows(self, q: str, max_edits: int) -> pa.Table:
        """Aggregated dictionary rows within ``max_edits`` code-point edits
        of ``q``, plus their ``distance``: the length band is pushed down,
        the vectorized Levenshtein runs over the band only."""
        n = pc.utf8_length(pc.field("term"))
        rows = self._dict_rows((n >= len(q) - max_edits) & (n <= len(q) + max_edits))
        dist = _levenshtein(rows["term"].to_pylist(), q)
        return rows.append_column("distance", pa.array(dist)).filter(
            pa.array(dist <= max_edits)
        )

    def _term_rows(self, terms: list[str]) -> pa.Table:
        """Aggregated dictionary rows of ``terms``, one per requested term
        in request order (a repeated term repeats its row); a vocabulary
        miss has no row."""
        want = pa.array(terms, pa.string())
        got = self._dict_rows(pc.field("term").isin(want))
        return got.take(pc.drop_null(pc.index_in(want, value_set=got["term"])))

    def _blocks_for(self, rows: pa.Table) -> DataFrame:
        """The postings rows of the terms of ``rows``, aggregated
        dictionary rows (:meth:`_term_rows`): the one place a term list
        becomes a postings scan.  The dictionary's
        bucket prunes the partitioned scan.  Up to
        ``_EXCLUDE_LITERAL_CAP`` terms the term predicate is a literal
        pushed down to parquet row groups; a longer list ships as an Arrow
        LocalRelation that the scan semi-joins."""
        terms = rows["term"].to_pylist()
        buckets = pc.unique(rows["bucket"]).to_pylist()
        blocks = self.postings.filter(F.col("bucket").isin(buckets))
        if len(terms) <= _EXCLUDE_LITERAL_CAP:
            return blocks.filter(F.col("term").isin(terms))
        listed = self.spark.createDataFrame(
            pa.table({"term": pa.array(terms, pa.string())}), "term string"
        )
        return blocks.join(listed, "term", "left_semi")

    # -- scoring -----------------------------------------------------------
    def _weights(self, rows: pa.Table) -> dict[str, float]:
        """Per-term similarity weights from the aggregated dictionary rows
        (TermStates/CollectionStatistics analog: df + cf + corpus totals)."""
        n_docs, total_len = self.stats["N"], self.stats["total_len"]
        return {
            t: self.sim.weight(n_docs, df, cf, total_len, dtype=self._dtype)
            for t, df, cf in zip(
                rows["term"].to_pylist(),
                rows["df"].to_pylist(),
                rows["cf"].to_pylist(),
            )
        }

    def _expand_rows(self, cl, max_expansions: int | None = 128) -> pa.Table:
        """Resolve a prefix/wildcard/fuzzy/range clause against the term
        dictionary (the FST-seek analog: one driver read of the small
        dictionary, never the corpus), capped at ``max_expansions`` terms
        by df desc, term asc (Lucene MultiTermQuery rewrite cap semantics;
        scoring divergence: each expansion scores with its own idf instead
        of the constant-score rewrite — documented).

        ``max_expansions=None`` disables the cap — REQUIRED for MUST_NOT
        clauses: Lucene's prohibited multi-term clauses use constant-score
        rewrite with no term cap, so exclusion must cover every matching
        term or prohibited docs would leak back into results.

        Returns the matched terms' aggregated dictionary rows, in
        expansion order (a group or synonym clause: candidate order)."""
        if cl.kind in ("synonym", "group"):
            return self._term_rows(
                list(cl.terms or [])
                if cl.kind == "group"
                else [cl.value] + list(self.synonyms.get(cl.value, []))
            )
        # MultiTermAware normalization (Analyzer#normalize): fold the
        # CONSTANT parts of the pattern with the analyzer's multiterm
        # filters, so e.g. icu_folding's RÉSu* reaches the dictionary as
        # resu* (the parser already lowercased; this is idempotent there)
        norm = self._mt_normalize
        term = pc.field("term")
        if cl.kind == "fuzzy" and cl.fuzz <= 0:
            return self._term_rows([norm(cl.value)])
        if cl.kind == "prefix":
            rows = self._dict_rows(pc.starts_with(term, norm(cl.value[:-1])))
        elif cl.kind == "wildcard":
            regex = "^" + "".join(
                ".*" if c == "*" else "." if c == "?" else re.escape(norm(c))
                for c in cl.value
            ) + "$"
            rows = self._dict_rows(pc.match_substring_regex(term, regex))
        elif cl.kind == "fuzzy":
            rows = self._fuzzy_rows(norm(cl.value), cl.fuzz)
        elif cl.kind == "range":
            cond = pc.scalar(True)
            if cl.lo is not None:
                lo = norm(cl.lo)
                cond = cond & (term >= lo if cl.inclusive else term > lo)
            if cl.hi is not None:
                hi = norm(cl.hi)
                cond = cond & (term <= hi if cl.inclusive else term < hi)
            rows = self._dict_rows(cond)
        else:
            raise ValueError(f"unknown expansion kind {cl.kind!r}")
        order = pc.sort_indices(
            rows, sort_keys=[("df", "descending"), ("term", "ascending")]
        )
        return rows.take(order[:max_expansions])

    def _span_search(
        self,
        slots: list[tuple[str, ...]],
        k: int,
        with_url: bool,
        slop: int = 0,
        ordered: bool = True,
        spans=None,
    ) -> DataFrame:
        """The top-k of one span leaf over ``slots``, the term set of each
        position (span_near, complex_phrase, span_tree): a slot member
        missing from the dictionary can never match, and a slot with no
        member present makes the span unmatchable.  ``slop=0`` is exact
        adjacency, ``slop>0`` an ordered window, ``ordered=False`` the
        unordered minimal window (:func:`_phrase_freqs`); ``spans`` (a
        slot-level span tree, query/spans.py) swaps in the nested-interval
        matcher (:func:`_span_freqs`).  Docs score BM25 with tf = the span
        frequency and idf = the summed idfs of every slot member
        (SpanWeight aggregates the statistics of ALL terms under the
        query; the expansion cap bounds the sum)."""
        rows = self._term_rows(sorted({t for s in slots for t in s}))
        found = set(rows["term"].to_pylist())
        slots = tuple(tuple(t for t in s if t in found) for s in slots)
        if any(not s for s in slots):
            return self._page(_NO_HITS, with_url)
        if not self.cfg.store_positions:
            raise NotImplementedError(
                "index built with store_positions=False; phrase queries "
                "unavailable (rebuild with store_positions=True)"
            )
        node = _PlanNode(
            "",
            "phrase",
            tuple(t for s in slots for t in s),
            slop=slop,
            window=True,
            slots=slots,
            ordered=ordered,
            spans=spans,
        )
        return self._search_plan(node, self._weights(rows), rows, k, with_url=with_url)

    def span_near(
        self,
        words: list[str],
        dist: int = 1,
        ordered: bool = True,
        k: int = 10,
        with_url: bool = True,
    ) -> DataFrame:
        """Span-proximity top-k — the surround parser's ``<dist>W(...)``
        (ordered) / ``<dist>N(...)`` (unordered) distance operators
        (SurroundQParserPlugin.java; queryparser/surround/query/
        DistanceQuery.java builds SpanNearQuery(slop=dist-1, inOrder)).

        Each word is query-analyzed; a word that analyzes to several
        tokens contributes them in sequence (ordered) / to the distinct
        set (unordered).  All words are REQUIRED (span semantics).  Docs
        score BM25 with tf = span frequency and idf = summed constituent
        idfs, like phrases.  Returns (rank, doc_id[, url], score).
        """
        if dist < 1:
            raise ValueError("span distance must be >= 1")
        if not self.sim.supports_phrases:
            raise NotImplementedError(
                f"similarity {self.sim.name!r}: span queries need BM25"
            )
        toks: list[str] = []
        for w in words:
            toks.extend(self._analyze(w))
        if not ordered:
            toks = sorted(set(toks))
        if not toks:
            return self._page(_NO_HITS, with_url)
        return self._span_search(
            [(t,) for t in toks], k, with_url, slop=dist - 1, ordered=ordered
        )

    def minhash_search(
        self,
        text: str,
        k: int = 10,
        sim: float | None = None,
        tp: float = 1.0,
        sep: str | None = None,
        with_url: bool = True,
    ) -> DataFrame:
        """``{!min_hash}`` (MinHashQParser.java) over an index built with
        ``analyzer="min_hash"`` (analysis/minhash.py): the query text runs
        through the same min-hash chain and each signature token becomes a
        constant-score term clause; a doc's score is its matched-token
        count normalized by the signature size — the Jaccard-similarity
        estimate (the reference reports the unnormalized constant-score
        sum; same ranking).

        ``sim``+``tp`` enable LSH banding (computeBandSize): candidates
        must match EVERY token of at least one band — the selectivity
        gate that keeps a high-similarity lookup from fanning out to
        every doc sharing a single hash.  The per-doc overlap count still
        scores all matched tokens, so banding changes the candidate set
        (by design), never a surviving doc's score.

        Scale shape: one ``const`` leaf of :func:`eval_tree` over the
        signature's terms; the overlap count and the band gate are numpy
        per salt.
        """
        if self.cfg.analyzer != "min_hash":
            raise NotImplementedError(
                "{!min_hash} needs an index built with analyzer='min_hash' "
                f"(this index: {self.cfg.analyzer!r})"
            )
        # sep= (MinHashQParser): the string is PRE-HASHED signature
        # tokens joined by sep (e.g. a stored signature queried back),
        # bypassing the analysis chain
        toks = (
            [t for t in text.split(sep) if t]
            if sep  # empty sep == analyze, like MinHashQParser
            else self._analyze(text)
        )
        n = len(toks)
        rows = self._term_rows(sorted(set(toks)))
        found = rows["term"].to_pylist()
        have = set(found)
        if not found:
            return self._page(_NO_HITS, with_url)
        bands = None
        if sim is not None and tp < 1.0:
            from apache___solr_spark.analysis.minhash import compute_band_size

            size = compute_band_size(n, float(sim), float(tp))
            if size > 1:
                # band = `size` consecutive signature positions; a doc
                # qualifies when it holds every token of some band (a band
                # repeating a token, or holding a missing one, never does)
                bands = tuple(
                    band
                    for band in (tuple(toks[i : i + size]) for i in range(0, n, size))
                    if len(set(band)) == len(band) and set(band) <= have
                )
                if not bands:
                    return self._page(_NO_HITS, with_url)
        node = _PlanNode("", "const", tuple(found), n=n, bands=bands)
        return self._search_plan(node, {}, rows, k, with_url=with_url)

    def _payload_search(
        self, toks: list[str], k: int, with_url: bool, operator: str, payload: tuple
    ) -> DataFrame:
        """The top-k of one payload leaf over the query tokens ``toks``:
        their exact-adjacency phrase, or with ``operator="or"`` every
        occurrence of any of them (SpanOrQuery).  The span score is BM25
        under every similarity, idf summed over the tokens with
        duplicates counted (the engine's phrase scoring)."""
        if not toks:
            return self._page(_NO_HITS, with_url)
        if not os.path.isdir(self.paths.payloads):
            raise NotImplementedError(
                "index has no payload side table — build with "
                "analyzer='whitespace_payload'"
            )
        if not self.cfg.store_positions:
            raise NotImplementedError(
                "payload queries need positions (store_positions=True)"
            )
        rows = self._term_rows(sorted(set(toks)))
        found = rows["term"].to_pylist()
        if not found or (operator != "or" and len(found) < len(set(toks))):
            return self._page(_NO_HITS, with_url)
        slots = (tuple(found),) if operator == "or" else tuple((t,) for t in toks)
        n_docs = self.stats["N"]
        weights = {
            t: float(bm25_idf(n_docs, df, dtype=self._dtype))
            for t, df in zip(found, rows["df"].to_pylist())
        }
        node = _PlanNode(
            "",
            "payload",
            tuple(t for t in toks if t in weights),
            slots=slots,
            payload=payload,
        )
        return self._search_plan(node, weights, rows, k, with_url=with_url)

    def payload_score(
        self,
        query_text: str,
        func: str = "max",
        include_span_score: bool = False,
        operator: str = "phrase",
        k: int = 10,
        with_url: bool = True,
    ) -> DataFrame:
        """``{!payload_score}`` (PayloadScoreQParser.java ->
        lucene/queries PayloadScoreQuery): the query tokens form an
        exact-adjacency span (a single token = a term span;
        ``operator="or"`` makes every term occurrence its own span —
        SpanOrQuery); each doc scores ``func`` (min/max/average/sum)
        over the payloads at every matched span position — positions
        without a payload are skipped, like collectLeaf skips null
        payloads — times the span's BM25 score when ``includeSpanScore``
        (tf = span frequency, idf summed over constituents with
        duplicates counted — the engine's phrase scoring).

        Scale shape: one ``payload`` leaf of :func:`eval_tree`; each
        salt's payload rows are a pyarrow read of the matched docs on the
        driver, or shuffled into the salt's group with its postings in
        Spark."""
        if func not in ("min", "max", "average", "avg", "sum"):
            raise ValueError(f"unknown payload func {func!r}")
        if operator not in ("phrase", "or"):
            raise ValueError(f"unknown payload operator {operator!r}")
        return self._payload_search(
            self._analyze(query_text),
            k,
            with_url,
            operator,
            (func, include_span_score, None, "eq"),
        )

    def payload_check(
        self,
        query_text: str,
        payloads: list[float],
        op: str = "eq",
        k: int = 10,
        with_url: bool = True,
    ) -> DataFrame:
        """``{!payload_check}`` (PayloadCheckQParser.java ->
        SpanPayloadCheckQuery): docs where at least one exact-adjacency
        occurrence of the query tokens carries payloads satisfying
        ``op`` (eq/gt/gte/lt/lte — the parser's MatchOperation) against
        the given values, position by position; a missing payload never
        satisfies any operation.  Matches score like the underlying
        span (BM25 with tf = matching-span frequency)."""
        if op not in _CHECK_OPS:
            raise ValueError(f"unknown payload_check op {op!r}")
        toks = self._analyze(query_text)
        if toks and len(payloads) != len(toks):
            raise ValueError(
                f"payloads count {len(payloads)} != query tokens {len(toks)}"
            )
        return self._payload_search(
            toks, k, with_url, "phrase", (None, False, tuple(payloads), op)
        )

    def _resolve_span_operand(
        self, raw: str, max_expansions: int = 128
    ) -> list[tuple[str, ...]] | None:
        """One span operand -> its slot term-sets: a pattern (``jo*``,
        ``pag?``, ``term~N``) expands against the dictionary into ONE
        SpanOr slot; a plain token analyzes (multi-token analysis yields
        consecutive slots).  ``None`` == the operand can never match
        (a PATTERN with an empty dictionary expansion); ``[]`` == the
        token ANALYZED AWAY (e.g. a stopword) — Lucene's
        ComplexPhraseQueryParser drops such tokens and keeps matching
        the remaining slots, so callers must skip, not fail."""
        from apache___solr_spark.query.parser import Clause

        fm = re.fullmatch(r"(.+?)~(\d*)", raw)
        if "*" in raw or "?" in raw:
            kind = (
                "prefix"
                if raw.endswith("*") and "*" not in raw[:-1] and "?" not in raw
                else "wildcard"
            )
            cl = Clause(occur="SHOULD", kind=kind, value=raw.lower())
            members = self._expand_rows(cl, max_expansions)["term"].to_pylist()
            return [tuple(sorted(members))] if members else None
        if fm:
            cl = Clause(
                occur="SHOULD",
                kind="fuzzy",
                value=fm.group(1).lower(),
                fuzz=int(fm.group(2) or 2),
            )
            members = self._expand_rows(cl, max_expansions)["term"].to_pylist()
            return [tuple(sorted(members))] if members else None
        toks = self._analyze(raw)
        return [(t,) for t in toks]

    def span_tree(
        self,
        spec,
        k: int = 10,
        with_url: bool = True,
        max_expansions: int = 128,
    ) -> DataFrame:
        """NESTED span-proximity query — surround's nested distance
        operators (queryparser/surround/query/DistanceQuery.java trees,
        ``3W(2N(a, b), c)`` -> SpanNear nesting SpanNear).

        ``spec`` is ``("near", dist, ordered, [children])`` with operand
        leaves ``("op", raw)``; operands resolve like complexphrase slots
        (patterns -> SpanOr of dictionary expansions, plain tokens
        analyze — multi-token analysis becomes an adjacency sequence).
        Interval semantics live in query/spans.py (shared verbatim with
        the independent oracle).  Scoring: BM25 with tf = the root's
        span frequency — distinct match STARTS when the root is ordered,
        distinct ENDS when unordered, so a tree that is secretly flat
        scores identically to span_near/complex_phrase — and idf = the
        summed idfs of every slot member (SpanWeight aggregation).

        Scale shape: one span leaf of :func:`eval_tree`, so the same read
        and placement as a phrase query; the per-doc interval algebra
        runs only on the docs of a salt holding every slot.
        """
        if not self.sim.supports_phrases:
            raise NotImplementedError(
                f"similarity {self.sim.name!r}: span queries need BM25"
            )
        slots: list[tuple[str, ...]] = []
        unmatchable = False

        def build(node):
            nonlocal unmatchable
            if node[0] == "near":
                _, dist, ordered, children = node
                built = [build(c) for c in children]
                # a child that analyzed away (stopword) is dropped, like
                # ComplexPhraseQueryParser; a near left with one child
                # collapses to that child, with none it vanishes too
                built = [b for b in built if b is not None]
                if not built:
                    return None
                if len(built) == 1:
                    return built[0]
                return ("near", int(dist), bool(ordered), built)
            groups = self._resolve_span_operand(node[1], max_expansions)
            if groups is None:
                unmatchable = True
                return ("slot", -1)
            if not groups:
                return None
            parts = []
            for g in groups:
                slots.append(tuple(g))
                parts.append(("slot", len(slots) - 1))
            return parts[0] if len(parts) == 1 else ("seq", parts)

        tree = build(spec)
        if unmatchable or not slots:
            return self._page(_NO_HITS, with_url)
        return self._span_search(slots, k, with_url, spans=tree)

    def complex_phrase(
        self,
        phrase: str,
        slop: int = 0,
        ordered: bool = True,
        k: int = 10,
        with_url: bool = True,
        max_expansions: int = 128,
    ) -> DataFrame:
        """ComplexPhraseQParserPlugin: a phrase whose positions may be
        wildcard/prefix/fuzzy patterns — ``"jo* smith"``, ``"web pag?"~2``
        (ComplexPhraseQParserPlugin.java; Lucene ComplexPhraseQueryParser
        rewrites each pattern slot to a SpanOr of its dictionary
        expansions inside a SpanNear(slop, inOrder)).

        Each whitespace token becomes one slot: patterns (``*``/``?``)
        expand against the term dictionary (capped at ``max_expansions``
        by df desc, MultiTermQuery rewrite cap semantics); ``term~N``
        expands by Levenshtein; plain tokens analyze (a multi-token
        analysis contributes its tokens as consecutive slots).  Scoring:
        BM25 with tf = span frequency, idf = summed idfs of every slot
        member (SpanWeight aggregates the term statistics of ALL terms
        under the query — documented: the expansion cap bounds the sum).
        Returns (rank, doc_id[, url], score).
        """
        if not self.sim.supports_phrases:
            raise NotImplementedError(
                f"similarity {self.sim.name!r}: complex phrases need BM25"
            )
        slots: list[tuple[str, ...]] = []
        for raw in phrase.split():
            groups = self._resolve_span_operand(raw, max_expansions)
            if groups is None:
                return self._page(_NO_HITS, with_url)
            slots.extend(groups)
        if not slots:
            return self._page(_NO_HITS, with_url)
        return self._span_search(slots, k, with_url, slop=slop, ordered=ordered)

    def search(
        self,
        query: str | ParsedQuery | BoolQuery,
        k: int = 10,
        start: int = 0,
        prune: bool = True,
        with_url: bool = True,
        doc_filter: list[int] | None = None,
        bf: list | None = None,
        boost: list | None = None,
        default_op: str = "OR",
        fq: list | None = None,
        should_combine: str = "sum",
        tie: float = 0.0,
        _docset: bool | str = False,
        _filter_docset: DataFrame | None = None,
    ) -> DataFrame:
        """Top-k docs for a query. Returns (rank, doc_id[, url], score).

        ``query``: a classic-grammar string, a :class:`ParsedQuery` or a
        :class:`BoolQuery` — every form is evaluated by the one recursive
        evaluator (:meth:`_search_tree`, see :meth:`_as_tree`).

        ``prune`` is accepted and ignored, so that existing callers keep
        working: no query path prunes by a score bound.

        ``default_op``: Solr's q.op — with "AND", bare clauses bind as
        MUST (Lucene AND_OPERATOR promote/demote semantics).

        ``fq``: filter queries (SolrIndexSearcher.getProcessedFilter — the
        reference's most-used request param): each entry is a query whose
        full DocSet intersects the main query's matches BEFORE top-k
        without contributing score (ConstantScore filter semantics — a
        MUST clause would add its BM25 score; fq must not).

        ``doc_filter`` restricts scoring to an explicit (small) doc_id set —
        the rescoring path (ReRankQParserPlugin semantics): the postings scan
        is pruned to the salt ranges containing those ids and only their
        postings are decoded, so rescoring 100 docs never scans the corpus.

        ``bf``: additive function boosts (dismax bf param — each a Column
        over the docs-table fields, functions/registry.parse_func_query);
        ``boost``: multiplicative function boosts (edismax boost param /
        BoostQParserPlugin).  Both join the matching docs' function values
        BEFORE top-k, so the functions influence ranking like the
        reference's FunctionQuery clauses.
        """
        filter_docset = _filter_docset
        for f in fq or []:
            ds = self.docset(f)
            filter_docset = (
                ds
                if filter_docset is None
                else filter_docset.join(ds, "doc_id", "left_semi")
            )
        return self._search_tree(
            self._as_tree(query, default_op),
            k=k,
            start=start,
            with_url=with_url,
            doc_filter=doc_filter,
            bf=bf,
            boost=boost,
            _docset=_docset,
            _filter_docset=filter_docset,
            should_combine=should_combine,
            tie=tie,
        )

    def _as_tree(self, query, default_op: str = "OR"):
        """The tree :meth:`_search_tree` evaluates for a search() input: a
        BoolQuery as given, a ParsedQuery as its one-level tree, a string
        parsed — and, when it lowers to a flat ParsedQuery, evaluated as
        that query's tree, so root-level repeated terms score once."""
        if isinstance(query, ParsedQuery):
            return query.to_tree()
        if not isinstance(query, str):
            return query
        tree = parse_query_tree(
            query, analyze_fn=self._analyze, default_op=default_op
        )
        try:
            return lower_tree(tree).to_tree()
        except NotFlatQuery:
            return tree

    def docset(self, query: str | ParsedQuery) -> DataFrame:
        """Full matching DocSet (search/BitDocSet.java / fq DocSet analog):
        EVERY matching doc_id, no top-k, no scores, no two-phase fetch —
        the input SimpleFacets-style components aggregate over.  Same
        boolean/expansion/deletion semantics as search()."""
        return self.search(query, _docset=True).select("doc_id")

    def scored_docset(
        self, query, fq: list | None = None
    ) -> DataFrame:
        """Every matching (doc_id, score) — the full scored result set the
        CollapsingQParserPlugin collector sees (it needs scores for ALL
        matches to pick each group's best, not just the global top-k)."""
        return self.search(query, fq=fq, _docset="scored")

    def collapsed_search(
        self,
        query,
        by: str,
        k: int = 10,
        null_policy: str = "ignore",
        order_by=None,
        fq: list | None = None,
    ) -> DataFrame:
        """CollapsingQParserPlugin as USED in the reference — an fq
        postfilter over the main query (search/CollapsingQParserPlugin.java
        :121): score every match, keep the single best doc per group, THEN
        take the top k.  (Collapsing after top-k would be wrong: a group's
        head can sit below the global k-th score.)

        ``by`` is a SQL expression over the docs-table columns (a column
        name, or e.g. ``parse_url(url, 'HOST')`` — the reference collapses
        on a docValues field; our group key is any derivable column).
        ``order_by`` overrides the per-group head choice (default: highest
        score, ties to lowest doc_id — the reference's default
        max(score)); pass e.g. ``[F.col("doclen").desc()]`` for the
        ``max=field`` variant.  ``null_policy`` is the reference's
        nullPolicy (ignore / expand / collapse)."""
        from apache___solr_spark.operators.streams import collapse as _collapse

        sd = self.scored_docset(query, fq=fq)
        full = sd.join(self.docs, "doc_id").withColumn("_grp", F.expr(by))
        order = (
            list(order_by)
            if order_by is not None
            else [F.col("score").desc(), F.col("doc_id").asc()]
        )
        best = _collapse(full, "_grp", order, null_policy)
        return self._finalize(best.select("doc_id", "score"), k, with_url=True)

    def sorted_search(
        self,
        query,
        sort: str,
        k: int = 10,
        start: int = 0,
        fq: list | None = None,
    ) -> DataFrame:
        """The ``sort`` request param (SortSpecParsing.java lowering to a
        TopFieldCollector instead of TopScoreDocCollector): rank the FULL
        matching docset by the sort spec instead of relevance.

        Spec grammar: comma-separated ``<key> <asc|desc>`` where key is
        ``score``, a docs-table column (``doclen``, ``url``, ...), or a
        function query (FunctionQParser syntax, e.g.
        ``recip(doclen,1,1000,1)``) over docs columns — the reference's
        three sortable kinds.  Final tiebreak = doc_id asc (Lucene's
        internal-docid tiebreak).  ``score`` stays in the output (the
        reference returns it under field sort whenever fl asks).

        Scale shape: the sort+limit compiles to TakeOrderedAndProject
        (per-partition top-(start+k) then driver merge), never a full
        sort."""
        sd = self.scored_docset(query, fq=fq)
        full = sd.join(self.docs, "doc_id")
        # split sort keys on commas OUTSIDE parens (function queries carry
        # their own commas: "recip(doclen,1,1000,1) desc, score desc")
        parts: list[str] = []
        depth, cur = 0, []
        for ch in str(sort):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                parts.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        parts.append("".join(cur))
        order = []
        for part in parts:
            toks = part.strip().split()
            if not toks:
                continue
            key = toks[0]
            direction = (
                toks[1].lower()
                if len(toks) > 1
                else ("desc" if key == "score" else "asc")
            )
            if key == "score":
                col = F.col("score")
            elif key in full.columns:
                col = F.col(key)
            else:
                from apache___solr_spark.functions.registry import (
                    parse_func_query,
                )

                col = parse_func_query(key)
            order.append(col.desc() if direction == "desc" else col.asc())
        order.append(F.col("doc_id").asc())
        top = (
            full.orderBy(*order)
            .limit(min(int(start) + int(k), int(self.stats["N"])))
            .select("doc_id", "score")
            .toArrow()
        )
        return self._page(top.slice(int(start)), True, int(start))

    def explain_scores(self, query: str | ParsedQuery, k: int = 10) -> DataFrame:
        """debugQuery=true explain analog (response debug component,
        Lucene Explanation tree): per-clause score contributions for the
        top-k hits of a FLAT term/boolean query, flattened to rows

            (rank, doc_id, clause, term, weight, boost, contribution, score)

        where sum(contribution) over a doc's rows equals its score (float
        tolerance).  A term clause is one row (clause = term = the term).
        A phrase or dictionary-expanded (prefix/wildcard/fuzzy/range/
        group/synonym) clause is one row too — term = the clause label,
        contribution = the clause score, weight = the summed constituent /
        matched-term weights (the idf sum Lucene reports in its phrase
        Explanation); MUST_NOT clauses only exclude and so contribute no
        rows.  This is the leaf projection of :meth:`explain_scores_tree`
        over the query's one-level tree.  Nested-tree queries raise — a
        nested disjunction's contribution is not clause-separable in this
        flattened shape (honest subset; use explain_scores_tree)."""
        if isinstance(query, str):
            try:
                query = lower_tree(
                    parse_query_tree(query, analyze_fn=self._analyze)
                )
            except NotFlatQuery as exc:
                raise NotImplementedError(
                    "explain_scores covers flat term/boolean/phrase "
                    "queries; use explain_scores_tree for nested boolean "
                    f"structure: {exc}"
                ) from exc
        schema = (
            "rank int, doc_id long, clause string, term string, "
            f"weight double, boost double, contribution {self._sql_t}, "
            f"score {self._sql_t}"
        )
        rows = [
            (rank, d, term, term, weight, boost, c, sc)
            for rank, d, _p, _o, kind, _l, weight, boost, c, sc, term
            in self._explain_rows(query.to_tree(), k)
            if kind != "bool"
        ]
        return self.spark.createDataFrame(rows, schema).orderBy(
            "rank", "clause", "term"
        )

    def explain_scores_tree(
        self, query: str | BoolQuery, k: int = 10
    ) -> DataFrame:
        """debugQuery explain for ARBITRARY nested boolean queries — the
        tabular encoding of Lucene's nested Explanation tree (the shape the
        reference emits for `(a AND b) OR (c AND d)^2`; response debug
        component, Explanation#toString indentation == our ``path``).

        One row per (hit doc, matching node instance):

            (rank, doc_id, path, occur, kind, clause, weight, boost,
             contribution, score)

        ``path`` is the dotted child-index position of the node in the tree
        ("" = root, "0.2" = third child of the first child); ``kind`` is
        bool|term|phrase|prefix|wildcard|fuzzy|range|group|synonym.  A bool
        row's contribution is its subtree score (after its own boost) times
        every ancestor boost; a leaf row's contribution is the leaf score
        times every ancestor boost.  Invariants (tested): per doc, the root
        row's contribution equals the reported score, and the sum of LEAF
        contributions equals it too (float tolerance).  Nodes that did not
        match a doc (a failed AND group inside an OR) emit no rows for it —
        exactly Lucene's "no match on required clause" pruning of the
        Explanation tree.

        Scale shape: one _search_tree top-k, then the same evaluator
        (:func:`eval_tree`) runs once more over the postings of the hit
        docs' salts and returns every node's score for those docs, at most
        k rows per node, in one collect (explain is a k-docs debug tool in
        the reference too — DebugComponent explains each returned doc
        individually).  No second boolean evaluator: the rows are the
        kernel's own per-node results."""
        if isinstance(query, str):
            tree = parse_query_tree(query, analyze_fn=self._analyze)
        else:
            tree = query
        schema = (
            "rank int, doc_id long, path string, occur string, kind string,"
            " clause string, weight double, boost double,"
            f" contribution double, score {self._sql_t}"
        )
        rows = [r[:-1] for r in self._explain_rows(tree, k)]
        return self.spark.createDataFrame(rows, schema).orderBy("rank", "path")

    def _plan(self, tree):
        """The planning pass of :meth:`_search_tree` and
        :meth:`_explain_rows`: query-time synonyms, every expansion clause
        resolved against the dictionary, then ONE dictionary lookup for the
        weights of every scored term.  A clause under a MUST_NOT ancestor is
        effectively prohibited: it expands uncapped (the cap is perf-only,
        and capping a prohibited clause silently under-excludes) and only
        its doc ids count, so its terms need no weights.  No Spark job.

        Returns (tree, {id(clause): (terms, negated)}, found terms,
        weight by term, dictionary rows): the rows are the aggregated
        dictionary rows read on the way, of every term the tree can read
        (a term may hold more than one row); :meth:`_evaluate` takes the
        buckets and the placement's work from them."""
        if self.synonyms:
            tree = self._apply_synonyms_tree(tree)
        resolved: dict[int, tuple[list[str], bool]] = {}
        leaf_terms: set[str] = set()
        excluded: list[pa.Table] = []

        def walk(node, negated: bool) -> None:
            if isinstance(node, TermNode):
                leaf_terms.add(node.term)
            elif isinstance(node, PhraseNode):
                leaf_terms.update(node.toks)
            elif isinstance(node, Clause):
                rows = self._expand_rows(
                    node, max_expansions=None if negated else 128
                )
                terms = rows["term"].to_pylist()
                resolved[id(node)] = (terms, negated)
                if negated:
                    excluded.append(rows)
                else:
                    leaf_terms.update(terms)
            elif isinstance(node, BoolQuery):
                for c in node.children:
                    walk(c.node, negated or c.occur == "MUST_NOT")

        walk(tree, False)
        rows = self._term_rows(sorted(leaf_terms))
        found = set(rows["term"].to_pylist())
        return (
            tree,
            resolved,
            found,
            self._weights(rows),
            pa.concat_tables([rows, *excluded]),
        )

    def _tree_plan(self, root: _PlanNode, weights: dict) -> TreePlan:
        return TreePlan(
            root, weights, self._kernel, self._bm25, self.cfg.salt_range, self._dtype
        )

    def _evaluate(
        self,
        plan: TreePlan,
        dict_rows: pa.Table,
        budget: int,
        salts: list[int] | None = None,
        out: tuple | None = None,
    ) -> pa.Table | DataFrame:
        """Run :func:`eval_tree` once per salt over the postings of every
        term ``plan`` reads (tfs and norms only when it scores postings,
        positions only when it holds a phrase, span or payload leaf), in
        one of two placements of the same kernel:

        - *driver*: a pyarrow read of the bucket- and term-pruned postings
          files captured at engine open (:meth:`_read_postings`), split by
          salt on the driver; returns an Arrow table and runs no Spark job;
        - *Spark*: ONE bucket- and term-pruned scan, grouped by salt, one
          ``applyInArrow`` Python stage; returns a DataFrame.

        The driver placement runs when the query's work fits ``budget``
        (``self._driver_budget``, :func:`_driver_budget`, or 0 to keep a
        query in Spark).  The work is the summed df of the terms ``plan``
        reads, plus their summed cf when positions are read, from
        ``dict_rows``, the dictionary rows planning read (which also give
        the terms' buckets), plus ``_TERM_SALT_POSTINGS`` for each term of
        the tree in each salt of the index, plus a span tree's matcher
        cost (:func:`_driver_budget`).  A payload leaf reads its
        salt's payload rows: on the driver a pyarrow read of its matched
        docs (:meth:`_payload_rows`), in Spark the payload side table's
        rows of the salt, shuffled into its group with the postings.

        Both placements return the root's live (doc_id, score double)
        rows: each salt's stage drops the tombstones of its doc-id range.
        ``out`` = (schema, fn) maps each salt's :func:`eval_tree` output to
        other rows (e.g. :func:`_node_rows`), returned as
        an Arrow table on either placement.  ``salts`` prunes the read."""
        nodes = list(plan.root.walk())
        kinds = {n.kind for n in nodes}
        cols = ["term", "salt", "n_docs", "doc_gaps"]
        if kinds - {"bool", "docs", "const"}:
            cols += ["tfs", "norms"]
        if kinds & {"phrase", "payload"}:
            cols.append("positions")
        terms = pa.array(sorted({t for n in nodes for t in n.terms}), pa.string())
        read = dict_rows.take(pc.index_in(terms, value_set=dict_rows["term"]))
        schema, per_salt = out or (_NO_HITS.schema, None)
        path = plan.root.path
        # local names: the Spark placement pickles run's closure, not self
        deleted, salt_range = self._deleted, self.cfg.salt_range

        def run(rows, payloads=None):
            if rows.num_rows == 0:
                return schema.empty_table()
            res = eval_tree(rows, plan, payloads)
            if per_salt:
                return per_salt(res)
            ids, scores = res[path]
            # the tombstones of this salt's doc-id range leave the root
            lo = rows["salt"][0].as_py() * salt_range
            dead = deleted[
                np.searchsorted(deleted, lo) : np.searchsorted(deleted, lo + salt_range)
            ]
            if dead.size:
                live = ~np.isin(ids, dead)
                ids, scores = ids[live], scores[live]
            return pa.table([ids, scores], schema=schema)

        n_salts = -(-int(self.stats["N"]) // self.cfg.salt_range)
        work = pc.sum(read["df"]).as_py() + _TERM_SALT_POSTINGS * n_salts * sum(
            len(n.terms) for n in nodes
        )
        if "positions" in cols:
            cf = pc.sum(read["cf"]).as_py()
            work += cf
        for n in nodes:
            if n.spans is not None:  # a span tree's interval matcher
                df = dict(zip(read["term"].to_pylist(), read["df"].to_pylist()))
                cands = min(sum(df[t] for t in s) for s in n.slots)
                work += _SPAN_ROW_POSTINGS * cands + _SPAN_POS_POSTINGS * cf
        if work > budget:
            blocks = self._blocks_for(read)
            if salts is not None:
                blocks = blocks.filter(F.col("salt").isin(salts))
            blocks = blocks.select(*cols)
            salt_run = run
            if "payload" in kinds:
                # the payload rows join their salt's group as rows with no
                # term: one scan of each table, one shuffle
                pay = (
                    self.spark.read.schema("doc_id long, n long, payloads binary")
                    .parquet(self.paths.payloads)
                    .withColumn(
                        "salt", (F.col("doc_id") / self.cfg.salt_range).cast("long")
                    )
                )
                if salts is not None:
                    pay = pay.filter(F.col("salt").isin(salts))
                blocks = blocks.unionByName(pay, allowMissingColumns=True)

                def salt_run(rows):
                    side = pc.is_null(rows["term"])
                    pay_rows = rows.filter(side)
                    postings = rows.filter(pc.invert(side)).select(cols)
                    return run(postings, lambda _docs: pay_rows)

            # a one-argument fn: applyInArrow reads two as (key, rows)
            res = blocks.groupBy("salt").applyInArrow(
                lambda rows: salt_run(rows), from_arrow_schema(schema)
            )
            return res if out is None else res.toArrow()
        postings = self._read_postings(read, cols, salts)
        if postings.num_rows == 0:
            return schema.empty_table()
        salt = postings["salt"].to_numpy()
        order = np.argsort(salt, kind="stable")
        postings = postings.take(order)
        cuts = (np.flatnonzero(np.diff(salt[order])) + 1).tolist()
        payloads = self._payload_rows if "payload" in kinds else None
        return pa.concat_tables(
            run(postings.slice(lo, hi - lo), payloads)
            for lo, hi in zip([0, *cuts], [*cuts, len(salt)])
        )

    def _payload_rows(self, docs: np.ndarray) -> pa.Table:
        """The payload side table's (doc_id, n, payloads) rows of ``docs``:
        a pyarrow read on the driver with the doc_id predicate pushed down
        to the row groups of the doc_id-range-partitioned files.  The side
        table is listed at the engine's first payload query, so no other
        query opens it."""
        if self._payloads is None:
            self._payloads = pads.dataset(self.paths.payloads, format="parquet")
        return self._payloads.to_table(
            columns=["doc_id", "n", "payloads"],
            filter=pc.field("doc_id").isin(pa.array(docs)),
        )

    def _read_postings(
        self, rows: pa.Table, cols: list[str], salts: list[int] | None
    ) -> pa.Table:
        """The driver placement's postings scan: columns ``cols`` of the
        postings rows of the terms of ``rows`` (dictionary rows), read
        with pyarrow from the files of their buckets as captured at engine
        open: the bucket predicate prunes files by their partition, the
        term predicate, and the ``salts`` predicate when given, are pushed
        down to the parquet row groups.  No Spark job."""
        expr = pc.field("bucket").isin(pc.unique(rows["bucket"])) & pc.field(
            "term"
        ).isin(rows["term"].combine_chunks())
        if salts is not None:
            expr = expr & pc.field("salt").isin(salts)
        return self._postings.to_table(columns=cols, filter=expr)

    def _explain_rows(self, tree, k: int) -> list[tuple]:
        """The explain walker: explain_scores_tree's rows for the top-k
        hits of ``tree``, each with the node's bare term (its label for a
        non-term node) appended.  Every node's score per hit doc comes from
        the query's own evaluator (:meth:`_evaluate` with
        :func:`_node_rows` of the hits, its read pruned to their salts)."""
        hits = self._search_tree(tree, k=k, with_url=False)._table
        if not hits.num_rows:
            return []
        doc_ids = hits["doc_id"].to_pylist()
        rank_by_doc = dict(zip(doc_ids, hits["rank"].to_pylist()))
        score_by_doc = dict(zip(doc_ids, hits["score"].to_pylist()))
        tree, resolved, found, weights, dict_rows = self._plan(tree)
        root = _compile(tree, resolved, found, self.sim, self.cfg.store_positions)
        salts = sorted({d // self.cfg.salt_range for d in doc_ids})
        res = self._evaluate(
            self._tree_plan(root, weights),
            dict_rows,
            self._driver_budget,
            salts,
            _node_rows(doc_ids),
        )
        node_scores: dict[str, dict[int, float]] = {}
        for r in res.to_pylist():
            node_scores.setdefault(r["path"], {})[r["doc_id"]] = r["score"]

        def _primary(w) -> float:
            return float(w[0] if isinstance(w, tuple) else w)

        def render(node) -> str:
            if isinstance(node, TermNode):
                return node.term + (
                    f"^{node.boost:g}" if node.boost != 1.0 else ""
                )
            if isinstance(node, PhraseNode):
                return node.label
            if isinstance(node, Clause):
                return node.label
            inner = []
            for c in node.children:
                pre = {"MUST": "+", "MUST_NOT": "-", "SHOULD": ""}[c.occur]
                inner.append(pre + render(c.node))
            s = "(" + " ".join(inner) + ")"
            return s + (f"^{node.boost:g}" if node.boost != 1.0 else "")

        def describe(node) -> tuple[str, float | None]:
            """(kind, weight): a leaf's weight sums its scored terms'."""
            if isinstance(node, BoolQuery):
                return "bool", None
            if isinstance(node, TermNode):
                return "term", _primary(weights[node.term])
            if isinstance(node, PhraseNode):
                terms = set(node.toks)
                kind = "phrase"
            else:
                terms, kind = resolved[id(node)][0], node.kind
            return kind, sum(_primary(weights[t]) for t in terms)

        rows_out: list[tuple] = []

        def emit(node, path: str, occur: str, gate: set[int], cum_boost: float) -> None:
            sc = node_scores.get(path)
            if not sc:
                return
            kind, weight = describe(node)
            label = render(node)
            term = node.term if isinstance(node, TermNode) else label
            matched = [d for d in gate if d in sc]
            for d in matched:
                rows_out.append(
                    (
                        rank_by_doc[d], d, path, occur, kind, label,
                        weight, float(node.boost), sc[d] * cum_boost,
                        score_by_doc[d], term,
                    )
                )
            if isinstance(node, BoolQuery) and matched:
                mset = set(matched)
                for i, c in enumerate(node.children):
                    if c.occur == "MUST_NOT":
                        continue
                    emit(
                        c.node,
                        f"{path}.{i}" if path else str(i),
                        c.occur,
                        mset,
                        cum_boost * node.boost,
                    )

        emit(tree, "", "SHOULD", set(doc_ids), 1.0)
        return rows_out

    def _apply_funcs(
        self, frame: DataFrame, bf: list | None, boost: list | None
    ) -> DataFrame:
        """Fold additive (dismax ``bf``) / multiplicative (edismax
        ``boost``) function values into the scored frame BEFORE top-k:
        final = (query_score + Σ bf_i(doc)) · Π boost_j(doc).

        Scale shape: the function columns project off the docs table and
        hash-join the (already query-pruned) scored frame on doc_id — one
        codegen'd projection plus one key join, no extra corpus pass."""
        if not bf and not boost:
            return frame
        cols = []
        if bf:
            add = bf[0]
            for c in bf[1:]:
                add = add + c
            cols.append(add.cast("double").alias("_bf"))
        if boost:
            mul = boost[0]
            for c in boost[1:]:
                mul = mul * c
            cols.append(mul.cast("double").alias("_mult"))
        vals = self.docs.select("doc_id", *cols)
        out = frame.join(vals, "doc_id", "left")
        score = F.col("score").cast("double")
        if bf:
            score = score + F.coalesce(F.col("_bf"), F.lit(0.0))
        if boost:
            score = score * F.coalesce(F.col("_mult"), F.lit(1.0))
        return out.select("doc_id", score.cast(self._sql_t).alias("score"))

    def terms_query(
        self, values: list[str], k: int = 10, with_url: bool = True
    ) -> DataFrame:
        """{!terms} (TermsQParserPlugin.java): set-membership filter over
        the indexed field — docs containing ANY of the RAW values (no
        analysis, matching the reference), constant score 1
        (ConstantScoreQuery): one ``const`` leaf of :func:`eval_tree`,
        intended for large IN lists where the classic grammar would be
        unwieldy."""
        rows = self._term_rows(sorted({str(v) for v in values if v}))
        if rows.num_rows == 0:
            return self._page(_NO_HITS, with_url)
        node = _PlanNode("", "const", tuple(rows["term"].to_pylist()))
        return self._search_plan(node, {}, rows, k, with_url=with_url)

    def _depth(self, k: int, start: int) -> int:
        """The collector depth of a page: start+k (SolrIndexSearcher
        buildTopDocs ``len = start + rows``), capped at the index's doc
        count as SolrIndexSearcher caps it at maxDoc: a k=10**9 "every
        match" request must not size a 10**9-slot top-k heap."""
        return min(int(start) + int(k), int(self.stats["N"]))

    def _finalize(
        self, scored: DataFrame, k: int, with_url: bool, start: int = 0
    ) -> DataFrame:
        """Top-k + two-phase fields fetch (QueryComponent.java:1000).
        Phase 1 ranks the narrow (doc_id, score) by (score desc, doc_id
        asc) through TakeOrderedAndProject, the query's one Spark action,
        taken as Arrow (the driver placement takes its top-k in numpy
        instead, :func:`_top_order`).  Phase 2 reads the
        display fields of JUST the page's docs on the driver (:meth:`_stored`,
        the per-hit stored-fields read of the reference), from the docs
        files this engine opened on.  The page is held on the driver
        (:meth:`_page`), so the caller's collect() runs no JVM call.

        ``start``: offset paging (the reference's start/rows params) — the
        collector depth is :meth:`_depth`, sliced driver-side like
        QueryComponent's response window.  Ranks stay GLOBAL (page 2
        starts at rank start+1)."""
        top = (
            scored.select("doc_id", "score")
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(self._depth(k, start))
            .toArrow()
        )
        return self._page(top.slice(int(start)), with_url, int(start))

    def _page(self, top: pa.Table, with_url: bool, start: int = 0) -> DataFrame:
        """The result page (rank, doc_id[, url], score) for ``top``'s
        (doc_id, score) rows, in rank order, held on the driver
        (:class:`_Page`): its collect(), count(), toArrow() and schema
        run no JVM call."""
        ids = top["doc_id"].combine_chunks()
        cols = {
            "rank": pa.array(range(start + 1, start + 1 + len(ids)), pa.int32()),
            "doc_id": ids,
        }
        fields = [StructField("rank", IntegerType()), StructField("doc_id", LongType())]
        if with_url:
            cols["url"] = self._stored(ids, "url")
            fields.append(StructField("url", StringType()))
        cols["score"] = top["score"]
        score_t = DoubleType() if self._dtype == np.float64 else FloatType()
        fields.append(StructField("score", score_t))
        return _Page(pa.table(cols), StructType(fields), self.spark)

    def _stored(self, ids: pa.Array, col: str) -> pa.Array:
        """Stored field ``col`` of the docs ``ids``, in ``ids`` order: the
        analog of Lucene's per-hit StoredFields read.  Reads only the docs
        files listed at engine open (the engine's snapshot) on the driver;
        the ``doc_id`` predicate prunes their row groups by parquet
        statistics.  No Spark job."""
        got = self._stored_docs.to_table(
            columns=["doc_id", col], filter=pads.field("doc_id").isin(ids)
        )
        return got[col].take(pc.index_in(ids, value_set=got["doc_id"]))

    def _apply_synonyms_tree(self, tree: BoolQuery) -> BoolQuery:
        """Query-time synonyms: a term with synonyms becomes a disjunction
        clause; under MUST_NOT the clause excludes every synonym.  Members
        of a flat OR group (``Clause(kind="group")``) are not rewritten.

        MULTI-WORD synonyms (SynonymGraphFilter's multi-token mappings,
        managed-schema.xml:312 — e.g. "usa" -> "united states"): the term
        rewrites to a nested bool — (group of the term + single-word
        synonyms) OR (one PhraseNode per multi-word synonym) — so the
        phrase alternative matches consecutive tokens exactly like the
        manually-written phrase disjunction; under MUST_NOT the nested
        bool's doc set (any alternative, incl. the phrase) is excluded."""
        import copy

        from apache___solr_spark.query.parser import BoolChild, PhraseNode

        tree = copy.deepcopy(tree)

        def rw(node: BoolQuery) -> None:
            for c in node.children:
                if isinstance(c.node, TermNode) and c.node.term in self.synonyms:
                    t, b = c.node.term, c.node.boost
                    phrases = [
                        s.split() for s in self.synonyms[t] if " " in s
                    ]
                    if not phrases:
                        c.node = Clause(
                            occur="", kind="synonym", value=t, boost=b
                        )
                    else:
                        singles = [
                            s for s in self.synonyms[t] if " " not in s
                        ]
                        c.node = BoolQuery(
                            children=[
                                BoolChild(
                                    "SHOULD",
                                    Clause(
                                        occur="",
                                        kind="group",
                                        terms=[t] + singles,
                                        boost=b,
                                    ),
                                ),
                                *[
                                    BoolChild(
                                        "SHOULD",
                                        PhraseNode(toks=ph, boost=b),
                                    )
                                    for ph in phrases
                                ],
                            ]
                        )
                elif isinstance(c.node, BoolQuery):
                    rw(c.node)

        rw(tree)
        return tree

    def _search_tree(
        self,
        tree: BoolQuery,
        k: int = 10,
        start: int = 0,
        with_url: bool = True,
        doc_filter: list[int] | None = None,
        bf: list | None = None,
        boost: list | None = None,
        _docset: bool | str = False,
        _filter_docset: DataFrame | None = None,
        should_combine: str = "sum",
        tie: float = 0.0,
    ) -> DataFrame:
        """The query evaluator behind search(), docset() and
        scored_docset() — recursive BooleanQuery evaluation (BooleanQuery
        nesting semantics, QueryParser.jj:135-172): a boolean node matches
        the docs with every MUST child, >=1 positive child (>= ``mm`` SHOULD
        children when set) and no MUST_NOT child, and sums its matching
        positive children's scores.  A node whose MUST child can never
        match matches nothing; so does a pure-negative node (Lucene: a
        BooleanQuery with only prohibited clauses matches no docs).
        ``should_combine="max"`` is ``{!maxscore tie=}``: MaxScoreQParser
        rewrites only the TOP BooleanQuery — its SHOULD clauses (arbitrary
        subtrees, each keeping sum semantics internally) regroup into one
        DisjunctionMaxQuery(tie); MUST/MUST_NOT pass through.

        Scale shape: planning (:meth:`_plan`, :func:`_compile`) runs on the
        driver with no Spark job and settles every never-matches rule
        before any read; evaluation is :meth:`_search_plan`.
        """
        if should_combine not in ("sum", "max"):
            raise ValueError(f"unknown should_combine {should_combine!r}")
        tree, resolved, found, weights, dict_rows = self._plan(tree)
        root = _compile(
            tree,
            resolved,
            found,
            self.sim,
            self.cfg.store_positions,
            tie=float(tie) if should_combine == "max" else None,
        )
        return self._search_plan(
            root,
            weights,
            dict_rows,
            k,
            start,
            with_url,
            doc_filter,
            bf,
            boost,
            _docset,
            _filter_docset,
        )

    def _search_plan(
        self,
        root: _PlanNode | None,
        weights: dict,
        dict_rows: pa.Table,
        k: int = 10,
        start: int = 0,
        with_url: bool = True,
        doc_filter: list[int] | None = None,
        bf: list | None = None,
        boost: list | None = None,
        _docset: bool | str = False,
        _filter_docset: DataFrame | None = None,
    ) -> DataFrame:
        """The page (or docset) of a compiled tree ``root`` (None: it can
        never match), whose terms' weights and dictionary rows planning
        read: the one evaluation path of every query, boolean trees and
        the span, payload and constant-score operators alike.

        Scale shape: :func:`eval_tree` per salt over the postings of
        every term the tree reads, placed by :meth:`_evaluate` from the
        query's work.  Within the driver budget, the postings are a
        pyarrow read and ``doc_filter`` (which also prunes the read to its
        salts) and the top-k are numpy on the driver: the query runs no
        Spark job.  Above it, and for every query with a Spark tail (fq,
        ``bf``, ``boost``, docset()/scored_docset()), evaluation is ONE
        bucket- and term-pruned scan, one shuffle by salt and one Python
        stage; ``doc_filter``, the fq semi-join, ``bf``/``boost`` and the
        top-k are Spark operations in the same plan, with no collects and
        no persisted frames before the top-k."""
        if root is None:
            return self._page(_NO_HITS, with_url)
        salts = (
            sorted({int(d) // self.cfg.salt_range for d in doc_filter})
            if doc_filter is not None
            else None
        )
        # a query with a Spark tail (fq, bf, boost, or a docset for the
        # caller's own plan) runs jobs whatever the placement.  Fed from
        # the driver, the tail ships every match back as a LocalRelation;
        # on the 100k-doc Zipf index (0.19M-4.3M postings, 4 cores) fq, bf
        # and docset counts took -17% to +10% of the Spark placement's
        # time, so the whole query keeps the one Spark plan
        tail = _docset or bf or boost or _filter_docset is not None
        res = self._evaluate(
            self._tree_plan(root, weights),
            dict_rows,
            0 if tail else self._driver_budget,
            salts,
        )
        if isinstance(res, pa.Table):  # the driver placement
            ids = res["doc_id"].to_numpy()
            scores = res["score"].to_numpy().astype(self._dtype)
            if doc_filter is not None:
                live = np.isin(ids, np.asarray(doc_filter, dtype=np.int64))
                ids, scores = ids[live], scores[live]
            top = _top_order(ids, scores, self._depth(k, start))[int(start) :]
            return self._page(
                pa.table({"doc_id": ids[top], "score": scores[top]}),
                with_url,
                int(start),
            )
        if doc_filter is not None:
            res = res.filter(F.col("doc_id").isin([int(d) for d in doc_filter]))
        if _filter_docset is not None:
            # fq DocSet intersection: constant-score, applied before top-k
            res = res.join(_filter_docset, "doc_id", "left_semi")
        res = res.select("doc_id", F.col("score").cast(self._sql_t).alias("score"))
        if _docset:
            return res if _docset == "scored" else res.select("doc_id")
        return self._finalize(
            self._apply_funcs(res, bf, boost), k, with_url, start=start
        )
