"""Spellcheck / suggest over the term dictionary.

Reference surface:
- SpellCheckComponent (handler/component/SpellCheckComponent.java:90) with
  DirectSolrSpellChecker: candidate corrections straight from the term
  dictionary within a max edit distance, ranked by document frequency.
- SuggestComponent (handler/component/SuggestComponent.java): prefix
  completion from high-frequency dictionary entries.

Scale shape: both run on the (small) dictionary table, never the corpus.
A term holds one dictionary row per segment after add_docs; the suggesters
sum its frequency over them (:func:`_summed`) before ranking, so each term
appears once with its whole-index frequency.  The edit-distance scan is
pre-pruned by the length band |len(term) - len(q)| <= max_edits — a
pushdownable column predicate — before the quadratic levenshtein compare,
mirroring DirectSpellChecker's FST intersection pruning capability.
"""

from __future__ import annotations

import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _summed(
    dictionary: DataFrame, cond: Column, term_col: str, freq_col: str
) -> DataFrame:
    """(term, freq) of the dictionary rows matching ``cond``, one row per
    term with ``freq_col`` summed over its rows (one per segment), typed as
    ``freq_col``."""
    return (
        dictionary.filter(cond)
        .groupBy(F.col(term_col).alias("term"))
        .agg(
            F.sum(freq_col)
            .cast(dictionary.schema[freq_col].dataType)
            .alias("freq")
        )
    )


def suggest_terms(
    dictionary: DataFrame,
    query_term: str,
    term_col: str = "term",
    freq_col: str = "df",
    max_edits: int = 2,
    limit: int = 10,
) -> DataFrame:
    """Spelling corrections: dictionary terms within ``max_edits``
    levenshtein distance of ``query_term`` (the term itself excluded),
    ranked by (distance asc, frequency desc, term asc)."""
    q = str(query_term)
    band = F.abs(F.length(term_col) - F.lit(len(q))) <= max_edits
    return (
        _summed(dictionary, band, term_col, freq_col)
        .select(
            "term",
            "freq",
            F.levenshtein(F.col("term"), F.lit(q)).alias("distance"),
        )
        .filter((F.col("distance") <= max_edits) & (F.col("term") != q))
        .orderBy(
            F.col("distance").asc(), F.col("freq").desc(), F.col("term").asc()
        )
        .limit(limit)
    )


def suggest_prefix(
    dictionary: DataFrame,
    prefix: str,
    term_col: str = "term",
    freq_col: str = "df",
    limit: int = 10,
) -> DataFrame:
    """Completion suggester: highest-frequency dictionary terms with the
    given prefix (SuggestComponent capability).  startswith pushes down to
    the dictionary scan."""
    return (
        _summed(dictionary, F.col(term_col).startswith(prefix), term_col, freq_col)
        .orderBy(F.col("freq").desc(), F.col("term").asc())
        .limit(limit)
    )


def suggest_infix(
    dictionary: DataFrame,
    fragment: str,
    term_col: str = "term",
    freq_col: str = "df",
    limit: int = 10,
) -> DataFrame:
    """AnalyzingInfixSuggester capability
    (lucene/suggest/.../analyzing/AnalyzingInfixSuggester.java via Solr's
    suggest/SolrSuggester): suggestions whose text contains the typed
    fragment ANYWHERE (not only as a prefix), ranked by weight — here the
    dictionary df — with prefix matches ranked ahead of pure-infix
    matches like the reference's "exact-first" blending.  Adds the
    ``highlighted`` column marking the matched fragment with <b>..</b>
    (the suggester's highlight=true response shape)."""
    frag = str(fragment)
    contains = _summed(dictionary, F.col(term_col).contains(frag), term_col, freq_col)
    return (
        contains.select(
            "term",
            "freq",
            F.col("term").startswith(frag).alias("_pfx"),
            F.regexp_replace(
                F.col("term"),
                F.lit(frag),
                F.lit(f"<b>{frag}</b>"),
            ).alias("highlighted"),
        )
        .orderBy(
            F.col("_pfx").desc(), F.col("freq").desc(), F.col("term").asc()
        )
        .drop("_pfx")
        .limit(limit)
    )


def _corrections(engine, q: str, max_edits: int, limit: int) -> list[str]:
    """suggest_terms over the engine's dictionary snapshot, on the driver:
    terms within ``max_edits`` of ``q`` (``q`` itself excluded), ranked by
    (distance asc, df summed over segments desc, term asc)."""
    rows = engine._fuzzy_rows(q, max_edits)
    rows = rows.filter(pc.not_equal(rows["term"], q))
    order = pc.sort_indices(
        rows,
        sort_keys=[
            ("distance", "ascending"),
            ("df", "descending"),
            ("term", "ascending"),
        ],
    )
    return rows["term"].take(order[:limit]).to_pylist()


def spellcheck_collate(
    engine,
    query: str,
    max_edits: int = 2,
    max_collations: int = 3,
    max_collect_docs: int = 100,
) -> list[dict]:
    """SpellCheckComponent collation (spelling/SpellCheckCollator.java):
    replace each misspelled query term (df == 0) with its best
    corrections, and keep only collations that actually produce hits —
    the reference re-runs the rewritten query to verify.  Returns
    [{collation, hits}] sorted by hits desc; ``hits`` is capped at
    ``max_collect_docs`` (spellcheck.collateMaxCollectDocs semantics —
    the reference also stops collecting there, so verification never
    scans the corpus beyond one bounded top-k query).

    Driver work is O(#misspelled-terms × max_collations) tiny queries.
    """
    toks = engine._analyze(query)
    if not toks:
        return []
    known = set(engine._term_rows(sorted(set(toks)))["term"].to_pylist())
    bad = [t for t in toks if t not in known]
    if not bad:
        return []
    # best corrections per misspelled term (distance asc, df desc)
    cands: dict[str, list[str]] = {}
    for t in bad:
        cands[t] = _corrections(engine, t, max_edits, max_collations)
        if not cands[t]:
            return []  # an uncorrectable term -> no collation possible
    out = []
    for i in range(max_collations):
        repl = {t: cands[t][min(i, len(cands[t]) - 1)] for t in bad}
        collation = " ".join(repl.get(t, t) for t in toks)
        if any(collation == c["collation"] for c in out):
            continue
        n = engine.search(collation, k=max_collect_docs, with_url=False).count()
        if n > 0:
            out.append({"collation": collation, "hits": int(n), "_i": i})
    # hits desc; correction rank breaks ties (the reference tries
    # collations in correction order, so a capped tie keeps that order)
    out.sort(key=lambda d: (-d["hits"], d.pop("_i")))
    return out
