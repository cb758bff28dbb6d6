"""Lucene XML query syntax — the ``{!xml}`` parser.

Re-expresses the reference's XML QParser
(solr/core/src/java/org/apache/solr/search/XmlQParserPlugin.java:40 ->
lucene/queryparser/xml/CoreParser.java builder registry) over this
engine's boolean query AST: each supported element lowers to the
parser nodes (TermNode / PhraseNode / Clause / BoolQuery) that
:meth:`SearchEngine.search` executes through the recursive tree
evaluator, so XML queries get exactly the classic grammar's scoring,
expansion, and pruning paths — no second execution engine.

Supported builders (CoreParser.java constructor registrations):

- ``TermQuery`` — verbatim term (TermQueryBuilder.java: the element
  text is the term, NOT analyzed), ``boost=``.
- ``TermsQuery`` — analyzed text -> SHOULD-of-terms
  (TermsQueryBuilder.java analyzes with the field analyzer).
- ``BooleanQuery`` / ``Clause occurs=must|mustNot|should|filter`` —
  ``filter`` keeps the clause REQUIRED but zeroes its score
  contribution (Lucene's FILTER occur is a non-scoring MUST), here via
  a forced ``boost=0`` on the child node.  ``minimumNumberShouldMatch``
  maps to the tree's ``mm``.
- ``UserQuery`` — element text through the classic grammar
  (UserInputQueryBuilder.java -> classic QueryParser).
- ``PointRangeQuery`` / ``LegacyNumericRangeQuery`` / ``RangeQuery`` —
  ``lowerTerm``/``upperTerm``/``includeLower``/``includeUpper``
  (mixed inclusivity raises: the Clause range kind is two-sided).
- ``DisjunctionMaxQuery tieBreaker=`` — ``tieBreaker=1`` folds to a
  SHOULD group anywhere in the tree (max+1.0*rest == sum); other tie
  values run top-level over flat term children via the engine's
  ``should_combine="max"`` scorer (the {!maxscore} path).
- ``MatchAllDocsQuery`` — top level: every live doc at constant score.
- ``ConstantScoreQuery`` — top level: the wrapped query's DocSet at
  ``boost`` score.
- ``SpanTerm`` / ``SpanNear slop= inOrder=`` — verbatim terms at any
  nesting level (SpanTermBuilder does not analyze): a lone SpanTerm
  lowers to a TermNode and an ORDERED SpanNear over SpanTerms to the
  tree's PhraseNode (the same ordered-window matcher), so both compose
  inside BooleanQuery clauses; an UNORDERED SpanNear runs top-level
  through :meth:`SearchEngine.span_near` (dist = slop+1, whose words
  pass through the query analyzer — documented divergence).

``BoostingTermQuery`` (BoostingTermBuilder -> PayloadScoreQuery over
the term span, AveragePayloadFunction, includeSpanScore) runs for real
against payload indexes via :meth:`SearchEngine.payload_score`.
``SpanOr``/``SpanFirst``/``SpanNot`` raise with their reason — the
span algebra models adjacency runs only.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, functions as F

from apache___solr_spark.query.parser import (
    BoolChild,
    BoolQuery,
    Clause,
    ParsedQuery,
    PhraseNode,
    TermNode,
    parse_query_tree,
)

_OCCURS = {"must": "MUST", "mustNot": "MUST_NOT", "should": "SHOULD"}

_RANGE_TAGS = {"PointRangeQuery", "LegacyNumericRangeQuery", "RangeQuery"}

_UNSUPPORTED_TAGS = {
    "SpanOr": "span algebra models adjacency runs only",
    "SpanOrTerms": "span algebra models adjacency runs only",
    "SpanFirst": "span algebra models adjacency runs only",
    "SpanNot": "span algebra models adjacency runs only",
}


def _check_field(el: ET.Element) -> None:
    f = el.get("fieldName")
    if f not in (None, "text"):
        raise NotImplementedError(
            f"single-field index: fieldName={f!r} unsupported (only 'text')"
        )


def _boost(el: ET.Element) -> float:
    return float(el.get("boost", 1.0))


def _scale_boost(node, factor: float):
    """Multiply a lowered node's boost (every node type carries one)."""
    node.boost = node.boost * factor if factor != 1.0 else node.boost
    return node


def _lower(el: ET.Element, analyze_fn, occur: str = "MUST"):
    """Lower one XML element to a tree node (tree-composable subset)."""
    tag = el.tag
    if tag in _UNSUPPORTED_TAGS:
        raise NotImplementedError(f"<{tag}>: {_UNSUPPORTED_TAGS[tag]}")
    if tag == "TermQuery":
        _check_field(el)
        term = (el.text or "").strip()
        if not term:
            raise ValueError("<TermQuery> needs a term")
        return TermNode(term, boost=_boost(el))
    if tag == "TermsQuery":
        _check_field(el)
        toks = analyze_fn((el.text or "").strip())
        return BoolQuery(
            children=[BoolChild("SHOULD", TermNode(t)) for t in toks],
            boost=_boost(el),
        )
    if tag == "UserQuery":
        tree = parse_query_tree((el.text or "").strip(), analyze_fn=analyze_fn)
        return _scale_boost(tree, _boost(el))
    if tag == "BooleanQuery":
        children: list[BoolChild] = []
        for cl in el:
            if cl.tag != "Clause":
                raise ValueError(
                    f"<BooleanQuery> children must be <Clause>, got <{cl.tag}>"
                )
            occurs = cl.get("occurs", "should")
            inner_els = list(cl)
            if len(inner_els) != 1:
                raise ValueError("<Clause> wraps exactly one query element")
            if occurs == "filter":
                # Lucene FILTER occur: required, no score contribution
                node = _lower(inner_els[0], analyze_fn, "MUST")
                children.append(BoolChild("MUST", _scale_boost(node, 0.0)))
                continue
            if occurs not in _OCCURS:
                raise ValueError(f"<Clause occurs={occurs!r}> unknown")
            node = _lower(inner_els[0], analyze_fn, _OCCURS[occurs])
            children.append(BoolChild(_OCCURS[occurs], node))
        return BoolQuery(
            children=children,
            boost=_boost(el),
            mm=int(el.get("minimumNumberShouldMatch", 0)),
        )
    if tag in _RANGE_TAGS:
        _check_field(el)
        inc_lo = el.get("includeLower", "true") == "true"
        inc_hi = el.get("includeUpper", "true") == "true"
        if inc_lo != inc_hi:
            raise NotImplementedError(
                "mixed range inclusivity unsupported (two-sided [..]/{..})"
            )
        lo, hi = el.get("lowerTerm"), el.get("upperTerm")
        if lo is None or hi is None:
            raise ValueError(f"<{tag}> needs lowerTerm and upperTerm")
        return Clause(
            occur=occur,
            kind="range",
            lo=lo,
            hi=hi,
            inclusive=inc_lo,
            boost=_boost(el),
        )
    if tag == "SpanTerm":
        # SpanTermBuilder: verbatim term, no analysis — a lone span term
        # scores exactly like a TermQuery
        _check_field(el)
        return TermNode((el.text or "").strip(), boost=_boost(el))
    if tag == "SpanNear" and el.get("inOrder", "true") == "true":
        # an ordered SpanNear over plain SpanTerms IS the tree's
        # PhraseNode (ordered-window matching, slop kept; verbatim
        # terms, like SpanTermBuilder) — so it nests inside
        # BooleanQuery clauses; unordered spans stay top-level
        if all(c.tag == "SpanTerm" for c in el):
            return PhraseNode(
                [(c.text or "").strip() for c in el],
                slop=int(el.get("slop", 0)),
                boost=_boost(el),
                window=True,  # SpanNearQuery semantics, not SloppyPhrase
            )
        raise NotImplementedError(
            "<SpanNear> over non-SpanTerm children unsupported"
        )
    if tag == "DisjunctionMaxQuery":
        tie = float(el.get("tieBreaker", 0.0))
        if tie == 1.0:
            # max + 1.0 * others == plain SHOULD sum: fold into the tree
            return BoolQuery(
                children=[
                    BoolChild("SHOULD", _lower(c, analyze_fn, "SHOULD"))
                    for c in el
                ],
                boost=_boost(el),
            )
        raise NotImplementedError(
            "<DisjunctionMaxQuery tieBreaker!=1> runs top-level only "
            "(the flat max-combine scorer)"
        )
    raise NotImplementedError(f"XML query element <{tag}> unsupported")


def _finalize_const(engine, ids: DataFrame, k: int, score: float) -> DataFrame:
    # every hit ties on the constant score, so the engine's (score desc,
    # doc_id asc) top-k ranks them by doc_id
    scored = ids.select("doc_id", F.lit(score).cast(engine._sql_t).alias("score"))
    return engine._finalize(scored, k, with_url=True)


def run_xml_query(
    engine, xml_str: str, k: int = 10, fq: list | None = None, **kw
) -> DataFrame:
    """Execute an XML query string against a :class:`SearchEngine`.

    Tree-composable elements run through ``engine.search`` on the
    recursive evaluator; the top-level-only forms (MatchAllDocsQuery,
    ConstantScoreQuery, Span*, non-unit DisjunctionMaxQuery) get their
    dedicated scoring paths.
    """
    root = ET.fromstring(xml_str.strip())
    tag = root.tag

    if tag == "MatchAllDocsQuery":
        if fq:
            raise NotImplementedError("fq with XML MatchAllDocsQuery: "
                                      "use {!filters} for filter-only")
        docs = engine.docs.select("doc_id")
        if engine.deletes is not None:
            docs = docs.join(engine.deletes, "doc_id", "left_anti")
        return _finalize_const(engine, docs, k, _boost(root))

    if tag == "ConstantScoreQuery":
        if fq:
            raise NotImplementedError("fq with XML ConstantScoreQuery")
        inner_els = list(root)
        if len(inner_els) != 1:
            raise ValueError("<ConstantScoreQuery> wraps one query element")
        node = _lower(inner_els[0], engine._analyze)
        tree = (
            node
            if isinstance(node, BoolQuery)
            else BoolQuery(children=[BoolChild("MUST", node)])
        )
        ids = engine.search(tree, _docset=True).select("doc_id")
        return _finalize_const(engine, ids, k, _boost(root))

    if tag == "SpanNear" and root.get("inOrder", "true") != "true":
        # unordered spans have no tree node — engine.span_near's
        # minimal-window matcher (NB: its words pass through the query
        # analyzer, a documented divergence from the verbatim SpanTerm
        # semantics the ordered/tree paths keep)
        if fq:
            raise NotImplementedError("fq with unordered XML span queries")
        for c in root:
            if c.tag != "SpanTerm":
                raise NotImplementedError(
                    f"<SpanNear> over <{c.tag}>: plain SpanTerm "
                    "children only"
                )
        return engine.span_near(
            [(c.text or "").strip() for c in root],
            dist=int(root.get("slop", 0)) + 1,
            ordered=False,
            k=k,
            **kw,
        )

    if tag == "BoostingTermQuery":
        # BoostingTermBuilder -> PayloadScoreQuery(SpanTermQuery,
        # AveragePayloadFunction, includeSpanScore=true): the term's BM25
        # scaled by its mean occurrence payload — real now that payload
        # indexes exist (engine.payload_score).  NB the term passes
        # through the payload chain's whitespace+lowercase analysis
        # (BoostingTermBuilder is verbatim — documented divergence, same
        # as the unordered-SpanNear branch); the XML boost attribute
        # scales the score like the sibling top-level branches.
        _check_field(root)
        if fq:
            raise NotImplementedError("fq with XML BoostingTermQuery")
        out = engine.payload_score(
            (root.text or "").strip(),
            func="average",
            include_span_score=True,
            k=k,
        )
        b = _boost(root)
        if b != 1.0:
            out = out.withColumn(
                "score", (F.col("score") * F.lit(b)).cast(engine._sql_t)
            )
        return out

    if tag == "DisjunctionMaxQuery":
        tie = float(root.get("tieBreaker", 0.0))
        if tie != 1.0:
            # flat max-combine scorer over verbatim term children
            pq = ParsedQuery()
            for c in root:
                node = _lower(c, engine._analyze, "SHOULD")
                if not isinstance(node, TermNode):
                    raise NotImplementedError(
                        "<DisjunctionMaxQuery tieBreaker!=1>: plain "
                        "TermQuery children only"
                    )
                pq.should.append(node.term)
                if node.boost != 1.0:
                    pq.boosts[node.term] = node.boost
            return engine.search(
                pq, k=k, fq=fq, should_combine="max", tie=tie, **kw
            )

    node = _lower(root, engine._analyze)
    tree = (
        node
        if isinstance(node, BoolQuery)
        else BoolQuery(children=[BoolChild("MUST", node)])
    )
    return engine.search(tree, k=k, fq=fq, **kw)
