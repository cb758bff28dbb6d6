"""Lucene-syntax query parser: full recursive boolean grammar.

Covers the classic Solr/Lucene grammar
(solr/core/src/java/org/apache/solr/parser/QueryParser.jj:135-172 — the
recursive ``Query ::= Clause+`` / ``Clause ::= [+|-|NOT] ( Term | "(" Query
")" ) [^boost]`` productions) that the engine executes:

- bare terms (default operator OR, i.e. SHOULD)
- ``AND`` binding its ADJACENT clauses to MUST (Lucene conjunction
  semantics: ``a AND b c`` == ``+a +b c``), ``+term``, ``-term``/``NOT``
- quoted phrases ``"a b c"`` in any role, with slop ``"a b"~2`` (sloppy
  matching is ORDERED-window: an increasing position chain whose span is
  at most ``len-1+slop``; Lucene additionally allows out-of-order matches
  at transposition cost and weights sloppy freq by 1/(1+distance) —
  documented divergence)
- field prefix ``text:term`` (the engine is single-text-field; any other
  field name raises)
- boosts ``term^2.5`` / ``"a b"^3`` / ``(a b)^2`` (clause score multiplied)
- multi-term clauses expanded against the term dictionary at query time
  (SolrQueryParserBase.getWildcardQuery/getPrefixQuery/getFuzzyQuery/
  getRangeQuery; expansion itself happens in the engine, which owns the
  dictionary): ``pre*`` prefix, ``w?ld*rd`` wildcard, ``term~``/``term~1``
  fuzzy (levenshtein), ``[a TO b]`` / ``{a TO b}`` lexicographic term range
- arbitrarily nested parenthesized groups — ``(a AND b) OR (c AND d)``,
  ``+("x y" z)``, ``-(p AND (q r))`` — each group is a sub-BooleanQuery
  clause (BooleanQuery nesting).

Two surfaces:

- :func:`parse_query_tree` returns the full boolean tree (:class:`BoolQuery`),
  the one shape the engine evaluates.
- :func:`parse_query` lowers the tree to the flat :class:`ParsedQuery`
  (deduplicated clause lists, the shape the oracles and programmatic
  callers use); a tree that cannot be flattened (nested operators,
  phrases/boosts inside groups) raises :class:`NotFlatQuery` (a
  ``NotImplementedError``).  :meth:`ParsedQuery.to_tree` turns a flat
  query back into a one-level tree for the engine.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from apache___solr_spark.analysis.chain import analyze


class NotFlatQuery(NotImplementedError):
    """The query tree has structure the flat ParsedQuery cannot express."""


@dataclass
class Clause:
    """A multi-term (dictionary-expanded) clause."""

    occur: str  # MUST | SHOULD | MUST_NOT
    kind: str  # prefix | wildcard | fuzzy | range | group | synonym
    value: str = ""  # pattern / base term
    terms: list[str] | None = None  # literal disjunction group "(a b c)"
    lo: str | None = None  # range bounds
    hi: str | None = None
    inclusive: bool = True
    fuzz: int = 2
    boost: float = 1.0

    @property
    def label(self) -> str:
        if self.kind == "group":
            return "(" + " ".join(self.terms or []) + ")"
        if self.kind == "range":
            br = "[]" if self.inclusive else "{}"
            return f"{br[0]}{self.lo} TO {self.hi}{br[1]}"
        if self.kind == "fuzzy":
            return f"{self.value}~{self.fuzz}"
        return self.value


# -- boolean tree nodes ------------------------------------------------------


@dataclass
class TermNode:
    term: str
    boost: float = 1.0


@dataclass
class PhraseNode:
    toks: list[str]
    slop: int = 0
    boost: float = 1.0
    # True for SPAN-derived nodes (XML SpanNear lowering): keeps ordered-
    # window counting — SpanNearQuery semantics — where classic sloppy
    # phrases use Lucene SloppyPhraseMatcher weighting
    window: bool = False

    @property
    def label(self) -> str:
        return '"' + " ".join(self.toks) + '"'


@dataclass
class BoolChild:
    occur: str  # MUST | SHOULD | MUST_NOT
    node: object  # TermNode | PhraseNode | Clause | BoolQuery


@dataclass
class BoolQuery:
    children: list[BoolChild] = field(default_factory=list)
    boost: float = 1.0
    # Lucene BooleanQuery.Builder#setMinimumNumberShouldMatch: at least mm
    # of this node's SHOULD children must match (0 = Lucene default: one
    # positive clause suffices).  Set by the dismax/edismax mm param.
    mm: int = 0


@dataclass
class ParsedQuery:
    must: list[str] = field(default_factory=list)
    should: list[str] = field(default_factory=list)
    must_not: list[str] = field(default_factory=list)
    # phrases: analyzed token sequences (order kept, duplicates kept).
    # Positions are post-filter indices, so a stopword inside a standard-
    # chain phrase vanishes without a gap (see IndexConfig.store_positions).
    must_phrases: list[list[str]] = field(default_factory=list)
    should_phrases: list[list[str]] = field(default_factory=list)
    must_not_phrases: list[list[str]] = field(default_factory=list)
    # clause label (term or phrase label) -> score multiplier, only when != 1
    boosts: dict[str, float] = field(default_factory=dict)
    # phrase label -> slop, only when != 0 (two same-text phrases with
    # different slops in one query collapse to one slop — documented edge)
    slops: dict[str, int] = field(default_factory=dict)
    # dictionary-expanded clauses (prefix/wildcard/fuzzy/range)
    expand: list[Clause] = field(default_factory=list)

    @property
    def scoring_terms(self) -> list[str]:
        return self.must + self.should

    @property
    def scoring_phrases(self) -> list[list[str]]:
        return self.must_phrases + self.should_phrases

    def to_tree(self) -> BoolQuery:
        """The one-level :class:`BoolQuery` this query means: one child per
        distinct term (a term listed as both MUST and SHOULD is one MUST
        clause, scored once), one per phrase (duplicates kept, each
        scores) and one per dictionary-expanded clause."""
        kids: list[BoolChild] = []
        must = _dedup(self.must)
        terms = (
            ("MUST", must),
            ("SHOULD", [t for t in _dedup(self.should) if t not in must]),
            ("MUST_NOT", _dedup(self.must_not)),
        )
        for occur, ts in terms:
            for t in ts:
                kids.append(BoolChild(occur, TermNode(t, self.boosts.get(t, 1.0))))
        phrases = (
            ("MUST", self.must_phrases),
            ("SHOULD", self.should_phrases),
            ("MUST_NOT", self.must_not_phrases),
        )
        for occur, phs in phrases:
            for ph in phs:
                node = PhraseNode(list(ph))
                node.slop = self.slops.get(node.label, 0)
                node.boost = self.boosts.get(node.label, 1.0)
                kids.append(BoolChild(occur, node))
        kids.extend(BoolChild(cl.occur, cl) for cl in self.expand)
        return BoolQuery(children=kids)


_WORD_RE = re.compile(
    r"^([+-]?)"  # sign
    r"(?:(\w+):)?"  # field
    r"(.+?)"  # body (lazy)
    r"(?:~(\d*))?"  # fuzzy
    r"(?:\^(\d+(?:\.\d+)?))?$"  # boost
)
_RANGE_RE = re.compile(r"^([\[{])(\S+) TO (\S+)([\]}])$")
_PHRASE_RE = re.compile(r'([+-]?)"([^"]*)"(?:~(\d+))?(?:\^(\d+(?:\.\d+)?))?')


def _dedup(xs: list[str]) -> list[str]:
    seen: set[str] = set()
    out: list[str] = []
    for x in xs:
        if x not in seen:
            seen.add(x)
            out.append(x)
    return out


def _tokenize(q: str) -> tuple[list[str], list[tuple]]:
    """Split ``q`` into word/paren tokens, protecting quoted phrases and
    ``[a TO b]`` ranges from whitespace splitting.  Returns (tokens,
    phrase records); a phrase token is ``\\x02<idx>`` into the records
    ``(sign, body, slop, boost)``."""
    phrases: list[tuple] = []

    def _stash(m: re.Match) -> str:
        phrases.append(
            (
                m.group(1),
                m.group(2),
                int(m.group(3)) if m.group(3) else 0,
                float(m.group(4)) if m.group(4) else 1.0,
            )
        )
        return f" \x02{len(phrases) - 1} "

    q = _PHRASE_RE.sub(_stash, q)
    # protect range whitespace: "[a TO b]" -> "[a\x00TO\x00b]"
    q = re.sub(
        r"([\[{])(\S+)\s+TO\s+(\S+)([\]}])",
        lambda m: f"{m.group(1)}{m.group(2)}\x00TO\x00{m.group(3)}{m.group(4)}",
        q,
    )
    # parens become standalone tokens; an occur sign stays glued to '(' and
    # a boost stays glued to ')': "-(a b)^2" -> "-(", "a", "b", ")^2"
    q = re.sub(r"([+-]?)\(", r" \1( ", q)
    q = re.sub(r"\)(\^\d+(?:\.\d+)?)?", r" )\1 ", q)
    return q.split(), phrases


def parse_query_tree(
    q: str,
    analyze_fn=analyze,
    default_field: str = "text",
    default_op: str = "OR",
) -> BoolQuery:
    """Parse ``q`` into the full boolean tree with the given query-time
    analysis function (defaults to the standard chain; the engine passes its
    index's configured analyzer so query analysis always matches index
    analysis).  ``default_op`` is Solr's q.op: with ``"AND"`` bare clauses
    bind as MUST and ``OR`` demotes its neighbors to SHOULD
    (QueryParserBase.addClause AND_OPERATOR semantics)."""
    if default_op not in ("OR", "AND"):
        raise ValueError(f"default_op must be OR or AND, got {default_op!r}")
    tokens, phrases = _tokenize(q)
    node, i = _parse_level(
        tokens, 0, phrases, analyze_fn, default_field, default_op
    )
    if i != len(tokens):
        raise ValueError(f"unbalanced ')' at token {i} in query {q!r}")
    return node


def _parse_level(
    tokens: list[str],
    i: int,
    phrases: list[tuple],
    analyze_fn,
    default_field: str,
    default_op: str = "OR",
) -> tuple[BoolQuery, int]:
    """One BooleanQuery level (Lucene's flat-clause binding: AND promotes
    its ADJACENT clauses to MUST, no precedence).  Returns at ')' or EOF."""
    children: list[BoolChild] = []
    pending_not = False
    conj: str | None = None

    def occur_of(sign: str) -> str:
        if pending_not or sign == "-":
            return "MUST_NOT"
        if sign == "+" or conj == "AND":
            return "MUST"
        if conj is None and default_op == "AND":
            return "MUST"
        return "SHOULD"

    def _reset():
        nonlocal pending_not, conj
        pending_not = False
        conj = None

    while i < len(tokens):
        tok = tokens[i]
        i += 1
        if tok in ("AND", "&&"):
            if children and children[-1].occur == "SHOULD":
                children[-1].occur = "MUST"
            conj = "AND"
            continue
        if tok in ("OR", "||"):
            # AND_OPERATOR mode: OR demotes its left neighbor
            # (QueryParserBase.addClause CONJ_OR)
            if (
                default_op == "AND"
                and children
                and children[-1].occur == "MUST"
            ):
                children[-1].occur = "SHOULD"
            conj = "OR"
            continue
        if tok == "NOT":
            pending_not = True
            continue
        if tok.endswith("(") and tok.lstrip("+-") == "(":
            sign = tok[0] if tok[0] in "+-" else ""
            sub, i = _parse_level(
                tokens, i, phrases, analyze_fn, default_field, default_op
            )
            # consume the matching ')' (with optional glued boost)
            if i >= len(tokens) or not tokens[i].startswith(")"):
                raise ValueError("unbalanced '(' in query")
            close = tokens[i]
            i += 1
            if len(close) > 1:
                sub.boost = float(close[2:])  # ")^2.5" -> 2.5
            if sub.children:  # empty groups are dropped (Lucene: no clause)
                children.append(BoolChild(occur_of(sign), sub))
            _reset()
            continue
        if tok.startswith(")"):
            i -= 1  # caller consumes the ')'
            return BoolQuery(children=children), i
        if tok.startswith("\x02") or (
            tok[:1] in "+-" and tok[1:].startswith("\x02")
        ):
            sign = ""
            if tok[0] in "+-":
                sign, tok = tok[0], tok[1:]
            psign, body, slop, boost = phrases[int(tok[1:])]
            sign = sign or psign
            toks = analyze_fn(body)
            if not toks:
                _reset()
                continue
            node = (
                PhraseNode(toks=toks, slop=slop, boost=boost)
                if len(toks) > 1
                else TermNode(term=toks[0], boost=boost)
            )
            children.append(BoolChild(occur_of(sign), node))
            _reset()
            continue
        word = tok.replace("\x00", " ")
        wm = _WORD_RE.match(word)
        if not wm:
            raise NotImplementedError(f"cannot parse token {word!r}")
        sign, fld, body_w, fuzz, boost = wm.groups()
        if fld is not None and fld != default_field:
            raise NotImplementedError(
                f"unknown field {fld!r} (single-field engine; see SURVEY §1.3)"
            )
        boost_v = float(boost) if boost else 1.0
        occur = occur_of(sign)
        rm = _RANGE_RE.match(body_w)
        if rm:
            lo, hi = rm.group(2).lower(), rm.group(3).lower()
            children.append(
                BoolChild(
                    occur,
                    Clause(
                        occur="",
                        kind="range",
                        lo=None if lo == "*" else lo,
                        hi=None if hi == "*" else hi,
                        inclusive=rm.group(1) == "[",
                        boost=boost_v,
                    ),
                )
            )
        elif fuzz is not None:
            children.append(
                BoolChild(
                    occur,
                    Clause(
                        occur="",
                        kind="fuzzy",
                        value=body_w.lower(),
                        fuzz=int(fuzz) if fuzz else 2,
                        boost=boost_v,
                    ),
                )
            )
        elif "*" in body_w or "?" in body_w:
            kind = (
                "prefix"
                if body_w.endswith("*")
                and "?" not in body_w
                and "*" not in body_w[:-1]
                else "wildcard"
            )
            children.append(
                BoolChild(
                    occur,
                    Clause(occur="", kind=kind, value=body_w.lower(), boost=boost_v),
                )
            )
        else:
            toks = analyze_fn(body_w)
            if not toks:
                _reset()
                continue
            for t in toks:
                children.append(BoolChild(occur, TermNode(term=t, boost=boost_v)))
        _reset()
    return BoolQuery(children=children), i


def lower_tree(tree: BoolQuery) -> ParsedQuery:
    """Flatten a depth-1 tree into a ParsedQuery (root-level repeated terms
    collapse to one clause).  A nested group lowers to a
    ``Clause(kind='group')`` only when it is a pure disjunction of unboosted
    plain terms (the historic flat-OR group); anything else raises
    :class:`NotFlatQuery`."""
    if tree.mm:
        raise NotFlatQuery("minimum-should-match needs the tree evaluator")
    pq = ParsedQuery()
    for ch in tree.children:
        n = ch.node
        if isinstance(n, TermNode):
            {"MUST": pq.must, "SHOULD": pq.should, "MUST_NOT": pq.must_not}[
                ch.occur
            ].append(n.term)
            if n.boost != 1.0:
                pq.boosts[n.term] = n.boost
        elif isinstance(n, PhraseNode):
            {
                "MUST": pq.must_phrases,
                "SHOULD": pq.should_phrases,
                "MUST_NOT": pq.must_not_phrases,
            }[ch.occur].append(n.toks)
            if n.boost != 1.0:
                pq.boosts[n.label] = n.boost
            if n.slop:
                pq.slops[n.label] = n.slop
        elif isinstance(n, Clause):
            n.occur = ch.occur
            pq.expand.append(n)
        elif isinstance(n, BoolQuery):
            flat_or = (
                n.children
                and not n.mm
                and all(
                    isinstance(c.node, TermNode)
                    and c.node.boost == 1.0
                    and c.occur == "SHOULD"
                    for c in n.children
                )
            )
            if not flat_or:
                raise NotFlatQuery(
                    "nested boolean structure needs the tree evaluator"
                )
            pq.expand.append(
                Clause(
                    occur=ch.occur,
                    kind="group",
                    terms=[c.node.term for c in n.children],
                    boost=n.boost,
                )
            )
        else:  # pragma: no cover
            raise TypeError(f"unknown node {type(n)}")
    pq.must = _dedup(pq.must)
    pq.should = _dedup(pq.should)
    pq.must_not = _dedup(pq.must_not)
    return pq


def parse_query(q: str, analyze_fn=analyze, default_field: str = "text") -> ParsedQuery:
    """Parse ``q`` and lower to the flat ParsedQuery.  Raises
    :class:`NotFlatQuery` (NotImplementedError) when the query has nested
    structure — ``SearchEngine.search`` takes the string itself either way."""
    return lower_tree(parse_query_tree(q, analyze_fn, default_field))
