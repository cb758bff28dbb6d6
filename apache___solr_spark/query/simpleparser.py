"""Lucene SimpleQueryParser analog ({!simple} — SimpleQParserPlugin.java:24
delegates to org.apache.lucene.queryparser.simple.SimpleQueryParser).

Grammar (the Lucene class javadoc): ``+`` AND, ``|`` OR, ``-`` NOT
(prefix), ``"..."`` phrase with optional trailing ``~N`` slop, trailing
``*`` prefix match, ``term~N`` fuzzy, ``( )`` precedence, ``\\`` escapes
the next character.  The defining property of the reference parser is
that it NEVER throws — malformed syntax degrades to literal text — which
is what makes it safe for raw end-user query boxes.  Degradation rules
here: an unclosed quote or paren consumes to end-of-input, dangling
operators are dropped, a lone ``*``/``~`` stays literal inside its token.

Tree construction is a LEFT FOLD over operator runs (the reference's
buildQueryTree merge): a run of clauses under one operator extends the
same BooleanQuery level; an operator CHANGE wraps the accumulated tree as
the first child of a new level.  So ``a + b | c`` == ((a AND b) OR c) and
``a | b + c`` == ((a OR b) AND c); explicit parens override.

Whitespace between clauses joins with the DEFAULT operator (the Solr
``q.op`` request param; OR unless overridden), and ``-`` negates exactly
the clause it prefixes at clause-start position (mid-token ``-`` stays
literal: ``well-known`` is one token for the analyzer to split).
"""

from __future__ import annotations

from apache___solr_spark.query.parser import (
    BoolChild,
    BoolQuery,
    Clause,
    PhraseNode,
    TermNode,
)

_OPS = {"+": "AND", "|": "OR"}


def _tokenize(q: str) -> list[tuple[str, object]]:
    """Lex into [('op', 'AND'|'OR') | ('neg', None) | ('clause', node-spec)]
    where a node-spec is ('phrase', text, slop) | ('group', inner_tokens) |
    ('term', text, fuzz, prefix)."""
    out: list[tuple[str, object]] = []
    i, n = 0, len(q)
    at_clause_start = True
    while i < n:
        c = q[i]
        if c.isspace():
            i += 1
            at_clause_start = True
            continue
        if c in _OPS:
            out.append(("op", _OPS[c]))
            i += 1
            at_clause_start = True
            continue
        if c == "-" and at_clause_start:
            out.append(("neg", None))
            i += 1
            continue
        if c == ")":
            # unbalanced close: literal degradation — drop it
            i += 1
            continue
        if c == "(":
            depth, j = 1, i + 1
            while j < n and depth:
                if q[j] == "\\":
                    j += 2
                    continue
                if q[j] == "(":
                    depth += 1
                elif q[j] == ")":
                    depth -= 1
                j += 1
            # unclosed group consumes to end-of-input (never throws)
            inner = q[i + 1 : j - 1] if depth == 0 else q[i + 1 :]
            out.append(("clause", ("group", _tokenize(inner))))
            i = j
            at_clause_start = True
            continue
        if c == '"':
            j = i + 1
            buf = []
            while j < n and q[j] != '"':
                if q[j] == "\\" and j + 1 < n:
                    buf.append(q[j + 1])
                    j += 2
                    continue
                buf.append(q[j])
                j += 1
            j += 1  # past the closing quote (or end)
            slop = 0
            if j < n and q[j] == "~":
                k = j + 1
                while k < n and q[k].isdigit():
                    k += 1
                if k > j + 1:
                    slop = int(q[j + 1 : k])
                    j = k
            out.append(("clause", ("phrase", "".join(buf), slop)))
            i = j
            at_clause_start = False
            continue
        # a plain token: runs to whitespace / operator / paren / quote
        buf = []
        while i < n and not q[i].isspace() and q[i] not in '+|()"':
            if q[i] == "\\" and i + 1 < n:
                buf.append(q[i + 1])
                i += 2
                continue
            buf.append(q[i])
            i += 1
        tok = "".join(buf)
        fuzz: int | None = None
        if "~" in tok:
            base, _, tail = tok.rpartition("~")
            if base and (tail.isdigit() or tail == ""):
                tok, fuzz = base, int(tail) if tail else 2
        prefix = False
        if tok.endswith("*") and len(tok) > 1:
            tok, prefix = tok[:-1], True
        if tok:
            out.append(("clause", ("term", tok, fuzz, prefix)))
        at_clause_start = False
    return out


def _build(tokens: list, analyze_fn, default_op: str) -> BoolQuery:
    # collect (op_before, negated, node) triples, dropping dangling ops
    entries: list[tuple[str, bool, object]] = []
    pending_op: str | None = None
    pending_neg = False
    for kind, val in tokens:
        if kind == "op":
            pending_op = val
            continue
        if kind == "neg":
            pending_neg = True
            continue
        node = _node_of(val, analyze_fn, default_op)
        if node is None:  # stopword-only clause: vanishes entirely
            pending_op, pending_neg = None, False
            continue
        entries.append((pending_op or default_op, pending_neg, node))
        pending_op, pending_neg = None, False

    if not entries:
        return BoolQuery()

    def occur_of(op: str, neg: bool) -> str:
        if neg:
            return "MUST_NOT"
        return "MUST" if op == "AND" else "SHOULD"

    # left fold: same-operator runs share a level, a change wraps
    _, neg0, node0 = entries[0]
    cur_op = entries[1][0] if len(entries) > 1 else entries[0][0]
    children = [BoolChild(occur_of(cur_op, neg0), node0)]
    for op, neg, node in entries[1:]:
        if op != cur_op:
            wrapped = BoolQuery(children=children)
            cur_op = op
            children = [BoolChild(occur_of(op, False), wrapped)]
        children.append(BoolChild(occur_of(op, neg), node))
    return BoolQuery(children=children)


def _node_of(spec, analyze_fn, default_op):
    kind = spec[0]
    if kind == "group":
        sub = _build(spec[1], analyze_fn, default_op)
        return sub if sub.children else None
    if kind == "phrase":
        toks = analyze_fn(spec[1])
        if not toks:
            return None
        if len(toks) == 1:
            return TermNode(term=toks[0])
        return PhraseNode(toks=toks, slop=int(spec[2]))
    _, text, fuzz, prefix = spec
    if prefix:
        # engine Clause convention: prefix values KEEP the trailing star
        # (engine._expand_rows strips it with value[:-1])
        return Clause(occur="", kind="prefix", value=text.lower() + "*")
    if fuzz is not None:
        return Clause(occur="", kind="fuzzy", value=text.lower(), fuzz=fuzz)
    toks = analyze_fn(text)
    if not toks:
        return None
    if len(toks) == 1:
        return TermNode(term=toks[0])
    # one token analyzing into several (e.g. "well-known"): any-of group,
    # the classic parser's convention for multi-token bodies
    return BoolQuery(
        children=[BoolChild("SHOULD", TermNode(term=t)) for t in toks]
    )


def parse_simple(q: str, analyze_fn, default_op: str = "OR") -> BoolQuery:
    """Parse a SimpleQueryParser string into the engine's BoolQuery tree.
    Never raises on malformed input (the reference contract)."""
    op = "AND" if str(default_op).upper() == "AND" else "OR"
    return _build(_tokenize(q), analyze_fn, op)
