"""Local-params QParser dispatch: ``{!type k=v ...}rest`` query strings.

Reference surface: QParserPlugin registry
(solr/core/src/java/org/apache/solr/search/QParserPlugin.java standardPlugins
+ the per-plugin classes TermQParserPlugin.java, PrefixQParserPlugin.java,
FieldQParserPlugin.java, BoolQParserPlugin.java, BoostQParserPlugin.java,
LuceneQParserPlugin.java; local-params syntax parsed in QueryParsing.java).

The full-text-shaped parsers dispatch onto the engine here; the
table-shaped parsers already exist as DataFrame combinators and raise a
pointer to them rather than pretending (``{!join}`` ->
operators.streams.intersect, ``{!collapse}`` -> operators.streams.collapse,
``{!frange}`` -> functions.registry, ``{!knn}`` ->
pipeline.similarity / expr knnSearch).

Mechanics per plugin, mirroring reference semantics:

- ``{!lucene}``  classic grammar (the default) — engine.search unchanged.
- ``{!term f=F}value``  exact term, NO analysis (TermQParserPlugin.java:49
  constructs a TermQuery from the raw readable value).
- ``{!field f=F}value``  the value goes THROUGH the analyzer; multiple
  tokens become a phrase (FieldQParserPlugin.java:43 -> getFieldQuery).
- ``{!prefix f=F}pre``  raw prefix, no analysis (PrefixQParserPlugin.java:40).
- ``{!bool must=... should=... must_not=... filter=...}``  composes clause
  queries (BoolQParserPlugin.java:52-77); here each operand is a query
  string composed into the recursive grammar.
- ``{!boost b=N}q``  multiplies every scoring clause of q by N
  (BoostQParserPlugin.java — constant multiplier variant).
- ``{!dismax qf=text mm=.. pf=.. ps=.. bq=..}``  DisMaxQParser.java:
  escaped user string (+/-/phrases only), minimum-should-match over the
  optional clauses (SolrPluginUtils.calculateMinShouldMatch — full spec
  grammar incl. conditionals), whole-query phrase boost, boost query.
- ``{!edismax ...}``  ExtendedDismaxQParser.java: full classic grammar
  plus the dismax extras; mm applies to the root's SHOULD clauses.
- ``{!mlt mintf= mindf= maxqt=}docid``  CloudMLTQParser
  (MLTQParserPlugin.java): top tf*idf terms of the source doc as an OR
  query, source doc excluded.
- ``{!knn f=embedding topK=N}[v1,...]``  KnnQParserPlugin.java — real
  dispatch when ``vectors_df=`` is passed (cosine top-k over that
  table); otherwise the table-shaped pointer explains where to go.
- ``{!func}expr``  FunctionQParserPlugin.java — parse_func_query lowers
  the string to one codegen'd Column over the docs table; top-k.
- ``{!frange l= u= incl= incu=}expr``  FunctionRangeQParserPlugin.java —
  range predicate on the function value, constant score 1.
- ``{!rerank reRankQuery= reRankDocs= reRankWeight=}q``  ReRank.
- ``{!switch case.X=q default=q}X`` / ``{!raw f=F}term``  utility parsers.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from apache___solr_spark.query.parser import (
    BoolChild,
    BoolQuery,
    ParsedQuery,
    PhraseNode,
    TermNode,
    parse_query_tree,
)

_LP_RE = re.compile(r"^\s*\{!\s*([^}]*)\}(.*)$", re.DOTALL)
# keys may be dotted ({!switch case.x=...}, SwitchQParserPlugin.java)
_KV_RE = re.compile(r"([\w.]+)=(\"[^\"]*\"|'[^']*'|\S+)|(\S+)")


def parse_local_params(
    q: str, request: dict | None = None
) -> tuple[str | None, dict[str, str], str]:
    """Split ``{!type k=v}rest`` -> (type, params, rest).

    Returns (None, {}, q) when q carries no local params.  A bare first
    token is the parser type (``{!term f=x}``); ``type=`` also works.

    ``$name`` values resolve against ``request`` — the reference's
    request-parameter dereference (QueryParsing.java / DefaultSolrParams):
    ``{!query v=$qq}`` with request={"qq": "..."}.  Without a request
    context they raise, as before.  The special ``v`` key REPLACES the
    trailing rest as the query body (LocalSolrQueryRequest semantics)."""
    m = _LP_RE.match(q)
    if not m:
        return None, {}, q
    body, rest = m.group(1).strip(), m.group(2).strip()
    ptype: str | None = None
    params: dict[str, object] = {}
    for kv in _KV_RE.finditer(body):
        if kv.group(3) is not None:
            if ptype is None:
                ptype = kv.group(3)
            continue
        k, v = kv.group(1), kv.group(2)
        if len(v) >= 2 and v[0] == v[-1] and v[0] in "\"'":
            v = v[1:-1]
        if v.startswith("$"):
            if request is None:
                raise NotImplementedError(
                    "$param references need a request-parameter context "
                    "(pass request={...} to dispatch_query)"
                )
            name = v[1:]
            if name not in request:
                raise ValueError(f"missing request parameter {name!r}")
            v = request[name]
        if k == "type":
            ptype = v
        else:
            params[k] = v
    if "v" in params:
        rest = params.pop("v")
    return ptype or "lucene", params, rest


def calculate_mm(spec: str, n_optional: int) -> int:
    """SolrPluginUtils.calculateMinShouldMatch: resolve an ``mm`` spec
    against the number of optional (SHOULD) clauses.

    Grammar (SolrPluginUtils.java:150-200): a plain integer (``3``), a
    negative integer (``-2`` = all but 2), a percentage (``75%``, truncated
    toward zero), a negative percentage (``-25%`` = all but 25%), or
    space-separated conditionals ``upper<spec`` evaluated in order — the
    spec applies when n_optional > upper, n_optional <= the first upper
    means all clauses required."""
    spec = spec.strip()
    if "<" in spec:
        result = n_optional
        for part in spec.split():
            upper_s, _, sub = part.partition("<")
            if not sub:
                raise ValueError(f"bad conditional mm clause {part!r}")
            if n_optional <= int(upper_s):
                return result
            result = calculate_mm(sub, n_optional)
        return result
    if spec.endswith("%"):
        percent = int(spec[:-1])
        calc = int(n_optional * percent / 100.0)  # truncates toward zero
        result = n_optional + calc if calc < 0 else calc
    else:
        calc = int(spec)
        result = n_optional + calc if calc < 0 else calc
    return min(n_optional, max(result, 0))


_BOOSTED_FIELD_RE = re.compile(r"^(\w+)(?:\^([\d.]+))?$")
_DISMAX_TOK_RE = re.compile(r'[+-]?"[^"]*"|\S+')


def _parse_boosted_field(spec: str, param: str) -> float:
    """``qf``/``pf`` specs are ``field^boost``; single-field index accepts
    only the ``text`` field and returns the boost."""
    m = _BOOSTED_FIELD_RE.match(spec.strip())
    if not m or m.group(1) != "text":
        raise NotImplementedError(
            f"single-field index: {param}={spec!r} unsupported (only 'text')"
        )
    return float(m.group(2) or 1.0)


def _parse_func_boosts(spec: str | None) -> list:
    """``bf``/``boost`` param -> list of doc-table Column expressions.
    The reference accepts whitespace-separated function queries, each with
    an optional trailing ``^N`` weight (DisMaxQParser.java getBoostFunctions
    / ExtendedDismaxQParser getMultiplicativeBoosts); a function score is
    linear in its weight, so ``f^N`` compiles to ``N * f``."""
    if not spec:
        return []
    from pyspark.sql import functions as F

    from apache___solr_spark.functions.registry import parse_func_query

    out = []
    for part in spec.split():
        m = re.fullmatch(r"(.+?)\^(\d+(?:\.\d+)?)", part)
        col = parse_func_query(m.group(1) if m else part)
        if m:
            col = col.cast("double") * F.lit(float(m.group(2)))
        out.append(col)
    return out


def _dismax_tree(engine, rest: str, params: dict[str, str]) -> BoolQuery:
    """DisMaxQParser.java: the user string is escaped (no grammar beyond
    +/-/phrases), each chunk analyzed into an optional clause, ``mm``
    applied to the optional count, ``pf`` adds a whole-query phrase boost
    clause with slop ``ps``, ``bq`` adds a parsed optional boost query.

    Single-field simplifications (documented): ``qf``/``pf`` accept only
    ``text^boost`` (the boost is applied; with one field the per-term
    DisjunctionMax == the field score, so ``tie`` changes nothing and is
    accepted-ignored).  ``bf``/``boost`` function params are handled by
    dispatch_query (they compile to doc-table Column expressions, not
    tree clauses)."""
    qf_boost = _parse_boosted_field(params.get("qf", "text"), "qf")

    root = BoolQuery()
    n_optional = 0
    all_toks: list[str] = []
    for raw in _DISMAX_TOK_RE.findall(rest):
        occur = "SHOULD"
        if raw.startswith("+"):
            occur, raw = "MUST", raw[1:]
        elif raw.startswith("-"):
            occur, raw = "MUST_NOT", raw[1:]
        is_phrase = len(raw) >= 2 and raw[0] == '"' and raw[-1] == '"'
        toks = engine._analyze(raw.strip('"') if is_phrase else raw)
        if not toks:
            continue  # stopword-only chunk: not a clause at all
        if occur == "SHOULD":
            all_toks.extend(toks)
            n_optional += 1
        if is_phrase and len(toks) > 1:
            node = PhraseNode(toks=toks, boost=qf_boost)
        elif len(toks) == 1:
            node = TermNode(term=toks[0], boost=qf_boost)
        else:
            # one chunk analyzing to several tokens: ONE optional clause,
            # any of its tokens matching counts (getFieldQuery with
            # autoGeneratePhraseQueries=false -> boolean OR)
            node = BoolQuery(
                children=[
                    BoolChild("SHOULD", TermNode(term=t, boost=qf_boost))
                    for t in toks
                ]
            )
        root.children.append(BoolChild(occur, node))

    root.mm = calculate_mm(params.get("mm", "0%"), n_optional)

    if "pf" in params and len(all_toks) > 1:
        pf_boost = _parse_boosted_field(params["pf"], "pf")
        root.children.append(
            BoolChild(
                "SHOULD",
                PhraseNode(
                    toks=all_toks,
                    slop=int(params.get("ps", 0)),
                    boost=pf_boost,
                ),
            )
        )
    if "bq" in params:
        root.children.append(
            BoolChild(
                "SHOULD",
                parse_query_tree(params["bq"], analyze_fn=engine._analyze),
            )
        )
    return root


def _edismax_tree(engine, rest: str, params: dict[str, str]) -> BoolQuery:
    """ExtendedDismaxQParser: full classic grammar for the user query, then
    dismax extras (mm over the root's SHOULD clauses, pf/ps/bq).  mm is
    applied unconditionally (the reference's operator-aware mm autorelax,
    ExtendedDismaxQParser.java parseOriginalQuery, is not modeled)."""
    _parse_boosted_field(params.get("qf", "text"), "qf")
    root = parse_query_tree(rest, analyze_fn=engine._analyze)
    n_optional = sum(1 for c in root.children if c.occur == "SHOULD")
    root.mm = calculate_mm(params.get("mm", "0%"), n_optional)
    if "pf" in params:
        pf_boost = _parse_boosted_field(params["pf"], "pf")
        toks: list[str] = []
        for c in root.children:
            if c.occur == "SHOULD" and isinstance(c.node, TermNode):
                toks.append(c.node.term)
        if len(toks) > 1:
            root.children.append(
                BoolChild(
                    "SHOULD",
                    PhraseNode(
                        toks=toks,
                        slop=int(params.get("ps", 0)),
                        boost=pf_boost,
                    ),
                )
            )
    if "bq" in params:
        root.children.append(
            BoolChild(
                "SHOULD",
                parse_query_tree(params["bq"], analyze_fn=engine._analyze),
            )
        )
    return root


_SURROUND_RE = re.compile(r"^(\d*)([wn])\((.+)\)$", re.IGNORECASE)
_SURROUND_OPEN = re.compile(r"^(\d*)([wn])\(", re.IGNORECASE)


def _parse_surround_expr(s: str):
    """Recursive surround prefix grammar: ``expr := <n>[WN] '(' expr
    (',' expr)* ')' | operand`` — returns ``("near", dist, ordered,
    [children])`` / ``("op", raw)``."""
    s = s.strip()
    m = _SURROUND_OPEN.match(s)
    if m and s.endswith(")"):
        inner = s[m.end() : -1]
        parts: list[str] = []
        depth = 0
        cur: list[str] = []
        for ch in inner:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth < 0:
                    raise NotImplementedError(
                        f"surround: unbalanced parens in {s!r}"
                    )
            if ch == "," and depth == 0:
                parts.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        if depth != 0:
            raise NotImplementedError(f"surround: unbalanced parens in {s!r}")
        parts.append("".join(cur))
        children = [_parse_surround_expr(p) for p in parts]
        if any(not (c[0] == "near" or c[1]) for c in children):
            raise NotImplementedError(f"surround: empty operand in {s!r}")
        return ("near", int(m.group(1) or 1), m.group(2).lower() == "w", children)
    if re.fullmatch(r"[^\s(),\"]+", s):
        return ("op", s)
    raise NotImplementedError(
        "surround: only prefix nW(...)/nN(...) trees, uniform infix "
        f"chains, and bare terms are supported, got {s!r}"
    )
# infix chain: operand (op operand)+, e.g. "a 3w b", "a w b w c"
_SURROUND_INFIX_RE = re.compile(
    r"^(\S+)(\s+\d*[wn]\s+\S+)+$", re.IGNORECASE
)
_SURROUND_INFIX_OP = re.compile(r"\s+(\d*)([wn])\s+", re.IGNORECASE)


def _surround_query(engine, rest: str, k: int = 10, **kw) -> DataFrame:
    """``{!surround}`` distance operators (SurroundQParserPlugin.java;
    grammar in lucene/queryparser/surround/parser/QueryParser.jj): the
    prefix forms ``<n>W(a, b, ...)`` — ordered within distance n — and
    ``<n>N(a, b, ...)`` — unordered within distance n — case-insensitive,
    distance defaulting to 1 (adjacent).  Operands are plain terms or
    truncated/wildcard terms (``app*``, ``pag?`` — surround's truncation
    inside spans, SrndTruncQuery: each pattern slot rewrites to the
    SpanOr of its dictionary expansions via the complexphrase machinery).
    NESTED operators parse recursively — ``3W(2N(a, b), c)`` lowers to
    SearchEngine.span_tree (SpanNear nesting SpanNear, interval algebra
    in query/spans.py).  Infix forms parse too — ``a 3W b`` and
    uniform-operator chains ``a W b W c`` (the grammar's
    left-associative chain of ONE operator; mixed operators or distances
    in a chain raise).  A bare operand is SrndTermQuery/SrndTruncQuery:
    it lowers to the classic term/prefix query.  Flat operators lower to
    SearchEngine.span_near / complex_phrase, the
    SpanNearQuery(slop=n-1, inOrder) analogs.
    """
    rest = rest.strip()
    if _SURROUND_OPEN.match(rest) and rest.endswith(")"):
        spec = _parse_surround_expr(rest)
        if all(c[0] == "op" for c in spec[3]):
            # flat operator: the vectorized span_near / complexphrase
            # paths (and their flat counting semantics) still apply
            dist, ordered = spec[1], spec[2]
            words = [c[1] for c in spec[3]]
        else:
            # genuinely nested: the span-tree interval evaluator
            return engine.span_tree(spec, k=k, **kw)
    elif _SURROUND_INFIX_RE.match(rest) and "(" not in rest:
        ops = [
            (int(g1 or 1), g2.lower())
            for g1, g2 in _SURROUND_INFIX_OP.findall(rest)
        ]
        if len(set(ops)) > 1:
            raise NotImplementedError(
                "surround: mixed operators/distances in an infix chain "
                f"unsupported, got {rest!r}"
            )
        dist, opc = ops[0]
        ordered = opc == "w"
        words = [w.strip() for w in _SURROUND_INFIX_OP.split(rest)[::3]]
    elif re.fullmatch(r"[^\s(),]+", rest):
        # bare operand: SrndTermQuery / SrndTruncQuery -> classic query
        return engine.search(rest, k=k, **kw)
    else:
        raise NotImplementedError(
            "surround: only prefix nW(...)/nN(...), uniform infix chains, "
            f"and bare terms are supported, got {rest!r}"
        )
    if any(not w or any(c in w for c in '()"') for w in words):
        raise NotImplementedError(
            "surround: nested operators / infix forms unsupported, "
            f"got {rest!r}"
        )
    if any("*" in w or "?" in w for w in words):
        return engine.complex_phrase(
            " ".join(words), slop=dist - 1, ordered=ordered, k=k, **kw
        )
    return engine.span_near(words, dist=dist, ordered=ordered, k=k, **kw)


_TABLE_SHAPED = {
    "join": "operators.streams.intersect/score_join "
    "(or pass indexes= / use fromIndex-less same-index form for a real run)",
    "collapse": "operators.streams.collapse "
    "(or pass it as an fq= entry to dispatch_query — the reference shape)",
    "knn": "pipeline.similarity.cosine_topk_* / expr knnSearch "
    "(or pass vectors_df= to dispatch_query for a real {!knn} run)",
    "graph": "operators.graph.gather_nodes/shortest_path "
    "(or pass graph_df= to dispatch_query for a real {!graph} run)",
    "parent": "operators.streams.block_join_parent "
    "(or pass blocks_df= to dispatch_query for a real {!parent} run)",
    "child": "operators.streams.block_join_children "
    "(or pass blocks_df= to dispatch_query for a real {!child} run)",
    "geofilt": "functions.spatial.geofilt "
    "(or pass docs_df= to dispatch_query for a real {!geofilt} run)",
    "bbox": "functions.spatial.bbox_predicate "
    "(or pass docs_df= to dispatch_query for a real {!bbox} run)",
    "ltr": "query.ltr.ltr_rerank "
    "(or pass ltr_models= to dispatch_query for a real {!ltr} run)",
    "igain": "pipeline.textml.select_features_igain",
    "tlogit": "pipeline.textml.train_text_logit",
}

# honest scope markers for the rest of the reference registry
# (QParserPlugin.java standardPlugins) — each raises with the reason
_UNSUPPORTED = {
    "vectorSimilarity": "pass vectors_df= for a real threshold query",
    "numericRange": "pass docs_df= with the 'locol,hicol' range pair",
}

# fq entries and the collapse postfilter only compose with parsers that
# end in engine.search (where the DocSet semi-join applies before top-k)
_FQ_COMPOSABLE = {
    None,
    "lucene",
    "term",
    "raw",
    "field",
    "prefix",
    "bool",
    "boost",
    "dismax",
    "edismax",
    "switch",
    "fuzzy",
    "maxscore",
    "simple",
    "ltr",  # fq applies to the {!ltr} first pass (an engine.search)
}


def _compose_bool(params: dict, required: bool = False) -> str:
    """BoolQParserPlugin occur composition (BoolQParser.java:52-77) as one
    recursive classic-grammar string.  ``filter`` is Occur.FILTER —
    REQUIRED but contributing NO score — which composes as ``+(q)^0``
    (a zero-boosted required group; the tree evaluator multiplies the
    child's score by its boost).  Shared by the {!bool} dispatch, the
    fq-lowering path, and the JSON Request API's bool DSL so the three
    entrances cannot drift."""
    parts: list[str] = []
    for key, sign, zero in (
        ("must", "+", False),
        ("filter", "+", True),
        ("should", "", False),
        ("must_not", "-", False),
    ):
        v = params.get(key)
        if v:
            parts.append(f"{sign}({v})^0" if zero else f"{sign}({v})")
    if not parts and required:
        raise ValueError("{!bool} needs must/should/must_not/filter")
    return " ".join(parts)


def _engine_query_obj(engine, ptype, params, rest, raw):
    """Lower an engine-shaped (ptype, params, rest) to the query object
    engine.search/docset understand (str classic grammar / ParsedQuery /
    BoolQuery).  The reference resolves fq entries through the same
    QParser registry; the engine-shaped subset lowers here, everything
    else raises honestly."""
    if ptype is None or ptype == "lucene":
        s = rest if ptype else raw
        if "q.op" in params:
            return parse_query_tree(
                s,
                analyze_fn=engine._analyze,
                default_op=params["q.op"].upper(),
            )
        return s
    if ptype in ("term", "raw"):
        _check_field(params)
        return ParsedQuery(must=[rest])
    if ptype == "prefix":
        _check_field(params)
        return f"{rest}*"
    if ptype == "fuzzy":
        _check_field(params)
        return f"{rest}~{params.get('maxEdits', 2)}"
    if ptype == "field":
        _check_field(params)
        toks = engine._analyze(rest)
        if not toks:
            return ParsedQuery()
        if len(toks) == 1:
            return ParsedQuery(must=[toks[0]])
        return ParsedQuery(must_phrases=[toks])
    if ptype == "bool":
        return _compose_bool(params)
    if ptype == "boost":
        return f"({rest})^{float(params.get('b', 1.0))}"
    raise NotImplementedError(f"parser {{!{ptype}}} unsupported here")


def _fq_query_obj(engine, f: str, request: dict | None = None):
    ptype, params, rest = parse_local_params(f, request)
    if ptype in ("boost",):
        raise NotImplementedError("fq parser {!boost} unsupported in fq")
    return _engine_query_obj(engine, ptype, params, rest, f)


def _collapse_main_query(engine, ptype, params, rest, raw):
    """Main-query object for the {!collapse}-fq route.  Function boosts
    (dismax bf / edismax boost) would need to ride into collapsed_search;
    they raise rather than silently dropping."""
    if ptype == "dismax":
        if params.get("bf"):
            raise NotImplementedError("{!dismax bf=} with collapse fq")
        return _dismax_tree(engine, rest, params)
    if ptype == "edismax":
        if params.get("bf") or params.get("boost"):
            raise NotImplementedError("{!edismax bf=/boost=} with collapse fq")
        return _edismax_tree(engine, rest, params)
    return _engine_query_obj(engine, ptype, params, rest, raw)


def _split_fq(engine, fq, request: dict | None = None):
    """Partition fq entries into (engine filter queries, collapse params).
    ``{!collapse ...}`` inside fq is the reference's ONLY collapse shape —
    a postfilter over the scored result set, handled by
    engine.collapsed_search rather than a DocSet intersection."""
    filters: list = []
    collapse_params: dict[str, str] | None = None
    for f in fq or []:
        ptype, params, _rest = parse_local_params(f, request)
        if ptype == "collapse":
            if collapse_params is not None:
                raise ValueError("at most one {!collapse} fq per request")
            collapse_params = params
        else:
            filters.append(_fq_query_obj(engine, f, request))
    return filters, collapse_params


def _collapse_order(params: dict[str, str]):
    """CollapsingQParserPlugin head selection: default = best score;
    ``max=F``/``min=F`` pick the group head by a numeric docs-table
    expression instead (ties to lowest doc_id, like the reference's
    docid tiebreak)."""
    from pyspark.sql import functions as F

    if "max" in params:
        return [F.expr(params["max"]).desc(), F.col("doc_id").asc()]
    if "min" in params:
        return [F.expr(params["min"]).asc(), F.col("doc_id").asc()]
    return None  # engine default: score desc, doc_id asc


def _check_field(params: dict[str, str]) -> None:
    f = params.get("f")
    if f not in (None, "text"):
        raise NotImplementedError(
            f"single-field index: f={f!r} unsupported (only 'text')"
        )


def dispatch_query(
    engine,
    q: str,
    k: int = 10,
    fq: list | None = None,
    request: dict | None = None,
    **kw,
) -> DataFrame:
    """Run a local-params query through ``engine`` (a SearchEngine).

    ``fq``: list of filter-query strings (the reference's fq param): each
    resolves through the engine-shaped parser subset to a constant-score
    DocSet intersected before top-k; a ``{!collapse field=F}`` entry is
    the reference's postfilter shape and routes the request through
    engine.collapsed_search.  Table-shaped parsers dispatch for REAL when
    their table arrives as a keyword (the {!knn} vectors_df= pattern):
    ``blocks_df=`` ({!parent}/{!child}), ``graph_df=`` ({!graph}),
    ``docs_df=`` ({!geofilt}/{!bbox}), ``ltr_models=`` ({!ltr}),
    ``indexes=`` ({!join fromIndex=...}; same-index joins need nothing).
    """
    ptype, params, rest = parse_local_params(q, request)

    if ptype in ("query", "nested"):
        # NestedQParserPlugin ({!query v=$q1}): delegate the resolved body
        # through the full dispatch again
        return dispatch_query(engine, rest, k=k, fq=fq, request=request, **kw)

    if ptype == "filters":
        # FiltersQParserPlugin: combine the param= filter queries (minus
        # excludeTags-tagged ones) with the main body as constant-score
        # filters.  With no body the result is the bare intersection
        # (ConstantScore over the DocSet), the reference's
        # filter-only form.
        raw = params.get("param", [])
        flist = list(raw) if isinstance(raw, (list, tuple)) else [raw]
        excl = {
            t.strip()
            for t in str(params.get("excludeTags", "")).split(",")
            if t.strip()
        }
        keep = []
        for f in flist:
            ftags = {
                t.strip()
                for t in str(
                    parse_local_params(f, request)[1].get("tag", "")
                ).split(",")
                if t.strip()
            }
            if not (ftags & excl):
                keep.append(f)
        all_fq = keep + list(fq or [])
        if rest:
            return dispatch_query(
                engine, rest, k=k, fq=all_fq, request=request, **kw
            )
        from pyspark.sql import functions as F

        ds = None
        for f in all_fq:
            d = engine.docset(_fq_query_obj(engine, f, request))
            ds = d if ds is None else ds.join(d, "doc_id", "left_semi")
        if ds is None:
            raise ValueError("{!filters} needs param= or a query body")
        return (
            engine.docs.join(ds, "doc_id", "left_semi")
            .select("doc_id", "url", F.lit(1.0).alias("score"))
            .orderBy("doc_id")
        )

    if ptype == "xml":
        # XmlQParserPlugin.java:40 -> lucene CoreParser builder registry;
        # the XML elements lower onto the same boolean tree evaluator the
        # classic grammar uses (query/xmlparser.py)
        from apache___solr_spark.query.xmlparser import run_xml_query

        return run_xml_query(engine, rest, k=k, fq=fq)

    if ptype == "min_hash":
        # MinHashQParser.java: the body is raw text pushed through the
        # min-hash chain; sim= + tp= pick the LSH band size
        _check_field(params)
        if fq:
            raise NotImplementedError("fq with {!min_hash} unsupported")
        sim = params.get("sim")
        return engine.minhash_search(
            rest,
            k=k,
            sim=float(sim) if sim is not None else None,
            tp=float(params.get("tp", 1.0)),
            sep=params.get("sep"),
        )

    if ptype == "mlt_content":
        # mlt/MLTContentQParserPlugin.java: MLT from free text
        from apache___solr_spark.query.extras import mlt_like_content

        _check_field(params)
        if fq:
            raise NotImplementedError("fq with {!mlt_content} unsupported")
        return mlt_like_content(
            engine,
            rest,
            k=k,
            max_query_terms=int(params.get("maxqt", 10)),
            min_doc_freq=int(params.get("mindf", 2)),
            min_term_freq=int(params.get("mintf", 1)),
        )

    if ptype == "significantTerms":
        # SignificantTermsQParserPlugin.java — returns the significant-
        # terms table itself (the reference rides it on the response
        # alongside the docs; the terms ARE the artifact)
        from apache___solr_spark.query.extras import significant_terms_index

        _check_field(params)
        if not rest:
            raise ValueError("{!significantTerms} needs a foreground query")
        return significant_terms_index(
            engine,
            rest,
            fq=fq,
            num_terms=int(params.get("numTerms", 20)),
            min_doc_freq=float(params.get("minDocFreq", 5.0)),
            max_doc_freq=float(params.get("maxDocFreq", 0.3)),
            min_term_length=int(params.get("minTermLength", 4)),
        )

    if ptype in ("payload_score", "payload_check"):
        # PayloadScoreQParser.java / PayloadCheckQParser.java over the
        # per-doc payload side table (analysis/payloads.py)
        _check_field(params)
        if fq:
            raise NotImplementedError(f"fq with {{!{ptype}}} unsupported")
        if ptype == "payload_score":
            if "func" not in params:
                # the reference errors without func (PayloadScoreQParser)
                raise ValueError("{!payload_score} requires func=")
            return engine.payload_score(
                rest,
                func=str(params["func"]),
                include_span_score=str(
                    params.get("includeSpanScore", "false")
                ).lower()
                == "true",
                operator=str(params.get("operator", "phrase")) or "phrase",
                k=k,
            )
        want = [float(x) for x in str(params.get("payloads", "")).split()]
        return engine.payload_check(
            rest, want, op=str(params.get("op", "eq")), k=k
        )

    if ptype == "export":
        # ExportQParserPlugin.java + handler/export/ExportWriter.java:98:
        # the FULL sorted result set (no top-k, no scores) of the fl
        # fields — Spark's external sort over the complete DocSet is the
        # /export streaming-sort capability
        from pyspark.sql import functions as F

        if not rest:
            raise ValueError("{!export} needs a query body")
        ds = engine.docset(_fq_query_obj(engine, rest, request))
        for f in fq or []:
            ds = ds.join(
                engine.docset(_fq_query_obj(engine, f, request)),
                "doc_id",
                "left_semi",
            )
        fl = [
            c.strip()
            for c in str(params.get("fl", "doc_id,url")).split(",")
            if c.strip()
        ]
        sort_cols = []
        for part in str(params.get("sort", "doc_id asc")).split(","):
            bits = part.strip().split()
            col = F.col(bits[0])
            desc = len(bits) > 1 and bits[1].lower() == "desc"
            sort_cols.append(col.desc() if desc else col.asc())
        return (
            engine.docs.join(ds, "doc_id", "left_semi")
            .select(*fl)
            .orderBy(*sort_cols)
        )

    if fq:
        if ptype not in _FQ_COMPOSABLE:
            raise NotImplementedError(
                f"fq does not compose with {{!{ptype}}} here"
            )
        if ptype == "switch":
            kw = {**kw, "fq": fq}  # re-dispatch applies fq to the case
        else:
            fq_objs, collapse_params = _split_fq(engine, fq, request)
            if collapse_params is not None:
                main = _collapse_main_query(engine, ptype, params, rest, q)
                return engine.collapsed_search(
                    main,
                    by=collapse_params["field"],
                    k=k,
                    null_policy=collapse_params.get("nullPolicy", "ignore"),
                    order_by=_collapse_order(collapse_params),
                    fq=fq_objs or None,
                )
            kw = {**kw, "fq": fq_objs}

    if ptype is None or ptype == "lucene":
        if "q.op" in params:  # {!lucene q.op=AND} (QueryParsing.OP)
            kw = {**kw, "default_op": params["q.op"].upper()}
        return engine.search(rest if ptype else q, k=k, **kw)

    if ptype == "term":
        _check_field(params)
        return engine.search(ParsedQuery(must=[rest]), k=k, **kw)

    if ptype == "field":
        _check_field(params)
        toks = engine._analyze(rest)
        if not toks:
            return engine.search(ParsedQuery(), k=k, **kw)
        if len(toks) == 1:
            return engine.search(ParsedQuery(must=[toks[0]]), k=k, **kw)
        return engine.search(ParsedQuery(must_phrases=[toks]), k=k, **kw)

    if ptype == "prefix":
        _check_field(params)
        # raw prefix -> classic grammar handles expansion + scoring
        return engine.search(f"{rest}*", k=k, **kw)

    if ptype == "bool":
        return engine.search(_compose_bool(params, required=True), k=k, **kw)

    if ptype == "boost":
        b = float(params.get("b", 1.0))
        return engine.search(f"({rest})^{b}", k=k, **kw)

    if ptype == "surround":
        return _surround_query(engine, rest, k=k, **kw)

    if ptype == "simple":
        # SimpleQParserPlugin.java:24 -> Lucene SimpleQueryParser: the
        # never-throws end-user grammar (+ | - "..." * ~N parens, escape,
        # graceful degradation) parsed by query/simpleparser.py into the
        # recursive BoolQuery evaluator; q.op sets the whitespace operator
        from apache___solr_spark.query.simpleparser import parse_simple

        tree = parse_simple(
            rest,
            analyze_fn=engine._analyze,
            default_op=params.get("q.op", "OR"),
        )
        if not tree.children:
            return engine.search(ParsedQuery(), k=k, **kw)
        return engine.search(tree, k=k, **kw)

    if ptype == "rank":
        # RankQParserPlugin.java:43-110 (Lucene FeatureField queries over
        # the precomputed rank field — here any numeric docs-table
        # column): satu w*v/(v+pivot), linear w*v, log w*ln(a+v), sigm
        # w*v^e/(v^e+pivot^e).  The reference derives a default satu
        # pivot from index-wide feature stats; pass pivot explicitly
        # (raises otherwise, mirroring the weight!=1 requirement).
        from pyspark.sql import Window as _W
        from pyspark.sql import functions as F

        fname = params["f"]
        fn = params.get("function", "satu").lower()
        w = float(params.get("weight", 1.0))
        v = F.col(fname).cast("double")
        if fn == "satu":
            if "pivot" not in params:
                raise ValueError(
                    "a pivot value needs to be provided for \"satu\""
                )
            pivot = float(params["pivot"])
            sc = F.lit(w) * v / (v + F.lit(pivot))
        elif fn == "linear":
            sc = F.lit(w) * v
        elif fn == "log":
            a = float(params.get("scalingFactor", 1.0))
            sc = F.lit(w) * F.log(F.lit(a) + v)
        elif fn == "sigm":
            if "pivot" not in params or "exponent" not in params:
                raise ValueError("sigm needs pivot and exponent")
            pivot, ex = float(params["pivot"]), float(params["exponent"])
            sc = (
                F.lit(w)
                * F.pow(v, ex)
                / (F.pow(v, ex) + F.lit(float(pivot**ex)))
            )
        else:
            raise ValueError(f"unknown rank function {fn!r}")
        out = (
            engine.docs.select("doc_id", "url", sc.cast("double").alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
        )
        return out.select(
            F.row_number()
            .over(_W.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
            .alias("rank"),
            "doc_id",
            "url",
            "score",
        )

    if ptype == "maxscore":
        # MaxScoreQParserPlugin.java: classic grammar, but optional
        # (SHOULD) clauses combine as DisjunctionMax(tie) instead of
        # summing — engine.search(should_combine="max")
        return engine.search(
            rest,
            k=k,
            should_combine="max",
            tie=float(params.get("tie", 0.0)),
            **kw,
        )

    if ptype == "dismax":
        return engine.search(
            _dismax_tree(engine, rest, params),
            k=k,
            bf=_parse_func_boosts(params.get("bf")),
            **kw,
        )

    if ptype == "edismax":
        # edismax accepts dismax's additive bf AND the multiplicative
        # boost param (ExtendedDismaxQParser.java: boost -> BoostedQuery)
        return engine.search(
            _edismax_tree(engine, rest, params),
            k=k,
            bf=_parse_func_boosts(params.get("bf")),
            boost=_parse_func_boosts(params.get("boost")),
            **kw,
        )

    if ptype == "func":
        # FunctionQParserPlugin.java: every doc scores the function value
        # (FunctionQuery).  The function runs over the index docs-table
        # columns (doclen, norm_byte, doc_id, url) as one codegen'd
        # column expression; top-k via TakeOrderedAndProject.
        from pyspark.sql import functions as F

        from apache___solr_spark.functions.registry import parse_func_query

        score = parse_func_query(rest.strip()).cast("double").alias("score")
        out = (
            engine.docs.select("doc_id", "url", score)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
        )
        from pyspark.sql import Window

        return out.select(
            F.row_number()
            .over(Window.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
            .alias("rank"),
            "doc_id",
            "url",
            "score",
        )

    if ptype == "frange":
        # FunctionRangeQParserPlugin.java: docs whose function value lies
        # in [l, u] (incl/incu bounds), constant score 1 — a filter in
        # query form.  The predicate is a pure column expression.
        from pyspark.sql import functions as F

        from apache___solr_spark.functions.registry import parse_func_query

        val = parse_func_query(rest.strip()).cast("double")
        pred = F.lit(True)
        if "l" in params:
            lo = float(params["l"])
            pred = pred & (
                val >= lo if params.get("incl", "true") != "false" else val > lo
            )
        if "u" in params:
            hi = float(params["u"])
            pred = pred & (
                val <= hi if params.get("incu", "true") != "false" else val < hi
            )
        return (
            engine.docs.filter(pred)
            .select("doc_id", "url", F.lit(1.0).alias("score"))
            .orderBy("doc_id")
        )

    if ptype == "rerank":
        # ReRankQParserPlugin.java: first pass = rest, second pass =
        # reRankQuery (inline-quoted; $rqq indirection raises upstream),
        # combined as main + reRankWeight * rerank score over the top
        # reRankDocs only.
        from apache___solr_spark.query.extras import rerank as _rerank

        rq = params.get("reRankQuery")
        if not rq:
            raise ValueError("{!rerank} needs reRankQuery")
        return _rerank(
            engine,
            rest,
            rq.strip("\"'"),
            k=k,
            rerank_docs=int(params.get("reRankDocs", 200)),
            rerank_weight=float(params.get("reRankWeight", 2.0)),
        )

    if ptype == "switch":
        # SwitchQParserPlugin.java: the input value selects a case.N
        # sub-query; empty/whitespace input falls to case itself, no
        # match falls to default.
        key = rest.strip()
        sub = params.get(f"case.{key}") if key else params.get("case")
        if sub is None:
            sub = params.get("default")
        if sub is None:
            raise ValueError(f"{{!switch}} has no case for {key!r}")
        return dispatch_query(engine, sub, k=k, request=request, **kw)

    if ptype == "terms":
        # TermsQParserPlugin.java: {!terms f=field separator=","}A,B,C —
        # raw (un-analyzed) set filter, constant score, bucket-pruned scan
        _check_field(params)
        sep = params.get("separator", ",")
        return engine.terms_query(rest.split(sep), k=k, **kw)

    if ptype == "raw":
        # RawQParserPlugin.java: like {!term} — no analysis, no readable-
        # value conversion (identical here: terms are stored as analyzed
        # strings).
        _check_field(params)
        return engine.search(ParsedQuery(must=[rest]), k=k, **kw)

    if ptype == "complexphrase":
        # ComplexPhraseQParserPlugin.java: wildcards/fuzzy inside quoted
        # phrases; inOrder=false allows unordered spans.
        m = re.fullmatch(r'\s*"([^"]*)"(?:~(\d+))?\s*', rest)
        if not m:
            raise ValueError('{!complexphrase} needs a quoted "..." phrase')
        return engine.complex_phrase(
            m.group(1),
            slop=int(m.group(2) or 0),
            ordered=params.get("inOrder", "true") != "false",
            k=k,
            **kw,
        )

    if ptype == "mlt":
        # CloudMLTQParser (MLTQParserPlugin.java): rest is the source doc
        # id; mintf/mindf/maxqt tune term selection.  qf is accepted for
        # the single content field; other fields raise (one-field schema).
        qf = params.get("qf")
        if qf is not None and qf not in ("content", "text"):
            raise NotImplementedError(
                f"{{!mlt}} qf={qf!r}: only the content field is indexed"
            )
        from apache___solr_spark.query.extras import more_like_this

        return more_like_this(
            engine,
            doc_id=int(rest.strip()),
            k=k,
            max_query_terms=int(params.get("maxqt", 10)),
            min_doc_freq=int(params.get("mindf", 2)),
            min_term_freq=int(params.get("mintf", 2)),
        )

    if ptype == "knn" and "vectors_df" in kw:
        # KnnQParserPlugin.java: rest is the query-vector literal
        # "[v1, v2, ...]"; f names the vector field, topK the result
        # size.  Needs the embeddings table — pass vectors_df= (and
        # optionally id_col=) to dispatch; without it the table-shaped
        # pointer below explains where to go.
        from apache___solr_spark.pipeline.similarity import (
            cosine_topk_bruteforce,
        )

        vec = [float(x) for x in rest.strip().strip("[]").split(",")]
        return cosine_topk_bruteforce(
            kw["vectors_df"],
            vec,
            k=int(params.get("topK", k)),
            vec_col=params.get("f", "embedding"),
            id_col=kw.get("id_col", "vec_id"),
        )

    if ptype in ("parent", "child") and "blocks_df" in kw:
        # BlockJoinParent/ChildQParserPlugin over ONE table of blocks:
        # ``which``/``of`` is the SQL predicate identifying parents, the
        # rest the child/parent predicate; ``key``/``root`` name the
        # parent-key and _root_ columns (SURVEY.md §1.1 maps Lucene's
        # same-segment block adjacency to an explicit child->parent
        # pointer column).  Empty rest = "has at least one child" /
        # "parent matches all" (MatchAllDocs inner query).
        from pyspark.sql import functions as F

        from apache___solr_spark.operators.streams import (
            block_join_children,
            block_join_parent,
        )

        blocks = kw["blocks_df"]
        key = params.get("key", "id")
        root = params.get("root", "_root_")
        which = params["which"] if ptype == "parent" else params["of"]
        parents = blocks.filter(F.expr(which))
        children = blocks.filter(~F.expr(which))
        pred = F.expr(rest) if rest else F.lit(True)
        if ptype == "parent":
            if "score" in params and params["score"] != "none":
                # ToParentBlockJoinQuery ScoreMode (max/min/avg/total):
                # the parent's score is the aggregate of its MATCHING
                # children's scoreField values — the same shuffle shape
                # as {!join score=}, so reuse score_join
                from apache___solr_spark.operators.streams import score_join

                return score_join(
                    parents,
                    children.filter(pred),
                    key,
                    root,
                    params.get("scoreField", "score"),
                    mode={"total": "total", "sum": "total"}.get(
                        params["score"], params["score"]
                    ),
                )
            return block_join_parent(parents, children, key, root, pred)
        return block_join_children(parents, children, key, root, pred)

    if ptype == "graph" and "graph_df" in kw:
        # GraphQParserPlugin (search/join/GraphQuery.java): BFS from the
        # docs matching the seed predicate, following from->to edges up
        # to maxDepth (default: unlimited in the reference; 6 here — the
        # practical ceiling the reference's own tests use).
        from pyspark.sql import functions as F

        from apache___solr_spark.operators.graph import gather_nodes

        edges = kw["graph_df"]
        frm, to = params["from"], params["to"]
        hops = int(params.get("maxDepth", 6))
        seeds = edges.filter(F.expr(rest)).select(frm)
        return gather_nodes(edges, seeds, frm, to, hops=hops)

    if ptype in ("geofilt", "bbox") and "docs_df" in kw:
        # {!geofilt sfield=lat,lon pt=LAT,LON d=KM} — exact radius filter
        # (bbox prefilter + haversine); {!bbox} keeps only the sargable
        # bounding box (the reference's cheaper variant).  ``sfield``
        # names the two coordinate columns ("latcol,loncol"); score=
        # kilometers projects the distance (geodist sort key shape).
        from pyspark.sql import functions as F

        from apache___solr_spark.functions.spatial import (
            bbox_predicate,
            geodist,
            geofilt,
        )

        df = kw["docs_df"]
        lat_col, lon_col = (c.strip() for c in params["sfield"].split(","))
        lat, lon = (float(x) for x in params["pt"].split(","))
        d_km = float(params["d"])
        want_dist = params.get("score") == "kilometers"
        if ptype == "geofilt":
            return geofilt(
                df,
                lat_col,
                lon_col,
                lat,
                lon,
                d_km,
                dist_alias="score" if want_dist else None,
            )
        out = df.filter(bbox_predicate(lat_col, lon_col, lat, lon, d_km))
        if want_dist:
            out = out.withColumn("score", geodist(lat_col, lon_col, lat, lon))
        return out

    if ptype == "ltr" and "ltr_models" in kw:
        # LTRQParserPlugin {!ltr model=NAME reRankDocs=N}q: first pass =
        # the engine query, top reRankDocs rescored by the named model
        # (query/ltr.py LinearModel / MultipleAdditiveTrees), tail kept in
        # first-pass order.  ltr_models maps name -> {"features": {...},
        # "model": {...}}; feature columns may reference the first-pass
        # columns (score, url) and the docs-table columns (doclen, ...),
        # which are joined in for the rescore window.
        from apache___solr_spark.query.ltr import ltr_rerank

        spec = kw["ltr_models"][params["model"]]
        rerank_docs = int(params.get("reRankDocs", 200))
        first = engine.search(rest, k=max(k, rerank_docs), **{
            kk: vv for kk, vv in kw.items() if kk == "fq"
        })
        enriched = first.join(
            engine.docs.drop("url"), "doc_id", "left"
        )
        return ltr_rerank(
            enriched,
            spec["features"],
            spec["model"],
            rerank_docs=rerank_docs,
            k=k,
        )

    if ptype == "join" and (
        "fromIndex" not in params or "indexes" in kw
    ):
        # JoinQParserPlugin {!join from=F to=T [fromIndex=X]}inner_q:
        # semi-join — outer docs whose T value appears among the F values
        # of the inner query's matches; scores do NOT flow (constant
        # score, JoinQParserPlugin.java:36 — the scored variant is
        # operators.streams.score_join).  F/T are docs-table columns of
        # the inner/outer index; fromIndex names an engine passed via
        # indexes={name: SearchEngine}.
        from pyspark.sql import functions as F

        inner_eng = (
            kw["indexes"][params["fromIndex"]]
            if "fromIndex" in params
            else engine
        )
        frm, to = params["from"], params["to"]
        inner_ids = inner_eng.docset(rest)
        from_vals = (
            inner_eng.docs.join(inner_ids, "doc_id", "left_semi")
            .select(F.col(frm).alias(to))
            .distinct()
        )
        return (
            engine.docs.join(from_vals, to, "left_semi")
            .select("doc_id", "url", F.lit(1.0).alias("score"))
            .orderBy("doc_id")
        )

    if ptype == "fuzzy":
        # FuzzyQParserPlugin.java: one fuzzy term through the classic
        # grammar's ~maxEdits dictionary expansion + scoring
        _check_field(params)
        return engine.search(
            f"{rest}~{params.get('maxEdits', 2)}", k=k, **kw
        )

    if ptype == "hash":
        # HashQParserPlugin.java:42 (fq={!hash workers=11 worker=4
        # keys=f1,f2}): the parallel() partition filter — keep rows whose
        # key-hash lands on this worker.  The CONTRACT is stable disjoint
        # partitions covering everything; we hash with xxhash64 where the
        # reference uses murmur (documented divergence — all workers just
        # have to agree on the function).
        from pyspark.sql import functions as F

        workers = int(params["workers"])
        if workers < 2:
            raise ValueError("workers needs to be more than 1")
        worker = int(params.get("worker", 0))
        df = kw["docs_df"] if "docs_df" in kw else engine.docs
        keys = [
            F.col(c)
            for c in params["keys"].replace(" ", "").split(",")
            if c
        ]
        return df.filter(
            F.pmod(F.xxhash64(*keys), F.lit(workers)) == F.lit(worker)
        )

    if ptype == "hash_range":
        # join/HashRangeQParser.java (f/l/u): route-by-hash-range filter
        # (cross-collection join partitioning); same stable-hash contract
        # note as {!hash}, mapped onto a non-negative 31-bit space.
        from pyspark.sql import functions as F

        df = kw["docs_df"] if "docs_df" in kw else engine.docs
        h = F.pmod(F.xxhash64(F.col(params["f"])), F.lit(2**31))
        return df.filter(
            (h >= F.lit(int(params["l"]))) & (h <= F.lit(int(params["u"])))
        )

    if ptype == "graphTerms":
        # GraphTermsQParserPlugin: {!graphTerms f=text maxDocFreq=N}t1,t2
        # — a terms filter that SKIPS terms above the df cap (frontier
        # expansion without head-term blowup).  The df probe is one
        # dictionary lookup (the summed df of every segment), never a
        # corpus scan.
        _check_field(params)
        maxdf = int(params.get("maxDocFreq", 2**31 - 1))
        vals = [v for v in (x.strip() for x in rest.split(",")) if v]
        meta = engine._term_rows(sorted(set(vals)))
        kept = [
            t
            for t, df in zip(meta["term"].to_pylist(), meta["df"].to_pylist())
            if df <= maxdf
        ]
        return engine.terms_query(kept, k=k)

    if ptype == "vectorSimilarity" and "vectors_df" in kw:
        # vector/VectorSimilarityQParser.java: every vector whose cosine
        # similarity clears minReturn — a THRESHOLD query, not top-k
        # (minTraverse is an HNSW traversal knob; the exact scan has no
        # equivalent and ignores it).
        import numpy as _np
        from pyspark.sql import functions as F

        from apache___solr_spark.pipeline.similarity import _dot, _norm

        vec = [float(x) for x in rest.strip().strip("[]").split(",")]
        vcol = params.get("f", "embedding")
        idc = kw.get("id_col", "vec_id")
        q = F.array(*[F.lit(float(x)) for x in vec])
        qn = float(_np.sqrt(_np.dot(vec, vec)))
        cos = (
            _dot(F.col(vcol), q) / (_norm(F.col(vcol)) * F.lit(qn))
        ).alias("cosine")
        return (
            kw["vectors_df"]
            .select(F.col(idc), cos)
            .filter(F.col("cosine") >= float(params["minReturn"]))
            .orderBy(F.col("cosine").desc(), F.col(idc).asc())
        )

    if ptype == "numericRange" and "docs_df" in kw:
        # numericrange/NumericRangeQParserPlugin: relationship queries
        # against RANGE fields.  A Lucene range field stores [lo, hi] per
        # doc; here the field is two columns named "locol,hicol" (the
        # DataFrame encoding of the same pair).  criteria semantics follow
        # the plugin javadoc: intersects / within / contains / crosses
        # (crosses = intersects but not within).
        import re as _re

        from pyspark.sql import functions as F

        lo_c, hi_c = (c.strip() for c in params["field"].split(","))
        m = _re.fullmatch(r"\s*\[\s*(\S+)\s+TO\s+(\S+)\s*\]\s*", rest)
        if not m:
            raise ValueError("{!numericRange} needs [l TO u]")
        ql, qu = float(m.group(1)), float(m.group(2))
        lo, hi = F.col(lo_c).cast("double"), F.col(hi_c).cast("double")
        intersects = (lo <= F.lit(qu)) & (hi >= F.lit(ql))
        within = (lo >= F.lit(ql)) & (hi <= F.lit(qu))
        preds = {
            "intersects": intersects,
            "within": within,
            "contains": (lo <= F.lit(ql)) & (hi >= F.lit(qu)),
            "crosses": intersects & ~within,
        }
        crit = params.get("criteria", "intersects").strip("\"'")
        if crit not in preds:
            raise ValueError(f"unknown criteria {crit!r}")
        return kw["docs_df"].filter(preds[crit])

    if ptype in _TABLE_SHAPED:
        raise NotImplementedError(
            f"{{!{ptype}}} is table-shaped here — use {_TABLE_SHAPED[ptype]}"
        )
    if ptype in _UNSUPPORTED:
        raise NotImplementedError(
            f"{{!{ptype}}}: {_UNSUPPORTED[ptype]}"
        )
    raise NotImplementedError(f"unknown query parser {ptype!r}")
