"""Phrases identification — find & score likely phrases in a query string.

Reference: ``PhrasesIdentificationComponent.java`` (solr/core handler/
component, 1,234 lines): given ``phrases.q`` input, score every contiguous
word run as a candidate phrase from index statistics, then return the
non-overlapping best-scoring phrases plus a summary string with the chosen
phrases wrapped in ``pre``/``post`` markers.

The reference derives phrase stats from indexed SHINGLE fields (ttf/df of
the shingle terms) because that is what a Lucene index can answer cheaply;
its own TODO (PhrasesIdentificationComponent.java:529-535) notes the
alternative of building phrases from unigrams at query time.  This engine
stores positions (format v4), so we take that path and compute the EXACT
phrase statistics the shingle fields approximate: one query tree over the
query's distinct terms, one node per conjunction (an AND of doc-id leaves)
and per indexed multi-term span (an exact phrase leaf whose score is its
phrase frequency), evaluated by the engine's one kernel
(``engine.eval_tree``, placed by ``SearchEngine._evaluate``) — every
candidate span's ttf/df/conjunction-count in one postings read, whatever
the number of spans the input generates.

Scoring is the reference's Bayesian model verbatim
(PhrasesIdentificationComponent.java:1038-1186): per largest-indexed
sub-phrase ``words`` of each candidate,

    P(words|phrase)     = phrase_ttf / min(word_ttf)
    P(words|not phrase) = phrase_ttf / max(word_ttf)
    P(phrase)           = conj(candidate) / conj(words) - max wrapper df/conj

summed, scaled by 1/(1 + maxQuery - maxIndexed) and by
conj(candidate)/max_sub_conj, single analysis field (weight 1).  Overlap
resolution and the summary wrapping mirror
``scoreAndAddResultsToResponse`` (:266-323): greedy by descending score
over a position bitset.

Divergence (documented): our analysis chain removes stopwords WITHOUT
position gaps (IndexConfig.store_positions), so the reference's "gap"
disqualification (score -1 for candidates spanning a removed stopword)
cannot trigger; a stopword simply never appears as a token.
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from apache___solr_spark.analysis.tokenizer import _HAS_MARK, _WORD, _WORD_NOMARK
from apache___solr_spark.query.engine import _EMPTY, _PlanNode

__all__ = ["identify_phrases", "PhraseInfo"]



@dataclass
class PhraseInfo:
    """One candidate phrase (reference: Phrase inner class)."""

    text: str  # raw input subsequence (original casing/whitespace)
    toks: tuple[str, ...]  # analyzed terms
    start: int  # token position (post-filter index)
    end: int  # exclusive
    offset_start: int  # char offset into the raw input
    offset_end: int
    score: float = -1.0
    # stats (filled by the distributed pass)
    conj: int = 0
    ttf: int = 0
    df: int = 0
    field_scores: dict = field(default_factory=dict)

    @property
    def length(self) -> int:
        return self.end - self.start


def _tokens_with_offsets(eng, text: str) -> list[tuple[str, int, int]]:
    """(analyzed term, char start, char end) per surviving token, using the
    engine's own analyzer per raw token (the span-terms precedent,
    engine.py span_near).  Raw tokens that analyze to nothing (stopwords)
    vanish without a position gap; ones that analyze to >1 term keep the
    raw token's offsets for every produced term."""
    pat = (
        _WORD_NOMARK
        if text.isascii() or _HAS_MARK.search(text) is None
        else _WORD
    )
    out: list[tuple[str, int, int]] = []
    for m in pat.finditer(text):
        for t in eng._analyze(m.group(0)):
            out.append((t, m.start(), m.end()))
    return out


def _extract_spans(
    toks: list[tuple[str, int, int]],
    raw: str,
    max_indexed_len: int,
    max_query_len: int,
) -> list[PhraseInfo]:
    """All contiguous token spans up to ``max_query_len`` (reference
    extractPhrases — there the shingle analyzer emits them; here we
    enumerate unigram runs directly, its :529 TODO)."""
    spans: list[PhraseInfo] = []
    for i in range(len(toks)):
        for j in range(i + 1, min(i + max_query_len, len(toks)) + 1):
            seg = toks[i:j]
            spans.append(
                PhraseInfo(
                    text=raw[seg[0][1]: seg[-1][2]],
                    toks=tuple(t for t, _, _ in seg),
                    start=i,
                    end=j,
                    offset_start=seg[0][1],
                    offset_end=seg[-1][2],
                )
            )
    return spans


def _freq(weight, boost, tfs, dl):
    """A phrase leaf's score as its phrase frequency (the tf the BM25
    kernel would take)."""
    return tfs


def _node_totals(keep: np.ndarray | None = None) -> tuple:
    """A ``SearchEngine._evaluate`` output: every matching node's
    (path, docs, total) in one salt, its matched-doc count and score sum,
    over the docs ``keep`` only when given: at most one row per node and
    salt (significantTerms, phrase identification)."""
    schema = pa.schema(
        [("path", pa.string()), ("docs", pa.int64()), ("total", pa.float64())]
    )
    wanted = None if keep is None else np.unique(np.asarray(keep, dtype=np.int64))

    def run(res: dict) -> pa.Table:
        paths = list(res)
        node = np.repeat(np.arange(len(paths)), [d.size for d, _ in res.values()])
        sc = np.concatenate([np.empty(0), *(s for _, s in res.values())])
        if wanted is not None:
            d = np.concatenate([_EMPTY, *(d for d, _ in res.values())])
            # a kept mask over the salt's doc id range
            lo, hi = (int(d.min()), int(d.max()) + 1) if d.size else (0, 0)
            mask = np.zeros(hi - lo, dtype=bool)
            kept = wanted[np.searchsorted(wanted, lo) : np.searchsorted(wanted, hi)]
            mask[kept - lo] = True
            node, sc = node[mask[d - lo]], sc[mask[d - lo]]
        docs = np.bincount(node, minlength=len(paths))
        totals = np.bincount(node, weights=sc, minlength=len(paths))
        hit = np.flatnonzero(docs)
        return pa.table(
            [[paths[i] for i in hit], docs[hit], totals[hit]], schema=schema
        )

    return schema, run


def identify_phrases(
    eng,
    text: str,
    max_indexed_len: int = 3,
    max_query_len: int = 7,
    pre: str = "{",
    post: str = "}",
) -> dict:
    """Identify & score phrases in ``text`` against ``eng``'s index.

    Returns the reference's response shape as a plain dict:
    ``{"input", "summary", "details": [{"text", "offset_start",
    "offset_end", "score"}...]}`` — details sorted by descending score,
    restricted to positive-scoring phrases that don't overlap a
    higher-scoring one.
    """
    if max_query_len < max_indexed_len:
        raise ValueError("max_query_len must be >= max_indexed_len")
    if not eng.cfg.store_positions:
        raise NotImplementedError(
            "phrases identification needs positions "
            "(rebuild with store_positions=True)"
        )
    toks = _tokens_with_offsets(eng, text)
    terms = sorted({t for t, _, _ in toks})
    spans = _extract_spans(toks, text, max_indexed_len, max_query_len)
    if not spans or not terms:
        return {"input": text, "summary": text, "details": []}

    # multi-term indexed spans need exact phrase stats; dedupe by token
    # tuple (repeated runs share one stats slot)
    indexed_multi: list[tuple[str, ...]] = sorted(
        {
            s.toks
            for s in spans
            if 1 < s.length <= max_indexed_len
        }
    )
    conj_keys: list[frozenset] = sorted(
        {frozenset(s.toks) for s in spans},
        key=lambda ks: sorted(ks),
    )

    # ---- one evaluation: a node per conjunction and per indexed span --
    meta = eng._term_rows(terms)
    found = set(meta["term"].to_pylist())
    key_of: dict[str, tuple] = {}
    kids = []
    for ks in conj_keys:
        if ks <= found:
            path = str(len(kids))
            key_of[path] = ("conj", ks)
            if len(ks) == 1:
                kids.append(_PlanNode(path, "docs", tuple(ks)))
                continue
            must = tuple(
                ("MUST", _PlanNode(f"{path}.{j}", "docs", (t,)))
                for j, t in enumerate(sorted(ks))
            )
            kids.append(_PlanNode(path, "bool", children=must))
    for tk in indexed_multi:
        if set(tk) <= found:
            path = str(len(kids))
            key_of[path] = ("span", tk)
            kids.append(_PlanNode(path, "phrase", tk, window=True))
    stats: dict[tuple, tuple[int, int]] = {}
    if kids:
        root = _PlanNode("", "bool", children=tuple(("SHOULD", n) for n in kids))
        plan = dataclasses.replace(
            eng._tree_plan(root, dict.fromkeys(found, 0.0)), phrase_kernel=_freq
        )
        got = eng._evaluate(plan, meta, eng._driver_budget, out=_node_totals())
        got = got.group_by("path").aggregate([("docs", "sum"), ("total", "sum")])
        for path, docs, total in zip(
            *(got[c].to_pylist() for c in ("path", "docs_sum", "total_sum"))
        ):
            if path in key_of:
                stats[key_of[path]] = (int(docs), int(total))

    def conj_of(tkseq: tuple[str, ...]) -> int:
        return stats.get(("conj", frozenset(tkseq)), (0, 0))[0]

    def ttf_df_of(tkseq: tuple[str, ...]) -> tuple[int, int]:
        df, ttf = stats.get(("span", tkseq), (0, 0))
        return ttf, df

    # unigram ttf (= cf) from the dictionary
    term_ttf = dict(zip(meta["term"].to_pylist(), meta["cf"].to_pylist()))

    # ---- driver-side scoring (reference computeFieldScore) --------------
    span_at: dict[tuple[int, int], PhraseInfo] = {}
    for s in spans:
        s.conj = conj_of(s.toks)
        if 1 < s.length <= max_indexed_len:
            s.ttf, s.df = ttf_df_of(s.toks)
        span_at[(s.start, s.end)] = s

    def wrapper_max(words: PhraseInfo) -> float:
        """max over indexed phrases STRICTLY (positionally) containing
        ``words`` of df/conj — addLinkages' indexedSuperPhrases."""
        best = 0.0
        for s in spans:
            if (
                words.length < s.length <= max_indexed_len
                and s.start <= words.start
                and words.end <= s.end
                and s.conj > 0
            ):
                best = max(best, s.df / s.conj)
        return best

    for p in spans:
        if p.conj <= 0 or any(term_ttf.get(t, 0) <= 0 for t in p.toks):
            p.score = -1.0
            continue
        if p.length == 1:
            p.score = 0.0
            continue
        if p.length <= max_indexed_len:
            subs = [p]
        else:
            # the positional window objects within p (reference linkage:
            # largestIndexedSubPhrases are the actual input positions)
            subs = [
                span_at[(p.start + k, p.start + k + max_indexed_len)]
                for k in range(p.length - max_indexed_len + 1)
            ]
        score = 0.0
        max_sub_conj = p.conj
        dead = False
        for w in subs:
            w_ttf, _w_df = (w.ttf, w.df)
            w_conj = w.conj
            if w_conj <= 0:
                dead = True
                break
            max_sub_conj = max(max_sub_conj, w_conj)
            ttfs = [term_ttf[t] for t in w.toks]
            wrap = wrapper_max(w)
            words_phrase_prob = w_ttf / min(ttfs)
            words_not_phrase_prob = w_ttf / max(ttfs)
            phrase_prob = p.conj / w_conj
            phrase_score = words_phrase_prob * (phrase_prob - wrap)
            not_phrase_score = words_not_phrase_prob * (
                1 - (phrase_prob - wrap)
            )
            score += phrase_score - not_phrase_score
        if dead:
            p.score = -1.0
            continue
        score *= 1.0 / (1 + max_query_len - max_indexed_len)
        score *= p.conj / max_sub_conj
        p.score = score

    # ---- overlap resolution + summary (scoreAndAddResultsToResponse) ----
    max_pos = max(s.end for s in spans)
    chosen: list[PhraseInfo] = []
    covered = np.zeros(max_pos, dtype=bool)
    for p in sorted(
        (s for s in spans if s.score > 0.0), key=lambda s: -s.score
    ):
        if not covered[p.start: p.end].any():
            covered[p.start: p.end] = True
            chosen.append(p)
        if covered.all():
            break

    out_parts: list[str] = []
    cursor = 0
    for p in sorted(chosen, key=lambda s: s.offset_start):
        out_parts.append(text[cursor: p.offset_start])
        out_parts.append(pre + text[p.offset_start: p.offset_end] + post)
        cursor = p.offset_end
    out_parts.append(text[cursor:])
    return {
        "input": text,
        "summary": "".join(out_parts),
        "details": [
            {
                "text": p.text,
                "offset_start": p.offset_start,
                "offset_end": p.offset_end,
                "score": p.score,
            }
            for p in chosen
        ],
        # every candidate with its score (diagnostic surface beyond the
        # reference's response; the oracle tests compare on this)
        "all_phrases": [
            {"text": s.text, "start": s.start, "end": s.end, "score": s.score}
            for s in spans
        ],
    }
