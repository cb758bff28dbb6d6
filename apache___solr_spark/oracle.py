"""Single-process Python oracle: golden semantics for the distributed engine.

This is the analog of the reference's control-vs-distributed equivalence
testing (solr/test-framework/src/java/org/apache/solr/
BaseDistributedSearchTestCase.java:98,176: index the same docs into a
single-node control and an N-shard cluster, diff the responses).  The oracle
indexes and scores with plain dicts and loops — no Spark, no posting codec,
no blocks — and its output is the golden fixture the engine must match
rank-identically (BASELINE.json north_rule).

Analysis (extract_text/analyze) is intentionally the SAME code the engine's
UDFs call: the byte-identical-text invariant is about the distributed
runtime, not about having two tokenizers.  Indexing, stats, and BM25 scoring
are reimplemented here independently of the engine's numpy/codec path.
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass

import numpy as np

from apache___solr_spark.analysis.chain import analyze, extract_text
from apache___solr_spark.index.smallfloat import byte4_to_int, int_to_byte4
from apache___solr_spark.query.parser import ParsedQuery, parse_query


@dataclass
class OracleIndex:
    url_by_doc: list[str]
    doclen: list[int]
    norm_byte: list[int]
    postings: dict[str, dict[int, int]]  # term -> {doc_id: tf}
    n_docs: int
    avgdl: float
    # term -> {doc_id: [positions in the post-filter token stream]}
    positions: dict[str, dict[int, list[int]]] = None


def build_oracle_index(rows: list[dict]) -> OracleIndex:
    """rows: dicts with url, html (bytes|None), text (str|None)."""
    by_url: dict[str, list[str]] = {}
    for r in rows:
        by_url[r["url"]] = analyze(extract_text(r.get("html"), r.get("text")))
    urls = sorted(by_url)  # doc_id = global rank of url
    postings: dict[str, dict[int, int]] = {}
    positions: dict[str, dict[int, list[int]]] = {}
    doclen: list[int] = []
    norm_byte: list[int] = []
    total = 0
    for doc_id, url in enumerate(urls):
        toks = by_url[url]
        doclen.append(len(toks))
        norm_byte.append(int_to_byte4(len(toks)))
        total += len(toks)
        for term, tf in Counter(toks).items():
            postings.setdefault(term, {})[doc_id] = tf
        for i, term in enumerate(toks):
            positions.setdefault(term, {}).setdefault(doc_id, []).append(i)
    n = len(urls)
    return OracleIndex(
        url_by_doc=urls,
        doclen=doclen,
        norm_byte=norm_byte,
        postings=postings,
        n_docs=n,
        avgdl=(total / n) if n else 0.0,
        positions=positions,
    )


def _sim_term_weight(idx: OracleIndex, sim: str, t: str) -> float:
    """Scalar mirror of query/similarities.py weight() — recomputed here
    from the oracle's plain-dict stats (independent of the dictionary
    table the engine aggregates)."""
    plist = idx.postings[t]
    df = len(plist)
    if sim == "bm25":
        return float(
            np.float32(math.log(1.0 + (idx.n_docs - df + 0.5) / (df + 0.5)))
        )
    if sim == "classic":
        idf = np.float32(1.0 + math.log((idx.n_docs + 1) / (df + 1)))
        return float(idf * idf)
    if sim in ("lmdirichlet", "lmjelinekmercer"):
        cf = sum(plist.values())
        return float(cf) / float(sum(idx.doclen))
    if sim in ("dfr", "dfr_inl2"):
        return float(np.float32(math.log2((idx.n_docs + 1.0) / (df + 0.5))))
    if sim == "boolean":
        return 1.0
    if sim == "rawtf":
        return 1.0
    if sim.startswith("dfi"):
        cf = sum(plist.values())
        return (float(cf) + 1.0) / (float(sum(idx.doclen)) + 1.0)
    if sim.startswith("ib"):
        # ib_<dist>_<lambda>_<norm>
        parts = sim.split("_")
        lam_type = parts[2] if len(parts) > 2 else "df"
        num = df if lam_type == "df" else sum(plist.values())
        lam = (float(num) + 1.0) / (float(idx.n_docs) + 1.0)
        if len(parts) > 3 and parts[3] == "h3":
            cf = sum(plist.values())
            return (lam, (float(cf) + 1.0) / (float(sum(idx.doclen)) + 1.0))
        return lam
    if sim.startswith("sweetspot"):
        idf = np.float32(1.0 + math.log((idx.n_docs + 1) / (df + 1)))
        return float(idf * idf)
    raise NotImplementedError(f"oracle similarity {sim!r}")


def _sim_term_doc_score(
    sim: str,
    w: float,
    boost: float,
    tf: int,
    dl: np.float32,
    k1f: np.float32,
    one_minus_b: np.float32,
    bf: np.float32,
    avgdlf: np.float32,
    mu: float = 2000.0,
    lam: float = 0.7,
    ss_params: dict | None = None,
) -> np.float32:
    """Scalar float32 mirror of the engine's vectorized kernels."""
    ss_params = ss_params or {}
    tff = np.float32(tf)
    if sim == "bm25":
        idf = np.float32(float(w) * float(boost))
        cache = k1f * (one_minus_b + bf * dl / avgdlf)
        return idf * tff / (tff + cache)
    if sim == "classic":
        wf = np.float32(float(w) * float(boost))
        return wf * np.sqrt(tff) / np.sqrt(np.maximum(dl, np.float32(1.0)))
    if sim == "lmdirichlet":
        muf = np.float32(mu)
        p = np.float32(w)
        s = np.log1p(tff / (muf * p)) + np.log(muf / (dl + muf))
        return np.float32(boost) * np.maximum(
            np.float32(s), np.float32(0.0)
        )
    if sim == "lmjelinekmercer":
        ratio = np.float32((1.0 - lam) / lam)
        p = np.float32(w)
        return np.float32(boost) * np.float32(
            np.log1p(ratio * tff / (dl * p))
        )
    if sim in ("dfr", "dfr_inl2"):
        wf = np.float32(float(w) * float(boost))
        ln2 = np.float32(math.log(2.0))
        tfn = tff * np.float32(np.log1p(np.float32(1.0) * avgdlf / dl) / ln2)
        return wf * tfn / (np.float32(1.0) + tfn)
    if sim == "boolean":
        return np.float32(float(w) * float(boost))
    if sim == "rawtf":
        return np.float32(float(w) * float(boost)) * tff
    if sim.startswith("dfi"):
        measure = sim.split("_", 1)[1] if "_" in sim else "chisquared"
        expected = np.float32(w) * dl
        if tff <= expected:
            return np.float32(0.0)
        diff = tff - expected
        if measure == "chisquared":
            m = diff * diff / expected
        elif measure == "standardized":
            m = diff / np.sqrt(expected)
        else:
            m = diff / expected
        ln2 = np.float32(math.log(2.0))
        return np.float32(boost) * np.float32(
            np.log1p(np.maximum(m, 0)) / ln2
        )
    if sim.startswith("ib"):
        parts = sim.split("_")
        dist = parts[1] if len(parts) > 1 else "ll"
        norm = parts[3] if len(parts) > 3 else "h2"
        ln2 = np.float32(math.log(2.0))
        one = np.float32(1.0)
        if norm == "h3":
            lamf, p = np.float32(w[0]), np.float32(w[1])
            muf = np.float32(800.0)
            tfn = (tff + muf * p) / (dl + muf) * muf
        elif norm == "h1":
            tfn = one * tff * avgdlf / dl
        elif norm == "h2":
            tfn = tff * np.float32(np.log1p(one * avgdlf / dl) / ln2)
        elif norm == "z":
            tfn = tff * np.float32(np.power(avgdlf / dl, np.float32(0.30)))
        else:
            tfn = tff
        if norm != "h3":
            lamf = np.float32(w)
        if dist == "ll":
            s = np.float32(np.log1p(tfn / lamf) / ln2)
        else:
            ratio = (np.power(lamf, tfn / (tfn + one)) - lamf) / (one - lamf)
            s = np.float32(
                -np.log(np.maximum(ratio, np.finfo(np.float32).tiny)) / ln2
            )
        return np.float32(boost) * s
    if sim.startswith("sweetspot"):
        lo = np.float32(ss_params.get("ln_min", 1))
        hi = np.float32(ss_params.get("ln_max", 1))
        steep = np.float32(ss_params.get("steepness", 0.5))
        base = np.float32(ss_params.get("tf_base", 0.0))
        tfmin = np.float32(ss_params.get("tf_min", 0.0))
        wf = np.float32(float(w) * float(boost))
        if ss_params.get("tf_mode") == "hyperbolic":
            hmin = np.float32(ss_params.get("hyper_min", 0.0))
            hmax = np.float32(ss_params.get("hyper_max", 2.0))
            lnb = np.float32(math.log(ss_params.get("hyper_base", 1.3)))
            xoff = np.float32(ss_params.get("hyper_xoffset", 10.0))
            tfp = (
                np.float32(0.0)
                if tff == 0
                else np.float32(
                    hmin
                    + (hmax - hmin)
                    / np.float32(2.0)
                    * (np.tanh((tff - xoff) * lnb) + np.float32(1.0))
                )
            )
        else:
            tfp = (
                base
                if tff <= tfmin
                else np.float32(
                    np.sqrt(max(np.float32(tff + base * base - tfmin), 0.0))
                )
            )
        ln = np.float32(1.0) / np.float32(
            np.sqrt(
                steep * (np.abs(dl - lo) + np.abs(dl - hi) - (hi - lo))
                + np.float32(1.0)
            )
        )
        return wf * np.float32(tfp) * ln
    raise NotImplementedError(f"oracle similarity {sim!r}")


def oracle_search(
    idx: OracleIndex,
    query: str | ParsedQuery,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    similarity: str = "bm25",
    sim_params: dict | None = None,
) -> list[dict]:
    """Similarity top-k with the exact arithmetic the engine uses:
    per-term float32 score via quantized doc length, float64 accumulation,
    final float32; ties broken by doc_id asc.  ``similarity`` mirrors the
    engine's pluggable factories (bm25 default; classic, lmdirichlet,
    lmjelinekmercer, boolean score term clauses only — phrases raise,
    matching the engine)."""
    pq = parse_query(query) if isinstance(query, str) else query
    terms = [t for t in pq.scoring_terms if t in idx.postings]
    phrases = [
        ph for ph in pq.scoring_phrases if all(t in idx.postings for t in ph)
    ]
    if pq.must and any(t not in idx.postings for t in pq.must):
        return []
    if any(any(t not in idx.postings for t in ph) for ph in pq.must_phrases):
        return []
    must = set(t for t in pq.must if t in idx.postings)
    excluded: set[int] = set()
    for t in pq.must_not:
        excluded.update(idx.postings.get(t, {}).keys())
    exp_groups = []
    for cl in pq.expand:
        matched = _expand_oracle(
            idx, cl, max_expansions=None if cl.occur == "MUST_NOT" else 128
        )
        if cl.occur == "MUST_NOT":
            for t in matched:
                excluded.update(idx.postings[t].keys())
            continue
        if not matched:
            if cl.occur == "MUST":
                return []
            continue
        exp_groups.append((cl.occur, matched, cl.boost))
    if not terms and not phrases and not exp_groups:
        return []
    for ph in pq.must_not_phrases:
        if all(t in idx.postings for t in ph):
            sl = pq.slops.get('"' + " ".join(ph) + '"', 0)
            excluded.update(
                d
                for d in _phrase_candidates(idx, ph)
                if _classic_pf(idx, ph, d, slop=sl) > 0
            )

    if similarity != "bm25" and (
        phrases or pq.must_phrases or pq.must_not_phrases
    ):
        raise NotImplementedError(
            f"similarity {similarity!r} scores term queries only"
        )
    k1f = np.float32(k1)
    one_minus_b = np.float32(1.0 - b)
    bf = np.float32(b)
    avgdlf = np.float32(idx.avgdl)

    acc: dict[int, float] = {}
    nmust: dict[int, int] = {}
    for t in terms:
        plist = idx.postings[t]
        w = _sim_term_weight(idx, similarity, t)
        bst = float(pq.boosts.get(t, 1.0))
        for doc_id, tf in plist.items():
            dl = np.float32(byte4_to_int(idx.norm_byte[doc_id]))
            s = _sim_term_doc_score(
                similarity, w, bst, tf, dl, k1f, one_minus_b, bf, avgdlf,
                ss_params=sim_params,
            )
            acc[doc_id] = acc.get(doc_id, 0.0) + float(s)  # f64 accumulation
            if t in must:
                nmust[doc_id] = nmust.get(doc_id, 0) + 1

    for occ, matched, boost in exp_groups:
        group_docs: set[int] = set()
        for t in matched:
            plist = idx.postings[t]
            w = _sim_term_weight(idx, similarity, t)
            for doc_id, tf in plist.items():
                dl = np.float32(byte4_to_int(idx.norm_byte[doc_id]))
                s = _sim_term_doc_score(
                    similarity,
                    w,
                    float(boost),
                    tf,
                    dl,
                    k1f,
                    one_minus_b,
                    bf,
                    avgdlf,
                    ss_params=sim_params,
                )
                acc[doc_id] = acc.get(doc_id, 0.0) + float(s)
                group_docs.add(doc_id)
        if occ == "MUST":
            for d in group_docs:
                nmust[d] = nmust.get(d, 0) + 1

    n_must_clauses = (
        len(must)
        + len(pq.must_phrases)
        + sum(1 for occ, _m, _b in exp_groups if occ == "MUST")
    )
    for ph in phrases:
        idf_sum = 0.0
        for t in ph:
            df = len(idx.postings[t])
            idf_sum += float(
                np.float32(math.log(1.0 + (idx.n_docs - df + 0.5) / (df + 0.5)))
            )
        label = '"' + " ".join(ph) + '"'
        idf = np.float32(idf_sum * float(pq.boosts.get(label, 1.0)))
        is_must = ph in pq.must_phrases
        for doc_id in _phrase_candidates(idx, ph):
            pf = _classic_pf(idx, ph, doc_id, slop=pq.slops.get(label, 0))
            if pf <= 0:
                continue
            dl = np.float32(byte4_to_int(idx.norm_byte[doc_id]))
            cache = k1f * (one_minus_b + bf * dl / avgdlf)
            pff = np.float32(pf)
            s = idf * pff / (pff + cache)
            acc[doc_id] = acc.get(doc_id, 0.0) + float(s)
            if is_must:
                nmust[doc_id] = nmust.get(doc_id, 0) + 1

    hits = []
    for doc_id, s in acc.items():
        if doc_id in excluded:
            continue
        if n_must_clauses and nmust.get(doc_id, 0) != n_must_clauses:
            continue
        hits.append((np.float32(s), doc_id))
    hits.sort(key=lambda x: (-float(x[0]), x[1]))
    return [
        {
            "rank": i + 1,
            "doc_id": doc_id,
            "url": idx.url_by_doc[doc_id],
            "score": float(s),
        }
        for i, (s, doc_id) in enumerate(hits[:k])
    ]


def _phrase_candidates(idx: OracleIndex, ph: list[str]) -> set[int]:
    docs = set(idx.postings[ph[0]].keys())
    for t in ph[1:]:
        docs &= set(idx.postings[t].keys())
    return docs


def _span_freq_unordered(
    idx: OracleIndex, toks: list[str], doc_id: int, bound: int
) -> int:
    """Unordered span frequency per the engine's spec: the number of
    DISTINCT minimal-window ends, where each occurrence position s is a
    candidate start whose minimal cover ends at max over terms of the
    first occurrence >= s; a window matches iff its span <= bound.
    Straight per-doc bisect loop — deliberately a different algorithm
    from the engine's batched searchsorted matcher."""
    import bisect

    plists = {t: idx.positions[t][doc_id] for t in toks}
    merged = sorted(p for pl in plists.values() for p in pl)
    ends: set[int] = set()
    for s in merged:
        end = s
        ok = True
        for t in toks:
            pl = plists[t]
            j = bisect.bisect_left(pl, s)
            if j >= len(pl):
                ok = False
                break
            end = max(end, pl[j])
        if ok and end - s <= bound:
            ends.add(end)
    return len(ends)


def oracle_span_near(
    idx: OracleIndex,
    words: list[str],
    dist: int = 1,
    ordered: bool = True,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> list[dict]:
    """Control result for SearchEngine.span_near: BM25 with tf = span
    frequency (ordered chain / unordered minimal-window) and idf = summed
    constituent idfs, same float32 arithmetic as oracle_search."""
    toks: list[str] = []
    for w in words:
        toks.extend(analyze(w))
    if not ordered:
        toks = sorted(set(toks))
    if not toks or any(t not in idx.postings for t in toks):
        return []
    uniq = sorted(set(toks))
    idf_sum = 0.0
    for t in toks:
        df = len(idx.postings[t])
        idf_sum += float(
            np.float32(math.log(1.0 + (idx.n_docs - df + 0.5) / (df + 0.5)))
        )
    idf = np.float32(idf_sum)
    k1f = np.float32(k1)
    one_minus_b = np.float32(1.0 - b)
    bf = np.float32(b)
    avgdlf = np.float32(idx.avgdl)
    bound = (len(toks) if ordered else len(uniq)) - 1 + (dist - 1)
    hits = []
    for doc_id in _phrase_candidates(idx, uniq):
        if ordered:
            sf = _pf(idx, toks, doc_id, slop=dist - 1)
        else:
            sf = _span_freq_unordered(idx, uniq, doc_id, bound)
        if sf == 0:
            continue
        dl = np.float32(byte4_to_int(idx.norm_byte[doc_id]))
        cache = k1f * (one_minus_b + bf * dl / avgdlf)
        sff = np.float32(sf)
        hits.append((np.float32(idf * sff / (sff + cache)), doc_id))
    hits.sort(key=lambda x: (-float(x[0]), x[1]))
    return [
        {
            "rank": i + 1,
            "doc_id": doc_id,
            "url": idx.url_by_doc[doc_id],
            "score": float(s),
        }
        for i, (s, doc_id) in enumerate(hits[:k])
    ]


def _sloppy_pf(
    idx: OracleIndex, ph: list[str], doc_id: int, slop: int
) -> float:
    """Independent SloppyPhraseMatcher twin (classic sloppy phrases,
    lucene/core/.../search/SloppyPhraseMatcher.java): explicit min-scan
    state machine written separately from the engine's heap-based
    query/sloppy.py.  Pointers carry ADJUSTED positions raw - offset;
    the minimal pointer advances until it would overtake the runner-up,
    the minimized window [min, end] checks against the slop, and each
    match weighs 1/(1+matchLength) into the fractional phrase freq.
    Repeated terms hold distinct raw positions (collision -> advance)."""
    n = len(ph)
    lists = [list(idx.positions[t][doc_id]) for t in ph]
    if n == 1:
        return float(len(lists[0]))
    group_of: dict[str, int] = {}
    groups = [group_of.setdefault(t, len(group_of)) for t in ph]
    rpts = len(group_of) < n

    ptr = [0] * n
    if rpts:
        used: dict[int, int] = {}
        for i in range(n):
            ptr[i] = used.get(groups[i], -1) + 1
            if ptr[i] >= len(lists[i]):
                return 0.0
            used[groups[i]] = ptr[i]
    cur = [lists[i][ptr[i]] - i for i in range(n)]
    end = max(cur)

    def step(i: int) -> bool:
        """Advance pointer i (skipping group-sibling collisions)."""
        nonlocal end
        while True:
            ptr[i] += 1
            if ptr[i] >= len(lists[i]):
                return False
            raw = lists[i][ptr[i]]
            if rpts and any(
                k != i
                and groups[k] == groups[i]
                and ptr[k] < len(lists[k])
                and lists[k][ptr[k]] == raw
                for k in range(n)
            ):
                continue
            break
        cur[i] = raw - i
        end = max(end, cur[i])
        return True

    def pick_min(exclude: int = -1) -> int:
        """Smallest (position, offset) among live pointers != exclude."""
        best = -1
        for i in range(n):
            if i == exclude:
                continue
            if best < 0 or (cur[i], i) < (cur[best], best):
                best = i
        return best

    freq = 0.0
    m = pick_min()
    ml = end - cur[m]
    while True:
        runner = cur[pick_min(exclude=m)]
        if not step(m):
            if ml <= slop:
                freq += 1.0 / (1.0 + ml)
            return freq
        if cur[m] > runner:
            if ml <= slop:
                freq += 1.0 / (1.0 + ml)
            m = pick_min()
            ml = end - cur[m]
        else:
            ml = min(ml, end - cur[m])


def _classic_pf(
    idx: OracleIndex, ph: list[str], doc_id: int, slop: int = 0
) -> float:
    """Classic-parser phrase freq: exact adjacency count when slop=0,
    Lucene sloppyFreq (fractional) when slop>0."""
    if slop > 0 and len(ph) > 1:
        return _sloppy_pf(idx, ph, doc_id, slop)
    return float(_pf(idx, ph, doc_id, slop=slop))


def _pf(idx: OracleIndex, ph: list[str], doc_id: int, slop: int = 0) -> int:
    """Phrase frequency in the post-filter token stream: the number of
    first-term positions starting an increasing position chain whose span is
    <= len(ph)-1+slop (slop=0: exact adjacency).  Greedy smallest-next per
    start mirrors the engine's matcher exactly."""
    import bisect

    bound = len(ph) - 1 + slop
    pf = 0
    for p0 in idx.positions[ph[0]][doc_id]:
        cur = p0
        ok = True
        for t in ph[1:]:
            plist = idx.positions[t][doc_id]
            j = bisect.bisect_right(plist, cur)
            if j >= len(plist):
                ok = False
                break
            cur = plist[j]
        if ok and cur - p0 <= bound:
            pf += 1
    return pf


def oracle_search_tree(
    idx: OracleIndex,
    query,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> list[dict]:
    """Recursive BooleanQuery-tree oracle (golden semantics for
    SearchEngine._search_tree): each node yields {doc_id: score} over its
    MATCHING docs; a boolean node sums matching positive children, requires
    every MUST child, and removes MUST_NOT children's docs.  Same BM25
    arithmetic as oracle_search (float32 per-term, float64 accumulation)."""
    from apache___solr_spark.query.parser import (
        BoolQuery,
        Clause,
        PhraseNode,
        TermNode,
        parse_query_tree,
    )

    tree = parse_query_tree(query) if isinstance(query, str) else query
    k1f = np.float32(k1)
    one_minus_b = np.float32(1.0 - b)
    bf = np.float32(b)
    avgdlf = np.float32(idx.avgdl)

    def term_scores(t: str, boost: float) -> dict[int, float]:
        plist = idx.postings[t]
        df = len(plist)
        idf = np.float32(
            float(np.float32(math.log(1.0 + (idx.n_docs - df + 0.5) / (df + 0.5))))
            * float(boost)
        )
        out: dict[int, float] = {}
        for doc_id, tf in plist.items():
            dl = np.float32(byte4_to_int(idx.norm_byte[doc_id]))
            cache = k1f * (one_minus_b + bf * dl / avgdlf)
            tff = np.float32(tf)
            out[doc_id] = float(idf * tff / (tff + cache))
        return out

    def ev(node, occur: str) -> dict[int, float] | None:
        if isinstance(node, TermNode):
            if node.term not in idx.postings:
                return None
            return term_scores(node.term, node.boost)
        if isinstance(node, PhraseNode):
            if any(t not in idx.postings for t in node.toks):
                return None
            idf_sum = 0.0
            for t in node.toks:
                df = len(idx.postings[t])
                idf_sum += float(
                    np.float32(
                        math.log(1.0 + (idx.n_docs - df + 0.5) / (df + 0.5))
                    )
                )
            idf = np.float32(idf_sum * float(node.boost))
            out: dict[int, float] = {}
            for doc_id in _phrase_candidates(idx, node.toks):
                pf = (
                    float(_pf(idx, node.toks, doc_id, slop=node.slop))
                    if node.window  # span-derived: ordered-window
                    else _classic_pf(idx, node.toks, doc_id, slop=node.slop)
                )
                if pf <= 0:
                    continue
                dl = np.float32(byte4_to_int(idx.norm_byte[doc_id]))
                cache = k1f * (one_minus_b + bf * dl / avgdlf)
                pff = np.float32(pf)
                out[doc_id] = float(idf * pff / (pff + cache))
            return out or None
        if isinstance(node, Clause):
            matched = _expand_oracle(
                idx, node, max_expansions=None if occur == "MUST_NOT" else 128
            )
            if not matched:
                return None
            out = {}
            for t in matched:
                for doc_id, s in term_scores(t, node.boost).items():
                    out[doc_id] = out.get(doc_id, 0.0) + s
            return out
        # BoolQuery
        acc: dict[int, float] = {}
        nmust: dict[int, int] = {}
        nshould: dict[int, int] = {}
        n_must = 0
        n_should_matchable = 0
        not_sets: list[set[int]] = []
        any_pos = False
        for c in node.children:
            fr = ev(c.node, c.occur)
            if c.occur == "MUST_NOT":
                if fr is not None:
                    not_sets.append(set(fr))
                continue
            if c.occur == "MUST":
                if fr is None:
                    return None
                n_must += 1
            if fr is None:
                continue
            any_pos = True
            if c.occur != "MUST":
                n_should_matchable += 1
            for doc_id, s in fr.items():
                acc[doc_id] = acc.get(doc_id, 0.0) + s
                if c.occur == "MUST":
                    nmust[doc_id] = nmust.get(doc_id, 0) + 1
                else:
                    nshould[doc_id] = nshould.get(doc_id, 0) + 1
        if not any_pos:
            return None
        mm = getattr(node, "mm", 0)
        if mm and mm > n_should_matchable:
            return None  # Lucene: mm > optional clauses matches nothing
        out = {}
        for doc_id, s in acc.items():
            if n_must and nmust.get(doc_id, 0) != n_must:
                continue
            if mm and nshould.get(doc_id, 0) < mm:
                continue
            if any(doc_id in ns for ns in not_sets):
                continue
            out[doc_id] = s * float(node.boost)
        return out or None

    res = ev(tree, "SHOULD")
    if not res:
        return []
    hits = sorted(
        ((np.float32(s), d) for d, s in res.items()),
        key=lambda x: (-float(x[0]), x[1]),
    )
    return [
        {
            "rank": i + 1,
            "doc_id": d,
            "url": idx.url_by_doc[d],
            "score": float(s),
        }
        for i, (s, d) in enumerate(hits[:k])
    ]


def _levenshtein(a: str, b: str) -> int:
    if a == b:
        return 0
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _expand_oracle(
    idx: OracleIndex, cl, max_expansions: int | None = 128
) -> list[str]:
    """Mirror of SearchEngine._expand_rows' terms over the oracle's dict."""
    import re as _re

    terms = idx.postings.keys()
    if cl.kind == "group":
        return [t for t in (cl.terms or []) if t in idx.postings]
    if cl.kind == "prefix":
        m = [t for t in terms if t.startswith(cl.value[:-1])]
    elif cl.kind == "wildcard":
        rx = _re.compile(
            "^"
            + "".join(
                ".*" if c == "*" else "." if c == "?" else _re.escape(c)
                for c in cl.value
            )
            + "$"
        )
        m = [t for t in terms if rx.match(t)]
    elif cl.kind == "fuzzy":
        if cl.fuzz <= 0:
            return [cl.value] if cl.value in idx.postings else []
        m = [
            t
            for t in terms
            if abs(len(t) - len(cl.value)) <= cl.fuzz
            and _levenshtein(t, cl.value) <= cl.fuzz
        ]
    elif cl.kind == "range":
        m = [
            t
            for t in terms
            if (
                cl.lo is None
                or (t >= cl.lo if cl.inclusive else t > cl.lo)
            )
            and (
                cl.hi is None
                or (t <= cl.hi if cl.inclusive else t < cl.hi)
            )
        ]
    else:
        raise ValueError(cl.kind)
    m.sort(key=lambda t: (-len(idx.postings[t]), t))
    return m if max_expansions is None else m[:max_expansions]


def oracle_complex_phrase(
    idx: OracleIndex,
    slots: list[tuple],
    slop: int = 0,
    ordered: bool = True,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> list[dict]:
    """Control result for SearchEngine.complex_phrase: each slot is a term
    SET (the wildcard's expansions); ordered = greedy increasing chain
    choosing the earliest member-of-next-slot position, unordered =
    distinct minimal-window ends over per-slot merged lists; BM25 with
    tf = span frequency, idf = sum over every slot member's idf.
    Per-doc bisect loops — deliberately a different algorithm from the
    engine's batched matcher."""
    import bisect

    members = [t for s in slots for t in s]
    if not slots or any(
        all(t not in idx.postings for t in s) for s in slots
    ):
        return []
    present = [tuple(t for t in s if t in idx.postings) for s in slots]
    idf_sum = 0.0
    for t in [t for s in present for t in s]:
        df = len(idx.postings[t])
        idf_sum += float(
            np.float32(math.log(1.0 + (idx.n_docs - df + 0.5) / (df + 0.5)))
        )
    idf = np.float32(idf_sum)
    k1f = np.float32(k1)
    one_minus_b = np.float32(1.0 - b)
    bf = np.float32(b)
    avgdlf = np.float32(idx.avgdl)
    bound = len(present) - 1 + slop

    # candidates: docs holding >=1 member of EVERY slot
    docs: set[int] | None = None
    for s in present:
        cover = set()
        for t in s:
            cover |= set(idx.postings[t].keys())
        docs = cover if docs is None else docs & cover
    hits = []
    for doc_id in sorted(docs or ()):
        slot_pl = []
        empty = False
        for s in present:
            pl = sorted(
                p
                for t in s
                if doc_id in idx.positions[t]
                for p in idx.positions[t][doc_id]
            )
            if not pl:
                empty = True
                break
            slot_pl.append(pl)
        if empty:
            continue
        if ordered:
            sf = 0
            for p0 in slot_pl[0]:
                cur, ok = p0, True
                for pl in slot_pl[1:]:
                    j = bisect.bisect_right(pl, cur)
                    if j >= len(pl):
                        ok = False
                        break
                    cur = pl[j]
                if ok and cur - p0 <= bound:
                    sf += 1
        else:
            merged = sorted(p for pl in slot_pl for p in pl)
            ends: set[int] = set()
            for st in merged:
                end, ok = st, True
                for pl in slot_pl:
                    j = bisect.bisect_left(pl, st)
                    if j >= len(pl):
                        ok = False
                        break
                    end = max(end, pl[j])
                if ok and end - st <= bound:
                    ends.add(end)
            sf = len(ends)
        if sf == 0:
            continue
        dl = np.float32(byte4_to_int(idx.norm_byte[doc_id]))
        cache = k1f * (one_minus_b + bf * dl / avgdlf)
        sff = np.float32(sf)
        hits.append((np.float32(idf * sff / (sff + cache)), doc_id))
    hits.sort(key=lambda x: (-float(x[0]), x[1]))
    return [
        {
            "rank": i + 1,
            "doc_id": doc_id,
            "url": idx.url_by_doc[doc_id],
            "score": float(s),
        }
        for i, (s, doc_id) in enumerate(hits[:k])
    ]


def _tree_matches_brute(node, pos_by_slot) -> set[tuple[int, int]]:
    """All (start, end) matches of a slot-level span tree by EXHAUSTIVE
    enumeration (itertools.product over child matches) — deliberately a
    different algorithm from the engine's DP combiner (query/spans.py).
    Semantics: near(dist, ordered) picks one interval per child,
    pairwise non-overlapping in the (chosen or sorted) order with
    sum-of-gaps <= dist-1; seq = adjacency (gap 0, ordered)."""
    import itertools

    kind = node[0]
    if kind == "slot":
        return {(p, p + 1) for p in pos_by_slot.get(node[1], ())}
    if kind == "seq":
        children, dist, ordered = node[1], 1, True
    else:
        _, dist, ordered, children = node
    child_sets = [sorted(_tree_matches_brute(c, pos_by_slot)) for c in children]
    out: set[tuple[int, int]] = set()
    for combo in itertools.product(*child_sets):
        arr = list(combo) if ordered else sorted(combo)
        gaps = 0
        ok = True
        for (s1, e1), (s2, e2) in zip(arr, arr[1:]):
            if s2 < e1:
                ok = False
                break
            gaps += s2 - e1
        if ok and gaps <= dist - 1:
            out.add((arr[0][0], arr[-1][1]))
    return out


def oracle_span_tree(
    idx: OracleIndex,
    slot_tree,
    slots: list[tuple[str, ...]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> list[dict]:
    """Control result for SearchEngine.span_tree: tf = the root's span
    frequency (distinct match starts when the root is ordered or a
    seq/slot; distinct MINIMAL ends — min end per start, then distinct —
    when unordered), idf = summed idfs of every slot member, same
    float32 arithmetic as oracle_search.  ``slots`` carries the
    already-resolved member term-sets; ``slot_tree`` refers to them by
    index."""
    members = [t for s in slots for t in s]
    if any(
        not s or any(t not in idx.postings for t in s) for s in slots
    ):
        # mirror the engine: slot members absent from the dictionary are
        # dropped there; here the caller resolves against the same index,
        # so just drop missing members and fail empty slots
        slots = [tuple(t for t in s if t in idx.postings) for s in slots]
        if any(not s for s in slots):
            return []
        members = [t for s in slots for t in s]
    idf_sum = 0.0
    for t in members:
        df = len(idx.postings[t])
        idf_sum += float(
            np.float32(math.log(1.0 + (idx.n_docs - df + 0.5) / (df + 0.5)))
        )
    idf = np.float32(idf_sum)
    k1f = np.float32(k1)
    one_minus_b = np.float32(1.0 - b)
    bf = np.float32(b)
    avgdlf = np.float32(idx.avgdl)
    cands: set[int] | None = None
    for s in slots:
        docs = set()
        for t in s:
            docs.update(idx.postings[t])
        cands = docs if cands is None else (cands & docs)
    root_unordered = slot_tree[0] == "near" and not slot_tree[2]
    hits = []
    for doc_id in sorted(cands or ()):
        pos_by_slot = {
            i: sorted(
                p
                for t in s
                for p in idx.positions[t].get(doc_id, ())
            )
            for i, s in enumerate(slots)
        }
        m = _tree_matches_brute(slot_tree, pos_by_slot)
        if root_unordered:
            emin: dict[int, int] = {}
            for s, e in m:
                if s not in emin or e < emin[s]:
                    emin[s] = e
            sf = len(set(emin.values()))
        else:
            sf = len({s for s, _ in m})
        if sf == 0:
            continue
        dl = np.float32(byte4_to_int(idx.norm_byte[doc_id]))
        cache = k1f * (one_minus_b + bf * dl / avgdlf)
        sff = np.float32(sf)
        hits.append((np.float32(idf * sff / (sff + cache)), doc_id))
    hits.sort(key=lambda x: (-float(x[0]), x[1]))
    return [
        {
            "rank": i + 1,
            "doc_id": doc_id,
            "url": idx.url_by_doc[doc_id],
            "score": float(s),
        }
        for i, (s, doc_id) in enumerate(hits[:k])
    ]
