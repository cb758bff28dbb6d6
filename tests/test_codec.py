import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from apache___solr_spark.index.codec import (
    decode_vbyte,
    delta_decode,
    delta_encode,
    encode_vbyte,
)
from apache___solr_spark.index.smallfloat import (
    NORM_TABLE,
    byte4_to_int,
    decode_norms,
    int_to_byte4,
    int_to_byte4_np,
)


@given(st.lists(st.integers(min_value=0, max_value=2**56 - 1), max_size=2000))
@settings(max_examples=200, deadline=None)
def test_vbyte_roundtrip(xs):
    v = np.array(xs, dtype=np.uint64)
    assert (decode_vbyte(encode_vbyte(v), len(v)) == v).all()


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=500),
    st.data(),
)
@settings(max_examples=100, deadline=None)
def test_vbyte_slices_match_per_group_encode(xs, data):
    from apache___solr_spark.index.codec import encode_vbyte_slices

    v = np.array(xs, dtype=np.uint64)
    n_groups = data.draw(st.integers(min_value=1, max_value=min(10, len(xs))))
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(min_value=1, max_value=len(xs) - 1),
                max_size=n_groups - 1,
                unique=True,
            )
        )
    ) if len(xs) > 1 else []
    starts = np.array([0] + cuts, dtype=np.int64)
    ends = np.append(starts[1:], len(xs))
    got = encode_vbyte_slices(v, starts)
    want = [encode_vbyte(v[s:e]) for s, e in zip(starts, ends)]
    assert got == want


def test_vbyte_empty():
    assert decode_vbyte(b"").size == 0
    assert encode_vbyte(np.array([], dtype=np.uint64)) == b""


def test_vbyte_sizes():
    # 7-bit values take 1 byte, 14-bit take 2, ...
    assert len(encode_vbyte(np.array([127], dtype=np.uint64))) == 1
    assert len(encode_vbyte(np.array([128], dtype=np.uint64))) == 2
    assert len(encode_vbyte(np.array([2**21 - 1], dtype=np.uint64))) == 3


@given(
    st.lists(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=500),
    st.integers(min_value=0, max_value=100),
)
@settings(max_examples=100, deadline=None)
def test_delta_roundtrip(xs, base_gap):
    ids = np.unique(np.array(xs, dtype=np.int64))
    base = max(int(ids[0]) - base_gap, 0)
    assert (delta_decode(delta_encode(ids, base), base) == ids).all()


def test_smallfloat_matches_scalar():
    vals = np.array(list(range(4000)) + [10**5, 10**7, 2**30], dtype=np.int64)
    enc = int_to_byte4_np(vals)
    assert (enc == np.array([int_to_byte4(int(x)) for x in vals])).all()
    # decode <= original, order preserving, exact below 16 (4 significant bits)
    dec = decode_norms(enc)
    assert (dec <= vals).all()
    assert (np.diff(NORM_TABLE) > 0).all()
    for i in range(16):
        assert byte4_to_int(int_to_byte4(i)) == i


def test_smallfloat_rejects_negative():
    with pytest.raises(ValueError):
        int_to_byte4(-1)


def test_norm_byte_expr_matches_scalar(spark):
    from pyspark.sql import functions as F

    from apache___solr_spark.index.builder import _norm_byte

    vals = list(range(70_000))
    for k in range(3, 31):
        vals += [2**k - 1, 2**k, 2**k + 1]
    vals.append(2**31 - 1)
    df = spark.createDataFrame([(v,) for v in vals], "doclen int")
    got = df.select("doclen", _norm_byte(F.col("doclen")).alias("nb")).toPandas()
    want = [int_to_byte4(int(v)) for v in got["doclen"]]
    assert len(got) == len(vals)
    assert got["nb"].tolist() == want


def _analyzed_batch(doc_ids, store_positions, seed=5):
    """Analyzed rows (doc_id, doclen, terms, tfs, positions) over a
    5-term vocabulary; "rare" occurs only in docs 12-14."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    rows = {"doc_id": [], "doclen": [], "terms": [], "tfs": [], "positions": []}
    for d in doc_ids:
        vocab = ["alpha", "beta", "gamma", "delta"] + (["rare"] if 12 <= d < 15 else [])
        terms = sorted(t for t in vocab if t == "rare" or rng.random() < 0.7) or ["alpha"]
        tfs = rng.integers(1, 4, size=len(terms))
        doclen = int(tfs.sum()) + int(rng.integers(0, 3))
        perm = rng.permutation(doclen)
        pos, at = [], 0
        for tf in tfs:
            pos.extend(sorted(perm[at : at + tf]))
            at += tf
        rows["doc_id"].append(d)
        rows["doclen"].append(doclen)
        rows["terms"].append(terms)
        rows["tfs"].append(encode_vbyte(tfs))
        rows["positions"].append(encode_vbyte(np.array(pos)) if store_positions else b"")
    return pa.RecordBatch.from_pydict(
        rows,
        schema=pa.schema(
            [("doc_id", pa.int64()), ("doclen", pa.int32()),
             ("terms", pa.list_(pa.string())), ("tfs", pa.binary()),
             ("positions", pa.binary())]
        ),
    )


def _in_batches(table, cols):
    """``table``'s ``cols`` as Arrow batches of 1, 2, 3, 1, ... rows."""
    table = table.select(cols)
    out, at = [], 0
    while at < table.num_rows:
        size = (1, 2, 3)[len(out) % 3]
        out.append(table.slice(at, size).combine_chunks().to_batches()[0])
        at += size
    return out


@pytest.mark.parametrize("store_positions", [True, False])
def test_merge_segments_equals_unsplit_encode(store_positions):
    """Encoding a salt range in 3 doc-contiguous parts and merging the
    fragments (fed in 1-3 row batches, so groups straddle the carry) gives
    exactly the rows of the unsplit encode; single-fragment rows pass
    through unchanged."""
    import pyarrow as pa

    from apache___solr_spark.config import IndexConfig
    from apache___solr_spark.index.builder import _merge_segments, _segment_encode

    cfg = IndexConfig(salt_range=32, n_buckets=8)
    parts = [range(0, 10), range(10, 20), range(20, 60)]  # cuts inside salt 0
    whole = pa.Table.from_batches(
        _segment_encode(cfg)(iter([_analyzed_batch(range(60), store_positions)]))
    )
    frags = pa.Table.from_batches(
        [
            out
            for p in parts
            for out in _segment_encode(cfg)(
                iter([_analyzed_batch(range(60), store_positions).slice(p.start, len(p))])
            )
        ]
    ).sort_by([("term", "ascending"), ("salt", "ascending"), ("first_doc", "ascending")])
    key = lambda r: (r["term"], r["salt"])  # noqa: E731
    frag_rows = frags.to_pylist()
    n_frags = {}
    for r in frag_rows:
        n_frags[key(r)] = n_frags.get(key(r), 0) + 1
    assert max(n_frags.values()) == 3 and min(n_frags.values()) == 1

    batches = _in_batches(frags, frags.column_names)
    merged = [
        r for out in _merge_segments(cfg)(iter(batches)) for r in out.to_pylist()
    ]

    want = {key(r): r for r in whole.to_pylist()}
    assert sorted(key(r) for r in merged) == sorted(want)
    for r in merged:
        assert r == want[key(r)]
    singles = [r for r in frag_rows if n_frags[key(r)] == 1]
    assert singles and all(r in merged for r in singles)


@pytest.mark.parametrize("store_positions", [True, False])
def test_analyze_batch_matches_per_doc_loop(store_positions):
    """The analysis kernel's one-sort grouping gives, doc for doc, what a
    per-doc dict of term -> positions sorted by term gives (the loop the
    kernel replaced, kept here as the reference): terms, vbyte tfs,
    term-major vbyte positions and doclen, over html and text docs, empty
    and null ones, repeated and non-ASCII terms, in one batch."""
    import pyarrow as pa

    from apache___solr_spark.analysis.chain import analyze, extract_text
    from apache___solr_spark.config import IndexConfig
    from apache___solr_spark.index.builder import _analyze_batch

    texts = [
        "web data web page web", None, "", "the and of", "Über naïve café über web",
        "中文 web 中文 data", "b a b a c", "data page " * 40,
    ]
    htmls = [None, b"<p>web <b>page</b> data page</p>", None, None, None, None, None, None]
    rb = pa.RecordBatch.from_pydict(
        {
            "url": [f"u{i}" for i in range(len(texts))],
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array(texts, pa.string()),
        }
    )
    cfg = IndexConfig(store_positions=store_positions)
    got = _analyze_batch(rb, cfg).to_pylist()
    assert [r["url"] for r in got] == rb.column("url").to_pylist()
    for h, t, row in zip(htmls, texts, got):
        toks = analyze(extract_text(h, t), max_token_len=cfg.max_token_len)
        occ: dict[str, list[int]] = {}
        for i, tok in enumerate(toks):
            occ.setdefault(tok, []).append(i)
        items = sorted(occ.items())
        assert row["terms"] == [k for k, _ in items]
        assert row["doclen"] == len(toks)
        assert row["tfs"] == encode_vbyte(np.array([len(v) for _, v in items]))
        pos = [p for _, v in items for p in v] if store_positions else []
        assert row["positions"] == encode_vbyte(np.array(pos, dtype=np.int64))


@pytest.mark.parametrize("store_positions", [True, False])
def test_query_decoders_roundtrip(store_positions, monkeypatch):
    """The query kernel, fed each salt's segment-encoder rows of a
    multi-salt corpus in 1-3 row batches, returns the corpus's own postings
    (a doc-id leaf per term), every term leaf's score is bit-equal to the
    similarity kernel applied to that one posting, and a span leaf's
    matcher sees each posting's own positions and norm."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from apache___solr_spark.config import IndexConfig
    from apache___solr_spark.index.builder import _segment_encode
    from apache___solr_spark.query import spans
    from apache___solr_spark.query.engine import TreePlan, _PlanNode, eval_tree
    from apache___solr_spark.query.similarities import get_similarity

    cfg = IndexConfig(salt_range=32, n_buckets=8)
    avgdl = 7.5
    corpus = _analyzed_batch(range(100), store_positions)
    seg = pa.Table.from_batches(_segment_encode(cfg)(iter([corpus])))
    salts = sorted(set(seg.column("salt").to_pylist()))
    assert len(salts) == 4

    want = {}
    for r in corpus.to_pylist():
        tfs = decode_vbyte(r["tfs"]).tolist()
        pos = decode_vbyte(r["positions"]).tolist()
        at = 0
        for t, tf in zip(r["terms"], tfs):
            want[(t, r["doc_id"])] = (
                tf, int_to_byte4(r["doclen"]), pos[at : at + tf] if pos else None
            )
            at += tf
    terms = sorted({t for t, _ in want})

    def run(plan, cols):
        """Every salt's eval_tree output, merged: path -> [(doc_id, score)]."""
        out = {}
        for salt in salts:
            rows = pa.Table.from_batches(
                _in_batches(seg.filter(pc.equal(seg["salt"], salt)), cols)
            )
            for path, (ids, sc) in eval_tree(rows, plan).items():
                out.setdefault(path, []).extend(zip(ids.tolist(), sc.tolist()))
        return out

    def each_term(kind, **kw):
        return _PlanNode(
            "",
            "bool",
            children=tuple(
                ("SHOULD", _PlanNode(str(i), kind, (t,), **kw.get(t, {})))
                for i, t in enumerate(terms)
            ),
        )

    base = ["term", "salt", "n_docs", "doc_gaps"]
    got = run(TreePlan(each_term("docs"), {}, None, None, cfg.salt_range), base)
    docs = [(t, d) for i, t in enumerate(terms) for d, _ in got[str(i)]]
    assert sorted(docs) == sorted(want)

    weights = {t: 0.5 + i for i, t in enumerate(["alpha", "beta", "delta", "gamma", "rare"])}
    boosts = {"beta": 2.0}
    dl_table = NORM_TABLE.astype(np.float32)
    for sim in ("bm25", "classic"):
        kernel = get_similarity(sim, cfg).kernel(avgdl)
        root = each_term("terms", beta={"boost": boosts["beta"]})
        got = run(TreePlan(root, weights, kernel, None, cfg.salt_range), base + ["tfs", "norms"])
        n = 0
        for i, t in enumerate(terms):
            for d, s in got[str(i)]:
                tf, norm, _ = want[(t, d)]
                one = kernel(
                    weights[t], boosts.get(t, 1.0),
                    np.array([tf], dtype=np.float32), dl_table[[norm]],
                )
                assert float(np.float32(s)) == s  # a float32 score, carried exactly
                assert np.float32(s).view(np.uint32) == one.astype(np.float32).view(np.uint32)[0]
                n += 1
        assert n == len(want)

    if store_positions:
        # a one-slot span leaf per term: the span matcher receives the
        # posting's positions, the phrase kernel its doc's dl
        seen = []

        def record(tree, pos_by_slot):
            seen.append(pos_by_slot[0])
            return [(p, p + 1) for p in pos_by_slot[0]]

        monkeypatch.setattr(spans, "match_intervals", record)
        cols = base + ["tfs", "norms", "positions"]
        got = {}
        for t in terms:
            leaf = _PlanNode("", "phrase", (t,), slots=((t,),), spans=("slot", 0))
            plan = TreePlan(leaf, {t: 1.0}, None, lambda w, b, tf, dl: dl, cfg.salt_range)
            seen.clear()
            hits = run(plan, cols)[""]
            assert len(hits) == len(seen)
            for (d, dl), pos in zip(hits, seen):
                got[(t, d)] = (len(pos), dl, pos)
        assert got == {
            key: (tf, float(dl_table[norm]), pos) for key, (tf, norm, pos) in want.items()
        }


def _kernel_fixture():
    """A 140-doc corpus encoded as two segments (docs 0-69, 70-139) over 5
    salts of 32 docs, so the (term, salt) pairs of salt 2 hold one row per
    segment; with the oracle index of the same postings."""
    import pyarrow as pa

    from apache___solr_spark.config import IndexConfig
    from apache___solr_spark.index.builder import _segment_encode
    from apache___solr_spark.oracle import OracleIndex

    cfg = IndexConfig(salt_range=32, n_buckets=8)
    corpus = _analyzed_batch(range(140), True, seed=11)
    postings, positions, doclen = {}, {}, []
    for r in corpus.to_pylist():
        tfs = decode_vbyte(r["tfs"]).tolist()
        pos = decode_vbyte(r["positions"]).tolist()
        at = 0
        for t, tf in zip(r["terms"], tfs):
            postings.setdefault(t, {})[r["doc_id"]] = tf
            positions.setdefault(t, {})[r["doc_id"]] = pos[at : at + tf]
            at += tf
        doclen.append(r["doclen"])
    oracle = OracleIndex(
        url_by_doc=[str(d) for d in range(140)],
        doclen=doclen,
        norm_byte=[int_to_byte4(n) for n in doclen],
        postings=postings,
        n_docs=140,
        avgdl=sum(doclen) / 140,
        positions=positions,
    )
    segs = [
        pa.Table.from_batches(_segment_encode(cfg)(iter([corpus.slice(lo, 70)])))
        for lo in (0, 70)
    ]
    return cfg, oracle, segs


def _kernel_pages(cfg, oracle, segs, tree, tie=None):
    """Every hit of ``tree`` as (doc_id, float32 score), ranked: the tree
    compiled like SearchEngine._search_tree does, then eval_tree over each
    salt's rows (the later segment's rows first, fed in 1-3 row batches)
    and the per-salt roots merged."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from apache___solr_spark.oracle import _expand_oracle
    from apache___solr_spark.query.engine import TreePlan, _compile, eval_tree
    from apache___solr_spark.query.parser import BoolQuery, Clause
    from apache___solr_spark.query.similarities import BM25Similarity

    sim = BM25Similarity()
    resolved = {}

    def walk(node, negated):
        if isinstance(node, Clause):
            terms = _expand_oracle(oracle, node, None if negated else 128)
            resolved[id(node)] = (terms, negated)
        elif isinstance(node, BoolQuery):
            for c in node.children:
                walk(c.node, negated or c.occur == "MUST_NOT")

    walk(tree, False)
    root = _compile(tree, resolved, set(oracle.postings), sim, True, tie=tie)
    if root is None:
        return []
    total = sum(oracle.doclen)
    weights = {
        t: sim.weight(oracle.n_docs, len(p), sum(p.values()), total)
        for t, p in oracle.postings.items()
    }
    kernel = sim.kernel(oracle.avgdl)
    plan = TreePlan(root, weights, kernel, kernel, cfg.salt_range)
    cols = ["term", "salt", "n_docs", "doc_gaps", "tfs", "norms", "positions"]
    hits = []
    for salt in range(5):
        rows = pa.Table.from_batches(
            [
                b
                for seg in reversed(segs)
                for b in _in_batches(seg.filter(pc.equal(seg["salt"], salt)), cols)
            ]
        )
        ids, scores = eval_tree(rows, plan)[""]
        assert (np.diff(ids) > 0).all()
        hits += zip(ids.tolist(), scores.astype(np.float32).tolist())
    return sorted(hits, key=lambda h: (-h[1], h[0]))


def test_eval_tree_matches_tree_oracle():
    """The per-salt boolean kernel reproduces oracle_search_tree exactly
    (doc ids, rank order and float32 score bits) on nested MUST/SHOULD/
    MUST_NOT trees with mm and boosts, exact/sloppy/window phrases, a
    repeated term, expansions (one under a MUST_NOT ancestor) and trees
    that can never match."""
    from apache___solr_spark.oracle import oracle_search_tree
    from apache___solr_spark.query.parser import (
        BoolChild,
        BoolQuery,
        Clause,
        PhraseNode,
        TermNode,
    )

    cfg, oracle, segs = _kernel_fixture()
    assert sum(seg.num_rows for seg in segs) > len(
        {(r["term"], r["salt"]) for seg in segs for r in seg.select(["term", "salt"]).to_pylist()}
    )  # some (term, salt) pairs hold two rows

    def T(t, boost=1.0):
        return TermNode(t, boost)

    def B(*children, boost=1.0, mm=0):
        return BoolQuery([BoolChild(o, n) for o, n in children], boost=boost, mm=mm)

    S, M, N = "SHOULD", "MUST", "MUST_NOT"
    trees = {
        "must": B((M, T("alpha")), (M, T("beta"))),
        "must should not": B((M, T("alpha")), (S, T("beta")), (N, T("gamma"))),
        "nested boosts": B(
            (S, B((M, T("alpha")), (M, T("delta", 1.5)))),
            (S, B((S, T("gamma")), (S, T("beta")), boost=2.0)),
            (N, B((M, T("rare")), (M, T("beta")))),
            boost=0.5,
        ),
        "mm": B((S, T("alpha")), (S, T("beta")), (S, T("gamma")), (S, T("delta")), mm=2),
        "mm must": B((M, T("delta")), (S, T("alpha")), (S, T("beta")), (S, T("gamma")), mm=2),
        "nested mm": B((S, B((S, T("alpha")), (S, T("beta")), (S, T("gamma")), mm=3)), (S, T("rare"))),
        "exact phrase": B((S, PhraseNode(["alpha", "beta"])), (S, T("delta"))),
        "sloppy phrase": B((S, PhraseNode(["beta", "alpha", "gamma"], slop=3, boost=2.0))),
        "sloppy repeat": B((M, PhraseNode(["alpha", "beta", "alpha"], slop=2)), (S, T("gamma"))),
        "sloppy one term": B((S, PhraseNode(["beta", "beta"], slop=2)), (S, T("rare"))),
        "window phrase": B((S, PhraseNode(["alpha", "beta"], slop=1, window=True)), (N, T("delta"))),
        "phrase not": B((S, T("alpha")), (N, PhraseNode(["beta", "gamma"], slop=2))),
        "repeated term": B((S, T("alpha")), (S, T("alpha")), (S, T("beta"))),
        "expansion": B((S, Clause(S, "range", lo="a", hi="c", boost=2.0)), (S, T("gamma"))),
        "negated expansion": B((S, T("beta")), (N, Clause(N, "prefix", value="de*"))),
        "nested negated expansion": B(
            (M, T("gamma")),
            (N, B((M, T("alpha")), (M, Clause(S, "wildcard", value="?e*"))))),
        "dead must": B((M, T("zzz")), (S, T("alpha"))),
        "mm too high": B((S, T("alpha")), (S, T("zzz")), mm=2),
        "pure negative": B((N, T("alpha"))),
    }
    for name, tree in trees.items():
        want = [(r["doc_id"], r["score"]) for r in oracle_search_tree(oracle, tree, k=1000)]
        got = _kernel_pages(cfg, oracle, segs, tree)
        assert got == want, name
        if name not in ("dead must", "mm too high", "pure negative"):
            assert want, name


def test_eval_tree_maxscore_root():
    """A {!maxscore} root: sum(MUST) + max(SHOULD) + tie * (sum(SHOULD) -
    max(SHOULD)) over the per-subtree scores, replayed in Python as
    test_maxscore_should_combine does."""
    from apache___solr_spark.oracle import oracle_search_tree
    from apache___solr_spark.query.parser import BoolChild, BoolQuery, TermNode

    cfg, oracle, segs = _kernel_fixture()

    def scores(*children):
        tree = BoolQuery([BoolChild(o, TermNode(t)) for o, t in children])
        return {r["doc_id"]: r["score"] for r in oracle_search_tree(oracle, tree, k=1000)}

    must = scores(("MUST", "alpha"), ("MUST", "delta"))
    g1 = scores(("MUST", "beta"), ("MUST", "gamma"))
    g2 = scores(("SHOULD", "rare"))
    beta = scores(("SHOULD", "beta"))
    for tie in (0.0, 0.5):
        tree = BoolQuery(
            [
                BoolChild("MUST", BoolQuery([BoolChild("MUST", TermNode("alpha")),
                                             BoolChild("MUST", TermNode("delta"))])),
                BoolChild("SHOULD", BoolQuery([BoolChild("MUST", TermNode("beta")),
                                               BoolChild("MUST", TermNode("gamma"))])),
                BoolChild("SHOULD", TermNode("rare")),
                BoolChild("MUST_NOT", TermNode("zzz")),
            ]
        )
        want = {}
        for d, s in must.items():
            opt = [x[d] for x in (g1, g2) if d in x]
            want[d] = s + (max(opt) + tie * (sum(opt) - max(opt)) if opt else 0.0)
        got = dict(_kernel_pages(cfg, oracle, segs, tree, tie=tie))
        assert got.keys() == want.keys()
        for d, s in want.items():
            assert abs(got[d] - s) < 1e-5 * max(1.0, abs(s)), (tie, d)
        # mm=1 makes the dismax required; mm > 1 can never be met
        tree.mm = 1
        got = dict(_kernel_pages(cfg, oracle, segs, tree, tie=tie))
        assert got.keys() == {d for d in must if d in g1 or d in g2}
        tree.mm = 2
        assert _kernel_pages(cfg, oracle, segs, tree, tie=tie) == []
    pure = dict(_kernel_pages(cfg, oracle, segs, BoolQuery(
        [BoolChild("SHOULD", TermNode("beta")), BoolChild("SHOULD", TermNode("rare"))]
    ), tie=0.0))
    assert pure.keys() == set(beta) | set(g2)
    for d, s in pure.items():
        assert abs(s - max(beta.get(d, 0.0), g2.get(d, 0.0))) < 1e-5 * max(1.0, s)


def test_top_order_matches_sorted():
    """The driver's top-k is (score desc, doc_id asc), ties at the cut
    included, against Python's sort over every row."""
    from apache___solr_spark.query.engine import _top_order

    rng = np.random.default_rng(3)
    ids = rng.permutation(500).astype(np.int64)
    scores = rng.integers(0, 20, 500).astype(np.float32)  # many ties
    want = sorted(range(500), key=lambda i: (-scores[i], ids[i]))
    for depth in (0, 1, 7, 100, 499, 500, 600):
        assert _top_order(ids, scores, depth).tolist() == want[:depth], depth


def test_node_totals_counts_kept_docs():
    """The per-salt totals output: one (path, docs, total) row per node
    that matched, counting only the ``keep`` docs when given (ids past the
    largest kept one included), against plain Python counting."""
    from apache___solr_spark.query.phrases import _node_totals

    rng = np.random.default_rng(5)
    res = {}
    for path in ("", "0", "1", "2", "3"):
        d = np.unique(rng.integers(8192, 12288, int(rng.integers(0, 300))))
        res[path] = d, rng.random(d.size)
    res["3"] = np.empty(0, dtype=np.int64), np.empty(0)
    keep = rng.choice(np.arange(8192, 11000), 900, replace=False)
    for kept in (None, keep):
        got = _node_totals(kept)[1](res).to_pylist()
        want = []
        for path, (d, sc) in res.items():
            m = [kept is None or x in set(kept.tolist()) for x in d.tolist()]
            if any(m):
                want.append((path, sum(m), float(np.sum(sc[np.array(m)]))))
        assert [(r["path"], r["docs"]) for r in got] == [w[:2] for w in want]
        for r, w in zip(got, want):
            assert abs(r["total"] - w[2]) < 1e-9


def test_range_parts_keeps_lo_clamp_below_one_wave():
    """The numbering partition count: a count below one wave keeps the
    [shuffle_parts, 4*parallelism] clamp as is; a count of one wave or
    more rounds up to whole waves."""
    from apache___solr_spark.index.builder import _range_parts

    assert _range_parts(1000, 4, 32) == 4  # tiny build on 32 cores
    assert _range_parts(300_000, 4, 32) == 12  # 12 tasks, still one wave
    assert _range_parts(1_500_000, 4, 32) == 64  # 60 -> 2 whole waves
    assert _range_parts(900_000, 32, 32) == 64  # 36 -> 2 whole waves
    assert _range_parts(None, 4, 32) == 64  # unknown size: two waves
    assert _range_parts(10**9, 4, 32) == 128  # hi clamp
    # shuffle_parts == parallelism (the session default): never sub-wave
    assert _range_parts(2000, 4, 4) == 4
    assert _range_parts(200_000, 4, 4) == 8
