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

    cfg = IndexConfig(block_range=4, salt_range=32, n_buckets=8)
    avgdl = 7.5
    parts = [range(0, 10), range(10, 20), range(20, 60)]  # cuts inside salt 0
    whole = pa.Table.from_batches(
        _segment_encode(cfg, avgdl)(iter([_analyzed_batch(range(60), store_positions)]))
    )
    frags = pa.Table.from_batches(
        [
            out
            for p in parts
            for out in _segment_encode(cfg, avgdl)(
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
        r for out in _merge_segments(cfg, avgdl)(iter(batches)) for r in out.to_pylist()
    ]

    want = {key(r): r for r in whole.to_pylist()}
    assert sorted(key(r) for r in merged) == sorted(want)
    for r in merged:
        assert r == want[key(r)]
    singles = [r for r in frag_rows if n_frags[key(r)] == 1]
    assert singles and all(r in merged for r in singles)


@pytest.mark.parametrize("store_positions", [True, False])
def test_query_decoders_roundtrip(store_positions):
    """The query-side postings scans (doc ids, scores, positions), fed the
    segment encoder's rows of a multi-salt corpus in 1-3 row batches,
    return the corpus's own postings, and every score is bit-equal to the
    similarity kernel applied to that one posting."""
    import pyarrow as pa

    from apache___solr_spark.config import IndexConfig
    from apache___solr_spark.index.builder import _segment_encode
    from apache___solr_spark.query.engine import _docs_fn, _positions_fn, _score_fn
    from apache___solr_spark.query.similarities import get_similarity

    cfg = IndexConfig(block_range=4, salt_range=32, n_buckets=8)
    avgdl = 7.5
    corpus = _analyzed_batch(range(100), store_positions)
    seg = pa.Table.from_batches(_segment_encode(cfg, avgdl)(iter([corpus])))
    assert len(set(seg.column("salt").to_pylist())) == 4

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

    base = ["term", "salt", "n_docs", "doc_gaps"]
    docs = [
        (t, d)
        for b in _docs_fn(cfg.salt_range)(iter(_in_batches(seg, base)))
        for t, d in zip(b.column("term").to_pylist(), b.column("doc_id").to_pylist())
    ]
    assert sorted(docs) == sorted(want)

    weights = {t: 0.5 + i for i, t in enumerate(["alpha", "beta", "delta", "gamma", "rare"])}
    boosts = {"beta": 2.0}
    dl_table = NORM_TABLE.astype(np.float32)
    for sim in ("bm25", "classic"):
        kernel = get_similarity(sim, cfg).kernel(avgdl)
        fn = _score_fn(weights, kernel, boosts, cfg.salt_range)
        n = 0
        for b in fn(iter(_in_batches(seg, base + ["tfs", "norms"]))):
            assert b.schema.field("score").type == pa.float32()
            for t, d, s in zip(*(b.column(c).to_pylist() for c in ("term", "doc_id", "score"))):
                tf, norm, _ = want[(t, d)]
                one = kernel(
                    weights[t], boosts.get(t, 1.0),
                    np.array([tf], dtype=np.float32), dl_table[[norm]],
                )
                assert np.float32(s).view(np.uint32) == one.astype(np.float32).view(np.uint32)[0]
                n += 1
        assert n == len(want)

    if store_positions:
        got = {}
        cols = base + ["tfs", "norms", "positions"]
        for b in _positions_fn(cfg.salt_range)(iter(_in_batches(seg, cols))):
            for r in b.to_pylist():
                got[(r["term"], r["doc_id"])] = (len(r["positions"]), r["norm"], r["positions"])
        assert got == want


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
