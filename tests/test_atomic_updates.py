"""Atomic (partial-document) updates: AtomicUpdateDocumentMerger.java:67
merge semantics as column expressions, and the read-merge-reindex path
against a live index."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from apache___solr_spark.config import IndexConfig
from apache___solr_spark.corpus import generate_pages
from apache___solr_spark.index.builder import build_index
from apache___solr_spark.index.updates import atomic_merge, atomic_update
from apache___solr_spark.query.engine import SearchEngine

CFG = IndexConfig(salt_range=128, n_buckets=8)


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "alpha", 10, ["x", "y", "x"]),
            (2, "beta", 20, ["y"]),
            (3, "gamma", 30, None),
        ],
        "id long, title string, views long, tags array<string>",
    )


def _by_id(df):
    return {r["id"]: r for r in df.collect()}


def test_set_and_inc(spark, docs):
    upd = spark.createDataFrame(
        [(1, "ALPHA", 5), (3, None, 100)],
        "id long, title string, views long",
    )
    out = _by_id(
        atomic_merge(docs, upd, "id", {"title": "set", "views": "inc"})
    )
    assert out[1]["title"] == "ALPHA" and out[1]["views"] == 15
    # NULL update cell = untouched field on an otherwise-updated doc
    assert out[3]["title"] == "gamma" and out[3]["views"] == 130
    assert out[2]["title"] == "beta" and out[2]["views"] == 20  # untouched


def test_add_and_add_distinct(spark, docs):
    upd = spark.createDataFrame([(1, "z"), (2, "y")], "id long, tags string")
    out = _by_id(atomic_merge(docs, upd, "id", {"tags": "add"}))
    assert out[1]["tags"] == ["x", "y", "x", "z"]
    assert out[2]["tags"] == ["y", "y"]  # plain add duplicates
    out = _by_id(atomic_merge(docs, upd, "id", {"tags": "add-distinct"}))
    assert out[2]["tags"] == ["y"]  # distinct skips the existing value
    # add onto a NULL array starts a fresh one
    upd3 = spark.createDataFrame([(3, "n")], "id long, tags string")
    out = _by_id(atomic_merge(docs, upd3, "id", {"tags": "add"}))
    assert out[3]["tags"] == ["n"]


def test_remove_keeps_other_duplicates(spark, docs):
    upd = spark.createDataFrame([(1, "x")], "id long, tags string")
    out = _by_id(atomic_merge(docs, upd, "id", {"tags": "remove"}))
    assert out[1]["tags"] == ["y"]  # both x occurrences dropped
    # array-valued remove drops every listed value
    upd2 = spark.createDataFrame(
        [(1, ["x", "y"])], "id long, tags array<string>"
    )
    out = _by_id(atomic_merge(docs, upd2, "id", {"tags": "remove"}))
    assert out[1]["tags"] == []


def test_removeregex_and_removefield(spark, docs):
    upd = spark.createDataFrame([(1, "^x$")], "id long, tags string")
    out = _by_id(atomic_merge(docs, upd, "id", {"tags": "removeregex"}))
    assert out[1]["tags"] == ["y"]
    upd2 = spark.createDataFrame([(2,)], "id long")
    out = _by_id(atomic_merge(docs, upd2, "id", {"title": "removefield"}))
    assert out[2]["title"] is None and out[1]["title"] == "alpha"


def test_unknown_op_raises(spark, docs):
    with pytest.raises(ValueError, match="unknown atomic op"):
        atomic_merge(docs, docs, "id", {"title": "replace"})


def test_atomic_update_reindexes_merged_doc(spark, tmp_path):
    pages_path = str(tmp_path / "pages.parquet")
    pq.write_table(generate_pages(120, seed=11), pages_path)
    idx = str(tmp_path / "idx")
    build_index(spark, pages_path, idx, cfg=CFG)
    pages = spark.read.parquet(pages_path)
    target = pages.select("url").orderBy("url").limit(1).collect()[0]["url"]

    # plant a term unique to the OLD version first, so its disappearance
    # proves the tombstone (not just the new segment) is honored
    plant = spark.createDataFrame(
        [(target, "zzzoldmark zzzoldmark original body")],
        "url string, text string",
    )
    atomic_update(spark, idx, pages, plant, {"text": "set"}, key="url", cfg=CFG)
    eng = SearchEngine(spark, idx, cfg=CFG)
    assert [r["url"] for r in eng.search("zzzoldmark", k=5).collect()] == [
        target
    ]

    # second atomic set replaces the text again: the old unique term must
    # stop matching, the new one must match exactly this doc
    pages_v2 = atomic_merge(pages, plant, "url", {"text": "set"})
    upd = spark.createDataFrame(
        [(target, "zzzatomic zzzatomic update payload")],
        "url string, text string",
    )
    n = atomic_update(
        spark, idx, pages_v2, upd, {"text": "set"}, key="url", cfg=CFG
    )
    assert n == 1
    eng = SearchEngine(spark, idx, cfg=CFG)
    assert [r["url"] for r in eng.search("zzzatomic", k=5).collect()] == [
        target
    ]
    assert eng.search("zzzoldmark", k=5).count() == 0
    # untouched docs still searchable
    assert eng.search("web", k=5).count() > 0


def test_realtime_get_latest_live_version(spark, tmp_path):
    """/get parity (RealTimeGetComponent.java:117 process, :691 tlog
    lookup): latest live version by uniqueKey, every durable update
    visible immediately (no searcher refresh, no optimize), tombstones
    hide docs from /get exactly as from search, and atomic-update merges
    come back MERGED via the stored-fields store."""
    from apache___solr_spark.index.updates import (
        delete_docs,
        realtime_get,
        store_fields,
    )

    pages_path = str(tmp_path / "pages.parquet")
    pq.write_table(generate_pages(80, seed=7), pages_path)
    idx = str(tmp_path / "idx")
    build_index(spark, pages_path, idx, cfg=CFG)
    pages = spark.read.parquet(pages_path)
    urls = [
        r["url"]
        for r in pages.select("url").orderBy("url").limit(3).collect()
    ]
    u_upd, u_del, u_keep = urls
    src = {r["url"]: r for r in pages.filter(F.col("url").isin(urls)).collect()}

    # source-as-store mode (no stored dir yet): stored columns join by url,
    # absent keys return no row
    got = realtime_get(spark, idx, [u_keep, "zz-missing"], pages=pages)
    assert {"url", "doc_id", "doclen", "text", "lang"} <= set(got.columns)
    rows = {r["url"]: r for r in got.collect()}
    assert set(rows) == {u_keep}
    assert rows[u_keep]["lang"] == src[u_keep]["lang"]

    # index-only mode: no stored dir, no source -> docs-table row alone
    bare = realtime_get(spark, idx, [u_keep]).collect()
    assert len(bare) == 1 and bare[0]["doclen"] == rows[u_keep]["doclen"]

    # back-fill the stored store, then atomically update one doc
    n_stored = store_fields(spark, idx, pages)
    assert n_stored == 80
    upd = spark.createDataFrame(
        [(u_upd, "zzrtg merged body")], "url string, text string"
    )
    atomic_update(
        spark, idx, pages, upd, {"text": "set"}, key="url", cfg=CFG,
        store_fields=True,
    )
    got = {r["url"]: r for r in realtime_get(spark, idx, urls).collect()}
    assert set(got) == set(urls)
    assert got[u_upd]["text"] == "zzrtg merged body"  # merged, last wins
    assert got[u_keep]["text"] == src[u_keep]["text"]  # untouched
    assert got[u_upd]["doc_id"] >= 80  # the NEW version's id

    # deleteById hides from /get
    assert delete_docs(spark, idx, doc_ids=[got[u_del]["doc_id"]]) == 1
    left = {r["url"] for r in realtime_get(spark, idx, urls).collect()}
    assert left == {u_upd, u_keep}

    # DataFrame key-set path (broadcast semi-join, the large-batch shape)
    keys_df = spark.createDataFrame([(u_upd,), (u_del,)], "url string")
    via_df = realtime_get(spark, idx, keys_df).collect()
    assert [r["url"] for r in via_df] == [u_upd]

    # optimize() expunges dead stored versions; /get is unchanged after
    from apache___solr_spark.index.updates import optimize
    from apache___solr_spark.index.builder import IndexPaths

    stats = optimize(spark, idx, cfg=CFG)
    stored_ct = spark.read.parquet(IndexPaths(idx).stored).count()
    assert stored_ct == stats["N"] == 79  # 80 - deleted + upd old/new folded
    got = {r["url"]: r for r in realtime_get(spark, idx, urls).collect()}
    assert set(got) == {u_upd, u_keep}
    assert got[u_upd]["text"] == "zzrtg merged body"


def test_atomic_merge_fuzz_vs_python_oracle(spark):
    """Property fuzz: random doc stores + random per-field op batches must
    match an independent pure-Python implementation of the documented
    AtomicUpdateDocumentMerger semantics on every draw."""
    import random
    import re as _re

    rng = random.Random(31)

    def py_merge(doc, upd, ops):
        out = dict(doc)
        for f, op in ops.items():
            if op == "removefield":
                out[f] = None
                continue
            new = upd.get(f)
            if new is None:
                continue
            old = out[f]
            if op == "set":
                out[f] = new
            elif op == "inc":
                out[f] = (old or 0) + new
            elif op in ("add", "add-distinct", "remove", "removeregex"):
                old_arr = list(old) if old is not None else []
                new_arr = new if isinstance(new, list) else [new]
                if op == "add":
                    out[f] = old_arr + new_arr
                elif op == "add-distinct":
                    fresh = []
                    for v in new_arr:  # array_except dedups + keeps order
                        if v not in old_arr and v not in fresh:
                            fresh.append(v)
                    out[f] = old_arr + fresh
                elif op == "remove":
                    out[f] = [v for v in old_arr if v not in new_arr]
                else:
                    out[f] = [
                        v for v in old_arr if not _re.search(new, v)
                    ]
        return out

    tags_pool = ["red", "blue", "green", "gold", "x1", "x2"]
    for trial in range(6):
        docs = {}
        for i in range(rng.randrange(4, 9)):
            docs[f"d{i}"] = {
                "id": f"d{i}",
                "n": rng.choice([None, rng.randrange(-5, 20)]),
                "tags": rng.choice(
                    [None, rng.sample(tags_pool, rng.randrange(0, 4)) * rng.randrange(1, 3)]
                ),
            }
        n_op = rng.choice(["set", "inc"])
        t_op = rng.choice(
            ["add", "add-distinct", "remove", "removeregex", "removefield", "set"]
        )
        ops = {"n": n_op, "tags": t_op}
        upd_rows = []
        for k in rng.sample(sorted(docs), rng.randrange(1, len(docs) + 1)):
            if t_op == "removeregex":
                tv = rng.choice([None, "^x", "e"])
            elif t_op == "remove":
                tv = rng.choice([None, rng.sample(tags_pool, 2)])
            else:
                tv = rng.choice([None, rng.sample(tags_pool, rng.randrange(1, 3))])
            upd_rows.append(
                {
                    "id": k,
                    "n": rng.choice([None, rng.randrange(-3, 7)]),
                    "tags": tv,
                }
            )
        existing = spark.createDataFrame(
            list(docs.values()),
            "id string, n long, tags array<string>",
        )
        tags_t = (
            "string" if t_op == "removeregex" else "array<string>"
        )
        updates = spark.createDataFrame(
            [(r["id"], r["n"], r["tags"]) for r in upd_rows],
            f"id string, n long, tags {tags_t}",
        )
        got = {
            r["id"]: {"id": r["id"], "n": r["n"],
                      "tags": list(r["tags"]) if r["tags"] is not None else None}
            for r in atomic_merge(existing, updates, "id", ops).collect()
        }
        want = dict(docs)
        upd_by_id = {r["id"]: r for r in upd_rows}
        for k, u in upd_by_id.items():
            want[k] = py_merge(docs[k], u, ops)
        # removefield nulls for every UPDATED doc regardless of values
        for k in want:
            if k in upd_by_id and t_op == "removefield":
                want[k] = {**want[k], "tags": None}
        norm = lambda d: {
            k: {
                "id": v["id"],
                "n": v["n"],
                "tags": None if v["tags"] is None else list(v["tags"]),
            }
            for k, v in d.items()
        }
        assert norm(got) == norm(want), (trial, ops)
