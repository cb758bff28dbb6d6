"""Operator-layer checks: physical plan shape + semantics on tiny frames.

The semantics at sf0.01 are covered by the DuckDB oracle in
test_entry_contract.py; here we assert the PLANS are the ones we want at
scale (broadcast where small, TakeOrderedAndProject for top-k, pushdown)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apache___solr_spark.operators import (
    collapse,
    complement,
    cursor_page,
    hash_join,
    intersect,
    merge,
    top,
    unique,
)
from apache___solr_spark.plans.inspect import explain_str


@pytest.fixture(scope="module")
def li(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture(scope="module")
def part(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/part.parquet")


def test_hash_join_broadcasts(li, part):
    p = part.withColumnRenamed("p_partkey", "l_partkey")
    plan = explain_str(hash_join(li, p, ["l_partkey"]))
    assert "BroadcastHashJoin" in plan
    # the probe side must NOT shuffle
    assert "Exchange hashpartitioning(l_partkey" not in plan


def test_top_compiles_to_take_ordered(li):
    plan = explain_str(top(li, 10, F.col("l_extendedprice").desc()))
    assert "TakeOrderedAndProject" in plan


def test_filter_pushdown_reaches_scan(li):
    q = li.filter(F.col("l_shipdate") < "1996-01-01").select("l_orderkey")
    plan = explain_str(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # column pruning: scan reads only the two needed columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_shipdate:timestamp" in plan


def test_semi_and_anti_joins(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], "k int, v string")
    b = spark.createDataFrame([(2,), (3,), (4,)], "k int")
    assert sorted(r["k"] for r in intersect(a, b, ["k"]).collect()) == [2, 3]
    assert sorted(r["k"] for r in complement(a, b, ["k"]).collect()) == [1]
    plan_semi = explain_str(intersect(a, b, ["k"]))
    plan_anti = explain_str(complement(a, b, ["k"]))
    assert "LeftSemi" in plan_semi
    assert "LeftAnti" in plan_anti


def test_collapse_keeps_one_per_group(spark):
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (1, 20.0, "b"), (2, 5.0, "c")], "g int, s double, v string"
    )
    out = collapse(df, "g", [F.col("s").desc()]).collect()
    got = {r["g"]: r["v"] for r in out}
    assert got == {1: "b", 2: "c"}


def test_collapse_null_policy(spark):
    """nullPolicy (CollapsingQParserPlugin): ignore drops null-group docs
    (reference default), expand keeps each as its own group, collapse
    folds them into one best-scored null group."""
    import pytest

    df = spark.createDataFrame(
        [(1, 10.0, "a"), (1, 20.0, "b"), (None, 7.0, "x"), (None, 9.0, "y")],
        "g int, s double, v string",
    )
    order = [F.col("s").desc()]
    assert {r["v"] for r in collapse(df, "g", order).collect()} == {"b"}
    assert {r["v"] for r in collapse(df, "g", order, "expand").collect()} == {
        "b", "x", "y",
    }
    assert {r["v"] for r in collapse(df, "g", order, "collapse").collect()} == {
        "b", "y",
    }
    with pytest.raises(ValueError):
        collapse(df, "g", order, "bogus")


def test_facet_excludes_null_buckets(spark):
    from apache___solr_spark.operators.streams import facet

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), (None, 3), ("b", 4)], "k string, v int"
    )
    got = {(r["k"], r["count"]) for r in facet(df, "k").collect()}
    assert got == {("a", 2), ("b", 1)}


def test_pivot_facet_sparse_fields(spark):
    """Pivot semantics on sparse data: a doc missing the level-2 field
    still counts in its level-1 bucket but forms no level-2 bucket, and
    data nulls never masquerade as rollup levels."""
    from apache___solr_spark.operators.streams import pivot_facet

    df = spark.createDataFrame(
        [("a", "x"), ("a", None), ("b", "y"), (None, "z")],
        "f1 string, f2 string",
    )
    rows = {
        (r["level"], r["f1"], r["f2"]): r["count"]
        for r in pivot_facet(df, ["f1", "f2"]).collect()
    }
    # level 1: a counts BOTH its docs (one missing f2); null f1 no bucket
    assert rows == {
        (1, "a", None): 2,
        (1, "b", None): 1,
        (2, "a", "x"): 1,
        (2, "b", "y"): 1,
    }


def test_cursor_page_walks_whole_set(spark):
    df = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(50)], "id int, s double"
    )
    seen = []
    after = None
    while True:
        page = cursor_page(df, "s", "id", 12, after=after).collect()
        if not page:
            break
        seen.extend((r["s"], r["id"]) for r in page)
        after = (page[-1]["s"], page[-1]["id"])
    assert len(seen) == 50
    assert seen == sorted(seen)  # keyset order, no dup/skip


def test_python_xxhash_matches_spark(spark):
    """The numpy XXH64 over an Arrow string array and the bucket function
    built on it must equal Spark's xxhash64 and the builder's bucket
    expression, pmod(xxhash64, n): the driver placement of the build writes
    postings under those buckets, the Spark placement, add_docs and
    optimize under the expression's.
    Every branch of the algorithm is covered: UTF-8 lengths 0, 1-3 (bytes
    only), 4-7 (one 4-byte word), 8-31 (8-byte words) and >=32 (32-byte
    stripes, then the tail), ASCII and multi-byte terms, and a sliced
    array."""
    import random
    import string

    import pyarrow as pa

    from apache___solr_spark.config import IndexConfig
    from apache___solr_spark.index.builder import _bucket
    from apache___solr_spark.index.xxhash import term_buckets, xxhash64

    rnd = random.Random(7)
    alphabet = string.ascii_lowercase + "0123456789'é中"
    terms = ["", "a", "web", "don't", "é", "中", "éa", "中文", "x" * 32, "y" * 33]
    for lo, hi in ((1, 3), (4, 7), (8, 31), (32, 100)):
        for _ in range(60):
            terms.append("".join(rnd.choices(alphabet, k=rnd.randint(lo, hi))))
    lengths = {len(t.encode()) for t in terms}
    for lo, hi in ((0, 0), (1, 3), (4, 7), (8, 31), (32, 64), (65, 400)):
        assert any(lo <= n <= hi for n in lengths), (lo, hi)
    n_buckets = 64
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    got = {
        r["term"]: (r["h"], r["b"])
        for r in df.select(
            "term",
            F.xxhash64("term").alias("h"),
            _bucket(IndexConfig(n_buckets=n_buckets)).alias("b"),
        ).collect()
    }
    arr = pa.array(terms, pa.string())
    hashes = xxhash64(arr)
    buckets = term_buckets(arr, n_buckets)
    for t, h, b in zip(terms, hashes, buckets):
        assert got[t] == (int(h), int(b)), t
    tail = arr.slice(5, 40)
    assert list(xxhash64(tail)) == list(hashes[5:45])
    assert list(xxhash64(pa.chunked_array([arr[:3], arr[3:]]))) == list(hashes)


def test_merge_unique(spark):
    a = spark.createDataFrame([(1,), (2,)], "k int")
    b = spark.createDataFrame([(2,), (3,)], "k int")
    assert sorted(r["k"] for r in unique(merge(a, b), ["k"]).collect()) == [1, 2, 3]


def test_read_jdbc_stream_embedded_derby(spark, tmp_path):
    """JDBCStream parity against a real RDBMS: Spark bundles embedded Derby
    (the Hive-metastore dependency), so create and populate a database
    through the driver JVM and pull it back with read_jdbc_stream."""
    from apache___solr_spark.sources.loaders import read_jdbc_stream

    url = f"jdbc:derby:{tmp_path}/jdbcdb;create=true"
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        st.executeUpdate("CREATE TABLE people(id INT, name VARCHAR(20))")
        for i, name in enumerate(["ada", "grace", "edsger"]):
            st.executeUpdate(f"INSERT INTO people VALUES ({i}, '{name}')")
        st.close()
    finally:
        conn.close()
    df = read_jdbc_stream(
        spark, url, "people", driver="org.apache.derby.jdbc.EmbeddedDriver"
    )
    got = {(r["ID"], r["NAME"]) for r in df.collect()}
    assert got == {(0, "ada"), (1, "grace"), (2, "edsger")}


def test_read_pages_parquet_and_validation(spark, tmp_path):
    """read_pages: the canonical pages-table entry point — parquet loads and
    validates the five-column shape; a mis-shaped table fails with a
    readable message; the iceberg branch (no runtime jar in this container)
    raises a clear RuntimeError instead of an opaque ClassNotFound."""
    import pytest

    from apache___solr_spark.corpus import write_pages_parquet
    from apache___solr_spark.sources.loaders import read_pages

    p = str(tmp_path / "pages.parquet")
    write_pages_parquet(p, n_docs=20, seed=1)
    df = read_pages(spark, p)  # fmt="auto" -> parquet (path has "/")
    assert set(("url", "warc_ts", "html", "text", "lang")) <= set(df.columns)
    assert df.count() == 20

    bad = str(tmp_path / "bad.parquet")
    spark.createDataFrame([(1,)], "x int").write.parquet(bad)
    with pytest.raises(ValueError, match="missing columns"):
        read_pages(spark, bad)

    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        read_pages(spark, "catalog.db.pages", fmt="iceberg")

    # auto-detection: a bare relative *.parquet name is NOT a table name —
    # it must route to the parquet reader (path error), never to iceberg
    with pytest.raises(Exception) as ei:
        read_pages(spark, "nonexistent.parquet")
    assert "iceberg" not in str(ei.value).lower()


def test_read_xml_docs(spark, tmp_path):
    """XMLLoader parity: <add><doc><field name=...> payloads, last-wins
    uniqueKey overwrite."""
    from apache___solr_spark.sources.loaders import read_xml_docs

    payload = """<add>
      <doc><field name="id">1</field><field name="title">first</field></doc>
      <doc><field name="id">2</field><field name="title">second</field></doc>
      <doc><field name="id">1</field><field name="title">first-v2</field></doc>
    </add>"""
    p = tmp_path / "upd.xml"
    p.write_text(payload)
    df = read_xml_docs(spark, str(p))
    rows = {r["id"]: r["title"] for r in df.collect()}
    assert rows == {"1": "first-v2", "2": "second"}


def test_write_response_roundtrips(spark, tmp_path):
    """Response writers (JSONResponseWriter/CSVResponseWriter/parquet):
    every format roundtrips the frame content."""
    from apache___solr_spark.sources.loaders import write_response

    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", -2.0), (3, None, 0.0)],
        "id long, name string, score double",
    )
    want = {(r["id"], r["name"], r["score"]) for r in df.collect()}
    for fmt, read in (
        ("json", lambda p: spark.read.json(p)),
        ("csv", lambda p: spark.read.option("header", "true").csv(
            p, schema="id long, name string, score double")),
        ("parquet", lambda p: spark.read.parquet(p)),
    ):
        out = str(tmp_path / f"resp_{fmt}")
        write_response(df, out, fmt=fmt)
        got = {(r["id"], r["name"], r["score"]) for r in read(out).collect()}
        assert got == want, fmt
    # CBOR (response/CborResponseWriter.java): RFC 8949 payload files the
    # CborLoader-equivalent reads straight back — full writer->loader
    # round-trip through the repo's own encoder/decoder tables
    from apache___solr_spark.sources.binformats import cbor_loads
    from apache___solr_spark.sources.loaders import read_cbor_docs

    out = str(tmp_path / "resp_cbor")
    write_response(df, out, fmt="cbor")
    import glob as _glob

    files = sorted(_glob.glob(out + "/part-*.cbor"))
    assert files and not _glob.glob(out + "/.part-*")  # atomic renames
    raw_docs = []
    for f in files:
        raw_docs.extend(cbor_loads(open(f, "rb").read()))
    assert {(d["id"], d.get("name"), d["score"]) for d in raw_docs} == want
    back = read_cbor_docs(spark, out, unique_key="id")
    got = {
        (r["id"], r["name"] if "name" in back.columns else None, r["score"])
        for r in back.collect()
    }
    assert got == want

    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        write_response(df, str(tmp_path / "x"), fmt="avro")


def test_export_sorted_writes_sorted_runs(spark, tmp_path):
    """/export capability: the written files hold the full result set and
    each output file is internally sorted by the sort key (ExportWriter
    streams sorted batches; a distributed sorted write yields sorted runs
    per file, totally ordered across the range-partitioned files)."""
    import glob

    from pyspark.sql import functions as F
    from apache___solr_spark.sources.loaders import export_sorted

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 7919 % 1000).alias("key")
    )
    out = str(tmp_path / "export")
    export_sorted(df, out, [F.col("key").asc(), F.col("id").asc()])
    back = spark.read.parquet(out)
    assert back.count() == 1000
    # per-file sortedness
    for f in glob.glob(out + "/part-*.parquet"):
        rows = [
            (r["key"], r["id"]) for r in spark.read.parquet("file://" + f).collect()
        ]
        assert rows == sorted(rows), f


def test_fetch_enriches_and_broadcasts(spark):
    """fetch() stream (FetchStream.java): lookup enrichment keeps every left
    tuple, fills missing keys with null, and the lookup side broadcasts."""
    from apache___solr_spark.operators.streams import fetch

    stream = spark.createDataFrame(
        [(1, "q1"), (2, "q2"), (9, "q9")], "id long, q string"
    )
    lookup = spark.createDataFrame(
        [(1, "alpha", 10), (2, "beta", 20), (3, "gamma", 30)],
        "id long, name string, rank int",
    )
    out = fetch(stream, lookup, on=["id"], fields=["name"])
    assert "rank" not in out.columns  # only requested fields fetched
    got = {r["id"]: r["name"] for r in out.collect()}
    assert got == {1: "alpha", 2: "beta", 9: None}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan
