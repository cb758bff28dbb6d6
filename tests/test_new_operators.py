"""Tests for round-2 operators: scored/block joins, graph traversal,
suggest, relatedness, pivot/range facets, highlighting."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache___solr_spark.operators import (
    block_join_children,
    block_join_parent,
    gather_nodes,
    pivot_facet,
    range_facet_other,
    relatedness_expr,
    score_join,
    shortest_path,
    unique_block,
)
from apache___solr_spark.query.suggest import suggest_prefix, suggest_terms


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_score_join_modes(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    right = spark.createDataFrame(
        [(1, 10.0), (1, 30.0), (2, 5.0)], "rk long, s double"
    )
    got = {
        (r["k"], r["join_score"])
        for r in score_join(left, right, "k", "rk", "s", "max").collect()
    }
    assert got == {(1, 30.0), (2, 5.0)}  # 3 has no match -> dropped
    got_avg = {
        (r["k"], r["join_score"])
        for r in score_join(left, right, "k", "rk", "s", "avg").collect()
    }
    assert got_avg == {(1, 20.0), (2, 5.0)}


def test_block_join_parent_children(spark):
    parents = spark.createDataFrame([(1, 10.0), (2, 99.0)], "pid long, w double")
    children = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "z")], "root long, tag string"
    )
    p = block_join_parent(parents, children, "pid", "root", F.col("tag") == "y")
    assert [r["pid"] for r in p.collect()] == [1]
    c = block_join_children(parents, children, "pid", "root", F.col("w") > 50)
    assert sorted(r["tag"] for r in c.collect()) == ["z"]


def test_unique_block(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("b", 1)], "g string, root long"
    )
    got = {(r["g"], r["unique_block"]) for r in unique_block(df, "g", "root").collect()}
    assert got == {("a", 2), ("b", 1)}


def test_gather_nodes_depths(spark):
    edges = _edges(spark, [(1, 2), (2, 3), (3, 4), (1, 3)])
    seeds = spark.createDataFrame([(1,)], "src long")
    got = {
        (r["node"], r["depth"])
        for r in gather_nodes(edges, seeds, "src", "dst", hops=3).collect()
    }
    # 3 is reachable at depth 1 via the 1->3 edge (BFS first-visit depth)
    assert got == {(1, 0), (2, 1), (3, 1), (4, 2)}


def test_shortest_path(spark):
    edges = _edges(
        spark, [(1, 2), (2, 3), (3, 5), (1, 4), (4, 5), (5, 6), (7, 8)]
    )
    assert shortest_path(edges, 1, 6, "src", "dst") == [1, 4, 5, 6]
    assert shortest_path(edges, 1, 8, "src", "dst") == []
    assert shortest_path(edges, 1, 1, "src", "dst") == [1]


def test_suggest(spark):
    dictionary = spark.createDataFrame(
        [("table", 100), ("cable", 20), ("tale", 30), ("zzz", 5), ("tables", 40)],
        "term string, df long",
    )
    got = [tuple(r) for r in suggest_terms(dictionary, "tabel").collect()]
    # distance asc, freq desc: table=1? levenshtein('table','tabel')=2 (swap)
    assert all(r[2] <= 2 for r in got)
    assert got[0][0] in ("table", "tale", "tables")
    pre = [r["term"] for r in suggest_prefix(dictionary, "tab").collect()]
    assert pre == ["table", "tables"]


def test_suggesters_sum_segment_rows(spark):
    """After add_docs a term holds one dictionary row per segment: every
    suggester lists it once, ranked by its summed frequency."""
    from apache___solr_spark.query.suggest import suggest_infix

    dictionary = spark.createDataFrame(
        [("zeta", 3), ("zetc", 4), ("zeta", 3)], "term string, df long"
    )
    got = [tuple(r) for r in suggest_terms(dictionary, "zetb").collect()]
    assert got == [("zeta", 6, 1), ("zetc", 4, 1)]
    pre = [tuple(r) for r in suggest_prefix(dictionary, "zet").collect()]
    assert pre == [("zeta", 6), ("zetc", 4)]
    infix = [
        (r["term"], r["freq"]) for r in suggest_infix(dictionary, "et").collect()
    ]
    assert infix == [("zeta", 6), ("zetc", 4)]


def test_relatedness_matches_reference_formula(spark):
    # reference computeRelatedness(10, 100, 50, 1000) recomputed in python
    import math

    def sig(x, o, s):
        return (x + o) / (s + abs(x + o))

    fg_count, fg_size, bg_count, bg_size = 10, 100, 50, 1000
    bg_prob = bg_count / bg_size
    num = fg_count - fg_size * bg_prob
    denom = math.sqrt(fg_size * bg_prob * (1 - bg_prob)) or 1e-10
    z = num / denom
    want = round(
        sum(
            0.2 * sig(z, o, s)
            for o, s in [(-80, 50), (-30, 30), (0, 30), (30, 30), (80, 50)]
        ),
        5,
    )
    df = spark.range(1).select(
        relatedness_expr(
            F.lit(10.0), F.lit(100.0), F.lit(50.0), F.lit(1000.0)
        ).alias("r")
    )
    assert abs(df.collect()[0]["r"] - want) < 1e-9


def test_range_facet_other_buckets(spark):
    df = spark.createDataFrame([(v,) for v in [5.0, 15.0, 25.0, 95.0]], "x double")
    got = {(r["bucket"], r["n"]) for r in range_facet_other(df, "x", 10, 90, 40).collect()}
    assert got == {("before", 1), ("after", 1), ("10", 2), ("between", 2)}


def test_pivot_facet_levels(spark):
    df = spark.createDataFrame(
        [("us", "a"), ("us", "b"), ("fr", "a")], "c string, s string"
    )
    rows = pivot_facet(df, ["c", "s"]).collect()
    lvl1 = {(r["c"], r["count"]) for r in rows if r["level"] == 1}
    lvl2 = {(r["c"], r["s"], r["count"]) for r in rows if r["level"] == 2}
    assert lvl1 == {("us", 2), ("fr", 1)}
    assert lvl2 == {("us", "a", 1), ("us", "b", 1), ("fr", "a", 1)}


def test_highlight_text(spark):
    from apache___solr_spark.query.extras import highlight_text

    df = spark.createDataFrame(
        [("The table has Tables on the table.",)], "text string"
    )
    out = df.select(highlight_text("text", ["table"]).alias("s")).collect()[0]["s"]
    assert out == "The <em>table</em> has Tables on the <em>table</em>."


def test_heatmap_facet(spark):
    from apache___solr_spark.operators import heatmap_facet

    df = spark.createDataFrame(
        [(1.0, 1.0), (1.5, 1.2), (11.0, 1.0), (1.0, 25.0)], "x double, y double"
    )
    got = {
        (r["x_bucket"], r["y_bucket"], r["n"])
        for r in heatmap_facet(df, "x", "y", 0.0, 10.0, 0.0, 10.0).collect()
    }
    assert got == {(0, 0, 2), (1, 0, 1), (0, 2, 1)}


def test_gather_nodes_deep_traversal_checkpoints(spark):
    """hops > 8 exercises the lineage-cut path (localCheckpoint every 8
    hops); results must equal the short-lineage answer on a chain graph."""
    from apache___solr_spark.operators.graph import gather_nodes

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src bigint, dst bigint"
    )
    seeds = spark.createDataFrame([(0,)], "src bigint")
    out = gather_nodes(edges, seeds, "src", "dst", hops=12)
    rows = {r["node"]: r["depth"] for r in out.collect()}
    assert rows == {i: i for i in range(13)}


def test_suggest_infix(spark):
    dictionary = spark.createDataFrame(
        [("table", 100), ("cable", 20), ("tale", 30), ("zzz", 5), ("abject", 40)],
        "term string, df long",
    )
    from apache___solr_spark.query.suggest import suggest_infix

    got = [
        (r["term"], r["highlighted"])
        for r in suggest_infix(dictionary, "ab").collect()
    ]
    # prefix match first (abject), then infix by freq desc (table, cable)
    assert got == [
        ("abject", "<b>ab</b>ject"),
        ("table", "t<b>ab</b>le"),
        ("cable", "c<b>ab</b>le"),
    ]


def test_interval_facet_overlapping(spark):
    from apache___solr_spark.operators import interval_facet

    df = spark.createDataFrame(
        [(float(v),) for v in [0, 5, 10, 15, 20, 25, 30]], "x double"
    )
    got = {
        r["interval"]: r["n"]
        for r in interval_facet(
            df, "x", ["[*,10)", "[5,20]", "(20,30)", "[30,*]", "(5,5)"]
        ).collect()
    }
    # overlapping intervals each count independently; bounds honor open/closed
    assert got == {
        "[*,10)": 2,   # 0, 5
        "[5,20]": 4,   # 5, 10, 15, 20
        "(20,30)": 1,  # 25
        "[30,*]": 1,   # 30
        "(5,5)": 0,    # empty open interval
    }
    # request order is preserved in the output rows
    order = [
        r["interval"]
        for r in interval_facet(df, "x", ["[30,*]", "[*,10)"]).collect()
    ]
    assert order == ["[30,*]", "[*,10)"]


def test_interval_facet_bad_syntax(spark):
    import pytest as _pytest

    from apache___solr_spark.operators import interval_facet

    df = spark.range(1).selectExpr("CAST(id AS DOUBLE) AS x")
    with _pytest.raises(ValueError, match="invalid facet interval"):
        interval_facet(df, "x", ["10,20"])
    with _pytest.raises(ValueError, match="start,end"):
        interval_facet(df, "x", ["[10]"])


def test_sql_handler_views(spark):
    from apache___solr_spark.query.sql_handler import sql

    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("b", 3)], "k string, v int"
    )
    out = sql(
        spark,
        "SELECT k, sum(v) AS s FROM c GROUP BY k HAVING sum(v) > 1 "
        "ORDER BY k",
        c=df,
    ).collect()
    assert [(r["k"], r["s"]) for r in out] == [("b", 5)]
