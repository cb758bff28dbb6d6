"""Rerank / RRF / MoreLikeThis / date math."""

from __future__ import annotations

import datetime

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from apache___solr_spark.config import IndexConfig
from apache___solr_spark.corpus import generate_pages
from apache___solr_spark.functions.datemath import date_math
from apache___solr_spark.index.builder import build_index
from apache___solr_spark.oracle import build_oracle_index, oracle_search
from apache___solr_spark.query.engine import SearchEngine
from apache___solr_spark.query.extras import (
    mlt_like_content,
    more_like_this,
    reciprocal_rank_fusion,
    rerank,
)

CFG = IndexConfig(salt_range=128, n_buckets=8)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("extras")
    path = str(d / "pages.parquet")
    table = generate_pages(300, seed=42)
    pq.write_table(table, path)
    out = str(d / "idx")
    build_index(spark, path, out, cfg=CFG)
    return out, table


def test_rerank_weight_zero_is_identity(spark, built):
    out, _ = built
    eng = SearchEngine(spark, out, cfg=CFG)
    base = [(r["doc_id"], r["score"]) for r in eng.search("web page", k=10).collect()]
    rr = [
        (r["doc_id"], r["score"])
        for r in rerank(eng, "web page", "data", k=10, rerank_weight=0.0).collect()
    ]
    assert [d for d, _ in rr] == [d for d, _ in base]
    for (_, a), (_, b) in zip(rr, base):
        assert a == pytest.approx(b, rel=1e-6)


def test_rerank_matches_oracle_combination(spark, built):
    out, table = built
    eng = SearchEngine(spark, out, cfg=CFG)
    idx = build_oracle_index(table.to_pylist())
    w, nd = 2.0, 50
    main = oracle_search(idx, "web page", k=nd)
    second = {h["doc_id"]: h["score"] for h in oracle_search(idx, "data", k=idx.n_docs)}
    fused = sorted(
        (
            (-(h["score"] + w * second.get(h["doc_id"], 0.0)), h["doc_id"])
            for h in main
        ),
    )[:10]
    want = [d for _, d in fused]
    got = [
        r["doc_id"]
        for r in rerank(eng, "web page", "data", k=10, rerank_docs=nd, rerank_weight=w).collect()
    ]
    assert got == want


def test_rrf(spark):
    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "id int, rank int")
    b = spark.createDataFrame([(3, 1), (1, 2), (4, 3)], "id int, rank int")
    out = {
        r["id"]: r["rrf_score"]
        for r in reciprocal_rank_fusion([a, b], "id", k=60, limit=10).collect()
    }
    assert out[1] == pytest.approx(round(1 / 61 + 1 / 62, 6))
    assert out[3] == pytest.approx(round(1 / 63 + 1 / 61, 6))
    assert out[4] == pytest.approx(round(1 / 63, 6))
    top = reciprocal_rank_fusion([a, b], "id", limit=2).collect()
    assert [r["id"] for r in top] == sorted(
        out, key=lambda i: (-out[i], i)
    )[:2]


def test_more_like_this(spark, built):
    out, _ = built
    eng = SearchEngine(spark, out, cfg=CFG)
    hits = more_like_this(eng, doc_id=5, k=5).collect()
    assert 0 < len(hits) <= 5
    assert all(r["doc_id"] != 5 for r in hits)
    assert [r["rank"] for r in hits] == list(range(1, len(hits) + 1))
    # unknown doc -> empty
    assert more_like_this(eng, doc_id=10**9, k=5).count() == 0


def test_empty_mlt_page_schema_follows_score_type(spark, built):
    """An empty MoreLikeThis page has the schema of the engine's empty
    search page, whose score type follows the index's score dtype."""
    from pyspark.sql.types import DoubleType

    out, _ = built
    eng = SearchEngine(spark, out, cfg=CFG)
    eng._sql_t, eng._dtype = "double", np.float64
    empty = eng.search("zzznotaterm").schema
    assert empty["score"].dataType == DoubleType()
    for page in (
        more_like_this(eng, doc_id=10**9, k=5),  # no such doc
        more_like_this(eng, doc_id=5, k=5, min_doc_freq=10**9),  # no terms
        mlt_like_content(eng, ""),  # no tokens
        mlt_like_content(eng, "zzznotaterm"),  # no indexed terms
    ):
        assert page.schema == empty and page.count() == 0


def test_date_math(spark):
    df = spark.createDataFrame(
        [(datetime.datetime(2024, 3, 15, 13, 45, 7),)], "ts timestamp"
    )
    got = df.select(
        date_math(F.col("ts"), "/DAY").alias("a"),
        date_math(F.col("ts"), "/DAY+7DAYS-1HOUR").alias("b"),
        date_math(F.col("ts"), "+1MONTH").alias("c"),
        date_math(F.col("ts"), "/HOUR+30MINUTES").alias("d"),
    ).collect()[0]
    assert got["a"] == datetime.datetime(2024, 3, 15, 0, 0)
    assert got["b"] == datetime.datetime(2024, 3, 21, 23, 0)
    assert got["c"] == datetime.datetime(2024, 4, 15, 13, 45, 7)
    assert got["d"] == datetime.datetime(2024, 3, 15, 13, 30)
    with pytest.raises(ValueError):
        date_math(F.col("ts"), "NOPE")
    with pytest.raises(ValueError):
        date_math(F.col("ts"), "/BOGUS")


def test_function_registry_values(spark):
    """Every scalar in FUNCTION_REGISTRY evaluates to the math it names
    (ValueSourceParser.java parity, unit-level)."""
    import math

    from pyspark.sql import functions as F

    from apache___solr_spark.functions.registry import fn

    df = spark.createDataFrame(
        [(3.0, 4.0, [1.0, 2.0], [4.0, 6.0])], "a double, b double, va array<double>, vb array<double>"
    )
    cases = {
        "add": (fn("add", F.col("a"), F.col("b"), F.lit(1.0)), 8.0),
        "sub": (fn("sub", F.col("a"), F.col("b")), -1.0),
        "product": (fn("product", F.col("a"), F.col("b")), 12.0),
        "div": (fn("div", F.col("a"), F.col("b")), 0.75),
        "mod": (fn("mod", F.col("b"), F.col("a")), 1.0),
        "abs": (fn("abs", F.lit(-2.5)), 2.5),
        "sqrt": (fn("sqrt", F.col("b")), 2.0),
        "pow": (fn("pow", F.col("a"), F.lit(2.0)), 9.0),
        "hypot": (fn("hypot", F.col("a"), F.col("b")), 5.0),
        "ln": (fn("ln", F.lit(math.e)), 1.0),
        "log": (fn("log", F.lit(100.0)), 2.0),
        "sin": (fn("sin", F.lit(0.0)), 0.0),
        "atan2": (fn("atan2", F.lit(1.0), F.lit(1.0)), math.pi / 4),
        "rad": (fn("rad", F.lit(180.0)), math.pi),
        "deg": (fn("deg", F.lit(math.pi)), 180.0),
        "pi": (fn("pi"), math.pi),
        "if": (fn("if", F.col("a") > F.col("b"), F.lit(1.0), F.lit(0.0)), 0.0),
        "def": (fn("def", F.lit(None).cast("double"), F.lit(7.0)), 7.0),
        "map": (fn("map", F.col("a"), F.lit(0.0), F.lit(5.0), F.lit(-1.0)), -1.0),
        "strdist": (fn("strdist", F.lit("kitten"), F.lit("sitting")), 3),
        "linear": (fn("linear", F.col("a"), F.lit(2.0), F.lit(1.0)), 7.0),
        "recip": (fn("recip", F.col("a"), 1.0, 2.0, 1.0), 0.5),
        "max": (fn("max", F.col("a"), F.col("b")), 4.0),
        "min": (fn("min", F.col("a"), F.col("b")), 3.0),
        "sum": (fn("sum", F.col("a"), F.col("b")), 7.0),
        "sqedist": (fn("sqedist", F.col("va"), F.col("vb")), 25.0),
        "dist": (fn("dist", 2, F.col("va"), F.col("vb")), 5.0),
        "exists": (fn("exists", F.col("a")), True),
        "gt": (fn("gt", F.col("b"), F.col("a")), True),
    }
    row = df.select(
        *[c.alias(n) for n, (c, _) in cases.items()]
    ).collect()[0]
    for name, (_, want) in cases.items():
        got = row[name]
        if isinstance(want, bool):
            assert got is want, name
        else:
            assert abs(float(got) - float(want)) < 1e-9, (name, got, want)


def test_stream_evaluators(spark):
    """Math-expression evaluator subset (solrj-streaming io/eval) — array,
    similarity, and aggregation shapes against hand-computed values."""
    from pyspark.sql import functions as F

    from apache___solr_spark.functions import evaluators as E

    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0, 4.0], [2.0, 0.0, 1.0, 3.0])],
        "a array<double>, b array<double>",
    )
    row = df.select(
        E.asc_sort(F.col("b")).alias("asc"),
        E.rev(F.col("a")).alias("rev"),
        E.copy_of_range(F.col("a"), 1, 3).alias("sl"),
        E.append_arr(F.col("a"), F.lit(9.0)).alias("app"),
        E.sequence(4, 2, 3).alias("seq"),
        E.ebe_add(F.col("a"), F.col("b")).alias("add"),
        E.dot_product(F.col("a"), F.col("b")).alias("dot"),
        E.cosine_similarity(F.col("a"), F.col("a")).alias("cos_self"),
        E.euclidean_distance(F.col("a"), F.col("b")).alias("euc"),
        E.manhattan_distance(F.col("a"), F.col("b")).alias("man"),
        E.chebyshev_distance(F.col("a"), F.col("b")).alias("che"),
        E.scale_arr(2.0, F.col("a")).alias("scaled"),
        E.normalize_sum(F.col("a")).alias("norm"),
        E.moving_avg(F.col("a"), 2).alias("mavg"),
        E.cumulative_sum(F.col("a")).alias("csum"),
    ).collect()[0]
    assert row["asc"] == [0.0, 1.0, 2.0, 3.0]
    assert row["rev"] == [4.0, 3.0, 2.0, 1.0]
    assert row["sl"] == [2.0, 3.0]
    assert row["app"] == [1.0, 2.0, 3.0, 4.0, 9.0]
    assert row["seq"] == [2, 5, 8, 11]
    assert row["add"] == [3.0, 2.0, 4.0, 7.0]
    assert row["dot"] == 17.0
    assert abs(row["cos_self"] - 1.0) < 1e-12
    assert abs(row["euc"] - (1 + 4 + 4 + 1) ** 0.5) < 1e-12
    assert row["man"] == 6.0
    assert row["che"] == 2.0
    assert row["scaled"] == [2.0, 4.0, 6.0, 8.0]
    assert abs(sum(row["norm"]) - 1.0) < 1e-12
    assert row["mavg"] == [1.5, 2.5, 3.5]
    assert row["csum"] == [1.0, 3.0, 6.0, 10.0]

    data = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 4.1), (3.0, 5.9), (4.0, 8.2)], "x double, y double"
    )
    d = E.describe(data, "x").collect()[0]
    assert d["n"] == 4 and d["mean"] == 2.5 and d["sum"] == 10.0
    c = E.correlation(data, "x", "y").collect()[0]["corr"]
    assert c > 0.99
    r = E.regress(data, "x", "y").collect()[0]
    assert abs(r["slope"] - 2.04) < 0.05
    h = E.hist(data, "x", 2, 0.0, 4.0).collect()
    assert [(x["bin"], x["count"]) for x in h] == [(0, 1), (1, 2)]
    p = E.percentile_eval(data, "x", 0.5).collect()[0]["percentile"]
    assert p == 2.5


def test_stream_evaluators_round3(spark):
    """Round-3 evaluator families: normalization, interpolation, means,
    EMA, ranks, diffs, IQR outliers — numpy-checked."""
    import numpy as np
    from pyspark.sql import functions as F

    from apache___solr_spark.functions import evaluators as E

    a = [1.0, 2.0, 3.0, 4.0]
    df = spark.createDataFrame([(a,)], "a array<double>")
    row = df.select(
        E.zscores(F.col("a")).alias("z"),
        E.min_max_scale(F.col("a")).alias("mm"),
        E.unitize(F.col("a")).alias("u"),
        E.finite_diff(F.col("a")).alias("d"),
        E.harmonic_mean(F.col("a")).alias("hm"),
        E.geometric_mean(F.col("a")).alias("gm"),
        E.exp_moving_avg(F.col("a"), 2).alias("ema"),
        E.rank_transform(F.col("a")).alias("rk"),
        E.log10_arr(F.col("a")).alias("lg"),
        E.recip(F.col("a")).alias("rc"),
    ).collect()[0]
    arr = np.array(a)
    want_z = (arr - arr.mean()) / arr.std(ddof=1)
    assert np.allclose(row["z"], want_z)
    assert row["mm"] == [0.0, 1.0 / 3, 2.0 / 3, 1.0]
    assert np.allclose(row["u"], arr / np.linalg.norm(arr))
    assert row["d"] == [1.0, 1.0, 1.0]
    assert abs(row["hm"] - 4 / (1 + 0.5 + 1 / 3 + 0.25)) < 1e-12
    assert abs(row["gm"] - float(np.prod(arr) ** 0.25)) < 1e-12
    # EMA alpha=2/3, seed=mean([1,2])=1.5: 1.5, 1.5/3+3*2/3=2.5, 2.5/3+4*2/3=3.5
    assert np.allclose(row["ema"], [1.5, 2.5, 3.5])
    assert row["rk"] == [1, 2, 3, 4]
    assert np.allclose(row["lg"], np.log10(arr))
    assert np.allclose(row["rc"], 1.0 / arr)

    pts = spark.createDataFrame(
        [([0.0, 10.0, 20.0], [0.0, 100.0, 50.0], [5.0, 15.0, 10.0])],
        "xs array<double>, ys array<double>, p array<double>",
    )
    got = pts.select(E.lerp(F.col("xs"), F.col("ys"), F.col("p")).alias("v")).collect()[0]["v"]
    assert got == [50.0, 75.0, 100.0]

    data = spark.createDataFrame(
        [(float(v),) for v in [1, 2, 3, 4, 5, 6, 7, 8, 100]], "x double"
    )
    outs = E.outliers_iqr(data, "x").collect()
    assert [r["x"] for r in outs] == [100.0]


def test_distribution_evaluators(spark):
    """Probability-distribution family (io/eval NormalDistribution-,
    UniformDistribution-, PoissonDistribution-, BinomialDistribution-,
    Probability-, CumulativeProbability-, Sample-, EmpiricalDistribution-
    Evaluator) — checked against exact stdlib math."""
    import math as m

    from pyspark.sql import functions as F

    from apache___solr_spark.functions import evaluators as E

    df = spark.createDataFrame(
        [(float(x),) for x in (-1.5, 0.0, 0.7, 2.0, 5.0)], "x double"
    )
    norm = E.normal_dist(1.0, 2.0)
    uni = E.uniform_dist(0.0, 4.0)
    rows = df.select(
        "x",
        E.probability(norm, F.col("x")).alias("npdf"),
        E.cumulative_probability(norm, F.col("x")).alias("ncdf"),
        E.probability(uni, F.col("x")).alias("updf"),
        E.cumulative_probability(uni, F.col("x")).alias("ucdf"),
    ).collect()
    for r in rows:
        x = r["x"]
        want_pdf = m.exp(-0.5 * ((x - 1.0) / 2.0) ** 2) / (2.0 * m.sqrt(2 * m.pi))
        want_cdf = 0.5 * (1.0 + m.erf((x - 1.0) / (2.0 * m.sqrt(2.0))))
        assert abs(r["npdf"] - want_pdf) < 1e-9, x
        assert abs(r["ncdf"] - want_cdf) < 2e-7, x  # A&S 7.1.26 bound
        assert r["updf"] == (0.25 if 0.0 <= x <= 4.0 else 0.0)
        assert abs(r["ucdf"] - min(max(x / 4.0, 0.0), 1.0)) < 1e-12

    kdf = spark.createDataFrame([(k,) for k in range(-1, 13)], "k int")
    poi = E.poisson_dist(3.5)
    bino = E.binomial_dist(10, 0.3)
    rows = kdf.select(
        "k",
        E.probability(poi, F.col("k")).alias("ppmf"),
        E.cumulative_probability(poi, F.col("k")).alias("pcdf"),
        E.probability(bino, F.col("k")).alias("bpmf"),
        E.cumulative_probability(bino, F.col("k")).alias("bcdf"),
    ).collect()
    for r in rows:
        k = r["k"]
        if k < 0:
            assert r["ppmf"] == 0.0 and r["pcdf"] == 0.0
            assert r["bpmf"] == 0.0 and r["bcdf"] == 0.0
            continue
        want_p = m.exp(-3.5) * 3.5**k / m.factorial(k)
        want_pc = sum(m.exp(-3.5) * 3.5**i / m.factorial(i) for i in range(k + 1))
        assert abs(r["ppmf"] - want_p) < 1e-12, k
        assert abs(r["pcdf"] - want_pc) < 1e-12, k
        if k > 10:
            assert r["bpmf"] == 0.0 and r["bcdf"] == 1.0
        else:
            want_b = m.comb(10, k) * 0.3**k * 0.7 ** (10 - k)
            want_bc = sum(
                m.comb(10, i) * 0.3**i * 0.7 ** (10 - i) for i in range(k + 1)
            )
            assert abs(r["bpmf"] - want_b) < 1e-12, k
            assert abs(r["bcdf"] - want_bc) < 1e-12, k

    # sampling: deterministic under seed, roughly the right moments
    s = E.sample_dist(spark, norm, 4000, seed=7)
    agg = s.agg(F.avg("value").alias("m"), F.stddev("value").alias("sd")).collect()[0]
    assert abs(agg["m"] - 1.0) < 0.15 and abs(agg["sd"] - 2.0) < 0.15
    again = E.sample_dist(spark, norm, 4000, seed=7).agg(F.avg("value")).collect()
    assert again[0][0] == agg["m"]

    # empirical CDF: one agg pass, exact fractions
    obs = spark.createDataFrame([(float(x),) for x in range(1, 11)], "v double")
    e = {r["value"]: r["cdf"] for r in E.empirical_cdf(obs, "v", [0.5, 5.0, 10.0]).collect()}
    assert e == {0.5: 0.0, 5.0: 0.5, 10.0: 1.0}


def test_spline_interpolation(spark):
    """SplineEvaluator: natural cubic spline.  Oracle = independent dense
    np.linalg.solve of the full tridiagonal moment system + the defining
    properties (knot exactness, linear reproduction)."""
    import numpy as np
    from pyspark.sql import functions as F

    from apache___solr_spark.functions.evaluators import spline_interp

    rng = np.random.default_rng(9)
    xs = np.sort(rng.uniform(0, 10, 9))
    ys = rng.normal(size=9)
    probes = np.linspace(xs[0], xs[-1], 25)
    lin_y = 3.0 * xs - 1.0

    df = spark.createDataFrame(
        [
            (1, [float(v) for v in xs], [float(v) for v in ys],
             [float(v) for v in probes]),
            (2, [float(v) for v in xs], [float(v) for v in lin_y],
             [float(v) for v in probes]),
            (3, [float(v) for v in xs], [float(v) for v in ys],
             [float(v) for v in xs]),
        ],
        "id long, xs array<double>, ys array<double>, probes array<double>",
    )
    got = {
        r["id"]: np.array(r["interpolated"])
        for r in spline_interp(df, "xs", "ys", "probes").collect()
    }

    # knot exactness
    np.testing.assert_allclose(got[3], ys, atol=1e-12)
    # a straight line is its own natural spline
    np.testing.assert_allclose(got[2], 3.0 * probes - 1.0, atol=1e-10)

    # independent oracle: dense solve of the natural-spline moment system
    n = len(xs)
    h = np.diff(xs)
    A = np.zeros((n, n))
    rhs = np.zeros(n)
    A[0, 0] = A[-1, -1] = 1.0
    for i in range(1, n - 1):
        A[i, i - 1] = h[i - 1]
        A[i, i] = 2.0 * (h[i - 1] + h[i])
        A[i, i + 1] = h[i]
        rhs[i] = 6.0 * ((ys[i + 1] - ys[i]) / h[i] - (ys[i] - ys[i - 1]) / h[i - 1])
    M = np.linalg.solve(A, rhs)
    i = np.clip(np.searchsorted(xs, probes, side="right") - 1, 0, n - 2)
    dx = probes - xs[i]
    hi = h[i]
    want = (
        ys[i]
        + dx * ((ys[i + 1] - ys[i]) / hi - hi * (2 * M[i] + M[i + 1]) / 6.0)
        + dx**2 * M[i] / 2.0
        + dx**3 * (M[i + 1] - M[i]) / (6.0 * hi)
    )
    np.testing.assert_allclose(got[1], want, atol=1e-9)


def test_ltr_linear_and_trees(spark, sf_dir):
    """contrib/ltr LinearModel + MultipleAdditiveTreesModel semantics as
    column expressions, checked against a per-row Python replay."""
    from pyspark.sql import functions as F

    from apache___solr_spark.query.ltr import ltr_rerank, ltr_score

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(200)
    feats = {
        "price": F.col("o_totalprice"),
        "pri": F.col("o_orderpriority").startswith("1").cast("double"),
    }
    linear = {
        "type": "linear",
        "weights": {"price": 0.3, "pri": 5.0},
        "norms": {"price": ("minmax", 0.0, 500000.0)},
    }
    trees = {
        "type": "trees",
        "trees": [
            {"weight": 2.0, "root": {
                "feature": "price", "threshold": 150000.0,
                "left": {"value": 0.1},
                "right": {"feature": "pri", "threshold": 0.5,
                          "left": {"value": 0.5}, "right": {"value": 1.5}}}},
            {"weight": 1.0, "root": {
                "feature": "nosuchfeature", "threshold": 1.0,
                "left": {"value": 9.9}, "right": {"value": 9.9}}},
        ],
    }
    rows = o.select(
        "o_orderkey", "o_totalprice", "o_orderpriority",
        ltr_score(feats, linear).alias("lin"),
        ltr_score(feats, trees).alias("tree"),
    ).collect()
    for r in rows:
        pri = 1.0 if r["o_orderpriority"].startswith("1") else 0.0
        want_lin = 0.3 * (r["o_totalprice"] / 500000.0) + 5.0 * pri
        assert abs(r["lin"] - want_lin) < 1e-9
        if r["o_totalprice"] <= 150000.0:
            want_tree = 2.0 * 0.1
        elif pri <= 0.5:
            want_tree = 2.0 * 0.5
        else:
            want_tree = 2.0 * 1.5
        # unknown-feature tree contributes 0 (never 9.9)
        assert abs(r["tree"] - want_tree) < 1e-9

    first = o.select(
        F.col("o_orderkey").alias("doc_id"),
        F.col("o_totalprice").cast("double").alias("score"),
        "o_orderpriority",
    )
    out = ltr_rerank(
        first,
        {"price": F.col("score"),
         "pri": F.col("o_orderpriority").startswith("1").cast("double")},
        linear, rerank_docs=20, k=30,
    ).collect()
    assert [r["rank"] for r in out] == list(range(1, 31))
    # rows 21..30 are the untouched first-pass tail in original order
    tail = [r["doc_id"] for r in out[20:]]
    fp = sorted(first.collect(), key=lambda r: (-r["score"], r["doc_id"]))
    assert tail == [r["doc_id"] for r in fp[20:30]]
    # rows 1..20 are exactly the first-pass top-20, reordered by the model
    head_ids = {r["doc_id"] for r in out[:20]}
    assert head_ids == {r["doc_id"] for r in fp[:20]}
    model_scores = [r["ltr_score"] for r in out[:20]]
    assert model_scores == sorted(model_scores, reverse=True)


def test_sample_discrete_distributions(spark):
    """SampleEvaluator for poisson/binomial via bounded inverse-CDF folds:
    deterministic under a fixed seed, and empirical moments/CDF agree with
    the closed forms."""
    import math as m

    from pyspark.sql import functions as F

    from apache___solr_spark.functions import evaluators as E

    n = 20000
    poi = E.poisson_dist(4.2)
    s1 = E.sample_dist(spark, poi, n, seed=7).toPandas()["value"]
    s2 = E.sample_dist(spark, poi, n, seed=7).toPandas()["value"]
    assert (s1 == s2).all()  # deterministic
    assert abs(s1.mean() - 4.2) < 0.12          # mean = lam
    assert abs(s1.var() - 4.2) < 0.35           # var = lam
    # empirical CDF at k=4 vs exact
    want = sum(m.exp(-4.2) * 4.2**i / m.factorial(i) for i in range(5))
    assert abs((s1 <= 4).mean() - want) < 0.02

    bino = E.binomial_dist(12, 0.35)
    b = E.sample_dist(spark, bino, n, seed=11).toPandas()["value"]
    assert b.min() >= 0 and b.max() <= 12
    assert abs(b.mean() - 12 * 0.35) < 0.08
    assert abs(b.var() - 12 * 0.35 * 0.65) < 0.25


def test_temporal_evaluators_match_python_datetime(spark):
    """Temporal evaluators (io/eval/TemporalEvaluator*.java): each registry
    entry matches the corresponding java.time/ISO field computed with
    Python's datetime on the same instants (UTC session)."""
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from apache___solr_spark.functions.registry import fn

    instants = [
        "2023-01-01 00:00:00",  # week 52 of ISO 2022 — the tricky case
        "2024-02-29 13:45:31",  # leap day
        "2026-08-17 23:59:59",
        "2021-04-01 06:00:00",  # quarter boundary
        "2020-12-31 12:00:00",  # ISO week 53
    ]
    df = spark.createDataFrame([(s,) for s in instants], "s string").select(
        F.col("s"), F.to_timestamp("s").alias("ts")
    )
    out = df.select(
        "s",
        *[
            fn(name, F.col("ts")).alias(name)
            for name in (
                "year", "month", "day", "dayOfYear", "hour", "minute",
                "second", "week", "quarter", "epoch", "dayOfQuarter",
            )
        ],
    ).collect()
    for r in out:
        d = datetime.strptime(r["s"], "%Y-%m-%d %H:%M:%S")
        iso = d.isocalendar()
        assert r["year"] == d.year and r["month"] == d.month
        assert r["day"] == d.day and r["hour"] == d.hour
        assert r["minute"] == d.minute and r["second"] == d.second
        assert r["dayOfYear"] == d.timetuple().tm_yday
        assert r["week"] == iso[1], r["s"]
        q = (d.month - 1) // 3 + 1
        assert r["quarter"] == q
        q_start = datetime(d.year, 3 * (q - 1) + 1, 1)
        assert r["dayOfQuarter"] == (d - q_start).days + 1
        assert r["epoch"] == int(
            d.replace(tzinfo=timezone.utc).timestamp() * 1000
        )


def test_precision_evaluator(spark):
    from pyspark.sql import functions as F

    from apache___solr_spark.functions.registry import fn

    row = spark.range(1).select(
        fn("precision", F.lit(3.14159265), 3).alias("s"),
        fn("precisionArr", F.array(F.lit(1.2345), F.lit(-2.718281)), 2).alias("a"),
    ).first()
    assert row["s"] == 3.142
    assert row["a"] == [1.23, -2.72]


def test_matrix_evaluators(spark):
    """Matrix family (Matrix.java + Transpose/RowAt/ColumnAt/SumRows/
    SumColumns/GrandSum/MatrixMultiply evaluators) as column expressions,
    oracled by numpy on the same per-row matrices."""
    from apache___solr_spark.functions import matrix as M

    rows = [
        ([[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]], [[1.0, 0.0], [0.0, 2.0], [1.0, 1.0]]),
        ([[2.5, -1.0, 0.0], [0.5, 3.0, 7.0]], [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]]),
    ]
    df = spark.createDataFrame(
        rows, "a array<array<double>>, b array<array<double>>"
    )
    got = df.select(
        M.row_count(F.col("a")).alias("rc"),
        M.column_count(F.col("a")).alias("cc"),
        M.row_at(F.col("a"), 1).alias("r1"),
        M.column_at(F.col("a"), 2).alias("c2"),
        M.transpose(F.col("a")).alias("t"),
        M.sum_rows(F.col("a")).alias("sr"),
        M.sum_columns(F.col("a")).alias("sc"),
        M.grand_sum(F.col("a")).alias("gs"),
        M.matrix_multiply(F.col("a"), F.col("b")).alias("mm"),
    ).collect()
    for (a, b), r in zip(rows, got):
        import numpy as np

        na, nb = np.array(a), np.array(b)
        assert r["rc"] == na.shape[0] and r["cc"] == na.shape[1]
        assert r["r1"] == list(na[1])
        assert r["c2"] == list(na[:, 2])
        assert [list(x) for x in r["t"]] == [list(x) for x in na.T]
        assert np.allclose(r["sr"], na.sum(axis=1))
        assert np.allclose(r["sc"], na.sum(axis=0))
        assert r["gs"] == pytest.approx(na.sum())
        assert np.allclose(np.array(r["mm"]), na @ nb)
    # matrix() constructor from row columns
    built = spark.range(1).select(
        M.matrix(
            F.array(F.lit(1.0), F.lit(2.0)), F.array(F.lit(3.0), F.lit(4.0))
        ).alias("m")
    ).collect()[0]["m"]
    assert [list(x) for x in built] == [[1.0, 2.0], [3.0, 4.0]]


def test_parse_func_query(spark):
    """Function-query STRING syntax (FunctionQParser.java parseValueSource)
    lowers to one Column matching hand-built expressions: nested calls,
    field refs, int/float/scientific literals, quoted strings; $param and
    junk raise."""
    import math

    import pytest
    from pyspark.sql import functions as F

    from apache___solr_spark.functions.registry import parse_func_query

    df = spark.createDataFrame([(3.0, 4.0, "web")], "a double, b double, s string")

    def val(expr):
        return df.select(parse_func_query(expr).alias("v")).collect()[0]["v"]

    assert val("sum(a,b,1)") == 8.0
    assert val("recip(a,1,2,1)") == 0.5
    assert abs(val("recip(sub(b,a),3.16e-11,1,1)") - 1.0) < 1e-9
    assert val("if(gt(b,a),1,0)") == 1
    assert val("product(a,-2)") == -6.0
    assert abs(val("div(pi(),2)") - math.pi / 2) < 1e-12
    assert val('strdist("kitten",s)') == 5  # kitten -> web levenshtein
    assert val("max(a,linear(b,2.0,0.5))") == 8.5
    with pytest.raises(NotImplementedError):
        parse_func_query("sum(a,$p)")
    with pytest.raises(NotImplementedError):
        parse_func_query("nosuchfn(a)")
    with pytest.raises(ValueError):
        parse_func_query("sum(a,")
    with pytest.raises(ValueError):
        parse_func_query("sum(a,b) trailing")
    with pytest.raises(ValueError):
        parse_func_query("@#!")


def test_docset_equals_exhaustive_search(spark, built):
    out, _ = built
    eng = SearchEngine(spark, out, cfg=CFG)
    from apache___solr_spark.query.extras import simple_facets  # noqa: F401

    for q in ["web", "web data page", "web AND data", "web -data", '"web data"']:
        ds = {r["doc_id"] for r in eng.docset(q).collect()}
        full = {
            r["doc_id"]
            for r in eng.search(q, k=10**9, prune=False, with_url=False).collect()
        }
        assert ds == full, q
        assert ds  # non-vacuous: every query matches something


def test_simple_facets_match_python_oracle(spark, built):
    from collections import Counter

    from apache___solr_spark.query.extras import simple_facets

    out, table = built
    eng = SearchEngine(spark, out, cfg=CFG)
    idx = build_oracle_index(table.to_pylist())
    hits = oracle_search(idx, "web data", k=idx.n_docs)
    url_by_doc = {r["doc_id"]: r["url"] for r in eng.docs.collect()}
    lang_by_url = dict(
        zip(table.column("url").to_pylist(), table.column("lang").to_pylist())
    )
    want = Counter(lang_by_url[url_by_doc[h["doc_id"]]] for h in hits)
    assert len(want) == 2  # planted: en + xx both present in the DocSet

    meta = spark.createDataFrame(
        [(u, l) for u, l in lang_by_url.items()], "url string, lang string"
    )
    got = {
        (r["field"], r["value"]): r["count"]
        for r in simple_facets(eng, "web data", meta, ["lang"]).collect()
    }
    assert got == {("lang", k): v for k, v in want.items()}

    # limit=1 keeps only the top value per field; mincount filters the rest
    top = simple_facets(eng, "web data", meta, ["lang"], limit=1).collect()
    assert len(top) == 1 and top[0]["value"] == want.most_common(1)[0][0]


def test_explain_scores_decomposition(spark, built):
    """debugQuery explain analog: per-term contributions sum to the score,
    single-term explains equal the score, boosts are surfaced, a phrase is
    one clause row whose contribution is its PhraseQuery score, nested
    trees raise."""
    import math

    out, _ = built if isinstance(built, tuple) else (built, None)
    eng = SearchEngine(spark, out, cfg=CFG)

    # single term: one row per hit, contribution == score
    rows = eng.explain_scores("web", k=5).collect()
    assert rows and all(r["term"] == "web" for r in rows)
    for r in rows:
        assert math.isclose(r["contribution"], r["score"], rel_tol=1e-6)

    # multi-term with boost + expansion group: contributions sum to score
    df = eng.explain_scores("web data^2.5 da*", k=8)
    rows = df.collect()
    assert any(r["boost"] == 2.5 and r["term"] == "data" for r in rows)
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], [0.0, r["score"]])
        by_doc[r["doc_id"]][0] += r["contribution"]
    for doc_id, (ssum, score) in by_doc.items():
        assert math.isclose(ssum, score, rel_tol=1e-5), (doc_id, ssum, score)
    # scores match the plain search ranking
    plain = {r["doc_id"]: r["score"] for r in eng.search("web data^2.5 da*", k=8).collect()}
    assert {r["doc_id"]: r["score"] for r in rows} == plain

    # pure phrase query: one row per hit, term = the phrase label,
    # contribution == score, weight == summed constituent weights
    ph_hits = eng.search('"web data"', k=5).collect()
    assert ph_hits, "fixture corpus must contain the phrase"
    rows = eng.explain_scores('"web data"', k=5).collect()
    assert rows and all(r["term"] == '"web data"' for r in rows)
    assert {r["doc_id"]: r["score"] for r in rows} == {
        r["doc_id"]: r["score"] for r in ph_hits
    }
    for r in rows:
        assert math.isclose(r["contribution"], r["score"], rel_tol=1e-6)
        assert r["weight"] > 0

    # mixed term + phrase: per-clause contributions still sum to the score
    q = 'web "web data"^2'
    rows = eng.explain_scores(q, k=6).collect()
    labels = {r["clause"] for r in rows}
    assert labels == {"web", '"web data"'}
    assert any(r["clause"] == '"web data"' and r["boost"] == 2.0 for r in rows)
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], [0.0, r["score"]])
        by_doc[r["doc_id"]][0] += r["contribution"]
    for doc_id, (ssum, score) in by_doc.items():
        assert math.isclose(ssum, score, rel_tol=1e-5), (doc_id, ssum, score)
    plain = {r["doc_id"]: r["score"] for r in eng.search(q, k=6).collect()}
    assert {r["doc_id"]: r["score"] for r in rows} == plain

    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        eng.explain_scores("(web AND data) OR (query AND merge)")


def test_explain_scores_tree_nested(spark, built):
    """Nested-tree explain: leaf contributions sum to the score, the root
    row equals the score, non-matching subtrees emit no rows, boosts on
    groups propagate to descendants, and flat queries agree with the flat
    explain's totals."""
    import math

    out, _ = built if isinstance(built, tuple) else (built, None)
    eng = SearchEngine(spark, out, cfg=CFG)

    q = "(web AND data) OR (query AND merge)^2"
    hits = {r["doc_id"]: r["score"] for r in eng.search(q, k=8).collect()}
    assert hits, "fixture corpus must match the nested query"
    rows = eng.explain_scores_tree(q, k=8).collect()
    assert {r["doc_id"] for r in rows} == set(hits)

    by_doc_leaf: dict = {}
    root_by_doc: dict = {}
    for r in rows:
        if r["kind"] != "bool":
            by_doc_leaf[r["doc_id"]] = (
                by_doc_leaf.get(r["doc_id"], 0.0) + r["contribution"]
            )
        if r["path"] == "":
            root_by_doc[r["doc_id"]] = r["contribution"]
    for d, s in hits.items():
        assert math.isclose(by_doc_leaf[d], s, rel_tol=1e-5), (d, by_doc_leaf[d], s)
        assert math.isclose(root_by_doc[d], s, rel_tol=1e-5)

    # gating: a doc matching only the first group has no rows under path
    # "1" (the second group), and vice versa
    and1 = {r["doc_id"] for r in eng.search("web AND data", k=300).collect()}
    and2 = {r["doc_id"] for r in eng.search("query AND merge", k=300).collect()}
    for r in rows:
        if r["path"].startswith("1"):
            assert r["doc_id"] in and2
        elif r["path"].startswith("0") and r["path"] != "":
            assert r["doc_id"] in and1

    # the ^2 group boost scales its descendants' contributions: a doc in
    # both groups has its "query"/"merge" leaf contributions doubled vs
    # the unboosted plain scores
    leaf_q = [r for r in rows if r["path"] == "1.0"]
    if leaf_q:
        plain = {
            r["doc_id"]: r["score"] for r in eng.search("query", k=300).collect()
        }
        for r in leaf_q:
            assert math.isclose(
                r["contribution"], 2.0 * plain[r["doc_id"]], rel_tol=1e-5
            )

    # MUST_NOT subtree excludes but emits no rows
    qn = "web -(query AND merge)"
    rows_n = eng.explain_scores_tree(qn, k=10).collect()
    assert rows_n and all(not r["path"].startswith("1") for r in rows_n)
    assert all(r["doc_id"] not in and2 for r in rows_n)
    hits_n = {r["doc_id"]: r["score"] for r in eng.search(qn, k=10).collect()}
    assert {r["doc_id"] for r in rows_n} == set(hits_n)

    # flat query through the tree path agrees with the flat explain totals
    rows_flat = eng.explain_scores_tree("web data^2.5 da*", k=8).collect()
    tot_tree: dict = {}
    for r in rows_flat:
        if r["kind"] != "bool":
            tot_tree[r["doc_id"]] = tot_tree.get(r["doc_id"], 0.0) + r["contribution"]
    plain = {
        r["doc_id"]: r["score"]
        for r in eng.search("web data^2.5 da*", k=8).collect()
    }
    assert set(tot_tree) == set(plain)
    for d, s in plain.items():
        assert math.isclose(tot_tree[d], s, rel_tol=1e-5)


def test_stream_evaluators_vector_tail(spark):
    """Round-3 batch 2: L1/Linf norms, cosine/canberra/earth-movers
    distances, pair sort, diffs, repeat/indexOf/primes/binomial —
    numpy/stdlib-checked against the reference formulas."""
    import math as m

    import numpy as np
    from pyspark.sql import functions as F

    from apache___solr_spark.functions import evaluators as E

    a = [1.0, -2.0, 3.0, 0.0]
    b = [2.0, 0.0, 1.0, 0.0]
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    row = df.select(
        E.l1_norm(F.col("a")).alias("l1"),
        E.linf_norm(F.col("a")).alias("linf"),
        E.cosine_distance(F.col("a"), F.col("b")).alias("cosd"),
        E.canberra_distance(F.col("a"), F.col("b")).alias("canb"),
        E.earth_movers_distance(F.col("a"), F.col("b")).alias("emd"),
        E.mean_difference(F.col("a"), F.col("b")).alias("meand"),
        E.sum_difference(F.col("a"), F.col("b")).alias("sumd"),
        E.sum_sq(F.col("a")).alias("ssq"),
        E.time_differencing(F.col("a")).alias("td1"),
        E.time_differencing(F.col("a"), 2).alias("td2"),
        E.pair_sort(F.col("a"), F.col("b")).alias("ps"),
        E.repeat_value(7.5, 3).alias("rep"),
        E.index_of(F.col("a"), -2.0).alias("hit"),
        E.index_of(F.col("a"), 99.0).alias("miss"),
        E.primes(5, 10).alias("pr"),
        E.binomial_coefficient(10, 3).alias("c_lit"),
        E.binomial_coefficient(F.lit(10.0), F.lit(3)).alias("c_col"),
    ).collect()[0]

    av, bv = np.array(a), np.array(b)
    assert row["l1"] == float(np.abs(av).sum())
    assert row["linf"] == 3.0
    cos = float(av @ bv / (np.linalg.norm(av) * np.linalg.norm(bv)))
    assert abs(row["cosd"] - (1.0 - cos)) < 1e-12
    # Canberra with the 0/0 term (index 3) defined as 0
    want_canb = sum(
        0.0 if abs(x - y) == 0 else abs(x - y) / (abs(x) + abs(y))
        for x, y in zip(a, b)
    )
    assert abs(row["canb"] - want_canb) < 1e-12
    # Earth mover's: sum |cumsum(a-b)| = |−1| + |−3| + |−1| + |−1|
    assert abs(row["emd"] - float(np.abs(np.cumsum(av - bv)).sum())) < 1e-12
    assert abs(row["meand"] - float((av - bv).mean())) < 1e-12
    assert row["sumd"] == float((av - bv).sum())
    assert row["ssq"] == float((av**2).sum())
    assert row["td1"] == [-3.0, 5.0, -3.0]
    assert row["td2"] == [2.0, 2.0]
    # pairSort by a asc: a-sorted [-2,0,1,3], b follows [0,0,2,1]
    assert row["ps"] == [[-2.0, 0.0, 1.0, 3.0], [0.0, 0.0, 2.0, 1.0]]
    assert row["rep"] == [7.5, 7.5, 7.5]
    assert row["hit"] == 1 and row["miss"] == -1
    assert row["pr"] == [11, 13, 17, 19, 23]
    assert row["c_lit"] == m.comb(10, 3) == 120
    assert row["c_col"] == 120.0

    # pairSort stability on ties: equal keys keep input order
    tie = spark.createDataFrame(
        [([1.0, 1.0, 0.0], [10.0, 20.0, 30.0])],
        "a array<double>, b array<double>",
    )
    ps = tie.select(E.pair_sort(F.col("a"), F.col("b")).alias("p")).collect()[
        0
    ]["p"]
    assert ps == [[0.0, 1.0, 1.0], [30.0, 10.0, 20.0]]


def test_matrix_evaluators(spark):
    """Matrix family (io/eval Matrix-, Transpose-, MatrixMultiply-,
    SumRows-, SumColumns-, GrandSum-, RowAt-, ColumnAt-, ScalarAdd/
    Subtract/Multiply/Divide-, TopFeatures-, FeatureSelectEvaluator) —
    numpy-checked."""
    import numpy as np
    from pyspark.sql import functions as F

    from apache___solr_spark.functions import matrix as M

    a = [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]]
    b = [[7.0, 8.0], [9.0, 10.0], [11.0, 12.0]]
    df = spark.createDataFrame(
        [(a, b)], "a array<array<double>>, b array<array<double>>"
    )
    row = df.select(
        M.transpose(F.col("a")).alias("at"),
        M.matmul(F.col("a"), F.col("b")).alias("ab"),
        M.sum_rows(F.col("a")).alias("sr"),
        M.sum_columns(F.col("a")).alias("sc"),
        M.grand_sum(F.col("a")).alias("gs"),
        M.row_at(F.col("a"), 1).alias("r1"),
        M.column_at(F.col("a"), 2).alias("c2"),
        M.row_count(F.col("a")).alias("rc"),
        M.column_count(F.col("a")).alias("cc"),
        M.scalar_add(10.0, F.col("a")).alias("sadd"),
        M.scalar_subtract(1.0, F.col("a")).alias("ssub"),
        M.scalar_multiply(2.0, F.col("a")).alias("smul"),
        M.scalar_divide(2.0, F.col("a")).alias("sdiv"),
    ).collect()[0]

    na, nb = np.array(a), np.array(b)
    assert row["at"] == na.T.tolist()
    assert row["ab"] == (na @ nb).tolist()
    assert row["sr"] == na.sum(axis=1).tolist()
    assert row["sc"] == na.sum(axis=0).tolist()
    assert row["gs"] == float(na.sum())
    assert row["r1"] == [4.0, 5.0, 6.0]  # 0-based like RowAtEvaluator
    assert row["c2"] == [3.0, 6.0]
    assert row["rc"] == 2 and row["cc"] == 3
    assert row["sadd"] == (na + 10).tolist()
    assert row["ssub"] == (na - 1).tolist()  # operate(cell, s) order
    assert row["smul"] == (na * 2).tolist()
    assert row["sdiv"] == (na / 2).tolist()

    # topFeatures: labels of the k largest strictly-positive cells, desc
    m2 = [[0.5, 0.0, 2.0, 1.0], [-3.0, 0.1, 0.0, 0.0]]
    df2 = spark.createDataFrame([(m2,)], "m array<array<double>>")
    labels = ["w", "x", "y", "z"]
    got = df2.select(
        M.top_features(F.col("m"), 2, labels).alias("tf"),
        M.feature_select(F.col("m"), labels, ["z", "w"]).alias("fs"),
    ).collect()[0]
    assert got["tf"] == [["y", "z"], ["x"]]  # <=0 cells never qualify
    # featureSelect keeps matrix-label order (w before z), all rows
    assert got["fs"] == [[0.5, 1.0], [-3.0, 0.0]]
