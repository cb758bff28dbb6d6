"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline set = the north-rule core (fulltext index build + BM25 queries over
the documents corpus) plus representative operators from each SURVEY.md §2
family (joins, rollups, facets, top-k, dedup, ANN).  Index build time is
measured cold (fresh output dir, no resume) and reported both as seconds and
docs/sec.

local[$SPARK_GRAFT_CPUS] defaults to the host's core count (get_spark's
own sizing); the result line's ``cpus`` field records the count used.
perfbench/ is the steady build/query benchmark; this harness is the
wide headline suite.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS")  # None: get_spark sizes from the host

HEADLINE = [
    "bm25_topk",
    "bm25_and_not",
    "bm25_simple_topk",
    "bm25_simple_nested",
    "phrase_search",
    "prefix_boost_search",
    "term_stats",
    "boolean_and_search",
    "rollup_lineitem",
    "hash_join_parts",
    "inner_join_rollup",
    "topk_orders",
    "collapse",
    "timeseries",
    "facet_event_types",
    "significant_terms",
    "exact_dedup",
    "minhash_lsh_candidates",
    "minhash_query",
    "payload_score",
    "xml_query",
    "cosine_topk",
    "quality_score",
    "score_join",
    "block_join_parent",
    "gather_nodes",
    "suggest",
    "relatedness",
    "highlight",
    "pivot_facet",
    "expr_stream",
    "json_facet_nested",
    "ann_ivf_topk",
    "ann_graph_topk",
    "features_igain",
    "classify_logit",
    "span_near_unordered",
    "span_nested",
    "fq_search",
    "sorted_search",
    "collapse_fq",
    "scrub_pii",
    "remove_repeated_lines",
    "canonicalize_urls",
    "perplexity_score",
    "decontaminate",
    "pack_sequences",
    "bpe_token_count",
    "extract_main_content",
]


def _q_span_nested(spark, sf_dir):
    """Nested surround distance operators (SpanNear nesting SpanNear):
    the span-tree interval evaluator over the shared gated scan."""
    import __spark_entry__ as em
    from apache___solr_spark.query.localparams import dispatch_query

    eng = em._simple_engine(spark, sf_dir)
    return dispatch_query(
        eng, "{!surround}8W(table, 6N(filter, merge))", k=50
    )


def _q_extract_main_content(spark, sf_dir):
    """jusText main-content extraction over synthesized web pages: each
    document's text wrapped in <p> paragraphs with nav/footer boilerplate
    around it — measures the map-only Arrow-batched block classifier."""
    from pyspark.sql import functions as F

    from apache___solr_spark.pipeline.extract import extract_main_content

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    nav = (
        "<nav><a href='/'>Home</a> <a href='/about'>About</a> "
        "<a href='/contact'>Contact</a> <a href='/terms'>Terms</a></nav>"
    )
    footer = "<footer>&copy; 2026 Example Corp. All rights reserved.</footer>"
    pages = d.select(
        "doc_id",
        F.concat(
            F.lit(f"<html><body>{nav}<h1>Doc</h1><p>"),
            F.regexp_replace(F.col("text"), r"\n", "</p><p>"),
            F.lit(f"</p>{footer}</body></html>"),
        ).alias("html"),
    )
    # the synthetic corpus is stopword-poor (~2-8% density vs ~30%+ in real
    # English prose), so the thresholds scale down — same compute, and the
    # kept/dropped split stays non-vacuous
    return extract_main_content(
        pages, "html", stopwords_low=0.02, stopwords_high=0.04
    ).select("doc_id", "n_blocks_good", "n_blocks_total")


def _q_bpe_token_count(spark, sf_dir):
    """Exact BPE token budget: train a 512-entry merge table on a 2k-doc
    slice (one shuffle to the pretoken frequency table), then count tokens
    corpus-wide — the Python merge loop runs once per DISTINCT pretoken."""
    from apache___solr_spark.pipeline.bpe import bpe_token_count, train_bpe

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    merges = train_bpe(
        d.orderBy("doc_id").limit(2000), "text", vocab_size=512, min_count=2
    )
    return bpe_token_count(d, "text", "doc_id", merges)


def _q_perplexity_score(spark, sf_dir):
    # train on a deterministic 2k-doc slice, score the full corpus — the
    # CCNet shape (small trusted LM, scoring dominated by the explode).
    from pyspark.sql import functions as F

    from apache___solr_spark.pipeline.lm import score_perplexity, train_char_lm

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    lm = train_char_lm(
        d.orderBy("doc_id").limit(2000), "text", "doc_id", n=3
    )
    return score_perplexity(d, "text", "doc_id", lm)


def _q_fq_search(spark, sf_dir):
    """fq filter query: constant-score DocSet intersection before top-k —
    one extra docset scan vs the plain query, no extra shuffle."""
    import __spark_entry__ as em

    eng = em._engine(spark, em._fulltext_index(spark, sf_dir))
    return eng.search("table query", k=50, fq=["merge"])


def _q_sorted_search(spark, sf_dir):
    """sort= request param: full matching docset ordered by a field —
    TakeOrderedAndProject over the docset+docs join."""
    import __spark_entry__ as em

    eng = em._engine(spark, em._fulltext_index(spark, sf_dir))
    return eng.sorted_search("table query", sort="doclen asc", k=50)


def _q_collapse_fq(spark, sf_dir):
    """{!collapse} postfilter: score every match, one window for the group
    heads, then top-k."""
    import __spark_entry__ as em

    eng = em._engine(spark, em._fulltext_index(spark, sf_dir))
    return eng.collapsed_search("table query", by="pmod(doc_id, 97)", k=20)


def _q_scrub_pii(spark, sf_dir):
    from apache___solr_spark.pipeline.textqual import scrub_pii

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return scrub_pii(d, "text", "doc_id")


def _q_remove_repeated_lines(spark, sf_dir):
    from apache___solr_spark.pipeline.dedup import remove_repeated_lines

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return remove_repeated_lines(d, "text", "doc_id")


def _q_canonicalize_urls(spark, sf_dir):
    # documents carries no URL column; synthesize a deterministic messy URL
    # per doc_id — the bench measures the canonicalization expressions.
    from pyspark.sql import functions as F

    from apache___solr_spark.pipeline.weburl import canonicalize_urls

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id",
        F.concat(
            F.lit("HTTP://Host"),
            (F.col("doc_id") % 97).cast("string"),
            F.lit(".Example.COM:80//a//b/index.html?utm_source=x&q="),
            F.col("doc_id").cast("string"),
            F.lit("&z=1#frag"),
        ).alias("url"),
    )
    return canonicalize_urls(d, "url", "doc_id")


def _q_decontaminate(spark, sf_dir):
    # eval set = a deterministic 500-doc slice standing in for a benchmark;
    # the bench measures the corpus-side gram explode + broadcast probe.
    from apache___solr_spark.pipeline.dedup import decontaminate

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    evals = d.orderBy("doc_id").limit(500).select("text")
    return decontaminate(d, evals, "text", "doc_id", n=13, mode="flag")


def _q_pack_sequences(spark, sf_dir):
    # token_count -> pack into 2048-token training sequences; measures the
    # distributed prefix sum + chunk explode on the full corpus.
    from apache___solr_spark.pipeline.packing import pack_sequences
    from apache___solr_spark.pipeline.textqual import token_count

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    counted = token_count(d, "text", "doc_id")
    return pack_sequences(counted, "doc_id", "n_tokens", 2048, num_buckets=64)


_EXTRA_IDX: dict = {}


def _q_minhash_query(spark, sf_dir):
    """{!min_hash sim= tp=} Jaccard lookup over the bounded minhash index
    (one bucket-pruned constant-kernel scan + banding gate)."""
    from apache___solr_spark.config import IndexConfig
    from apache___solr_spark.query.engine import SearchEngine
    from apache___solr_spark.query.localparams import dispatch_query
    from pyspark.sql import functions as F

    eng = SearchEngine(
        spark,
        _EXTRA_IDX["minhash"],
        cfg=IndexConfig(analyzer="min_hash", store_positions=False),
    )
    text = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .orderBy("doc_id")
        .select("text")
        .first()["text"]
    )
    return dispatch_query(eng, "{!min_hash sim=0.5 tp=0.5}" + text, k=20)


def _q_payload_score(spark, sf_dir):
    """{!payload_score operator=or} over the bounded payload index (one
    positions decode + side-table join + segmented numpy reduction)."""
    from apache___solr_spark.config import IndexConfig
    from apache___solr_spark.query.engine import SearchEngine
    from apache___solr_spark.query.localparams import dispatch_query

    eng = SearchEngine(
        spark,
        _EXTRA_IDX["payload"],
        cfg=IndexConfig(analyzer="whitespace_payload"),
    )
    return dispatch_query(
        eng, "{!payload_score f=text func=max operator=or}the data", k=20
    )


def _q_xml_query(spark, sf_dir):
    """{!xml} boolean+phrase query lowered onto the tree evaluator over
    the standard fulltext index."""
    import __spark_entry__ as entrymod
    from apache___solr_spark.query.engine import SearchEngine
    from apache___solr_spark.query.localparams import dispatch_query

    idx = entrymod._fulltext_index(spark, sf_dir, "standard")
    eng = SearchEngine(spark, idx)
    xml = (
        "<BooleanQuery>"
        '<Clause occurs="must"><SpanNear slop="1" inOrder="true">'
        "<SpanTerm>the</SpanTerm><SpanTerm>data</SpanTerm></SpanNear>"
        "</Clause>"
        '<Clause occurs="should"><TermQuery>model</TermQuery></Clause>'
        '<Clause occurs="mustNot"><TermQuery>zebra</TermQuery></Clause>'
        "</BooleanQuery>"
    )
    return dispatch_query(eng, "{!xml}" + xml, k=20)


def _probe_work(seed: int) -> int:
    """One probe task: the engine's analysis chain over 3,000 synthetic
    400-word docs (the dominant per-doc build CPU, no Spark)."""
    import random

    from apache___solr_spark.analysis.chain import analyze

    rng = random.Random(seed)
    words = ["alpha%d" % i for i in range(500)]
    n = 0
    for _ in range(3000):
        text = " ".join(rng.choice(words) for _ in range(400))
        n += len(analyze(text))
    return n


def _probe_run(workers: int, tasks: int) -> float:
    """Probe throughput in tasks/s over a ``workers``-process pool."""
    import multiprocessing as mp

    with mp.Pool(workers) as p:
        t0 = time.time()
        p.map(_probe_work, range(tasks), chunksize=1)
        return tasks / (time.time() - t0)


def _quiet_probe() -> dict:
    """Pin the quiet-probe gate INTO the bench (round-3 verdict item): a
    short no-Spark multiprocessing probe (``_probe_run``) must be
    STABLE — two consecutive probes within 25% — before the timed suite
    starts, so round-to-round comparisons stop depending on host mood.
    Budget-bounded (SPARK_GRAFT_PROBE_BUDGET_SEC, default 600; 0 disables);
    on budget exhaustion the bench runs anyway and records the probes, so a
    permanently-busy host degrades to the old behavior, visibly."""
    budget = float(os.environ.get("SPARK_GRAFT_PROBE_BUDGET_SEC", "600"))
    if budget <= 0:
        return {"probe_gate": "disabled"}
    host = os.cpu_count() or 1
    cores = min(int(CPUS or host), host)
    deadline = time.time() + budget
    probes: list[float] = []
    while True:
        probes.append(round(_probe_run(cores, tasks=64), 2))
        if len(probes) >= 2:
            a, b = probes[-2], probes[-1]
            if min(a, b) / max(a, b) >= 0.75:
                return {"probe_gate": "stable", "probes_tasks_per_sec": probes}
        if time.time() > deadline:
            return {"probe_gate": "budget_exhausted",
                    "probes_tasks_per_sec": probes}
        time.sleep(20)


def main() -> None:
    import __spark_entry__ as entrymod
    from apache___solr_spark.index.builder import build_index
    from apache___solr_spark.session import get_spark

    probe = _quiet_probe()
    spark = get_spark("bench", cores=CPUS)
    n_docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).count()

    timings: dict[str, float] = {}

    # cold fulltext index build over the documents corpus
    idx_dir = tempfile.mkdtemp(prefix="bench_idx_")
    t0 = time.time()
    build_index(
        spark, entrymod._docs_as_pages(spark, SF_DIR), os.path.join(idx_dir, "idx")
    )
    build_sec = time.time() - t0
    timings["index_build"] = round(build_sec, 3)
    # reuse the built index for the bm25 query entries
    entrymod._INDEX_CACHE[(os.path.abspath(SF_DIR), "standard")] = os.path.join(
        idx_dir, "idx"
    )
    # build the simple-analyzer index once, outside per-query timings, so the
    # oracle-checked fulltext entries measure query time, not index time
    t0 = time.time()
    entrymod._fulltext_index(spark, SF_DIR, "simple")
    timings["index_build_simple"] = round(time.time() - t0, 3)

    # bounded specialized indexes for the registry-completion entries
    # (8k docs — these time the BUILD of the min-hash signature chain and
    # the payload side table at a fixed size, queries timed separately)
    from pyspark.sql import functions as F

    from apache___solr_spark.config import IndexConfig

    sub = entrymod._docs_as_pages(spark, SF_DIR).orderBy("url").limit(8000)
    t0 = time.time()
    _EXTRA_IDX["minhash"] = os.path.join(idx_dir, "mh")
    build_index(
        spark,
        sub,
        _EXTRA_IDX["minhash"],
        cfg=IndexConfig(analyzer="min_hash", store_positions=False),
    )
    timings["index_build_minhash_8k"] = round(time.time() - t0, 3)
    # synthesize per-token float payloads deterministically from the text
    pay_pages = sub.withColumn(
        "text",
        F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda x: F.concat(
                    x,
                    F.lit("|"),
                    (F.pmod(F.xxhash64(x), F.lit(50)) / F.lit(10.0)).cast(
                        "string"
                    ),
                ),
            ),
            " ",
        ),
    )
    t0 = time.time()
    _EXTRA_IDX["payload"] = os.path.join(idx_dir, "pl")
    build_index(
        spark,
        pay_pages,
        _EXTRA_IDX["payload"],
        cfg=IndexConfig(analyzer="whitespace_payload"),
    )
    timings["index_build_payload_8k"] = round(time.time() - t0, 3)

    # Registry entries were consolidated to fit the driver's 50-entry check
    # window; the bench keeps the round-2 per-query names for timing-series
    # continuity by resolving merged-away names to their module functions.
    fallbacks = {
        "bm25_topk": entrymod.q_bm25_topk,
        "bm25_and_not": entrymod.q_bm25_and,
        "bm25_simple_topk": entrymod.q_bm25_simple_topk,
        "bm25_simple_nested": entrymod.q_bm25_simple_nested,
        "phrase_search": entrymod.q_phrase_search,
        "prefix_boost_search": entrymod.q_prefix_boost_search,
        "topk_orders": entrymod.q_topk_orders,
        "minhash_lsh_candidates": entrymod.q_minhash_lsh,
        "quality_score": entrymod.q_quality_score,
        "ann_ivf_topk": entrymod.q_ann_ivf_topk,
        "ann_graph_topk": entrymod.q_ann_graph_topk,
        "fq_search": _q_fq_search,
        "minhash_query": _q_minhash_query,
        "payload_score": _q_payload_score,
        "xml_query": _q_xml_query,
        "sorted_search": _q_sorted_search,
        "collapse_fq": _q_collapse_fq,
        "scrub_pii": _q_scrub_pii,
        "remove_repeated_lines": _q_remove_repeated_lines,
        "canonicalize_urls": _q_canonicalize_urls,
        "perplexity_score": _q_perplexity_score,
        "decontaminate": _q_decontaminate,
        "pack_sequences": _q_pack_sequences,
        "bpe_token_count": _q_bpe_token_count,
        "extract_main_content": _q_extract_main_content,
        "span_nested": _q_span_nested,
    }
    qs = {**fallbacks, **entrymod.queries()}
    # per-entry p50 over 3 reps, min and spread recorded alongside: this
    # host is shared and noisy (the scaling bench gates on quiet probes for
    # the same reason) — the median resists one contended rep, and the
    # recorded spread lets round-over-round comparisons see host mood
    # instead of guessing at it.
    reps_per_entry = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    entry_min: dict[str, float] = {}
    entry_spread: dict[str, float] = {}
    for name in HEADLINE:
        samples = []
        for _ in range(reps_per_entry):
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
        samples.sort()
        timings[name] = round(samples[len(samples) // 2], 3)
        entry_min[name] = round(samples[0], 3)
        entry_spread[name] = round(samples[-1] - samples[0], 3)

    # Query p50/p99 latency on the reference query set (the BASELINE metric
    # names "query p50/p99 latency with rank-identical BM25 top-k on the
    # reference query set"): every grammar shape the golden suite pins —
    # bag-of-words, +/-, phrases, slop, prefix/boost, fuzzy, nested groups —
    # each run REPS times against the warm engine (the server shape: the
    # term-meta cache is per-engine, queries arrive against a live index).
    from apache___solr_spark.query.engine import SearchEngine

    query_set = [
        "table query merge",
        "table AND query",
        "spark AND window -error",
        "table AND query -merge",
        '"part filter" merge',
        '"part filter"~2',
        "s* merge^2",
        "merge~1",
        "(table AND query) OR (part AND filter)",
        "window",
        "table OR query OR merge OR filter",
        "query -table",
    ]
    eng = SearchEngine(spark, os.path.join(idx_dir, "idx"))
    # timed to rows in hand: search() then collect(), as a client reads a
    # page (a noop write would schedule a job the engine never runs)
    eng.search("table", k=10).collect()
    reps, lat = 3, []
    for _ in range(reps):
        for q in query_set:
            t0 = time.time()
            eng.search(q, k=10, with_url=False).collect()
            lat.append(time.time() - t0)
    lat.sort()
    q_p50 = lat[len(lat) // 2]
    q_p99 = lat[min(len(lat) - 1, int(len(lat) * 0.99))]

    shutil.rmtree(idx_dir, ignore_errors=True)
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": SF_DIR,
                "cpus": spark.sparkContext.defaultParallelism,
                "index_docs_per_sec": round(n_docs / build_sec, 1),
                "query_p50_sec": round(q_p50, 3),
                "query_p99_sec": round(q_p99, 3),
                "query_set_size": len(query_set),
                "query_reps": reps,
                "entry_reps": reps_per_entry,
                "queries_min": entry_min,
                "queries_spread": entry_spread,
                **probe,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
