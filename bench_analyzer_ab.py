"""A/B: Arrow-UDF analyzer vs pure-JVM SQL analyzer (the "tokenizer seam").

r4 VERDICT (stretch #7): the per-doc Python inside the analysis Arrow UDF
is the documented 100x-scale bottleneck — the engine's design leaves a seam
where a JVM/native tokenizer would slot in.  This bench quantifies what
that seam buys TODAY, with no behavior change: the SQL-expressible
"simple" chain (lowercase + [a-z0-9]+ runs, analysis/chain.py:simple_analyze)
has a byte-identical pure-Catalyst formulation,

    regexp_extract_all(lower(text), '[a-z0-9]+', 0)

so we run the SAME tokenization over the SAME corpus twice:

  A (udf):  mapInPandas over (text) running simple_analyze per doc —
            the per-doc Python shape of the production build's analysis
            pass (builder._analyze_raw).
  B (sql):  the regexp_extract_all expression — whole-stage codegen,
            zero Python workers.

Both sinks aggregate sum(doclen) + count(*) so the full token stream is
materialized; the identical aggregates are also the correctness tie
(assert equal).  The ratio A/B is the upper bound on what swapping the
Python tokenizer for a JVM one would save on the analysis stage — "upper"
because the production standard chain (UAX#29 + stopwords) does strictly
more work per token than [a-z0-9]+ on both sides.

Writes BENCH/analyzer_ab.json; one row lands in BENCH/BASELINE.md.

Usage: python bench_analyzer_ab.py [n_docs]   (default 500k; local[N] with
N = $SPARK_GRAFT_CPUS or the host's core count, as get_spark sizes it)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from typing import Iterator

import pandas as pd


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from apache___solr_spark.analysis.chain import simple_analyze
    from apache___solr_spark.corpus import write_pages_parquet
    from apache___solr_spark.session import get_spark

    work = tempfile.mkdtemp(prefix="analyzer_ab_")
    pages_path = os.path.join(work, "pages.parquet")
    write_pages_parquet(
        pages_path, n_docs=n_docs, seed=42, n_jobs=os.cpu_count() or 8
    )
    spark = get_spark("analyzer-ab")
    cores = spark.sparkContext.defaultParallelism
    from pyspark.sql import functions as F

    # text-only: both paths tokenize the SAME already-extracted column, so
    # the ratio isolates tokenization (html_strip is not SQL-expressible
    # and would identically burden both sides via the UDF fallback).
    pages = (
        spark.read.parquet(pages_path)
        .select(F.coalesce("text", F.lit("")).alias("text"))
    )

    def udf_tokens(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {"doclen": [len(simple_analyze(t)) for t in pdf["text"]]}
            )

    def run(df, label: str) -> dict:
        # warm once untimed (python worker spin-up / codegen compile), then
        # p50 of 3 warm runs
        agg_df = df.agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("doclen").alias("tokens"),
        )
        agg_df.collect()
        walls = []
        agg = None
        for _ in range(3):
            t0 = time.time()
            agg = agg_df.collect()[0]
            walls.append(time.time() - t0)
        walls.sort()
        return {
            "path": label,
            "wall_sec_p50": round(walls[1], 2),
            "wall_sec_all": [round(w, 2) for w in walls],
            "docs": agg["docs"],
            "tokens": int(agg["tokens"]),
            "docs_per_sec": round(agg["docs"] / walls[1], 1),
        }

    a = run(pages.mapInPandas(udf_tokens, schema="doclen int"), "arrow_udf")
    b = run(
        pages.select(
            F.size(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
            ).alias("doclen")
        ),
        "sql_codegen",
    )
    assert (a["docs"], a["tokens"]) == (b["docs"], b["tokens"]), (
        "UDF and SQL analyzers disagree: "
        f"{a['docs'], a['tokens']} vs {b['docs'], b['tokens']}"
    )
    result = {
        "n_docs": n_docs,
        "cores": cores,
        "arrow_udf": a,
        "sql_codegen": b,
        "udf_over_sql_wall_ratio": round(
            a["wall_sec_p50"] / b["wall_sec_p50"], 2
        ),
        "note": (
            "identical token streams asserted (sum doclen + count); ratio "
            "= upper bound on the analysis-stage win from a JVM tokenizer "
            "seam (production standard chain does more per token on both "
            "sides)"
        ),
        "measured_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    print(json.dumps(result, indent=2))
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/analyzer_ab.json", "w") as f:
        json.dump(result, f, indent=2)
    spark.stop()


if __name__ == "__main__":
    main()
