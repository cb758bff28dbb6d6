"""Task-level fault tolerance: every build stage must survive Spark task
retries (the cluster reality the north rule's checkpoint/lineage story
assumes — a 1000-executor job WILL lose tasks).  A deterministic
first-attempt failure is injected into the pages scan of a real
``build_index`` run on ``local[4,3]`` (3 task attempts); the build must
complete and produce an index identical to a clean build — which also
proves the analysis/numbering/postings stages are idempotent and
deterministic under partial re-execution.  It runs in both build
placements; in the driver one the failing task is the read of the pages
the driver analyzes.

Runs in a subprocess: the shared test session is ``local[32]`` with
fail-fast tasks, and one SparkContext per process is a Spark invariant.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import os, sys
sys.path.insert(0, sys.argv[1])
work = sys.argv[2]
from pyspark import TaskContext

from apache___solr_spark.corpus import write_pages_parquet
from apache___solr_spark.index import builder
from apache___solr_spark.query.engine import SearchEngine
from apache___solr_spark.config import IndexConfig
from apache___solr_spark.session import get_spark

# get_spark ships the package zip to executors; local[4,3] = 3 attempts
spark = get_spark("retry-test", cores="local[4,3]", shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")

pages_path = os.path.join(work, "pages.parquet")
write_pages_parquet(pages_path, n_docs=400, seed=13)
pages = spark.read.parquet(pages_path)
marker = os.path.join(work, "injected_failures.log")

def flaky(batches):
    tc = TaskContext.get()
    if tc.partitionId() == 0 and tc.attemptNumber() == 0:
        with open(marker, "a") as fh:  # local[*]: executor == this host
            fh.write("attempt0-fail\n")
        raise RuntimeError("injected first-attempt task failure")
    for b in batches:
        yield b

schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in pages.schema.fields)
flaky_pages = pages.mapInPandas(flaky, schema=schema)

cfg = IndexConfig(salt_range=128, n_buckets=8)
# each pass forces one placement through the build's budget
for placement, budget in (("driver", 1 << 62), ("spark", 0)):
    builder._build_budget = lambda: budget
    if os.path.exists(marker):
        os.remove(marker)
    out_flaky = os.path.join(work, "idx_flaky_" + placement)
    out_clean = os.path.join(work, "idx_clean_" + placement)
    builder.build_index(spark, flaky_pages, out_flaky, cfg=cfg)
    builder.build_index(spark, pages, out_clean, cfg=cfg)

    assert os.path.exists(marker), "failure was never injected"
    n_fail = sum(1 for _ in open(marker))

    ef = SearchEngine(spark, out_flaky, cfg=cfg)
    ec = SearchEngine(spark, out_clean, cfg=cfg)
    df = sorted(map(tuple, ef.dictionary.select("term", "df", "cf").collect()))
    dc = sorted(map(tuple, ec.dictionary.select("term", "df", "cf").collect()))
    assert df == dc and df, (placement, len(df), len(dc))
    qf = [(r["doc_id"], round(r["score"], 5)) for r in ef.search("web data", k=20).collect()]
    qc = [(r["doc_id"], round(r["score"], 5)) for r in ec.search("web data", k=20).collect()]
    assert qf == qc and qf, placement
    print(f"RETRY-OK placement={placement} injected={n_fail} dict_terms={len(df)} hits={len(qf)}")
spark.stop()
"""


def test_build_survives_injected_task_failures(tmp_path):
    script = tmp_path / "retry_build.py"
    script.write_text(_SCRIPT)
    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [sys.executable, str(script), REPO, str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=str(tmp_path),
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    ok = [l for l in proc.stdout.splitlines() if l.startswith("RETRY-OK")]
    assert [l.split()[1] for l in ok] == ["placement=driver", "placement=spark"], (
        proc.stdout[-2000:]
    )
    # in each placement the injection fired at least once and the index
    # still matched the clean one
    for line in ok:
        assert "injected=" in line and "injected=0" not in line, line
