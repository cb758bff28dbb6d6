"""Inverted-index build, in one of two placements.

Reference parity: the /update indexing path,
solr/core/src/java/org/apache/solr/update/DirectUpdateHandler2.java:407-513 +
DocumentBuilder.toDocument:99-123.  ``build_index`` picks the placement
from Catalyst's size estimate of the pages plan (:func:`_input_bytes`, no
Spark job) against :func:`_build_budget` (host memory and the measured
crossover of the placements).  Both run the same kernels
(:func:`_analyze_batch`, :func:`_segment_encode` / :func:`_pack_groups`),
walk the same five stages, publish the same per-stage ``_MANIFEST.json``
and resume the same way, and their indexes are row-identical.

Driver placement (the input fits the budget; Solr's in-process
IndexWriter per core):

  pages ──toArrow (the one Spark job after the pages' schema read)──►
        ──_analyze_batch per 2,048 rows──► analyzed_raw checkpoint (pyarrow)
        ──Arrow sort by (url, doclen, terms, tfs, positions)──► numbered
          rows, doc_id = rank ──► docs
        ──_segment_encode, one salt range at a time (every (term, salt)
          group whole, so no merge) + numpy XXH64 buckets──► postings,
          one file per bucket=N/
        ──pyarrow group_by──► dictionary(term, df, cf, bucket)
        plus scalar stats(N, avgdl).

Spark placement (above the budget):

  pages ──mapInArrow(_analyze_batch)──► analyzed_raw checkpoint [1 UDF pass]
        ──repartitionByRange(url) + sort + persist──► url-ordered partitions
          (executor MEMORY_AND_DISK; counts collect ⇒ offsets + stats)
        ──doc_id as a JVM projection──► numbered(url, doc_id, terms[],
          tfs[], positions, doclen) — consumed STRAIGHT from the persisted
          frame by BOTH the docs write and the segment encoder (no
          intermediate parquet hop; a resume recomputes it from the
          analyzed_raw checkpoint)
        ──mapInArrow(_segment_encode)──► packed (term, salt) rows
        ──repartition(bucket, salt) + sorted mapInArrow merge──► postings
        ──metadata agg──► dictionary(term, df, cf, bucket)
        plus scalar stats(N, avgdl).

Payload indexes add a stage 5, the payload side table, in Spark in
either placement.

Scale decisions of the Spark placement (each one exists because the naive
version measurably failed — see BENCH/BASELINE.md history):

- doc_id = global rank of url: range-shuffle on the raw pages FIRST, then
  run the (expensive) analysis UDF exactly once on the shuffled partitions.
  Analyzing before the range shuffle runs the UDF twice (the range
  partitioner's sampling pass re-executes its child) and an unshuffled
  single-file corpus would analyze on one task.
- postings rows are keyed (term, salt) with salt = doc_id // salt_range:
  head terms (>30% of docs) are encoded by many tasks (north_rule skew
  handling), and because salt ranges are doc-aligned ACROSS terms, a
  query tree decomposes exactly by salt (query/engine.py's per-salt
  kernel).
- one row per (term, salt), not per 128-doc block: rare terms cost one row
  instead of df rows.  Inside the row, postings are delta-gap varbyte
  streams (doc gaps, tfs, norms, positions) plus the counts a reader uses
  (n_docs, first_doc, sum_tf).  The row holds no skip blocks and no impact
  bounds: no query pruned on them, and blocks without byte offsets could
  not skip a decode.
- every postings row is packed by ONE numpy group packer (_pack_groups),
  all (term, salt) groups of an Arrow batch at once: the map-side encode,
  the reduce-side merge and optimize() all end in it.  Every postings row
  is read by ONE batch decoder (_decode_rows, one vbyte pass per column):
  the merge, optimize() and every query-side read (query/engine.py's
  per-salt kernel, in either query placement).  There is no per-group
  Python anywhere (applyInPandas per (term,salt) group was ~2ms overhead
  x #groups; the pandas per-group merge loop after it was still most of
  the postings stage).
- the postings table is written partitioned by pmod(xxhash64(term),
  n_buckets) (:func:`_bucket`): a query prunes its scan to the buckets of
  its terms (the term-dictionary-seek analog).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass
from itertools import chain
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from apache___solr_spark.analysis.chain import analyzer_fn, extract_text
from apache___solr_spark.config import DEFAULT_CONFIG, IndexConfig
from apache___solr_spark.index import checkpoint as ckpt
from apache___solr_spark.index.codec import decode_vbyte, encode_vbyte_packed
from apache___solr_spark.index.smallfloat import int_to_byte4_np
from apache___solr_spark.index.xxhash import term_buckets
from apache___solr_spark.session import host_memory_mb
from apache___solr_spark.sources.loaders import read_pages

# Analyzed-row layout (analysis output AND, +doc_id, the numbered table):
# tfs / positions are vbyte-packed binaries, NOT int arrays — the doc-id
# numbering range-shuffle moves every analyzed row through an exchange, and
# packed bytes cut that payload ~4x vs UnsafeRow int arrays (measured: the
# numbering stage was the #2 cost of the build after positions landed).
# tfs holds one count per term (term-major); positions holds doclen raw
# position values (term-major, ascending within term).

# positions: one vbyte stream per (term, salt) row — for each posting, tf
# position values (first raw, rest delta-gapped), indices into the
# post-filter token stream.  Empty when store_positions=False.
# first_doc is the merge's sort key and add_docs' new-range filter; sum_tf
# and n_docs sum to the dictionary's cf and df.
SEGMENT_SCHEMA = (
    "term string, salt long, n_docs int, first_doc long, "
    "doc_gaps binary, tfs binary, norms binary, positions binary, sum_tf long"
)

DICTIONARY_COLUMNS = ["term", "df", "cf", "bucket"]


@dataclass
class IndexPaths:
    root: str

    @property
    def docs(self) -> str:
        return os.path.join(self.root, "docs")

    @property
    def analyzed_raw(self) -> str:
        return os.path.join(self.root, "analyzed_raw")

    @property
    def numbering(self) -> str:
        # metrics-only manifest dir for the fused numbering pass (wall
        # time + per-range-partition row lineage); holds no data
        return os.path.join(self.root, "numbering")

    @property
    def postings(self) -> str:
        return os.path.join(self.root, "postings")

    @property
    def dictionary(self) -> str:
        return os.path.join(self.root, "dictionary")

    @property
    def stats(self) -> str:
        return os.path.join(self.root, "stats.json")

    @property
    def payloads(self) -> str:
        # optional per-doc payload side table (whitespace_payload indexes):
        # (doc_id, n, payloads vbyte of float32 bits) aligned to positions
        return os.path.join(self.root, "payloads")

    @property
    def stored(self) -> str:
        # optional stored-fields store (Lucene .fdt analog) — written by
        # store_fields() / add_docs(store_fields=True), read by realtime_get
        return os.path.join(self.root, "stored")


def _input_digest(pages: DataFrame, source: str | None) -> str:
    # cheap fingerprint: source path + schema; row count comes via manifests
    return f"{source or 'df'}::{','.join(pages.columns)}"


ANALYZED_SCHEMA = (
    "url string, terms array<string>, tfs binary, positions binary, doclen int"
)


def _analyze_batch(rb: pa.RecordBatch, cfg: IndexConfig) -> pa.RecordBatch:
    """The analysis kernel, Arrow in and Arrow out: (url, html, text) rows
    to (url, terms, tfs, positions, doclen) rows.  Both placements run it:
    the Spark one through ``mapInArrow`` (:func:`_analyze_raw`), the
    driver one over ``pages.toArrow()``.

    The chain runs once per doc (the same Python the oracle runs); the
    grouping of each doc's occurrences by term is one pass for the batch:
    the batch's tokens are ranked by term (Arrow's byte order of UTF-8 is
    Python's code-point order), stably sorted by (doc, term rank), so the
    positions of a term stay ascending, and cut into runs.  ``terms`` holds
    a doc's distinct terms in order, ``tfs`` one vbyte count per term and
    ``positions`` the doc's positions, term-major (empty when positions
    are not stored)."""
    analyze_ = analyzer_fn(cfg.analyzer)
    max_token_len = cfg.max_token_len
    toks = [
        analyze_(extract_text(h, t), max_token_len=max_token_len)
        for h, t in zip(rb.column("html").to_pylist(), rb.column("text").to_pylist())
    ]
    n_docs = len(toks)
    lens = np.fromiter(map(len, toks), np.int64, n_docs)
    enc = pc.dictionary_encode(pa.array(list(chain.from_iterable(toks)), pa.string()))
    ranked = pc.sort_indices(enc.dictionary).to_numpy()
    rank = np.empty(ranked.size, np.int64)
    rank[ranked] = np.arange(ranked.size)
    codes = rank[enc.indices.to_numpy()]
    doc = np.repeat(np.arange(n_docs), lens)
    order = np.argsort(doc * max(ranked.size, 1) + codes, kind="stable")
    codes, doc = codes[order], doc[order]
    run = np.ones(codes.size, bool)
    run[1:] = (codes[1:] != codes[:-1]) | (doc[1:] != doc[:-1])
    run_starts = np.flatnonzero(run)
    tfs = np.diff(np.append(run_starts, codes.size))
    terms_per_doc = np.bincount(doc[run_starts], minlength=n_docs)
    term_offsets = np.concatenate(([0], np.cumsum(terms_per_doc)))
    tok_starts = np.cumsum(lens) - lens
    tf_buf, tf_bounds = encode_vbyte_packed(tfs, term_offsets[:-1])
    if cfg.store_positions:
        positions = order - np.repeat(tok_starts, lens)
        pos_buf, pos_bounds = encode_vbyte_packed(positions, tok_starts)
    else:
        pos_buf, pos_bounds = encode_vbyte_packed(np.empty(0, np.int64), tok_starts)
    return pa.RecordBatch.from_arrays(
        [
            rb.column("url"),
            pa.ListArray.from_arrays(
                pa.array(term_offsets.astype(np.int32)),
                enc.dictionary.take(pa.array(ranked[codes[run_starts]])),
            ),
            _binary_from(tf_buf, tf_bounds),
            _binary_from(pos_buf, pos_bounds),
            pa.array(lens.astype(np.int32)),
        ],
        names=["url", "terms", "tfs", "positions", "doclen"],
    )


def _analyze_raw(pages: DataFrame, cfg: IndexConfig = DEFAULT_CONFIG) -> DataFrame:
    """The Spark placement of :func:`_analyze_batch`, on the INPUT
    partitions: html never crosses a shuffle (raw pages through the
    exchange measurably dominated the build; analyzed rows are ~5x
    narrower), and the expensive UDF pass checkpoints on its own before
    any id assignment."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            yield _analyze_batch(rb, cfg)

    return pages.select("url", "html", "text").mapInArrow(run, schema=ANALYZED_SCHEMA)


def _range_parts(rows: int | None, shuffle_parts: int, parallelism: int) -> int:
    """Range-partition count for the numbering shuffle (which also sets the
    parallelism of every downstream pass over the persisted analyzed rows —
    the docs write and the heavy segment-encode UDF).  Target ~25k docs per
    partition so the python-heavy stages run in MULTIPLE WAVES per core
    (straggler smoothing: one slow task in a single wave of exactly
    #cores tasks sets the whole stage's wall), clamped to
    [shuffle_parts, 4*parallelism] so tiny builds don't pay per-task
    overhead and huge builds don't explode the task count.

    A count of at least one wave is then rounded UP to a whole number of
    waves: a count like 60 on 32 cores runs as 1.875 waves — the second
    wave leaves half the cores idle while the stage wall waits on it (r5
    stage-wall sessions P1/P2 measured the postings map side at 0.75
    efficiency against a 0.94 same-session hardware ceiling; wave
    quantization was the largest attributable slice).  A count below one
    wave stays as clamped: rounding it up would pay the per-task overhead
    the ``lo`` clamp exists to avoid."""
    lo = shuffle_parts
    hi = max(shuffle_parts, 4 * parallelism)
    if not rows:
        n = max(lo, 2 * parallelism)
    else:
        n = int(min(max(lo, -(-rows // 25_000)), hi))
    if n < parallelism:
        return n
    return -(-n // parallelism) * parallelism


def _number_docs(
    spark: SparkSession, raw: DataFrame, n_parts: int
) -> tuple[DataFrame, int, int, DataFrame, list]:
    """Range shuffle of the narrow analyzed rows to assign the dense global
    doc_id = rank of url — deterministic and invariant to input partitioning
    (mirrors Lucene's stable docIDs; control-vs-distributed tests depend on
    it, and the fused build's resume path depends on a RE-computation
    yielding identical ids, which rank-of-url guarantees).  Returns
    (numbered_df, n_docs, total_len, ranged_df, per_partition_counts): the
    offsets pass already scans every row, so corpus stats and the numbering
    manifest's lineage ride along for free.  ``ranged_df`` is the persisted
    frame the caller must unpersist once downstream stages are done.

    The ranged frame is persisted so the offsets pass and the numbering pass
    see the SAME partition boundaries — a separate url-only shuffle was
    tried and produced different range-sampler boundaries (caught by
    the permutation check in build_index, which stays as a permanent
    guard).

    doc_id is a PURE JVM PROJECTION over the persisted frame:
    ``offset[spark_partition_id] + (monotonically_increasing_id & 2^33-1)``
    — mono ids are ``pid<<33 | row-index-in-partition``, so subtracting the
    pid bits yields the row's dense rank within its url-sorted partition,
    and adding the collected per-partition offset makes it the global url
    rank.  Rounds 1-3 did this with a mapInArrow pass; that blocked column
    pruning for every consumer (mapInArrow consumes all columns), so the
    narrow docs write decoded the full terms/tfs/positions payload through
    Python once per consumer.  As a projection, consumers prune: the docs
    write touches only (url, doclen) cache columns and no Python worker at
    all; the permutation check on the docs write remains the guard that
    the recomputed row order is the same dense rank."""
    # Sort key is a TOTAL order over the row (url is the de-facto uniqueKey,
    # but duplicate-url inputs exist in the wild): under a bare url sort,
    # equal-url rows have nondeterministic tie order across shuffle
    # refetch, so a postings-only resume or cache-partition loss could
    # renumber them relative to the already-written docs table — and the
    # dense-permutation check cannot see a swap.  The extra keys cost
    # nothing on unique urls (comparator short-circuits on the first key)
    # and make recompute identity unconditional; rows identical in every
    # column are interchangeable, so their tie order is immaterial.
    ranged = (
        raw.repartitionByRange(n_parts, "url")
        .sortWithinPartitions("url", "doclen", "terms", "tfs", "positions")
        .persist()
    )
    # at most n_parts rows: sorted here, not by a range sort in Spark
    counts = sorted(
        ranged.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("count"), F.sum("doclen").alias("dl"))
        .collect(),
        key=lambda r: r["pid"],
    )
    offsets = {}
    acc = 0
    total_len = 0
    for r in counts:
        offsets[r["pid"]] = acc
        acc += r["count"]
        total_len += int(r["dl"] or 0)
    off_arr = F.array(
        *[F.lit(int(offsets.get(i, 0))) for i in range(n_parts)]
    )
    pid = F.spark_partition_id()
    doc_id = (
        F.element_at(off_arr, pid + F.lit(1)).cast("long")
        + F.monotonically_increasing_id()
        - F.shiftleft(pid.cast("long"), 33)
    ).alias("doc_id")
    numbered = ranged.select(
        "url", doc_id, "terms", "tfs", "positions", "doclen"
    )
    part_counts = [
        {"partition": int(r["pid"]), "rows": int(r["count"])} for r in counts
    ]
    return numbered, acc, total_len, ranged, part_counts


def _permutation_metrics() -> tuple:
    """(count, max, sum, sumsq) jointly pin the multiset {0..n-1}; sum of
    doclen rides along for stats.  sumsq runs in decimal(38,0): at 10^12
    docs the long sum of doc_id^2 (~10^36) would wrap.  Built lazily —
    Column construction needs the JVM gateway, which executor-side module
    imports don't have."""
    return (
        F.count("doc_id").alias("n"),
        F.max("doc_id").alias("mx"),
        F.sum("doc_id").alias("s"),
        F.sum(
            F.col("doc_id").cast("decimal(38,0)")
            * F.col("doc_id").cast("decimal(38,0)")
        ).alias("sq"),
        F.sum("doclen").alias("tl"),
    )


def _assert_doc_id_permutation(m: dict) -> None:
    """Assert doc_id is exactly {0..n-1} from the observed docs-write
    metrics; guards the shadow-shuffle offset assumption in _number_docs.
    Runs off :func:`_permutation_metrics` observed DURING the docs write —
    no extra scan."""
    n = int(m["n"])
    if n == 0:
        return
    want_s = n * (n - 1) // 2
    want_sq = (n - 1) * n * (2 * n - 1) // 6
    if not (
        int(m["mx"]) == n - 1 and int(m["s"]) == want_s and int(m["sq"]) == want_sq
    ):
        raise RuntimeError(
            "doc_id assignment is not a dense permutation — range boundary "
            f"mismatch between counts and shuffle passes (n={n}, max={m['mx']})"
        )


def _flat_binary(arr) -> np.ndarray:
    """Contiguous uint8 view over ALL values of an Arrow BinaryArray (no
    nulls): the concatenation of the per-row byte strings, zero-copy."""
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)
    lo = int(offs[arr.offset])
    hi = int(offs[arr.offset + len(arr)])
    return np.frombuffer(arr.buffers()[2], dtype=np.uint8)[lo:hi]


def _delta_positions(g_pos: np.ndarray, g_tfs: np.ndarray) -> np.ndarray:
    """Per-posting delta encoding of flat absolute positions: each posting's
    first position stays raw, the rest become gaps."""
    starts = np.concatenate(([0], np.cumsum(g_tfs)))[:-1]
    gaps = np.empty(g_pos.size, dtype=np.int64)
    if g_pos.size:
        gaps[1:] = g_pos[1:] - g_pos[:-1]
        gaps[starts] = g_pos[starts]
    return gaps


def _undelta_positions(gaps: np.ndarray, g_tfs: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_delta_positions` (flat absolute positions)."""
    starts = np.concatenate(([0], np.cumsum(g_tfs)))[:-1].astype(np.int64)
    cs = np.cumsum(gaps.astype(np.int64))
    before = cs[starts] - gaps[starts]  # running total just before each posting
    tfs64 = np.asarray(g_tfs, dtype=np.int64)
    return cs - np.repeat(before, tfs64)


_SEGMENT_COLUMNS = [c.split()[0] for c in SEGMENT_SCHEMA.split(", ")]


def _binary_from(buf: np.ndarray, bounds: np.ndarray) -> pa.Array:
    """Arrow BinaryArray over one byte buffer cut at ``bounds``."""
    return pa.BinaryArray.from_buffers(
        pa.binary(),
        len(bounds) - 1,
        [
            None,
            pa.py_buffer(bounds.astype(np.int32)),
            pa.py_buffer(np.ascontiguousarray(buf, dtype=np.uint8)),
        ],
    )


def _pack_groups(
    salt_range: int,
    group_terms: pa.Array,
    salts: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    norms: np.ndarray,
    pos_gaps: np.ndarray,
    gstarts: np.ndarray,
) -> pa.RecordBatch:
    """Pack flat postings into one SEGMENT_SCHEMA row per (term, salt)
    group, all groups of a batch at once.  Group i is the postings
    [gstarts[i], gstarts[i+1]) with doc_ids ascending; ``group_terms`` and
    ``salts`` hold one value per group; ``pos_gaps`` holds every posting's
    tf position values (first raw, rest gaps) or is empty when positions
    are not stored.  The segment encoder, the merge and optimize all end
    here, so every postings row in the index is packed by this code."""
    n = doc_ids.size
    glens = np.append(gstarts[1:], n) - gstarts
    gaps = np.empty(n, dtype=np.int64)
    gaps[1:] = doc_ids[1:] - doc_ids[:-1]
    gaps[gstarts] = doc_ids[gstarts] - salts * salt_range
    gap_buf, gap_bounds = encode_vbyte_packed(gaps, gstarts)
    tf_buf, tf_bounds = encode_vbyte_packed(tfs, gstarts)
    pos_buf, pos_bounds = encode_vbyte_packed(
        pos_gaps, (np.cumsum(tfs) - tfs)[gstarts]
    )
    arrays = [
        group_terms,
        pa.array(salts),
        pa.array(glens.astype(np.int32)),
        pa.array(doc_ids[gstarts]),
        _binary_from(gap_buf, gap_bounds),
        _binary_from(tf_buf, tf_bounds),
        _binary_from(norms, np.append(gstarts, n)),
        _binary_from(pos_buf, pos_bounds),
        pa.array(np.add.reduceat(tfs, gstarts)),
    ]
    return pa.RecordBatch.from_arrays(arrays, names=_SEGMENT_COLUMNS)


def _decode_rows(rb: pa.RecordBatch, salt_range: int) -> tuple:
    """Inverse of :func:`_pack_groups` for a whole batch of postings rows:
    (doc_ids, tfs, norms, pos_gaps, row_starts) as flat arrays in row order,
    one vbyte decode per column.  ``row_starts[i]`` is row i's first
    posting; doc ids come from a segmented cumsum of the gaps that
    restarts at every row's salt base.  Only ``salt``, ``n_docs`` and
    ``doc_gaps`` are required: tfs / norms / pos_gaps are None when the
    batch does not carry that column, so a scan decodes what it selects."""
    n_docs = rb.column("n_docs").to_numpy().astype(np.int64)
    row_starts = np.cumsum(n_docs) - n_docs
    gaps = decode_vbyte(_flat_binary(rb.column("doc_gaps"))).astype(np.int64)
    cs = np.cumsum(gaps)
    base = rb.column("salt").to_numpy() * salt_range
    doc_ids = cs + np.repeat(base - (cs[row_starts] - gaps[row_starts]), n_docs)
    names = rb.schema.names
    tfs = norms = pos_gaps = None
    if "tfs" in names:
        tfs = decode_vbyte(_flat_binary(rb.column("tfs"))).astype(np.int64)
    if "norms" in names:
        norms = _flat_binary(rb.column("norms"))
    if "positions" in names:
        pos_gaps = decode_vbyte(_flat_binary(rb.column("positions"))).astype(
            np.int64
        )
    return doc_ids, tfs, norms, pos_gaps, row_starts


def _segment_encode(cfg: IndexConfig):
    """MAP-SIDE segment build (the reference's per-segment index model,
    SolrIndexConfig ramBuffer->segment flush semantics): for one analyzed
    partition, explode to postings IN NUMPY (never through a JVM explode or
    a raw-posting shuffle), sort by (term, salt, doc_id), and emit packed
    segment rows with the SAME schema as the final index.

    Because stage-1 partitions are doc_id-contiguous, a (term, salt) group
    rarely spans partitions — the reduce-side merge mostly passes rows
    through untouched.  Shuffle bytes drop ~15x vs shuffling raw
    (term, doc_id, tf, norm) rows; this was the build bottleneck at 10^6
    docs and is the difference between shuffling ~2 bytes/posting and ~50.
    """
    salt_range = cfg.salt_range

    def run(batches):  # Iterator[pa.RecordBatch] -> Iterator[pa.RecordBatch]
        for rb in batches:
            if rb.num_rows == 0:
                continue
            terms_col = rb.column("terms")
            lens = pc.list_value_length(terms_col).to_numpy().astype(np.int64)
            if lens.sum() == 0:
                continue
            # flatten WITHOUT creating Python string objects: the term column
            # stays an Arrow StringArray; grouping runs on its C++-computed
            # dictionary codes.
            enc = pc.dictionary_encode(pc.list_flatten(terms_col))
            codes = enc.indices.to_numpy().astype(np.int64)
            tfs = decode_vbyte(_flat_binary(rb.column("tfs"))).astype(np.int64)
            pos_flat = decode_vbyte(_flat_binary(rb.column("positions"))).astype(
                np.int64
            )
            doc_ids = np.repeat(rb.column("doc_id").to_numpy(), lens)
            norms = np.repeat(
                int_to_byte4_np(rb.column("doclen").to_numpy().astype(np.int64)),
                lens,
            )

            salts = doc_ids // salt_range
            order = np.lexsort((doc_ids, salts, codes))
            # flat position offsets of each posting BEFORE reordering
            pos_sel_starts = (np.cumsum(tfs) - tfs)[order]
            codes, salts, doc_ids, tfs, norms = (
                codes[order], salts[order], doc_ids[order], tfs[order], norms[order]
            )
            change = (
                np.flatnonzero((codes[1:] != codes[:-1]) | (salts[1:] != salts[:-1]))
                + 1
            )
            gstarts = np.concatenate(([0], change))
            # positions: gather occurrence groups into posting order, then
            # delta per posting
            pgaps = pos_flat
            if pos_flat.size:
                new_starts = np.cumsum(tfs) - tfs
                within = np.arange(pos_flat.size, dtype=np.int64) - np.repeat(
                    new_starts, tfs
                )
                pgaps = _delta_positions(
                    pos_flat[np.repeat(pos_sel_starts, tfs) + within], tfs
                )
            group_terms = enc.dictionary.take(pa.array(codes[gstarts]))
            yield _pack_groups(
                salt_range, group_terms, salts[gstarts], doc_ids, tfs, norms,
                pgaps, gstarts,
            )

    return run


def _group_lens(rb: pa.RecordBatch) -> np.ndarray:
    """Row counts of the consecutive (term, salt) groups of a sorted batch."""
    terms = rb.column("term")
    salts = rb.column("salt").to_numpy()
    change = np.flatnonzero(
        pc.not_equal(terms[1:], terms[:-1]).to_numpy(zero_copy_only=False)
        | (salts[1:] != salts[:-1])
    ) + 1
    return np.diff(np.concatenate(([0], change, [rb.num_rows])))


def _merge_segments(cfg: IndexConfig):
    """REDUCE-SIDE merge, a mapInArrow over rows sorted by
    (term, salt, first_doc).  Per batch, single-fragment groups pass
    through undecoded, ahead of the merged rows.  Multi-fragment groups (a
    salt range that straddled input partitions) are decoded with one vbyte
    pass per column for the whole batch and re-packed by
    :func:`_pack_groups`: fragments are sorted by first_doc and never
    overlap, and position gaps are per posting, so the decoded fragments
    concatenate as they are.  The streaming carry holds back each batch's
    last group, which may continue in the next batch.
    """
    salt_range = cfg.salt_range

    def merge_batch(rb: pa.RecordBatch):
        glens = _group_lens(rb)
        single = np.repeat(glens == 1, glens)
        if single.any():
            yield rb.take(pa.array(np.flatnonzero(single)))
        if single.all():
            return
        multi = rb.take(pa.array(np.flatnonzero(~single)))
        mlens = glens[glens > 1]
        first_rows = np.cumsum(mlens) - mlens
        doc_ids, tfs, norms, pos_gaps, row_starts = _decode_rows(multi, salt_range)
        yield _pack_groups(
            salt_range, multi.column("term").take(pa.array(first_rows)),
            multi.column("salt").to_numpy()[first_rows],
            doc_ids, tfs, norms, pos_gaps, row_starts[first_rows],
        )

    def run(batches):  # Iterator[pa.RecordBatch] -> Iterator[pa.RecordBatch]
        carry = None
        for rb in batches:
            if carry is not None:
                rb = pa.Table.from_batches([carry, rb]).combine_chunks()
                rb = rb.to_batches()[0]
            if rb.num_rows == 0:
                continue
            cut = rb.num_rows - int(_group_lens(rb)[-1])
            carry = rb.slice(cut)
            if cut:
                yield from merge_batch(rb.slice(0, cut))
        if carry is not None:
            yield from merge_batch(carry)

    return run


# ---- placement --------------------------------------------------------

# the driver placement's peak RSS per byte of the input's size estimate
# (see _build_budget)
_RSS_PER_INPUT_BYTE = 10
# input size estimate up to which the driver placement measured faster than
# the Spark one (see _build_budget)
_BUILD_CROSSOVER = 60 << 20


def _build_budget() -> int:
    """The largest input, by :func:`_input_bytes`, that builds in the
    driver placement: ``min(MemTotal / 16 / _RSS_PER_INPUT_BYTE,
    _BUILD_CROSSOVER)`` (60 MiB at 15.7 GiB, about 100k Zipf docs).

    Measured on the Zipf corpus (``write_pages_parquet(n, seed=5,
    docs_per_file=250)``, default config), 4 cores (``nproc`` 4), 15.7 GiB,
    PySpark 4.1.2: per size and placement one process, a cold build, then
    two warm ``build_index(..., resume=False)`` (their mean below).  Peak
    RSS is the driver process's ``ru_maxrss`` less its RSS after the
    session started (118 MB); the Spark placement's driver peaked 32 MB
    above that at every size.

    ========  =========  ===========  =========  ==========  ===========
    docs      input      driver (s)   Spark (s)  driver      RSS per doc
              (MB)                               RSS (MB)    (KB)
    ========  =========  ===========  =========  ==========  ===========
    2,000     1.25       0.87         4.99       55          27.5
    10,000    6.33       2.73         6.35       158         15.8
    20,000    12.6       4.08         7.63       220         11.0
    50,000    31.5       9.37         12.61      280         5.6
    100,000   62.9       21.69        23.17      450         4.5
    ========  =========  ===========  =========  ==========  ===========

    Time: the driver placement runs the analysis chain on one core (about
    0.13 ms a doc, most of its wall) but pays none of Spark's fixed cost
    per job and per Python task; the Spark placement runs the chain on
    every core.  They near a tie at 100k docs, so ``_BUILD_CROSSOVER`` is
    set at that input.  More cores speed the Spark placement only, so on
    a larger host the crossover is lower than measured here.

    Memory: the placement holds the pages' Arrow table, the analyzed and
    numbered rows and the postings rows in this process.  Peak RSS per
    input byte fell with size (44, 25, 17, 8.9 and 7.2 bytes from the
    first row down), the fixed part dominating small inputs;
    ``_RSS_PER_INPUT_BYTE`` rounds up the ratio near the budget.  A
    sixteenth of the RAM, as for a driver-placed query
    (``query.engine._driver_budget``), leaves the rest to the driver JVM,
    the Python workers and the OS."""
    mb = host_memory_mb() or 8 * 1024
    return min((mb << 20) // 16 // _RSS_PER_INPUT_BYTE, _BUILD_CROSSOVER)


def _input_bytes(pages: DataFrame) -> int:
    """Catalyst's size estimate of the pages plan, read without a Spark
    job: the input files' size for a file scan, scaled through the plan's
    projections.  A plan Catalyst cannot size reports Long.MaxValue, so it
    builds in Spark."""
    stats = pages._jdf.queryExecution().optimizedPlan().stats()
    return int(stats.sizeInBytes())


def _write_stage(
    stage_dir: str, files: dict, keys: list, dictionary: list = ()
) -> None:
    """Overwrite ``stage_dir`` with the driver placement's parquet files
    (``{relative path: pa.Table}``), as Spark's overwrite mode replaces a
    stage's directory.  The options keep the files no larger than
    Spark's: min/max statistics only on the ``keys`` readers filter on
    (those of the vbyte binaries would sit in every page header),
    dictionary encoding only for the columns in ``dictionary``, whose
    values repeat, and no stored Arrow schema."""
    shutil.rmtree(stage_dir, ignore_errors=True)
    os.makedirs(stage_dir)
    for name, table in files.items():
        path = os.path.join(stage_dir, name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(
            table,
            path,
            use_dictionary=list(dictionary) or False,
            write_statistics=list(keys),
            store_schema=False,
        )


def _number_table(raw: pa.Table) -> pa.Table:
    """The analyzed rows in the Spark placement's numbering order, with
    ``doc_id`` = rank: (url, doclen, terms, tfs, positions) ascending, a
    total order over the row (see :func:`_number_docs`).  Arrow sorts by
    (url, doclen); rows tied on both, rare, are put in order by Python's
    comparison of their lists and bytes, which is Spark's ordering of
    array<string> and binary."""
    order = pc.sort_indices(
        raw, [("url", "ascending"), ("doclen", "ascending")], null_placement="at_start"
    ).to_numpy()
    url = raw.column("url").take(order)
    doclen = raw.column("doclen").take(order).to_numpy()
    null = np.asarray(url.is_null())
    tie = (
        pc.fill_null(pc.equal(url[1:], url[:-1]), False).to_numpy(zero_copy_only=False)
        | (null[1:] & null[:-1])
    ) & (doclen[1:] == doclen[:-1])
    if tie.any():
        order = order.copy()
        cols = [raw.column(c) for c in ("terms", "tfs", "positions")]
        # tie runs [a, b]: tie[a:b] all set
        edges = np.diff(np.concatenate(([0], tie.astype(np.int8), [0])))
        for a, b in zip(np.flatnonzero(edges == 1), np.flatnonzero(edges == -1)):
            order[a : b + 1] = sorted(
                order[a : b + 1], key=lambda i: tuple(c[int(i)].as_py() for c in cols)
            )
    numbered = raw.take(order)
    return numbered.add_column(
        1, "doc_id", pa.array(np.arange(numbered.num_rows, dtype=np.int64))
    )


def _encode_postings(numbered: pa.Table, cfg: IndexConfig):
    """The postings rows of the numbered table, with their ``bucket``,
    sorted by (bucket, term, salt); None when no doc has a term.  The map
    side kernel :func:`_segment_encode` runs on one salt range of rows at
    a time, so every (term, salt) group is whole and no merge is needed.
    The buckets are one vectorised XXH64 pass over the distinct terms."""
    batches = numbered.select(
        ["doc_id", "doclen", "terms", "tfs", "positions"]
    ).combine_chunks().to_batches()
    if not batches:
        return None
    rb = batches[0]
    encode = _segment_encode(cfg)
    salt_range = cfg.salt_range
    segs = list(
        encode(rb.slice(a, salt_range) for a in range(0, rb.num_rows, salt_range))
    )
    if not segs:
        return None
    rows = pa.Table.from_batches(segs)
    terms = pc.unique(rows.column("term"))
    buckets = term_buckets(terms, cfg.n_buckets)
    rows = rows.append_column(
        "bucket",
        pa.array(buckets[pc.index_in(rows.column("term"), value_set=terms).to_numpy()]),
    )
    keys = [("bucket", "ascending"), ("term", "ascending"), ("salt", "ascending")]
    return rows.take(pc.sort_indices(rows, keys))


class _DriverStages:
    """The driver placement of the build's stages: the same kernels over
    pyarrow tables in this Python process, written with pyarrow.  Its only
    Spark job is the read of the pages (``toArrow``)."""

    def __init__(self, pages: DataFrame, paths: IndexPaths, cfg: IndexConfig) -> None:
        self.pages, self.paths, self.cfg = pages, paths, cfg
        self.raw = self.numbered = self.postings_rows = None

    def analyze(self) -> None:
        table = self.pages.select("url", "html", "text").toArrow()
        # a few thousand docs per kernel call bounds the batch's Python
        # token lists, the placement's largest transient
        batches = table.to_batches(max_chunksize=2048) or [
            pa.RecordBatch.from_pylist([], table.schema)
        ]
        del table
        self.raw = pa.Table.from_batches([_analyze_batch(rb, self.cfg) for rb in batches])
        del batches
        _write_stage(
            self.paths.analyzed_raw, {"part-00000.parquet": self.raw}, ["url"],
            dictionary=["terms.list.element"],
        )

    def number(self) -> tuple[int, int, list]:
        raw = self.raw
        if raw is None:
            raw = pq.read_table(self.paths.analyzed_raw)
        self.raw = None
        self.numbered = _number_table(raw)
        n = self.numbered.num_rows
        total = int(pc.sum(self.numbered.column("doclen")).as_py() or 0)
        return n, total, [{"partition": 0, "rows": n}]

    def docs(self) -> dict:
        t = self.numbered
        ids = t.column("doc_id").to_numpy()
        doclen = t.column("doclen").to_numpy()
        docs = pa.table(
            {
                "url": t.column("url"),
                "doc_id": t.column("doc_id"),
                "doclen": t.column("doclen"),
                "norm_byte": pa.array(int_to_byte4_np(doclen).astype(np.int32)),
            }
        )
        _write_stage(
            self.paths.docs, {"part-00000.parquet": docs}, ["doc_id"],
            dictionary=["doclen", "norm_byte"],
        )
        # the metrics the Spark placement observes on its docs write; the
        # int64 sums are exact below ~2M docs, far above the budget
        return {
            "n": ids.size,
            "mx": int(ids.max()) if ids.size else None,
            "s": int(ids.sum()),
            "sq": int((ids * ids).sum()),
            "tl": int(doclen.sum()),
        }

    def doc_totals(self) -> tuple[int, int]:
        doclen = pq.read_table(self.paths.docs, columns=["doclen"]).column("doclen")
        return len(doclen), int(pc.sum(doclen).as_py() or 0)

    def postings(self) -> None:
        rows = _encode_postings(self.numbered, self.cfg)
        files = {}
        if rows is not None:
            b = rows.column("bucket").to_numpy()
            cuts = np.concatenate(([0], np.flatnonzero(np.diff(b)) + 1, [b.size]))
            body = rows.drop_columns(["bucket"])
            for lo, hi in zip(cuts[:-1], cuts[1:]):
                files[f"bucket={b[lo]}/part-00000.parquet"] = body.slice(lo, hi - lo)
        _write_stage(self.paths.postings, files, ["term", "salt"])
        self.postings_rows = rows

    def dictionary(self) -> None:
        cols = ["term", "n_docs", "sum_tf", "bucket"]
        rows = self.postings_rows
        if rows is None:
            rows = pads.dataset(
                self.paths.postings,
                format="parquet",
                partitioning=pads.partitioning(
                    pa.schema([("bucket", pa.int32())]), flavor="hive"
                ),
            ).to_table(columns=cols)
        d = rows.select(cols).group_by("term").aggregate(
            [("n_docs", "sum"), ("sum_tf", "sum"), ("bucket", "min")]
        )
        names = {"n_docs_sum": "df", "sum_tf_sum": "cf", "bucket_min": "bucket"}
        d = d.rename_columns([names.get(c, c) for c in d.column_names]).select(
            DICTIONARY_COLUMNS
        )
        d = d.take(pc.sort_indices(d, [("term", "ascending")]))
        _write_stage(
            self.paths.dictionary, {"part-00000.parquet": d}, ["term"],
            dictionary=["df", "cf", "bucket"],
        )
        self.postings_rows = None

    def release(self) -> None:
        self.raw = self.numbered = None


class _SparkStages:
    """The Spark placement of the build's stages: every stage a Spark plan
    over the executors (see the module docstring)."""

    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        paths: IndexPaths,
        cfg: IndexConfig,
        n_parts: int,
        n_parts_explicit: bool,
    ) -> None:
        self.spark, self.pages, self.paths, self.cfg = spark, pages, paths, cfg
        self.n_parts, self.n_parts_explicit = n_parts, n_parts_explicit
        self.numbered = self.ranged = None

    def analyze(self) -> None:
        _analyze_raw(self.pages, self.cfg).write.mode("overwrite").parquet(
            self.paths.analyzed_raw
        )

    def number(self) -> tuple[int, int, list]:
        # The numbered rows feed the docs write and the segment encoder
        # straight from executor persist() storage (MEMORY_AND_DISK).
        # Writing them to parquet and re-reading them twice was pure fixed
        # cost at the 4N level (BENCH/BASELINE.md: the numbering stage
        # scaled 1.66x against a 3.31x ceiling).  A resume that needs these
        # rows recomputes them from the analyzed_raw checkpoint:
        # rank-of-url is partition-invariant, so the doc_ids come out the
        # same.
        raw = self.spark.read.parquet(self.paths.analyzed_raw)
        raw_rows = (ckpt.load_manifest(self.paths.analyzed_raw) or {}).get("rows")
        n_range = (
            self.n_parts
            if self.n_parts_explicit
            else _range_parts(
                raw_rows, self.n_parts, self.spark.sparkContext.defaultParallelism
            )
        )
        self.numbered, n_docs, total_len, self.ranged, part_counts = _number_docs(
            self.spark, raw, n_range
        )
        return n_docs, total_len, part_counts

    def docs(self) -> dict:
        # The permutation guard and the global stats (exact — ExactStatsCache
        # semantics, solr/core/.../search/stats/ExactStatsCache.java) both
        # ride the docs write via df.observe(): zero extra Spark jobs.
        from pyspark.sql import Observation

        obs = Observation("docs_metrics")
        (
            self.numbered.select("url", "doc_id", "doclen")
            .observe(obs, *_permutation_metrics())
            .withColumn("norm_byte", _norm_byte(F.col("doclen")))
            .write.mode("overwrite")
            .parquet(self.paths.docs)
        )
        return obs.get

    def doc_totals(self) -> tuple[int, int]:
        agg = (
            self.spark.read.parquet(self.paths.docs)
            .agg(F.count("*").alias("n"), F.sum("doclen").alias("total_len"))
            .collect()[0]
        )
        return agg["n"], int(agg["total_len"] or 0)

    def postings(self) -> None:
        cfg = self.cfg
        # segments: numpy explode+sort+encode inside the UDF — raw postings
        # never cross the JVM or a shuffle
        segments = self.numbered.select(
            "doc_id", "doclen", "terms", "tfs", "positions"
        ).mapInArrow(_segment_encode(cfg), schema=SEGMENT_SCHEMA)
        # merge shuffle moves only packed rows; key (term-bucket, salt) so
        # head terms split across salts (skew) and each task writes into few
        # bucket dirs.  first_doc in the sort keeps fragments in doc order.
        # The reduce side gets a wave-aligned >=2-waves partition count:
        # bare spark.sql.shuffle.partitions (= core count in our session
        # factory) is exactly ONE wave, so a single straggling merge task
        # sets the whole stage wall — measurably worse the more cores
        # there are (r5 scaling sessions P1/P2).  Group integrity is
        # unaffected: (bucket, salt) hash-routes every fragment of a
        # (term, salt) group to one partition at any partition count.
        if self.n_parts_explicit:
            merge_parts = self.n_parts
        else:
            par = max(1, self.spark.sparkContext.defaultParallelism)
            merge_parts = -(-max(self.n_parts, 2 * par) // par) * par
        bucket = _bucket(cfg)
        (
            segments.repartition(merge_parts, bucket, F.col("salt"))
            .sortWithinPartitions("term", "salt", "first_doc")
            .mapInArrow(_merge_segments(cfg), schema=SEGMENT_SCHEMA)
            .withColumn("bucket", bucket)
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(self.paths.postings)
        )

    def dictionary(self) -> None:
        _dictionary(self.spark.read.parquet(self.paths.postings)).write.mode(
            "overwrite"
        ).parquet(self.paths.dictionary)

    def release(self) -> None:
        # unpersist the MEMORY_AND_DISK full corpus on EVERY exit: a failed
        # docs/postings write or a tripped permutation check must not leak
        # the cache for the life of the Spark session.
        if self.ranged is not None:
            self.ranged.unpersist()
            self.ranged = None


def build_index(
    spark: SparkSession,
    pages: DataFrame | str,
    out_dir: str,
    cfg: IndexConfig = DEFAULT_CONFIG,
    resume: bool = True,
    n_parts: int | None = None,
) -> IndexPaths:
    """Build (or resume) the full index under ``out_dir``: in the driver
    placement when the input's size estimate fits :func:`_build_budget`,
    else in the Spark placement.  Both walk the same stages, publish the
    same manifests and resume the same way."""
    source = pages if isinstance(pages, str) else None
    if isinstance(pages, str):
        # parquet path or Iceberg catalog table, auto-detected; Iceberg
        # additionally gives the resume path snapshot isolation (the
        # resumed read sees the same snapshot the manifests were cut from).
        pages = read_pages(spark, pages, validate=False)
    n_parts_explicit = n_parts is not None
    if n_parts is None:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    paths = IndexPaths(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    cfg_digest = cfg.digest()
    in_digest = _input_digest(pages, source)
    if _input_bytes(pages) <= _build_budget():
        stages = _DriverStages(pages, paths, cfg)
    else:
        stages = _SparkStages(spark, pages, paths, cfg, n_parts, n_parts_explicit)

    def publish(stage_dir: str, stage: str, t0: float, **kw) -> None:
        if "partitions" not in kw:
            kw["partitions"] = ckpt.parquet_lineage(stage_dir)
            kw["rows"] = sum(p["rows"] for p in kw["partitions"])
        ckpt.publish_manifest(
            stage_dir,
            stage=stage,
            config_digest=cfg_digest,
            input_digest=in_digest,
            started_at=t0,
            **kw,
        )

    def complete(stage_dir: str) -> bool:
        return resume and ckpt.stage_complete(stage_dir, cfg_digest, in_digest)

    def _write_stats(n_docs: int, total: int) -> None:
        stats = {
            "N": n_docs,
            "total_len": total,
            "avgdl": (total / n_docs) if n_docs else 0.0,
            "config_digest": cfg_digest,
            "input_digest": in_digest,
            # full config rides the stats file so readers (SearchEngine,
            # add_docs) can self-configure instead of trusting the caller
            # to re-supply the exact build cfg
            "config": cfg.to_dict(),
        }
        tmp = paths.stats + ".tmp"
        with open(tmp, "w") as f:
            json.dump(stats, f)
        os.replace(tmp, paths.stats)

    def _stats_reusable() -> bool:
        # like every other stage, reuse is gated on config AND input digests:
        # a rebuild with a changed config (e.g. max_token_len changes doclens)
        # or different input must not leave a stale N/avgdl for the scorer.
        if not os.path.exists(paths.stats):
            return False
        try:
            with open(paths.stats) as f:
                prev = json.load(f)
        except (OSError, ValueError):
            return False
        return (
            prev.get("config_digest") == cfg_digest
            and prev.get("input_digest") == in_digest
        )

    try:
        # ---- stage 1a: analysis -> analyzed_raw checkpoint ---------------
        t0 = time.time()
        if not complete(paths.analyzed_raw):
            stages.analyze()
            publish(paths.analyzed_raw, "analyzed_raw", t0)

        # ---- stage plan --------------------------------------------------
        # Decide up front which stages need (re)building: the numbered
        # rows are materialized only when some consumer stage actually
        # runs (a fully-resumed build does zero numbering work).
        need_docs = not complete(paths.docs)
        need_postings = not complete(paths.postings)

        # ---- stage 1b: dense doc_id assignment ---------------------------
        stats_fresh = False
        if need_docs or need_postings:
            t0 = time.time()
            n_docs_, total_len_, part_counts = stages.number()
            if not _stats_reusable():
                _write_stats(n_docs_, total_len_)
                stats_fresh = True
            os.makedirs(paths.numbering, exist_ok=True)
            publish(
                paths.numbering, "numbering", t0, rows=n_docs_, partitions=part_counts
            )

        # ---- stage 1c: docs table (+ stats & permutation check) ----------
        t0 = time.time()
        if need_docs:
            m = stages.docs()
            _assert_doc_id_permutation(m)
            _write_stats(int(m["n"]), int(m["tl"] or 0))
            stats_fresh = True
            publish(paths.docs, "docs", t0)

        # ---- stage 2: stats fallback (resume path where both stage-1
        # outputs were reused but stats.json is missing/stale) ------------
        if not stats_fresh and not _stats_reusable():
            _write_stats(*stages.doc_totals())

        # ---- stage 3: postings (segment encode -> postings) --------------
        t0 = time.time()
        if need_postings:
            stages.postings()
            publish(paths.postings, "postings", t0)
    finally:
        # the numbered rows go on every exit: a failed stage must not leak
        # them for the life of the session
        stages.release()

    # ---- stage 4: dictionary (term -> df, cf, bucket) -------------------
    t0 = time.time()
    if not complete(paths.dictionary):
        stages.dictionary()
        publish(paths.dictionary, "dictionary", t0)

    # ---- stage 5: per-doc payload side table (payload analyzers only) ---
    # Positions index the post-analysis token stream, so payloads[pos]
    # recovers any occurrence's payload — the PayloadScoreQuery /
    # PayloadCheckQuery data path (DelimitedPayloadTokenFilter.java)
    # without a postings-format change.  One extra pass over the raw
    # text, paid only by payload indexes, in Spark in either placement.
    if cfg.analyzer == "whitespace_payload":
        t0 = time.time()
        if not complete(paths.payloads):
            docs_map = spark.read.parquet(paths.docs).select("url", "doc_id")
            (
                _payload_arrays(pages)
                .join(docs_map, "url")
                .select("doc_id", "n", "payloads")
                .repartitionByRange(n_parts, "doc_id")
                .sortWithinPartitions("doc_id")
                .write.mode("overwrite")
                .parquet(paths.payloads)
            )
            publish(paths.payloads, "payloads", t0)
    return paths


def _payload_arrays(pages: DataFrame) -> DataFrame:
    """(url, n, payloads vbyte) — the position-aligned float32 payload
    stream per doc (analysis/payloads.py), batched through one
    encode_vbyte_packed pass like the analysis stage."""
    from apache___solr_spark.analysis.payloads import (
        encode_payloads,
        payload_values,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals: list[np.ndarray] = []
            for h, t in zip(pdf["html"], pdf["text"]):
                vals.append(
                    encode_payloads(payload_values(extract_text(h, t)))
                )
            ns = np.asarray([len(v) for v in vals], dtype=np.int64)
            starts = np.concatenate(([0], np.cumsum(ns)[:-1]))
            flat = (
                np.concatenate(vals).astype(np.int64)
                if vals and ns.sum()
                else np.empty(0, dtype=np.int64)
            )
            buf, bounds = encode_vbyte_packed(flat, starts)
            raw = buf.tobytes()
            yield pd.DataFrame(
                {
                    "url": pdf["url"].to_numpy(),
                    "n": ns,
                    "payloads": [
                        raw[int(bounds[i]) : int(bounds[i + 1])]
                        for i in range(len(ns))
                    ],
                }
            )

    return pages.select("url", "html", "text").mapInPandas(
        run, schema="url string, n long, payloads binary"
    )


def _norm_byte(doclen: Column) -> Column:
    """:func:`~apache___solr_spark.index.smallfloat.int_to_byte4` as a
    Catalyst expression, so the docs write runs no Python worker: below 8
    the length is stored verbatim; otherwise, with nb its bit length, the
    3 bits under the leading 1 plus shift code nb - 3 in the high bits."""
    nb = F.length(F.bin(doclen))
    mantissa = F.call_function("shiftright", doclen, nb - 4).bitwiseAND(F.lit(7))
    return (
        F.when(doclen < 8, doclen)
        .otherwise(mantissa.bitwiseOR(F.call_function("shiftleft", nb - 3, F.lit(3))))
        .cast("int")
    )


def _bucket(cfg: IndexConfig) -> Column:
    """A postings row's ``bucket`` partition, ``pmod(xxhash64(term),
    n_buckets)``: Spark's side of :func:`~apache___solr_spark.index.xxhash.
    term_buckets`, which the driver placement computes in numpy."""
    return F.pmod(F.xxhash64("term"), F.lit(cfg.n_buckets)).cast("int")


def _dictionary(postings: DataFrame) -> DataFrame:
    """The ``DICTIONARY_COLUMNS`` rows of ``postings`` rows, one per term:
    df and cf summed over the term's salts (a term's rows share its
    bucket).  The Spark placement, ``add_docs`` and ``optimize`` write
    it."""
    return postings.groupBy("term").agg(
        F.sum("n_docs").alias("df"),
        F.sum("sum_tf").alias("cf"),
        F.first("bucket").alias("bucket"),
    )
