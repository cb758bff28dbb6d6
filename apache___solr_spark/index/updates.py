"""Incremental index updates: add / delete / commit.

Reference surface (the /update path, solr/core/src/java/org/apache/solr/
update/DirectUpdateHandler2.java:407-513):
- deleteById -> Lucene tombstones (liveDocs): deleted docs stay in the
  postings but are filtered from every search until a merge drops them.
- add -> new documents buffer into a NEW segment; existing segments are
  immutable (SolrIndexConfig ramBuffer->flush semantics).
- commit -> makes the update durable and visible.

Spark-first mapping:
- deletes: an append-only parquet of tombstone doc_ids under
  <index>/deletes/; a SearchEngine reads them at open and its query
  kernel masks each salt's root rows by the tombstones of that salt's
  doc-id range (the liveDocs mask), in either placement, so every query
  path (terms, phrases, spans, expansions, rerank) honors deletions
  without touching postings.
- add_docs: analyzes the new pages with the index's own config, assigns
  doc_ids monotonically after the current N (so salt ranges keep extending
  and never collide), encodes segment rows with the SAME map-side encoder
  as the full build, and APPENDS to the bucket-partitioned postings plus
  the docs table and per-term dictionary rows.  The term dictionary may
  then hold several rows per term.
- stats: N and total_len are updated; avgdl stays FROZEN at its value from
  the last build or optimize().  That is a scoring policy: no stored value
  depends on avgdl, and whether it should follow the live corpus (Lucene
  reads it from CollectionStatistics per search) is a scoring change for
  the oracles to decide on its own.  optimize() (the forceMerge/
  expungeDeletes analog) physically drops tombstones, folds segments, and
  re-baselines N and avgdl over the live docs.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apache___solr_spark.config import DEFAULT_CONFIG, IndexConfig
from apache___solr_spark.index.builder import (
    SEGMENT_SCHEMA,
    IndexPaths,
    _analyze_raw,
    _bucket,
    _dictionary,
    _norm_byte,
    _segment_encode,
)


def _deletes_path(index_dir: str) -> str:
    return os.path.join(index_dir, "deletes")


def _check_cfg_digest(cfg: IndexConfig, stats: dict, op: str) -> None:
    """Refuse to mix configs: appending/merging with a different analyzer,
    salt_range, or token limit than the original build silently corrupts
    search results (incompatibly-analyzed or mis-salted segments)."""
    stored = stats.get("config_digest")
    if stored is not None and cfg.digest() != stored:
        raise ValueError(
            f"{op}: IndexConfig digest {cfg.digest()} does not match the "
            f"index's build config {stored} — pass the config the index was "
            "built with (analyzer/salt_range/etc. must not change between "
            "segments)"
        )


def _swap_dir(tmp: str, live: str) -> None:
    """Crash-safe directory swap: every intermediate state keeps a readable
    or trivially-recoverable index (the old data survives as <live>.bak
    until the new data is in place — never rmtree-then-replace, which has a
    window where the index is gone)."""
    import shutil

    bak = live + ".bak"
    if os.path.isdir(bak):
        shutil.rmtree(bak)
    os.replace(live, bak)
    os.replace(tmp, live)
    shutil.rmtree(bak)


def load_deletes(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """Tombstoned doc_ids, or None when nothing was ever deleted."""
    p = _deletes_path(index_dir)
    if not os.path.isdir(p):
        return None
    return spark.read.parquet(p).select("doc_id").distinct()


def delete_docs(
    spark: SparkSession,
    index_dir: str,
    doc_ids: list[int] | None = None,
    urls: list[str] | None = None,
) -> int:
    """deleteById capability: tombstone documents by doc_id or url.
    Returns the number of tombstones written."""
    paths = IndexPaths(index_dir)
    ids: list[int] = [int(d) for d in (doc_ids or [])]
    if urls:
        rows = (
            spark.read.parquet(paths.docs)
            .filter(F.col("url").isin(list(urls)))
            .select("doc_id")
            .collect()
        )
        ids.extend(int(r["doc_id"]) for r in rows)
    if not ids:
        return 0
    spark.createDataFrame([(i,) for i in sorted(set(ids))], "doc_id long").write.mode(
        "append"
    ).parquet(_deletes_path(index_dir))
    return len(set(ids))


def add_docs(
    spark: SparkSession,
    index_dir: str,
    pages: DataFrame,
    cfg: IndexConfig = DEFAULT_CONFIG,
    store_fields: bool = False,
) -> int:
    """Append new documents as a fresh segment.  Returns docs added.

    New doc_ids are assigned monotonically after the current N in url
    order (deterministic given the batch).  At 100 TB scale each add batch
    is one narrow job over the new docs only — existing postings are never
    rewritten (segment immutability, exactly the reference's model).

    ``store_fields=True`` additionally appends the batch's source columns
    keyed by the new doc_ids into the index's stored-fields store
    (<index>/stored, the Lucene .fdt analog), which makes the batch — and
    any atomic-update merge result — retrievable via :func:`realtime_get`
    without consulting the external source table."""
    paths = IndexPaths(index_dir)
    with open(paths.stats) as f:
        stats = json.load(f)
    _check_cfg_digest(cfg, stats, "add_docs")
    base_n = int(stats["N"])

    analyzed_new = _analyze_raw(pages, cfg)
    w = F.row_number().over(Window.orderBy("url"))
    analyzed = analyzed_new.withColumn(
        "doc_id", (w + F.lit(base_n - 1)).cast("long")
    ).select("url", "doc_id", "terms", "tfs", "positions", "doclen")

    # docs table rows
    docs = analyzed.select("url", "doc_id", "doclen").withColumn(
        "norm_byte", _norm_byte(F.col("doclen"))
    )
    docs.write.mode("append").parquet(paths.docs)

    if store_fields:
        # one narrow broadcast-able join: batch source columns x the batch's
        # freshly-assigned doc_ids (read back from the just-written docs
        # rows so the analysis UDF does not recompute)
        new_ids = (
            spark.read.parquet(paths.docs)
            .filter(F.col("doc_id") >= base_n)
            .select("url", "doc_id")
        )
        pages.join(new_ids, "url").write.mode("append").parquet(paths.stored)

    if cfg.analyzer == "whitespace_payload":
        # payload indexes: the per-doc payload side table must grow with
        # every segment, or added docs silently vanish from payload
        # queries (the candidates join is inner on doc_id)
        from apache___solr_spark.index.builder import _payload_arrays

        new_ids = (
            spark.read.parquet(paths.docs)
            .filter(F.col("doc_id") >= base_n)
            .select("url", "doc_id")
        )
        (
            _payload_arrays(pages)
            .join(new_ids, "url")
            .select("doc_id", "n", "payloads")
            .write.mode("append")
            .parquet(paths.payloads)
        )

    # new segment rows (same map-side encoder as the full build), appended
    # into the bucket-partitioned postings layout
    segments = analyzed.select(
        "doc_id", "doclen", "terms", "tfs", "positions"
    ).mapInArrow(_segment_encode(cfg), schema=SEGMENT_SCHEMA)
    segments.withColumn("bucket", _bucket(cfg)).write.mode("append").partitionBy(
        "bucket"
    ).parquet(paths.postings)

    # per-term dictionary rows for the new segment (summed at read time),
    # aggregated over the new doc range only
    seg = spark.read.parquet(paths.postings)
    _dictionary(seg.filter(F.col("first_doc") >= base_n)).write.mode(
        "append"
    ).parquet(paths.dictionary)

    agg = analyzed.agg(
        F.count("*").alias("n"), F.sum("doclen").alias("total")
    ).collect()[0]
    n_new, len_new = int(agg["n"]), int(agg["total"] or 0)
    stats["N"] = base_n + n_new
    stats["total_len"] = int(stats["total_len"]) + len_new
    # avgdl stays frozen (see module docstring)
    tmp = paths.stats + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f)
    os.replace(tmp, paths.stats)
    return n_new


def optimize(
    spark: SparkSession,
    index_dir: str,
    cfg: IndexConfig = DEFAULT_CONFIG,
) -> dict:
    """forceMerge/expungeDeletes equivalent: physically drop tombstoned docs
    from the postings, fold per-segment dictionary rows into one row per
    term, and re-baseline exact stats (N, avgdl) over the live docs.  avgdl
    is frozen between builds and optimizes (the module docstring's policy);
    no stored value depends on it.

    One distributed pass over the postings: a grouped re-shuffle folds
    (term, salt) fragments (the build's merge), then each Arrow batch is
    decoded in one vectorized pass, postings of deleted docs are dropped,
    rows left empty vanish, and the rest are re-packed.  Narrow rewrites of
    docs/dictionary follow.  Returns the new stats dict.
    """
    import numpy as np
    import pyarrow as pa

    from apache___solr_spark.index.builder import (
        _decode_rows,
        _merge_segments,
        _pack_groups,
    )

    paths = IndexPaths(index_dir)
    with open(paths.stats) as f:
        _pre_stats = json.load(f)
    _check_cfg_digest(cfg, _pre_stats, "optimize")
    deletes = load_deletes(spark, index_dir)
    # deletes ship to executors as ONE broadcast sorted numpy int64 array
    # (Arrow collect; ~8 bytes/id — 10^7 deletes is 80 MB, not a Python set
    # of boxed ints), probed per posting with searchsorted.
    dels_arr = (
        np.sort(deletes.toPandas()["doc_id"].to_numpy(np.int64))
        if deletes is not None
        else np.empty(0, dtype=np.int64)
    )

    # fresh exact stats over the LIVE docs
    docs = spark.read.parquet(paths.docs)
    live_docs = (
        docs.join(deletes, "doc_id", "left_anti") if deletes is not None else docs
    )
    agg = live_docs.agg(
        F.count("*").alias("n"), F.sum("doclen").alias("total")
    ).collect()[0]
    n_docs, total = int(agg["n"]), int(agg["total"] or 0)
    avgdl = (total / n_docs) if n_docs else 0.0
    b_dels = spark.sparkContext.broadcast(dels_arr)
    salt_range = cfg.salt_range

    def rewrite(batches):  # Iterator[pa.RecordBatch] -> Iterator[pa.RecordBatch]
        dels = b_dels.value  # sorted int64 array, shared across all batches
        for rb in batches:
            if rb.num_rows == 0:
                continue
            doc_ids, tfs, norms, pos_gaps, row_starts = _decode_rows(rb, salt_range)
            if dels.size:
                # sorted probe: a doc is deleted iff dels[searchsorted] == id
                j = np.minimum(np.searchsorted(dels, doc_ids), dels.size - 1)
                keep = dels[j] != doc_ids
            else:
                keep = np.ones(doc_ids.size, dtype=bool)
            n_kept = np.add.reduceat(keep, row_starts, dtype=np.int64)
            live = np.flatnonzero(n_kept)
            if live.size == 0:
                continue
            if pos_gaps.size:
                pos_gaps = pos_gaps[np.repeat(keep, tfs)]
            yield _pack_groups(
                salt_range,
                rb.column("term").take(pa.array(live)),
                rb.column("salt").to_numpy()[live],
                doc_ids[keep], tfs[keep], norms[keep], pos_gaps,
                (np.cumsum(n_kept) - n_kept)[live],
            )

    postings = spark.read.parquet(paths.postings)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    bucket = _bucket(cfg)
    merged = (
        postings.drop("bucket")
        .repartition(n_parts, bucket, F.col("salt"))
        .sortWithinPartitions("term", "salt", "first_doc")
        .mapInArrow(_merge_segments(cfg), schema=SEGMENT_SCHEMA)
        .mapInArrow(rewrite, schema=SEGMENT_SCHEMA)
        .withColumn("bucket", bucket)
    )
    tmp_postings = paths.postings + ".opt"
    merged.write.mode("overwrite").partitionBy("bucket").parquet(tmp_postings)
    import shutil

    _swap_dir(tmp_postings, paths.postings)

    # rebuild the dictionary from the clean postings (one row per term)
    tmp_dict = paths.dictionary + ".opt"
    _dictionary(spark.read.parquet(paths.postings)).write.mode("overwrite").parquet(
        tmp_dict
    )
    _swap_dir(tmp_dict, paths.dictionary)

    # rewrite docs without tombstones, clear the tombstone dir
    tmp_docs = paths.docs + ".opt"
    live_docs.write.mode("overwrite").parquet(tmp_docs)
    _swap_dir(tmp_docs, paths.docs)
    dp = _deletes_path(index_dir)
    if os.path.isdir(dp):
        shutil.rmtree(dp)

    # expunge dead versions from the stored-fields store (if present):
    # keep only rows whose doc_id survived in the rewritten docs table
    if os.path.isdir(paths.stored):
        live_ids = spark.read.parquet(paths.docs).select("doc_id")
        tmp_stored = paths.stored + ".opt"
        spark.read.parquet(paths.stored).join(
            live_ids, "doc_id", "left_semi"
        ).write.mode("overwrite").parquet(tmp_stored)
        _swap_dir(tmp_stored, paths.stored)

    # same expunge for the payload side table (payload analyzers): doc
    # ids are stable through optimize, so a live-semi-join suffices
    if os.path.isdir(paths.payloads):
        live_ids = spark.read.parquet(paths.docs).select("doc_id")
        tmp_pay = paths.payloads + ".opt"
        spark.read.parquet(paths.payloads).join(
            live_ids, "doc_id", "left_semi"
        ).write.mode("overwrite").parquet(tmp_pay)
        _swap_dir(tmp_pay, paths.payloads)

    with open(paths.stats) as f:
        stats = json.load(f)
    stats.update({"N": n_docs, "total_len": total, "avgdl": avgdl})
    tmp = paths.stats + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f)
    os.replace(tmp, paths.stats)
    return stats


# ---------------------------------------------------------------------------
# atomic (partial-document) updates
# ---------------------------------------------------------------------------

ATOMIC_OPS = frozenset(
    {"set", "inc", "add", "add-distinct", "remove", "removeregex",
     "removefield"}
)


def atomic_merge(
    existing: DataFrame,
    updates: DataFrame,
    key: str,
    ops: dict[str, str],
) -> DataFrame:
    """AtomicUpdateDocumentMerger equivalent (update/processor/
    AtomicUpdateDocumentMerger.java:67, op dispatch :163-178): merge
    partial updates into stored documents as ONE left join — no per-row
    Python, every op is a column expression.

    ``updates`` carries ``key`` plus one column per updated field;
    ``ops[field]`` names the op.  A NULL in an update column means "this
    field untouched for this doc" (the reference expresses field removal
    as ``set: null``; here that spelling is the explicit ``removefield``
    op, which nulls the field for every updated doc).  Ops:

    - ``set``      replace the value
    - ``inc``      numeric increment (NULL old counts as 0)
    - ``add``      append to a multivalued (array) field; scalar update
                   values append one element, array values concatenate
    - ``add-distinct``  append only values not already present
    - ``remove``   drop ALL occurrences of the value(s) — duplicates of
                   other values survive (:742 — order/dup preserving)
    - ``removeregex``  drop elements matching the regex
    - ``removefield``  null the field on every updated doc

    Docs absent from ``updates`` pass through unchanged (same rows out as
    in — the caller decides what to re-index).
    """
    for f, op in ops.items():
        if op not in ATOMIC_OPS:
            raise ValueError(f"unknown atomic op {op!r} for field {f!r}")
        if f not in updates.columns and op != "removefield":
            raise ValueError(f"updates is missing column {f!r}")
    upd = updates.select(
        F.col(key).alias("__k"),
        F.lit(True).alias("__updated"),
        *[
            F.col(f).alias(f"__u_{f}")
            for f in ops
            if f in updates.columns and ops[f] != "removefield"
        ],
    )
    joined = existing.join(upd, existing[key] == upd["__k"], "left")

    def merged_col(f: str, op: str):
        old = existing[f]
        if op == "removefield":
            return F.when(F.col("__updated").isNotNull(), F.lit(None)).otherwise(old)
        new = F.col(f"__u_{f}")
        if op == "set":
            return F.coalesce(new, old)
        if op == "inc":
            return F.when(
                new.isNull(), old
            ).otherwise(F.coalesce(old, F.lit(0)) + new)
        # array ops: a scalar update value acts as a one-element array
        upd_field = dict(zip(updates.columns, updates.schema.fields))[f]
        is_arr = upd_field.dataType.typeName() == "array"
        new_arr = new if is_arr else F.array(new)
        old_arr = F.coalesce(old, F.array().cast(existing.schema[f].dataType))
        if op == "add":
            return F.when(new.isNull(), old).otherwise(
                F.concat(old_arr, new_arr)
            )
        if op == "add-distinct":
            return F.when(new.isNull(), old).otherwise(
                F.concat(old_arr, F.array_except(new_arr, old_arr))
            )
        if op == "remove":
            return F.when(new.isNull(), old).otherwise(
                F.filter(
                    old_arr,
                    (lambda x: ~F.array_contains(new_arr, x))
                    if is_arr
                    else (lambda x: x != new),
                )
            )
        if op == "removeregex":
            return F.when(new.isNull(), old).otherwise(
                F.filter(old_arr, lambda x: ~F.regexp_like(x, new))
            )
        raise AssertionError(op)

    out_cols = [
        (merged_col(c, ops[c]).alias(c) if c in ops else existing[c])
        for c in existing.columns
    ]
    return joined.select(*out_cols)


def atomic_update(
    spark: SparkSession,
    index_dir: str,
    pages: DataFrame,
    updates: DataFrame,
    ops: dict[str, str],
    key: str = "url",
    cfg: IndexConfig = DEFAULT_CONFIG,
    store_fields: bool = False,
) -> int:
    """Partial-document update against a live index: merge ``updates``
    into the stored-field source ``pages`` (atomic_merge), tombstone the
    old versions of the touched docs, and append the merged docs as a
    fresh segment (add_docs) — last-wins by uniqueKey, exactly the
    reference's read-merge-reindex path (AtomicUpdateDocumentMerger is
    invoked from DistributedUpdateProcessor before a normal add).
    Returns the number of docs updated.

    Scale shape: the merge is one left join against the update batch;
    only touched docs re-analyze (one narrow add_docs job over the batch);
    tombstones write through a distributed semi-join (no driver key list);
    untouched postings never rewrite."""
    keys_df = updates.select(key).distinct()
    merged = atomic_merge(pages, updates, key, ops).join(
        keys_df, key, "left_semi"
    )
    # tombstone old versions: docs ⋉ keys, written straight to the
    # tombstone parquet — never a driver-side key list
    paths = IndexPaths(index_dir)
    old_ids = (
        spark.read.parquet(paths.docs)
        .join(keys_df.withColumnRenamed(key, "url"), "url", "left_semi")
        .select("doc_id")
    )
    old_ids.write.mode("append").parquet(_deletes_path(index_dir))
    return add_docs(
        spark, index_dir, merged, cfg=cfg, store_fields=store_fields
    )


def store_fields(
    spark: SparkSession, index_dir: str, pages: DataFrame
) -> int:
    """Back-fill the stored-fields store (<index>/stored) for an index
    built WITHOUT it: attaches each page row to its current live doc_id
    via the docs table and appends.  Call once right after
    :func:`~apache___solr_spark.index.builder.build_index`; subsequent
    ``add_docs(..., store_fields=True)`` / ``atomic_update(...,
    store_fields=True)`` batches maintain the store themselves.  Returns
    rows stored.

    One url-keyed equi-join of the source against the docs table — the
    same shuffle shape as the build's numbering exchange, no driver state.
    """
    paths = IndexPaths(index_dir)
    ids = spark.read.parquet(paths.docs).select("url", "doc_id")
    dels = load_deletes(spark, index_dir)
    if dels is not None:
        ids = ids.join(dels, "doc_id", "left_anti")
    out = pages.join(ids, "url")
    out.write.mode("append").parquet(paths.stored)
    return out.count()


def realtime_get(
    spark: SparkSession,
    index_dir: str,
    keys,
    pages: DataFrame | None = None,
) -> DataFrame:
    """/get — RealTimeGetComponent equivalent (handler/component/
    RealTimeGetComponent.java:117 process(), :691
    getInputDocumentFromTlog): fetch the LATEST LIVE version of each
    requested document by uniqueKey, seeing every durable update
    immediately — add_docs / atomic_update batches are visible the moment
    they return, with no searcher refresh and no optimize(), and
    deleteById tombstones hide a doc from /get exactly as they hide it
    from search.  (The reference consults the uncommitted tlog before the
    open searcher; in this engine every update call IS durable on return,
    so the docs table + tombstones play the tlog's role.)

    ``keys`` is a Python list of urls (lowered to a parquet-pushed IN
    predicate) or a DataFrame with a ``url`` column (broadcast semi-join —
    the shape for large key sets).  Version resolution is max(doc_id) per
    url over live rows: doc_ids are assigned monotonically across
    segments, so the highest live id IS the newest version (last-wins by
    uniqueKey, the reference's overwrite semantics).

    Stored fields come from <index>/stored when present (doc_id-exact, so
    atomic-update merge results are returned as merged); else from the
    ``pages`` source joined by url (source-as-store mode: correct until
    the first atomic update, which only the stored store can reflect);
    else the docs-table row (url, doc_id, doclen) alone is returned.
    """
    paths = IndexPaths(index_dir)
    docs = spark.read.parquet(paths.docs)
    if isinstance(keys, DataFrame):
        docs = docs.join(
            F.broadcast(keys.select("url").distinct()), "url", "left_semi"
        )
    else:
        docs = docs.filter(F.col("url").isin([str(k) for k in keys]))
    dels = load_deletes(spark, index_dir)
    if dels is not None:
        docs = docs.join(dels, "doc_id", "left_anti")
    latest = docs.groupBy("url").agg(F.max("doc_id").alias("doc_id"))
    out = latest.join(
        docs.select("url", "doc_id", "doclen"), ["url", "doc_id"]
    )
    if os.path.isdir(paths.stored):
        stored = spark.read.parquet(paths.stored).drop("url")
        return out.join(stored, "doc_id", "left")
    if pages is not None:
        return out.join(pages, "url", "left")
    return out
