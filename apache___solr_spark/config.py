"""Engine configuration.

BM25 constants match the Solr defaults
(solr/core/src/java/org/apache/solr/search/similarities/BM25SimilarityFactory.java:41-51:
k1=1.2, b=0.75, discountOverlaps=true).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class IndexConfig:
    """Configuration for an index build + the query engine reading it.

    salt_range: doc_id range per merge salt.  The postings hold one row
        per (term, doc_id // salt_range), not per bare term, so a head term
        appearing in 30%+ of docs is built by many tasks, not one
        (north_rule: explicit skew handling), and a query evaluates salt by
        salt.
    bm25_k1 / bm25_b: BM25Similarity parameters.
    max_token_len: StandardTokenizer maxTokenLen (Lucene default 255).
    n_buckets: the postings table is written partitioned by
        pmod(xxhash64(term), n_buckets) so a query touching T terms prunes
        the scan to <=T partitions (Catalyst partition pruning stands in
        for Solr's term-dictionary seek).
    """

    format_version: int = 5  # bump on any layout change (postings OR the
    # intermediate analyzed table): stale checkpoints then fail the manifest
    # digest check and rebuild instead of resuming with an incompatible
    # schema.  v3 added per-posting position streams (phrase queries /
    # highlighting); v4 vbyte-packed analyzed.tfs/positions (shuffle payload);
    # v5 dropped the impact and skip-block columns no reader used.
    salt_range: int = 8192
    bm25_k1: float = 1.2
    bm25_b: float = 0.75
    max_token_len: int = 255
    n_buckets: int = 64
    field: str = "text"
    # analyzer: "standard" = html_strip -> StandardTokenizer(UAX#29 approx)
    # -> stop -> lowercase (the reference text_general chain).  "simple" =
    # lowercase + [a-z0-9]+ regex, no stopwords — ANSI-SQL-expressible, so an
    # index built with it is value-checkable against a DuckDB oracle
    # end-to-end (the driver's correctness gate for BM25 itself).
    analyzer: str = "standard"
    # score_dtype: "float32" matches Lucene/Solr scoring exactly
    # (BM25Similarity computes in float); "float64" exists for the
    # SQL-oracle-checked configuration where DuckDB computes in double.
    score_dtype: str = "float32"
    # store_positions: per-posting position streams (third vbyte stream in
    # the postings row), enabling phrase queries — text fields index
    # positions by default in the reference (IndexOptions
    # DOCS_AND_FREQS_AND_POSITIONS, schema TextField default).  Positions are
    # indices in the POST-FILTER token stream: the standard chain drops
    # stopwords without leaving position gaps (documented divergence from
    # Lucene's posIncrement gaps; exact for analyzer="simple").
    store_positions: bool = True

    def __post_init__(self) -> None:
        if self.analyzer not in (
            "standard",
            "simple",
            "standard_porter",
            "standard_folding",
            "en_splitting",
            "icu_folding",
            "cjk",
            "min_hash",
            "whitespace_payload",
        ):
            raise ValueError(f"unknown analyzer {self.analyzer!r}")
        if self.score_dtype not in ("float32", "float64"):
            raise ValueError(f"unknown score_dtype {self.score_dtype!r}")

    def digest(self) -> str:
        """Stable digest used by checkpoint manifests to detect config drift."""
        payload = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(payload).hexdigest()[:16]

    def to_dict(self) -> dict:
        return asdict(self)

    @classmethod
    def from_dict(cls, d: dict) -> "IndexConfig":
        """Rehydrate from a stats-file ``config`` record; unknown keys (from
        a newer writer, or a retired field in an older index's stats) are
        ignored, so every index stays loadable across versions."""
        known = {f for f in cls.__dataclass_fields__}
        return cls(**{k: v for k, v in d.items() if k in known})


DEFAULT_CONFIG = IndexConfig()
