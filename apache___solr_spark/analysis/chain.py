"""The fused analysis chain: html_strip -> tokenize -> stop -> lowercase.

Chain order follows the reference ``text_general`` index analyzer
(managed-schema.xml:299-315): StandardTokenizer, then StopFilter with
ignoreCase=true, then LowerCaseFilter.  The HTML strip stage corresponds to
the char-filter slot / extraction path (TokenizerChain.java:37).

These are plain deterministic Python functions; the index build calls them
inside its Arrow-batched analysis pass (index/builder.py:_analyze_raw) so
the cluster runs the exact same bytes the single-process oracle runs.
"""

from __future__ import annotations

import re

from apache___solr_spark.analysis.html_strip import html_strip
from apache___solr_spark.analysis.stopwords import ENGLISH_STOP_WORDS
from apache___solr_spark.analysis.tokenizer import standard_tokenize


def extract_text(html: bytes | str | None, text: str | None) -> str:
    """Visible text for a page: pre-extracted ``text`` wins, else strip html.

    (input_hint: ``text`` may be null, engine must derive from ``html``;
    byte-identical per url is the north-rule invariant.)
    """
    if text is not None:
        return text
    return html_strip(html)


def analyze(text: str | None, max_token_len: int = 255) -> list[str]:
    """Tokenize + stop (ignoreCase) + lowercase.  Index == query analyzer
    (query-time synonyms are applied engine-side on the parsed clause,
    SearchEngine(synonyms=...), not in this chain)."""
    toks = standard_tokenize(text, max_token_len=max_token_len)
    return [lt for t in toks if (lt := t.lower()) not in ENGLISH_STOP_WORDS]


def analyze_porter(text: str | None, max_token_len: int = 255) -> list[str]:
    """The ``text_en``-shaped chain: standard chain + PorterStemFilter
    (managed-schema text_en; analysis/porter.py).  Index == query analyzer,
    so "running" and "runs" meet at the stem "run"."""
    from apache___solr_spark.analysis.porter import porter_stem

    return [porter_stem(t) for t in analyze(text, max_token_len=max_token_len)]


_SIMPLE_RE = re.compile(r"[a-z0-9]+")


def simple_analyze(text: str | None, max_token_len: int = 255) -> list[str]:
    """The SQL-expressible chain (analyzer="simple"): lowercase then
    ``[a-z0-9]+`` runs, no stopwords — byte-identical to DuckDB's
    ``regexp_extract_all(lower(text), '[a-z0-9]+')``, which is what makes an
    index built with it value-checkable end-to-end against a SQL oracle."""
    return _SIMPLE_RE.findall((text or "").lower())


def analyze_folding(text: str | None, max_token_len: int = 255) -> list[str]:
    """``text_general`` + ASCIIFoldingFilter after lowercase (the common
    ``text_general_folding`` schema variant): 'café' and 'cafe' meet."""
    from apache___solr_spark.analysis.filters import ascii_fold_tokens

    return ascii_fold_tokens(analyze(text, max_token_len=max_token_len))


def analyze_en_splitting(text: str | None, max_token_len: int = 255) -> list[str]:
    """The ``text_en_splitting`` chain (sample managed-schema):
    WHITESPACE tokenize (so 'wi-fi' reaches the next filter as one token —
    the reason the reference schema pairs WDGF with WhitespaceTokenizer,
    not StandardTokenizer), WordDelimiterGraphFilter (generateWordParts/
    NumberParts, catenateWords, splitOnCaseChange, stemEnglishPossessive),
    lowercase, stop, PorterStemFilter.  'PowerShot' matches power, shot,
    and powershot; 'wi-fi' matches wi, fi, and wifi."""
    from apache___solr_spark.analysis.filters import word_delimiter
    from apache___solr_spark.analysis.porter import porter_stem

    toks = (text or "").split()
    toks = word_delimiter(toks, catenate_words=True)
    toks = [
        t if len(t) <= max_token_len else t[:max_token_len] for t in toks
    ]
    return [
        porter_stem(lt)
        for t in toks
        if (lt := t.lower()) not in ENGLISH_STOP_WORDS
    ]


def analyze_cjk(text: str | None, max_token_len: int = 255) -> list[str]:
    """The ``text_cjk`` chain (managed-schema.xml:608-616): standard
    tokenize -> CJKWidthFilter (fullwidth ASCII -> halfwidth, halfwidth
    katakana + dakuten -> fullwidth) -> lowercase (affects non-CJK only)
    -> CJKBigramFilter (overlapping char bigrams over Han/Hiragana/
    Katakana/Hangul runs, lone char -> unigram).  No stopwords, matching
    the reference chain."""
    from apache___solr_spark.analysis.filters import (
        cjk_bigram_tokens,
        cjk_width,
    )

    toks = standard_tokenize(text, max_token_len=max_token_len)
    return cjk_bigram_tokens([cjk_width(t).lower() for t in toks])


def analyze_icu_folding(text: str | None, max_token_len: int = 255) -> list[str]:
    """The analysis-extras ``text_icufolding`` chain
    (schema-folding-extra.xml: StandardTokenizer + ICUFoldingFilter):
    standard tokenize -> UTR#30 fold (NFKC + case fold + diacritic strip).
    'ΜΆΪΟΣ', 'Μάϊος', and a decomposed 're\\u0301sume\\u0301' all index to
    the same folded terms, as TestFoldingMultitermExtrasQuery requires.
    No stopwords, matching the reference field type."""
    from apache___solr_spark.analysis.filters import icu_fold

    toks = standard_tokenize(text, max_token_len=max_token_len)
    return [icu_fold(t) for t in toks]


def multiterm_normalize_fn(analyzer: str):
    """Lucene MultiTermAware normalization for an analyzer: the filter
    subset applied to the CONSTANT parts of wildcard/prefix/fuzzy/range
    patterns (Analyzer#normalize; TestFoldingMultitermExtrasQuery asserts
    content_icufolding:RÉSu* matches the folded index terms).  Chains whose
    filters are all multiterm-aware normalize with them; the default chains
    lowercase only (their tokenizer/stop stages don't apply to patterns)."""
    if analyzer == "icu_folding":
        from apache___solr_spark.analysis.filters import icu_fold

        return icu_fold
    if analyzer == "standard_folding":
        from apache___solr_spark.analysis.filters import ascii_fold

        return lambda s: ascii_fold(s.lower())
    return str.lower


def analyzer_fn(analyzer: str):
    """Resolve an IndexConfig.analyzer name to its chain function."""
    if analyzer == "simple":
        return simple_analyze
    if analyzer == "standard_porter":
        return analyze_porter
    if analyzer == "standard_folding":
        return analyze_folding
    if analyzer == "en_splitting":
        return analyze_en_splitting
    if analyzer == "cjk":
        return analyze_cjk
    if analyzer == "icu_folding":
        return analyze_icu_folding
    if analyzer == "min_hash":
        from apache___solr_spark.analysis.minhash import minhash_analyze

        return minhash_analyze
    if analyzer == "whitespace_payload":
        from apache___solr_spark.analysis.payloads import payload_analyze

        return payload_analyze
    return analyze
