from apache___solr_spark.analysis import (
    ENGLISH_STOP_WORDS,
    analyze,
    extract_text,
    html_strip,
    standard_tokenize,
)


def test_stop_list_is_the_standard_33():
    assert len(ENGLISH_STOP_WORDS) == 33
    assert {"a", "the", "with", "such", "into"} <= ENGLISH_STOP_WORDS
    assert "stopworda" not in ENGLISH_STOP_WORDS  # test-only words excluded


def test_html_strip_tags_and_entities():
    assert html_strip("<b>Hello</b> &amp; <i>World</i>").split() == [
        "Hello",
        "&",
        "World",
    ]
    assert "A" in html_strip("&#65; &#x42;") and "B" in html_strip("&#65; &#x42;")


def test_html_strip_script_style_comment_cdata():
    h = (
        "<script>var x = '<div>gone</div>';</script>keep1"
        "<style>.x{color:red}</style>keep2"
        "<!-- gone too -->keep3"
        "<![CDATA[kept cdata]]>"
    )
    out = html_strip(h)
    assert "gone" not in out
    for w in ("keep1", "keep2", "keep3", "kept", "cdata"):
        assert w in out


def test_html_strip_malformed():
    assert "6" in html_strip("5 < 6 but & unescaped")
    assert html_strip("<unclosed").strip() in ("<unclosed", "")  # deterministic
    assert html_strip(None) == ""
    assert "x" in html_strip(b"<p>x</p>")


def test_tokenizer_uax29ish():
    assert standard_tokenize("don't stop 3.14 node.js a_b") == [
        "don't",
        "stop",
        "3.14",
        "node.js",
        "a",
        "b",
    ]
    assert standard_tokenize("") == []
    assert standard_tokenize(None) == []
    toks = standard_tokenize("x" * 600)
    assert [len(t) for t in toks] == [255, 255, 90]


def test_analyze_chain_order():
    # stop filter is case-insensitive and runs before lowercase
    assert analyze("The QUICK Brown THE fox AND dog") == [
        "quick",
        "brown",
        "fox",
        "dog",
    ]


def test_extract_text_prefers_text_column():
    assert extract_text(b"<p>html wins?</p>", "no, text wins") == "no, text wins"
    assert extract_text(b"<p>from html</p>", None).strip() == "from html"


def test_porter_stem_canonical_vectors():
    """The worked examples from M. Porter, "An algorithm for suffix
    stripping" (1980) — one per rule family, steps 1a through 5b."""
    from apache___solr_spark.analysis.porter import porter_stem

    vectors = {
        # step 1a
        "caresses": "caress", "ponies": "poni", "caress": "caress", "cats": "cat",
        # step 1b (+ cleanup rules)
        "feed": "feed", "agreed": "agre", "plastered": "plaster", "bled": "bled",
        "motoring": "motor", "sing": "sing", "conflated": "conflat",
        "troubled": "troubl", "sized": "size", "hopping": "hop", "tanned": "tan",
        "falling": "fall", "hissing": "hiss", "fizzed": "fizz",
        "failing": "fail", "filing": "file",
        # step 1c
        "happy": "happi", "sky": "sky",
        # step 2
        "relational": "relat", "conditional": "condit", "rational": "ration",
        "valenci": "valenc", "hesitanci": "hesit", "digitizer": "digit",
        "conformabli": "conform", "radicalli": "radic", "differentli": "differ",
        "vileli": "vile", "analogousli": "analog", "vietnamization": "vietnam",
        "predication": "predic", "operator": "oper", "feudalism": "feudal",
        "decisiveness": "decis", "hopefulness": "hope", "callousness": "callous",
        "formaliti": "formal", "sensitiviti": "sensit", "sensibiliti": "sensibl",
        # step 3
        "triplicate": "triplic", "formative": "form", "formalize": "formal",
        "electriciti": "electr", "electrical": "electr", "hopeful": "hope",
        "goodness": "good",
        # step 4
        "revival": "reviv", "allowance": "allow", "inference": "infer",
        "airliner": "airlin", "gyroscopic": "gyroscop", "adjustable": "adjust",
        "defensible": "defens", "irritant": "irrit", "replacement": "replac",
        "adjustment": "adjust", "dependent": "depend", "adoption": "adopt",
        "communism": "commun", "activate": "activ", "angulariti": "angular",
        "homologous": "homolog", "effective": "effect", "bowdlerize": "bowdler",
        # step 5a/5b
        "probate": "probat", "rate": "rate", "cease": "ceas",
        "controll": "control", "roll": "roll",
        # end-to-end chains
        "running": "run", "runs": "run", "run": "run",
        "generalizations": "gener", "oscillators": "oscil",
    }
    for word, want in vectors.items():
        assert porter_stem(word) == want, (word, porter_stem(word), want)


def test_analyze_porter_chain():
    """standard_porter = standard chain then PorterStemFilter; stop words
    removed before stemming, query and index sides identical by sharing
    the single chain function."""
    from apache___solr_spark.analysis.chain import analyze_porter, analyzer_fn

    assert analyze_porter("The runner was running the races") == [
        "runner", "run", "race",
    ]
    assert analyzer_fn("standard_porter") is analyze_porter
    # stemming happens after lowercase + stop removal
    assert analyze_porter("Motoring AGREED") == ["motor", "agre"]


# ---------------------------------------------------------------------------
# Token filters (analysis/filters.py)
# ---------------------------------------------------------------------------

from apache___solr_spark.analysis.chain import (
    analyze_en_splitting,
    analyze_folding,
)
from apache___solr_spark.analysis.filters import (
    ascii_fold,
    edge_ngrams,
    shingles,
    word_delimiter,
)


def test_ascii_fold_accents_and_ligatures():
    # ASCIIFoldingFilter.java canonical examples
    assert ascii_fold("café") == "cafe"
    assert ascii_fold("Señor") == "Senor"
    assert ascii_fold("Ærø") == "AEro"
    assert ascii_fold("straße") == "strasse"
    assert ascii_fold("œuvre") == "oeuvre"
    assert ascii_fold("łódź") == "lodz"
    assert ascii_fold("naïve") == "naive"
    # no ASCII equivalent -> unchanged
    assert ascii_fold("日本語") == "日本語"
    assert ascii_fold("москва") == "москва"
    # pure ASCII fast path
    assert ascii_fold("plain") == "plain"


def test_word_delimiter_canonical_cases():
    # WordDelimiterGraphFilter javadoc examples, flattened order
    assert word_delimiter(["Wi-Fi"]) == ["Wi", "Fi"]
    assert word_delimiter(["PowerShot"]) == ["Power", "Shot"]
    assert word_delimiter(["SD500"]) == ["SD", "500"]
    assert word_delimiter(["O'Neil's"]) == ["O", "Neil"]
    assert word_delimiter(["j2se"]) == ["j", "2", "se"]
    # catenateWords appends the joined word parts
    assert word_delimiter(["wi-fi"], catenate_words=True) == ["wi", "fi", "wifi"]
    # catenateAll joins everything
    assert word_delimiter(["SD-500x"], catenate_all=True) == [
        "SD", "500", "x", "SD500x",
    ]
    # preserveOriginal keeps the raw token
    assert word_delimiter(["Wi-Fi"], preserve_original=True) == [
        "Wi", "Fi", "Wi-Fi",
    ]
    # no delimiters: pass through untouched
    assert word_delimiter(["plain", "UPPER"]) == ["plain", "UPPER"]
    # all-delimiter tokens vanish
    assert word_delimiter(["--"]) == []
    # flag variants
    assert word_delimiter(["SD500"], split_on_numerics=False) == ["SD500"]
    assert word_delimiter(["PowerShot"], split_on_case_change=False) == [
        "PowerShot"
    ]
    assert word_delimiter(["500-42"], generate_number_parts=False) == []
    assert word_delimiter(
        ["500-42"], generate_number_parts=False, catenate_numbers=True
    ) == ["50042"]


def test_edge_ngrams():
    assert edge_ngrams(["search"], 1, 3) == ["s", "se", "sea"]
    assert edge_ngrams(["ab"], 3, 5) == []
    assert edge_ngrams(["ab"], 3, 5, preserve_original=True) == ["ab"]
    assert edge_ngrams(["abcdef"], 2, 3, preserve_original=True) == [
        "ab", "abc", "abcdef",
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        edge_ngrams(["x"], 0, 3)


def test_shingles():
    assert shingles(["a", "b", "c"]) == ["a", "a b", "b", "b c", "c"]
    assert shingles(["a", "b", "c"], output_unigrams=False) == ["a b", "b c"]
    assert shingles(["a", "b", "c"], 2, 3, output_unigrams=False) == [
        "a b", "a b c", "b c",
    ]
    # lone token with no possible shingle still emitted
    assert shingles(["only"], output_unigrams=False) == ["only"]


def test_analyze_folding_chain():
    # folding applies after the standard chain: stopwords out, accents folded
    assert analyze_folding("the Café résumé") == ["cafe", "resume"]


def test_analyze_en_splitting_chain():
    # WDGF + lowercase + stop + porter: PowerShot -> power/shot/powershot,
    # running -> run, possessive stripped
    out = analyze_en_splitting("The PowerShot's running")
    assert out == ["power", "shot", "powershot", "run"]


def test_soundex_classic_vectors():
    from apache___solr_spark.analysis.filters import phonetic_tokens, soundex

    # commons-codec Soundex.US_ENGLISH golden values (PhoneticFilterFactory's
    # default encoder), including the H/W transparency rule
    vectors = {
        "Robert": "R163",
        "Rupert": "R163",
        "Ashcraft": "A261",
        "Ashcroft": "A261",
        "Tymczak": "T522",
        "Pfister": "P236",
        "Honeyman": "H555",
        "Jackson": "J250",
        "Washington": "W252",
        "Lee": "L000",
        "Gutierrez": "G362",
    }
    for word, code in vectors.items():
        assert soundex(word) == code, word
    # inject=True keeps originals alongside codes; inject=False replaces
    assert phonetic_tokens(["robert", "lee"]) == [
        "robert", "R163", "lee", "L000",
    ]
    assert phonetic_tokens(["robert"], inject=False) == ["R163"]
    # non-alpha tokens pass through
    assert soundex("42") == "42"

def test_metaphone_classic_vectors():
    from apache___solr_spark.analysis.filters import metaphone, phonetic_tokens

    # commons-codec MetaphoneTest golden values (PhoneticFilterFactory
    # name="Metaphone"), default max code length 4
    vectors = {
        "howl": "HL",
        "testing": "TSTN",
        "The": "0",
        "quick": "KK",
        "brown": "BRN",
        "fox": "FKS",
        "jumped": "JMPT",
        "over": "OFR",
        "lazy": "LS",
        "dogs": "TKS",
        "school": "SKL",
        "church": "XRX",
        "knight": "NT",
        "dumb": "TM",
        "Thompson": "0MPS",  # TH->theta, P kept (only PH->F is special)
    }
    for word, code in vectors.items():
        assert metaphone(word) == code, word
    assert metaphone("42") == "42"
    assert phonetic_tokens(["fox"], encoder=metaphone, inject=False) == ["FKS"]


def test_caverphone2_vectors():
    from apache___solr_spark.analysis.filters import caverphone2

    # Caverphone 2.0 spec examples (David Hood, Caversham Project 2004);
    # commons-codec Caverphone2Test golden values
    vectors = {
        "Peter": "PTA1111111",
        "Thompson": "TMPSN11111",
        "Stevenson": "STFNSN1111",
        "Lee": "LA11111111",
    }
    for word, code in vectors.items():
        assert caverphone2(word) == code, word
    assert len(caverphone2("x")) == 10
    assert caverphone2("42") == "42"


def test_nysiis_vectors():
    from apache___solr_spark.analysis.filters import nysiis

    # commons-codec NysiisTest golden values (strict=true, 6-char truncation)
    vectors = {
        "MACINTOSH": "MCANT",
        "KNIGHT": "NAGT",
        "MITCHELL": "MATCAL",
        "ODANIEL": "ODANAL",
        "Brown": "BRAN",
        "SCHMIDT": "SNAD",  # SCH->SSS transcode collapses in the key dedup
    }
    for word, code in vectors.items():
        assert nysiis(word) == code, word
    assert nysiis("42") == "42"


def test_cjk_width_vectors():
    from apache___solr_spark.analysis.filters import cjk_width

    assert cjk_width("Ｔｅｓｔ１２３") == "Test123"
    assert cjk_width("ｶﾞｷﾞｳﾞ") == "ガギヴ"  # half-width dakuten combine
    assert cjk_width("ｱｲｳ") == "アイウ"
    assert cjk_width("plain") == "plain"
    # ideographic space folds; surrounding CJK untouched
    assert cjk_width("中　文") == "中 文"


def test_cjk_bigram_vectors():
    from apache___solr_spark.analysis.filters import cjk_bigram_tokens

    # running Han text -> overlapping bigrams (CJKBigramFilter default)
    assert cjk_bigram_tokens(["中文文本"]) == ["中文", "文文", "文本"]
    # mixed-script token: only CJK spans bigram
    assert cjk_bigram_tokens(["abc中文def"]) == ["abc", "中文", "def"]
    # lone CJK char -> unigram
    assert cjk_bigram_tokens(["中"]) == ["中"]
    # hiragana/katakana join the same run as Han
    assert cjk_bigram_tokens(["日本語のテキスト"]) == [
        "日本", "本語", "語の", "のテ", "テキ", "キス", "スト",
    ]
    # hangul bigrams
    assert cjk_bigram_tokens(["한국어"]) == ["한국", "국어"]
    # outputUnigrams=True interleaves unigrams with bigrams
    assert cjk_bigram_tokens(["中文本"], output_unigrams=True) == [
        "中", "中文", "文", "文本", "本",
    ]


def test_analyze_cjk_chain():
    from apache___solr_spark.analysis.chain import analyze_cjk

    assert analyze_cjk("日本語のテキスト Ｔｅｓｔ 中文, ｶﾞｲﾄﾞ") == [
        "日本", "本語", "語の", "のテ", "テキ", "キス", "スト",
        "test", "中文", "ガイ", "イド",
    ]
    assert analyze_cjk(None) == []


def test_cjk_index_and_search(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from apache___solr_spark.config import IndexConfig
    from apache___solr_spark.index.builder import build_index
    from apache___solr_spark.query.engine import SearchEngine

    docs = [
        ("cjk-0", "東京は日本の首都です"),
        ("cjk-1", "大阪は日本の都市です"),
        ("cjk-2", "completely english text here"),
        ("cjk-3", "서울은 한국의 수도입니다"),
    ]
    table = pa.table(
        {
            "url": [u for u, _ in docs],
            "warc_ts": pa.array([None] * len(docs), pa.timestamp("ms")),
            "html": pa.array([None] * len(docs), pa.binary()),
            "text": [t for _, t in docs],
            "lang": ["ja", "ja", "en", "ko"],
        }
    )
    path = str(tmp_path / "pages.parquet")
    pq.write_table(table, path)
    cfg = IndexConfig(
        salt_range=128, n_buckets=4, analyzer="cjk"
    )
    idx = str(tmp_path / "idx")
    build_index(spark, path, idx, cfg=cfg)
    eng = SearchEngine(spark, idx)  # cfg self-loaded, incl. analyzer
    # query text is analyzed with the SAME cjk chain: 東京 -> bigram 東京
    hits = [r["url"] for r in eng.search("東京", k=4).collect()]
    assert hits == ["cjk-0"]
    # 日本 appears in both ja docs
    both = {r["url"] for r in eng.search("日本", k=4).collect()}
    assert both == {"cjk-0", "cjk-1"}
    # hangul
    assert [r["url"] for r in eng.search("한국", k=4).collect()] == ["cjk-3"]
    # english still works through the same chain
    assert [r["url"] for r in eng.search("english", k=4).collect()] == ["cjk-2"]


def test_icu_folding_vectors():
    """ICUFoldingFilter / ICUNormalizer2Filter goldens — the equivalence
    classes TestFoldingMultitermExtrasQuery indexes (analysis-extras):
    composed == decomposed, case-folded, diacritic-stripped (folding only).
    """
    from apache___solr_spark.analysis.filters import (
        icu_fold,
        icu_normalize2,
        icu_transform,
    )

    # folding: all four equivalence classes collapse
    assert icu_fold("Ruß") == "russ"
    assert icu_fold("ΜΆΪΟΣ") == icu_fold("Μάϊος") == "μαιοσ"
    assert icu_fold("résumé") == icu_fold("résumé") == "resume"
    assert icu_fold("ELİF") == icu_fold("eli̇f") == "elif"
    # nfkc_cf: case-folds and normalizes but KEEPS diacritics
    assert icu_normalize2("Ruß") == "russ"
    assert icu_normalize2("ΜΆΪΟΣ") == icu_normalize2("Μάϊος") == "μάϊοσ"
    assert (
        icu_normalize2("résumé")
        == icu_normalize2("résumé")
        == "résumé"
    )
    # default ignorables are removed (soft hyphen, ZWJ)
    assert icu_normalize2("co­op‍erate") == "cooperate"
    # fullwidth forms fold via NFKC
    assert icu_fold("ＡＢＣ１２３") == "abc123"

    # ICU transforms: the schema-folding-extra.xml Cyrillic-Latin id
    assert icu_transform("Российская") == "Rossijskaâ"
    assert icu_transform("щука") == "ŝuka"
    assert icu_transform("Ελληνικά", "Greek-Latin") == "Ellīnika"
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        icu_transform("x", "Han-Latin")


def test_icu_folding_index_and_search(spark, tmp_path):
    """analyzer="icu_folding" end to end: accented, decomposed, and
    case-variant forms of the same word all match one another — the
    multiterm behavior the reference asserts via content_icufolding:RÉSu*.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from apache___solr_spark.config import IndexConfig
    from apache___solr_spark.index.builder import build_index
    from apache___solr_spark.query.engine import SearchEngine

    docs = [
        ("icu-0", "my résumé draft"),
        ("icu-1", "her résumé final"),
        ("icu-2", "plain resume text"),
        ("icu-3", "nothing relevant Ruß"),
    ]
    table = pa.table(
        {
            "url": [u for u, _ in docs],
            "warc_ts": pa.array([None] * len(docs), pa.timestamp("ms")),
            "html": pa.array([None] * len(docs), pa.binary()),
            "text": [t for _, t in docs],
            "lang": ["en"] * len(docs),
        }
    )
    path = str(tmp_path / "pages.parquet")
    pq.write_table(table, path)
    cfg = IndexConfig(
        salt_range=128, n_buckets=4, analyzer="icu_folding"
    )
    idx = str(tmp_path / "idx")
    build_index(spark, path, idx, cfg=cfg)
    eng = SearchEngine(spark, idx)
    # any surface form of résumé finds all three docs
    for q in ("résumé", "résumé", "RESUME", "resume"):
        got = {r["url"] for r in eng.search(q, k=5).collect()}
        assert got == {"icu-0", "icu-1", "icu-2"}, q
    # ß case-folds to ss
    assert [r["url"] for r in eng.search("russ", k=5).collect()] == ["icu-3"]
    # prefix (multiterm) queries analyze through the same folding
    got = {r["url"] for r in eng.search("résu*", k=5).collect()}
    assert got == {"icu-0", "icu-1", "icu-2"}


def test_collation_key_levels():
    """ICUCollationField-shaped sort keys: strength=primary ignores case +
    accents, secondary orders accent variants after their base (root
    order: cote < coté < côte), tertiary breaks case ties with lowercase
    first, identical is a total order on distinct strings."""
    from apache___solr_spark.analysis.collation import collation_key as K

    # primary: case + accents fold away
    assert K("résumé", "primary") == K("Resume", "primary") == K("RESUME", "primary")
    assert K("apple", "primary") < K("banana", "primary")
    # a primary prefix sorts first at every strength
    for st in ("primary", "secondary", "tertiary", "identical"):
        assert K("abc", st) < K("abcd", st)
    # secondary: root (forward) accent order
    assert K("cote", "secondary") < K("coté", "secondary") < K("côte", "secondary")
    # ...but still primary-equal
    assert K("cote", "primary") == K("côte", "primary")
    # tertiary: lowercase before uppercase only when 1-2 tie
    assert K("peche", "tertiary") < K("Peche", "tertiary")
    assert K("peche", "secondary") == K("Peche", "secondary")
    # identical: distinct strings get distinct keys
    assert K("straße", "identical") != K("strasse", "identical")
    assert K("straße", "primary") == K("strasse", "primary")
    assert K(None) == b""
    import pytest as _pytest

    with _pytest.raises(ValueError):
        K("x", "bogus")


def test_collation_sort_col(spark):
    """collation_key_col drives a collated Spark sort: accent/case
    variants interleave by base letter instead of clustering by byte
    value (the raw-UTF-8 failure mode ICUCollationField exists to fix)."""
    from apache___solr_spark.analysis.collation import collation_key_col

    words = ["zebra", "Apple", "côte", "banana", "cote", "résumé", "apple"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = [
        r["w"]
        for r in df.orderBy(collation_key_col("w", "tertiary"), "w").collect()
    ]
    assert got == ["apple", "Apple", "banana", "cote", "côte", "résumé", "zebra"]
    # raw string ordering would exile the accented forms past 'zebra'
    raw = [r["w"] for r in df.orderBy("w").collect()]
    assert raw != got


def test_collation_locale_tailorings():
    """Nordic/German tailorings (ICUCollationField locale=): Danish æ ø å
    after z with aa == å at primary; Swedish å ä ö after z; German
    phonebook umlaut expansion; unknown locales fall back to root."""
    from apache___solr_spark.analysis.collation import collation_key as K

    da = sorted(
        ["zebra", "æble", "ørn", "åben", "aaben", "banan"],
        key=lambda w: K(w, "tertiary", "da"),
    )
    assert da == ["banan", "zebra", "æble", "ørn", "aaben", "åben"]
    assert K("aaben", "primary", "da") == K("åben", "primary", "da")
    # danish ä==æ / ö==ø equivalences
    assert K("äble", "primary", "da") == K("æble", "primary", "da")
    assert K("örn", "primary", "da") == K("ørn", "primary", "da")

    sv = sorted(["zon", "ål", "är", "ö"], key=lambda w: K(w, "tertiary", "sv"))
    assert sv == ["zon", "ål", "är", "ö"]

    assert K("Müller", "primary", "de_phonebook") == K("Mueller", "primary", "de_phonebook")
    assert K("Müller", "primary", "de_phonebook") < K("Muller", "primary", "de_phonebook")
    assert K("straße", "primary", "de_phonebook") == K("strasse", "primary", "de_phonebook")

    # root order is unaffected by the tailoring machinery
    assert K("åben", "primary") == K("aben", "primary")
    assert K("x", "primary", "xx_unknown") == K("x", "primary")
