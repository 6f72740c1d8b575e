"""Driver contract for the spark-graft builder (PySpark target).

queries() cover the operator inventory of SURVEY.md §2 over the
driver-provided tables (`documents` for the full-text engine,
`embeddings` for similarity), each paired with a DuckDB-runnable ANSI
oracle in oracle_sql() computing the identical result (same column
names, BIGINT casts, ROUND(.,6) on floating outputs).

The full-text entries go through the real engine: an inverted index is
built from `documents` with the `simple` analyzer (lowercase +
whitespace split — byte-equivalent to the SQL oracle's
regexp_split_to_array(trim(text),'\\s+')), then queried through the
AST/planner/executor; the oracle recomputes BM25 from first principles
in SQL. BM25 constants k=1.2, b=0.75 (reference bm25.hpp:63-65);
idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (bm25.cpp:381-383).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from iresearch_spark.index.builder import build_index
from iresearch_spark.ops import dedup, similarity, textstats
from iresearch_spark.ops.hashing import hash60_sql, seeded_hash60_sql
from iresearch_spark.search import (
    And,
    Exists,
    Field,
    Fuzzy,
    MultiFieldEngine,
    GranularRange,
    Not,
    NumericRange,
    Or,
    Phrase,
    Prefix,
    Range,
    SamePosition,
    SearchEngine,
    Term,
    Terms,
    Wildcard,
)

_INDEX_CACHE: dict[str, object] = {}
_NN_INDEX_CACHE: dict[str, object] = {}

# embedding "model" for the model-bound analyzers: integer coordinates
# (exactly representable in float32 AND float64, so the engine's f32
# matrix and the oracle's f64 arithmetic agree) over corpus words, with
# all pairwise-cosine gaps >= 0.0069 — orders of magnitude above either
# precision's rounding, so neighbor ranking is stable on both sides
_NN_MODEL = {
    "batch": [10, 2, 0], "small": [9, 3, 1], "scan": [8, 1, 3],
    "join": [1, 10, 2], "key": [2, 9, 1], "dup": [0, 8, 3],
    "table": [3, 2, 10], "hash": [1, 3, 9],
}
_CLS_LABELS = {"exec_label": [10, 1, 1], "data_label": [1, 10, 1]}
# fixture sentences with label margins >= 0.50 (no precision straddle);
# the last is all-OOV and must classify to nothing on both sides
_CLS_DOCS = [
    "batch small scan batch",
    "join key dup",
    "batch scan",
    "key dup key join",
    "small batch small",
    "table hash batch batch batch",
    "hash join join join",
    "unknownword batch",
    "quantum flux",
]

# repeated-paragraph fixture ('|'-separated paragraphs; the boilerplate
# line appears in 4 docs, 'twice para' in 2, doc 3 is all boilerplate)
_PARA_DOCS = [
    (0, "alpha one|subscribe to our newsletter|beta two"),
    (1, "subscribe to our newsletter|gamma three"),
    (2, "delta four|subscribe to our newsletter"),
    (3, "subscribe to our newsletter"),
    (4, "unique only"),
    (5, "twice para|epsilon"),
    (6, "twice para|zeta"),
    (7, "a||b"),
]

# decontamination eval set (trigrams drawn from the synthetic
# vocabulary so the gate actually drops documents)
_EVAL_TEXTS = ["batch small scan", "table hash join"]

# C4-rules fixture ('|' = line separator; doc 1 too few kept lines,
# docs 2/4 carry markers, docs 0/3 survive with filtered lines)
_C4_DOCS = [
    (0, "This is a good sentence.|Another proper long sentence here!|"
        "short one.|no punct at all here|Third fine sentence with words?"),
    (1, "Only one good sentence right here.|bad|bad2"),
    (2, "Has lorem ipsum placeholder text in it.|This would be fine one.|"
        "This would be fine sentence two.|This would be fine sentence three."),
    (3, 'Quoted sentence line number one."|Quoted sentence line number two."'
        '|Quoted sentence line number three."'),
    (4, "Contains a { curly brace code marker.|Fine sentence number two "
        "here.|Fine sentence number three here.|Fine sentence number four."),
]

# exact-substring (n=3 token window) span-dedup fixture: 'a b c' in
# three docs (global first kept), doc 4 repeats its own 3-cycle, doc 3
# is shorter than the window
_SPAN_DOCS = [
    (0, "a b c d e"),
    (1, "x a b c y"),
    (2, "a b c"),
    (3, "short one"),
    (4, "p q r p q r p q"),
]

# Gopher-rules fixture: doc 0 clean, every other doc trips exactly one
# rule (short, symbols, word length, bullets, ellipses, non-alpha,
# stopwords, long, long words)
_GOPHER_DOCS = [
    (0, "the cat sat and most of the dogs slept"),
    (1, "the of"),
    (2, "the # cat # and # of"),
    (3, "an it of be at the me we so no"),
    (4, "- the first item of all\n- and the second item here"),
    (5, "the cat sat of it and...\nmore of the same here..."),
    (6, "the of 11 22 33 44 55 66"),
    (7, "the cat ran around the block quickly today"),
    (8, "the of " + " ".join(["word"] * 19)),
    (9, "the of extraordinarily incomprehensibilities "
        "antidisestablishmentarian words the of extraordinarily "
        "incomprehensibilities antidisestablishmentarian words"),
]
_GOPHER_KW = dict(min_words=5, max_words=20, min_stop_hits=2)
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
# SQL literals for the non-ASCII rule characters
_GQ_HELLIP = "'…'"
_GQ_BULLET = "'•'"

# PII fixture (emails first so phone-shape digits inside addresses
# never half-redact; dashed ISO dates stay untouched)
_PII_FIXTURE = [
    "contact john.doe+spam@example.co.uk for details",
    "server at 192.168.1.254 responded",
    "call 555 123-4567 or +1 (800) 555-0199 now",
    "clean text with numbers 42 and 7",
    "mail 555-123-4567@digits.example please",
    "on 2024-01-02 it rained",
]

# text-normalization fixture: composed + decomposed NFC forms, curly
# quotes, em dash, ellipsis, control chars, NBSP, whitespace runs
_TEXTNORM_FIXTURE = [
    "Café …done",
    "Café “quoted” — yes",
    "tabs\tand\x00ctrl\x1fchars",
    "  multi   space nbsp  ",
    "plain ascii stays.",
    # C1 control, NEL, line separator, ogham + ideographic space
    "c1\x9dgone nel\x85brk line\u2028sep og\u1680ham cjk\u3000wide",
]

# multilingual analyzer fixtures: simple space-separated words (so the
# oracle's whitespace split equals the analyzer's word tokenizer) with
# inflected forms sharing a stem across documents
_DE_FIXTURE = [
    "die häuser der stadt sind hier",
    "ein haus am see",
    "kinder spielen im haus",
    "die kategorien der bücher",
    "das buch über die häuser",
    "schönheit der stadt",
    "kinder und bücher überall",
    "der see und die stadt",
]
# hand-traced: surface forms in the fixture stemming to 'haus'
_DE_HAUS_FORMS = ("häuser", "haus")

_RU_FIXTURE = [
    "красивые книгами на столе",
    "новые книги здесь",
    "пример текста",
    "книга на полке",
]
_RU_KNIGA_FORMS = ("книгами", "книги", "книга")

_TR_FIXTURE = [
    "kitabı masada duruyor",
    "kitaplar rafta eski",
    "kitaplarımdan birini verdim",
    "evlerde insanlar oturur",
    "masada eski defter var",
]
# hand-traced through the Turkish suffix machinery: forms -> 'kitap'
_TR_KITAP_FORMS = ("kitabı", "kitaplar", "kitaplarımdan")

_HI_FIXTURE = [
    "किताबें मेज पर हैं",
    "एक किताब यहाँ है",
    "लड़कियाँ पढ़ती हैं",
    "आदमियों ने समझाया",
]
# hand-traced through the published Hindi suffix list -> 'किताब'
_HI_KITAB_FORMS = ("किताबें", "किताब")

_AR_FIXTURE = [
    "الكتاب على الطاولة",
    "كتابها في البيت",
    "والكتاب الجديد هنا",
    "المدرسة كبيرة",
    "كتب كثيرة هناك",
]
# hand-traced through Light10 (normalize + prefix + suffix sweep):
# surface forms in the fixture stemming to 'كتاب'
_AR_KITAB_FORMS = ("الكتاب", "كتابها", "والكتاب")

_HE_FIXTURE = [
    "הספר על השולחן",
    "ספרים רבים כאן",
    "ילדים קוראים ספריו",
    "הבית גדול מאוד",
    "וספרים ישנים שם",
]
# hand-traced through the Hebrew light rules (fold finals, article
# prefix, pronominal/plural suffix sweep): forms -> 'ספר'
_HE_SEFER_FORMS = ("הספר", "ספרים", "ספריו", "וספרים")

_CS_FIXTURE = [
    "žena čte knihu",
    "ženy jsou v praze",
    "mluvil se ženami",
    "město je krásné",
    "studentech v městech",
]
# hand-traced through the Dolamic-Savoy light rules: forms -> 'žen'
_CS_ZENA_FORMS = ("žena", "ženy", "ženami")

_EL_FIXTURE = [
    "το βιβλίο είναι εδώ",
    "τα βιβλία και τα γράμματα",
    "η πόλη και οι πόλεις",
    "βιβλίων γραμμάτων ανθρώπων",
]
# hand-traced through the Greek light rules (accent fold + longest
# inflectional ending): forms -> 'βιβλ'
_EL_VIVLIO_FORMS = ("βιβλίο", "βιβλία", "βιβλίων")

_PL_FIXTURE = [
    "dom jest wielki",
    "domy i domach tutaj",
    "kobieta pisze list",
    "studentów nie ma",
]
# hand-traced through the Polish light rules: forms -> 'dom'
_PL_DOM_FORMS = ("dom", "domy", "domach")

_UK_FIXTURE = [
    "книга лежить тут",
    "книги та книгами",
    "місто велике гарне",
    "читають книгу щодня",
]
# hand-traced through the Ukrainian light rules: forms -> 'книг'
_UK_KNYHA_FORMS = ("книга", "книги", "книгами", "книгу")

# CJK segmentation fixture + the hand-traced token stream the oracle
# replays (built-in dictionary, greedy longest match; kana runs whole)
_CJK_FIXTURE = [
    "我们今天学习中文",
    "他们昨天学习历史",
    "学生在大学学习",
    "plain english text",
    "東京大学の学生",
]
_CJK_TOKENS = [
    ["我们", "今天", "学习", "中文"],
    ["他们", "昨天", "学习", "历史"],
    ["学生", "在", "大学", "学习"],
    ["plain", "english", "text"],
    ["東京", "大学", "の", "学生"],
]

# Thai dictionary segmentation fixture + the hand-traced token stream
# (built-in THAI_WORDS, greedy longest match with syllable guards)
_THAI_FIXTURE = [
    "ฉันกินข้าวทุกวัน",
    "เขาอ่านหนังสือ",
    "นักเรียนอ่านหนังสือในโรงเรียน",
    "plain english text",
    "เราเรียนภาษาไทยวันนี้",
]
_THAI_TOKENS = [
    ["ฉัน", "กิน", "ข้าว", "ทุก", "วัน"],
    ["เขา", "อ่าน", "หนังสือ"],
    ["นักเรียน", "อ่าน", "หนังสือ", "ใน", "โรงเรียน"],
    ["plain", "english", "text"],
    ["เรา", "เรียน", "ภาษาไทย", "วันนี้"],
]

# per-document language routing fixture (analysis/multilang.py): each
# doc analyzed by ITS language's text chain (stopwords="default"); the
# frozen token streams are the hand-checked outputs of the per-language
# chains (each chain separately verified by its own gate/goldens)
_ROUTED_FIXTURE = [
    ("the cats and the houses", "en"),
    ("Die Häuser der Kinder", "de"),
    ("los gatos corren en las casas", "es"),
    ("ฉันกินข้าวทุกวัน", "th"),
    ("我们今天学习中文", "zh"),
    ("Das Haus ist groß und schön", "de"),
]
_ROUTED_TOKENS = [
    ["cat", "hous"],
    ["haus", "kind"],
    ["gat", "corr", "cas"],
    ["ฉัน", "กิน", "ข้าว", "วัน"],
    ["今天", "学习", "中文"],
    ["haus", "gross", "schon"],
]

_DOMAIN_FIXTURE = [
    "https://www.Example.co.uk:443/page",
    "http://user:pw@Sub.Blog.example.com:8080/x",
    "https://192.168.0.1/admin",
    "http://localhost/dev",
    "not a url",
    "https://shop.bad-site.com/promo",
    "https://bad-site.com/",
    "https://goodsite.org/a",
]

# duplicate-pair fixture: a 5-node chain, a triangle, a 2-cycle, and
# an 8-hop chain (forces several propagation rounds)
_DUP_EDGES = (
    [(1, 2), (2, 3), (3, 4), (4, 5)]
    + [(10, 11), (11, 12), (12, 10)]
    + [(20, 21)]
    + [(i, i + 1) for i in range(30, 38)]
)

# URL canonicalization fixture (ports, tracking params, fragments,
# trailing slashes, case, userinfo, non-URL passthrough)
_URL_FIXTURE = [
    "HTTP://Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag",
    "http://example.com/a/b?a=1&b=2",
    "https://Example.com:443/",
    "https://example.com",
    "https://example.com/path/",
    "not a url",
    "  ftp://Host.Net:21/file  ",
    "https://example.com/?fbclid=abc",
    "https://example.com/x?gclid=1&z=9&y=8",
    "https://user:p@Host.com/Case/Kept",
    "http://example.com:8080/a",
    "https://example.com/a?utm_campaign&x=1",
]

# query terms chosen from the synthetic vocabulary's df spectrum
HIGH1, HIGH2, MED1, LOW1 = "batch", "small", "key", "dup"
TOPK_TERMS = ["batch", "small", "scan", "join"]
PHRASE = ["table", "hash"]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _engine(spark: SparkSession, sf_dir: str, scorer: str = "bm25") -> SearchEngine:
    key = os.path.abspath(sf_dir)
    if key not in _INDEX_CACHE:
        idx = build_index(
            _docs(spark, sf_dir), analyzer="simple", bucket_bits=16
        )
        idx.cache()
        idx.postings.count()
        _INDEX_CACHE[key] = idx
    return SearchEngine(_INDEX_CACHE[key], scorer=scorer)


def _saved_engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Engine over a SAVED+reloaded index: exercises the on-disk
    term dictionary's file pruning that an in-memory index doesn't
    have — the production read path."""
    key = os.path.abspath(sf_dir)
    if key not in _SAVED_INDEX_CACHE:
        import tempfile

        from iresearch_spark.index.model import InvertedIndex

        path = os.path.join(tempfile.mkdtemp(prefix="ixgate"), "ix")
        build_index(
            _docs(spark, sf_dir), analyzer="simple", bucket_bits=16
        ).save(path)
        _SAVED_INDEX_CACHE[key] = InvertedIndex.load(spark, path)
    return SearchEngine(_SAVED_INDEX_CACHE[key])


_SAVED_INDEX_CACHE: dict[str, object] = {}


def _encrypted_engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Engine over an index saved with at-rest encryption (Parquet
    Modular Encryption, index/encryption.py) and reloaded with the
    keys: every table's pages+footers are AES-GCM-sealed on disk, and
    query results must still be value-identical to the plaintext
    oracle — decryption is transparent to the scan."""
    key = os.path.abspath(sf_dir)
    if key not in _ENC_INDEX_CACHE:
        import tempfile

        from iresearch_spark.index.encryption import IndexEncryption
        from iresearch_spark.index.model import InvertedIndex

        enc = IndexEncryption({"k0": b"iresearch-gate-k"})  # fixed 16B
        path = os.path.join(tempfile.mkdtemp(prefix="ixgate_enc"), "ix")
        build_index(
            _docs(spark, sf_dir), analyzer="simple", bucket_bits=16
        ).save(path, encryption=enc)
        _ENC_INDEX_CACHE[key] = InvertedIndex.load(
            spark, path, encryption=enc
        )
    return SearchEngine(_ENC_INDEX_CACHE[key])


_ENC_INDEX_CACHE: dict[str, object] = {}


def _rounded(df: DataFrame) -> DataFrame:
    return df.select("doc_id", F.round("score", 6).alias("score"))


def _match_q(node):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _rounded(_engine(spark, sf_dir).matches(node))

    return run


def _topk_q(node, k=10, mode="exhaustive"):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _rounded(_engine(spark, sf_dir).search(node, k=k, mode=mode))

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 for a 4-term disjunction on sf0.001."""
    return _topk_q(Or([Term(t) for t in TOPK_TERMS]))(
        spark, "/root/testdata/sf0.001"
    )


# --------------------------------------------------------------- queries


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable] = {}

    # --- full-text engine: leaf filters (SURVEY §2.2) ---
    q["term_high"] = _match_q(Term(HIGH1))
    q["term_rare"] = _match_q(Term(LOW1))
    q["terms_set"] = _match_q(Terms([LOW1, MED1, "fast"]))
    q["terms_boosted"] = _match_q(
        Terms(
            [LOW1, MED1, "fast"],
            term_boosts={LOW1: 2.0, "fast": 0.5},
        )
    )
    q["terms_min_match"] = _match_q(Terms([HIGH1, MED1, LOW1], min_match=2))
    q["prefix"] = _match_q(Prefix("s"))
    q["wildcard"] = _match_q(Wildcard("s%k"))

    # the shapes no term interval narrows, over the SAVED index
    # (infix-only wildcard and unprefixed fuzzy expand in one scan of
    # the term dictionary; results must equal the oracle's plain
    # LIKE/levenshtein semantics exactly)
    def wildcard_infix(spark, sf_dir):
        return _rounded(
            _saved_engine(spark, sf_dir).matches(Wildcard("%atc%"))
        )

    def fuzzy_gram(spark, sf_dir):
        return _rounded(
            _saved_engine(spark, sf_dir).matches(Fuzzy("spork", distance=1))
        )

    q["wildcard_infix"] = wildcard_infix
    q["fuzzy_gram"] = fuzzy_gram

    # round-5 encrypted-at-rest index (SURVEY §2.6 index encryption):
    # save sealed (AES-GCM pages+footers), reload with keys, and the
    # match must equal the plaintext oracle value-for-value
    def encrypted_term(spark, sf_dir):
        return _rounded(
            _encrypted_engine(spark, sf_dir).matches(Term(HIGH1))
        )

    q["encrypted_term"] = encrypted_term

    # model-bound analyzers (§2.1 classification/nearest_neighbors):
    # the fastText binary is an embedding TABLE here, so the oracle can
    # recompute the whole pipeline — neighbor ranking from the VALUES
    # model, token stream, BM25 — from first principles in SQL.
    def nn_analyzer_term(spark, sf_dir):
        key = os.path.abspath(sf_dir)
        if key not in _NN_INDEX_CACHE:
            from iresearch_spark.analysis.analyzers import get_analyzer

            a = get_analyzer("nearest_neighbors", model=_NN_MODEL, top_k=2)
            idx = build_index(_docs(spark, sf_dir), analyzer=a, bucket_bits=16)
            idx.cache()
            idx.postings.count()
            _NN_INDEX_CACHE[key] = idx
        eng = SearchEngine(_NN_INDEX_CACHE[key])
        return _rounded(eng.matches(Term("batch")))

    q["nn_analyzer_term"] = nn_analyzer_term

    def classification_label(spark, sf_dir):
        from iresearch_spark.analysis.analyzers import get_analyzer

        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(_CLS_DOCS)],
            "doc_id long, text string",
        )
        a = get_analyzer(
            "classification",
            model={"vocab": _NN_MODEL, "labels": _CLS_LABELS},
            top_k=1,
        )
        idx = build_index(docs, analyzer=a, bucket_bits=6)
        return _rounded(SearchEngine(idx).matches(Term("exec_label")))

    q["classification_label"] = classification_label
    q["term_range"] = _match_q(Range(min_term="m", max_term="q"))
    q["fuzzy_d1"] = _match_q(Fuzzy("spork", distance=1))
    q["fuzzy_prefix"] = _match_q(Fuzzy("an", distance=1, prefix="sc"))
    q["phrase_bigram"] = _match_q(Phrase(PHRASE))
    # same term at its own positions: tf = occurrence count, c0 doubled
    q["same_position"] = _match_q(SamePosition([HIGH1, HIGH1]))

    # --- boolean algebra (SURVEY §2.3) ---
    q["and_high_high"] = _match_q(And([Term(HIGH1), Term(HIGH2)]))
    q["and_not"] = _match_q(And([Term("scan"), Not(Term(LOW1))]))
    q["or_min_match2"] = _match_q(
        Or([Term(HIGH1), Term(MED1), Term(LOW1)], min_match=2)
    )
    q["or_nested_phrase"] = _match_q(Or([Term(LOW1), Phrase(PHRASE)]))
    q["boosted_and"] = _match_q(
        And([Term(HIGH1, boost=2.0), Term(HIGH2)], boost=1.5)
    )
    # exclusion inside a disjunction (reference boolean_filter.cpp:221-312
    # passes excl into the prepared Or)
    q["or_not"] = _match_q(Or([Term(HIGH1), Term(MED1), Not(Term(LOW1))]))
    # ScoreMergeType kMax (scorer.hpp:224-235): best-field / dismax
    q["or_max_merge"] = _match_q(
        Or([Term(HIGH1), Term(HIGH2)], merge_type="max")
    )
    # variadic phrase: prefix slot (phrase_filter.cpp:75-121)
    q["phrase_prefix"] = _match_q(Phrase([Prefix("s"), MED1]))

    # stored-column query nodes (by_column_existence / by_granular_range)
    def _meta_engine(spark, sf_dir):
        key = os.path.abspath(sf_dir) + ":meta"
        if key not in _INDEX_CACHE:
            idx = build_index(
                _docs(spark, sf_dir), analyzer="simple", bucket_bits=16,
                extra_doc_cols=["lang", "n_chars"],
                # granular numeric dictionary over the same column the
                # NumericRange gate predicates on (round 4: typed
                # numeric token streams, index/numeric.py)
                numeric_fields=["n_chars"],
            )
            idx.cache()
            idx.postings.count()
            _INDEX_CACHE[key] = idx
        return SearchEngine(_INDEX_CACHE[key])

    # SORTED index (reference Comparer, core/index/comparer.hpp): doc
    # ids assigned in (n_chars DESC, orig doc_id) order at build time,
    # so "first k by sort" is index-order iteration (top_docs =
    # TakeOrderedAndProject early termination, never a full sort); the
    # oracle recomputes it as a plain ORDER BY ... LIMIT.
    def _sorted_engine(spark, sf_dir):
        key = os.path.abspath(sf_dir) + ":sorted"
        if key not in _INDEX_CACHE:
            docs = _docs(spark, sf_dir).withColumnRenamed("doc_id", "orig_id")
            idx = build_index(
                docs, analyzer="simple", bucket_bits=16, id_col=None,
                sort_key="orig_id", sort_field="n_chars",
                sort_ascending=False, extra_doc_cols=["orig_id"],
            )
            idx.cache()
            idx.docs.count()
            _INDEX_CACHE[key] = idx
        return SearchEngine(_INDEX_CACHE[key])

    q["sorted_topk"] = lambda s, d: _sorted_engine(s, d).top_docs(
        k=50, columns=["orig_id", "n_chars"]
    )
    q["sorted_topk_filtered"] = lambda s, d: _sorted_engine(s, d).top_docs(
        k=25, query=Term(MED1), columns=["orig_id", "n_chars"]
    )

    # multi-field documents (reference per-leaf field names + per-field
    # stats, field_meta.cpp / bm25.cpp:45-80): text and source are two
    # indexed FIELDS sharing the doc-id space; the And sums each hit's
    # field-local BM25 (source's own df/N/avg_dl=1), which the oracle
    # recomputes from first principles per field.
    def multifield_and(spark, sf_dir):
        from iresearch_spark.index.multifield import build_multi_field_index

        key = os.path.abspath(sf_dir) + ":mf"
        if key not in _INDEX_CACHE:
            docs = _docs(spark, sf_dir).withColumnRenamed("doc_id", "orig_id")
            mfi = build_multi_field_index(
                docs, ["text", "source"], sort_key="orig_id",
                bucket_bits=16, extra_doc_cols=["orig_id"],
            )
            mfi.cache()
            _INDEX_CACHE[key] = mfi
        mfi = _INDEX_CACHE[key]
        eng = MultiFieldEngine(mfi)
        m = eng.matches(
            And([Field("text", Term(HIGH1)), Field("source", Term("src7"))])
        )
        return m.join(
            mfi.indexes["text"].docs.select("doc_id", "orig_id"), "doc_id"
        ).select("orig_id", F.round("score", 6).alias("score"))

    q["multifield_and"] = multifield_and

    # corpus-wide repeated-paragraph removal (CCNet/RefinedWeb
    # boilerplate step) on a literal fixture: paragraph df counted
    # across docs, survivors rebuilt in original order, fully-
    # boilerplate docs retained with empty text
    def paragraph_dedup(spark, sf_dir):
        from iresearch_spark.ops.dedup import drop_repeated_paragraphs

        df = spark.createDataFrame(_PARA_DOCS, "doc_id long, text string")
        return drop_repeated_paragraphs(df, sep="|").select("doc_id", "text")

    q["paragraph_dedup"] = paragraph_dedup

    # benchmark decontamination (GPT-3-style n-gram overlap vs an eval
    # set; n=3 here so the tiny corpus has hits) over the real
    # documents table — the oracle recomputes gram sets in SQL
    def decontaminate_gate(spark, sf_dir):
        from iresearch_spark.ops.dedup import decontaminate

        ev = spark.createDataFrame(
            [(t,) for t in _EVAL_TEXTS], "text string"
        )
        return decontaminate(_docs(spark, sf_dir), ev, n=3).select("doc_id")

    q["decontaminate"] = decontaminate_gate

    # URL canonicalization (crawl-pipeline URL dedup key): literal
    # fixture; the oracle replays the same regexp grammar in SQL
    def url_canonicalize(spark, sf_dir):
        from iresearch_spark.ops.urls import canonicalize_url

        df = spark.createDataFrame(
            [(i, u) for i, u in enumerate(_URL_FIXTURE)], "id long, url string"
        )
        return df.select(
            "id", canonicalize_url(F.col("url")).alias("canon")
        )

    q["url_canonicalize"] = url_canonicalize

    # duplicate clustering: connected components over near-dup pairs,
    # min-id representative; the oracle computes the transitive
    # closure with a recursive CTE on the same literal edge fixture
    def dedup_clusters(spark, sf_dir):
        from iresearch_spark.ops.dedup import cluster_duplicates

        pairs = spark.createDataFrame(_DUP_EDGES, "doc_a long, doc_b long")
        return cluster_duplicates(pairs)

    q["dedup_clusters"] = dedup_clusters

    # PII scrubbing (email/IPv4/phone redaction; patterns live in the
    # Java-regex ∩ RE2 subset so the SQL oracle replays them exactly)
    def pii_scrub(spark, sf_dir):
        from iresearch_spark.ops.textstats import scrub_pii

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(_PII_FIXTURE)],
            "id long, text string",
        )
        return scrub_pii(df)

    q["pii_scrub"] = pii_scrub

    # C4 cleaning rules (Raffel et al. 2020 §2.2): line-level terminal
    # punctuation + min-words filter, doc-level marker + min-kept-lines
    def c4_clean_gate(spark, sf_dir):
        from iresearch_spark.ops.textstats import c4_clean

        df = spark.createDataFrame(_C4_DOCS, "doc_id long, text string")
        return c4_clean(df, sep="|")

    q["c4_clean"] = c4_clean_gate

    # exact-substring span dedup (Lee et al. 2021 suffix-array
    # analogue, n-token windows): flagged non-first occurrences, and
    # the removal pass that cuts covered tokens
    def span_dedup_gate(spark, sf_dir):
        from iresearch_spark.ops.dedup import duplicate_span_windows

        df = spark.createDataFrame(_SPAN_DOCS, "doc_id long, text string")
        return duplicate_span_windows(df, n=3)

    q["span_dedup"] = span_dedup_gate

    def span_dedup_drop_gate(spark, sf_dir):
        from iresearch_spark.ops.dedup import drop_duplicate_spans

        df = spark.createDataFrame(_SPAN_DOCS, "doc_id long, text string")
        return drop_duplicate_spans(df, n=3)

    q["span_dedup_drop"] = span_dedup_drop_gate

    # full Gopher quality-rule set (Rae et al. 2021 Table A1): one
    # flag per rule + the conjunction, every rule replayed in SQL
    def gopher_quality_gate(spark, sf_dir):
        from iresearch_spark.ops.textstats import gopher_quality_filter

        df = spark.createDataFrame(_GOPHER_DOCS, "doc_id long, text string")
        return gopher_quality_filter(df, **_GOPHER_KW)

    q["gopher_quality"] = gopher_quality_gate

    # CCNet-style LM perplexity scoring: add-one bigram model trained
    # on a reference slice (doc_id % 5 == 0), every document scored;
    # the oracle retrains and rescores the same model in SQL
    def lm_perplexity_gate(spark, sf_dir):
        from iresearch_spark.ops.lm import lm_cross_entropy, train_bigram_lm

        docs = _docs(spark, sf_dir)
        ref = docs.filter(F.col("doc_id") % 5 == 0)
        bigrams, unigrams, v = train_bigram_lm(ref)
        return lm_cross_entropy(docs, bigrams, unigrams, v)

    q["lm_perplexity"] = lm_perplexity_gate

    # interpolated trigram LM (Jelinek-Mercer over add-one components)
    def lm_trigram_gate(spark, sf_dir):
        from iresearch_spark.ops.lm import (
            train_trigram_lm,
            trigram_cross_entropy,
        )

        docs = _docs(spark, sf_dir)
        ref = docs.filter(F.col("doc_id") % 5 == 0)
        tri, bi, uni, v, t = train_trigram_lm(ref)
        return trigram_cross_entropy(docs, tri, bi, uni, v, t)

    q["lm_trigram"] = lm_trigram_gate

    def lm_5gram_gate(spark, sf_dir):
        # CCNet-parity interpolated 5-gram with KenLM-style singleton
        # pruning on orders >= 3 (ops/lm.py train_ngram_lm)
        from iresearch_spark.ops.lm import ngram_cross_entropy, train_ngram_lm

        docs = _docs(spark, sf_dir)
        ref = docs.filter(F.col("doc_id") % 5 == 0)
        counts, v, t = train_ngram_lm(ref, n=5, min_count=2)
        return ngram_cross_entropy(docs, counts, v, t)

    q["lm_5gram"] = lm_5gram_gate

    # DSIR importance weights (hashed unigram+bigram buckets, add-one
    # smoothed target/raw distributions; target = doc_id % 7 == 0)
    def dsir_weights_gate(spark, sf_dir):
        from iresearch_spark.ops.lm import dsir_log_weights

        docs = _docs(spark, sf_dir)
        tgt = docs.filter(F.col("doc_id") % 7 == 0)
        return dsir_log_weights(docs, tgt, n_buckets=512)

    q["dsir_weights"] = dsir_weights_gate

    # DSIR Gumbel top-k resampling with the seeded engine-portable
    # noise source (hash60-derived uniforms)
    def dsir_topk_gate(spark, sf_dir):
        from iresearch_spark.ops.lm import dsir_sample

        docs = _docs(spark, sf_dir)
        tgt = docs.filter(F.col("doc_id") % 7 == 0)
        return dsir_sample(docs, tgt, k=50, n_buckets=512, seed=7)

    q["dsir_topk"] = dsir_topk_gate

    # deterministic hash-rate sampling (seeded, partitioning-
    # independent Bernoulli analogue — pure filter, no shuffle)
    def hash_sample_gate(spark, sf_dir):
        from iresearch_spark.ops.sampling import hash_rate_sample

        return hash_rate_sample(
            _docs(spark, sf_dir), "doc_id", 0.25, seed=3
        ).select("doc_id")

    q["hash_sample"] = hash_sample_gate

    # stratified quota sampling: at most 30 docs per language by
    # seeded hash order (language-balancing / per-source caps)
    def stratified_sample_gate(spark, sf_dir):
        from iresearch_spark.ops.sampling import stratified_quota_sample

        return stratified_quota_sample(
            _docs(spark, sf_dir), "lang", quota=30, key_col="doc_id", seed=5
        ).select("doc_id", "lang")

    q["stratified_sample"] = stratified_sample_gate

    # deterministic train/val/test split labels
    def hash_split_gate(spark, sf_dir):
        from iresearch_spark.ops.sampling import hash_split

        return hash_split(
            _docs(spark, sf_dir),
            "doc_id",
            {"train": 0.8, "val": 0.1, "test": 0.1},
            seed=3,
        ).select("doc_id", "split")

    q["hash_split"] = hash_split_gate

    # GPT-style sequence packing plan: (doc, sequence) span assignments
    # for seq_len=64 over the documents stream in doc_id order
    def pack_sequences_gate(spark, sf_dir):
        from iresearch_spark.ops.sampling import pack_sequences

        return pack_sequences(_docs(spark, sf_dir), seq_len=64)

    q["pack_sequences"] = pack_sequences_gate

    # SemDeDup (Abbas et al. 2023): within-cell semantic duplicate
    # pairs over the embeddings table (hash centroids — deterministic)
    def semantic_dedup_gate(spark, sf_dir):
        from iresearch_spark.ops.dedup import semantic_dup_pairs

        return semantic_dup_pairs(
            _emb(spark, sf_dir), threshold=0.3, n_centroids=8
        )

    q["semantic_dedup"] = semantic_dedup_gate

    # per-stratum corpus statistics (mixture-budgeting table)
    def corpus_report_gate(spark, sf_dir):
        from iresearch_spark.ops.textstats import corpus_report

        return corpus_report(_docs(spark, sf_dir))

    q["corpus_report"] = corpus_report_gate

    # unicode/typography normalization on a literal fixture (NFC via
    # the Arrow-batched pandas UDF; DuckDB replays with nfc_normalize)
    def normalize_text_gate(spark, sf_dir):
        from iresearch_spark.ops.textstats import normalize_text

        df = spark.createDataFrame(
            list(enumerate(_TEXTNORM_FIXTURE)), "id long, text string"
        )
        return normalize_text(df)

    q["normalize_text"] = normalize_text_gate

    # URL host/registered-domain extraction + blocklist filter
    def url_domains_gate(spark, sf_dir):
        from iresearch_spark.ops.urls import registered_domain, url_host

        df = spark.createDataFrame(
            list(enumerate(_DOMAIN_FIXTURE)), "id long, url string"
        )
        return df.select(
            "id",
            url_host(F.col("url")).alias("host"),
            registered_domain(F.col("url")).alias("domain"),
        )

    q["url_domains"] = url_domains_gate

    def domain_filter_gate(spark, sf_dir):
        from iresearch_spark.ops.urls import filter_blocked_domains

        df = spark.createDataFrame(
            list(enumerate(_DOMAIN_FIXTURE)), "id long, url string"
        )
        bl = spark.createDataFrame(
            [("bad-site.com",), ("Example.co.uk",)], "domain string"
        )
        return filter_blocked_domains(df, bl).select("id", "url")

    q["domain_filter"] = domain_filter_gate

    q["exists_lang"] = lambda s, d: _rounded(
        _meta_engine(s, d).matches(Exists("lang", boost=1.5))
    )
    # numeric range as a composable leaf: constant score, predicate on
    # the stored column (the Spark path that replaces granular trie terms)
    q["numeric_range"] = lambda s, d: _rounded(
        _meta_engine(s, d).matches(
            NumericRange("n_chars", 100, 200, include_max=False, boost=2.0)
        )
    )
    # granular numeric range over the INDEXED numeric dictionary
    # (reference by_granular_range over numeric_token_stream trie
    # terms): same result as the equivalent predicate, served from the
    # (field, shift, prefix) num_terms table instead of the docs scan
    q["granular_range"] = lambda s, d: _rounded(
        _meta_engine(s, d).matches(
            GranularRange("n_chars", 80, 300, include_min=False, boost=1.25)
        )
    )

    # timestamp keys (epoch micros): the web-corpus shape's warc_ts
    # range query, exercised on the events table (its ts column is a
    # real TIMESTAMP); reference precision step 16
    def granular_ts(spark, sf_dir):
        key = os.path.abspath(sf_dir) + ":evts"
        if key not in _INDEX_CACHE:
            ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
            idx = build_index(
                ev, text_col="event_type", id_col="event_id",
                bucket_bits=16, analyzer="simple",
                numeric_fields=["ts"], precision_step=16,
            )
            idx.cache()
            idx.postings.count()
            _INDEX_CACHE[key] = idx
        eng = SearchEngine(_INDEX_CACHE[key])
        return _rounded(
            eng.matches(
                GranularRange(
                    "ts", "2024-01-08", "2024-01-15", include_max=False
                )
            )
        )

    q["granular_ts_range"] = granular_ts

    # ByNestedFilter analogue: parent = the decade-leader doc (a real
    # doc id), parents match when >=2 of their children match the term
    def nested_term(spark, sf_dir):
        from iresearch_spark.search import Nested

        key = os.path.abspath(sf_dir) + ":nested"
        if key not in _INDEX_CACHE:
            src = _docs(spark, sf_dir).withColumn(
                "parent", (F.floor(F.col("doc_id") / 10) * 10).cast("long")
            )
            idx = build_index(
                src, analyzer="simple", bucket_bits=16,
                extra_doc_cols=["parent"],
            )
            idx.cache()
            idx.postings.count()
            _INDEX_CACHE[key] = idx
        eng = SearchEngine(_INDEX_CACHE[key])
        return _rounded(
            eng.matches(Nested(Term(HIGH1), parent_col="parent", min_children=2))
        )

    q["nested_term"] = nested_term

    # OFFS posting feature: per-occurrence character spans
    def highlight_term(spark, sf_dir):
        key = os.path.abspath(sf_dir) + ":offs"
        if key not in _INDEX_CACHE:
            idx = build_index(
                _docs(spark, sf_dir), analyzer="simple", bucket_bits=16,
                with_offsets=True,
            )
            idx.cache()
            idx.postings.count()
            _INDEX_CACHE[key] = idx
        eng = SearchEngine(_INDEX_CACHE[key])
        return eng.highlight([HIGH1]).select(
            "doc_id",
            "term",
            F.col("start").cast("long").alias("start"),
            F.col("length").cast("long").alias("length"),
        )

    q["highlight_term"] = highlight_term

    # PAY posting feature: per-occurrence payload bytes via the
    # delimited-payload build (each token suffixed with |<1-based
    # token position> so the payload values are oracle-replayable)
    def payload_term(spark, sf_dir):
        key = os.path.abspath(sf_dir) + ":pay"
        if key not in _INDEX_CACHE:
            toks = F.split(F.trim(F.col("text")), r"\s+")
            ptext = F.array_join(
                F.transform(
                    toks,
                    # 2-arg lambda: Spark passes the element INDEX as
                    # the second argument — exactly what we want here
                    lambda t, i: F.concat(
                        t, F.lit("|"), (i + F.lit(1)).cast("string")
                    ),
                ),
                " ",
            )
            pdocs = _docs(spark, sf_dir).select("doc_id", ptext.alias("ptext"))
            idx = build_index(
                pdocs, text_col="ptext", analyzer="simple", bucket_bits=16,
                payload_delimiter="|",
            )
            idx.cache()
            idx.postings.count()
            _INDEX_CACHE[key] = idx
        eng = SearchEngine(_INDEX_CACHE[key])
        return eng.payloads([HIGH1]).select(
            "doc_id",
            "term",
            F.col("occurrence").cast("long").alias("occurrence"),
            F.col("payload").cast("string").alias("payload"),
        )

    q["payload_term"] = payload_term

    # edgeNgram analyzer option (text_token_stream.cpp:423-433): the
    # index holds 2..4-char prefixes of every token, so autocomplete
    # queries are plain Term lookups (no wildcard scan) — BM25-scored
    # over the ngram postings
    def edge_ngram_search(spark, sf_dir):
        from iresearch_spark.analysis.analyzers import get_analyzer

        key = os.path.abspath(sf_dir) + ":edge"
        if key not in _INDEX_CACHE:
            idx = build_index(
                _docs(spark, sf_dir),
                analyzer=get_analyzer(
                    "simple", edge_ngram={"min": 2, "max": 4}
                ),
                bucket_bits=16,
            )
            idx.cache()
            idx.postings.count()
            _INDEX_CACHE[key] = idx
        eng = SearchEngine(_INDEX_CACHE[key])
        return _rounded(eng.matches(Term("sca")))

    q["edge_ngram_search"] = edge_ngram_search

    # multilingual text analyzers (text_token_stream.cpp:509 — the
    # reference instantiates a Snowball stemmer for any locale): index
    # a fixed German / Russian fixture with text_de / text_ru and
    # BM25-match one stem. The oracle replays BM25 over the SAME
    # fixture with a FROZEN hand-traced surface-form table
    # (_DE_HAUS_FORMS / _RU_KNIGA_FORMS) — the Spark side stems at run
    # time, so a stemmer regression breaks the gate.
    def _multilang_engine(spark, lang, fixture):
        from iresearch_spark.analysis.analyzers import get_analyzer

        key = f"multilang:{lang}"
        if key not in _INDEX_CACHE:
            df = spark.createDataFrame(
                list(enumerate(fixture)), "doc_id long, text string"
            )
            idx = build_index(
                df, analyzer=get_analyzer(f"text_{lang}"), bucket_bits=8
            )
            idx.cache()
            idx.postings.count()
            _INDEX_CACHE[key] = idx
        return SearchEngine(_INDEX_CACHE[key])

    def text_de_term(spark, sf_dir):
        eng = _multilang_engine(spark, "de", _DE_FIXTURE)
        return _rounded(eng.matches(Term("haus")))

    q["text_de_term"] = text_de_term

    def text_ru_term(spark, sf_dir):
        eng = _multilang_engine(spark, "ru", _RU_FIXTURE)
        return _rounded(eng.matches(Term("книг")))

    q["text_ru_term"] = text_ru_term

    def text_tr_term(spark, sf_dir):
        eng = _multilang_engine(spark, "tr", _TR_FIXTURE)
        return _rounded(eng.matches(Term("kitap")))

    q["text_tr_term"] = text_tr_term

    def text_hi_term(spark, sf_dir):
        eng = _multilang_engine(spark, "hi", _HI_FIXTURE)
        return _rounded(eng.matches(Term("किताब")))

    q["text_hi_term"] = text_hi_term

    def text_ar_term(spark, sf_dir):
        eng = _multilang_engine(spark, "ar", _AR_FIXTURE)
        return _rounded(eng.matches(Term("كتاب")))

    q["text_ar_term"] = text_ar_term

    def text_he_term(spark, sf_dir):
        eng = _multilang_engine(spark, "he", _HE_FIXTURE)
        return _rounded(eng.matches(Term("ספר")))

    q["text_he_term"] = text_he_term

    def text_cs_term(spark, sf_dir):
        eng = _multilang_engine(spark, "cs", _CS_FIXTURE)
        return _rounded(eng.matches(Term("žen")))

    q["text_cs_term"] = text_cs_term

    def text_el_term(spark, sf_dir):
        eng = _multilang_engine(spark, "el", _EL_FIXTURE)
        return _rounded(eng.matches(Term("βιβλ")))

    q["text_el_term"] = text_el_term

    def text_pl_term(spark, sf_dir):
        eng = _multilang_engine(spark, "pl", _PL_FIXTURE)
        return _rounded(eng.matches(Term("dom")))

    q["text_pl_term"] = text_pl_term

    def text_uk_term(spark, sf_dir):
        eng = _multilang_engine(spark, "uk", _UK_FIXTURE)
        return _rounded(eng.matches(Term("книг")))

    q["text_uk_term"] = text_uk_term

    # CJK dictionary segmentation (segmentation_token_stream.cpp ICU
    # dictionary break): index the fixed zh/ja fixture with cjk=True
    # and BM25-match one dictionary word. The oracle replays BM25 over
    # a FROZEN hand-traced token stream (_CJK_TOKENS) — a segmenter
    # regression changes tf/dl/df Spark-side and breaks the gate.
    def cjk_term(spark, sf_dir):
        from iresearch_spark.analysis.analyzers import get_analyzer

        key = "multilang:cjk"
        if key not in _INDEX_CACHE:
            df = spark.createDataFrame(
                list(enumerate(_CJK_FIXTURE)), "doc_id long, text string"
            )
            idx = build_index(
                df,
                analyzer=get_analyzer("segmentation", cjk=True),
                bucket_bits=8,
            )
            idx.cache()
            idx.postings.count()
            _INDEX_CACHE[key] = idx
        eng = SearchEngine(_INDEX_CACHE[key])
        return _rounded(eng.matches(Term("学习")))

    q["cjk_term"] = cjk_term

    # Thai dictionary segmentation (same ICU dictionary-break analogue,
    # Thai frequency dictionary): index the fixed Thai fixture with
    # cjk=True and BM25-match one dictionary word. The oracle replays
    # BM25 over the FROZEN hand-traced token stream (_THAI_TOKENS).
    def thai_term(spark, sf_dir):
        from iresearch_spark.analysis.analyzers import get_analyzer

        key = "multilang:thai"
        if key not in _INDEX_CACHE:
            df = spark.createDataFrame(
                list(enumerate(_THAI_FIXTURE)), "doc_id long, text string"
            )
            idx = build_index(
                df,
                analyzer=get_analyzer("segmentation", cjk=True),
                bucket_bits=8,
            )
            idx.cache()
            idx.postings.count()
            _INDEX_CACHE[key] = idx
        eng = SearchEngine(_INDEX_CACHE[key])
        return _rounded(eng.matches(Term("อ่าน")))

    q["thai_term"] = thai_term

    # per-document language routing: one build_index(lang_col=) pass
    # over a mixed en/de/es/th/zh fixture, each doc analyzed by its
    # language's chain; Term('haus') must hit exactly the two German
    # docs with BM25 computed over the routed token streams
    def multilang_routed_term(spark, sf_dir):
        from iresearch_spark.analysis.multilang import lang_routed_analyzer

        key = "multilang:routed"
        if key not in _INDEX_CACHE:
            df = spark.createDataFrame(
                [(i, t, lg) for i, (t, lg) in enumerate(_ROUTED_FIXTURE)],
                "doc_id long, text string, lang string",
            )
            idx = build_index(
                df,
                analyzer=lang_routed_analyzer(stopwords="default"),
                lang_col="lang",
                bucket_bits=8,
            )
            idx.cache()
            idx.postings.count()
            _INDEX_CACHE[key] = idx
        eng = SearchEngine(_INDEX_CACHE[key])
        return _rounded(eng.matches(Term("haus")))

    q["multilang_routed_term"] = multilang_routed_term

    # Lucene SHOULD occurs-flag semantics (round 5 querystring fix):
    # '+batch small' — every batch doc matches, small only boosts
    def should_clause(spark, sf_dir):
        from iresearch_spark.search.querystring import parse_query

        eng = _engine(spark, sf_dir)
        return _rounded(eng.matches(parse_query(f"+{HIGH1} {HIGH2}")))

    q["should_clause"] = should_clause

    # legacy Norm variant (bm25.hpp:29-46, norm.hpp:46-70): index built
    # with norm="legacy" stores 1/sqrt(dl); BM25 scores with
    # tf = sqrt(freq), |doc| = sqrt(dl)
    def term_legacy_norm(spark, sf_dir):
        key = os.path.abspath(sf_dir) + ":legacy"
        if key not in _INDEX_CACHE:
            idx = build_index(
                _docs(spark, sf_dir), analyzer="simple", bucket_bits=16,
                norm="legacy",
            )
            idx.cache()
            idx.postings.count()
            _INDEX_CACHE[key] = idx
        return _rounded(SearchEngine(_INDEX_CACHE[key]).matches(Term(HIGH1)))

    q["term_legacy_norm"] = term_legacy_norm

    # --- top-k + WAND (SURVEY §2.5) ---
    q["topk_bm25"] = _topk_q(Or([Term(t) for t in TOPK_TERMS]), k=10)

    # batched multi-query top-k: ONE DataFrame job for the whole set
    def search_many_topk(spark, sf_dir):
        eng = _engine(spark, sf_dir)
        out = eng.search_many(
            {
                "single_high": Term(HIGH1),
                "or4": Or([Term(t) for t in TOPK_TERMS]),
                "and2": And([Term(HIGH1), Term(HIGH2)]),
            },
            k=5,
        )
        return out.select("query", "doc_id", F.round("score", 6).alias("score"))

    q["search_many_topk"] = search_many_topk
    q["topk_bm25_wand"] = _topk_q(
        Or([Term(t) for t in TOPK_TERMS]), k=10, mode="wand"
    )
    q["topk_single_wand"] = _topk_q(Term(HIGH1), k=10, mode="wand")

    # --- scorers (SURVEY §2.4) ---
    def tfidf_term(spark, sf_dir):
        return _rounded(_engine(spark, sf_dir, scorer="tfidf").matches(Term(HIGH1)))

    q["tfidf_term"] = tfidf_term

    # --- index stats tables (SURVEY §2.4 collectors / §2.6) ---
    def term_stats(spark, sf_dir):
        idx = _engine(spark, sf_dir).index
        return idx.term_stats.select(
            "term", F.col("df").cast("long").alias("df"),
            F.col("cf").cast("long").alias("cf"),
        )

    def doc_norms(spark, sf_dir):
        idx = _engine(spark, sf_dir).index
        return idx.docs.select("doc_id", F.col("dl").cast("long").alias("dl"))

    def field_stats(spark, sf_dir):
        idx = _engine(spark, sf_dir).index
        return idx.docs.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("total_term_freq"),
            F.round(F.sum("dl") / F.count("*"), 6).alias("avg_dl"),
        )

    q["term_stats"] = term_stats
    q["doc_norms"] = doc_norms
    q["field_stats"] = field_stats

    # persisted IVF index (registered mid-dict, before the heavier ANN
    # entries: r3's driver run recorded 50/51 rows with this one — then
    # last — missing, so keep it cheap and early). The saved layout is
    # cached per sf_dir: repeated driver invocations reuse the parquet.
    def ann_ivf_index(s, d):
        # persisted IVF layout: save -> load -> search probing ALL
        # cells, which is exact — the oracle is the same quantized
        # top-k SQL, so this verifies the whole save/load/prune path
        import tempfile

        from iresearch_spark.ops.ann_index import IvfIndex, ivf_save

        key = os.path.abspath(d) + ":ivfix"
        if key not in _INDEX_CACHE:
            path = os.path.join(tempfile.mkdtemp(prefix="ivfix"), "ix")
            ivf_save(_emb(s, d), path, n_centroids=8)
            _INDEX_CACHE[key] = path
        return (
            IvfIndex.load(s, _INDEX_CACHE[key])
            .search(
                _emb(s, d).filter(F.col("vec_id") % 25 == 0), k=5, n_probe=8
            )
            .select(
                "query_id",
                "neighbor_id",
                F.round("cosine", 6).alias("cosine"),
                F.col("rank").cast("long").alias("rank"),
            )
        )

    q["ann_ivf_index"] = ann_ivf_index

    # --- dedup ops ---
    q["dedup_exact"] = lambda s, d: dedup.exact_duplicates(_docs(s, d))
    q["minhash_sigs"] = lambda s, d: dedup.minhash_signatures(
        _docs(s, d), n=3, num_hashes=4
    )
    q["simhash"] = lambda s, d: dedup.simhash64(_docs(s, d))
    q["ngram_jaccard"] = lambda s, d: dedup.ngram_jaccard_pairs(
        _docs(s, d), n=3, threshold=0.1
    ).select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))

    # --- text stats ops ---
    q["token_counts"] = lambda s, d: textstats.token_counts(_docs(s, d))
    q["quality"] = lambda s, d: textstats.quality_score(_docs(s, d))
    q["lang_id"] = lambda s, d: textstats.lang_id(_docs(s, d))
    q["lang_id_ngram"] = lambda s, d: textstats.lang_id_ngram(_docs(s, d))
    q["fingerprint"] = lambda s, d: textstats.doc_fingerprint(_docs(s, d))
    q["repetition"] = lambda s, d: textstats.repetition_signals(_docs(s, d))

    # --- similarity search ---
    q["ann_cosine_topk"] = lambda s, d: similarity.brute_force_topk(
        _emb(s, d), k=3
    ).select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )
    q["ann_lsh_topk"] = lambda s, d: similarity.lsh_topk(
        _emb(s, d), k=3, n_bits=6
    ).select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )
    q["ann_lsh_multiprobe"] = lambda s, d: similarity.lsh_topk(
        _emb(s, d), k=3, n_bits=6, multi_probe=True
    ).select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )
    # banded multi-table LSH near-dup pairs (the 100 TB path of
    # embedding_dup_pairs) — deterministic, oracle-replayed
    q["embedding_dup_pairs"] = lambda s, d: dedup.embedding_dup_pairs(
        _emb(s, d), threshold=0.3, method="lsh", n_bits=4, n_tables=4
    ).select("doc_a", "doc_b", F.round("cosine", 6).alias("cosine"))
    # --- ngram-sequence similarity query node (SURVEY §2.2
    # by_ngram_similarity; LCS ratio — no SQL oracle, rows-only) ---
    def ngram_similarity_query(spark, sf_dir):
        from iresearch_spark.analysis.analyzers import get_analyzer
        from iresearch_spark.search import NgramSimilarity

        key = os.path.abspath(sf_dir) + ":ngram2"
        if key not in _INDEX_CACHE:
            heads = _docs(spark, sf_dir).select(
                "doc_id", F.substring("text", 1, 40).alias("head")
            )
            idx = build_index(
                heads,
                text_col="head",
                analyzer=get_analyzer("ngram", min_gram=2, max_gram=2),
                bucket_bits=16,
            )
            idx.cache()
            idx.postings.count()
            _INDEX_CACHE[key] = idx
        eng = SearchEngine(_INDEX_CACHE[key])
        return _rounded(
            eng.matches(NgramSimilarity(["ba", "at", "tc", "ch"], threshold=0.5))
        )

    q["ngram_similarity_query"] = ngram_similarity_query

    q["ann_ivf_topk"] = lambda s, d: similarity.ivf_topk(
        _emb(s, d), k=3, n_centroids=8, n_probe=3
    ).select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )
    q["ann_topk_join"] = lambda s, d: similarity.topk_join(
        _emb(s, d).filter(F.col("vec_id") % 25 == 0), _emb(s, d), k=5
    ).select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )

    return q


# ------------------------------------------------------------- oracle SQL

_K, _B = 1.2, 0.75

_CTE = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS ttf FROM dl),
tstats AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)
"""

_SCORE = (
    f"(({_K}+1.0) * ln(1.0 + (s.n_docs - ts.df + 0.5)/(ts.df + 0.5)) * {{boost}}) "
    f"* t.tf / ({_K}*(1.0-{_B}) + ({_K}*{_B}/(s.ttf*1.0/s.n_docs))*d.dl + t.tf)"
)


def _score(boost: float = 1.0) -> str:
    return _SCORE.format(boost=boost)


def _in(terms) -> str:
    return "(" + ", ".join(f"'{t}'" for t in terms) + ")"


def _match_sql(term_pred: str, boost: float = 1.0, having: str = "") -> str:
    return f"""{_CTE}
SELECT t.doc_id, ROUND(SUM({_score(boost)}), 6) AS score
FROM tf t JOIN dl d USING (doc_id) CROSS JOIN stats s
JOIN tstats ts ON ts.term = t.term
WHERE {term_pred}
GROUP BY t.doc_id {having}
"""


def _phrase_sql(terms: list[str], boost: float = 1.0, extra_select: bool = True) -> str:
    """Phrase BM25: tf = adjacent-position match count, c0 = summed
    per-slot idf (engine semantics, see Semantics.phrase_weight)."""
    joins = []
    conds = [f"p0.term = '{terms[0]}'"]
    for i in range(1, len(terms)):
        joins.append(
            f"JOIN toksp p{i} ON p{i}.doc_id = p0.doc_id AND p{i}.pos = p0.pos + {i}"
        )
        conds.append(f"p{i}.term = '{terms[i]}'")
    idf_sum = " + ".join(
        f"ln(1.0 + (s.n_docs - (SELECT df FROM tstats WHERE term = '{t}') + 0.5)"
        f"/((SELECT df FROM tstats WHERE term = '{t}') + 0.5))"
        for t in terms
    )
    return f"""{_CTE},
arrs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr
         FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
toksp AS (SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) AS pos FROM arrs),
pmatch AS (
  SELECT p0.doc_id, CAST(count(*) AS BIGINT) AS ptf
  FROM toksp p0 {' '.join(joins)}
  WHERE {' AND '.join(conds)}
  GROUP BY p0.doc_id
)
SELECT m.doc_id,
  ROUND((({_K}+1.0) * ({idf_sum}) * {boost}) * m.ptf
        / ({_K}*(1.0-{_B}) + ({_K}*{_B}/(s.ttf*1.0/s.n_docs))*d.dl + m.ptf), 6) AS score
FROM pmatch m JOIN dl d USING (doc_id) CROSS JOIN stats s
"""


def _lang_id_sql() -> str:
    langs = sorted(textstats.LANG_MARKERS)
    hit_cols = ", ".join(
        "len(list_intersect(arr_d, ["
        + ", ".join(f"'{w}'" for w in textstats.LANG_MARKERS[lang])
        + f"])) AS h_{lang}"
        for lang in langs
    )
    # replicate the Spark loop: iterate langs in sorted order, strict >
    name_expr, best_expr = f"'{langs[0]}'", f"h_{langs[0]}"
    for lang in langs[1:]:
        name_expr = f"CASE WHEN h_{lang} > {best_expr} THEN '{lang}' ELSE {name_expr} END"
        best_expr = f"greatest(h_{lang}, {best_expr})"
    return f"""
WITH a AS (
  SELECT doc_id,
         list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS arr_d
  FROM documents
), h AS (SELECT doc_id, {hit_cols} FROM a)
SELECT doc_id, CASE WHEN {best_expr} > 0 THEN {name_expr} ELSE 'und' END AS pred_lang
FROM h
"""


def _simhash_sql() -> str:
    tok_hash = hash60_sql("tok")
    votes = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(60)
    )
    fp = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(60)
    )
    return f"""
WITH t AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents
), hs AS (SELECT doc_id, {tok_hash} AS h FROM t WHERE tok <> ''),
v AS (SELECT doc_id, {votes} FROM hs GROUP BY doc_id)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM v
"""


_SHINGLE_CTE = r"""
WITH a AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
  FROM documents
),
p AS (SELECT doc_id, unnest(arr) AS tok, generate_subscripts(arr, 1) AS pos FROM a),
sh AS (
  SELECT DISTINCT x.doc_id, x.tok || ' ' || y.tok || ' ' || z.tok AS shingle
  FROM p x
  JOIN p y ON y.doc_id = x.doc_id AND y.pos = x.pos + 1
  JOIN p z ON z.doc_id = x.doc_id AND z.pos = x.pos + 2
)
"""


def _ngram_similarity_sql(
    q_terms: list[str], threshold: float, head_len: int
) -> str:
    """DuckDB replay of the by_ngram_similarity query: 2-gram stream of
    substr(text,1,head_len) restricted to the query grams, then
    LCS(query sequence, stream) via one running-max window pass per
    query slot — layer i:
      dp_i(j) = running_max( greatest(dp_{i-1}(j),
                             lag(dp_{i-1})(j) + [gram_j = q_i]) )
    (the classic LCS row recurrence; dp rows are non-decreasing in j so
    the running max subsumes the cur[j-1] term). sim = max(dp_m)/m."""
    m = len(q_terms)
    in_list = ", ".join(f"'{t}'" for t in q_terms)
    layers = []
    prev = "0"  # dp_0 == 0 everywhere
    src = "seq"
    for i, qt in enumerate(q_terms, 1):
        eq = f"CASE WHEN gram = '{qt}' THEN 1 ELSE 0 END"
        lag_prev = (
            "0" if prev == "0"
            else f"coalesce(lag({prev}) OVER (PARTITION BY doc_id ORDER BY j), 0)"
        )
        layers.append(
            f"c{i} AS (SELECT doc_id, j, gram, "
            + (f"{prev}, " if prev != "0" else "")
            + f"greatest({prev}, {lag_prev} + {eq}) AS t{i} FROM {src}),\n"
            f"m{i} AS (SELECT doc_id, j, gram, "
            f"max(t{i}) OVER (PARTITION BY doc_id ORDER BY j) AS dp{i} FROM c{i})"
        )
        prev = f"dp{i}"
        src = f"m{i}"
    return f"""
WITH h AS (
  SELECT doc_id, substr(text, 1, {head_len}) AS head
  FROM documents WHERE text IS NOT NULL
),
a AS (SELECT doc_id, regexp_split_to_array(head, '') AS ch FROM h),
p AS (SELECT doc_id, generate_subscripts(ch, 1) AS pos, unnest(ch) AS c FROM a),
g AS (
  SELECT x.doc_id, x.pos, x.c || y.c AS gram
  FROM p x JOIN p y ON y.doc_id = x.doc_id AND y.pos = x.pos + 1
),
s AS (SELECT doc_id, pos, gram FROM g WHERE gram IN ({in_list})),
seq AS (
  SELECT doc_id, gram,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS j
  FROM s
),
{",".join(layers)},
lcs AS (SELECT doc_id, max(dp{m}) AS l FROM m{m} GROUP BY doc_id)
SELECT doc_id, ROUND(l * 1.0 / {m}, 6) AS score
FROM lcs WHERE l * 1.0 / {m} >= {threshold}
"""


def _model_values(model: dict) -> str:
    return ", ".join(
        f"('{w}', {v[0]}.0, {v[1]}.0, {v[2]}.0)"
        for w, v in sorted(model.items())
    )


_NORM3 = "x/sqrt(x*x+y*y+z*z) AS x, y/sqrt(x*x+y*y+z*z) AS y, z/sqrt(x*x+y*y+z*z) AS z"


def _nn_oracle_sql() -> str:
    """Full first-principles replay of the nearest_neighbors-analyzed
    index: neighbor ranking (top-2 cosine, self excluded, ties
    word-asc) from the VALUES model, the per-token neighbor stream,
    then BM25 over that stream — matching the engine's build exactly
    (nearest_neighbors_stream.cpp semantics)."""
    return rf"""
WITH model(word, x, y, z) AS (VALUES {_model_values(_NN_MODEL)}),
nm AS (SELECT word, {_NORM3} FROM model),
nnp AS (
  SELECT a.word, b.word AS neighbor,
         a.x*b.x + a.y*b.y + a.z*b.z AS cs
  FROM nm a JOIN nm b ON a.word <> b.word
),
nn AS (
  SELECT word, neighbor FROM (
    SELECT word, neighbor,
           row_number() OVER (PARTITION BY word ORDER BY cs DESC, neighbor ASC) AS rk
    FROM nnp
  ) WHERE rk <= 2
),
rawtoks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
toks AS (SELECT r.doc_id, n.neighbor AS term FROM rawtoks r JOIN nn n ON n.word = r.w),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS ttf FROM dl),
tstats AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)
SELECT t.doc_id, ROUND(SUM({_score()}), 6) AS score
FROM tf t JOIN dl d USING (doc_id) CROSS JOIN stats s
JOIN tstats ts ON ts.term = t.term
WHERE t.term = 'batch'
GROUP BY t.doc_id
"""


def _cls_oracle_sql() -> str:
    """First-principles replay of the classification-analyzed fixture
    index: sentence vector = mean of in-vocab token vectors, argmax
    label by cosine (softmax is monotone, top_k=1, threshold=0 —
    classification_stream.cpp semantics), one label token per doc at
    dl=1, then BM25."""
    docs_vals = ", ".join(
        f"({i}, '{t}')" for i, t in enumerate(_CLS_DOCS)
    )
    return rf"""
WITH cdocs(doc_id, text) AS (VALUES {docs_vals}),
model(word, x, y, z) AS (VALUES {_model_values(_NN_MODEL)}),
nm AS (SELECT word, {_NORM3} FROM model),
lab(label, x, y, z) AS (VALUES {_model_values(_CLS_LABELS)}),
nl AS (SELECT label, {_NORM3} FROM lab),
rawtoks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
  FROM cdocs
),
tv AS (SELECT r.doc_id, m.x, m.y, m.z FROM rawtoks r JOIN nm m ON m.word = r.w),
sent AS (SELECT doc_id, avg(x) AS sx, avg(y) AS sy, avg(z) AS sz FROM tv GROUP BY 1),
scored AS (
  SELECT s.doc_id, l.label, s.sx*l.x + s.sy*l.y + s.sz*l.z AS sc
  FROM sent s CROSS JOIN nl l
),
toks AS (
  SELECT doc_id, label AS term FROM (
    SELECT doc_id, label,
           row_number() OVER (PARTITION BY doc_id ORDER BY sc DESC, label ASC) AS rk
    FROM scored
  ) WHERE rk = 1
),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS ttf FROM dl),
tstats AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id, ROUND(SUM({_score()}), 6) AS score
FROM tf t JOIN dl d USING (doc_id) CROSS JOIN stats s
JOIN tstats ts ON ts.term = t.term
WHERE t.term = 'exec_label'
GROUP BY t.doc_id
"""


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    o["term_high"] = _match_sql(f"t.term = '{HIGH1}'")
    # encrypted index: same plaintext semantics — encryption must be
    # invisible to results
    o["encrypted_term"] = _match_sql(f"t.term = '{HIGH1}'")
    o["term_rare"] = _match_sql(f"t.term = '{LOW1}'")
    o["terms_set"] = _match_sql(f"t.term IN {_in([LOW1, MED1, 'fast'])}")
    o["terms_boosted"] = _match_sql(
        f"t.term IN {_in([LOW1, MED1, 'fast'])}",
        boost=(
            f"(CASE t.term WHEN '{LOW1}' THEN 2.0 "
            "WHEN 'fast' THEN 0.5 ELSE 1.0 END)"
        ),
    )
    o["prefix"] = _match_sql("t.term LIKE 's%'")
    o["wildcard"] = _match_sql("t.term LIKE 's%k'")
    o["wildcard_infix"] = _match_sql("t.term LIKE '%atc%'")
    o["fuzzy_gram"] = _match_sql(
        "t.term IN (SELECT term FROM tstats WHERE levenshtein(term, 'spork') <= 1)"
    )
    o["nn_analyzer_term"] = _nn_oracle_sql()
    o["classification_label"] = _cls_oracle_sql()
    o["multifield_and"] = f"""{_CTE},
src_stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
  WHERE source IS NOT NULL
),
src_df AS (
  SELECT CAST(count(*) AS BIGINT) AS df FROM documents WHERE source = 'src7'
)
SELECT t.doc_id AS orig_id, ROUND(
  SUM({_score()}) +
  MAX((({_K}+1.0) * ln(1.0 + (ss.n_docs - sd.df + 0.5)/(sd.df + 0.5)))
      * 1.0 / ({_K}*(1.0-{_B}) + ({_K}*{_B}/1.0)*1.0 + 1.0)),
6) AS score
FROM tf t JOIN dl d USING (doc_id) CROSS JOIN stats s
JOIN tstats ts ON ts.term = t.term
JOIN documents doc ON doc.doc_id = t.doc_id
CROSS JOIN src_stats ss CROSS JOIN src_df sd
WHERE t.term = '{HIGH1}' AND doc.source = 'src7'
GROUP BY t.doc_id
"""
    _ev_values = ", ".join(f"('{t}')" for t in _EVAL_TEXTS)
    o["decontaminate"] = f"""
WITH ev(text) AS (VALUES {_ev_values}),
etoks AS (
  SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS arr FROM ev
),
eg AS (
  SELECT DISTINCT array_to_string(arr[i:i+2], ' ') AS gram
  FROM (
    SELECT arr, unnest(generate_series(1, len(arr) - 2)) AS i
    FROM etoks WHERE len(arr) >= 3
  )
),
dtoks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
  FROM documents
),
dg AS (
  SELECT doc_id, array_to_string(arr[i:i+2], ' ') AS gram
  FROM (
    SELECT doc_id, arr, unnest(generate_series(1, len(arr) - 2)) AS i
    FROM dtoks WHERE len(arr) >= 3
  )
),
bad AS (SELECT DISTINCT doc_id FROM dg JOIN eg USING (gram))
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM bad)
"""
    _c4_values = ", ".join(
        "({}, '{}')".format(i, t.replace("'", "''")) for i, t in _C4_DOCS
    )
    o["c4_clean"] = f"""
WITH c4(doc_id, text) AS (VALUES {_c4_values}),
ok AS (
  SELECT * FROM c4
  WHERE NOT regexp_matches(lower(text), 'lorem ipsum|\\{{')
),
arrs AS (SELECT doc_id, string_split(text, '|') AS arr FROM ok),
parts AS (
  SELECT doc_id, unnest(arr) AS line, generate_subscripts(arr, 1) AS ord
  FROM arrs
),
kept AS (
  SELECT doc_id, line, ord FROM parts
  WHERE regexp_matches(trim(line), '[.!?"]$')
    AND len(regexp_split_to_array(trim(line), '\\s+')) >= 5
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       string_agg(line, '|' ORDER BY ord) AS text
FROM kept GROUP BY doc_id HAVING count(*) >= 3
"""
    from iresearch_spark.ops.textstats import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
    )

    _pii_values = ", ".join(
        "({}, '{}')".format(i, t.replace("'", "''"))
        for i, t in enumerate(_PII_FIXTURE)
    )

    def _sqlre(pat: str) -> str:
        # DuckDB standard string literals don't process backslashes —
        # only quotes need escaping
        return pat.replace("'", "''")

    o["pii_scrub"] = f"""
WITH p(id, text) AS (VALUES {_pii_values})
SELECT CAST(id AS BIGINT) AS id,
  regexp_replace(
    regexp_replace(
      regexp_replace(text, '{_sqlre(PII_EMAIL_RE)}', '<EMAIL>', 'g'),
      '{_sqlre(PII_IPV4_RE)}', '<IP>', 'g'),
    '{_sqlre(PII_PHONE_RE)}', '<PHONE>', 'g') AS text
FROM p
"""
    _edge_values = ", ".join(f"({a}, {b})" for a, b in _DUP_EDGES)
    o["dedup_clusters"] = f"""
WITH RECURSIVE raw(a, b) AS (VALUES {_edge_values}),
e(a, b) AS (
  SELECT a, b FROM raw UNION SELECT b, a FROM raw
),
nodes(n) AS (SELECT DISTINCT a FROM e),
reach(n, r) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT reach.n, e.b FROM reach JOIN e ON e.a = reach.r
)
SELECT CAST(n AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
FROM reach GROUP BY n
"""
    _url_values = ", ".join(
        "({}, '{}')".format(i, u.replace("'", "''"))
        for i, u in enumerate(_URL_FIXTURE)
    )
    o["url_canonicalize"] = f"""
WITH u(id, url) AS (VALUES {_url_values}),
t AS (SELECT id, trim(url) AS s FROM u),
p AS (
  SELECT id, s,
    coalesce(lower(regexp_extract(s, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)), '') AS scheme,
    coalesce(lower(regexp_extract(s, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1)), '') AS auth0,
    coalesce(regexp_extract(s, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1), '') AS path0,
    coalesce(regexp_extract(s, '\\?([^#]*)', 1), '') AS q0
  FROM t
),
c AS (
  SELECT id, s, scheme,
    CASE WHEN scheme = 'http' AND auth0 LIKE '%:80'
           THEN regexp_replace(auth0, ':80$', '')
         WHEN scheme = 'https' AND auth0 LIKE '%:443'
           THEN regexp_replace(auth0, ':443$', '')
         ELSE auth0 END AS auth,
    CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/'
         ELSE regexp_replace(path0, '/+$', '') END AS path,
    coalesce(array_to_string(list_sort(list_filter(string_split(q0, '&'),
      x -> x <> '' AND NOT regexp_matches(x,
        '^(utm_[^=]*|fbclid|gclid)(=|$)'))), '&'), '') AS query
  FROM p
)
SELECT CAST(id AS BIGINT) AS id,
  CASE WHEN regexp_matches(s, '^[A-Za-z][A-Za-z0-9+.\\-]*://')
       THEN scheme || '://' || auth || path ||
            CASE WHEN query = '' THEN '' ELSE '?' || query END
       ELSE s END AS canon
FROM c
"""
    _para_values = ", ".join(f"({i}, '{t}')" for i, t in _PARA_DOCS)
    o["paragraph_dedup"] = f"""
WITH pd(doc_id, text) AS (VALUES {_para_values}),
arrs AS (SELECT doc_id, string_split(text, '|') AS arr FROM pd),
parts AS (
  SELECT doc_id, unnest(arr) AS para, generate_subscripts(arr, 1) AS ord
  FROM arrs
),
ne AS (SELECT * FROM parts WHERE para <> ''),
pdf AS (
  SELECT para, count(DISTINCT doc_id) AS pdf FROM ne GROUP BY 1
),
kept AS (
  SELECT ne.doc_id, ne.para, ne.ord FROM ne JOIN pdf USING (para)
  WHERE pdf <= 1
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       coalesce(string_agg(k.para, '|' ORDER BY k.ord), '') AS text
FROM pd d LEFT JOIN kept k USING (doc_id)
GROUP BY d.doc_id
"""
    from iresearch_spark.ops.hashing import hash60_sql as _h60sql

    _LM_TOKS = (
        "list_filter(regexp_split_to_array(lower({e}), "
        "'[^\\p{{L}}\\p{{N}}]+'), t -> t <> '')"
    )
    o["lm_perplexity"] = f"""
WITH rt AS (
  SELECT {_LM_TOKS.format(e='text')} AS arr FROM documents WHERE doc_id % 5 = 0
),
uni AS (
  SELECT w1, count(*) AS c1 FROM (SELECT unnest(arr) AS w1 FROM rt) GROUP BY w1
),
v AS (SELECT count(*) AS v FROM uni),
bi AS (
  SELECT w1, w2, count(*) AS c2 FROM (
    SELECT arr[i] AS w1, arr[i+1] AS w2
    FROM (SELECT arr, unnest(generate_series(1, len(arr)-1)) AS i
          FROM rt WHERE len(arr) >= 2)
  ) GROUP BY w1, w2
),
dt AS (
  SELECT doc_id, {_LM_TOKS.format(e='text')} AS arr FROM documents
),
dbg AS (
  SELECT doc_id, arr[i] AS w1, arr[i+1] AS w2
  FROM (SELECT doc_id, arr, unnest(generate_series(1, len(arr)-1)) AS i
        FROM dt WHERE len(arr) >= 2)
),
nll AS (
  SELECT doc_id,
    -ln((COALESCE(bi.c2, 0) + 1.0)
        / (COALESCE(uni.c1, 0) + (SELECT v FROM v) * 1.0)) AS nll
  FROM dbg LEFT JOIN bi USING (w1, w2) LEFT JOIN uni USING (w1)
),
agg AS (
  SELECT doc_id, count(*) AS n_bigrams, avg(nll) AS ce FROM nll GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       round(agg.ce, 6) AS cross_entropy,
       round(exp(agg.ce), 4) AS ppl
FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
"""
    o["lm_trigram"] = f"""
WITH rt AS (
  SELECT {_LM_TOKS.format(e='text')} AS arr FROM documents WHERE doc_id % 5 = 0
),
runi AS (SELECT unnest(arr) AS w1 FROM rt),
uni AS (SELECT w1, count(*) AS c1 FROM runi GROUP BY w1),
v AS (SELECT count(*) AS v FROM uni),
tt AS (SELECT count(*) AS t FROM runi),
bi AS (
  SELECT w1, w2, count(*) AS c2 FROM (
    SELECT arr[i] AS w1, arr[i+1] AS w2
    FROM (SELECT arr, unnest(generate_series(1, len(arr)-1)) AS i
          FROM rt WHERE len(arr) >= 2)
  ) GROUP BY w1, w2
),
tri AS (
  SELECT w1, w2, w3, count(*) AS c3 FROM (
    SELECT arr[i] AS w1, arr[i+1] AS w2, arr[i+2] AS w3
    FROM (SELECT arr, unnest(generate_series(1, len(arr)-2)) AS i
          FROM rt WHERE len(arr) >= 3)
  ) GROUP BY w1, w2, w3
),
dt AS (SELECT doc_id, {_LM_TOKS.format(e='text')} AS arr FROM documents),
dg AS (
  SELECT doc_id, arr[i] AS w1, arr[i+1] AS w2, arr[i+2] AS w3
  FROM (SELECT doc_id, arr, unnest(generate_series(1, len(arr)-2)) AS i
        FROM dt WHERE len(arr) >= 3)
),
nll AS (
  SELECT doc_id, -ln(
    0.5 * (COALESCE(tri.c3, 0) + 1.0)
        / (COALESCE(b1.c2, 0) + (SELECT v FROM v) * 1.0)
    + 0.3 * (COALESCE(b2.c2, 0) + 1.0)
        / (COALESCE(u1.c1, 0) + (SELECT v FROM v) * 1.0)
    + 0.2 * (COALESCE(u2.c1, 0) + 1.0)
        / ((SELECT t FROM tt) + (SELECT v FROM v) * 1.0)
  ) AS nll
  FROM dg
  LEFT JOIN tri ON tri.w1 = dg.w1 AND tri.w2 = dg.w2 AND tri.w3 = dg.w3
  LEFT JOIN bi b1 ON b1.w1 = dg.w1 AND b1.w2 = dg.w2
  LEFT JOIN bi b2 ON b2.w1 = dg.w2 AND b2.w2 = dg.w3
  LEFT JOIN uni u1 ON u1.w1 = dg.w2
  LEFT JOIN uni u2 ON u2.w1 = dg.w3
),
agg AS (
  SELECT doc_id, count(*) AS n_trigrams, avg(nll) AS ce FROM nll GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(agg.n_trigrams, 0) AS BIGINT) AS n_trigrams,
       round(agg.ce, 6) AS cross_entropy,
       round(exp(agg.ce), 4) AS ppl
FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
"""
    # interpolated 5-gram LM (counts pruned at >= 2 for orders 3..5,
    # the train_ngram_lm defaults); lambdas replicate lm.py's default
    _L5_BASE = [0.4, 0.25, 0.15, 0.1, 0.06]
    _L5 = [x / sum(_L5_BASE) for x in reversed(_L5_BASE)]  # l1..l5

    def _lm5_counts(k: int) -> str:
        cols = ", ".join(
            f"arr[i+{j}] AS w{j+1}" for j in range(k)
        )
        names = ", ".join(f"w{j+1}" for j in range(k))
        having = " HAVING count(*) >= 2" if k >= 3 else ""
        return (
            f"g{k} AS (SELECT {names}, count(*) AS c{k} FROM ("
            f"SELECT {cols} FROM (SELECT arr, "
            f"unnest(generate_series(1, len(arr)-{k-1})) AS i FROM rt "
            f"WHERE len(arr) >= {k})) GROUP BY {names}{having})"
        )

    _lm5_joins = []
    _lm5_terms = []
    for _k in range(1, 6):
        cont_keys = [f"w{j+1}" for j in range(5)][5 - _k:]
        if _k == 1:
            _lm5_joins.append(
                "LEFT JOIN uni u5 ON u5.w1 = dg.w5"
            )
            _lm5_terms.append(
                f"{_L5[0]!r} * (COALESCE(u5.c1, 0) + 1.0) / "
                "((SELECT t FROM tt) + (SELECT v FROM v) * 1.0)"
            )
            continue
        on = " AND ".join(
            f"t{_k}.w{j+1} = dg.{cont_keys[j]}" for j in range(_k)
        )
        _lm5_joins.append(f"LEFT JOIN g{_k} t{_k} ON {on}")
        ctx_keys = cont_keys[:-1]
        if _k == 2:
            _lm5_joins.append(
                f"LEFT JOIN uni x2 ON x2.w1 = dg.{ctx_keys[0]}"
            )
            denom = "(COALESCE(x2.c1, 0) + (SELECT v FROM v) * 1.0)"
        else:
            on_x = " AND ".join(
                f"x{_k}.w{j+1} = dg.{ctx_keys[j]}" for j in range(_k - 1)
            )
            _lm5_joins.append(f"LEFT JOIN g{_k-1} x{_k} ON {on_x}")
            denom = (
                f"(COALESCE(x{_k}.c{_k-1}, 0) + (SELECT v FROM v) * 1.0)"
            )
        _lm5_terms.append(
            f"{_L5[_k-1]!r} * (COALESCE(t{_k}.c{_k}, 0) + 1.0) / {denom}"
        )

    _lm5_tables = ",\n".join(_lm5_counts(k) for k in range(2, 6))
    _lm5_sum = " + ".join(_lm5_terms)
    _lm5_join_sql = " ".join(_lm5_joins)
    o["lm_5gram"] = f"""
WITH rt AS (
  SELECT {_LM_TOKS.format(e='text')} AS arr FROM documents WHERE doc_id % 5 = 0
),
runi AS (SELECT unnest(arr) AS w1 FROM rt),
uni AS (SELECT w1, count(*) AS c1 FROM runi GROUP BY w1),
v AS (SELECT count(*) AS v FROM uni),
tt AS (SELECT count(*) AS t FROM runi),
{_lm5_tables},
dt AS (SELECT doc_id, {_LM_TOKS.format(e='text')} AS arr FROM documents),
dg AS (
  SELECT doc_id, arr[i] AS w1, arr[i+1] AS w2, arr[i+2] AS w3,
         arr[i+3] AS w4, arr[i+4] AS w5
  FROM (SELECT doc_id, arr, unnest(generate_series(1, len(arr)-4)) AS i
        FROM dt WHERE len(arr) >= 5)
),
nll AS (
  SELECT doc_id, -ln(
    {_lm5_sum}
  ) AS nll
  FROM dg
  {_lm5_join_sql}
),
agg AS (
  SELECT doc_id, count(*) AS n_ngrams, avg(nll) AS ce FROM nll GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(agg.n_ngrams, 0) AS BIGINT) AS n_ngrams,
       round(agg.ce, 6) AS cross_entropy,
       round(exp(agg.ce), 4) AS ppl
FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
"""

    _DSIR_FEATS = f"""
dt AS (SELECT doc_id, {_LM_TOKS.format(e='text')} AS toks FROM documents),
dfe AS (
  SELECT doc_id, {_h60sql('f')} % 512 AS bucket FROM (
    SELECT doc_id, unnest(toks) AS f FROM dt
    UNION ALL
    SELECT doc_id, toks[i] || ' ' || toks[i+1] AS f
    FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks)-1)) AS i
          FROM dt WHERE len(toks) >= 2)
  )
),
tfe AS (SELECT bucket FROM dfe WHERE doc_id % 7 = 0),
tc AS (SELECT bucket, count(*) AS ct FROM tfe GROUP BY bucket),
rc AS (SELECT bucket, count(*) AS cr FROM dfe GROUP BY bucket),
tt AS (SELECT count(*) AS t FROM tfe),
rt2 AS (SELECT count(*) AS r FROM dfe),
model AS (
  SELECT bucket,
    ln((COALESCE(ct, 0) + 1.0) / ((SELECT t FROM tt) + 512.0))
    - ln((COALESCE(cr, 0) + 1.0) / ((SELECT r FROM rt2) + 512.0)) AS log_ratio
  FROM tc FULL JOIN rc USING (bucket)
),
dsagg AS (
  SELECT doc_id, count(*) AS n_features, sum(log_ratio) AS lw
  FROM dfe JOIN model USING (bucket) GROUP BY doc_id
)"""
    o["dsir_weights"] = f"""
WITH {_DSIR_FEATS}
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(n_features, 0) AS BIGINT) AS n_features,
       round(COALESCE(lw, 0.0), 6) AS log_weight
FROM documents d LEFT JOIN dsagg USING (doc_id)
"""
    o["dsir_topk"] = f"""
WITH {_DSIR_FEATS},
w AS (
  SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
         round(COALESCE(lw, 0.0), 6) AS log_weight
  FROM documents d LEFT JOIN dsagg USING (doc_id)
),
keyed AS (
  SELECT doc_id, log_weight,
    round(log_weight - ln(-ln(
      (({_h60sql("'7:' || CAST(doc_id AS VARCHAR)")} % 1000000000) * 1.0 + 1.0)
      / 1000000002.0)), 6) AS gumbel_key
  FROM w
)
SELECT doc_id, log_weight, gumbel_key FROM keyed
ORDER BY gumbel_key DESC, doc_id ASC LIMIT 50
"""
    o["hash_sample"] = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
WHERE {_h60sql("'3:' || CAST(doc_id AS VARCHAR)")} % 1000000 < 250000
"""
    o["stratified_sample"] = f"""
WITH h AS (
  SELECT doc_id, lang,
    {_h60sql("'5:' || CAST(doc_id AS VARCHAR)")} % 1000000 AS hh
  FROM documents
),
r AS (
  SELECT doc_id, lang,
    row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS rk
  FROM h
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM r WHERE rk <= 30
"""
    o["hash_split"] = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CASE
    WHEN {_h60sql("'3:' || CAST(doc_id AS VARCHAR)")} % 1000000 < 100000
      THEN 'test'
    WHEN {_h60sql("'3:' || CAST(doc_id AS VARCHAR)")} % 1000000 < 900000
      THEN 'train'
    ELSE 'val'
  END AS split
FROM documents
"""
    o["pack_sequences"] = f"""
WITH n AS (
  SELECT doc_id,
    len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))
      AS n_tokens
  FROM documents
),
laid AS (
  SELECT doc_id, n_tokens,
    CAST(COALESCE(SUM(n_tokens + 1) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS b0
  FROM n
),
spans AS (
  SELECT doc_id, n_tokens, b0,
    unnest(generate_series(b0 // 64, (b0 + n_tokens - 1) // 64)) AS seq_id
  FROM laid WHERE n_tokens > 0
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(n_tokens AS INT) AS n_tokens,
  CAST(seq_id AS BIGINT) AS seq_id,
  CAST(GREATEST(seq_id * 64 - b0, 0) AS BIGINT) AS doc_start,
  CAST(LEAST(seq_id * 64 + 64 - b0, n_tokens) AS BIGINT) AS doc_end,
  CAST(b0 + GREATEST(seq_id * 64 - b0, 0) - seq_id * 64 AS BIGINT)
    AS seq_offset
FROM spans
"""
    _span_values = ", ".join(f"({i}, '{t}')" for i, t in _SPAN_DOCS)
    _span_cte = f"""
WITH d(doc_id, text) AS (VALUES {_span_values}),
toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr FROM d
),
w AS (
  SELECT doc_id,
         unnest(generate_series(1, len(arr) - 2)) AS start,
         arr
  FROM toks WHERE len(arr) >= 3
),
w2 AS (
  SELECT doc_id, start,
         array_to_string(arr[start:start+2], ' ') AS win
  FROM w
),
r AS (
  SELECT doc_id, start,
         count(*) OVER (PARTITION BY win) AS c,
         row_number() OVER (PARTITION BY win ORDER BY doc_id, start) AS rn
  FROM w2
),
flagged AS (
  SELECT doc_id, start FROM r WHERE c >= 2 AND rn > 1
)"""
    o["span_dedup"] = f"""{_span_cte}
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(start AS INT) AS start
FROM flagged
"""
    o["span_dedup_drop"] = f"""{_span_cte},
covered AS (
  SELECT DISTINCT doc_id, start + unnest(generate_series(0, 2)) AS idx
  FROM flagged
),
tokpos AS (
  SELECT doc_id, unnest(arr) AS tok, generate_subscripts(arr, 1) AS idx
  FROM toks
),
kept AS (
  SELECT t.* FROM tokpos t ANTI JOIN covered c USING (doc_id, idx)
),
rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS text
  FROM kept GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       coalesce(r2.text, '') AS text
FROM d LEFT JOIN rebuilt r2 USING (doc_id)
"""
    _gq_values = ", ".join(
        "({}, '{}')".format(i, t.replace("'", "''"))
        for i, t in _GOPHER_DOCS
    )
    _gq_stops = ", ".join(f"'{w}'" for w in _GOPHER_STOPS)
    o["gopher_quality"] = f"""
WITH g(doc_id, text) AS (VALUES {_gq_values}),
b AS (
  SELECT doc_id, text,
    regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
    CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS DOUBLE) AS n,
    list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS lines
  FROM g
),
m AS (
  SELECT doc_id, toks, n, lines,
    CAST(length(regexp_replace(lower(trim(text)), '\\s+', '', 'g')) AS DOUBLE)
      / n AS mean_wl,
    CAST(len(string_split(text, '#')) - 1
       + len(string_split(text, '...')) - 1
       + len(string_split(text, {_GQ_HELLIP})) - 1 AS DOUBLE) AS symbols,
    CAST(len(lines) AS DOUBLE) AS n_lines,
    CAST(len(list_filter(lines, x ->
      substr(trim(x), 1, 1) = {_GQ_BULLET} OR
      substr(trim(x), 1, 1) = '-' OR
      substr(trim(x), 1, 1) = '*')) AS DOUBLE) AS bullets,
    CAST(len(list_filter(lines, x ->
      ends_with(trim(x), '...') OR
      ends_with(trim(x), {_GQ_HELLIP}))) AS DOUBLE) AS ellipses,
    CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
      AS DOUBLE) AS alpha_words,
    len(list_intersect(list_distinct(toks), [{_gq_stops}])) AS stop_hits
  FROM b
),
f AS (
  SELECT doc_id, CAST(n AS BIGINT) AS n_words,
    CASE WHEN n >= {_GOPHER_KW['min_words']}
          AND n <= {_GOPHER_KW['max_words']} THEN 1 ELSE 0 END AS words_ok,
    CASE WHEN mean_wl >= 3.0 AND mean_wl <= 10.0 THEN 1 ELSE 0 END
      AS wordlen_ok,
    CASE WHEN symbols / n <= 0.1 THEN 1 ELSE 0 END AS symbol_ok,
    CASE WHEN n_lines = 0
          OR bullets / greatest(n_lines, 1.0) <= 0.9 THEN 1 ELSE 0 END
      AS bullet_ok,
    CASE WHEN n_lines = 0
          OR ellipses / greatest(n_lines, 1.0) <= 0.3 THEN 1 ELSE 0 END
      AS ellipsis_ok,
    CASE WHEN alpha_words / n >= 0.8 THEN 1 ELSE 0 END AS alpha_ok,
    CASE WHEN stop_hits >= {_GOPHER_KW['min_stop_hits']} THEN 1 ELSE 0 END
      AS stop_ok
  FROM m
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, n_words, words_ok, wordlen_ok,
  symbol_ok, bullet_ok, ellipsis_ok, alpha_ok, stop_ok,
  CASE WHEN words_ok + wordlen_ok + symbol_ok + bullet_ok + ellipsis_ok
         + alpha_ok + stop_ok = 7 THEN 1 ELSE 0 END AS keep
FROM f
"""
    o["sorted_topk"] = """
SELECT doc_id AS orig_id, n_chars FROM documents
ORDER BY n_chars DESC, doc_id ASC LIMIT 50
"""
    o["sorted_topk_filtered"] = f"""{_CTE}
SELECT d.doc_id AS orig_id, d.n_chars FROM documents d
WHERE EXISTS (
  SELECT 1 FROM tf t WHERE t.doc_id = d.doc_id AND t.term = '{MED1}'
)
ORDER BY d.n_chars DESC, d.doc_id ASC LIMIT 25
"""
    o["term_range"] = _match_sql("t.term >= 'm' AND t.term <= 'q'")
    o["fuzzy_d1"] = _match_sql(
        "t.term IN (SELECT term FROM tstats WHERE levenshtein(term, 'spork') <= 1)"
    )
    # exact-prefix fuzzy: prefix matches verbatim, distance on the rest
    o["fuzzy_prefix"] = _match_sql(
        "t.term IN (SELECT term FROM tstats WHERE starts_with(term, 'sc') "
        "AND levenshtein(substr(term, 3), 'an') <= 1)"
    )
    o["phrase_bigram"] = _phrase_sql(PHRASE)
    # SamePosition([t, t]): matches every posting of t with tf = freq and
    # the per-term constant summed twice (Semantics.phrase_weight)
    o["same_position"] = f"""{_CTE}
SELECT t.doc_id, ROUND(SUM(2.0 * {_score()}), 6) AS score
FROM tf t JOIN dl d USING (doc_id) CROSS JOIN stats s
JOIN tstats ts ON ts.term = t.term
WHERE t.term = '{HIGH1}'
GROUP BY t.doc_id
"""
    o["and_high_high"] = _match_sql(
        f"t.term IN {_in([HIGH1, HIGH2])}",
        having="HAVING count(DISTINCT t.term) = 2",
    )
    o["and_not"] = (
        _match_sql("t.term = 'scan'").rstrip()
        + f"\nHAVING t.doc_id NOT IN (SELECT doc_id FROM tf WHERE term = '{LOW1}')\n"
    )
    o["or_min_match2"] = _match_sql(
        f"t.term IN {_in([HIGH1, MED1, LOW1])}",
        having="HAVING count(DISTINCT t.term) >= 2",
    )
    # Terms(min_match=2) rewrites onto the Or machinery -> same oracle
    o["terms_min_match"] = o["or_min_match2"]
    # Or(Term(rare), Phrase): scores sum when both match
    o["or_nested_phrase"] = f"""{_CTE},
arrs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr
         FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
toksp AS (SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) AS pos FROM arrs),
pmatch AS (
  SELECT p0.doc_id, CAST(count(*) AS BIGINT) AS ptf
  FROM toksp p0 JOIN toksp p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
  WHERE p0.term = '{PHRASE[0]}' AND p1.term = '{PHRASE[1]}'
  GROUP BY p0.doc_id
),
phrase_scores AS (
  SELECT m.doc_id,
    (({_K}+1.0) * (ln(1.0 + (s.n_docs - (SELECT df FROM tstats WHERE term = '{PHRASE[0]}') + 0.5)/((SELECT df FROM tstats WHERE term = '{PHRASE[0]}') + 0.5))
                 + ln(1.0 + (s.n_docs - (SELECT df FROM tstats WHERE term = '{PHRASE[1]}') + 0.5)/((SELECT df FROM tstats WHERE term = '{PHRASE[1]}') + 0.5)))) * m.ptf
      / ({_K}*(1.0-{_B}) + ({_K}*{_B}/(s.ttf*1.0/s.n_docs))*d.dl + m.ptf) AS score
  FROM pmatch m JOIN dl d USING (doc_id) CROSS JOIN stats s
),
term_scores AS (
  SELECT t.doc_id, SUM({_score()}) AS score
  FROM tf t JOIN dl d USING (doc_id) CROSS JOIN stats s
  JOIN tstats ts ON ts.term = t.term
  WHERE t.term = '{LOW1}'
  GROUP BY t.doc_id
)
SELECT doc_id, ROUND(SUM(score), 6) AS score FROM (
  SELECT * FROM phrase_scores UNION ALL SELECT * FROM term_scores
) GROUP BY doc_id
"""
    o["or_not"] = (
        _match_sql(f"t.term IN {_in([HIGH1, MED1])}").rstrip()
        + f"\nHAVING t.doc_id NOT IN (SELECT doc_id FROM tf WHERE term = '{LOW1}')\n"
    )
    o["or_max_merge"] = f"""{_CTE}
SELECT t.doc_id, ROUND(MAX({_score()}), 6) AS score
FROM tf t JOIN dl d USING (doc_id) CROSS JOIN stats s
JOIN tstats ts ON ts.term = t.term
WHERE t.term IN {_in([HIGH1, HIGH2])}
GROUP BY t.doc_id
"""
    # variadic phrase: slot 0 matches any 's%' term, slot df = SUM over
    # matched variants (phrase_filter.cpp visitor collects every term
    # into the same stats slot)
    _df0 = "(SELECT CAST(SUM(df) AS BIGINT) FROM tstats WHERE term LIKE 's%')"
    _df1 = f"(SELECT df FROM tstats WHERE term = '{MED1}')"
    o["phrase_prefix"] = f"""{_CTE},
arrs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr
         FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
toksp AS (SELECT doc_id, unnest(arr) AS term, generate_subscripts(arr, 1) AS pos FROM arrs),
pmatch AS (
  SELECT p0.doc_id, CAST(count(*) AS BIGINT) AS ptf
  FROM toksp p0 JOIN toksp p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
  WHERE p0.term LIKE 's%' AND p1.term = '{MED1}'
  GROUP BY p0.doc_id
)
SELECT m.doc_id,
  ROUND((({_K}+1.0) * (ln(1.0 + (s.n_docs - {_df0} + 0.5)/({_df0} + 0.5))
                     + ln(1.0 + (s.n_docs - {_df1} + 0.5)/({_df1} + 0.5)))) * m.ptf
        / ({_K}*(1.0-{_B}) + ({_K}*{_B}/(s.ttf*1.0/s.n_docs))*d.dl + m.ptf), 6) AS score
FROM pmatch m JOIN dl d USING (doc_id) CROSS JOIN stats s
"""
    o["exists_lang"] = """
SELECT doc_id, ROUND(CAST(1.5 AS DOUBLE), 6) AS score
FROM documents WHERE lang IS NOT NULL
"""
    o["numeric_range"] = """
SELECT doc_id, ROUND(CAST(2.0 AS DOUBLE), 6) AS score
FROM documents WHERE n_chars >= 100 AND n_chars < 200
"""
    o["granular_range"] = """
SELECT doc_id, ROUND(CAST(1.25 AS DOUBLE), 6) AS score
FROM documents WHERE n_chars > 80 AND n_chars <= 300
"""
    o["granular_ts_range"] = """
SELECT event_id AS doc_id, ROUND(CAST(1.0 AS DOUBLE), 6) AS score
FROM events
WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
  AND ts < TIMESTAMP '2024-01-15 00:00:00'
"""
    o["nested_term"] = f"""{_CTE},
child_scores AS (
  SELECT t.doc_id, SUM({_score()}) AS score
  FROM tf t JOIN dl d USING (doc_id) CROSS JOIN stats s
  JOIN tstats ts ON ts.term = t.term
  WHERE t.term = '{HIGH1}'
  GROUP BY t.doc_id
)
SELECT CAST((doc_id // 10) * 10 AS BIGINT) AS doc_id,
       ROUND(SUM(score), 6) AS score
FROM child_scores GROUP BY 1 HAVING count(*) >= 2
"""
    # single-space corpus: char start of token k = sum(len+1) of priors
    o["highlight_term"] = rf"""
WITH a AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
p AS (SELECT doc_id, unnest(arr) AS tok, generate_subscripts(arr, 1) AS k FROM a),
c AS (
  SELECT doc_id, tok,
         CAST(COALESCE(SUM(len(tok) + 1) OVER (
           PARTITION BY doc_id ORDER BY k
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start,
         CAST(len(tok) AS BIGINT) AS length
  FROM p
)
SELECT doc_id, tok AS term, start, length FROM c WHERE tok = '{HIGH1}'
"""
    # PAY: payload of occurrence k of a term = that token's 1-based
    # position in the doc (by construction in the queries() entry)
    o["payload_term"] = rf"""
WITH a AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
p AS (SELECT doc_id, unnest(arr) AS tok, generate_subscripts(arr, 1) AS k FROM a)
SELECT doc_id, tok AS term,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY k) AS BIGINT) AS occurrence,
       CAST(k AS VARCHAR) AS payload
FROM p WHERE tok = '{HIGH1}'
"""
    # edgeNgram: the token stream is every 2..4-char prefix of every
    # whitespace token; BM25 stats (tf/dl/df/avgdl) over THAT stream
    o["edge_ngram_search"] = f"""
WITH words AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
toks AS (
  SELECT doc_id, substring(w, 1, CAST(k AS INT)) AS term
  FROM (SELECT doc_id, w, unnest(generate_series(2, least(4, length(w)))) AS k
        FROM words)
),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS ttf FROM dl),
tstats AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)
SELECT t.doc_id, ROUND(SUM({_score(1.0)}), 6) AS score
FROM tf t JOIN dl d USING (doc_id) CROSS JOIN stats s
JOIN tstats ts ON ts.term = t.term
WHERE t.term = 'sca'
GROUP BY t.doc_id
"""
    o["boosted_and"] = f"""{_CTE}
SELECT t.doc_id,
  ROUND(SUM(CASE WHEN t.term = '{HIGH1}' THEN {_score(3.0)} ELSE {_score(1.5)} END), 6) AS score
FROM tf t JOIN dl d USING (doc_id) CROSS JOIN stats s
JOIN tstats ts ON ts.term = t.term
WHERE t.term IN {_in([HIGH1, HIGH2])}
GROUP BY t.doc_id HAVING count(DISTINCT t.term) = 2
"""

    # multilingual text analyzer gates: BM25 over the fixed fixture,
    # with the query stem's surface forms FROZEN as a hand-traced list
    # (the Spark side stems at run time — a stemmer regression
    # mismatches). dl counts every token (stemming is 1:1, stopwords
    # off), so only the matched class needs the equivalence table.
    def _multilang_sql(fixture, forms) -> str:
        vals = ", ".join(
            "({}, '{}')".format(i, t.replace("'", "''"))
            for i, t in enumerate(fixture)
        )
        return f"""
WITH docs(doc_id, text) AS (VALUES {vals}),
toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
  FROM docs
),
tf AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM toks
  WHERE term IN {_in(forms)} GROUP BY 1
),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(dl) AS BIGINT) AS ttf FROM dl),
tstats AS (SELECT CAST(count(*) AS BIGINT) AS df FROM tf)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id, ROUND({_score(1.0)}, 6) AS score
FROM tf t JOIN dl d USING (doc_id) CROSS JOIN stats s CROSS JOIN tstats ts
"""

    o["text_de_term"] = _multilang_sql(_DE_FIXTURE, _DE_HAUS_FORMS)
    o["text_ru_term"] = _multilang_sql(_RU_FIXTURE, _RU_KNIGA_FORMS)
    o["text_tr_term"] = _multilang_sql(_TR_FIXTURE, _TR_KITAP_FORMS)
    o["text_hi_term"] = _multilang_sql(_HI_FIXTURE, _HI_KITAB_FORMS)
    o["text_ar_term"] = _multilang_sql(_AR_FIXTURE, _AR_KITAB_FORMS)
    o["text_he_term"] = _multilang_sql(_HE_FIXTURE, _HE_SEFER_FORMS)
    o["text_cs_term"] = _multilang_sql(_CS_FIXTURE, _CS_ZENA_FORMS)
    o["text_el_term"] = _multilang_sql(_EL_FIXTURE, _EL_VIVLIO_FORMS)
    o["text_pl_term"] = _multilang_sql(_PL_FIXTURE, _PL_DOM_FORMS)
    o["text_uk_term"] = _multilang_sql(_UK_FIXTURE, _UK_KNYHA_FORMS)

    # CJK gate: BM25 over the FROZEN hand-traced token stream
    _cjk_vals = ", ".join(
        f"({i}, '{tok}')"
        for i, toks in enumerate(_CJK_TOKENS)
        for tok in toks
    )
    o["cjk_term"] = f"""
WITH toks(doc_id, term) AS (VALUES {_cjk_vals}),
tf AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM toks
  WHERE term = '学习' GROUP BY 1
),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(dl) AS BIGINT) AS ttf FROM dl),
tstats AS (SELECT CAST(count(*) AS BIGINT) AS df FROM tf)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id, ROUND({_score(1.0)}, 6) AS score
FROM tf t JOIN dl d USING (doc_id) CROSS JOIN stats s CROSS JOIN tstats ts
"""

    # Thai gate: BM25 over the FROZEN hand-traced token stream
    _thai_vals = ", ".join(
        f"({i}, '{tok}')"
        for i, toks in enumerate(_THAI_TOKENS)
        for tok in toks
    )
    o["thai_term"] = f"""
WITH toks(doc_id, term) AS (VALUES {_thai_vals}),
tf AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM toks
  WHERE term = 'อ่าน' GROUP BY 1
),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(dl) AS BIGINT) AS ttf FROM dl),
tstats AS (SELECT CAST(count(*) AS BIGINT) AS df FROM tf)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id, ROUND({_score(1.0)}, 6) AS score
FROM tf t JOIN dl d USING (doc_id) CROSS JOIN stats s CROSS JOIN tstats ts
"""

    # routed-multilingual gate: BM25 over the FROZEN per-language
    # token streams (same replay shape as cjk/thai)
    _routed_vals = ", ".join(
        f"({i}, '{tok}')"
        for i, toks in enumerate(_ROUTED_TOKENS)
        for tok in toks
    )
    o["multilang_routed_term"] = f"""
WITH toks(doc_id, term) AS (VALUES {_routed_vals}),
tf AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM toks
  WHERE term = 'haus' GROUP BY 1
),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(dl) AS BIGINT) AS ttf FROM dl),
tstats AS (SELECT CAST(count(*) AS BIGINT) AS df FROM tf)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id, ROUND({_score(1.0)}, 6) AS score
FROM tf t JOIN dl d USING (doc_id) CROSS JOIN stats s CROSS JOIN tstats ts
"""

    # Lucene SHOULD semantics: '+batch small' — match set is the batch
    # docs, small contributes score only where present
    o["should_clause"] = f"""{_CTE}
SELECT t.doc_id, ROUND(SUM({_score(1.0)}), 6) AS score
FROM tf t JOIN dl d USING (doc_id) CROSS JOIN stats s
JOIN tstats ts ON ts.term = t.term
WHERE t.term IN {_in([HIGH1, HIGH2])}
GROUP BY t.doc_id
HAVING count(DISTINCT CASE WHEN t.term = '{HIGH1}' THEN t.term END) = 1
"""
    # legacy Norm BM25 (bm25.hpp:29-46): tf = sqrt(freq), |doc| =
    # sqrt(dl); idf and avg_dl unchanged (bm25.cpp:394-401 computes
    # avg_dl from the same field stats in both norm modes)
    o["term_legacy_norm"] = f"""{_CTE}
SELECT t.doc_id,
  ROUND(SUM((({_K}+1.0) * ln(1.0 + (s.n_docs - ts.df + 0.5)/(ts.df + 0.5)))
        * sqrt(t.tf)
        / ({_K}*(1.0-{_B}) + ({_K}*{_B}/(s.ttf*1.0/s.n_docs))*sqrt(d.dl)
           + sqrt(t.tf))), 6) AS score
FROM tf t JOIN dl d USING (doc_id) CROSS JOIN stats s
JOIN tstats ts ON ts.term = t.term
WHERE t.term = '{HIGH1}'
GROUP BY t.doc_id
"""
    topk_body = _match_sql(f"t.term IN {_in(TOPK_TERMS)}").rstrip()
    o["topk_bm25"] = (
        topk_body + f"\nORDER BY SUM({_score()}) DESC, t.doc_id ASC LIMIT 10\n"
    )

    def _tagged_topk(tag: str, pred: str, having: str = "", k: int = 5) -> str:
        # body only — the shared _CTE is prepended once at the top level
        return f"""SELECT '{tag}' AS query, doc_id, score FROM (
SELECT t.doc_id, ROUND(SUM({_score()}), 6) AS score
FROM tf t JOIN dl d USING (doc_id) CROSS JOIN stats s
JOIN tstats ts ON ts.term = t.term
WHERE {pred}
GROUP BY t.doc_id {having}
ORDER BY SUM({_score()}) DESC, t.doc_id ASC LIMIT {k}
)"""

    o["search_many_topk"] = (
        _CTE
        + "\n"
        + "\nUNION ALL\n".join(
            [
                _tagged_topk("single_high", f"t.term = '{HIGH1}'"),
                _tagged_topk("or4", f"t.term IN {_in(TOPK_TERMS)}"),
                _tagged_topk(
                    "and2",
                    f"t.term IN {_in([HIGH1, HIGH2])}",
                    having="HAVING count(DISTINCT t.term) = 2",
                ),
            ]
        )
    )
    o["topk_bm25_wand"] = o["topk_bm25"]
    o["topk_single_wand"] = (
        _match_sql(f"t.term = '{HIGH1}'").rstrip()
        + f"\nORDER BY SUM({_score()}) DESC, t.doc_id ASC LIMIT 10\n"
    )
    o["tfidf_term"] = f"""{_CTE}
SELECT t.doc_id,
  ROUND(SUM(ln(1.0 + (s.n_docs + 1.0)/(ts.df + 1.0)) * sqrt(t.tf)), 6) AS score
FROM tf t CROSS JOIN stats s JOIN tstats ts ON ts.term = t.term
WHERE t.term = '{HIGH1}'
GROUP BY t.doc_id
"""
    o["term_stats"] = f"""{_CTE}
SELECT t.term, CAST(count(*) AS BIGINT) AS df, CAST(sum(t.tf) AS BIGINT) AS cf
FROM tf t GROUP BY t.term
"""
    o["doc_norms"] = f"{_CTE}\nSELECT doc_id, dl FROM dl\n"
    o["field_stats"] = f"""{_CTE}
SELECT n_docs, ttf AS total_term_freq, ROUND(ttf*1.0/n_docs, 6) AS avg_dl FROM stats
"""
    o["dedup_exact"] = f"""
WITH h AS (SELECT doc_id, {hash60_sql('text')} AS content_hash FROM documents),
k AS (SELECT content_hash, min(doc_id) AS keep_doc_id FROM h GROUP BY 1)
SELECT h.doc_id, h.content_hash, k.keep_doc_id,
       h.doc_id <> k.keep_doc_id AS is_duplicate
FROM h JOIN k USING (content_hash)
"""
    sig_cols = ", ".join(
        f"min({seeded_hash60_sql('shingle', i)}) AS sig_{i}" for i in range(4)
    )
    o["minhash_sigs"] = f"""{_SHINGLE_CTE}
SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id
"""
    o["simhash"] = _simhash_sql()
    o["ngram_jaccard"] = f"""{_SHINGLE_CTE},
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ns FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, ROUND(i*1.0/(sa.ns + sb.ns - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE i*1.0/(sa.ns + sb.ns - i) >= 0.1
"""
    o["token_counts"] = r"""
SELECT doc_id,
  CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens,
  CAST(len(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))) AS BIGINT) AS n_unique,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(ceil(length(text)/4.0) AS BIGINT) AS n_subwords_est
FROM documents
"""
    o["repetition"] = r"""
WITH b AS (
  SELECT doc_id,
    regexp_split_to_array(trim(lower(text)), '\s+') AS arr,
    len(regexp_split_to_array(trim(lower(text)), '\s+')) AS nt,
    len(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))) AS nu
  FROM documents
),
g AS (
  SELECT doc_id, n, array_to_string(arr[i : i + n - 1], ' ') AS g
  FROM (
    SELECT b.doc_id, ns.n, b.arr,
           unnest(range(1, b.nt - ns.n + 2)) AS i
    FROM b, (VALUES (2), (3), (5)) AS ns(n)
    WHERE b.nt >= ns.n
  )
),
c AS (SELECT doc_id, n, g, count(*) AS c FROM g GROUP BY doc_id, n, g),
d AS (
  SELECT doc_id,
    max(CASE WHEN n = 2 THEN c END) AS max2,
    max(CASE WHEN n = 3 THEN c END) AS max3,
    sum(CASE WHEN n = 5 AND c >= 2 THEN c ELSE 0 END) AS dup5c
  FROM c GROUP BY doc_id
)
SELECT b.doc_id,
  ROUND(1.0 - b.nu * 1.0 / b.nt, 6) AS rep_token_frac,
  ROUND(COALESCE(d.max2 * 2.0 / b.nt, 0.0), 6) AS top2_frac,
  ROUND(COALESCE(d.max3 * 3.0 / b.nt, 0.0), 6) AS top3_frac,
  ROUND(LEAST(1.0, COALESCE(d.dup5c, 0) * 5.0 / b.nt), 6) AS dup5_frac
FROM b LEFT JOIN d USING (doc_id)
"""
    en = ", ".join(f"'{w}'" for w in textstats.LANG_MARKERS["en"])
    o["quality"] = rf"""
WITH a AS (
  SELECT doc_id,
    regexp_split_to_array(trim(lower(text)), '\s+') AS arr,
    length(regexp_replace(trim(lower(text)), '\s+', '', 'g')) AS nchars_nospace
  FROM documents
)
SELECT doc_id,
  ROUND(
    0.4 * (len(list_distinct(arr))*1.0/len(arr))
    + 0.3 * (CASE WHEN nchars_nospace*1.0/len(arr) >= 3.0
                   AND nchars_nospace*1.0/len(arr) <= 10.0 THEN 1.0 ELSE 0.0 END)
    + 0.3 * (CASE WHEN len(list_intersect(arr, [{en}])) > 0 THEN 1.0 ELSE 0.0 END)
  , 6) AS quality
FROM a
"""
    o["lang_id"] = _lang_id_sql()
    # char-trigram profile model: the (lang, gram, w) broadcast table is
    # replayed as literal VALUES rows (same derivation both sides)
    prof_rows = ", ".join(
        "('{}', '{}', {})".format(lang, g.replace("'", "''"), w)
        for lang, g, w in textstats.lang_trigram_rows()
    )
    o["lang_id_ngram"] = rf"""
WITH prof(lang, gram, w) AS (VALUES {prof_rows}),
a AS (
  SELECT doc_id,
         ' ' || array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ') || ' ' AS norm
  FROM documents
),
g AS (
  SELECT doc_id, substr(norm, CAST(i AS INT), 3) AS gram
  FROM (SELECT doc_id, norm,
               unnest(range(1, greatest(length(norm) - 2, 1) + 1)) AS i
        FROM a)
),
s AS (
  SELECT doc_id, lang, SUM(w) AS score
  FROM g JOIN prof USING (gram) GROUP BY 1, 2
),
b AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rk
  FROM s
)
SELECT d.doc_id, COALESCE(b.lang, 'und') AS pred_lang
FROM documents d LEFT JOIN b ON b.doc_id = d.doc_id AND b.rk = 1
"""
    winnow = hash60_sql("shingle4")
    o["fingerprint"] = rf"""
WITH a AS (
  SELECT doc_id,
    array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ') AS norm,
    regexp_split_to_array(trim(lower(text)), '\s+') AS arr
  FROM documents
),
p AS (SELECT doc_id, unnest(arr) AS tok, generate_subscripts(arr, 1) AS pos FROM a),
s4 AS (
  SELECT w.doc_id, w.tok || ' ' || x.tok || ' ' || y.tok || ' ' || z.tok AS shingle4
  FROM p w
  JOIN p x ON x.doc_id = w.doc_id AND x.pos = w.pos + 1
  JOIN p y ON y.doc_id = w.doc_id AND y.pos = w.pos + 2
  JOIN p z ON z.doc_id = w.doc_id AND z.pos = w.pos + 3
),
wn AS (SELECT doc_id, min({winnow}) AS winnow_hash FROM s4 GROUP BY 1)
SELECT a.doc_id, {hash60_sql('a.norm')} AS full_hash, wn.winnow_hash
FROM a JOIN wn USING (doc_id)
"""
    o["ann_cosine_topk"] = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
s AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_cosine_similarity(a.e, b.e) AS c
  FROM v a JOIN v b ON a.vec_id <> b.vec_id
),
r AS (
  SELECT query_id, neighbor_id, c,
         row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rk
  FROM s
)
SELECT query_id, neighbor_id, ROUND(c, 6) AS cosine, CAST(rk AS BIGINT) AS rank
FROM r WHERE rk <= 3
"""
    o["ngram_similarity_query"] = _ngram_similarity_sql(
        ["ba", "at", "tc", "ch"], threshold=0.5, head_len=40
    )
    # topk_join replays exactly: integer-quantized dots (round-half-away
    # in both engines), denominators multiplied from identical integers
    o["ann_topk_join"] = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (
  SELECT vec_id, generate_subscripts(e, 1) AS dim,
         CAST(round(unnest(e) * 1000000) AS BIGINT) AS r
  FROM v
),
n AS (SELECT vec_id, SUM(r * r) AS n2 FROM q GROUP BY 1),
d AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, SUM(a.r * b.r) AS dot
  FROM q a JOIN q b ON a.dim = b.dim AND a.vec_id <> b.vec_id
  WHERE a.vec_id % 25 = 0
  GROUP BY 1, 2
),
s AS (
  SELECT query_id, neighbor_id,
         dot / (sqrt(nb.n2) * sqrt(na.n2)) AS c
  FROM d
  JOIN n na ON na.vec_id = query_id
  JOIN n nb ON nb.vec_id = neighbor_id
),
r AS (
  SELECT query_id, neighbor_id, c,
         row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rk
  FROM s
)
SELECT query_id, neighbor_id, ROUND(c, 6) AS cosine, CAST(rk AS BIGINT) AS rank
FROM r WHERE rk <= 5
"""
    # the persisted-IVF entry probes ALL cells -> exact -> same oracle
    o["ann_ivf_index"] = o["ann_topk_join"]
    # LSH top-k is fully deterministic: the oracle replays the literal
    # hyperplane sign matrix and the 1e-6 integer quantization, so the
    # bucket assignment is bit-identical to the Spark plan
    from iresearch_spark.ops.similarity import hyperplane_sign_matrix

    n_bits, dims = 6, 64  # the entry's parameters / testdata embedding width
    signs = hyperplane_sign_matrix(n_bits, dims)
    sign_rows = ", ".join(
        f"({i}, {d + 1}, {signs[i][d]})"
        for i in range(n_bits)
        for d in range(dims)
    )
    o["ann_lsh_topk"] = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (
  SELECT vec_id, generate_subscripts(e, 1) AS dim,
         CAST(round(unnest(e) * 1000000) AS BIGINT) AS r
  FROM v
),
signs(bit, dim, sgn) AS (VALUES {sign_rows}),
dots AS (
  SELECT q.vec_id, s.bit, SUM(q.r * s.sgn) AS dot
  FROM q JOIN signs s ON s.dim = q.dim GROUP BY 1, 2
),
sig AS (
  SELECT vec_id,
         SUM(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS sig
  FROM dots GROUP BY 1
),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_cosine_similarity(va.e, vb.e) AS c
  FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id <> b.vec_id
  JOIN v va ON va.vec_id = a.vec_id
  JOIN v vb ON vb.vec_id = b.vec_id
),
r2 AS (
  SELECT query_id, neighbor_id, c,
         row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rk
  FROM pairs
)
SELECT query_id, neighbor_id, ROUND(c, 6) AS cosine, CAST(rk AS BIGINT) AS rank
FROM r2 WHERE rk <= 3
"""
    # multi-probe = all buckets within Hamming distance 1 of the query's
    # signature; the oracle uses the equivalent (small-scale) cross
    # formulation bit_count(xor) <= 1 over the same replayed signatures
    o["ann_lsh_multiprobe"] = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (
  SELECT vec_id, generate_subscripts(e, 1) AS dim,
         CAST(round(unnest(e) * 1000000) AS BIGINT) AS r
  FROM v
),
signs(bit, dim, sgn) AS (VALUES {sign_rows}),
dots AS (
  SELECT q.vec_id, s.bit, SUM(q.r * s.sgn) AS dot
  FROM q JOIN signs s ON s.dim = q.dim GROUP BY 1, 2
),
sig AS (
  SELECT vec_id,
         SUM(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS sig
  FROM dots GROUP BY 1
),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_cosine_similarity(va.e, vb.e) AS c
  FROM sig a JOIN sig b
    ON bit_count(xor(a.sig, b.sig)) <= 1 AND a.vec_id <> b.vec_id
  JOIN v va ON va.vec_id = a.vec_id
  JOIN v vb ON vb.vec_id = b.vec_id
),
r2 AS (
  SELECT query_id, neighbor_id, c,
         row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rk
  FROM pairs
)
SELECT query_id, neighbor_id, ROUND(c, 6) AS cosine, CAST(rk AS BIGINT) AS rank
FROM r2 WHERE rk <= 3
"""
    # banded multi-table LSH dup pairs: table t = bits [t*4, t*4+4) of
    # ONE 16-row sign matrix; candidates share any (table, signature)
    dp_bits, dp_tables = 4, 4
    dp_signs = hyperplane_sign_matrix(dp_bits * dp_tables, dims)
    dp_rows = ", ".join(
        f"({i}, {d + 1}, {dp_signs[i][d]})"
        for i in range(dp_bits * dp_tables)
        for d in range(dims)
    )
    o["embedding_dup_pairs"] = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (
  SELECT vec_id, generate_subscripts(e, 1) AS dim,
         CAST(round(unnest(e) * 1000000) AS BIGINT) AS r
  FROM v
),
signs(bit, dim, sgn) AS (VALUES {dp_rows}),
dots AS (
  SELECT q.vec_id, s.bit, SUM(q.r * s.sgn) AS dot
  FROM q JOIN signs s ON s.dim = q.dim GROUP BY 1, 2
),
sig AS (
  SELECT vec_id, bit // {dp_bits} AS tbl,
         SUM(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << (bit % {dp_bits}) ELSE 0 END) AS sig
  FROM dots GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM sig a JOIN sig b
    ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id
)
SELECT doc_a, doc_b, ROUND(list_cosine_similarity(va.e, vb.e), 6) AS cosine
FROM cand
JOIN v va ON va.vec_id = cand.doc_a
JOIN v vb ON vb.vec_id = cand.doc_b
WHERE list_cosine_similarity(va.e, vb.e) >= 0.3
"""
    o["corpus_report"] = r"""
SELECT lang, source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\s+'))) AS BIGINT)
    AS total_tokens,
  round(AVG(len(regexp_split_to_array(trim(lower(text)), '\s+'))), 4)
    AS mean_tokens,
  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
  CAST(SUM(CAST(ceil(length(text)/4.0) AS BIGINT)) AS BIGINT)
    AS total_subwords_est
FROM documents GROUP BY lang, source
"""

    from iresearch_spark.ops.textstats import NORMALIZE_CHAR_MAP

    def _sql_chr_str(s: str) -> str:
        parts, buf = [], []
        for ch in s:
            cp = ord(ch)
            if cp < 32 or 0x7F <= cp <= 0xA0 or cp in (0x2028, 0x2029):
                if buf:
                    parts.append("'" + "".join(buf).replace("'", "''") + "'")
                    buf = []
                parts.append(f"chr({cp})")
            else:
                buf.append(ch)
        if buf:
            parts.append("'" + "".join(buf).replace("'", "''") + "'")
        return " || ".join(parts) if parts else "''"

    _tn_values = ", ".join(
        f"({i}, {_sql_chr_str(t)})" for i, t in enumerate(_TEXTNORM_FIXTURE)
    )
    _tn_expr = "nfc_normalize(text)"
    for _k, _v in NORMALIZE_CHAR_MAP.items():
        # control / invisible map keys (NEL, line separators) go in as
        # chr(cp) so the SQL text itself stays printable
        _cp = ord(_k)
        _ksql = (
            f"chr({_cp})"
            if _cp < 0x20 or 0x7F <= _cp <= 0xA0 or _cp in (0x2028, 0x2029)
            else "'" + _k + "'"
        )
        _tn_expr = (
            f"replace({_tn_expr}, {_ksql}, "
            f"'{_v.replace(chr(39), chr(39) * 2)}')"
        )
    # deletion class = C0 minus \t\n\r, DEL, and C1 (NEL was already
    # mapped to ' ' above, so including 0x85 here is a no-op)
    o["normalize_text"] = f"""
WITH t(id, text) AS (VALUES {_tn_values})
SELECT CAST(id AS BIGINT) AS id,
  trim(regexp_replace(regexp_replace({_tn_expr},
    '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f]', '', 'g'),
    '\\s+', ' ', 'g')) AS text
FROM t
"""
    from iresearch_spark.ops.urls import MULTI_LABEL_TLDS

    _dom_values = ", ".join(
        f"({i}, '{u}')" for i, u in enumerate(_DOMAIN_FIXTURE)
    )
    _dom_host = (
        "regexp_replace(regexp_replace(lower(regexp_extract(trim(url), "
        "'^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1)), "
        "'^[^@]*@', ''), ':[0-9]*$', '')"
    )
    _dom_alts = "|".join(t.replace(".", "\\.") for t in MULTI_LABEL_TLDS)
    _dom_cte = f"""
WITH u(id, url) AS (VALUES {_dom_values}),
h AS (SELECT id, url, {_dom_host} AS host FROM u),
d AS (
  SELECT id, url, host,
    CASE
      WHEN regexp_matches(host, '^[0-9]{{1,3}}(\\.[0-9]{{1,3}}){{3}}$')
        THEN host
      WHEN regexp_matches(host, '[^.]+\\.({_dom_alts})$')
           AND regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$', 1) <> ''
        THEN regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$', 1)
      WHEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1) <> ''
        THEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
      ELSE host
    END AS domain
  FROM h)"""
    o["url_domains"] = f"""{_dom_cte}
SELECT CAST(id AS BIGINT) AS id, host, domain FROM d
"""
    o["domain_filter"] = f"""{_dom_cte},
bl(domain) AS (VALUES ('bad-site.com'), ('Example.co.uk'))
SELECT CAST(id AS BIGINT) AS id, url FROM d
WHERE domain NOT IN (SELECT lower(domain) FROM bl)
"""
    _sem_cent_hash = seeded_hash60_sql("CAST(vec_id AS VARCHAR)", 97)
    o["semantic_dedup"] = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cents AS (
  SELECT vec_id AS cid, e AS ce FROM v
  ORDER BY {_sem_cent_hash}, vec_id LIMIT 8
),
asg AS (
  SELECT vec_id, e, cid FROM (
    SELECT v.vec_id, v.e, c.cid,
      row_number() OVER (
        PARTITION BY v.vec_id
        ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cid ASC
      ) AS rn
    FROM v CROSS JOIN cents c
  ) WHERE rn = 1
)
SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
       ROUND(list_cosine_similarity(a.e, b.e), 6) AS cosine
FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.e, b.e) >= 0.3
"""
    # IVF is deterministic too: centroids = the n_centroids ids with the
    # lowest seeded md5 hash, assignment/probing by cosine with
    # (csim desc, cid asc) tie-break — replayed verbatim
    _cent_hash = seeded_hash60_sql("CAST(vec_id AS VARCHAR)", 97)
    o["ann_ivf_topk"] = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cents AS (
  SELECT vec_id AS cid, e AS ce FROM v
  ORDER BY {_cent_hash}, vec_id LIMIT 8
),
dots AS (
  SELECT v.vec_id AS id, v.e, c.cid, list_cosine_similarity(v.e, c.ce) AS csim
  FROM v CROSS JOIN cents c
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY id ORDER BY csim DESC, cid ASC) AS crank
  FROM dots
),
members AS (SELECT id AS neighbor_id, e AS ne, cid FROM ranked WHERE crank = 1),
probes AS (SELECT id AS query_id, e AS qe, cid FROM ranked WHERE crank <= 3),
cand AS (
  SELECT DISTINCT query_id, neighbor_id, list_cosine_similarity(p.qe, m.ne) AS c
  FROM probes p JOIN members m USING (cid)
  WHERE p.query_id <> m.neighbor_id
),
r2 AS (
  SELECT query_id, neighbor_id, c,
         row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rk
  FROM cand
)
SELECT query_id, neighbor_id, ROUND(c, 6) AS cosine, CAST(rk AS BIGINT) AS rank
FROM r2 WHERE rk <= 3
"""
    return o
