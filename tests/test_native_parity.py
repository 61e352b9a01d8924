"""Parity of the NATIVE (JVM Catalyst) expression layer against the oracle:
classification cascade, cleaning and the native TXT tokenizer, plus
property-based checks of the kernel's SimpleTokenizer regex.
"""

from __future__ import annotations

import random
import string

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from page_evaluator_spark.functions.classify import category_expr
from page_evaluator_spark.functions.textnorm import clean_token, tokenize_txt
from page_evaluator_spark.operators.parse import _tokenize_txt

from . import oracle

# Diverse deterministic token pool: exemplars + random strings over a nasty
# alphabet (ASCII punct, digits, unicode letters/punct, currency).
_ALPHABET = (string.ascii_letters + string.digits + string.punctuation
             + "éſæœÉ’«»–—£€¥   ")


def _random_tokens(n: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    toks = []
    for _ in range(n):
        k = rng.randint(1, 12)
        toks.append("".join(rng.choice(_ALPHABET) for _ in range(k)))
    return toks


def test_native_classify_matches_oracle(spark):
    import unicodedata

    pool = [w for ws in __import__("page_evaluator_spark.corpus", fromlist=["CATEGORY_EXEMPLARS"])
            .CATEGORY_EXEMPLARS.values() for w in ws]
    pool += _random_tokens(600, seed=42)
    # pipeline contract: tokens are trimmed, non-empty, NFC
    toks = [unicodedata.normalize("NFC", oracle.java_trim(t)) for t in pool]
    toks = [t for t in toks if t]
    df = spark.createDataFrame([(t,) for t in toks], "text string")
    got = {r["text"]: r["cat"]
           for r in df.withColumn("cat", category_expr(F.col("text"))).collect()}
    mismatches = [(t, got[t], oracle.classify_token(t))
                  for t in set(toks) if got[t] != oracle.classify_token(t)]
    assert mismatches == []


def test_native_clean_matches_oracle(spark):
    toks = [t for t in _random_tokens(400, seed=7) if t]
    df = spark.createDataFrame([(t,) for t in toks], "text string")
    got = {r["text"]: r["clean"]
           for r in df.withColumn("clean", clean_token(F.col("text"))).collect()}
    for t in set(toks):
        assert got[t] == oracle.clean_token(t), repr(t)


def test_native_txt_tokenizer_matches_oracle(spark):
    texts = [
        "wait... what?! now",
        "ab12cd a--b  c",
        "don’t stop 1,234.56 $100",
        "naïve cœur æther ſtill",
        "x y",  # nbsp is whitespace for opennlp (isWhitespace ∪ Zs)
        "",
    ]
    rng = random.Random(3)
    texts += ["".join(rng.choice(_ALPHABET) for _ in range(rng.randint(0, 60)))
              for _ in range(120)]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {r["text"]: list(r["toks"])
          for r in df.withColumn("toks", tokenize_txt(F.col("text"))).collect()}
    for t in set(texts):
        assert got[t] == oracle.simple_tokenize(t), repr(t)
        # the Python-UDF tokenizer path must agree with both (full TXT parse
        # includes reflow+dehyphenation, so compare the raw tokenizer here)
    for t in set(texts):

        from page_evaluator_spark.operators.parse import _TOKEN
        assert [m.group(0) for m in _TOKEN.finditer(t)] == oracle.simple_tokenize(t), repr(t)


def test_native_txt_full_parse_matches_oracle():
    """Full TXT parse (reflow, dehyphenation, SimpleTokenizer): the kernel's
    _tokenize_txt against the oracle (the native twin is gone)."""
    texts = [
        "The quality of  mercy\n\n   \nis not estima-\ntion...  but?! rather\n",
        "aaa-\nbbb-\nccc ddd-\neee\n",
        "  \n\t\n   \n",
        "single line no newline",
        "trail-\n",
        "a-\nb-\nc-\nd\n",
    ]
    for t in texts:
        assert _tokenize_txt(t) == [tok.text for tok in oracle.parse_txt(t).tokens], repr(t)

# line-terminator-ish chars BufferedReader.readLine does NOT split on —
# exercise them in the property pools (ADVICE r1 #1)
_TERMS = "\f\x0b\x1c\x85  "


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=_ALPHABET + "\n\t-" + _TERMS, min_size=0, max_size=80))
def test_txt_udf_tokenizer_matches_oracle_property(text):
    assert _tokenize_txt(text) == [t.text for t in oracle.parse_txt(text).tokens]


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=_ALPHABET + "\n\t" + _TERMS, min_size=0, max_size=40))
def test_oracle_tokenizer_statemachine_vs_regex(text):
    # two independent implementations of SimpleTokenizer must agree
    from page_evaluator_spark.operators.parse import _TOKEN

    assert [m.group(0) for m in _TOKEN.finditer(text)] == oracle.simple_tokenize(text)


def test_category_partition_properties(spark):
    """Counters partition token_count (exclusive + exhaustive); scores in range."""
    from page_evaluator_spark.corpus import corpus_to_spark_df, gen_corpus
    from page_evaluator_spark.plans.pipeline import evaluate_documents

    docs = gen_corpus(30, seed=5, include_fixtures=True)
    out = evaluate_documents(corpus_to_spark_df(spark, docs))
    for r in out.page_scores.collect():
        parts = (r["punct"] + r["number_objects"] + r["single_letter"] + r["ge4_repeated"]
                 + r["len_gt1_nonalpha"] + r["clean_short"] + r["clean_all_alpha"]
                 + r["clean_one_nonalpha"] + r["clean_two_nonalpha"]
                 + r["clean_3plus_nonalpha"])
        assert parts == r["token_count"], r["doc_id"]
        for s in ("correctable_score", "quality_score"):
            assert r[s] == -1.0 or 0.0 <= r[s] <= 1.0


def test_hocr_title_to_map():
    """The kernel's title map == HOCRToken.java:20-29's Properties parse,
    both as written out here and as the oracle computes it."""
    from .test_parse_kernel import _title_kernel_vs_oracle

    def java_props(title):
        props = {}
        for seg in title.split(";"):
            seg = seg.strip()
            i = seg.find(" ")
            props[seg[:i]] = seg[i + 1:]
        return props

    for t in ["bbox 393 604 442 620; x_wconf 85", "a 1;b 2 3;  c x y z  "]:
        kernel, expected = _title_kernel_vs_oracle(t)
        assert kernel == expected == java_props(t), t

def test_hocr_page_fuzz_parity(spark):
    """Seeded fuzz: random hOCR pages (hyphen-ended words, whitespace-padded
    tokens, unicode, empty lines, words that trim to nothing) — pipeline ==
    oracle on counters AND span sequence."""
    from page_evaluator_spark.corpus import corpus_to_spark_df, make_hocr
    from page_evaluator_spark.plans.pipeline import evaluate_documents

    rng = random.Random(4242)
    vocab = ["Quality", "eſti-", "mation", " pad ", "-", "--", "a", "1,2",
             "$9", "!!", "….", "mmmm", "x-", "-y", "\tz\t", "", "  ",
             "don’t", "qu3en", "h0u5e9", "ab-", "cd-"]
    docs = []
    for i in range(60):
        lines = [[rng.choice(vocab) for _ in range(rng.randint(0, 6))]
                 for _ in range(rng.randint(0, 5))]
        docs.append({"doc_id": f"fz{i:03d}", "spans": [{
            "kind": "hocr", "text": make_hocr(lines), "media_ref": None, "offset": 0}]})
    out = evaluate_documents(corpus_to_spark_df(spark, docs))
    scores = {r["doc_id"]: r.asDict() for r in out.page_scores.collect()}
    spans: dict[str, list] = {}
    for r in out.spans_out.collect():
        spans.setdefault(r["doc_id"], []).append((r["ord"], r["kind"], r["text"], r["media_ref"]))
    for d in docs:
        exp = oracle.doc_expected(d["spans"])
        got = scores[d["doc_id"]]
        for n in oracle.COUNTER_NAMES:
            assert got[n] == getattr(exp["counters"], n), (d["doc_id"], n)
        assert sorted(spans.get(d["doc_id"], [])) == exp["spans_out"], d["doc_id"]
