"""Test-only oracle: a line-by-line faithful pure-Python transliteration of the
reference's semantics (Early-Modern-OCR/page-evaluator, read-only at /root/reference).

NEVER imported by the pipeline — used exclusively to generate golden expectations
(SURVEY.md §5.2.1).  Each function cites the Java it transliterates.

Documented Java↔Python deltas (SURVEY.md §7.3.2):
  * Java ``\\p{Punct}`` (no UNICODE_CHARACTER_CLASS) == ASCII POSIX punct — spelled
    out explicitly here as ``PUNCT_CHARS``.
  * Java ``Pattern.CANON_EQ`` (canonical equivalence) has no Python equivalent —
    per the frozen rebuild rule, all token text is NFC-normalized first, after
    which plain matching is equivalent for the three CANON_EQ patterns
    (OCRPage.java:15,18,19).
  * Java ``String.trim()`` strips code points <= U+0020 — ``java_trim`` below.
  * Java ``\\s`` / ``\\S`` (no UNICODE flag) == ASCII ``[ \\t\\n\\x0B\\f\\r]`` —
    spelled out in the dehyphenation pattern.
  * OpenNLP SimpleTokenizer (opennlp-tools 1.5.3) is re-implemented as the same
    character-class state machine (TxtPage.java:54 + SimpleTokenizer source).
"""

from __future__ import annotations

import unicodedata
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field

import regex

# ---------------------------------------------------------------------------
# Character classes (Java semantics)
# ---------------------------------------------------------------------------

# Java \p{Punct} without UNICODE_CHARACTER_CLASS: POSIX ASCII punctuation.
PUNCT_CHARS = r"""!"#$%&'()*+,-./:;<=>?@[\]^_`{|}~"""
_PUNCT_SET = set(PUNCT_CHARS)
_PUNCT_CC = "[" + regex.escape(PUNCT_CHARS) + "]"

# Java String.trim(): strips chars with code point <= U+0020 from both ends.
_JAVA_TRIM_CHARS = "".join(chr(i) for i in range(0x21))


def java_trim(s: str) -> str:
    """String.trim() — OCRPage.java:40."""
    return s.strip(_JAVA_TRIM_CHARS)


def _is_letter(c: str) -> bool:
    """Character.isLetter: Unicode general categories L*."""
    return unicodedata.category(c).startswith("L")


def _is_digit(c: str) -> bool:
    """Character.isDigit: Unicode general category Nd."""
    return unicodedata.category(c) == "Nd"


def _is_opennlp_whitespace(c: str) -> bool:
    """opennlp StringUtil.isWhitespace = Character.isWhitespace(c) or Zs.

    Character.isWhitespace: Zs/Zl/Zp except no-break spaces, plus
    \\t \\n \\x0B \\f \\r \\x1C-\\x1F; union with Zs restores no-break spaces.
    """
    if c in "\t\n\x0b\f\r\x1c\x1d\x1e\x1f":
        return True
    return unicodedata.category(c) in ("Zs", "Zl", "Zp")


# ---------------------------------------------------------------------------
# Regex patterns (OCRPage.java:15-19), with Java-class deltas applied
# ---------------------------------------------------------------------------

# OCRPage.java:15 — Pattern.compile("\\P{L}", CANON_EQ); applied to NFC text.
NON_ALPHA = regex.compile(r"\P{L}")
# OCRPage.java:16 — "^\\p{Punct}$" (ASCII punct, see above).
PUNCT_TOKEN = regex.compile("^" + _PUNCT_CC + "$")
# OCRPage.java:17 — "^\\p{Sc}?[\\.,/\\-]?(\\p{N}+[\\.,/%\\-]?)+\\p{Sc}?$".
NUMBER_OBJECT = regex.compile(r"^\p{Sc}?[.,/\-]?(\p{N}+[.,/%\-]?)+\p{Sc}?$")
# OCRPage.java:18 — "^\\p{L}$" (CANON_EQ → NFC + plain).
ONE_ALPHA = regex.compile(r"^\p{L}$")
# OCRPage.java:19 — "(\\P{N})\\1{3,}" (CANON_EQ → NFC + plain), find() semantics.
REPEATED_4PLUS = regex.compile(r"(\P{N})\1{3,}")

# OCRPage.java:141-142 — replaceFirst of leading {0,1} / trailing {0,3} punct.
_CLEAN_LEADING = regex.compile("^" + _PUNCT_CC + "{0,1}")
_CLEAN_TRAILING = regex.compile(_PUNCT_CC + "{0,3}$")

# TxtPage.java:24 — HYPHEN_WORD_MATCHER; Java \S/\s are ASCII-only here.
_ASCII_NOT_WS = r"[^ \t\n\x0B\f\r]"
_ASCII_WS = r"[ \t\n\x0B\f\r]"
HYPHEN_WORD = regex.compile(
    "(?m)(" + _ASCII_NOT_WS + r"*\p{L})-\n(\p{L}" + _ASCII_NOT_WS + r"*)" + _ASCII_WS + "*"
)

CLEAN_TOKEN_LEN_THRESHOLD = 3  # OCRPage.java:13


def clean_token(token: str) -> str:
    """OCRPage.cleanToken — OCRPage.java:140-145 (two replaceFirst calls)."""
    token = _CLEAN_LEADING.sub("", token, count=1)
    token = _CLEAN_TRAILING.sub("", token, count=1)
    return token


# ---------------------------------------------------------------------------
# Stats container (OCRPageStats.java:16-26, 120-136)
# ---------------------------------------------------------------------------

COUNTER_NAMES = [
    "token_count",
    "ge4_repeated",
    "number_objects",
    "punct",
    "len_gt1_nonalpha",
    "clean_one_nonalpha",
    "clean_two_nonalpha",
    "clean_3plus_nonalpha",
    "clean_all_alpha",
    "clean_short",
    "single_letter",
]


@dataclass
class PageStats:
    token_count: int = 0
    ge4_repeated: int = 0
    number_objects: int = 0
    punct: int = 0
    len_gt1_nonalpha: int = 0
    clean_one_nonalpha: int = 0
    clean_two_nonalpha: int = 0
    clean_3plus_nonalpha: int = 0
    clean_all_alpha: int = 0
    clean_short: int = 0
    single_letter: int = 0

    def add(self, other: "PageStats") -> None:
        for n in COUNTER_NAMES:
            setattr(self, n, getattr(self, n) + getattr(other, n))

    @property
    def ignored(self) -> int:
        """OCRPageStats.getIgnoredTokenCount — OCRPageStats.java:36-38."""
        return self.number_objects + self.punct + self.single_letter

    @property
    def correctable_score(self) -> float:
        """OCRPageStats.getCorrectableScore — OCRPageStats.java:120-130."""
        num = self.clean_all_alpha + self.clean_one_nonalpha + self.clean_two_nonalpha
        den = self.token_count - self.ignored - self.clean_short
        if den == 0:
            return -1.0  # 0/0 = NaN → -1 sentinel (num ⊆ den pool ⇒ den 0 ⇒ num 0)
        return float(num) / den

    @property
    def quality_score(self) -> float:
        """OCRPageStats.getQualityScore — OCRPageStats.java:132-136."""
        if self.token_count == 0:
            return -1.0
        num = self.clean_all_alpha + self.clean_one_nonalpha + self.clean_two_nonalpha
        return float(num) / self.token_count


@dataclass
class Token:
    text: str
    is_last_on_line: bool
    props: dict | None = None  # hOCR title properties (HOCRToken.java:20-29)


@dataclass
class ParsedPage:
    tokens: list[Token] = field(default_factory=list)
    page_id: str = ""
    ocr_engine: str = ""
    ocr_capabilities: list[str] = field(default_factory=list)
    error: str | None = None


# ---------------------------------------------------------------------------
# The scoring fold (OCRPage.calculateStatistics — OCRPage.java:24-138)
# ---------------------------------------------------------------------------

def final_tokens(tokens: list[Token]) -> list[str]:
    """Trim → EOL-hyphen join → drop empty → NFC.  OCRPage.java:38-49.

    Returns the non-empty joined token texts, NFC-normalized (frozen rebuild
    rule standing in for CANON_EQ; also defines the span-sequence output).
    """
    out: list[str] = []
    i = 0
    n = len(tokens)
    while i < n:
        tok = tokens[i]
        text = java_trim(tok.text)
        i += 1
        # OCRPage.java:43-46 — consume next token; never re-checked for chaining.
        if tok.is_last_on_line and text.endswith("-") and i < n:
            nxt = java_trim(tokens[i].text)
            i += 1
            text = text[:-1] + nxt
        if text == "":
            continue  # OCRPage.java:48-49
        out.append(unicodedata.normalize("NFC", text))
    return out


def classify_token(token_text: str) -> str:
    """One token → category name, first-match-wins (OCRPage.java:64-121).

    ``token_text`` is the trimmed/joined/NFC non-empty token.
    """
    # Matcher.matches() == fullmatch: the ENTIRE token must be consumed (a
    # trailing line terminator defeats it, unlike find() with ^$ anchors,
    # whose $ also matches before a final \n/ /…)
    if PUNCT_TOKEN.fullmatch(token_text):
        return "punct"
    if NUMBER_OBJECT.fullmatch(token_text):
        return "number_objects"
    if ONE_ALPHA.fullmatch(token_text):
        return "single_letter"
    norm = token_text.lower()  # OCRPage.java:53
    if REPEATED_4PLUS.search(norm):  # find() — OCRPage.java:82-86
        return "ge4_repeated"
    clean = clean_token(norm)  # OCRPage.java:54
    non_alpha = len(NON_ALPHA.findall(clean))  # OCRPage.java:89-92
    if non_alpha == len(clean):  # includes clean-to-empty ("!!" → "")
        return "len_gt1_nonalpha"
    if len(clean) < CLEAN_TOKEN_LEN_THRESHOLD:
        return "clean_short"
    if non_alpha == 0:
        return "clean_all_alpha"
    if non_alpha == 1:
        return "clean_one_nonalpha"
    if non_alpha == 2:
        return "clean_two_nonalpha"
    return "clean_3plus_nonalpha"


def calculate_statistics(tokens: list[Token]) -> PageStats:
    """OCRPage.calculateStatistics — OCRPage.java:24-138."""
    stats = PageStats()
    for text in final_tokens(tokens):
        stats.token_count += 1
        cat = classify_token(text)
        setattr(stats, cat, getattr(stats, cat) + 1)
    return stats


# ---------------------------------------------------------------------------
# TXT parser (TxtPage.java:37-61 + OpenNLP SimpleTokenizer 1.5.3)
# ---------------------------------------------------------------------------

def simple_tokenize(text: str) -> list[str]:
    """OpenNLP SimpleTokenizer.INSTANCE state machine (TxtPage.java:54).

    Maximal runs of letters form one token; maximal runs of digits (Nd) form
    one token; whitespace separates; 'other' chars run only while the SAME
    char repeats ('...' = 1 token, '?!' = 2 tokens).
    """
    tokens: list[str] = []
    state = "WS"
    start = -1
    prev = ""
    for i, c in enumerate(text):
        if _is_opennlp_whitespace(c):
            ctype = "WS"
        elif _is_letter(c):
            ctype = "ALPHA"
        elif _is_digit(c):
            ctype = "NUM"
        else:
            ctype = "OTHER"
        if state == "WS":
            if ctype != "WS":
                start = i
        else:
            if ctype != state or (ctype == "OTHER" and c != prev):
                tokens.append(text[start:i])
                start = i
        state = ctype
        prev = c
    if state != "WS":
        tokens.append(text[start:])
    return [t for t in tokens if t != ""]


def parse_txt(page_text: str) -> ParsedPage:
    """TxtPage.parse — TxtPage.java:37-61.

    Line filter/reflow (:41-47) → dehyphenation regex (:50-52) → SimpleTokenizer.
    TxtToken.isLastTokenOnLine is hardcoded false (TxtToken.java:19-21).
    """
    # BufferedReader.readLine splits ONLY on \n/\r/\r\n (TxtPage.java:41) —
    # NOT Python splitlines' \f/\x0B/\x1c-\x1e/NEL/U+2028/9
    lines = regex.split(r"\r\n|\r|\n", page_text)
    kept = [ln.strip(_JAVA_TRIM_CHARS) for ln in lines]
    text = "".join(ln + "\n" for ln in kept if ln != "")
    text = HYPHEN_WORD.sub(r"\1\2\n", text)
    toks = simple_tokenize(text)
    return ParsedPage(tokens=[Token(t, False) for t in toks])


# ---------------------------------------------------------------------------
# hOCR parser (HOCRPage.java:37-62 + HOCRTokenIterator.java:21-82)
# ---------------------------------------------------------------------------

def _text_content(elem: ET.Element) -> str:
    """DOM getTextContent(): concatenation of all descendant text."""
    return "".join(elem.itertext())


def parse_hocr(page_xml: str) -> ParsedPage:
    """HOCRPage.parse + token iteration.

    - metadata: /html/head/meta[@name='ocr-system'|'ocr-capabilities']/@content
      (HOCRPage.java:48-51; missing meta → "" → capabilities == [""]).
    - first element with class EXACTLY 'ocr_page' (HOCRPage.java:53-55);
      absent → parse error (NPE → PageParserException, :59-61).
    - lines = descendants with class exactly 'ocr_line'; words = descendants
      with class exactly 'ocrx_word' per line, document order; zero-word lines
      skipped (HOCRTokenIterator.java:60-82); is_last_on_line = the word's
      index in its line == line_token_count - 1 (:45).
    - every ocrx_word must carry a title whose ;-segments each contain a space
      (HOCRToken.java:22-29) — violation → StringIndexOutOfBounds → error here.
    """
    page = ParsedPage()
    try:
        root = ET.fromstring(page_xml)
    except ET.ParseError as e:
        page.error = f"PageParserException: {e}"
        return page

    engine = ""
    caps = ""
    head = root.find("head")
    if head is not None:
        for meta in head.iter("meta"):
            if meta.get("name") == "ocr-system":
                engine = meta.get("content", "")
            elif meta.get("name") == "ocr-capabilities":
                caps = meta.get("content", "")
    page.ocr_engine = engine
    page.ocr_capabilities = caps.split(" ")

    page_elem = None
    for elem in root.iter():
        if elem.get("class") == "ocr_page":
            page_elem = elem
            break
    if page_elem is None:
        page.error = "PageParserException: NullPointerException (no ocr_page)"
        return page
    page.page_id = page_elem.get("id", "")

    lines = [e for e in page_elem.iter() if e is not page_elem and e.get("class") == "ocr_line"]
    try:
        for line in lines:
            words = [e for e in line.iter() if e is not line and e.get("class") == "ocrx_word"]
            for wi, w in enumerate(words):
                title = w.get("title", "")
                # Java String.split(";") drops TRAILING empty segments (a
                # trailing ';' is legal) but keeps leading/interior ones, and
                # "".split(";") is [""] (HOCRToken.java:22-29)
                segs = title.split(";")
                if len(segs) > 1:
                    while segs and segs[-1] == "":
                        segs.pop()
                props: dict[str, str] = {}
                for prop in segs:
                    prop = prop.strip(_JAVA_TRIM_CHARS)  # prop.trim()
                    idx = prop.find(" ")
                    if idx < 0:
                        raise ValueError(f"StringIndexOutOfBounds: bad title segment {prop!r}")
                    props[prop[:idx]] = prop[idx + 1:]  # Properties.put, last wins
                page.tokens.append(Token(_text_content(w), wi == len(words) - 1, props))
    except ValueError as e:
        page.error = f"{e}"
        page.tokens = []
    return page


# ---------------------------------------------------------------------------
# Document-level oracle over the (doc_id, spans) table (frozen graft rules,
# FIXTURES.md §1-2): media spans pass through; each text-ish span parsed as an
# independent page; doc counters = sum over spans; scores from summed counters.
# ---------------------------------------------------------------------------

MEDIA_KINDS = ("image", "table", "figure")

# ---------------------------------------------------------------------------
# HTML boilerplate strip — independent implementation of the frozen rule in
# page_evaluator_spark/functions/html.py's docstring (blocks split on closing
# block tags / <br>; keep len(text) >= 25 and link density <= 0.33).
# ---------------------------------------------------------------------------

_H_BLOCK_TAGS = ("p|div|li|h1|h2|h3|h4|h5|h6|tr|td|section|article|header|"
                 "footer|blockquote|table|ul|ol")
_H_DROP = regex.compile(r"(?is)<script\b.*?</script\s*>|<style\b.*?</style\s*>|<!--.*?-->")
_H_SEP = regex.compile(rf"(?i)<br\s*/?>|</(?:{_H_BLOCK_TAGS})\s*>")
_H_ANCHOR = regex.compile(r"(?is)<a\b[^>]*>(.*?)</a\s*>")
_H_TAG = regex.compile(r"(?s)<[^>]*>")
_H_WS = regex.compile(r"[ \t\n\x0B\f\r]+")
_H_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"),
               ("&nbsp;", " "), ("&amp;", "&")]


def _h_text(fragment: str) -> str:
    s = _H_WS.sub(" ", _H_TAG.sub("", fragment)).strip()
    for ent, ch in _H_ENTITIES:
        s = s.replace(ent, ch)
    return s


def html_main_text(html: str) -> str:
    if not html:
        return ""
    kept = []
    for block in _H_SEP.split(_H_DROP.sub("", html)):
        text = _h_text(block)
        link = _h_text("".join(_H_ANCHOR.findall(block)))
        if len(text) >= 25 and len(link) <= 0.33 * len(text):
            kept.append(text)
    return "\n".join(kept) + "\n" if kept else ""


def parse_span(kind: str, text: str) -> ParsedPage:
    if kind == "hocr":
        return parse_hocr(text)
    if kind == "text":
        return parse_txt(text)
    if kind == "html":
        return parse_txt(html_main_text(text))
    raise ValueError(f"not a text-ish kind: {kind}")


def doc_expected(spans: list[dict]) -> dict:
    """Golden output for one document.

    spans: [{kind,text,media_ref,offset}] — returns dict with:
      spans_out: list of (ord, kind, text, media_ref),
      counters: PageStats, correctable_score, quality_score,
      quarantined: list of (span_offset, error).
    """
    stats = PageStats()
    spans_out: list[tuple] = []
    quarantined: list[tuple] = []
    ord_ = 0
    for sp in sorted(spans, key=lambda s: s["offset"]):
        kind = sp["kind"]
        if kind in MEDIA_KINDS:
            spans_out.append((ord_, kind, None, sp["media_ref"]))
            ord_ += 1
            continue
        parsed = parse_span(kind, sp["text"] or "")
        if parsed.error is not None:
            quarantined.append((sp["offset"], parsed.error))
            continue
        stats.add(calculate_statistics(parsed.tokens))
        for t in final_tokens(parsed.tokens):
            spans_out.append((ord_, "word", t, None))
            ord_ += 1
    return {
        "spans_out": spans_out,
        "counters": stats,
        "correctable_score": stats.correctable_score,
        "quality_score": stats.quality_score,
        "quarantined": quarantined,
    }
