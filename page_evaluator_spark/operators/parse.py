"""Parse/extract stage: interleaved-span documents → token/media/meta/error rows.

The ONLY Python boundary in the pipeline (Arrow-batched ``mapInArrow``; no
per-row Python UDFs, per BASELINE.json input_hint).  Everything downstream
(classification, aggregation, scoring) is native Catalyst.

Output shape: ONE row per span.  A span's final tokens cross the boundary as
one Arrow ``list<string>``; 'page', 'error', 'empty' and media spans are
marker rows.  ``parse_spans`` turns them into the token-grained parsed
relation with a native ``posexplode_outer``: per-token rows would repeat
doc_id/kind/offset for every word through the boundary (~3x the bytes).
The kernel has two shapes: the span rows (SPAN_COLUMNS, all that scoring,
spans_out and quarantine read) and those plus the hOCR page metadata and
per-token title props (META_COLUMNS), which only page_meta/token_props read.
Output arrays are built from buffers (``pa.Array.from_buffers``): ``pa.array``
would import pandas and ``pyarrow.compute`` into every Python worker.

Skew design: the unit of work is a *span* (one page), not a document —
``explode_docs`` posexplodes the spans array natively, and a repartition
spreads a pathological document's 10^6 spans across the cluster
(SURVEY.md §4.2 "skew: giant pages/docs").  Hyphen-join state is span-local
(a span == one reference page), so per-span parallelism loses nothing.

Semantics transliterated from the read-only reference (citations inline):
  hOCR:  HOCRPage.java:37-62, HOCRTokenIterator.java:21-82, HOCRToken.java:20-42
  TXT:   TxtPage.java:37-61 + OpenNLP SimpleTokenizer 1.5.3
  fold:  OCRPage.java:38-49 (trim → EOL-hyphen join → drop empty)
Deviation (required at 10^12-doc scale): parse failures, unknown kinds and
spans with a null kind or offset become quarantine rows instead of the
reference's process-kill (Main.java:46-49) — SURVEY.md §2 S5.
"""

from __future__ import annotations

import unicodedata
import xml.etree.ElementTree as ET
from array import array
from collections.abc import Iterator
from itertools import accumulate

import pyarrow as pa
import regex
from pyspark.sql import DataFrame

MEDIA_KINDS = ("image", "table", "figure")

# The parsed relation.  kind: 'word' (a final token), media pass-through
# ('image'/'table'/'figure'), 'page' (per-parsed-span metadata), 'error'
# (quarantine), 'empty' (a doc or TXT span with no tokens).  pos = 0-based
# emit position within the span (words) / the span itself (media) —
# (span_offset, pos) is the total order that defines spans_out.
SPAN_COLUMNS = ("doc_id", "span_offset", "pos", "kind", "text", "media_ref", "error")
# carried hOCR metadata, never scored: the 'page' row's page_id / ocr_engine /
# ocr_capabilities, and a word's title properties (HOCRToken.java:20-38:
# split on ';', trailing empties dropped, each segment Java-trimmed then
# split at its FIRST space); props is null for TXT tokens.
META_COLUMNS = ("page_id", "ocr_engine", "ocr_capabilities", "props")

# --- TXT path (TxtPage.java:24,41-54) --------------------------------------
# Java \s / \S here are ASCII-only (no UNICODE_CHARACTER_CLASS).
_NWS = r"[^ \t\n\x0B\f\r]"
_WS = r"[ \t\n\x0B\f\r]"
_HYPHEN_WORD = regex.compile("(" + _NWS + r"*\p{L})-\n(\p{L}" + _NWS + r"*)" + _WS + "*")
# OpenNLP SimpleTokenizer as one scan: letter runs | digit runs (Nd) |
# same-char runs of other.  Whitespace = Character.isWhitespace ∪ Zs.
_TOKEN = regex.compile(r"\p{L}+|\p{Nd}+|([^\p{L}\p{Nd}\p{Zs}\p{Zl}\p{Zp}\t-\r\x1c-\x1f])\1*")
_JAVA_TRIM = "".join(chr(i) for i in range(0x21))
# BufferedReader.readLine (TxtPage.java:41) splits ONLY on \n, \r, \r\n —
# never on \f/\x0B/\x1c-\x1e/NEL/U+2028/9 the way Python str.splitlines does.
_LINE_SPLIT = regex.compile(r"\r\n|\r|\n")


def _tokenize_txt(text: str) -> list[str]:
    """TxtPage.parse: reflow (:41-47) → dehyphenate (:50-52) → tokenize (:54)."""
    if "\n" not in text and "\r" not in text:
        # single-line fast path (readLine yields one line): trim; if empty the
        # reflow emits nothing; no '-\n' can exist so dehyphenation is a no-op
        ln = text.strip(_JAVA_TRIM)
        if not ln:
            return []
        return [m.group(0) for m in _TOKEN.finditer(ln + "\n")]
    kept = [ln.strip(_JAVA_TRIM) for ln in _LINE_SPLIT.split(text)]
    body = "".join(ln + "\n" for ln in kept if ln)
    body = _HYPHEN_WORD.sub(r"\1\2\n", body)
    return [m.group(0) for m in _TOKEN.finditer(body)]


# --- hOCR path (HOCRPage.java, HOCRTokenIterator.java) ----------------------

def _title_props(title: str) -> dict[str, str]:
    """hOCR ``title`` → property dict (HOCRToken.java:20-29, exact Java split).

    Java ``String.split(";")`` drops TRAILING empty segments (so a trailing
    ';' is fine) but keeps leading/interior ones, and ``"".split(";")`` is
    ``[""]`` — both reproduced here.  Each kept segment is Java-trimmed and
    split at its first space; a space-less segment (including an empty one)
    crashes the reference (StringIndexOutOfBounds) → ValueError here.
    """
    segs = title.split(";")
    if len(segs) > 1:  # Java: trailing-empty removal never applies to [""]
        while segs and segs[-1] == "":
            segs.pop()
    props: dict[str, str] = {}
    for seg in segs:
        seg = seg.strip(_JAVA_TRIM)  # prop.trim(), HOCRToken.java:24
        idx = seg.find(" ")  # prop.indexOf(" "), HOCRToken.java:25
        if idx < 0:
            raise ValueError(f"bad hOCR title segment: {seg!r}")
        props[seg[:idx]] = seg[idx + 1:]  # Properties.put — last wins per key
    return props


def _parse_hocr(
    xml_text: str,
) -> tuple[list[str], list[bool], list[dict[str, str]], str, str, list[str]]:
    """→ (token_texts, is_last_on_line flags, per-token title props, page_id,
    engine, capabilities).

    Raises ValueError on anything the reference turns into PageParserException
    or a crash (missing ocr_page → NPE, HOCRPage.java:53-61; malformed title
    segment → StringIndexOutOfBounds, HOCRToken.java:22-29).
    """
    try:
        root = ET.fromstring(xml_text)
    except ET.ParseError as e:
        raise ValueError(f"PageParserException: {e}") from e

    engine, caps = "", ""
    head = root.find("head")
    if head is not None:  # /html/head/meta[@name=...]/@content, HOCRPage.java:48-51
        for meta in head.iter("meta"):
            name = meta.get("name")
            if name == "ocr-system":
                engine = meta.get("content", "")
            elif name == "ocr-capabilities":
                caps = meta.get("content", "")

    page = next((e for e in root.iter() if e.get("class") == "ocr_page"), None)
    if page is None:  # first //*[@class='ocr_page'] only, HOCRPage.java:53-55
        raise ValueError("PageParserException: no ocr_page element")
    page_id = page.get("id", "")

    texts: list[str] = []
    last: list[bool] = []
    props: list[dict[str, str]] = []
    for line in (e for e in page.iter() if e is not page and e.get("class") == "ocr_line"):
        words = [e for e in line.iter() if e is not line and e.get("class") == "ocrx_word"]
        n = len(words)  # zero-word lines skipped, HOCRTokenIterator.java:60-82
        for i, w in enumerate(words):
            props.append(_title_props(w.get("title", "")))  # HOCRToken.java:20-29
            texts.append("".join(w.itertext()))  # getTextContent, HOCRToken.java:40-42
            last.append(i == n - 1)  # HOCRTokenIterator.java:45
    return texts, last, props, page_id, engine, caps.split(" ")


# --- hyphen fold with provenance (OCRPage.java:38-49) -------------------------

def _fold_tokens(texts: list[str], is_last: list[bool]) -> tuple[list[str], list[int]]:
    """Trim → EOL-hyphen join → drop empties → NFC, plus the ORIGINAL index
    of each surviving (first) token.

    Sequential semantics: a candidate (is_last ∧ endswith('-') ∧ hasNext)
    consumes the NEXT token; the consumed token never joins on its own and
    the joined result is not re-checked (no chains).

    Returns parallel lists (token_texts, src_idxs); callers index the
    per-source-token hOCR title props by src_idxs.  Fast path for spans
    with no join candidates (all TXT spans, most hOCR spans).
    """
    n = len(texts)
    if n == 0:
        return [], []
    t = [s.strip(_JAVA_TRIM) for s in texts]
    _nfc = unicodedata.normalize
    # NFC of pure-ASCII text is the identity; str.isascii is a cheap C check
    # that skips the normalize call for the common case
    if not any(last and s.endswith("-") for s, last in zip(t, is_last)):
        out_t, out_i = [], []
        for i, s in enumerate(t):
            if s:
                out_t.append(s if s.isascii() else _nfc("NFC", s))
                out_i.append(i)
        return out_t, out_i
    out_t, out_i = [], []
    i = 0
    while i < n:
        s = t[i]
        src = i
        if is_last[i] and s.endswith("-") and i + 1 < n:
            s = s[:-1] + t[i + 1]
            i += 2
        else:
            i += 1
        if s:
            out_t.append(s if s.isascii() else _nfc("NFC", s))
            out_i.append(src)
    return out_t, out_i


# --- span-row output, built straight from buffers ----------------------------
# pa.array() imports pandas and pyarrow.compute on its first call (~40 MB of a
# Python worker's peak RSS for a batch of a few MB), so every output array is
# assembled from array.array buffers with pa.Array.from_buffers instead.

_MAP = pa.map_(pa.string(), pa.string())
_MAP_ENTRIES = pa.struct([_MAP.key_field, _MAP.item_field])


def _validity(values: list) -> tuple[pa.Buffer | None, int]:
    """Validity bitmap of `values` (None is null) and its null count; no
    bitmap when nothing is null."""
    n_null = values.count(None)
    if not n_null:
        return None, 0
    bits = bytearray((len(values) + 7) >> 3)
    for i, v in enumerate(values):
        if v is not None:
            bits[i >> 3] |= 1 << (i & 7)
    return pa.py_buffer(bits), n_null


def _offsets(lengths) -> pa.Buffer:
    return pa.py_buffer(array("i", accumulate(lengths, initial=0)))


def _string_array(values: list[str | None]) -> pa.Array:
    validity, n_null = _validity(values)
    if n_null:
        values = ["" if v is None else v for v in values]
    joined = "".join(values)
    data = joined.encode()
    if len(data) == len(joined):  # all ASCII: byte lengths are char lengths
        lengths = map(len, values)
    else:
        lengths = [len(v) if v.isascii() else len(v.encode()) for v in values]
    return pa.Array.from_buffers(
        pa.string(), len(values), [validity, _offsets(lengths), pa.py_buffer(data)],
        null_count=n_null)


def _int32_array(values: list[int | None]) -> pa.Array:
    validity, n_null = _validity(values)
    if n_null:
        values = [0 if v is None else v for v in values]
    return pa.Array.from_buffers(
        pa.int32(), len(values), [validity, pa.py_buffer(array("i", values))],
        null_count=n_null)


def _list_array(lengths: list[int | None], child: pa.Array,
                type: pa.DataType | None = None) -> pa.Array:
    """list<child.type> (or the list-shaped `type`, e.g. a map) whose i-th
    value holds the next lengths[i] child values; a None length is null."""
    validity, n_null = _validity(lengths)
    return pa.Array.from_buffers(
        type or pa.list_(child.type), len(lengths),
        [validity, _offsets(n or 0 for n in lengths)], null_count=n_null,
        children=[child])


def _string_list_array(lists: list[list[str] | None]) -> pa.Array:
    return _list_array([None if v is None else len(v) for v in lists],
                       _string_array([s for v in lists if v for s in v]))


def _map_array(dicts: list[dict[str, str] | None]) -> pa.Array:
    keys = [k for d in dicts if d for k in d]
    entries = pa.Array.from_buffers(
        _MAP_ENTRIES, len(keys), [None],
        children=[_string_array(keys),
                  _string_array([v for d in dicts if d for v in d.values()])])
    return _list_array([None if d is None else len(d) for d in dicts], entries, _MAP)


# The kernel's output: one row per span.  A word row carries its span's final
# tokens as `tokens` (and, in the meta shape, their title props as a parallel
# `props` list); its `pos` is null.  Marker rows ('page', 'error', 'empty',
# media) have no lists.
_SPAN_SCHEMA = ("doc_id string, span_offset int, pos int, kind string, "
                "tokens array<string>, media_ref string, error string")
_META_SCHEMA = (", page_id string, ocr_engine string, "
                "ocr_capabilities array<string>, props array<map<string,string>>")


class _SpanRows:
    """One output batch: the span rows plus the flat per-token values their
    lists slice."""

    __slots__ = ("rows", "tokens", "props")

    def __init__(self) -> None:
        self.rows: list[tuple] = []
        self.tokens: list[str] = []
        self.props: list[dict[str, str]] = []

    def marker(self, doc_id, span_offset, pos, kind, media_ref=None,
               page_id=None, engine=None, caps=None, error=None) -> None:
        self.rows.append((doc_id, span_offset, pos, kind, media_ref, error,
                          page_id, engine, caps, None, None))

    def words(self, doc_id, span_offset: int, toks: list[str],
              props: list[dict] | None) -> None:
        """The row of a span's k > 0 final tokens (props None: the span
        shape, or a TXT span)."""
        k = len(toks)
        self.rows.append((doc_id, span_offset, None, "word", None, None, None,
                          None, None, k, None if props is None else k))
        self.tokens += toks
        self.props += props or ()

    def batch(self, meta: bool) -> pa.RecordBatch:
        (doc_id, span_offset, pos, kind, media_ref, error, page_id, engine,
         caps, n_tokens, n_props) = zip(*self.rows) if self.rows else [()] * 11
        arrays = [_string_array(doc_id), _int32_array(span_offset),
                  _int32_array(pos), _string_array(kind),
                  _list_array(n_tokens, _string_array(self.tokens)),
                  _string_array(media_ref), _string_array(error)]
        names = ["doc_id", "span_offset", "pos", "kind", "tokens", "media_ref", "error"]
        if meta:
            arrays += [_string_array(page_id), _string_array(engine),
                       _string_list_array(caps),
                       _list_array(n_props, _map_array(self.props))]
            names += META_COLUMNS
        return pa.RecordBatch.from_arrays(arrays, names=names)


def _make_parse_kernel(meta: bool):
    """mapInArrow kernel factory over exploded span rows
    (doc_id, span_offset, kind, text, media_ref), emitting the span rows
    (_SPAN_SCHEMA), plus the hOCR metadata and title props when `meta`.

    Parsing work is IDENTICAL for both shapes (the span shape still parses
    each hOCR title so error rows match); only the metadata columns are
    skipped.
    """

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            out = _SpanRows()
            for doc_id, span_offset, kind, text, media_ref in zip(
                    rb.column("doc_id").to_pylist(),
                    rb.column("span_offset").to_pylist(),
                    rb.column("kind").to_pylist(),
                    rb.column("text").to_pylist(),
                    rb.column("media_ref").to_pylist()):
                if kind is None or span_offset is None:
                    if all(v is None for v in (kind, span_offset, text, media_ref)):
                        # explode_outer's row for a zero-span / null-spans doc
                        out.marker(doc_id, 0, 0, "empty")
                    else:  # a malformed span goes to quarantine, never dropped
                        field = "kind" if kind is None else "offset"
                        out.marker(doc_id, span_offset, -1, "error",
                                   error=f"InvalidSpan: null {field}")
                    continue
                if kind in MEDIA_KINDS:
                    out.marker(doc_id, span_offset, 0, kind, media_ref=media_ref)
                    continue
                try:
                    if kind == "hocr":
                        texts, last, tprops, page_id, engine, caps = _parse_hocr(text or "")
                        out.marker(doc_id, span_offset, -1, "page", page_id=page_id,
                                   engine=engine, caps=caps)
                        folded_t, src = _fold_tokens(texts, last)
                        out_props = [tprops[i] for i in src] if meta else None
                    elif kind in ("text", "html"):
                        if kind == "html":
                            # boilerplate strip first (functions/html.py frozen
                            # rule), then the TXT tokenizer path
                            from ..functions.html import extract_main_text

                            text = extract_main_text(text or "")
                        tok_texts = _tokenize_txt(text or "")
                        # TxtToken.isLastTokenOnLine() == false always (TxtToken.java:19-21)
                        folded_t, _ = _fold_tokens(tok_texts, [False] * len(tok_texts))
                        out_props = None
                    else:
                        raise ValueError(f"Unsupported format: {kind}")  # Main.java:87-88
                except ValueError as e:
                    out.marker(doc_id, span_offset, -1, "error", error=str(e))
                    continue
                if folded_t:
                    out.words(doc_id, span_offset, folded_t, out_props)
                elif kind in ("text", "html"):
                    # token-less TXT span: keep the doc_id alive in the parsed
                    # relation (hOCR spans already emit a 'page' metadata row)
                    out.marker(doc_id, span_offset, -1, "empty")
            yield out.batch(meta)

    return kernel


def explode_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, spans) → one row per span, natively (skew-splitting explode).

    SQL text, not Column objects, for the same reason as parse_spans: each
    Column call is a py4j round trip paid per plan build."""
    return (docs.selectExpr("doc_id", "explode_outer(spans) AS span")
            .selectExpr("doc_id", "span.offset AS span_offset", "span.kind AS kind",
                        "span.text AS text", "span.media_ref AS media_ref"))
    # explode_outer keeps zero-span docs as a null-span row; the parse kernel
    # turns those into kind='empty' markers so every doc_id survives into the
    # parsed relation (and therefore gets a score row) without any extra join.


def parse_spans(span_rows: DataFrame, repartition: int | None = None,
                columns: tuple[str, ...] = SPAN_COLUMNS) -> DataFrame:
    """Span rows → the parsed relation's `columns` via Arrow-native mapInArrow.

    The kernel emits one row per span; a native posexplode_outer of its
    token lists yields the word rows (pos = the token's index in its span).
    `columns` is a plain projection of SPAN_COLUMNS + META_COLUMNS; the
    kernel ships the metadata (the per-token props maps are most of the
    bytes) only when one of META_COLUMNS is asked for.
    """
    unknown = set(columns) - set(SPAN_COLUMNS + META_COLUMNS)
    if unknown:
        raise ValueError(f"unknown parsed columns: {sorted(unknown)}")
    meta = not set(columns).isdisjoint(META_COLUMNS)
    if repartition:
        # hash-spread spans (incl. a giant doc's spans) across the cluster
        span_rows = span_rows.repartition(repartition, "doc_id", "span_offset")
    spans = span_rows.mapInArrow(_make_parse_kernel(meta),
                                 schema=_SPAN_SCHEMA + (_META_SCHEMA if meta else ""))
    # marker rows have null lists: the outer explode keeps them as one row
    # with a null index and token.  SQL text, not Column objects: each Column
    # call is a py4j round trip, paid per plan (per part in IncrementalRunner)
    per_row = {"pos": "coalesce(_i, pos)", "text": "_w", "props": "props[_i]"}
    return (spans.selectExpr("*", "posexplode_outer(tokens) AS (_i, _w)")
            .selectExpr(*(f"{per_row.get(c, c)} AS {c}" for c in columns)))


def parse_documents(docs: DataFrame, repartition: int | None = None,
                    columns: tuple[str, ...] = SPAN_COLUMNS) -> DataFrame:
    """(doc_id, spans) documents table → parsed relation."""
    return parse_spans(explode_docs(docs), repartition=repartition,
                       columns=columns)
