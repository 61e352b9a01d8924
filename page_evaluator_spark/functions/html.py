"""HTML main-content extraction (boilerplate strip) — north_rule surface:
"main-content extraction pipeline (HTML boilerplate strip, ... DOM heuristics)".

Frozen rule (ours; the OCR reference is silent on HTML — this extends the
engine to the web-document case with readability-style density heuristics):

  1. remove <script>…</script>, <style>…</style>, <!-- comments -->
     (case-insensitive, non-greedy, dot-matches-newline);
  2. treat <br> and closing block tags (p div li h1-h6 tr td section article
     header footer blockquote table ul ol) as block separators;
  3. per block: link_text = concatenated inner text of <a …>…</a>;
     text = block with ALL remaining tags stripped, basic entities unescaped
     (&amp; &lt; &gt; &quot; &#39; &nbsp;), whitespace collapsed, trimmed;
  4. keep a block iff len(text) >= MIN_BLOCK_CHARS and
     len(link_text_stripped)/len(text) <= MAX_LINK_DENSITY
     (long, link-light blocks = main content; nav/footers are link-dense);
  5. output = kept blocks joined with '\\n' (+ trailing '\\n' when non-empty).

``extract_main_text`` implements the rule in pure Python inside the Arrow
parse kernel (span kind 'html' → main text → TXT tokenizer path);
``block_diagnostics_expr`` exposes the per-block evidence as a native
Catalyst expression (split → transform), fully codegen'd.
"""

from __future__ import annotations

import regex
from pyspark.sql import Column
from pyspark.sql import functions as F

MIN_BLOCK_CHARS = 25
MAX_LINK_DENSITY = 0.33

_BLOCK_TAGS = ("p|div|li|h1|h2|h3|h4|h5|h6|tr|td|section|article|header|"
               "footer|blockquote|table|ul|ol")

# shared Java/PCRE-compatible patterns (no backrefs → valid in both engines)
RE_DROP = r"(?is)<script\b.*?</script\s*>|<style\b.*?</style\s*>|<!--.*?-->"
RE_BLOCK_SEP = rf"(?i)<br\s*/?>|</(?:{_BLOCK_TAGS})\s*>"
RE_ANCHOR = r"(?is)<a\b[^>]*>(.*?)</a\s*>"
RE_TAG = r"(?s)<[^>]*>"

_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"),
             ("&nbsp;", " "), ("&amp;", "&")]  # &amp; last — single pass, frozen order

_p_drop = regex.compile(RE_DROP)
_p_sep = regex.compile(RE_BLOCK_SEP)
_p_anchor = regex.compile(RE_ANCHOR)
_p_tag = regex.compile(RE_TAG)
# ASCII whitespace class — matches Java \s (the native twin runs Java regex)
_p_ws = regex.compile(r"[ \t\n\x0B\f\r]+")


def _clean_block_py(block: str) -> tuple[str, str]:
    link_inner = "".join(_p_anchor.findall(block))
    link_text = _p_ws.sub(" ", _p_tag.sub("", link_inner)).strip()
    text = _p_ws.sub(" ", _p_tag.sub("", block)).strip()
    for ent, ch in _ENTITIES:
        text = text.replace(ent, ch)
        link_text = link_text.replace(ent, ch)
    return text, link_text


def extract_main_text(html: str) -> str:
    """Pure-Python implementation of the frozen rule (kernel path)."""
    if not html:
        return ""
    body = _p_drop.sub("", html)
    kept = []
    for block in _p_sep.split(body):
        text, link_text = _clean_block_py(block)
        if len(text) >= MIN_BLOCK_CHARS and len(link_text) <= MAX_LINK_DENSITY * len(text):
            kept.append(text)
    return "\n".join(kept) + "\n" if kept else ""


def _unescape_expr(c: Column) -> Column:
    for ent, ch in _ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return c


def _clean_expr(b: Column) -> Column:
    return _unescape_expr(F.trim(F.regexp_replace(
        F.regexp_replace(b, RE_TAG, ""), r"\s+", " ")))


def block_diagnostics_expr(html: Column) -> Column:
    """Per-block audit view of the frozen keep rule: an array (document
    order) of structs (text_len, link_len) for every DOM block the rule
    sees — the readability-style density evidence behind each keep/drop
    decision, exposed so extraction behavior is inspectable instead of a
    yes/no.  Fully codegen'd."""
    body = F.regexp_replace(html, RE_DROP, "")
    blocks = F.split(body, RE_BLOCK_SEP)
    return F.transform(blocks, lambda b: F.struct(
        F.length(_clean_expr(b)).alias("text_len"),
        F.length(_clean_expr(F.array_join(
            F.regexp_extract_all(b, F.lit(RE_ANCHOR), 1), ""))).alias("link_len")))


