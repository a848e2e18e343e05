"""HTML→text extraction + normalization, byte-identical per url.

The reference extracts per-page text via poppler and then normalizes it with
``cleanText`` (`/root/reference/pdf/pdf.go:226-243`) and
``isOnlyDotsOrNumbers`` (`/root/reference/pdf/pdf.go:245-254`). For the web
corpus the poppler step becomes a deterministic HTML→raw-text extractor (this
module is the defining implementation of that contract — the per-url
byte-identity invariant of BASELINE.json.input_hint is pinned by golden
sha256 tests over the fixture corpus), and ``clean_text`` reproduces the Go
normalization rune-for-rune:

- split on '\\n'; drop lines that are empty/whitespace-only or consist solely
  of '.' and Unicode-number runes after trimming (page-number/TOC filter)
- from kept lines keep only runes where Go ``unicode.IsLetter`` (category L*),
  ``IsNumber`` (category N* — Nd∪Nl∪No, so '½' is kept), or ``IsSpace``
  (the Unicode White_Space property — NOT Python ``str.isspace``, which also
  accepts U+001C..U+001F); every kept line is emitted with a trailing '\\n'

All heavy paths run as Arrow-batched pandas UDF bodies (no per-row Python at
the Spark API surface).
"""

from __future__ import annotations

import html as _htmlmod
import re
import sys
import unicodedata


# Go unicode.IsSpace == Unicode White_Space property: a fixed, stable set.
_GO_SPACE = frozenset(
    "\t\n\v\f\r   "
    "           "
    "    　"
)

_MAX_CP = sys.maxunicode + 1


def _build_keep_table() -> dict[int, str | None]:
    """codepoint→None (drop) for runes that are not L*/N*/White_Space.

    Built lazily/densely over the BMP+SMP via unicodedata categories; Go 1.22
    and CPython differ only in codepoints assigned between their Unicode
    versions, which the fixture generator deliberately avoids (SURVEY.md
    §7.8-1); golden tests pin the behavior.
    """
    drop: dict[int, str | None] = {}
    for cp in range(_MAX_CP):
        ch = chr(cp)
        if ch in _GO_SPACE:
            continue
        cat = unicodedata.category(ch)[0]
        if cat not in ("L", "N"):
            drop[cp] = None
    return drop


_DROP_TABLE: dict[int, str | None] | None = None


def _drop_table() -> dict[int, str | None]:
    global _DROP_TABLE
    if _DROP_TABLE is None:
        _DROP_TABLE = _build_keep_table()
    return _DROP_TABLE


def _is_only_dots_or_numbers(line: str) -> bool:
    """Go isOnlyDotsOrNumbers (pdf/pdf.go:245-254): TrimSpace, then every rune
    must be '.' or IsNumber; empty-after-trim returns true (line dropped)."""
    t = line.strip("".join(_GO_SPACE))
    for ch in t:
        if ch != "." and unicodedata.category(ch)[0] != "N":
            return False
    return True


def clean_text(text: str) -> str:
    """Reference cleanText (pdf/pdf.go:226-243), rune-exact."""
    out: list[str] = []
    table = _drop_table()
    for line in text.split("\n"):
        if _is_only_dots_or_numbers(line):
            continue
        out.append(line.translate(table))
        out.append("\n")
    return "".join(out)


# --- HTML → raw text (the web-corpus analog of poppler text extraction) ---

_RE_SCRIPT = re.compile(r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>")
_RE_COMMENT = re.compile(r"(?s)<!--.*?-->")
_BLOCK_TAGS = (
    "p|div|br|li|ul|ol|h1|h2|h3|h4|h5|h6|tr|table|title|head|body|html|"
    "section|article|header|footer|blockquote|pre|td|th"
)
_RE_BLOCK = re.compile(rf"(?i)</?(?:{_BLOCK_TAGS})\b[^>]*>")
_RE_TAG = re.compile(r"(?s)<[^>]*>")


def html_to_raw_text(data: bytes | str) -> str:
    """Deterministic HTML→text: UTF-8 decode (errors→U+FFFD, which clean_text
    then drops), strip script/style/comments, block-level tags → newline,
    inline tags → removed, entities decoded."""
    if isinstance(data, (bytes, bytearray)):
        s = bytes(data).decode("utf-8", errors="replace")
    else:
        s = data if data is not None else ""
    s = _RE_COMMENT.sub("", s)
    s = _RE_SCRIPT.sub("", s)
    s = _RE_BLOCK.sub("\n", s)
    s = _RE_TAG.sub("", s)
    s = _htmlmod.unescape(s)
    return s


def extract_text(data: bytes | str) -> str:
    """Full extractor: html → raw text → clean_text. THE per-url byte-identity
    contract (input_hint)."""
    return clean_text(html_to_raw_text(data))

