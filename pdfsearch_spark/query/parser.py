"""FTS5 MATCH-grammar parser (the query language the reference passes through
raw at /root/reference/routes/routes.go:78 → database/database.go:184).

A transcription of SQLite's own rules: the tokenizer ``fts5ExprGetToken``
(``ext/fts5/fts5_expr.c``) and the grammar ``ext/fts5/fts5parse.y`` in the
public SQLite source. The FTS5 oracle (oracle.py) is the acceptance check;
tests/test_fuzz_queries.py compares verdicts token sequence by sequence.

Lexer:

- whitespace is only space, tab, LF and CR; input ends at the first NUL
- a bareword is a run of ASCII letters and digits, ``_``, 0x1A and any
  non-ASCII character (so NBSP, ``²`` and ``٣`` are word characters)
- ``"…"`` is a string in which ``""`` is a literal quote; an unterminated
  string is an error
- ``( ) { } : , + * - ^`` are punctuation; every other ASCII character is a
  syntax error
- only the barewords ``AND``, ``OR`` and ``NOT`` are keywords

Grammar (one reader method per rule; STRING is a bareword or a string):

- ``expr := and_not (OR and_not)*``
- ``and_not := unit ((AND|NOT) unit)*`` — one left-associative tier. FTS5
  binds NOT tighter than AND; both give the same match sets.
- ``unit := [colset ':'] '(' expr ')'`` — a group, never juxtaposed — or a
  run of ``[colset ':'] nearset``, an implicit AND
- ``colset := ['-'] (STRING | '{' STRING+ '}')`` — names compare
  case-insensitively and may be quoted. A set that keeps ``text`` is a
  no-op; one that drops it (only the UNINDEXED columns left) makes every
  phrase below it match nothing.
- ``nearset := 'NEAR' '(' phrase+ [',' digits] ')' | ['^'] phrase`` —
  ``NEAR`` is a keyword only before ``(``; the distance defaults to 10 and
  wraps as a 32-bit signed int (a negative one matches nothing)
- ``phrase := STRING ['*'] ('+' STRING ['*'])*`` — each STRING goes through
  the analyzer; a ``*`` sets, and its absence clears, the prefix flag of the
  phrase's last token so far. A phrase without tokens matches nothing.

A whole query that starts with ``*`` is an FTS5 special query: ``*reads``
and ``*id`` join no ``files`` row under the reference SQL, anything else is
an error. One construct FTS5 accepts is unsupported: a prefix on a
non-final phrase term (``alpha* + beta``), since a Phrase carries one prefix
flag, on its last term.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


class QuerySyntaxError(ValueError):
    """Mirrors FTS5 'fts5: syntax error' / 'no such column' (reference → 400)."""


# Sentinel for an empty quoted phrase ('""'): a valid FTS5 phrase that
# matches nothing. U+E000 is private-use (never a unicode61 token char), so
# it can never appear in the index.
NOMATCH_TERM = "\ue000"


@dataclass
class Phrase:
    """A scoring unit: one or more adjacent terms (already analyzer-stemmed).

    prefix=True only valid on the last term. anchored=True → first instance
    must start at token position 0.
    """

    terms: list[str]
    prefix: bool = False
    anchored: bool = False
    # column restriction: None = default (text); "unindexed" = matches nothing
    col: str | None = None
    index: int = -1  # position in the query's phrase list (scoring order)


@dataclass
class Node:
    op: str  # AND | OR | NOT | NEAR | PHRASE
    children: list["Node"] = field(default_factory=list)
    phrase: Phrase | None = None
    near_n: int = 10


# one token per match: punctuation | STRING | any other non-blank character
_TOKEN_RE = re.compile(
    r'[ \t\n\r]*(?:([(){}:,+*^-])'
    r'|("[^"]*(?:""[^"]*)*"|[0-9A-Za-z_\x1a\x80-\U0010ffff]+)'
    r"|([^ \t\n\r]))"
)
_KEYWORDS = {"AND": "AND", "OR": "OR", "NOT": "NOT"}
_COLUMNS = ("file_id", "page_num", "text")
_NEARSET_START = ("w", "-", "{", "^")  # token kinds that open a [colset:] nearset


def _dequote(s: str) -> str:
    return s[1:-1].replace('""', '"') if s[0] == '"' else s


def _syntax_error(text: str) -> QuerySyntaxError:
    return QuerySyntaxError(f'fts5: syntax error near "{text}"')


class _Reader:
    """Lexes the whole query, then reads it with one method per grammar
    rule (see the module docstring); ``phrases`` collects every phrase in
    query order."""

    def __init__(self, q: str, analyzer) -> None:
        kinds, texts = [], []
        for punct, string, bad in _TOKEN_RE.findall(q.split("\x00", 1)[0]):
            if bad:
                raise (QuerySyntaxError("fts5: unterminated string")
                       if bad == '"' else _syntax_error(bad))
            kinds.append(punct or _KEYWORDS.get(string, "w"))
            texts.append(punct or string)
        self.kinds = kinds + ["", ""]  # end of input, twice for peek(1)
        self.texts = texts + ["", ""]
        self.i = 0
        self.analyzer = analyzer  # str -> list[str] (fold+stem)
        self.phrases: list[Phrase] = []

    def peek(self, ahead: int = 0) -> str:
        return self.kinds[self.i + ahead]

    def take(self, kind: str) -> str:
        if self.kinds[self.i] != kind:
            raise _syntax_error(self.texts[self.i])
        self.i += 1
        return self.texts[self.i - 1]

    def expr(self) -> Node:
        node = self.and_not()
        while self.peek() == "OR":
            self.i += 1
            node = Node("OR", [node, self.and_not()])
        return node

    def and_not(self) -> Node:
        node = self.unit()
        while self.peek() in ("AND", "NOT"):
            op = self.take(self.peek())
            node = Node(op, [node, self.unit()])
        return node

    def unit(self) -> Node:
        node, grouped = self.scoped(group_ok=True)
        while not grouped and self.peek() in _NEARSET_START:
            node = Node("AND", [node, self.scoped(group_ok=False)[0]])
        return node

    def scoped(self, group_ok: bool) -> tuple[Node, bool]:
        """``[colset ':'] nearset``, or ``[colset ':'] '(' expr ')'`` when
        group_ok; returns (node, whether it was a group)."""
        start = len(self.phrases)
        drops_text = self.colset()
        grouped = group_ok and self.peek() == "("
        if grouped:
            self.i += 1
            node = self.expr()
            self.take(")")
        else:
            node = self.nearset()
        if drops_text:
            # colsets intersect: an outer set without 'text' wins over any
            # inner one ('file_id:(text:alpha)' matches nothing)
            for ph in self.phrases[start:]:
                ph.col = "unindexed"
        return node, grouped

    def colset(self) -> bool:
        """Consume ``[colset ':']`` if present; True iff it leaves out
        ``text``."""
        kind = self.peek()
        if kind not in ("-", "{") and not (kind == "w" and self.peek(1) == ":"):
            return False
        negated = kind == "-"
        self.i += negated
        if self.peek() == "{":
            self.i += 1
            names = [self.take("w")]
            while self.peek() != "}":
                names.append(self.take("w"))
            self.i += 1
        else:
            names = [self.take("w")]
        self.take(":")
        keeps_text = False
        for name in map(_dequote, names):
            if name.lower() not in _COLUMNS:
                raise QuerySyntaxError(f"no such column: {name}")
            keeps_text |= name.lower() == "text"
        return keeps_text == negated

    def nearset(self) -> Node:
        if self.peek() == "w" and self.peek(1) == "(":
            if self.texts[self.i] != "NEAR":
                raise _syntax_error(self.texts[self.i])
            self.i += 2
            children = [self.phrase()]
            while self.peek() == "w":
                children.append(self.phrase())
            near_n = 10
            if self.peek() == ",":
                self.i += 1
                dist = self.take("w")
                if not (dist.isascii() and dist.isdigit()):
                    raise QuerySyntaxError(f'expected integer, got "{dist}"')
                # accumulated in a C int, as FTS5 does: it wraps at 2**32
                near_n = (int(dist) + 2**31) % 2**32 - 2**31
            self.take(")")
            return Node("NEAR", children, near_n=near_n)
        anchored = self.peek() == "^"
        self.i += anchored
        return self.phrase(anchored)

    def phrase(self, anchored: bool = False) -> Node:
        terms: list[str] = []
        prefixed: set[int] = set()  # indices of terms carrying a '*'
        while True:
            terms += self.analyzer(_dequote(self.take("w")))
            star = self.peek() == "*"
            self.i += star
            if terms:
                # prefix tokens are analyzed exactly like regular tokens
                # (folded + porter-stemmed), then string-prefix-matched —
                # probe: 'running*' == 'run*' (scripts/dev_probe_fts5.py)
                (prefixed.add if star else prefixed.discard)(len(terms) - 1)
            if self.peek() != "+":
                break
            self.i += 1
        if prefixed - {len(terms) - 1}:
            raise QuerySyntaxError(
                "unsupported: prefix '*' on a non-final phrase term"
            )
        ph = Phrase(terms or [NOMATCH_TERM], prefix=bool(prefixed),
                    anchored=anchored, index=len(self.phrases))
        self.phrases.append(ph)
        return Node("PHRASE", phrase=ph)


def _is_empty_phrase(node: Node) -> bool:
    return node.op == "PHRASE" and node.phrase.terms == [NOMATCH_TERM]


def _prune_empty(node: Node) -> Node | None:
    """Drop empty phrases ('""') — probe-verified: they are no-ops wherever
    they appear (AND/OR/NOT rhs/NEAR member); a query REDUCING to only empty
    phrases matches nothing ('"" NOT renal' → 0 rows)."""
    if node.op == "PHRASE":
        return None if _is_empty_phrase(node) else node
    if node.op == "NEAR":
        kept = [c for c in node.children if not _is_empty_phrase(c)]
        if not kept:
            return None
        if len(kept) == 1:
            return kept[0]
        node.children = kept
        return node
    a = _prune_empty(node.children[0])
    b = _prune_empty(node.children[1])
    if node.op in ("AND", "OR"):
        if a is None:
            return b
        if b is None:
            return a
    else:  # NOT
        if a is None:
            return None
        if b is None:
            return a
    node.children = [a, b]
    return node


def _collect_phrases(node: Node, acc: set[int]) -> None:
    if node.op == "PHRASE":
        acc.add(id(node.phrase))
    elif node.op == "NEAR":
        for c in node.children:
            acc.add(id(c.phrase))
    else:
        for c in node.children:
            _collect_phrases(c, acc)


def parse_query(q: str, analyzer, fold=None) -> tuple[Node | None, list[Phrase]]:
    """Parse a raw MATCH query. ``analyzer``: str → list of stemmed terms;
    ``fold``: kept for API compat (prefixes are stemmed like everything else).
    Raises QuerySyntaxError exactly where the oracle raises. Returns
    (None, []) when the query prunes to nothing (matches no rows)."""
    if q.startswith("*"):
        directive = q[1:].split("\x00", 1)[0].lstrip(" ").split(" ", 1)[0]
        if directive.lower() in ("reads", "id"):
            return None, []
        raise QuerySyntaxError(f"unknown special query: {directive}")
    p = _Reader(q, analyzer)
    node = p.expr()
    p.take("")
    node = _prune_empty(node)
    if node is None:
        return None, []
    alive: set[int] = set()
    _collect_phrases(node, alive)
    phrases = [ph for ph in p.phrases if id(ph) in alive]
    for i, ph in enumerate(phrases):
        ph.index = i
    return node, phrases
