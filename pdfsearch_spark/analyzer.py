"""Tokenizer matching the reference's FTS5 analyzer chain exactly.

The reference's entire linguistic pipeline is the FTS5 DDL
``tokenize='porter unicode61 remove_diacritics 2'``
(`/root/reference/database/database.go:59-66`):

1. unicode61: a token is a maximal run of Unicode-6.1 alphanumeric
   codepoints; everything else separates; case-folded to lower;
   ``remove_diacritics 2`` strips diacritics including from pre-composed
   characters (SURVEY.md §2.3 T1/T2, probe-verified).
2. porter: classic Porter stemming applied to the unicode61 output
   (SURVEY.md §2.3 T3).

unicode61's classification/fold tables are pinned to Unicode 6.1 inside
SQLite, so we load exact per-codepoint tables generated by probing the FTS5
oracle itself (scripts/gen_unicode61_tables.py) rather than deriving them
from Python's (newer) unicodedata.

Tokenization runs in Arrow-batched pandas UDFs at index time and on the
driver for the <= k result docs that get snippets
(``query.snippet.tokenize_offsets``, which adds each token's char offsets).
Both paths do the fold+separate pass at C speed with ``str.translate`` over
a lazily-populated mapping, and both stem through ``_stem_cached``'s dict
memo (Zipfian vocabularies hit it almost always).
"""

from __future__ import annotations

import json
from functools import lru_cache

import numpy as np

from .porter import stem as porter_stem

def _load_tables_npz():
    """Open the probed unicode61 tables. importlib.resources (not __file__)
    so the package also works zipimported via spark-submit --py-files."""
    import io
    from importlib import resources

    data = (resources.files(__package__) / "data" / "unicode61_tables.npz").read_bytes()
    return np.load(io.BytesIO(data))


class _XlatMap(dict):
    """Lazy codepoint→replacement map for str.translate.

    separator → ' ', token char → its fold ('' if the char folds away,
    identity string otherwise). Misses consult the probed kinds/folds tables
    once and are cached, so memory stays proportional to the alphabet actually
    seen, not to all of Unicode.
    """

    def __init__(self, kinds: np.ndarray, folds: dict[int, str]):
        super().__init__()
        self._kinds = kinds
        self._folds = folds

    def __missing__(self, cp: int) -> str:
        if cp < len(self._kinds) and self._kinds[cp]:
            v = self._folds.get(cp)
            if v is None:
                v = chr(cp)
        else:
            v = " "
        self[cp] = v
        return v


@lru_cache(maxsize=1)
def _tables() -> _XlatMap:
    with _load_tables_npz() as z:
        kinds = z["kinds"]
        folds_raw = json.loads(bytes(z["folds_json"]).decode("utf-8"))
    folds = {int(k): v for k, v in folds_raw.items()}
    return _XlatMap(kinds, folds)


_STEM_MEMO: dict[str, str] = {}


def _stem_cached(tok: str) -> str:
    s = _STEM_MEMO.get(tok)
    if s is None:
        s = porter_stem(tok)
        if len(_STEM_MEMO) < 2_000_000:
            _STEM_MEMO[tok] = s
        else:
            return s
    return s


def unicode61_tokens(text: str) -> list[str]:
    """unicode61 + remove_diacritics 2 tokens (no stemming)."""
    if not text:
        return []
    return text.translate(_tables()).split()


def token_count(text: str) -> int:
    """Number of tokens (= FTS5 doc length ``dl``) without stemming.

    Stemming maps tokens 1:1, so the count after unicode61 splitting is the
    count FTS5 stores — this skips the Porter pass and list construction for
    callers (the extraction stage's dl computation) that never look at the
    tokens themselves."""
    if not text:
        return 0
    return len(text.translate(_tables()).split())


def tokenize(text: str) -> list[str]:
    """Full analyzer chain: unicode61 fold/split → Porter stem. No stopword
    removal: the reference removes none (SURVEY.md §2.3 T3), and
    rank-identity with the FTS5 oracle requires the same."""
    return [_stem_cached(t) for t in unicode61_tokens(text)]
