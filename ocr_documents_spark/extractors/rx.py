"""Required-literal prefilter in front of Python ``re``.

Most of the extraction core's regex calls cannot match: the keyword every
match must contain is absent from the page.  Each pattern is parsed once
(``re._parser``) into the literal sets that every match contains — ASCII
literal runs, the contents of groups and of repeats with ``min >= 1``, and
for a branch any-of its alternatives' literals.  Optional parts, classes,
lookarounds and non-ASCII literals contribute nothing, so the derivation
only ever under-approximates.

``search``/``match``/``findall``/``finditer`` return the no-match value
without scanning when a required set is absent from the text's folded form
(:func:`fold`); otherwise they call the same compiled pattern.  The fold is
what makes the shortcut exact for every text, ASCII or not: it maps each
character that ``re`` can match against an ASCII literal onto that
literal's lowercase letter, so a match's literal run is always a substring
of the folded text.
"""

from __future__ import annotations

import re
from re import _parser
from typing import Dict, Iterator, List, Optional, Tuple

_REPEAT_OPS = (_parser.MAX_REPEAT, _parser.MIN_REPEAT,
               _parser.POSSESSIVE_REPEAT)

# one-entry cache (text, fold(text)), read and written as a single tuple so
# concurrent threads never see a torn pair
_last: Tuple[Optional[str], str] = (None, "")


def fold(text: str) -> str:
    """``text`` lowercased so that every character ``re.IGNORECASE`` matches
    against an ASCII letter becomes that letter.  Besides the ASCII pairs
    these are the Kelvin sign (U+212A, which ``str.lower`` maps to ``k``),
    ``İ`` (which ``str.lower`` turns into ``i`` plus a combining dot), ``ı``
    and ``ſ`` (which it leaves alone); see ``re._casefix``."""
    return (text.replace("\u0130", "i").replace("\u0131", "i")
            .replace("\u017f", "s").lower())


def _seq_required(items) -> List[Tuple[str, ...]]:
    """Required any-of literal sets of one parsed sequence."""
    out: List[Tuple[str, ...]] = []
    run: List[str] = []

    def flush() -> None:
        if run:
            out.append(("".join(run),))
            run.clear()

    for op, av in items:
        if op is _parser.LITERAL and av < 128:
            run.append(chr(av).lower())
            continue
        flush()
        if op is _parser.SUBPATTERN:
            out.extend(_seq_required(av[-1]))
        elif op in _REPEAT_OPS and av[0] >= 1:
            out.extend(_seq_required(av[2]))
        elif op is _parser.BRANCH:
            picks: List[str] = []
            for alt in av[1]:
                alt_req = _seq_required(alt)
                if not alt_req:
                    break   # an alternative without a literal: no requirement
                picks.extend(max(alt_req, key=_strength))
            else:
                out.append(tuple(dict.fromkeys(picks)))
    flush()
    return out


def _strength(req: Tuple[str, ...]) -> int:
    return min(map(len, req))


def required_literals(pattern: str, flags: int = 0) -> List[Tuple[str, ...]]:
    """Literal sets every match of ``pattern`` contains: each entry is an
    any-of tuple of lowercase ASCII strings, and all entries must hold."""
    return list(dict.fromkeys(_seq_required(_parser.parse(pattern, flags))))


class Prefiltered:
    """A compiled pattern behind its required-literal check."""

    __slots__ = ("regex", "required")

    def __init__(self, pattern: str, flags: int = 0):
        self.regex = re.compile(pattern, flags)
        # most selective first: longer literals fail on more pages
        self.required = tuple(sorted(required_literals(pattern, flags),
                                     key=_strength, reverse=True))

    def _absent(self, text: str) -> bool:
        global _last
        if not self.required:
            return False
        last = _last
        if last[0] is text:
            low = last[1]
        else:
            low = fold(text)
            _last = (text, low)
        for alts in self.required:
            for lit in alts:
                if lit in low:
                    break
            else:
                return True
        return False

    def search(self, text: str) -> Optional[re.Match]:
        return None if self._absent(text) else self.regex.search(text)

    def match(self, text: str) -> Optional[re.Match]:
        return None if self._absent(text) else self.regex.match(text)

    def findall(self, text: str) -> list:
        return [] if self._absent(text) else self.regex.findall(text)

    def finditer(self, text: str) -> Iterator[re.Match]:
        return iter(()) if self._absent(text) else self.regex.finditer(text)


_CACHE: Dict[Tuple[str, int], Prefiltered] = {}


def compile(pattern: str, flags: int = 0) -> Prefiltered:
    key = (pattern, flags)
    p = _CACHE.get(key)
    if p is None:
        p = _CACHE[key] = Prefiltered(pattern, flags)
    return p


def search(pattern: str, text: str, flags: int = 0) -> Optional[re.Match]:
    return compile(pattern, flags).search(text)


def match(pattern: str, text: str, flags: int = 0) -> Optional[re.Match]:
    return compile(pattern, flags).match(text)


def findall(pattern: str, text: str, flags: int = 0) -> list:
    return compile(pattern, flags).findall(text)


def finditer(pattern: str, text: str, flags: int = 0) -> Iterator[re.Match]:
    return compile(pattern, flags).finditer(text)
