"""Pure-Python Aho-Corasick automaton for batched mention detection.

Built once per executor from a broadcast alias list and run over Arrow
batches of page text inside ``mapInPandas`` — the per-document cost is
O(len(text)), independent of dictionary size, which is what makes
mention detection over 10^12 documents tractable (a regex alternation
over 100k aliases is not).

The container has no pyahocorasick wheel; this implementation is the
classic goto/fail/output construction (Aho & Corasick, CACM 1975).
Matches are token-boundary checked so "Kalo 1" doesn't fire inside
"Kalo 10".
"""

from __future__ import annotations

import re
from itertools import accumulate, compress


class AhoCorasick:
    __slots__ = ("goto", "fail", "out")

    def __init__(self, patterns: list[str]):
        # goto: list of dict char → state; out: state → list of pattern lengths
        self.goto: list[dict[str, int]] = [{}]
        self.out: list[list[str]] = [[]]
        for pat in patterns:
            if not pat:
                continue
            s = 0
            for ch in pat:
                nxt = self.goto[s].get(ch)
                if nxt is None:
                    self.goto.append({})
                    self.out.append([])
                    nxt = len(self.goto) - 1
                    self.goto[s][ch] = nxt
                s = nxt
            self.out[s].append(pat)

        # BFS failure links
        from collections import deque

        self.fail = [0] * len(self.goto)
        q = deque()
        for ch, s in self.goto[0].items():
            q.append(s)
        while q:
            r = q.popleft()
            for ch, s in self.goto[r].items():
                q.append(s)
                f = self.fail[r]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[s] = self.goto[f].get(ch, 0) if self.goto[f].get(ch, 0) != s else 0
                if self.fail[s]:
                    self.out[s] = self.out[s] + self.out[self.fail[s]]

    def finditer(self, text: str):
        """Yield (start, end, pattern) for every dictionary hit."""
        s = 0
        goto = self.goto
        fail = self.fail
        out = self.out
        for i, ch in enumerate(text):
            while s and ch not in goto[s]:
                s = fail[s]
            s = goto[s].get(ch, 0)
            if out[s]:
                for pat in out[s]:
                    yield (i - len(pat) + 1, i + 1, pat)


def _is_word_char(c: str) -> bool:
    return c.isalnum() or c in "_-"


def find_mentions(text: str, automaton: AhoCorasick) -> list[tuple[int, int, str]]:
    """Token-boundary-checked, longest-match-preferred dictionary hits."""
    raw = []
    for start, end, pat in automaton.finditer(text):
        if start > 0 and _is_word_char(text[start - 1]):
            continue
        if end < len(text) and _is_word_char(text[end]):
            continue
        raw.append((start, end, pat))
    if not raw:
        return raw
    # Prefer longest match at overlapping spans (sort by start, then -len).
    raw.sort(key=lambda m: (m[0], -(m[1] - m[0])))
    kept: list[tuple[int, int, str]] = []
    last_end = -1
    for m in raw:
        if m[0] >= last_end:
            kept.append(m)
            last_end = m[1]
    return kept


class TokenDictMatcher:
    """Word-level dictionary matcher — the cache-friendly fast path.

    Aliases are (almost always) sequences of whitespace tokens, so the
    automaton can be a single dict keyed on the FIRST token with
    candidate continuations checked inline: one hash lookup per token
    instead of one trie transition per character. ~10× less memory
    traffic per input byte than the char-level automaton, which matters
    on bandwidth-bound hosts (measured: char-trie AC stops scaling past
    ~8 cores on this class of VM; this scales).

    Same output contract as find_mentions: token-boundary matches,
    longest match first, non-overlapping, (start, end, pattern) spans.
    """

    __slots__ = ("index",)
    # tokens at even positions, the whitespace runs between them at odd
    _SPLIT = re.compile(r"(\s+)")

    def __init__(self, patterns: list[str] | tuple[str, ...]):
        # first token → [(all tokens, surface)], longest first
        index: dict[str, list[tuple[list[str], str]]] = {}
        for p in patterns:
            toks = p.split()
            if toks:
                index.setdefault(toks[0], []).append((toks, " ".join(toks)))
        for cands in index.values():
            cands.sort(key=lambda c: len(c[0]), reverse=True)
        self.index = index

    def find(self, text: str) -> list[tuple[int, int, str]]:
        # Tokens in one C-level split; only tokens that start an alias
        # (found by a C-level map over the index) reach the Python loop.
        toks = text.split()
        index = self.index
        out: list[tuple[int, int, str]] = []
        starts = None
        free = 0  # first token not inside an earlier hit
        for i in compress(range(len(toks)), map(index.__contains__, toks)):
            if i < free:
                continue
            for cand, surface in index[toks[i]]:
                k = i + len(cand)
                if toks[i:k] == cand:
                    if starts is None:
                        starts = self._starts(text, toks)
                    out.append((starts[i], starts[k - 1] + len(toks[k - 1]), surface))
                    free = k
                    break
        return out

    def _starts(self, text: str, toks: list[str]) -> list[int]:
        """The char offset of every token of ``text``, from C-level passes."""
        if sum(map(len, toks)) + len(toks) - 1 == len(text):
            # one whitespace char between tokens and none around them
            return list(accumulate(map((1).__add__, map(len, toks)), initial=0))
        # token and whitespace-run lengths from one split, summed
        parts = self._SPLIT.split(text)
        starts = list(accumulate(map(len, parts), initial=0))[::2]
        return starts[1:] if parts[0] == "" else starts


# The last dictionary and its matcher, per matcher class. The entry
# holds the dictionary itself and is matched by identity: keyed on
# ``id()`` alone, a freed dictionary's reused address would hand the
# next dictionary a stale matcher.
_LAST: dict[type, tuple[object, object]] = {}


def _cached(kind: type, patterns: tuple[str, ...] | list[str]):
    last = _LAST.get(kind)
    if last is None or last[0] is not patterns:
        # hold at most one per class — dictionaries are big
        last = _LAST[kind] = (patterns, kind(patterns))
    return last[1]


def token_matcher_for(patterns: tuple[str, ...] | list[str]) -> TokenDictMatcher:
    """Executor-local cache: one token matcher per dictionary object."""
    return _cached(TokenDictMatcher, patterns)


def automaton_for(patterns: tuple[str, ...] | list[str]) -> AhoCorasick:
    """Executor-local cache: one automaton per dictionary object."""
    return _cached(AhoCorasick, patterns)
