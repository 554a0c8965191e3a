"""Aho-Corasick multi-pattern matcher.

Semantic reference: the automaton in /root/reference/src/ahocorasick.zig —
byte-level trie + BFS failure links with end-flag propagation through failure
links (ahocorasick.zig:78: a node is accepting if any suffix of its path is a
pattern), `contains` semantics = "does the text contain ANY pattern" with
early exit at the first accepting state (ahocorasick.zig:121).

This implementation is written from scratch, char-level (the engine's spans
are unicode text, not bytes), and picklable so one automaton built on the
driver broadcasts to every executor. Two execution engines:

* `contains(text)` — the automaton walk itself (early-exit). Used as the
  semantic oracle in tests.
* `regex()` — a single compiled alternation of the literal patterns. For the
  boolean contains-ANY semantics this is exactly equivalent, and
  `pandas.Series.str.contains` runs it in C across a whole Arrow batch —
  the vectorized hot path for the Spark UDF (tests assert equivalence).
"""

from __future__ import annotations

import re
from collections import deque


class AhoCorasick:
    def __init__(self, patterns: list[str] | None = None):
        # node storage: parallel lists (picklable, compact)
        self.next: list[dict[str, int]] = [{}]
        self.fail: list[int] = [0]
        self.end: list[bool] = [False]
        self.patterns: list[str] = []
        self._configured = False
        for p in patterns or []:
            self.add(p)
        if patterns is not None:
            self.configure()

    def add(self, pattern: str) -> None:
        """Insert one literal pattern (empty patterns are ignored: an empty
        needle matches nothing, matching the reference's tests)."""
        if not pattern:
            return
        self.patterns.append(pattern)
        node = 0
        for ch in pattern:
            nxt = self.next[node].get(ch)
            if nxt is None:
                self.next.append({})
                self.fail.append(0)
                self.end.append(False)
                nxt = len(self.next) - 1
                self.next[node][ch] = nxt
            node = nxt
        self.end[node] = True
        self._configured = False

    def configure(self) -> None:
        """BFS failure links; accepting flag propagates through failure links
        so a state is accepting whenever any suffix of its path is a pattern."""
        q: deque[int] = deque()
        for child in self.next[0].values():
            self.fail[child] = 0
            q.append(child)
        while q:
            node = q.popleft()
            if self.end[self.fail[node]]:
                self.end[node] = True
            for ch, child in self.next[node].items():
                # walk the fail chain to find the longest proper suffix state
                f = self.fail[node]
                while f and ch not in self.next[f]:
                    f = self.fail[f]
                self.fail[child] = self.next[f].get(ch, 0)
                if self.fail[child] == child:  # root self-loop guard
                    self.fail[child] = 0
                q.append(child)
        self._configured = True

    def _step(self, state: int, ch: str) -> int:
        while True:
            nxt = self.next[state].get(ch)
            if nxt is not None:
                return nxt
            if state == 0:
                return 0
            state = self.fail[state]

    def contains(self, text: str, state: int = 0) -> bool:
        """True if text contains any pattern; early-exits at first hit."""
        if not self._configured:
            self.configure()
        for ch in text:
            state = self._step(state, ch)
            if self.end[state]:
                return True
        return False

    def feed(self, text: str, state: int = 0) -> tuple[bool, int]:
        """Streaming variant: scan a chunk starting from a carried state,
        return (matched, new_state). Matches spanning chunk boundaries are
        detected — the reference's cross-chunk semantics
        (/root/reference/src/modules/confidential.zig:66-88)."""
        if not self._configured:
            self.configure()
        for ch in text:
            state = self._step(state, ch)
            if self.end[state]:
                return True, state
        return False, state

    def regex(self) -> re.Pattern:
        """Equivalent single regex: alternation of escaped literals, longest
        first (irrelevant for boolean contains, but cheap insurance)."""
        if not self.patterns:
            # matches nothing
            return re.compile(r"(?!x)x")
        parts = sorted(self.patterns, key=len, reverse=True)
        return re.compile("|".join(re.escape(p) for p in parts))
