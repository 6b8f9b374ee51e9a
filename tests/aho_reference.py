"""Classic Aho-Corasick automaton: the correctness reference for
``kgspark.automaton.FlatMatcher`` (see ``test_automaton.py``)."""

from __future__ import annotations

from collections import deque
from collections.abc import Iterable, Iterator


class AhoCorasick:
    """Classic Aho-Corasick automaton over unicode code points.

    ``iter_matches(text)`` yields ``(start0, pattern)`` for every occurrence
    of every pattern, 0-based, in increasing end-position order.
    """

    __slots__ = ("goto", "fail", "out", "patterns")

    def __init__(self, patterns: Iterable[str]):
        self.patterns: list[str] = sorted(set(p for p in patterns if p))
        self.goto: list[dict[str, int]] = [{}]
        self.out: list[list[int]] = [[]]
        for pid, pat in enumerate(self.patterns):
            state = 0
            for ch in pat:
                nxt = self.goto[state].get(ch)
                if nxt is None:
                    self.goto.append({})
                    self.out.append([])
                    nxt = len(self.goto) - 1
                    self.goto[state][ch] = nxt
                state = nxt
            self.out[state].append(pid)
        # BFS failure links; merge output links so nested suffix patterns
        # (e.g. "merge join" inside "sort merge join") are all reported.
        self.fail = [0] * len(self.goto)
        queue: deque[int] = deque()
        for child in self.goto[0].values():
            queue.append(child)
        while queue:
            state = queue.popleft()
            for ch, child in self.goto[state].items():
                queue.append(child)
                f = self.fail[state]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[child] = self.goto[f].get(ch, 0)
                if self.fail[child] == child:
                    self.fail[child] = 0
                self.out[child] = self.out[child] + self.out[self.fail[child]]

    def iter_matches(self, text: str) -> Iterator[tuple[int, str]]:
        state = 0
        goto, fail, out, patterns = self.goto, self.fail, self.out, self.patterns
        for i, ch in enumerate(text):
            while state and ch not in goto[state]:
                state = fail[state]
            state = goto[state].get(ch, 0)
            if out[state]:
                for pid in out[state]:
                    pat = patterns[pid]
                    yield (i - len(pat) + 1, pat)
