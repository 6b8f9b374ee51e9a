"""Multi-pattern matcher for surface-form spotting.

Native replacement for the mention-detection half of the DBpedia Spotlight
service the reference delegates to over HTTP (``R/dbpedia.R:471-485``).
Spotlight's spotter is a lexicon FSA (Mendes et al. 2011 §4.1); here the
same match set comes from :class:`FlatMatcher` — vectorized numpy
per-length substring probes over compact byte tables, no per-character
Python loop. The lexicon reaches the executors as a parquet artifact of
surface forms and each Python worker builds its own matcher from it
(:func:`load_automaton_from_artifact`); the matcher is applied to whole
Arrow batches inside a pandas UDF (see ``kgspark.spot``).

Matches are emitted for *every* word-bounded dictionary occurrence
(including nested and overlapping ones); overlap resolution is a
downstream, relational concern (``kgspark.overlaps``). The classic
Aho-Corasick automaton lives in ``tests/`` as the reference this matcher
is fuzz-tested against.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np


class FlatMatcher:
    """Vectorized word-bounded multi-pattern matcher over numpy codepoints.

    Finds every occurrence of every pattern (nested and overlapping
    included) by per-length exact substring probes instead of a
    per-character Python state machine: patterns are grouped by length L
    into sorted fixed-width byte tables (UTF-32 code units, memcmp order),
    the text becomes one uint32 array, and for each L every candidate start
    position is gathered into a (starts, L) matrix and membership-tested
    against the table with one ``searchsorted``.

    Memory is the pattern bytes themselves (4 bytes/char, ~100 MB at 10^6
    forms of ~20 chars), and the build is string sorting + one encode per
    length group (about 2 s at 10^6 forms).

    Candidate starts and ends are restricted to ASCII word boundaries (the
    spotting contract, mirrored by the DuckDB oracle's ``[0-9A-Za-z]``
    class). ``find_word_bounded_batch`` processes a whole Arrow batch of
    documents as one concatenated array, so the per-batch numpy overhead is
    paid once, not per document.
    """

    __slots__ = ("_tables", "_lengths", "_has_nul")

    # gather-matrix cap: bounds the (starts x L) uint32 scratch to ~128 MB
    _CHUNK = 1 << 19

    def __init__(self, patterns: Iterable[str]):
        pats = sorted(set(p for p in patterns if p))
        self._has_nul = any("\x00" in p for p in pats)
        by_len: dict[int, list[str]] = {}
        for p in pats:
            by_len.setdefault(len(p), []).append(p)
        # per length: (sorted S{4L} table, sorted uint32 array of first chars)
        self._tables: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for L, ps in by_len.items():
            buf = "".join(ps).encode("utf-32-le", "surrogatepass")
            keys = np.frombuffer(buf, dtype=f"S{4 * L}")
            keys = np.sort(keys)
            firsts = np.unique(
                np.frombuffer(buf, dtype=np.uint32)[:: L]
            )
            self._tables[L] = (keys, firsts)
        self._lengths = sorted(self._tables)

    @staticmethod
    def _codepoints(text: str) -> np.ndarray:
        return np.frombuffer(
            text.encode("utf-32-le", "surrogatepass"), dtype=np.uint32
        )

    @staticmethod
    def _word_mask(T: np.ndarray) -> np.ndarray:
        return (
            ((T >= 48) & (T <= 57))
            | ((T >= 65) & (T <= 90))
            | ((T >= 97) & (T <= 122))
        )

    def _match_starts(self, text: str, T: np.ndarray) -> list[tuple[int, str]]:
        """All (start, pattern) hits that start and end on a word boundary."""
        n = len(T)
        word = self._word_mask(T)
        valid = np.empty(n, dtype=bool)
        valid[0] = True
        valid[1:] = ~word[:-1]
        starts_all = np.nonzero(valid)[0]
        hits: list[tuple[int, str]] = []
        for L in self._lengths:
            keys_tab, firsts = self._tables[L]
            starts = starts_all[starts_all + L <= n]
            if starts.size == 0:
                continue
            # first-char prefilter: most positions cannot start any pattern
            idx = np.searchsorted(firsts, T[starts])
            ok = (idx < len(firsts)) & (
                firsts[np.minimum(idx, len(firsts) - 1)] == T[starts]
            )
            starts = starts[ok]
            e = starts + L
            starts = starts[(e == n) | ~word[np.minimum(e, n - 1)]]
            if starts.size == 0:
                continue
            for lo in range(0, starts.size, self._CHUNK):
                chunk = starts[lo : lo + self._CHUNK]
                sub = T[chunk[:, None] + np.arange(L, dtype=chunk.dtype)]
                keys = np.frombuffer(
                    np.ascontiguousarray(sub).tobytes(), dtype=f"S{4 * L}"
                )
                pos = np.searchsorted(keys_tab, keys)
                hit = (pos < len(keys_tab)) & (
                    keys_tab[np.minimum(pos, len(keys_tab) - 1)] == keys
                )
                for s in chunk[hit]:
                    s = int(s)
                    hits.append((s, text[s : s + L]))
        return hits

    def find_word_bounded(self, text: str) -> list[tuple[int, str]]:
        """All matches in ``text`` that start and end on a word boundary,
        as 0-based ``(start0, surface_form)`` sorted by ``(start0, len)``."""
        if not text or not self._lengths:
            return []
        hits = self._match_starts(text, self._codepoints(text))
        hits.sort(key=lambda h: (h[0], len(h[1]), h[1]))
        return hits

    def find_word_bounded_batch(
        self, texts: Iterable[str | None]
    ) -> list[list[tuple[int, str]]]:
        """Word-bounded hits for a batch of documents in one numpy pass.

        Documents are joined with a NUL separator (a non-word char no
        pattern contains, so no match can cross a boundary) and offsets
        are rebased per document afterwards."""
        texts = list(texts)
        if self._has_nul or not self._lengths:
            # NUL inside a pattern breaks the separator trick — per-doc path
            return [self.find_word_bounded(t) for t in texts]
        parts = [t or "" for t in texts]
        big = "\x00".join(parts)
        T = self._codepoints(big)
        out: list[list[tuple[int, str]]] = [[] for _ in texts]
        if len(T) == 0:
            return out
        # doc k occupies [doc_off[k], doc_off[k] + len(parts[k]))
        doc_off = np.zeros(len(parts), dtype=np.int64)
        if len(parts) > 1:
            np.cumsum(
                [len(p) + 1 for p in parts[:-1]], out=doc_off[1:]
            )
        for s, pat in self._match_starts(big, T):
            k = int(np.searchsorted(doc_off, s, side="right")) - 1
            out[k].append((s - int(doc_off[k]), pat))
        for lst in out:
            lst.sort(key=lambda h: (h[0], len(h[1]), h[1]))
        return out


# ---------------------------------------------------------------------------
# Artifact path: the driver writes the distinct surface forms as a parquet
# artifact (distributed write, no driver collect) and each Python worker
# builds its own FlatMatcher from it — 0.06 s at 50k forms, about 2 s at
# 10^6 — amortized by worker reuse. The memo holds ONE matcher per worker,
# keyed on the artifact's part-file names: Spark names part files with a
# per-write job UUID, so a rewritten artifact (same path, new lexicon) or a
# new streaming micro-batch artifact replaces the entry instead of serving
# stale mentions or piling up one matcher per path.
_MEMO: tuple[tuple[str, ...], FlatMatcher] | None = None


def write_lexicon_artifact(lexicon, path: str) -> str:
    """Distributed write of the distinct surface forms (no driver collect).
    ``path`` must be reachable by every executor (shared FS on a cluster;
    any local dir under local[*])."""
    lexicon.select("surface_form").distinct().write.mode("overwrite").parquet(path)
    return path


def load_automaton_from_artifact(path: str) -> FlatMatcher:
    """This worker's matcher for the surface-form artifact at ``path``
    (a local path or any URI pyarrow resolves, e.g. ``file://``)."""
    global _MEMO
    import pyarrow.parquet as pq

    dataset = pq.ParquetDataset(path)  # lists part files, skips _/. files
    key = tuple(sorted(dataset.files))
    if not key:
        raise FileNotFoundError(f"lexicon artifact {path!r} has no part files")
    if _MEMO is None or _MEMO[0] != key:
        forms = dataset.read(columns=["surface_form"]).column(0).to_pylist()
        _MEMO = (key, FlatMatcher(forms))
    return _MEMO[1]
