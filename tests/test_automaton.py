"""FlatMatcher correctness: brute force -> Aho-Corasick reference -> matcher,
plus the executor-side artifact path."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from aho_reference import AhoCorasick
from kgspark.automaton import (
    FlatMatcher,
    load_automaton_from_artifact,
    write_lexicon_artifact,
)


def brute_matches(patterns, text):
    out = []
    for p in patterns:
        start = 0
        while True:
            i = text.find(p, start)
            if i < 0:
                break
            out.append((i, p))
            start = i + 1
    return sorted(out)


def _ascii_word(c):
    return c.isascii() and c.isalnum()


def word_bounded(matches, text):
    """Keep the ``(start0, pattern)`` matches that start and end on an
    ASCII word boundary, in the matcher's (start, len, pattern) order."""
    out = []
    for i, p in matches:
        j = i + len(p)
        if i > 0 and _ascii_word(text[i - 1]):
            continue
        if j < len(text) and _ascii_word(text[j]):
            continue
        out.append((i, p))
    return sorted(out, key=lambda h: (h[0], len(h[1]), h[1]))


def reference_batch(patterns, texts):
    ref = AhoCorasick(patterns)
    return [word_bounded(ref.iter_matches(t), t) if t else [] for t in texts]


PATTERNS = ["ab", "abc", "bc", "c", "abcd", "b a", "aa"]


def test_matches_equal_bruteforce_random_strings():
    """The reference itself: every occurrence, nested and overlapping."""
    rng = np.random.RandomState(1)
    alphabet = "abcd "
    ref = AhoCorasick(PATTERNS)
    for trial in range(30):
        text = "".join(alphabet[k] for k in rng.randint(0, len(alphabet), size=200))
        assert sorted(ref.iter_matches(text)) == brute_matches(PATTERNS, text), trial


def test_word_bounded_equal_bruteforce():
    rng = np.random.RandomState(2)
    alphabet = "abcd .,"
    texts = [
        "".join(alphabet[k] for k in rng.randint(0, len(alphabet), size=300))
        for _ in range(30)
    ]
    got = FlatMatcher(PATTERNS).find_word_bounded_batch(texts)
    assert got == [word_bounded(brute_matches(PATTERNS, t), t) for t in texts]


# Word chars (ASCII alnum), non-ASCII letters (word chars to str.isalnum but
# boundaries to the spotter), an astral code point, separators and NUL.
FORM_ALPHABET = "ab1 éß中𝔸-"
FILLER_ALPHABET = FORM_ALPHABET + ".\x00"


@st.composite
def lexicon_and_batch(draw, nul_forms):
    forms = draw(st.lists(st.text(FORM_ALPHABET, min_size=1, max_size=4),
                          min_size=1, max_size=8))
    if nul_forms:
        # a NUL inside a form sends the matcher down its per-document path
        forms.append(draw(st.text(FORM_ALPHABET, max_size=2)) + "\x00"
                     + draw(st.text(FORM_ALPHABET, max_size=2)))
    piece = st.one_of(st.sampled_from(forms), st.text(FILLER_ALPHABET, max_size=3))
    doc = st.one_of(st.none(), st.just(""), st.lists(piece, max_size=12).map("".join))
    return forms, draw(st.lists(doc, max_size=6))


@pytest.mark.parametrize("nul_forms", [False, True])
@settings(max_examples=200, deadline=None)
@given(data=st.data())
def test_flat_matcher_batch_equals_reference(nul_forms, data):
    forms, texts = data.draw(lexicon_and_batch(nul_forms))
    assert FlatMatcher(forms).find_word_bounded_batch(texts) == reference_batch(
        forms, texts
    )


def test_nested_and_overlapping_patterns_all_reported():
    m = FlatMatcher(["sort merge join", "sort merge", "merge join", "merge", "join"])
    got = set(m.find_word_bounded("a sort merge join b"))
    assert got == {
        (2, "sort merge join"),
        (2, "sort merge"),
        (7, "merge join"),
        (7, "merge"),
        (13, "join"),
    }


def test_boundary_rejections():
    m = FlatMatcher(["spark"])
    assert m.find_word_bounded("sparkx") == []
    assert m.find_word_bounded("xspark") == []
    assert m.find_word_bounded("spark.") == [(0, "spark")]
    assert m.find_word_bounded("(spark)") == [(1, "spark")]


def test_empty_artifact_raises(tmp_path):
    """An artifact with no part files must fail loudly, not spot nothing."""
    (tmp_path / "_SUCCESS").touch()
    with pytest.raises(FileNotFoundError):
        load_automaton_from_artifact(str(tmp_path))


def _spot(docs, path):
    from kgspark.spot import spot_documents

    return sorted(map(tuple, spot_documents(docs, path, doc_col="doc_id").collect()))


def _docs(spark, n_docs):
    from kgspark import synth

    return synth.synth_documents(spark, n_docs=n_docs).select(
        F.col("url").alias("doc_id"), "text"
    )


def test_artifact_path_equals_driver_reference(spark, tmp_path):
    """Spotting through the executor-built artifact matcher must equal the
    Aho-Corasick reference run on the driver over the same documents."""
    from kgspark import synth

    docs = _docs(spark, 30)
    path = str(tmp_path / "lexforms")
    write_lexicon_artifact(synth.lexicon_df(spark), path)
    rows = docs.collect()
    forms = sorted({r[0] for r in synth.LEXICON_ROWS})
    want = sorted(
        (r.doc_id, s + 1, p)
        for r, hits in zip(rows, reference_batch(forms, [r.text for r in rows]))
        for s, p in hits
    )
    assert _spot(docs, path) == want and len(want) > 0


def test_file_uri_artifact_equals_plain_path(spark, tmp_path):
    from kgspark import synth

    docs = _docs(spark, 20)
    path = str(tmp_path / "lexforms")
    write_lexicon_artifact(synth.lexicon_df(spark), path)
    plain = _spot(docs, path)
    assert _spot(docs, "file://" + path) == plain and len(plain) > 0


def test_rewritten_artifact_is_not_stale(spark, tmp_path):
    """One artifact path rewritten with a different lexicon in the same
    session: every spot run must see the lexicon written last."""
    docs = spark.createDataFrame(
        [(f"d{i}", "spark join table stream") for i in range(8)], "doc_id string, text string"
    )
    path = str(tmp_path / "lexforms")
    for form in ("spark", "join", "table"):
        write_lexicon_artifact(spark.createDataFrame([(form,)], "surface_form string"), path)
        got = {text for _, _, text in _spot(docs, path)}
        assert got == {form}


def test_big_lexicon_automaton_spots_correctly(spark, tmp_path):
    """100k-surface-form lexicon through the artifact path: the generated
    forms never appear in the corpus, so spotting must return exactly the
    same mentions as the 31-form lexicon (and the build must not blow up)."""
    from kgspark import synth

    docs = _docs(spark, 20)
    big_path, small_path = str(tmp_path / "biglex"), str(tmp_path / "smalllex")
    write_lexicon_artifact(synth.big_lexicon_df(spark, n=100_000), big_path)
    write_lexicon_artifact(synth.lexicon_df(spark), small_path)
    big = _spot(docs, big_path)
    assert big == _spot(docs, small_path) and len(big) > 0
