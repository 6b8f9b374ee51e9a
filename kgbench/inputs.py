"""Seeded benchmark inputs, written before any Spark session starts.

Every file here is a pure function of (workload, seed, size): the same
arguments give byte-identical files, and ``content_hash`` fingerprints the
set so a run's detail record names exactly what it measured.

- Crawl archives are Common-Crawl-shaped ``.warc.gz`` files: one gzip member
  per record, each response payload wrapped in an HTTP/1.1 envelope, built
  with the ``kgspark.warc`` record builders over ``kgspark.synth`` pages.
- The ground truth (``url``, ``text``) feeds the DuckDB triple oracle.
- The lexicon is the generated forms of ``kgspark.synth.big_lexicon_forms``
  plus the 31 real forms of ``kgspark.synth.LEXICON_ROWS``, in the
  ``LEXICON_SCHEMA`` column layout; redirects and sameAs are the fixture dims.
- The operator slice is a star-schema cut shaped like the repository's test data:
  ``documents``, ``embeddings`` and ``events``.
"""

from __future__ import annotations

import gzip
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LEXICON_ARROW = pa.schema([
    ("surface_form", pa.string()),
    ("uri", pa.string()),
    ("prior", pa.float64()),
    ("support", pa.int64()),
    ("dbpedia_types", pa.list_(pa.string())),
    ("wikidata_types", pa.list_(pa.string())),
    ("ctx_tokens", pa.string()),
])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def crawl_docs(seed: int, first: int, n: int, long_doc_words: int) -> list[tuple]:
    """(url, warc_ts, html bytes, text) for docs ``first .. first+n-1``.

    Every 23rd page is ``long_doc_words`` long, so segmentation has work to
    do at the production window of 7,990 chars."""
    from kgspark.synth import gen_doc_row

    rows = []
    for i in range(first, first + n):
        url, ts, html, text, _lang = gen_doc_row(
            i, seed=seed, long_doc_words=long_doc_words)
        rows.append((url, ts.strftime("%Y-%m-%dT%H:%M:%SZ"), html, text))
    return rows


def write_warc_gz(rows: list[tuple], path: str) -> None:
    """One ``.warc.gz`` archive, one gzip member per record (the crawl wire
    format), HTTP envelope around each page."""
    from kgspark.warc import build_http_response, build_warc_record

    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        for url, ts, html, _text in rows:
            rec = build_warc_record(url, ts, build_http_response(html))
            fh.write(gzip.compress(rec, mtime=0))


def write_truth(rows: list[tuple], path: str) -> None:
    _write(pa.table({"url": [r[0] for r in rows], "text": [r[3] for r in rows]}),
           path)


def write_dims(root: str, n_generated_forms: int) -> None:
    """lexicon / redirects / sameas parquet under ``root``."""
    from kgspark.synth import (
        LEXICON_ROWS, REDIRECT_ROWS, SAMEAS_ROWS, big_lexicon_forms)

    forms = big_lexicon_forms(n_generated_forms) if n_generated_forms else []
    real = list(zip(*LEXICON_ROWS))
    n = len(forms)
    # generated rows mirror kgspark.synth.big_lexicon_df, columnar
    lex = pa.table({
        "surface_form": forms + list(real[0]),
        "uri": [f"dbr:Gen_{i}" for i in range(n)] + list(real[1]),
        "prior": [1.0] * n + list(real[2]),
        "support": [100 + (i % 900) for i in range(n)] + list(real[3]),
        "dbpedia_types": [["Thing"]] * n + list(real[4]),
        "wikidata_types": [["Q35120"]] * n + list(real[5]),
        "ctx_tokens": ["data"] * n + list(real[6]),
    }, schema=LEXICON_ARROW)
    _write(lex, os.path.join(root, "lexicon.parquet"))
    src, dst = zip(*REDIRECT_ROWS)
    _write(pa.table({"src_uri": list(src), "dst_uri": list(dst)}),
           os.path.join(root, "redirects.parquet"))
    a, b, c = zip(*SAMEAS_ROWS)
    _write(pa.table({"dbpedia_uri": list(a), "wikidata_uri": list(b),
                     "wikidata_id": list(c)}),
           os.path.join(root, "sameas.parquet"))


def generated_form_tails(n_generated_forms: int) -> set[str]:
    """Second words of the generated forms: a generated form can only be
    spotted where its tail occurs as a word of the text."""
    from kgspark.synth import big_lexicon_forms

    return {f.split(" ", 1)[1] for f in big_lexicon_forms(n_generated_forms)}


# ---------------------------------------------------------------------------
# operator slice (documents / embeddings / events), shaped like the sf0.1
# star-schema test tables: word-soup documents over ``synth.VOCAB`` spread over
# 20 sources with a few exact duplicates, 64-d unit embeddings around 10
# labelled centres, and a month of events from 1,500 users.
def write_operator_slice(root: str, seed: int, n_docs: int, n_emb: int,
                         n_events: int) -> None:
    from kgspark.synth import VOCAB

    rng = np.random.RandomState(seed)
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.rand() < 0.002:
            texts.append(texts[int(rng.randint(0, i))])  # exact duplicate
            continue
        words = rng.randint(0, len(VOCAB), int(rng.randint(8, 96)))
        texts.append(" ".join(VOCAB[k] for k in words))
    langs = ["en", "en", "en", "de", "es", "fr", "zh"]
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [langs[k] for k in rng.randint(0, len(langs), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(root, "documents.parquet"))

    centres = rng.standard_normal((10, 64))
    labels = rng.randint(0, 10, n_emb)
    vecs = centres[labels] + 1.5 * rng.standard_normal((n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(root, "embeddings.parquet"))

    start = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86400 * 10**6
    offsets = np.sort(rng.randint(0, month_us, n_events))
    kinds = ["view", "click", "purchase", "signup", "error"]
    _write(pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(start + offsets.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.randint(0, 1500, n_events), pa.int64()),
        "event_type": [kinds[k] for k in rng.randint(0, len(kinds), n_events)],
        "value": pa.array(np.round(rng.gamma(2.0, 30.0, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n_events)],
    }), os.path.join(root, "events.parquet"))


def content_hash(root: str) -> str:
    """sha256 over every file under ``root`` (relative names + bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()
