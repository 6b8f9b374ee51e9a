"""Output checks: every result is compared with a DuckDB oracle.

- KG workloads: the triple set of ``jobs/kg_construct`` against the
  ``kgspark.oracles`` triple chain evaluated over the generated ground-truth
  text, composed with the pipeline's own defaults (``PipelineConfig``'s keep
  order and category mapping), so the oracle states what the job must emit.
- Operator suite: each query against its ``__spark_entry__.oracle_sql()``
  twin over the same parquet slice.

Rows are compared as multisets of normalised cells (column order and row
order do not matter; a dropped, altered or duplicated row does). Oracle
results are cached on disk under the run's input content hash and the SQL.
"""

from __future__ import annotations

import collections
import datetime
import decimal
import hashlib
import json
import math
import os
import re


def norm_cell(v) -> str:
    """One cell as text: floats to 9 decimals, timestamps naive ISO."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, decimal.Decimal):
        return repr(round(float(v), 9))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def canonical_rows(cols: list[str], rows) -> list[str]:
    """Rows as sorted lines, columns ordered by lower-cased name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)


def compare(got_cols, got_rows, want_cols, want_rows) -> tuple[bool, str]:
    """(equal, reason) for two results as multisets of rows."""
    if sorted(c.lower() for c in got_cols) != sorted(c.lower() for c in want_cols):
        return False, f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    got = collections.Counter(canonical_rows(got_cols, got_rows))
    want = collections.Counter(canonical_rows(want_cols, want_rows))
    if got == want:
        return True, "match"
    extra, missing = got - want, want - got
    return False, (f"{sum(extra.values())} unexpected rows "
                   f"(e.g. {next(iter(extra), None)!r}), "
                   f"{sum(missing.values())} missing rows "
                   f"(e.g. {next(iter(missing), None)!r})")


class OracleCache:
    """DuckDB oracle results on disk, keyed by the run's input content
    hash (``inputs.content_hash``), the views and the SQL."""

    def __init__(self, cache_dir: str):
        self.dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        self.hits = 0
        self.misses = 0

    def result(self, input_hash: str, views: dict[str, str],
               sql: str) -> tuple[list[str], list]:
        """(columns, rows) of ``sql`` with each view ``name -> SELECT ...``
        defined first, over inputs whose content hash is ``input_hash``."""
        key = hashlib.sha256(
            (input_hash + json.dumps(views, sort_keys=True) + sql).encode()
        ).hexdigest()
        path = os.path.join(self.dir, key + ".json")
        if os.path.exists(path):
            self.hits += 1
            with open(path) as fh:
                got = json.load(fh)
            return got["cols"], [tuple(r) for r in got["rows"]]
        self.misses += 1
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 4")
            for name, body in views.items():
                con.execute(f"CREATE VIEW {name} AS {body}")
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = [tuple(norm_cell(c) for c in r) for r in res.fetchall()]
        finally:
            con.close()
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"cols": cols, "rows": rows}, fh)
        os.replace(tmp, path)
        return cols, rows


# ---------------------------------------------------------------------------
# reference spotting
#
# ``oracles.spots_cte`` finds occurrences with a per-position lambda, which
# DuckDB evaluates at about 40 us a position: 285 s for the 240 crawl pages
# of one run. The same definition (ASCII word-boundary substring
# occurrences of every lexicon form, 1-based starts) is computed here with
# ``str.find`` and handed to the oracle SQL as the table ``spots_ref``.


def reference_spots(docs) -> list[tuple]:
    """(doc_id, start, text) for every word-bounded form occurrence."""
    from kgspark.oracles import WORD
    from kgspark.synth import LEXICON_ROWS

    word = re.compile(WORD)
    forms = sorted({r[0] for r in LEXICON_ROWS})
    out = []
    for doc_id, text in docs:
        for f in forms:
            at = text.find(f)
            while at >= 0:
                end = at + len(f)
                if ((at == 0 or not word.match(text[at - 1]))
                        and (end == len(text) or not word.match(text[end]))):
                    out.append((doc_id, at + 1, f))
                at = text.find(f, at + 1)
    return out


def write_reference_spots(docs, path: str, id_type) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = reference_spots(docs)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in rows], id_type),
        "start": pa.array([r[1] for r in rows], pa.int64()),
        "text": pa.array([r[2] for r in rows], pa.string()),
    }), path)


def with_reference_spots(sql: str) -> str:
    """``sql`` with ``oracles.spots_cte`` replaced by the ``spots_ref`` table."""
    from kgspark import oracles

    return sql.replace(
        oracles.spots_cte(),
        "forms AS (SELECT DISTINCT sf FROM lex),\n"
        "  spots AS (SELECT doc_id, start, text FROM spots_ref)")


# ---------------------------------------------------------------------------
# KG triple oracle
def kg_triples_sql() -> str:
    """``oracles.q_triples`` composed with the job's defaults: the keep
    order and category mapping of ``PipelineConfig()`` (``q_triples`` pins
    the operator registry's settings instead)."""
    from kgspark import oracles
    from kgspark.pipeline import PipelineConfig

    cfg = PipelineConfig()
    saved = oracles.TYPE_MAPPING
    oracles.TYPE_MAPPING = list(cfg.mapping)
    try:
        category = oracles.category_sql()
    finally:
        oracles.TYPE_MAPPING = saved
    chain = oracles._kg_chain(
        oracles.lex_cte(), oracles.spots_cte(),
        oracles.cands_cte(cfg.min_support), oracles.linked_cte(cfg.confidence),
        oracles.detect_cte(), oracles.categorize_cte(),
        oracles.resolve_cte(keep=tuple(cfg.keep), tiebreak=cfg.tiebreak),
        oracles.dims_cte(), oracles.canonical_cte(),
        f"typed AS (SELECT *, {category} AS category FROM enriched)",
    )
    # the projection of oracles.q_triples, unchanged
    return chain + oracles.q_triples().split("category FROM enriched)", 1)[1]


def expected_triples(cache: OracleCache, input_hash: str, truth_dir: str):
    """Oracle triples over the ground truth in ``truth_dir``; document id =
    page URL, as ``kg_construct --input-format warc`` keys mentions."""
    return cache.result(
        input_hash,
        {"documents": f"SELECT url AS doc_id, text FROM read_parquet('{truth_dir}/truth.parquet')",
         "spots_ref": f"SELECT * FROM read_parquet('{truth_dir}/spots_ref.parquet')"},
        with_reference_spots(kg_triples_sql()),
    )


def read_triples(path: str) -> tuple[list[str], list]:
    """(subj, pred, obj) rows of a written triple table. ``pred`` comes from
    the partition directory names, which Spark writes %-escaped."""
    from urllib.parse import unquote

    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        res = con.execute(
            "SELECT subj, pred, obj FROM read_parquet(?, hive_partitioning = true)",
            [os.path.join(path, "**", "*.parquet")],
        )
        cols = [d[0] for d in res.description]
        return cols, [(s, unquote(p), o) for s, p, o in res.fetchall()]
    finally:
        con.close()


def assert_generated_forms_absent(truth_path: str, tails: set[str]) -> None:
    """Generated forms are ``<vocab word> <8 hex digits>``: none can be
    spotted unless a tail occurs as a word of the text. Raises if one does,
    since the triple oracle only knows the 31 real forms."""
    import pyarrow.parquet as pq

    words: set[str] = set()
    for text in pq.read_table(truth_path, columns=["text"]).column(0).to_pylist():
        words.update(re.split(r"\s+", text))
    hit = words & tails
    if hit:
        raise ValueError(f"generated lexicon forms occur in the text: {sorted(hit)[:5]}")


# ---------------------------------------------------------------------------
# operator oracles
SLICE_TABLES = ("documents", "embeddings", "events")


def slice_views(slice_dir: str) -> dict[str, str]:
    views = {t: f"SELECT * FROM read_parquet('{slice_dir}/{t}.parquet')"
             for t in SLICE_TABLES}
    views["spots_ref"] = f"SELECT * FROM read_parquet('{slice_dir}/spots_ref.parquet')"
    return views
