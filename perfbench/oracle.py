"""Independent DuckDB oracle and strict result comparison.

The comparison is the repository's own strict, type-tagged one
(`tools/oracle_check.py`, `table_of`): both sides are read through
pandas, columns are sorted by name, rows are sorted, and ints, floats,
timestamps, dates and strings are distinct classes, so an int/float or
value difference is a failure. Spark's own output is never the expected
value.
"""
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from oracle_check import table_of  # noqa: E402  (strict mode is its default)

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def connect(table_dir=None, views=None):
    """A DuckDB connection with the catalog tables of ``table_dir`` (or
    the given {view: sql}) registered as views."""
    con = duckdb.connect()
    con.execute("SET threads=2")
    if table_dir:
        for t in TABLES:
            p = os.path.join(table_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    for name, sql in (views or {}).items():
        con.execute(f"CREATE OR REPLACE VIEW {name} AS {sql}")
    return con


def expected(con, sql):
    return table_of(con.sql(sql))


def compare(con, result_dir, want):
    """None when the Spark result under ``result_dir`` equals ``want``
    (a (cols, rows) pair), else a one-line reason."""
    files = sorted(os.path.join(result_dir, f) for f in os.listdir(result_dir)
                   if f.endswith(".parquet"))
    if not files:
        return "no result written"
    got_cols, got = table_of(con.sql(f"SELECT * FROM read_parquet({files!r})"))
    want_cols, want_rows = want
    if got_cols != want_cols:
        return f"schema: spark={got_cols} oracle={want_cols}"
    if len(got) != len(want_rows):
        return f"rows: spark={len(got)} oracle={len(want_rows)}"
    for a, b in zip(got, want_rows):
        if a != b:
            return f"values: first diff spark={a} oracle={b}"
    return None


# --------------------------------------------------------------- ingest

_FP = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"


def ingest_views(base, batches):
    """DuckDB views for the ingest oracle: ``base`` (the static corpus),
    ``staged`` (the batches drained so far) and ``sink`` (the expected
    dedup-against output, the q_subscribe_dedup_against algebra)."""
    staged = " UNION ALL ".join(
        f"SELECT doc_id, text FROM read_parquet('{b}')" for b in batches) or \
        "SELECT doc_id, text FROM read_parquet('%s') WHERE false" % base
    return {
        "base": f"SELECT doc_id, text FROM read_parquet('{base}')",
        "staged": staged,
        "sink": f"""
          WITH cfp AS (SELECT {_FP} AS fp, doc_id FROM base WHERE text IS NOT NULL),
          m AS (SELECT fp, min(doc_id) AS dup_of FROM cfp GROUP BY fp),
          bfp AS (SELECT doc_id, CASE WHEN text IS NULL THEN NULL ELSE {_FP} END AS fp
                  FROM staged)
          SELECT b.doc_id, (m.dup_of IS NOT NULL) AS is_dup, m.dup_of
          FROM bfp b LEFT JOIN m ON m.fp = b.fp""",
        "documents": """
          SELECT doc_id, text FROM base
          UNION ALL
          SELECT s.doc_id, s.text FROM staged s JOIN sink k USING (doc_id) WHERE NOT k.is_dup""",
    }


SINK_SQL = "SELECT doc_id, is_dup, dup_of FROM sink"

READ_SQL = "SELECT is_dup, count(*)::BIGINT AS n FROM sink GROUP BY is_dup"


def bm25_sql(queries_path, qids, k):
    """q_bm25_topk's BM25 over ``documents`` for the given probe texts."""
    return f"""
        WITH tok AS (
          SELECT doc_id, list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
          FROM documents WHERE text IS NOT NULL
        ),
        post AS (
          SELECT doc_id, t, count(*)::DOUBLE AS tf
          FROM (SELECT doc_id, unnest(w) AS t FROM tok) GROUP BY doc_id, t
        ),
        dl AS (SELECT doc_id, len(w)::BIGINT AS dl FROM tok),
        st AS (SELECT count(*)::DOUBLE AS n, avg(dl::DOUBLE) AS avgdl FROM dl),
        idf AS (
          SELECT t,
            ln(1 + ((SELECT n FROM st) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
          FROM post GROUP BY t
        ),
        q AS (
          SELECT DISTINCT qid AS query_id, t
          FROM (SELECT qid, unnest(list_filter(
                  string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS t
                FROM read_parquet('{queries_path}')
                WHERE qid IN ({', '.join(str(q) for q in qids)}))
        ),
        terms AS (
          SELECT q.query_id, p.doc_id AS corpus_id,
            i.idf * (p.tf * (1.2 + 1)) /
              (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / (SELECT avgdl FROM st))) AS term
          FROM q JOIN post p USING (t) JOIN idf i USING (t)
          JOIN dl d ON d.doc_id = p.doc_id
        ),
        scored AS (
          SELECT query_id, corpus_id, round(sum(term) + 5e-9, 4) AS bm25
          FROM terms GROUP BY query_id, corpus_id
        ),
        ranked AS (
          SELECT query_id, corpus_id, bm25,
            row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, corpus_id) AS rank
          FROM scored
        )
        SELECT query_id, corpus_id, bm25, rank::INTEGER AS rank
        FROM ranked WHERE rank <= {k}"""
