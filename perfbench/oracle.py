"""DuckDB BM25 oracle and the result checks of the correctness gate.

The oracle restates the engine's scoring spec from first principles,
in SQL, without importing the engine:

    tokens(text) = [m for m in regexp_matches(lower(text), '[a-z0-9]+')
                    if m not in STOP_WORDS]
    idf(t)       = ln(1 + (N - df + 0.5) / (df + 0.5))
    tf_part      = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    score(q, d)  = sum_t qtf(t) * idf(t) * tf_part(t, d)
    order        = score desc, doc_id asc

with k1 = 1.2 and b = 0.75.
"""

from __future__ import annotations

import duckdb
import pandas as pd

K1, B = 1.2, 0.75
TOKEN_PATTERN = "[a-z0-9]+"
# Lucene's classic 33-word English stop set (StandardAnalyzer default)
STOP_WORDS = (
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with".split())
# scores are compared with this relative tolerance: the engine and the
# oracle sum the same terms in different orders
REL_TOL = 1e-9


def _tokens_sql(table: str, id_col: str, text_col: str) -> str:
    stop = ", ".join(f"'{w}'" for w in STOP_WORDS)
    return f"""
        SELECT {id_col} AS id, term FROM (
            SELECT {id_col}, unnest(regexp_extract_all(
                lower({text_col}), '{TOKEN_PATTERN}')) AS term
            FROM {table})
        WHERE term NOT IN ({stop})"""


def bm25_scores(docs: pd.DataFrame, queries: pd.DataFrame,
                exclude: set[int] | None = None) -> dict[str, list]:
    """Every nonzero BM25 score, per query, ranked.

    docs: (doc_id, text) rows that define the collection statistics.
    queries: (query_id, query) rows. exclude: doc_ids that count in the
    statistics but are never returned (tombstoned, not yet compacted).
    Returns {query_id: [(doc_id, score), ...]} sorted by score desc,
    doc_id asc; a query with no matching doc maps to []."""
    con = duckdb.connect()
    try:
        con.register("docs_in", docs[["doc_id", "text"]])
        con.register("queries_in", queries[["query_id", "query"]])
        con.execute(f"CREATE TABLE toks AS {_tokens_sql('docs_in', 'doc_id', 'text')}")
        con.execute("""
            CREATE TABLE dl AS
            SELECT d.doc_id, count(t.term) AS dl
            FROM docs_in d LEFT JOIN toks t ON t.id = d.doc_id
            GROUP BY d.doc_id""")
        con.execute("""
            CREATE TABLE tf AS
            SELECT id AS doc_id, term, count(*) AS tf FROM toks GROUP BY ALL""")
        con.execute("""
            CREATE TABLE qt AS
            SELECT id AS query_id, term, count(*) AS qtf
            FROM (""" + _tokens_sql("queries_in", "query_id", "query") + """)
            GROUP BY ALL""")
        rows = con.execute(f"""
            WITH st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
            df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
            SELECT qt.query_id, tf.doc_id,
                   sum(qt.qtf * ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5))
                       * tf.tf * ({K1} + 1)
                       / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / st.avgdl)))
                     AS score
            FROM qt JOIN tf USING (term) JOIN df USING (term)
                 JOIN dl USING (doc_id), st
            GROUP BY qt.query_id, tf.doc_id
            ORDER BY qt.query_id, score DESC, tf.doc_id ASC""").fetchall()
    finally:
        con.close()
    out: dict[str, list] = {q: [] for q in queries["query_id"]}
    for qid, doc, score in rows:
        if exclude and doc in exclude:
            continue
        out[qid].append((int(doc), float(score)))
    return out


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def check_topk(got: list, want: list, k: int) -> str | None:
    """Compare one query's engine top-k against a full reference ranking.

    got: [(doc_id, score, rank)] from the engine; want: [(doc_id,
    score)] ranked (the oracle, or another route). Returns None when
    they agree, else a one-line reason. Near-equal scores (within
    REL_TOL) may swap places or straddle the k-th position; anything
    else is a mismatch."""
    n = min(k, len(want))
    if len(got) != n:
        return f"{len(got)} rows, expected {n}"
    got = sorted(got, key=lambda r: r[2])
    if [r[2] for r in got] != list(range(1, n + 1)):
        return "ranks are not 1..n"
    ref = dict(want)
    for doc, score, rank in got:
        if doc not in ref:
            return f"doc {doc} at rank {rank} does not match the query"
        if not _close(score, ref[doc]):
            return f"doc {doc} scored {score!r}, expected {ref[doc]!r}"
    for (_, s1, _), (_, s2, _) in zip(got, got[1:]):
        if s2 > s1 and not _close(s1, s2):
            return "scores are not in descending order"
    if n:
        kth = want[n - 1][1]
        for doc, score, rank in got:
            if score < kth and not _close(score, kth):
                return f"doc {doc} at rank {rank} scores below the k-th"
        returned = {r[0] for r in got}
        for doc, score in want[:n]:
            if doc not in returned and not _close(score, kth):
                return f"doc {doc} (score {score!r}) missing from the top {k}"
    return None


def group_results(rows) -> dict[str, list]:
    """Engine rows (query_id, doc_id, score, rank) -> {query_id: rows}."""
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r[0], []).append((int(r[1]), float(r[2]), int(r[3])))
    return out
