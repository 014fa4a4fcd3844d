"""Independent DuckDB computations over the committed inputs and outputs.

Nothing here imports the program: each expected value is computed in SQL
from the same parquet files the program read (or wrote), and compared
with what the program reported. The functions run in the benchmark's side
process (``sidecar.py``), which passes its connection as ``db``.
"""

from __future__ import annotations

import random

import duckdb

#: The separators ``str.split()`` uses, written out for RE2: ASCII
#: whitespace, the four information separators, and Unicode's spaces.
WS_RE = (r"[\t\n\v\f\r \x{1c}-\x{1f}\x{85}\x{a0}\x{1680}\x{2000}-\x{200a}"
         r"\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]+")


def connect(threads: int, temp_dir: str) -> duckdb.DuckDBPyConnection:
    db = duckdb.connect()
    db.execute(f"SET threads={int(threads)}")
    db.execute(f"SET temp_directory='{temp_dir}'")
    db.execute("SET TimeZone='UTC'")
    # the side process's standard output carries its replies
    db.execute("SET enable_progress_bar=false")
    return db


def _glob(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def token_stats_sql(pages: str) -> str:
    """Per-document token count and token byte-length min/max/mean."""
    return f"""
        WITH d AS (
          SELECT url, epoch_us(warc_ts) AS ts,
                 list_transform(
                   list_filter(regexp_split_to_array(text, '{WS_RE}'),
                               x -> x <> ''),
                   x -> strlen(x)) AS lens
          FROM {_glob(pages)})
        SELECT url, ts, len(lens) AS n, list_min(lens) AS mn,
               list_max(lens) AS mx, list_avg(lens) AS mean
        FROM d"""


def extraction_expected(db, pages: str) -> dict:
    """Corpus-wide aggregates one extraction pass must reproduce."""
    r = db.execute(f"""
        SELECT count(*), sum(n), min(mn), max(mx), sum(mean)
        FROM ({token_stats_sql(pages)})""").fetchone()
    return {"docs": r[0], "tokens": int(r[1]), "min": float(r[2]),
            "max": float(r[3]), "mean_sum": float(r[4])}


def sample_expected(db, pages: str, seed: int, k: int) -> dict:
    """``k`` urls drawn by ``seed`` and, for every snapshot of them,
    ``[url, ts_us, n, min, max, mean]``."""
    urls = [r[0] for r in db.execute(
        f"SELECT DISTINCT url FROM {_glob(pages)} ORDER BY url").fetchall()]
    urls = random.Random(seed).sample(urls, k)
    rows = db.execute(
        f"SELECT * FROM ({token_stats_sql(pages)}) WHERE list_contains(?, url)",
        [urls]).fetchall()
    return {"urls": urls, "rows": [list(r) for r in rows]}


def refreshed_keys_mismatch(db, table: str, pages: str) -> dict:
    """Key-set equality of the refreshed feature table with the pages."""
    r = db.execute(f"""
        WITH t AS (SELECT url, epoch_us(warc_ts) AS ts FROM {_glob(table)}),
             p AS (SELECT url, epoch_us(warc_ts) AS ts FROM {_glob(pages)})
        SELECT (SELECT count(*) FROM t),
               (SELECT count(*) FROM (SELECT DISTINCT url, ts FROM t)),
               (SELECT count(*) FROM p),
               (SELECT count(*) FROM (SELECT url, ts FROM t EXCEPT
                                      SELECT url, ts FROM p)),
               (SELECT count(*) FROM (SELECT url, ts FROM p EXCEPT
                                      SELECT url, ts FROM t))""").fetchone()
    return {"rows": r[0], "distinct": r[1], "pages": r[2],
            "extra": r[3], "missing": r[4]}


def lineage_rows(db, table: str) -> int:
    return int(db.execute(
        f"SELECT coalesce(sum(rows), 0) FROM {_glob(table + '/_lineage')}"
    ).fetchone()[0])


def served_mismatch(db, served: str, cuts: str, pages: str,
                    gap_s: float) -> dict:
    """Compare the served cuts with DuckDB's own as-of join and
    gaps-and-islands sessions over the committed cut grid and pages."""
    r = db.execute(f"""
        WITH c AS (SELECT url, epoch_us(cut_ts) AS cut FROM {_glob(cuts)}),
             p AS (SELECT url, epoch_us(warc_ts) AS ts FROM {_glob(pages)}),
             want AS (SELECT c.url, c.cut, p.ts FROM c ASOF LEFT JOIN p
                      ON c.url = p.url AND c.cut >= p.ts),
             got AS (SELECT url, epoch_us(cut_ts) AS cut,
                            epoch_us(warc_ts) AS ts, session_id
                     FROM {_glob(served)}),
             gaps AS (SELECT url, cut, lag(cut) OVER (PARTITION BY url
                                                      ORDER BY cut) AS prev
                      FROM c),
             sess AS (SELECT url, sum(CASE WHEN prev IS NULL
                      OR cut - prev > {gap_s * 1e6} THEN 1 ELSE 0 END) AS n
                      FROM gaps GROUP BY url),
             got_sess AS (SELECT url, max(session_id) AS n FROM got
                          GROUP BY url)
        SELECT (SELECT count(*) FROM c), (SELECT count(*) FROM got),
               (SELECT count(*) FROM (
                  SELECT url, cut, coalesce(ts, -1) FROM want EXCEPT ALL
                  SELECT url, cut, coalesce(ts, -1) FROM got)),
               (SELECT count(*) FROM got WHERE ts > cut),
               (SELECT sum(n) FROM sess),
               (SELECT count(*) FROM sess FULL JOIN got_sess USING (url)
                WHERE sess.n IS DISTINCT FROM got_sess.n)""").fetchone()
    return {"cuts": r[0], "served": r[1], "asof_mismatch": r[2],
            "leaks": r[3], "sessions": int(r[4] or 0),
            "session_mismatch": r[5]}
