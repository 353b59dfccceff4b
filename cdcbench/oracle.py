"""Independent DuckDB fold of a change log, compared row for row with a
table dump.

The fold re-implements the loader's contract from the log alone:
payload versions are decoded in SQL, the last writer per key wins by
``(commit_seq, op rank D > U > I)``, deletes hide a key, and for the
``exploded`` shape a document delete hides every child row written
before it.  The table side is whatever the engine's ``read()`` returned,
written to Parquet; the comparison covers every column, token arrays
included.
"""

from __future__ import annotations

import os

import duckdb

TOKENS_COLS = ["doc_id", "tokens", "n_tok", "source", "_commit_seq", "_row_id"]
EXPLODED_COLS = TOKENS_COLS + ["kind", "array_index", "parent_doc_id"]

_OP_RANK = "CASE op WHEN 'D' THEN 3 WHEN 'U' THEN 2 ELSE 1 END"


def columns(shape: str) -> list[str]:
    return TOKENS_COLS if shape == "tokens" else EXPLODED_COLS


def _row_id(t: str) -> str:
    """The engine's surrogate key: sha256 of ``doc_id|commit_seq``."""
    return f"sha256({t}doc_id || '|' || CAST({t}commit_seq AS VARCHAR))"


def _events_sql(log_root: str, watermark: int) -> str:
    glob = os.path.join(log_root, "*", "*.parquet")
    return (
        f"SELECT * FROM read_parquet('{glob}', hive_partitioning = false) "
        f"WHERE commit_seq <= {int(watermark)}"
    )


def expected_sql(shape: str, log_root: str, watermark: int) -> str:
    """SQL of the live rows the table must hold after applying the log
    up to ``watermark``."""
    ev = _events_sql(log_root, watermark)
    if shape == "tokens":
        return f"""
        WITH norm AS (
          SELECT doc_id, op, commit_seq, source,
            CASE WHEN op = 'D' THEN NULL
                 WHEN payload_version = 1 THEN tokens
                 WHEN payload_version = 2 THEN
                   list_transform(string_split(payload, ','),
                                  x -> CAST(x AS INTEGER))
                 ELSE from_json(payload, '{{"ids": ["INTEGER"]}}').ids
            END AS tokens
          FROM ({ev})),
        win AS (
          SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY commit_seq DESC, {_OP_RANK} DESC) AS rn
          FROM norm)
        SELECT doc_id, tokens, CAST(len(tokens) AS INTEGER) AS n_tok, source,
               commit_seq AS _commit_seq, {_row_id("")} AS _row_id
        FROM win WHERE rn = 1 AND op <> 'D'
        """
    if shape != "exploded":
        raise ValueError(f"unknown log shape {shape!r}")
    return f"""
    WITH ev AS ({ev}),
    docs AS (
      SELECT doc_id AS parent, commit_seq, op, source,
             from_json(payload, '{{"block": ["INTEGER"], "txs": [["INTEGER"]]}}') AS p
      FROM ev),
    child AS (
      SELECT parent || '/block/0' AS doc_id, op, commit_seq, source,
             CASE WHEN op <> 'D' THEN p.block END AS tokens,
             'block' AS kind, CAST(0 AS BIGINT) AS array_index,
             parent AS parent_doc_id
      FROM docs
      UNION ALL
      SELECT parent || '/tx/' || CAST(i - 1 AS VARCHAR), op, commit_seq, source,
             p.txs[i], 'tx', CAST(i - 1 AS BIGINT), parent
      FROM (SELECT *, unnest(range(1, len(p.txs) + 1)) AS i
            FROM docs WHERE op <> 'D' AND len(p.txs) > 0)),
    win AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY commit_seq DESC, {_OP_RANK} DESC) AS rn
      FROM child),
    doc_del AS (
      SELECT doc_id AS parent, max(commit_seq) AS del_seq
      FROM ev WHERE op = 'D' GROUP BY doc_id)
    SELECT w.doc_id, w.tokens, CAST(len(w.tokens) AS INTEGER) AS n_tok, w.source,
           w.commit_seq AS _commit_seq, {_row_id("w.")} AS _row_id,
           w.kind, w.array_index, w.parent_doc_id
    FROM win w LEFT JOIN doc_del d ON d.parent = w.parent_doc_id
    WHERE w.rn = 1 AND w.op <> 'D' AND w.commit_seq > coalesce(d.del_seq, -1)
    """


def compare(shape: str, log_root: str, watermark: int, actual_glob: str) -> dict:
    """Row-for-row comparison of the fold with the table dump at
    ``actual_glob``; ``ok`` is true only when both multisets are equal."""
    cols = ", ".join(columns(shape))
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.execute(f"CREATE TEMP TABLE exp AS {expected_sql(shape, log_root, watermark)}")
        con.execute(
            f"CREATE TEMP TABLE act AS SELECT {cols} "
            f"FROM read_parquet('{actual_glob}')"
        )
        n_exp = con.execute("SELECT count(*) FROM exp").fetchone()[0]
        n_act = con.execute("SELECT count(*) FROM act").fetchone()[0]
        missing = con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM exp EXCEPT ALL "
            f"SELECT {cols} FROM act)"
        ).fetchone()[0]
        extra = con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM act EXCEPT ALL "
            f"SELECT {cols} FROM exp)"
        ).fetchone()[0]
    finally:
        con.close()
    return {
        "ok": missing == 0 and extra == 0,
        "expected_rows": n_exp,
        "actual_rows": n_act,
        "missing": missing,
        "extra": extra,
    }
