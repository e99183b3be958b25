"""DuckDB oracles for the benchmark's outputs, cached on disk.

Catalog gates are checked with the gate's own oracle SQL
(``queries_catalog.ORACLES``) and the value canonicalization of
``tools/verify_local.py``: columns sorted by name, rows sorted, floats
rounded.  The text pipelines are checked with the FIXTURES.md section 2
SQL run on the generated corpus, rendered to the same text lines the
engine's sinks write.

Oracle results are cached under the benchmark's work directory, keyed by
a digest of the input files and the SQL, so a repeated seed does not pay
for the oracles twice.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import pandas as pd
import pyarrow as pa


def _digest(*parts: bytes | str) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else p.encode())
        h.update(b"\0")
    return h.hexdigest()


def file_digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.file_digest(fh, "sha256").hexdigest()


def lines_digest(lines) -> str:
    """Digest of a sequence of text lines, order preserved."""
    return _digest(*lines)


def frame_digest(df: pd.DataFrame) -> dict:
    """Order-insensitive value digest of a result frame, by the rules the
    local correctness gate uses."""
    from tools.verify_local import canon_rows, pandas_rows

    cols = list(df.columns)
    rows = canon_rows(cols, pandas_rows(df))
    return {
        "columns": sorted(cols),
        "rows": len(rows),
        "hash": _digest(*(json.dumps(r) for r in rows)),
    }


class OracleCache:
    """JSON results on disk, one file per key."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def get_or_compute(self, key: str, compute):
        path = os.path.join(self.root, f"{key}.json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)
        value = compute()
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(value, fh)
        os.replace(tmp, path)
        return value


def catalog_oracles(cache: OracleCache, data_dir: str, tables, gates, sql: dict) -> dict:
    """``{gate: digest}`` for each gate, from the oracle SQL over ``data_dir``."""
    data_key = _digest(*(file_digest(os.path.join(data_dir, f"{t}.parquet")) for t in tables))
    con = None
    out = {}
    for gate in gates:
        def compute(gate=gate):
            nonlocal con
            if con is None:
                con = duckdb.connect()
                for t in tables:
                    p = os.path.join(data_dir, f"{t}.parquet")
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            return frame_digest(con.execute(sql[gate]).df())

        out[gate] = cache.get_or_compute(_digest("catalog", gate, sql[gate], data_key), compute)
    if con is not None:
        con.close()
    return out


# FIXTURES.md section 2, idiomatic mode, single document; rendered to the
# exact lines of sinks.render_keyval_text / render_inverted_index_text.
_TOKENS = "unnest(regexp_extract_all(lower(text), '[a-z][a-z'']*'))"
_COUNTS = f"""
    WITH toks AS (SELECT {_TOKENS} AS word FROM corpus_lines)
    SELECT word, count(*) AS cnt FROM toks
    WHERE word NOT IN (SELECT word FROM stop_words)
    GROUP BY word
"""
TEXT_SQL = {
    "word_count": f"""
        SELECT lpad(word, 15, ' ') || ' - ' || cnt AS line
        FROM ({_COUNTS}) ORDER BY cnt ASC, word DESC""",
    "top_k": f"""
        SELECT lpad(word, 15, ' ') || ' - ' || cnt AS line
        FROM ({_COUNTS}) ORDER BY cnt DESC, word DESC LIMIT 50""",
    "inverted_index": f"""
        SELECT word || ' - ' || array_to_string(list_sort(list(DISTINCT line_no)), ', ') AS line
        FROM (SELECT line_no, {_TOKENS} AS word FROM corpus_lines)
        WHERE word NOT IN (SELECT word FROM stop_words)
        GROUP BY word ORDER BY word""",
}


def text_oracles(cache: OracleCache, corpus: str, stop_words) -> dict:
    """``{program: {"lines": n, "hash": digest}}`` of the expected output
    lines, in output order."""
    data_key = _digest(file_digest(corpus), *sorted(stop_words))

    def compute():
        with open(corpus, encoding="ascii") as fh:
            lines = fh.read().split("\n")
        if lines and lines[-1] == "":
            lines.pop()  # a trailing newline ends the last line
        con = duckdb.connect()
        try:
            con.register("lines_arrow", pa.table({"line_no": range(len(lines)), "text": lines}))
            con.execute("CREATE TABLE corpus_lines AS SELECT * FROM lines_arrow")
            con.register("stops_arrow", pa.table({"word": sorted(set(stop_words))}))
            con.execute("CREATE TABLE stop_words AS SELECT * FROM stops_arrow")
            out = {}
            for name, sql in TEXT_SQL.items():
                rows = [r[0] for r in con.execute(sql).fetchall()]
                out[name] = {"lines": len(rows), "hash": lines_digest(rows)}
            return out
        finally:
            con.close()

    return cache.get_or_compute(_digest("text", json.dumps(TEXT_SQL), data_key), compute)
