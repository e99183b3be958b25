"""Measure the catalog tables' column marginals, for the seeded generator.

    python3 perfbench/marginals.py DIR SF

DIR holds the ten ``<table>.parquet`` files of the engine's testdata at
scale factor SF.  The script writes ``perfbench/catalog_marginals.json``,
which ``datagen.catalog_tables`` resamples from at the same scale: the
benchmark reads only files of its own checkout, so it carries the
measured distributions instead of the tables.

Each column is described by one of these kinds:

- ``verbatim``: the whole column (tables of at most 25 rows);
- ``seq``: the row index (primary keys);
- ``fmt``: a prefix and the zero-padded row index (``Customer#000000042``);
- ``cat``: at most 100 distinct values with their frequencies;
- ``quantiles``: 257 quantiles of a numeric or timestamp column, with its
  decimals (or day granularity) and whether it is sorted in file order;
- ``text``: word frequencies, words per document, and the shares of
  near-duplicates (another document plus a trailing marker word) and of
  exact duplicates;
- ``chars_of``: the length in characters of another column;
- ``unit_vectors``: random unit vectors of the measured dimension.
"""

from __future__ import annotations

import collections
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
MARGINALS = os.path.join(HERE, "catalog_marginals.json")
N_QUANTILES = 257
US_PER_DAY = 86_400 * 10**6


def _decimals(v: np.ndarray) -> int:
    for d in range(7):
        if np.allclose(np.round(v, d), v, rtol=0, atol=1e-9):
            return d
    return 7


def _text(values: list[str]) -> dict:
    counts = collections.Counter(values)
    distinct = set(values)
    words = collections.Counter(w for t in values for w in t.split(" "))
    # near-duplicates end with a marker word that is rare elsewhere
    marker, near = None, 0
    for w, _ in words.most_common()[::-1]:
        n = sum(t.endswith(" " + w) and t[: -len(w) - 1] in distinct for t in values)
        if n >= 0.01 * len(values):
            marker, near = w, n
            break
    base = [t for t in values if marker is None or not t.endswith(" " + marker)]
    vocab = collections.Counter(w for t in base for w in t.split(" "))
    lengths = collections.Counter(len(t.split(" ")) for t in base)
    return {
        "kind": "text",
        "words": sorted(vocab),
        "p": [vocab[w] / sum(vocab.values()) for w in sorted(vocab)],
        "lengths": sorted(lengths),
        "length_p": [lengths[n] / len(base) for n in sorted(lengths)],
        "marker": marker,
        "near_dup_share": near / len(values),
        "exact_dup_share": sum(n - 1 for n in counts.values()) / len(values),
    }


def _column(tb: pa.Table, name: str) -> dict:
    col = tb.column(name)
    n = tb.num_rows
    if n <= 25:
        return {"kind": "verbatim", "values": col.to_pylist()}
    if pa.types.is_list(col.type):
        m = np.array(col.to_pylist(), dtype=np.float64)
        norms = np.linalg.norm(m, axis=1)
        return {"kind": "unit_vectors", "dims": m.shape[1], "norm_max_error": float(abs(norms - 1).max())}
    values = col.to_pylist()
    if pa.types.is_string(col.type):
        if np.mean([len(v) for v in values]) > 40:
            return _text(values)
        prefix = values[0].rstrip("0123456789")
        width = len(values[0]) - len(prefix)
        if all(v == f"{prefix}{i:0{width}d}" for i, v in enumerate(values)):
            return {"kind": "fmt", "prefix": prefix, "width": width}
    if pa.types.is_integer(col.type):
        if values == list(range(n)):
            return {"kind": "seq"}
        for other in tb.column_names:
            if pa.types.is_string(tb.column(other).type) and values == [
                len(v) for v in tb.column(other).to_pylist()
            ]:
                return {"kind": "chars_of", "column": other}
    distinct = collections.Counter(values)
    if len(distinct) <= 100:
        keys = sorted(distinct, key=str)
        if pa.types.is_timestamp(col.type):
            raise ValueError(f"categorical timestamp column {name}")
        return {"kind": "cat", "values": keys, "p": [distinct[k] / n for k in keys]}
    if pa.types.is_timestamp(col.type):
        v = np.array(col.cast(pa.int64()), dtype=np.int64)
        day = bool((v % US_PER_DAY == 0).all())
        x = v // US_PER_DAY if day else v
        spec = {"unit": "day" if day else "us", "decimals": 0}
    else:
        x = np.array(values, dtype=np.float64)
        v = x
        spec = {"decimals": 0 if pa.types.is_integer(col.type) else _decimals(x)}
    q = np.quantile(x, np.linspace(0.0, 1.0, N_QUANTILES))
    return {
        "kind": "quantiles",
        "q": [round(float(a), 6) for a in q],
        "sorted": bool((np.diff(v) >= 0).all()),
        **spec,
    }


def measure(sf_dir: str, sf: float) -> dict:
    from lab3_spark.sources.tables import TABLES

    out = {"source_sf": sf, "tables": {}}
    for t in TABLES:
        tb = pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
        out["tables"][t] = {
            "rows": tb.num_rows,
            "types": {f.name: str(f.type) for f in tb.schema},
            "columns": {c: _column(tb, c) for c in tb.column_names},
        }
    return out


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    result = measure(sys.argv[1], float(sys.argv[2]))
    with open(MARGINALS, "w") as fh:
        json.dump(result, fh, indent=1)
        fh.write("\n")
    print(f"wrote {MARGINALS}")
