"""Seeded input generators: the text corpus and the catalog tables.

Both take the seed as an argument and write under a directory the
caller chooses; the same seed always gives byte-identical files.

The text corpus stands in for the lab's real corpora (Dracula.txt,
File2ForLab3.txt), which are not in the repository.  Its words follow a
Zipf law over a vocabulary that contains the engine's stop words, so the
stop filter removes a realistic share of tokens, and it carries the
quirks listed in FIXTURES.md section 1.1: capitalised words,
apostrophes (possessives, contractions, trailing apostrophes), digits
and punctuation, tab-separated lines and empty lines.

The catalog tables are resampled, column by column, from the marginal
distributions measured on the engine's sf0.01 testdata and stored in
``catalog_marginals.json`` (see ``marginals.py``): the same schemas, row
counts, categorical frequencies, numeric quantiles, document vocabulary
and length distribution, and near- and exact-duplicate shares.  Each
table is one parquet file with a single row group, like the testdata.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_CONSONANTS = list("bcdfghjklmnprstvwz") + ["ch", "sh", "th", "st", "br", "gr"]
_VOWELS = list("aeiou") + ["ea", "ou", "ai"]
_PUNCT = np.array([",", ".", ";", "!", "?", ":", '"'])


def _pseudo_words(rng: np.random.Generator, n: int, exclude: set[str]) -> list[str]:
    """``n`` distinct lowercase words of 1-4 syllables, shortest first
    (frequent words are short, as in natural text)."""
    out: list[str] = []
    seen = set(exclude)
    while len(out) < n:
        k = int(rng.choice(4, p=[0.25, 0.4, 0.25, 0.1])) + 1
        w = "".join(
            _CONSONANTS[rng.integers(len(_CONSONANTS))] + _VOWELS[rng.integers(len(_VOWELS))]
            for _ in range(k)
        )
        if rng.random() < 0.3:
            w += _CONSONANTS[rng.integers(len(_CONSONANTS))]
        if w not in seen:
            seen.add(w)
            out.append(w)
    return sorted(out, key=len)


def text_corpus(path: str, seed: int, megabytes: float, stop_words) -> dict:
    """Write a Zipfian text corpus of about ``megabytes`` MB to ``path``.

    Returns a small summary (bytes, lines, vocabulary size)."""
    rng = np.random.default_rng(seed)
    stops = sorted(set(stop_words))
    content = _pseudo_words(rng, 20000, set(stops))
    # apostrophe forms: possessives and trailing-apostrophe words
    content += [w + "'s" for w in content[:600:3]] + [w + "in'" for w in content[1:600:6]]
    # Frequency ranks: the stop words take most of the head of the
    # distribution, as they do in English prose.
    head = list(rng.permutation(stops))
    ranked = head[:40] + list(rng.permutation(head[40:] + content[:400])) + content[400:]
    vocab = np.array(ranked, dtype=object)
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    p /= p.sum()

    n_tokens = int(megabytes * 1e6 / 6.4)
    words = vocab[rng.choice(len(vocab), size=n_tokens, p=p)]
    r = rng.random(n_tokens)
    cap = r < 0.08
    words[cap] = [w.capitalize() for w in words[cap]]
    upper = (r >= 0.08) & (r < 0.09)
    words[upper] = [w.upper() for w in words[upper]]
    num = (r >= 0.09) & (r < 0.1)
    words[num] = rng.integers(1, 2000, size=int(num.sum())).astype(str)
    punct = rng.random(n_tokens) < 0.12
    words[punct] = words[punct] + _PUNCT[rng.integers(len(_PUNCT), size=int(punct.sum()))]

    lengths = 1 + rng.poisson(10, size=n_tokens // 6)
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    bounds = bounds[bounds <= n_tokens]
    kind = rng.random(len(bounds) - 1)
    lines = []
    for i in range(len(bounds) - 1):
        if kind[i] < 0.04:
            lines.append("")
            continue
        seg = words[bounds[i] : bounds[i + 1]]
        if kind[i] < 0.08:
            # tab-separated halves: the reference splits tokens on tabs
            h = len(seg) // 2
            lines.append(" ".join(seg[:h]) + "\t" + " ".join(seg[h:]))
        else:
            lines.append(" ".join(seg))
    data = "\n".join(lines) + "\n"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="ascii") as fh:
        fh.write(data)
    return {"bytes": len(data), "lines": len(lines), "vocabulary": len(vocab)}


# ---------------------------------------------------------------- catalog

_TYPES = {
    "int32": pa.int32(), "int64": pa.int64(), "double": pa.float64(),
    "string": pa.string(), "timestamp[us]": pa.timestamp("us"),
    "list<element: float>": pa.list_(pa.float32()),
}


def _quantile_sample(rng, spec: dict, n: int) -> pa.Array:
    q = np.array(spec["q"])
    x = np.round(np.interp(rng.random(n) * (len(q) - 1), np.arange(len(q)), q), spec["decimals"])
    if spec["sorted"]:
        x = np.sort(x)
    if spec.get("unit") == "day":
        return pa.array(np.rint(x).astype("datetime64[D]").astype("datetime64[us]"))
    if spec.get("unit") == "us":
        return pa.array(np.rint(x).astype("datetime64[us]"))
    return pa.array(x)


def _texts(rng, spec: dict, n: int) -> list[str]:
    """Documents drawn word by word from the measured unigram and length
    distributions, then near-duplicates (another document plus the
    marker word) at the measured share.  Exact duplicates are not
    injected: in the testdata they are near-duplicates of the same
    document, and they arise here the same way."""
    words = np.array(spec["words"])
    lengths = rng.choice(spec["lengths"], size=n, p=spec["length_p"])
    drawn = words[rng.choice(len(words), size=int(lengths.sum()), p=spec["p"])]
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    texts = [" ".join(drawn[bounds[i] : bounds[i + 1]]) for i in range(n)]
    targets = rng.choice(n, size=int(round(spec["near_dup_share"] * n)), replace=False)
    for t in targets:
        src = int(rng.integers(n - 1))
        src += src >= t  # never the document itself
        texts[t] = texts[src] + " " + spec["marker"]
    return texts


def catalog_tables(out_dir: str, seed: int, marginals: dict) -> None:
    """Write the ten catalog tables to ``out_dir``, resampled from
    ``marginals`` (see ``perfbench/marginals.py``) with the measured row
    counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in marginals["tables"].items():
        n = table["rows"]
        cols: dict[str, pa.Array] = {}
        for c, spec in table["columns"].items():
            kind = spec["kind"]
            if kind == "verbatim":
                a = pa.array(spec["values"])
            elif kind == "seq":
                a = pa.array(np.arange(n))
            elif kind == "fmt":
                a = pa.array([f"{spec['prefix']}{i:0{spec['width']}d}" for i in range(n)])
            elif kind == "cat":
                a = pa.array(np.array(spec["values"], dtype=object)[
                    rng.choice(len(spec["values"]), size=n, p=spec["p"])].tolist())
            elif kind == "quantiles":
                a = _quantile_sample(rng, spec, n)
            elif kind == "text":
                a = pa.array(_texts(rng, spec, n))
            elif kind == "chars_of":
                a = pa.array([len(t) for t in cols[spec["column"]].to_pylist()])
            elif kind == "unit_vectors":
                d = spec["dims"]
                m = rng.standard_normal((n, d))
                m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
                a = pa.ListArray.from_arrays(
                    pa.array(np.arange(n + 1, dtype=np.int32) * d), pa.array(m.reshape(-1))
                )
            else:
                raise ValueError(f"{name}.{c}: unknown kind {kind}")
            cols[c] = a.cast(_TYPES[table["types"][c]])
        # one row group per file, like the testdata
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(n, 1))
