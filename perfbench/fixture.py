"""Input generation for the benchmark.

Every input the engine sees is made here: a ``lineitem`` table with the
columns and types of the repository's TPC-H-style test table (200,000
rows, a third of sf0.1, so that a run of the benchmark fits a warm-up epoch and timed
ones), and, from ``--seed``, a ``documents`` / ``embeddings`` corpus with
planted exact duplicates, near duplicates, shared boilerplate spans,
low-quality documents, eval contamination and near-duplicate vectors,
so every curation step has work to do.  The same seed gives the same
files on any machine (numpy PCG64 + pyarrow).

Beside the tables, ``expect.npz`` holds what the checks need and the
engine never sees: each ``row_id``'s ``l_quantity`` and ``l_returnflag`` code under
the engine's row-id rule (rank of ``l_orderkey, l_linenumber,
l_extendedprice``), and each document's language code.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

FLAGS = np.array(["A", "N", "R"])
# skewed on purpose: class-balanced sampling then has real work to do
FLAG_P = np.array([0.5, 0.3, 0.2])
LANGS = np.array(["de", "en", "es", "fr", "zh"])


@dataclass(frozen=True)
class Sizes:
    lineitem_rows: int = 200_000
    documents: int = 2_000
    embeddings: int = 1_000


FULL = Sizes()
# lineitem does not vary with --seed: the seed drives the sampling plans
# (strategy and fetch-shuffle seeds) and the corpus, and one lineitem
# ingest per checkout keeps a run of a new seed from paying it
LINEITEM_SEED = 20_240
# the warm-up pass and the tests run the same code paths on this scale
TINY = Sizes(lineitem_rows=6_000, documents=200, embeddings=100)


def lineitem(rng: np.random.Generator, n: int):
    """Columns of an sf-shaped lineitem with exactly ``n`` rows, in a
    shuffled file order, plus the per-row_id expectations."""
    lines = rng.integers(1, 8, size=n // 2 + 8)  # 1..7 lines per order, cut at n rows
    okey = np.repeat(np.arange(lines.size, dtype=np.int64), lines)[:n]
    lnum = (np.arange(okey.size) - np.searchsorted(okey, okey)).astype(np.int32) + 1
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(rng.uniform(900.0, 105_000.0, size=n), 2)
    flag_code = rng.choice(3, size=n, p=FLAG_P)
    cols = {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, 20_000, size=n),
        "l_suppkey": rng.integers(0, 1_000, size=n),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, size=n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, size=n) / 100.0, 2),
        "l_returnflag": FLAGS[flag_code],
        "l_linestatus": np.where(rng.random(n) < 0.5, "O", "F"),
        "l_shipdate": (
            np.datetime64("1995-01-01")
            + rng.integers(0, 2500, size=n).astype("timedelta64[D]")
        ).astype("datetime64[us]"),
    }
    # (okey, lnum) is unique and generated in order, so row_id = index
    # here; the file itself is shuffled so the ingest has to sort
    order = rng.permutation(n)
    expect = {"l_quantity": qty, "flag_code": flag_code}
    return {k: v[order] for k, v in cols.items()}, expect


def _words(rng: np.random.Generator, vocab: np.ndarray, k: int) -> list[str]:
    return list(vocab[rng.integers(0, vocab.size, size=k)])


def documents(rng: np.random.Generator, n: int):
    """Corpus with planted work for every curation step (shares are per
    document, drawn independently)."""
    vocab = np.array([f"w{i:04d}" for i in range(3_000)])
    boiler = [_words(rng, vocab, 12) for _ in range(5)]
    texts: list[list[str]] = []
    for i in range(n):
        u = rng.random()
        if i > 20 and u < 0.03:  # exact duplicate
            toks = list(texts[int(rng.integers(0, i))])
        elif i > 20 and u < 0.09:  # near duplicate: ~1 word in 25 changed
            toks = list(texts[int(rng.integers(0, i))])
            for j in range(len(toks)):
                if rng.random() < 0.04:
                    toks[j] = vocab[int(rng.integers(0, vocab.size))]
        elif u < 0.12:  # low quality: a short repeated 2-gram
            pair = _words(rng, vocab, 2)
            toks = pair * int(rng.integers(5, 15))
        else:
            toks = _words(rng, vocab, int(rng.integers(10, 101)))
            if rng.random() < 0.12:  # shared boilerplate span
                at = int(rng.integers(0, len(toks) + 1))
                toks[at:at] = boiler[int(rng.integers(0, len(boiler)))]
        texts.append(toks)
    # eval contamination: a train doc (id % 10 != 3) quotes 8 words
    # of an eval doc (id % 10 == 3)
    evals = np.arange(3, n, 10)
    for i in range(n):
        if i % 10 != 3 and rng.random() < 0.04 and evals.size:
            src = texts[int(evals[rng.integers(0, evals.size)])]
            at = int(rng.integers(0, max(1, len(src) - 8)))
            texts[i] = texts[i] + src[at : at + 8]
    text = np.array([" ".join(t) for t in texts], dtype=object)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": LANGS[rng.integers(0, LANGS.size, size=n)],
        "source": np.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }


def embeddings(rng: np.random.Generator, n: int, dim: int = 64):
    """Clustered unit vectors; ~5 % are near copies (cosine > 0.99) of
    an earlier vector, which is what semantic dedup removes."""
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, size=n).astype(np.int32)
    vec = centers[label] + rng.normal(scale=1.5, size=(n, dim))
    dup = np.flatnonzero((rng.random(n) < 0.05) & (np.arange(n) > 0))
    for i in dup:
        j = int(rng.integers(0, i))
        vec[i] = vec[j] + rng.normal(scale=0.02, size=dim)
        label[i] = label[j]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vec.astype(np.float32)),
        "label": label,
    }


def _write(out_dir: str, tables: dict, expect: dict) -> None:
    """Each table as one parquet file under ``out_dir``, written to a
    temporary directory first; ``expect.npz`` holds the expectations."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = out_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, cols in tables.items():
        table = pa.table({k: pa.array(v) for k, v in cols.items()})
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    np.savez(os.path.join(tmp, "expect.npz"), **expect)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)


def write_lineitem(out_dir: str, rows: int = FULL.lineitem_rows) -> None:
    """The lineitem table, the same for every seed (``LINEITEM_SEED``)."""
    li, expect = lineitem(np.random.default_rng(LINEITEM_SEED), rows)
    _write(out_dir, {"lineitem": li}, expect)


def write_corpus(out_dir: str, seed: int, sizes: Sizes = FULL) -> None:
    """The seed's ``documents`` and ``embeddings``."""
    rng = np.random.default_rng(seed)
    docs = documents(rng, sizes.documents)
    emb = embeddings(rng, sizes.embeddings)
    _write(
        out_dir,
        {"documents": docs, "embeddings": emb},
        {"lang_code": np.searchsorted(LANGS, docs["lang"])},
    )


def load_expect(*data_dirs: str) -> dict[str, np.ndarray]:
    out = {}
    for d in data_dirs:
        with np.load(os.path.join(d, "expect.npz")) as z:
            out.update({k: z[k] for k in z.files})
    return out
