"""Seeded input generators. The same seed and size give the same bytes.

Word-count corpora are `\\r\\n`-terminated lines of space-separated words,
split into PARTS files, plus `expect.json`: the reference count's number of
distinct words, total words and fingerprint (see `fingerprint`). Every word
is WORD_LEN letters, the base-26 spelling of an integer id ('a' = 0), so
the checker can recover ids from the engine's output.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORD_LEN = 6
WORDS_PER_LINE = 10
PARTS = 8
ID_SPACE = 26 ** WORD_LEN
# Zipf vocabulary: four times the map-side combiner's 2^16-key capacity
ZIPF_VOCAB = 1 << 18
ZIPF_EXPONENT = 1.1


def encode(ids):
    """(n,) word ids -> (n, WORD_LEN) uint8 letters."""
    place = np.uint64(26) ** np.arange(WORD_LEN - 1, -1, -1, dtype=np.uint64)
    return ((ids[:, None] // place) % np.uint64(26) + np.uint64(97)).astype(np.uint8)


def fingerprint(ids, counts):
    """Wrapping uint64 sum of splitmix64(id * golden + count) over the
    distinct words; the Scala checker computes the same from the output."""
    with np.errstate(over="ignore"):
        z = ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) + counts.astype(np.uint64)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
        return int(z.sum(dtype=np.uint64))


def corpus_lines(ids):
    """Word ids -> (lines, bytes-per-line) uint8 array of text lines."""
    words = encode(ids).reshape(-1, WORDS_PER_LINE, WORD_LEN)
    lines = np.full((words.shape[0], WORDS_PER_LINE, WORD_LEN + 1), ord(" "), np.uint8)
    lines[:, :, :WORD_LEN] = words
    lines = lines.reshape(words.shape[0], -1)
    lines[:, -1] = ord("\r")
    return np.concatenate([lines, np.full((lines.shape[0], 1), ord("\n"), np.uint8)], axis=1)


def word_ids(kind, seed, mb):
    """The corpus as word ids: Zipf-distributed over a fixed vocabulary, or
    uniform over the whole id space (so nearly every word is distinct)."""
    rng = np.random.default_rng([seed, 0 if kind == "zipf" else 1])
    line_bytes = WORDS_PER_LINE * (WORD_LEN + 1) + 1
    lines = int(mb * 1e6 / line_bytes) // PARTS * PARTS
    n = lines * WORDS_PER_LINE
    if kind == "zipf":
        vocab = rng.choice(ID_SPACE, ZIPF_VOCAB, replace=False).astype(np.uint64)
        weights = 1.0 / np.arange(1, ZIPF_VOCAB + 1) ** ZIPF_EXPONENT
        cdf = np.cumsum(weights / weights.sum())
        ranks = np.minimum(np.searchsorted(cdf, rng.random(n)), ZIPF_VOCAB - 1)
        return vocab[ranks]
    return rng.integers(0, ID_SPACE, n, dtype=np.uint64)


def write_wc(out, kind, seed, mb):
    ids = word_ids(kind, seed, mb)
    text = corpus_lines(ids)
    for i, part in enumerate(np.array_split(text, PARTS)):
        with open(os.path.join(out, f"part-{i:04d}.txt"), "wb") as f:
            f.write(part.tobytes())
    uniq, counts = np.unique(ids, return_counts=True)
    expect = {"keys": len(uniq), "total": len(ids),
              "fingerprint": str(fingerprint(uniq, counts))}
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump(expect, f)


def ensure(root, name, write, *args):
    """Directory `root/name` holding write(dir, *args)'s output, made once."""
    out = os.path.join(root, name)
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    write(out, *args)
    open(os.path.join(out, ".complete"), "w").close()
    return out


# Catalog tables: the columns the benchmark's catalog queries read, typed
# like the engine's test tables (TESTDATA.md).
VOCAB = ("the a data row column table key value join group sort merge hash "
         "scan filter agg window batch stream spark query order line part "
         "customer vector big small fast slow dup").split()
LANGS = ("en", "fr", "es", "zh", "de")
SOURCES = 20
EMBED_DIM = 64


def write_parquet(path, columns):
    # fixed writer settings, so the same columns give the same bytes
    pq.write_table(pa.table(columns), path, compression="snappy", write_statistics=False)


def documents(rng, n, dup_share):
    """n documents of 10-80 vocabulary words; a dup_share of them copy an
    earlier document with one or two words replaced (near-duplicates)."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 81)))]
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % SOURCES}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def lineitem(rng, n):
    """n TPC-H-style line items; money and rates have two decimals."""
    orders = max(1, n // 4)
    day0 = np.datetime64("1995-01-01", "us")
    return {
        "l_orderkey": pa.array(rng.integers(0, orders, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, 200, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 10, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(rng.integers(100000, 10000000, n) / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, n)]),
        "l_linestatus": pa.array([("F", "O")[j] for j in rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(day0 + rng.integers(0, 2500, n) * np.timedelta64(1, "D")),
    }


def write_catalog(out, seed, docs, items):
    rng = np.random.default_rng([seed, 2])
    write_parquet(os.path.join(out, "documents.parquet"), documents(rng, docs, 0.1))
    write_parquet(os.path.join(out, "lineitem.parquet"), lineitem(rng, items))


def embeddings(seed, n, planted):
    """n unit-scale 64-d vectors around 16 centres; `planted` odd ids are
    near-copies of the preceding even id (cross-parity near-duplicates)."""
    rng = np.random.default_rng([seed, 3])
    centres = rng.normal(0, 1, (16, EMBED_DIM))
    v = centres[rng.integers(0, 16, n)] + rng.normal(0, 0.8, (n, EMBED_DIM))
    pairs = rng.choice(n // 2, planted, replace=False)
    v[2 * pairs + 1] = v[2 * pairs] + rng.normal(0, 0.02, (planted, EMBED_DIM))
    return v.astype(np.float32)


def write_stream(out, seed, batches, rows):
    """The embedding stream: `batches` files `batch-NNNN.parquet` of `rows`
    vectors each, in a seeded order, and `embeddings.parquet`, the whole
    corpus for the one-shot reference mining."""
    n = batches * rows
    v = embeddings(seed, n, n // 8)
    vec = lambda ids: pa.array(list(v[ids]), type=pa.list_(pa.float32()))
    ids = np.arange(n, dtype=np.int64)
    write_parquet(os.path.join(out, "embeddings.parquet"),
                  {"vec_id": pa.array(ids), "embedding": vec(ids)})
    order = np.random.default_rng([seed, 4]).permutation(n)
    for b in range(batches):
        part = np.sort(order[b * rows:(b + 1) * rows])
        write_parquet(os.path.join(out, f"batch-{b:04d}.parquet"),
                      {"vec_id": pa.array(part), "embedding": vec(part)})
