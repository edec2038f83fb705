"""Seeded input generator for the benchmark.

A fixed base corpus is built from a constant structure seed. It has
the duplicate shape of the engine's sf0.1 fixtures (FIXTURES.md: 8
exact-duplicate pairs per 5,000 documents, 5% near duplicates made by
appending one marker token, 64-d unit embeddings in 10 weakly
separated labels), but draws tokens from a 2,000-token Zipf vocabulary
instead of the fixtures' 31 tokens, so near-duplicate candidates are
the planted pairs rather than a third of all pairs. The
run's ``--seed`` then applies structure-preserving transforms:

* documents: a seeded vocabulary permutation (every base token maps to
  a fresh seeded token of the same length) and a seeded two-letter
  prefix per copy, so the k copies of a scaled corpus never share a
  token;
* embeddings: a seeded dimension permutation plus sign flips per copy.
  This is an orthogonal map, so every distance inside a copy is kept.

Duplicate structure and distances therefore do not move from seed to
seed while every token and coordinate does. The files are written by
pyarrow with fixed options, so a (seed, rows, k) triple always gives
byte-identical parquet, and ``ensure`` reuses a finished directory.

    python3 perfbench/gen.py <out_dir> <seed> <table>:<base_rows>:<k> ...
"""
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STRUCTURE_SEED = 20180101
VOCAB_SIZE = 2000
ZIPF_S = 1.0
LANGS = [("en", 0.41), ("es", 0.15), ("zh", 0.15), ("de", 0.14), ("fr", 0.15)]
DIM = 64
LABELS = 10
LETTERS = "abcdefghijklmnopqrstuvwxyz"


def base_vocab():
    """Lengths of the base tokens, most frequent first."""
    rng = random.Random(STRUCTURE_SEED)
    return [rng.randint(3, 9) for _ in range(VOCAB_SIZE)]


def base_documents(n):
    """(token ids, lang, source) rows of the fixed base corpus: Zipf
    token frequencies, 10..100 tokens per document."""
    rng = random.Random(STRUCTURE_SEED)
    cum, total = [], 0.0
    for r in range(VOCAB_SIZE):
        total += 1.0 / (r + 1) ** ZIPF_S
        cum.append(total)
    langs, weights = zip(*LANGS)
    docs = []
    for i in range(n):
        toks = rng.choices(range(VOCAB_SIZE), cum_weights=cum,
                           k=rng.randint(10, 100))
        docs.append([toks, rng.choices(langs, weights)[0], f"src{i % 20}"])
    ids = list(range(n))
    rng.shuffle(ids)
    n_exact = max(1, n * 8 // 5000)
    n_near = n // 20
    # exact duplicates copy another doc's text, near duplicates copy it
    # and append one marker token
    for j, i in enumerate(ids[:n_exact + n_near]):
        src = docs[rng.randrange(n)][0]
        docs[i][0] = list(src) if j < n_exact else list(src) + [VOCAB_SIZE]
    return docs


def seeded_vocab(rng):
    """Base token id -> fresh token of the same length, all distinct;
    id VOCAB_SIZE is the near-duplicate marker."""
    out, used = [], set()
    for length in base_vocab() + [3]:
        while True:
            cand = "".join(rng.choice(LETTERS) for _ in range(length))
            if cand not in used:
                break
        used.add(cand)
        out.append(cand)
    return out


def documents(seed, n, k):
    rng = random.Random(seed)
    vocab = seeded_vocab(rng)
    prefixes = []
    while len(prefixes) < k:
        p = rng.choice(LETTERS) + rng.choice(LETTERS)
        if p not in prefixes:
            prefixes.append(p)
    base = base_documents(n)
    ids, texts, langs, sources, nchars = [], [], [], [], []
    for c, pre in enumerate(prefixes):
        for i, (toks, lang, source) in enumerate(base):
            text = " ".join(pre + vocab[t] for t in toks)
            ids.append(c * n + i)
            texts.append(text)
            langs.append(lang)
            sources.append(source)
            nchars.append(len(text))
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array(nchars, pa.int64()),
    })


def base_embeddings(n):
    rng = np.random.default_rng(STRUCTURE_SEED)
    centroids = rng.normal(size=(LABELS, DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, LABELS, size=n)
    x = 0.6 * centroids[labels] + rng.normal(scale=1.0, size=(n, DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32), labels.astype(np.int32)


def embeddings(seed, n, k):
    rng = np.random.default_rng(seed)
    x, labels = base_embeddings(n)
    vecs, labs = [], []
    for _ in range(k):
        perm = rng.permutation(DIM)
        signs = rng.choice(np.array([-1.0, 1.0], np.float32), size=DIM)
        vecs.append(x[:, perm] * signs)
        labs.append(labels)
    flat = np.concatenate(vecs)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, flat.size + 1, DIM, dtype=np.int32)),
        pa.array(flat.reshape(-1)))
    return pa.table({
        "vec_id": pa.array(np.arange(n * k, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(np.concatenate(labs)),
    })


TABLES = {"documents": documents, "embeddings": embeddings}


def ensure(root, seed, specs):
    """Write the tables named by specs [(table, base_rows, k)] for seed
    under root and return the directory; an existing one is reused."""
    name = "_".join(f"{t}-{n}x{k}" for t, n, k in specs)
    out = os.path.join(root, f"seed{seed}_{name}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    os.makedirs(out, exist_ok=True)
    for table, n, k in specs:
        pq.write_table(TABLES[table](seed, n, k),
                       os.path.join(out, f"{table}.parquet"),
                       compression="snappy", row_group_size=1 << 20)
    open(os.path.join(out, "_DONE"), "w").close()
    return out


if __name__ == "__main__":
    specs = [(t, int(n), int(k)) for t, n, k in
             (a.split(":") for a in sys.argv[3:])]
    print(ensure(sys.argv[1], int(sys.argv[2]), specs))
