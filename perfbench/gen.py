#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Every input a workload sees is a pure function of (workload, seed):

* ``corpus/``  -- a Zipf text corpus in 8 files (mixed case, tabs, empty
  tokens, blank lines) plus its oracle: ``expected_wc.tsv``
  (lowercased token -> count, the empty token included) and
  ``expected_grep.txt`` (the non-blank lines containing "product", sorted).
* ``tables/`` -- ``documents``, ``embeddings`` and ``events`` parquet tables
  with the engine's test-data schema, read by the traced run's probes. ``doc_id`` and ``vec_id`` share one key
  space (the retrieval and curation queries join on it). A share of the
  documents are perturbed replicas of earlier ones (near duplicates, not
  exact copies), as the curation queries expect.

Usage: gen.py <out_dir> <workload> <seed>
"""
import collections
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "zh", "es", "de", "fr"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]


def corpus(out, rng, files, tokens_per_file):
    """Write the Zipf corpus files and both oracles."""
    os.makedirs(f"{out}/corpus", exist_ok=True)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab_n = 20000
    # word length is a fixed function of frequency rank, so the corpus size
    # in bytes does not swing with the seed; only the letters are drawn
    lens = 2 + (np.arange(vocab_n) * 5) % 8
    vocab = ["".join(rng.choice(letters, n)) for n in lens]
    # a few grep targets at mid-frequency ranks, so about one line in ten
    # matches "product"
    for rank, w in ((40, "product"), (90, "products"), (300, "byproduct")):
        vocab[rank] = w
    vocab = np.array(vocab, dtype=object)
    # case variants: lower, Capitalized, UPPER -- the mappers lowercase
    cased = np.concatenate([vocab, np.char.capitalize(vocab.astype(str)).astype(object),
                            np.char.upper(vocab.astype(str)).astype(object)])
    grep_lines = []
    wc = collections.Counter()
    for f in range(files):
        n = tokens_per_file
        ranks = np.minimum(rng.zipf(1.15, n) - 1, vocab_n - 1)
        case = rng.choice(3, n, p=[0.8, 0.15, 0.05])
        toks = cased[ranks + case * vocab_n]
        # about 1% empty tokens (a doubled separator)
        empty = rng.random(n) < 0.01
        toks = np.where(empty, "", toks)
        # separators: mostly spaces, some tabs, a newline every ~12 tokens
        sep = np.where(rng.random(n) < 0.08, "\t", " ").astype(object)
        sep[rng.random(n) < 1 / 12] = "\n"
        sep[-1] = "\n"
        inter = np.empty(2 * n, dtype=object)
        inter[0::2] = toks
        inter[1::2] = sep
        text = "".join(inter.tolist())
        lines = text.split("\n")[:-1]
        # a few blank lines (each is one empty token for word count)
        for i in rng.choice(len(lines), max(1, len(lines) // 200), replace=False):
            lines[i] = ""
        for line in lines:
            wc.update(line.lower().replace("\t", " ").split(" "))
        body = "\n".join(lines) + "\n"
        with open(f"{out}/corpus/part-{f:02d}.txt", "w") as fh:
            fh.write(body)
        grep_lines += [l for l in lines if l.strip() and "product" in l.lower()]
    with open(f"{out}/expected_wc.tsv", "w") as fh:
        for w in sorted(wc):
            fh.write(f"{w}\t{wc[w]}\n")
    with open(f"{out}/expected_grep.txt", "w") as fh:
        fh.write("".join(l + "\n" for l in sorted(grep_lines)))


def tables(out, rng, n_docs, dim=64):
    os.makedirs(f"{out}/tables", exist_ok=True)
    words = np.array(DOC_WORDS, dtype=object)
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            # perturbed replica of an earlier document: one word swapped
            # and a marker token appended -- a near duplicate
            src = texts[int(rng.integers(0, i))].split(" ")
            src[int(rng.integers(0, len(src)))] = str(rng.choice(words))
            texts.append(" ".join(src + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(words, int(rng.integers(10, 101)))))
    ids = np.arange(n_docs, dtype=np.int64)
    docs = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[int(x)] for x in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    pq.write_table(docs, f"{out}/tables/documents.parquet")
    labels = rng.integers(0, 10, n_docs).astype(np.int32)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] * 0.35 + rng.normal(0, 1, (n_docs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": ids,
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels,
    })
    pq.write_table(emb, f"{out}/tables/embeddings.parquet")
    n_ev = 4 * n_docs
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)) + 1704067200 * 10**6
    events = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[int(x)] for x in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.random(n_ev) * 50, 2),
        "props": [f'{{"k": {int(x)}}}' for x in rng.integers(0, 100, n_ev)],
    })
    pq.write_table(events, f"{out}/tables/events.parquet")


# corpus tokens per file: word count reads about 8 MB, grep about 16 MB, so a
# job of either takes about a second and a run holds several passes
TOKENS_PER_FILE = {"wc_jobs": 150_000, "grep_jobs": 300_000}
WORKLOADS = tuple(TOKENS_PER_FILE)
CORPUS_FILES, DOCUMENTS = 8, 500


def main():
    out, workload, seed = sys.argv[1], sys.argv[2], int(sys.argv[3])
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    corpus(out, rng, CORPUS_FILES, TOKENS_PER_FILE[workload])
    tables(out, rng, DOCUMENTS)


if __name__ == "__main__":
    main()
