#!/usr/bin/env python3
"""Prints the shape of a `documents` table, the figures datagen.py copies.

    python3 perfbench/corpus_stats.py <documents.parquet>

Reports words per document, the vocabulary, exact copies (equal text),
documents carrying the "dup" marker word, languages and sources, and the
near-duplicate structure the dedup pipeline sees: pairs of exact-copy
survivors whose character 3-gram Jaccard similarity is at least 3/5
(`PipelineOps.ngramJaccardOf`'s threshold), and how many documents the
resulting clusters drop. The pair count is all-pairs, so keep the table to a
few thousand rows.
"""

import collections
import hashlib
import sys

import numpy as np
import pyarrow.parquet as pq


def main(path):
    d = pq.read_table(path).to_pydict()
    ids, texts = d["doc_id"], d["text"]
    n = len(texts)
    wc = np.array([len(t.split()) for t in texts])
    vocab = collections.Counter(w for t in texts for w in t.split())
    print(f"documents {n}")
    print(f"words per document: min {wc.min()} p50 {np.median(wc):.0f} "
          f"mean {wc.mean():.1f} max {wc.max()}")
    print(f"vocabulary {len(vocab)}: {' '.join(sorted(vocab))}")
    print(f"documents with the word 'dup': {sum('dup' in t.split() for t in texts)}")

    by_hash = collections.defaultdict(list)
    for i, t in zip(ids, texts):
        by_hash[hashlib.md5(t.encode()).hexdigest()].append(i)
    exact = sum(len(v) - 1 for v in by_hash.values())
    print(f"exact copies {exact} ({exact / n:.2%})")

    keep = {min(v) for v in by_hash.values()}
    survivors = [t for i, t in zip(ids, texts) if i in keep]
    index = {}
    rows = [[index.setdefault(t[k:k + 3], len(index)) for k in range(len(t) - 2)]
            for t in survivors]
    m = np.zeros((len(survivors), len(index)), dtype=np.float32)
    for r, cols in enumerate(rows):
        m[r, cols] = 1
    inter = m @ m.T
    size = m.sum(1)
    near = inter * 5 >= (size[:, None] + size[None, :] - inter) * 3
    np.fill_diagonal(near, False)
    a, b = np.nonzero(np.triu(near, 1))
    parent = list(range(len(survivors)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in zip(a, b):
        parent[find(x)] = find(y)
    clusters = len({find(x) for x in range(len(survivors))})
    print(f"near pairs {len(a)}; documents with a near partner "
          f"{int(near.any(1).sum())}; near drops {len(survivors) - clusters} "
          f"({(len(survivors) - clusters) / n:.2%})")
    print("languages", dict(collections.Counter(d["lang"]).most_common()))
    print("sources", len(set(d["source"])))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
