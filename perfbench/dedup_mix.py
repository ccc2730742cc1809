#!/usr/bin/env python3
"""Measure the duplicate mix of the benchmark's documents, which sets the
composition of dedup_ingest's batches.

Over perfbench/data/docs/documents.parquet, in doc_id order, a document
is an exact duplicate when an earlier document has the same text, and a
near duplicate when it is not exact and an earlier document's 3-word
shingle set has Jaccard similarity >= 0.5 with its own (the engine's
`Dedup` definition: words split on single spaces, shingles of 3
consecutive words, the workload's MinJaccard). Similarity is computed
exactly over every pair that shares a shingle, not estimated. The script
also records how the near pairs differ (every one is a text plus
trailing words), so the batches' perturbed near duplicates can make the
same edit.

    python3 perfbench/dedup_mix.py    # rewrite perfbench/dedup_mix.json
"""
import collections
import itertools
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
DOCS = os.path.join(HERE, "data", "docs", "documents.parquet")
MIX = os.path.join(HERE, "dedup_mix.json")
MIN_JACCARD = 0.5
SHINGLE_WORDS = 3


def shingles(text):
    w = text.split(" ")
    return frozenset(" ".join(w[i:i + SHINGLE_WORDS])
                     for i in range(max(1, len(w) - SHINGLE_WORDS + 1)))


def trailing_append(a, b):
    """The words `b` appends to `a` when `b` is `a` plus trailing words
    (either way round), else None."""
    wa, wb = a.split(" "), b.split(" ")
    if len(wa) > len(wb):
        wa, wb = wb, wa
    return wb[len(wa):] if wb[:len(wa)] == wa else None


def measure():
    import duckdb
    docs = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{DOCS}') ORDER BY doc_id").fetchall()
    text = dict(docs)
    sh = {d: shingles(t) for d, t in docs}
    by_shingle = collections.defaultdict(list)
    for d, s in sh.items():
        for x in s:
            by_shingle[x].append(d)
    shared = collections.Counter()
    for ids in by_shingle.values():
        shared.update(itertools.combinations(sorted(ids), 2))
    pairs = [(a, b) for (a, b), n in shared.items()
             if n / (len(sh[a]) + len(sh[b]) - n) >= MIN_JACCARD]

    exact = {b for a, b in pairs if text[a] == text[b]}
    near_pairs = [(a, b) for a, b in pairs if text[a] != text[b]]
    near = {b for a, b in near_pairs} - exact
    edits = collections.Counter()
    for a, b in near_pairs:
        words = trailing_append(text[a], text[b])
        edits[" ".join(words) if words else None] += 1
    appended = collections.Counter()
    for words, n in edits.items():
        if words:
            appended.update({w: n for w in words.split(" ")})
    return {
        "source": "data/docs/documents.parquet",
        "min_jaccard": MIN_JACCARD,
        "shingle_words": SHINGLE_WORDS,
        "documents": len(docs),
        "exact_dup_docs": len(exact),
        "near_dup_docs": len(near),
        "near_pairs": len(near_pairs),
        "near_pairs_trailing_append": sum(n for w, n in edits.items() if w),
        "appended_word": appended.most_common(1)[0][0] if appended else None,
        # every document in a duplicate pair, either side: the unseen
        # documents of a batch are drawn from the others
        "dup_pair_doc_ids": sorted({d for p in pairs for d in p}),
    }


def main():
    mix = measure()
    with open(MIX, "w") as f:
        json.dump(mix, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{mix['documents']} documents: {mix['exact_dup_docs']} exact and "
          f"{mix['near_dup_docs']} near duplicates; wrote {MIX}")


if __name__ == "__main__":
    main()
