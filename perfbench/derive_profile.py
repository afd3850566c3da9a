"""Derive ``profile.json`` — the corpus statistics the seeded generator
draws from — from a star-schema test-data directory.

Usage: python3 perfbench/derive_profile.py <sf_dir> [out.json]

Only aggregate statistics leave the source tables (word frequencies,
document-length range, language/source mix, duplicate shares, embedding
cluster scales), so the benchmark never reads the test data at run time.
"""

from __future__ import annotations

import json
import sys
from collections import Counter
from pathlib import Path

import duckdb
import numpy as np

NEAR_JACCARD = 0.9  # word-bigram Jaccard at which two distinct docs are near copies
NEAR_COSINE = 0.95  # cosine at which two vectors are near duplicates
PASSAGE = 8  # tokens in a shared passage


def doc_duplicates(texts: list[str]) -> dict:
    """Exact copies, near copies (word-bigram Jaccard >= NEAR_JACCARD)
    and docs sharing a PASSAGE-token passage with a doc that is neither
    its exact nor its near copy (boilerplate)."""
    toks = [t.split() for t in texts]
    ix = {w: i for i, w in enumerate(sorted({w for t in toks for w in t}))}
    v = len(ix)
    m = np.zeros((len(toks), v * v), np.float32)
    for r, t in enumerate(toks):
        for a, b in zip(t, t[1:]):
            m[r, ix[a] * v + ix[b]] = 1
    inter = m @ m.T
    n = m.sum(axis=1)
    jac = inter / np.maximum(n[:, None] + n[None, :] - inter, 1)
    np.fill_diagonal(jac, 0)
    copies = jac >= NEAR_JACCARD
    seen: Counter = Counter(texts)
    exact = sum(c - 1 for c in seen.values())
    # a near pair is one original and one copy: half its docs are copies
    near = (copies.any(axis=1).sum() - 2 * exact) / 2
    grams = [{tuple(t[i : i + PASSAGE]) for i in range(len(t) - PASSAGE + 1)} for t in toks]
    owners: dict[tuple, list[int]] = {}
    for d, gs in enumerate(grams):
        for g in gs:
            owners.setdefault(g, []).append(d)
    shared = {d for ds in owners.values() if len(ds) > 1 for d in ds
              if any(not copies[d, e] and texts[d] != texts[e] for e in ds if e != d)}
    near_pairs = np.argwhere(np.triu(copies & (jac < 1)))
    diff = [abs(len(toks[a]) - len(toks[b])) for a, b in near_pairs]
    return {
        "exact_dup_share": round(exact / len(texts), 6),
        "near_dup_share": round(float(near) / len(texts), 6),
        "near_dup_token_diff": int(np.median(diff)) if diff else 0,
        "boilerplate_share": round(len(shared) / len(texts), 6),
    }


def derive(sf_dir: str) -> dict:
    docs = f"'{sf_dir}/documents.parquet'"
    emb = f"'{sf_dir}/embeddings.parquet'"
    words = duckdb.sql(
        f"SELECT w, count(*) AS n FROM (SELECT unnest(string_split(text, ' ')) AS w"
        f" FROM {docs}) GROUP BY w ORDER BY n DESC, w"
    ).fetchall()
    lo, hi = duckdb.sql(
        f"SELECT min(n), max(n) FROM (SELECT len(string_split(text, ' ')) AS n FROM {docs})"
    ).fetchone()
    langs = duckdb.sql(f"SELECT lang, count(*) FROM {docs} GROUP BY 1 ORDER BY 1").fetchall()
    n_sources = duckdb.sql(f"SELECT count(DISTINCT source) FROM {docs}").fetchone()[0]
    texts = [r[0] for r in duckdb.sql(f"SELECT text FROM {docs} ORDER BY doc_id").fetchall()]
    rows = duckdb.sql(f"SELECT label, embedding FROM {emb}").fetchall()
    labels = np.array([r[0] for r in rows])
    vecs = np.array([r[1] for r in rows], dtype=np.float64)
    cents = np.stack([vecs[labels == lab].mean(axis=0) for lab in np.unique(labels)])
    within = np.concatenate([vecs[labels == lab] - cents[i] for i, lab in enumerate(np.unique(labels))])
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = unit @ unit.T
    np.fill_diagonal(cos, -1)
    return {
        "source": {"docs": len(texts), "vectors": len(rows)},
        "vocab": [w for w, _ in words],
        "vocab_weights": [n for _, n in words],
        "doc_tokens": [int(lo), int(hi)],
        "langs": [lang for lang, _ in langs],
        "lang_weights": [n for _, n in langs],
        "n_sources": int(n_sources),
        **doc_duplicates(texts),
        "vectors_per_doc": round(len(rows) / len(texts), 6),
        "dim": int(vecs.shape[1]),
        "n_labels": int(len(cents)),
        "centroid_std": round(float(cents.std()), 6),
        "within_std": round(float(within.std()), 6),
        "vector_near_dup_share": round(float((cos.max(axis=1) >= NEAR_COSINE).mean()), 6),
    }


if __name__ == "__main__":
    out = Path(sys.argv[2]) if len(sys.argv) > 2 else Path(__file__).with_name("profile.json")
    out.write_text(json.dumps(derive(sys.argv[1]), indent=1) + "\n")
