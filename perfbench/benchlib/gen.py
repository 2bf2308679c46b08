"""Seeded input generator.

Every input of every workload is a pure function of (workload, seed). The
engine only ever sees the parquet files written here.

- ``graph_analytics``: a skewed directed edge table (low vertex ids are hot).
- ``curation_store``: a corpus shaped like the sf0.1 ``documents`` and
  ``embeddings`` test tables (which are not part of the checkout), replicated
  xK with a per-replica token suffix (within a replica the near-duplicate
  structure is that of the base corpus, across replicas shingle sets are
  disjoint, so true answers grow linearly with K), ingest chunks with planted
  near-duplicates, lookup batches, and embeddings with append chunks and
  search queries.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes. Chosen so that one pass over a workload's op mix takes a few
# seconds on 4 cores, which gives several complete passes per timed run.
GRAPH_VERTICES = 10_000
GRAPH_EDGES = 60_000
GRAPH_SKEW = 2.2           # vertex id = floor(V * u**skew): low ids are hot
DOC_BASE = 5_000           # base corpus documents per replica, as in sf0.1
DOC_REPLICAS = 2           # the K of the xK corpus
DOC_CHUNK = 60             # fresh documents per ingest chunk (per replica)
DOC_CHUNK_DUPS = 20        # planted near-duplicates per ingest chunk (per replica)
DOC_LOOKUP = 80            # documents per near-dup lookup batch (per replica)
EMB_BASE = 2_000           # base vectors per replica, as in sf0.1
EMB_CHUNK = 150            # vectors per IVF append
EMB_QUERIES = 20           # queries per IVF search
POOL = 24                  # pre-generated chunks; a run never uses them all

# The shape of the sf0.1 documents: 30 words drawn uniformly, 10 to 100 words
# a document, 5% of the documents an earlier one with one or two "dup"
# tokens appended (3-shingle Jaccard 0.8 to 0.99 with it; unrelated documents
# share under 0.1), a language and one of 20 sources.
DOC_WORDS = np.array("a agg batch big column customer data fast filter group hash join key "
                     "line merge order part query row scan slow small sort spark stream "
                     "table the value vector window".split())
DOC_LEN = (10, 100)
DOC_DUP_SHARE = 0.05
DUP_TOKEN = "dup"
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
SOURCES = 20
# The shape of the sf0.1 embeddings: 64-dimensional unit vectors under 10
# labels, each a faint label direction (cosine about 0.07) under isotropic
# noise, so the nearest neighbours of a vector mostly carry other labels.
EMB_DIM = 64
EMB_LABELS = 10
EMB_LABEL_WEIGHT = 0.07

REPLICA_ID_STRIDE = 10_000_000


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


# --------------------------------------------------------------------------
# graph_analytics


def skewed_edges(seed: int, n_v: int = GRAPH_VERTICES, n_e: int = GRAPH_EDGES,
                 skew: float = GRAPH_SKEW) -> np.ndarray:
    """Distinct directed edges without self-loops; both endpoints are drawn
    with density skewed toward low ids, so a few hundred hubs carry most of
    the degree and form the dense core the cyclic patterns enumerate."""
    rng = np.random.default_rng([seed, 2])
    draw = int(n_e * 1.3)
    e = np.stack([(n_v * rng.random(draw) ** skew).astype(np.int64),
                  (n_v * rng.random(draw) ** skew).astype(np.int64)], 1)
    e = e[e[:, 0] != e[:, 1]]
    e = np.unique(e, axis=0)
    e = e[rng.permutation(len(e))[:n_e]]
    return e[np.lexsort((e[:, 1], e[:, 0]))]


def gen_graph(out: str, seed: int) -> dict:
    e = skewed_edges(seed)
    _write(pa.table({"src": e[:, 0], "dst": e[:, 1]}), os.path.join(out, "edges"))
    deg = np.bincount(e.ravel())
    return {"rows": {"edges": len(e)}, "max_degree": int(deg.max())}


# --------------------------------------------------------------------------
# curation_store


def _doc(rng) -> list:
    return list(DOC_WORDS[rng.integers(0, len(DOC_WORDS), rng.integers(DOC_LEN[0], DOC_LEN[1] + 1))])


def _near_dup(rng, words) -> list:
    """The document with one or two dup tokens appended, as the sf0.1
    near-duplicates are: 3-shingle Jaccard (n-2)/(n-1) or (n-2)/n for an
    n-word original, 0.8 to 0.99, where the default MinHash banding (8
    permutations in 2 bands of 4) finds the pair with probability 0.65 to
    above 0.99."""
    return list(words) + [DUP_TOKEN] * int(rng.integers(1, 3))


def _base_corpus(rng) -> list:
    docs = []
    for i in range(DOC_BASE):
        if i >= 10 and rng.random() < DOC_DUP_SHARE:
            docs.append(_near_dup(rng, docs[rng.integers(0, i)]))
        else:
            docs.append(_doc(rng))
    return docs


def _replicate(rng, ids, docs, k: int) -> pa.Table:
    """The documents of every replica, as an sf0.1-shaped table: ids offset
    per replica, every token suffixed with the replica number."""
    n = len(docs)
    out_id, out_text, out_source = [], [], []
    for r in range(k):
        for i, words in zip(ids, docs):
            out_id.append(r * REPLICA_ID_STRIDE + i)
            out_text.append(" ".join(f"{w}_{r}" for w in words))
            out_source.append(f"src{i % SOURCES}_{r}")
    return pa.table({"doc_id": pa.array(out_id, pa.int64()), "text": out_text,
                     "lang": LANGS[rng.choice(len(LANGS), n * k, p=LANG_P)],
                     "source": out_source,
                     "n_chars": pa.array([len(t) for t in out_text], pa.int64())})


def _text_bytes(t: pa.Table) -> int:
    return sum(len(x.encode()) for x in t.column("text").to_pylist())


def _vec_table(ids, vecs) -> pa.Table:
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, len(ids) * vecs.shape[1] + 1, vecs.shape[1], dtype=np.int32))
    return pa.table({"vec_id": pa.array(ids, pa.int64()),
                     "embedding": pa.ListArray.from_arrays(offsets, flat)})


def gen_curation(out: str, seed: int) -> dict:
    rng = np.random.default_rng([seed, 3])
    k = DOC_REPLICAS
    base = _base_corpus(rng)
    corpus = _replicate(rng, range(DOC_BASE), base, k)
    _write(corpus, os.path.join(out, "corpus"))
    chunk_bytes = []
    next_id = DOC_BASE
    for c in range(POOL):
        fresh = [_doc(rng) for _ in range(DOC_CHUNK)]
        fresh_ids = list(range(next_id, next_id + DOC_CHUNK))
        next_id += DOC_CHUNK
        src = rng.choice(DOC_BASE, DOC_CHUNK_DUPS, replace=False)
        dup_ids = list(range(next_id, next_id + DOC_CHUNK_DUPS))
        next_id += DOC_CHUNK_DUPS
        dups = [_near_dup(rng, base[s]) for s in src]
        chunk = _replicate(rng, fresh_ids + dup_ids, fresh + dups, k)
        _write(chunk, os.path.join(out, "chunks", f"c{c:03d}"))
        chunk_bytes.append(_text_bytes(chunk))
    for c in range(POOL):
        src = rng.choice(DOC_BASE, DOC_LOOKUP // 2, replace=False)
        dups = [_near_dup(rng, base[s]) for s in src]
        fresh = [_doc(rng) for _ in range(DOC_LOOKUP - len(dups))]
        lid = list(range(next_id, next_id + DOC_LOOKUP))
        next_id += DOC_LOOKUP
        _write(_replicate(rng, lid, dups + fresh, k), os.path.join(out, "lookups", f"l{c:03d}"))

    # every replica draws its own vectors from the same distribution: copied
    # vectors would tie in every top-k
    labels = rng.normal(size=(EMB_LABELS, EMB_DIM))
    labels /= np.linalg.norm(labels, axis=1, keepdims=True)

    def vecs(n):
        v = (EMB_LABEL_WEIGHT * labels[rng.integers(0, EMB_LABELS, n)]
             + rng.normal(size=(n, EMB_DIM)) / np.sqrt(EMB_DIM))
        return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)

    n_vec = EMB_BASE * k
    _write(_vec_table(list(range(n_vec)), vecs(n_vec)), os.path.join(out, "vectors"))
    vid = n_vec
    for c in range(POOL):
        _write(_vec_table(list(range(vid, vid + EMB_CHUNK)), vecs(EMB_CHUNK)),
               os.path.join(out, "vec_chunks", f"v{c:03d}"))
        vid += EMB_CHUNK
        _write(_vec_table(list(range(c * EMB_QUERIES, (c + 1) * EMB_QUERIES)), vecs(EMB_QUERIES)),
               os.path.join(out, "queries", f"q{c:03d}"))
    return {"rows": {"corpus": corpus.num_rows, "vectors": n_vec},
            "corpus_text_bytes": _text_bytes(corpus), "chunk_text_bytes": chunk_bytes,
            "layout": {"base": DOC_BASE, "chunk": DOC_CHUNK, "dups": DOC_CHUNK_DUPS,
                       "lookup": DOC_LOOKUP, "stride": REPLICA_ID_STRIDE, "pool": POOL,
                       "replicas": k}}


GENERATORS = {"graph_analytics": gen_graph, "curation_store": gen_curation}


def generate(workload: str, out: str, seed: int) -> dict:
    """Write the workload's inputs under ``out`` and return their manifest
    (row counts, sizes and, for the curation corpus, the id layout)."""
    info = GENERATORS[workload](out, seed)
    info["input_bytes"] = sum(os.path.getsize(os.path.join(d, f))
                              for d, _, fs in os.walk(out) for f in fs)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(info, f)
    return info

