"""Seeded operation logs, one per workload.

The log is the only thing the engine receives from the benchmark: query
names for `queries`, and for `index_churn` the terms, query vectors and
id sets of every operation. The same seed and data give a
byte-identical log. Lines are tab-separated; `warmup<TAB>k` starts an
untimed warm-up sweep (or cycle) and `cycle<TAB>k` a timed one.
"""
import random

import numpy as np
import pyarrow.parquet as pq

# Enough cycles for the longest allowed run; the runner stops at its
# deadline, always after a whole cycle.
CYCLES = 60
# Untimed warm-up sweeps of the query workload: the JVM's compiled code
# for Spark's planning and execution paths reaches steady state only
# after about three passes over a query set (measured on twelve catalog
# queries: 17.5 s, 6.0 s, 5.1 s, then 4.5-4.8 s per pass).
QUERY_WARMUP = 3

# (query, module whose public functions it calls). The `queries`
# workload mixes two fixed subsets:
# - five of the 74 tantalus catalog queries (q01-q55, st01-st09,
#   wp01-wp05, s13-s17), one per family of the query surface: REST detail
#   and filtered lists, the dataset search form, export formatting and
#   full-text search;
# - five of the 63 LLM-corpus batch queries (d01-d44, e01-e09, x01-x03e,
#   mm01-mm03), one per module they call: functions, dedup, similarity
#   (brute force) and multimodal, plus the production HyperLogLog sketch
#   x01p, whose answer is checked against its exact twin.
# s13-s17 are left out: they round-trip fixture files through a fixed
# directory outside the working tree.
QUERIES = [
    ("q02_point_lookup", "operators"),
    ("q07_semi_join", "operators"),
    ("q11_division", "operators"),
    ("q27_scalar_funcs", "operators"),
    ("q31_text_search", "operators"),
    ("d07_token_stats", "functions"),
    ("d26_incremental_dedup", "dedup"),
    ("e01_knn_brute", "similarity"),
    ("mm01_media_meta", "multimodal"),
    ("x01p_approx_distinct_prod", "functions"),
]

# index_churn: one cycle is the lifecycle chain the engine's own index
# queries run and `plans/r18/profile_gates_after.txt` profiles, once per
# index: d73 (appendBatch, deleteBatch, maintainIncremental, bm25TopK)
# followed by d63's second page (bm25TopKAfter from page 1's last row),
# and e13 (appendIvfBatch, deleteIvfBatch, maintainIvfIncremental,
# ivfTopK). The warm-up cycle is the same chain, untimed.
CHURN_CYCLE = [
    "append_docs", "delete_docs", "maintain_postings", "bm25", "bm25_after",
    "append_vecs", "delete_vecs", "maintain_ivf", "ivf",
]
# d73 appends the odd half of the documents (N/2) and deletes every 7th
# document (N/7); e13 appends the odd half of the vectors and deletes
# every 9th. The log spreads each held-out half evenly over its warm-up
# and CYCLES timed cycles and keeps those delete-to-append ratios.
DOC_DELETES_PER_APPEND = 2 / 7
VEC_DELETES_PER_APPEND = 2 / 9
# d63 pages by 10; e10/e11/e13 search with a batch of 5 query vectors, k = 5.
TOP_K = 10
IVF_QUERIES = 5
IVF_K = 5
# Zipf exponent of the search-term draw over the dictionary ranked by
# document frequency (about 1 for word frequencies).
ZIPF_S = 1.1
# Query vectors are seeded live corpus vectors, as in e13, perturbed by
# this much so that a query is not its own first hit.
VECTOR_NOISE = 0.05


def query_log(seed, queries):
    rng = random.Random(seed)
    lines = []
    for c in range(QUERY_WARMUP + CYCLES):
        lines.append(f"warmup\t{c}" if c < QUERY_WARMUP else f"cycle\t{c - QUERY_WARMUP}")
        order = list(queries)
        rng.shuffle(order)
        lines += [f"query\t{q}\t{m}" for q, m in order]
    return lines


def churn_log(seed, data_dir):
    """Appends, deletes and maintenance beside searches on a BM25 index
    built over the even `doc_id`s and an IVF index over the even
    `vec_id`s. Appends take seeded slices of the odd (held-out) halves;
    deletes take seeded ids that are live at that point of the log;
    search terms follow a Zipf law over the built dictionary ranked by
    document frequency."""
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    docs = pq.read_table(f"{data_dir}/documents.parquet", columns=["doc_id", "text"]).to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    emb = pq.read_table(f"{data_dir}/embeddings.parquet", columns=["vec_id", "embedding"]).to_pydict()
    vecs = dict(zip(emb["vec_id"], emb["embedding"]))

    live_docs = sorted(d for d in text if d % 2 == 0)
    held_docs = sorted(d for d in text if d % 2 == 1)
    live_vecs = sorted(v for v in vecs if v % 2 == 0)
    held_vecs = sorted(v for v in vecs if v % 2 == 1)
    rng.shuffle(held_docs)
    rng.shuffle(held_vecs)
    append_docs = len(held_docs) // (CYCLES + 1)
    append_vecs = len(held_vecs) // (CYCLES + 1)
    delete_docs = round(append_docs * DOC_DELETES_PER_APPEND)
    delete_vecs = round(append_vecs * VEC_DELETES_PER_APPEND)

    df = {}
    for d in live_docs:
        for w in set(text[d].split()):
            df[w] = df.get(w, 0) + 1
    dictionary = sorted(df, key=lambda w: (-df[w], w))
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(dictionary))]

    def terms():
        n = rng.randint(1, 4)
        picked = []
        while len(picked) < n:
            w = rng.choices(dictionary, weights)[0]
            if w not in picked:
                picked.append(w)
        return ",".join(picked)

    def take(pool, n):
        out, pool[:] = pool[:n], pool[n:]
        return out

    lines = []
    last_terms = None
    qid = 1_000_000
    for c in range(CYCLES + 1):
        lines.append(f"cycle\t{c - 1}" if c else "warmup\t0")
        for kind in CHURN_CYCLE:
            if kind == "bm25":
                last_terms = terms()
                lines.append(f"bm25\t{last_terms}\t{TOP_K}")
            elif kind == "bm25_after":
                lines.append(f"bm25_after\t{last_terms}\t{TOP_K}")
            elif kind == "ivf":
                queries = []
                for _ in range(IVF_QUERIES):
                    base = np.asarray(vecs[rng.choice(live_vecs)], dtype=np.float64)
                    v = base + nrng.normal(0.0, VECTOR_NOISE, base.shape)
                    v /= np.linalg.norm(v)
                    qid += 1
                    queries.append(f"{qid}:{','.join(f'{x:.6f}' for x in v)}")
                lines.append("\t".join(["ivf", str(IVF_K)] + queries))
            elif kind == "append_docs":
                ids = take(held_docs, append_docs)
                live_docs += ids
                nbytes = sum(8 + len(text[d].encode()) for d in ids)
                lines.append(f"append_docs\t{','.join(map(str, ids))}\t{nbytes}")
            elif kind == "append_vecs":
                ids = take(held_vecs, append_vecs)
                live_vecs += ids
                lines.append(f"append_vecs\t{','.join(map(str, ids))}\t{len(ids) * (8 + 4 * 64)}")
            elif kind == "delete_docs":
                ids = sorted(rng.sample(live_docs, delete_docs))
                gone = set(ids)
                live_docs = [d for d in live_docs if d not in gone]
                lines.append(f"delete_docs\t{','.join(map(str, ids))}")
            elif kind == "delete_vecs":
                ids = sorted(rng.sample(live_vecs, delete_vecs))
                gone = set(ids)
                live_vecs = [v for v in live_vecs if v not in gone]
                lines.append(f"delete_vecs\t{','.join(map(str, ids))}")
            else:
                lines.append(kind)
    return lines


def generate(workload, seed, data_dir):
    if workload == "queries":
        lines = query_log(seed, QUERIES)
    elif workload == "index_churn":
        lines = churn_log(seed, data_dir)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return "\n".join(lines) + "\n"
