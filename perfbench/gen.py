"""Seeded inputs for the benchmark workloads.

The table generators keep the schemas, key ranges, categorical domains and
value distributions of the engine's scale-rehearsal generator
(tools/gen_sf.py), with two differences: the seed is a parameter, and every
table draws from its own stream (seeded by the seed and the table name), so a
workload can generate only the tables it reads.
"""
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ETYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "fr", "es", "de"]
LANG_W = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("spark line column order small sort fast value scan a vector query agg "
         "table hash slow filter customer stream big merge group key join the "
         "batch part index cache plan shuffle stage task row file").split()
DAY_MS = 86400000
DIM = 64

DOC_SCHEMA = [pa.field("doc_id", pa.int64()), pa.field("text", pa.string()),
              pa.field("lang", pa.string()), pa.field("source", pa.string()),
              pa.field("n_chars", pa.int64())]
EMB_SCHEMA = [pa.field("vec_id", pa.int64()),
              pa.field("embedding", pa.list_(pa.float32())),
              pa.field("label", pa.int32())]


def rng_for(seed, name):
    return np.random.default_rng([seed, zlib.crc32(name.encode())])


def write(path, name, cols, schema):
    tbl = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, schema)],
                               schema=pa.schema(schema))
    pq.write_table(tbl, os.path.join(path, f"{name}.parquet"), row_group_size=1 << 20,
                   version="2.6", coerce_timestamps=None)


def word_salad(rng, n):
    return [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), rng.integers(8, 90)))
            for _ in range(n)]


def doc_cols(rng, ids, texts):
    n = len(texts)
    return [np.asarray(ids, dtype=np.int64), texts,
            [LANGS[i] for i in rng.choice(5, n, p=LANG_W)],
            [f"src{i % 20}" for i in range(n)],
            np.array([len(t) for t in texts], dtype=np.int64)]


def unit_vectors(rng, n):
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.FixedSizeListArray.from_arrays(pa.array(v.ravel(), pa.float32()), DIM).cast(
        pa.list_(pa.float32()))


def emb_cols(rng, ids):
    n = len(ids)
    return [np.asarray(ids, dtype=np.int64), unit_vectors(rng, n),
            rng.integers(0, 10, n).astype(np.int32)]


def star_tables(out, sf, seed):
    """region, nation, customer, supplier, orders, lineitem and events."""
    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_ord, n_li = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_users = int(1000000 * sf), int(15000 * sf)
    ts_ms = pa.timestamp("ms")
    write(out, "region", [np.arange(5, dtype=np.int32),
                          ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]],
          [pa.field("r_regionkey", pa.int32()), pa.field("r_name", pa.string())])
    write(out, "nation", [np.arange(25, dtype=np.int32), [f"NATION_{i}" for i in range(25)],
                          (np.arange(25) % 5).astype(np.int32)],
          [pa.field("n_nationkey", pa.int32()), pa.field("n_name", pa.string()),
           pa.field("n_regionkey", pa.int32())])
    rng = rng_for(seed, "customer")
    write(out, "customer",
          [np.arange(n_cust), [f"Customer#{i:09d}" for i in range(n_cust)],
           rng.integers(0, 25, n_cust).astype(np.int32),
           np.round(rng.uniform(-1000, 10000, n_cust), 2),
           [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]],
          [pa.field("c_custkey", pa.int64()), pa.field("c_name", pa.string()),
           pa.field("c_nationkey", pa.int32()), pa.field("c_acctbal", pa.float64()),
           pa.field("c_mktsegment", pa.string())])
    rng = rng_for(seed, "supplier")
    write(out, "supplier",
          [np.arange(n_supp), [f"Supplier#{i:09d}" for i in range(n_supp)],
           rng.integers(0, 25, n_supp).astype(np.int32),
           np.round(rng.uniform(-1000, 10000, n_supp), 2)],
          [pa.field("s_suppkey", pa.int64()), pa.field("s_name", pa.string()),
           pa.field("s_nationkey", pa.int32()), pa.field("s_acctbal", pa.float64())])
    base95 = np.datetime64("1995-01-01").astype("datetime64[ms]").astype(np.int64)
    rng = rng_for(seed, "orders")
    write(out, "orders",
          [np.arange(n_ord), rng.integers(0, n_cust, n_ord),
           [("O", "P", "F")[i] for i in rng.integers(0, 3, n_ord)],
           np.round(rng.uniform(1000, 500000, n_ord), 2),
           base95 + rng.integers(0, 2404, n_ord) * DAY_MS,
           [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]],
          [pa.field("o_orderkey", pa.int64()), pa.field("o_custkey", pa.int64()),
           pa.field("o_orderstatus", pa.string()), pa.field("o_totalprice", pa.float64()),
           pa.field("o_orderdate", ts_ms), pa.field("o_orderpriority", pa.string())])
    rng = rng_for(seed, "lineitem")
    lok = np.sort(rng.integers(0, n_ord, n_li))
    # per-order line numbers: sequence within each sorted key run, 1..7 cyclic
    runstart = np.r_[0, np.flatnonzero(np.diff(lok)) + 1]
    seq = np.arange(n_li) - np.repeat(runstart, np.diff(np.r_[runstart, n_li]))
    perm = rng.permutation(n_li)
    write(out, "lineitem",
          [lok[perm], rng.integers(0, int(200000 * sf), n_li), rng.integers(0, n_supp, n_li),
           ((seq % 7) + 1).astype(np.int32)[perm],
           rng.integers(1, 51, n_li).astype(np.float64),
           np.round(rng.uniform(900, 105000, n_li), 2),
           np.round(rng.integers(0, 11, n_li) / 100.0, 2),
           np.round(rng.integers(0, 9, n_li) / 100.0, 2),
           [("N", "A", "R")[i] for i in rng.integers(0, 3, n_li)],
           [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
           base95 + DAY_MS + rng.integers(0, 2498, n_li) * DAY_MS],
          [pa.field("l_orderkey", pa.int64()), pa.field("l_partkey", pa.int64()),
           pa.field("l_suppkey", pa.int64()), pa.field("l_linenumber", pa.int32()),
           pa.field("l_quantity", pa.float64()), pa.field("l_extendedprice", pa.float64()),
           pa.field("l_discount", pa.float64()), pa.field("l_tax", pa.float64()),
           pa.field("l_returnflag", pa.string()), pa.field("l_linestatus", pa.string()),
           pa.field("l_shipdate", ts_ms)])
    rng = rng_for(seed, "events")
    base24 = np.datetime64("2024-01-01").astype("datetime64[us]").astype(np.int64)
    write(out, "events",
          [np.arange(n_ev), base24 + np.sort(rng.integers(0, 30 * DAY_MS * 1000, n_ev)),
           rng.integers(0, n_users, n_ev),
           [ETYPES[i] for i in rng.integers(0, 5, n_ev)],
           np.round(rng.exponential(50.0, n_ev), 2),
           ['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)]],
          [pa.field("event_id", pa.int64()), pa.field("ts", pa.timestamp("us")),
           pa.field("user_id", pa.int64()), pa.field("event_type", pa.string()),
           pa.field("value", pa.float64()), pa.field("props", pa.string())])


def corpus_texts(rng, n):
    """Word-salad documents with planted exact and one-word-swapped copies."""
    texts = []
    for i in range(n):
        r = i % 500
        if r in (7, 131) and i >= 500:
            texts.append(texts[rng.integers(0, len(texts) - 1)])
        elif r in (23, 211, 390) and i >= 500:
            w = texts[rng.integers(0, len(texts) - 1)].split()
            w[rng.integers(0, len(w))] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(w))
        else:
            texts.extend(word_salad(rng, 1))
    return texts


def corpus_tables(out, sf, seed):
    """documents and embeddings."""
    n_doc, n_emb = int(50000 * sf), int(20000 * sf)
    rng = rng_for(seed, "documents")
    write(out, "documents", doc_cols(rng, np.arange(n_doc), corpus_texts(rng, n_doc)),
          DOC_SCHEMA)
    write(out, "embeddings", emb_cols(rng_for(seed, "embeddings"), np.arange(n_emb)),
          EMB_SCHEMA)


# Retrieval id ranges. Probe queries take ids below Q_IDS: the live IVF twin
# (Ann.ivfKnn) treats ids below its query count as queries and the rest as
# corpus. Probe documents and append batches take disjoint ranges, as the text
# index's append contract requires.
Q_IDS = 8
PROBE_DOC_BASE = 100_000
CORPUS_BASE = 1_000_000
APPEND_BASE = 2_000_000


def retrieval_tables(out, n_doc, n_emb, n_probe, n_append, probe_docs, append_rows, seed):
    """The indexed corpus, the probe batches and the append batches."""
    rng = rng_for(seed, "retrieval")
    corpus = corpus_texts(rng, n_doc)
    write(out, "corpus_docs", doc_cols(rng, CORPUS_BASE + np.arange(n_doc), corpus), DOC_SCHEMA)
    # embedding i is the embedding of corpus document i (same id), so the
    # fused lexical and vector runs rank the same documents
    write(out, "corpus_emb", emb_cols(rng, CORPUS_BASE + np.arange(n_emb)), EMB_SCHEMA)
    for b in range(n_probe):
        terms = [(q, VOCAB[j]) for q in range(Q_IDS)
                 for j in rng.choice(len(VOCAB), 4, replace=False)]
        write(out, f"probe{b}_terms", [np.array([q for q, _ in terms], dtype=np.int64),
                                       [t for _, t in terms]],
              [pa.field("query_id", pa.int64()), pa.field("term", pa.string())])
        write(out, f"probe{b}_vecs", [np.arange(Q_IDS, dtype=np.int64), unit_vectors(rng, Q_IDS)],
              [pa.field("vec_id", pa.int64()), pa.field("embedding", pa.list_(pa.float32()))])
        write(out, f"probe{b}_ids",
              [CORPUS_BASE + rng.choice(n_doc, Q_IDS, replace=False).astype(np.int64)],
              [pa.field("doc_id", pa.int64())])
        # a fifth of each dedup probe batch are one-word edits of corpus
        # documents, so the probe verifies real candidate pairs
        texts = word_salad(rng, probe_docs)
        for i in range(0, probe_docs, 5):
            w = corpus[rng.integers(0, n_doc)].split()
            w[rng.integers(0, len(w))] = VOCAB[rng.integers(0, len(VOCAB))]
            texts[i] = " ".join(w)
        write(out, f"probe{b}_docs",
              doc_cols(rng, PROBE_DOC_BASE + b * probe_docs + np.arange(probe_docs), texts),
              DOC_SCHEMA)
    for a in range(n_append):
        ids = APPEND_BASE + a * append_rows + np.arange(append_rows)
        write(out, f"append{a}_docs", doc_cols(rng, ids, word_salad(rng, append_rows)),
              DOC_SCHEMA)
        write(out, f"append{a}_emb", emb_cols(rng, ids), EMB_SCHEMA)
