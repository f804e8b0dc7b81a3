"""Seeded input generator for the benchmark workloads.

Every input is derived from the read-only sf0.1 source tables (see the
repository's TESTDATA.md) and a seed; the same seed gives byte-identical
files. Each table is written as one parquet file with the source schema,
so graft (Spark) and the DuckDB oracles read the same typed values.

- ``relational``: a seeded 80% subset of every keyed table, chosen by
  hashing each row's key with the seed; lineitem follows its orders.
- ``curation``: a seeded 80% subset of documents and embeddings plus
  near-duplicate copies making up 20% of the result (a few words edited or
  a little noise added, fresh ids).

Every workload also gets a ``check`` generation, built the same way from a
smaller subset (CHECK_SHARE): the once-per-run oracle check reads it,
because the DuckDB oracles of the text operators are slow (the BPE oracle
alone takes about a minute on the 5k-document corpus).
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
KEYS = {"customer": "c_custkey", "supplier": "s_suppkey", "part": "p_partkey",
        "orders": "o_orderkey", "events": "event_id", "documents": "doc_id",
        "embeddings": "vec_id"}
TIMED_SHARE = 0.8   # share of source rows the timed generation keeps
# share of source rows the check generation keeps
CHECK_SHARE = {"relational": 0.1, "curation": 0.03}
DUP_SHARE = 0.2     # share of a curated corpus that is near-duplicate copies

_U = np.uint64


def _mix(x):
    """splitmix64 finalizer over a uint64 array."""
    with np.errstate(over="ignore"):
        z = x + _U(0x9E3779B97F4A7C15)
        z = (z ^ (z >> _U(30))) * _U(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> _U(27))) * _U(0x94D049BB133111EB)
        return z ^ (z >> _U(31))


def _keep(keys, seed, salt, share):
    """Rows whose seeded key hash falls in the lowest `share` of the range."""
    s = _mix(np.array([seed * 1000003 + salt], dtype=np.uint64))[0]
    h = _mix(np.asarray(keys, dtype=np.int64).view(np.uint64) ^ s)
    return (h >> _U(11)).astype(np.float64) < share * float(1 << 53)


def _subset(src, table, seed, salt, share):
    t = pq.read_table(os.path.join(src, f"{table}.parquet"))
    return t.filter(pa.array(_keep(t[KEYS[table]].to_numpy(), seed, salt, share)))


def _near_dups(docs, embs, rng):
    """Append near-duplicate copies so they are DUP_SHARE of each table."""
    n_doc = int(round(docs.num_rows * DUP_SHARE / (1 - DUP_SHARE)))
    texts = docs["text"].to_pylist()
    vocab = sorted({w for t in texts if t for w in t.split(" ")})
    src = rng.integers(0, docs.num_rows, n_doc)
    new_text = []
    for i in src:
        words = (texts[i] or "").split(" ")
        for pos in rng.integers(0, len(words), int(rng.integers(1, 4))):
            words[pos] = vocab[int(rng.integers(0, len(vocab)))]
        new_text.append(" ".join(words))
    first = pc.max(docs["doc_id"]).as_py() + 1
    copies = docs.take(pa.array(src)).set_column(
        docs.schema.get_field_index("doc_id"), "doc_id",
        pa.array(np.arange(first, first + n_doc), pa.int64()))
    copies = copies.set_column(copies.schema.get_field_index("text"), "text",
                               pa.array(new_text, pa.string()))
    copies = copies.set_column(copies.schema.get_field_index("n_chars"), "n_chars",
                               pa.array([len(t) for t in new_text], pa.int64()))
    docs = pa.concat_tables([docs, copies.cast(docs.schema)])

    n_emb = int(round(embs.num_rows * DUP_SHARE / (1 - DUP_SHARE)))
    src = rng.integers(0, embs.num_rows, n_emb)
    vecs = np.array(embs["embedding"].to_pylist(), dtype=np.float32)[src]
    vecs = vecs + rng.normal(0.0, 0.01, vecs.shape).astype(np.float32)
    first = pc.max(embs["vec_id"]).as_py() + 1
    copies = embs.take(pa.array(src))
    copies = copies.set_column(embs.schema.get_field_index("vec_id"), "vec_id",
                               pa.array(np.arange(first, first + n_emb), pa.int64()))
    copies = copies.set_column(embs.schema.get_field_index("embedding"), "embedding",
                               pa.array(list(vecs), embs.schema.field("embedding").type))
    return docs, pa.concat_tables([embs, copies.cast(embs.schema)])


def _write(tables, dst, src, names):
    """Write `tables` (name -> arrow table); copy the other `names` as-is.
    Returns {name: [rows, bytes]}."""
    os.makedirs(dst, exist_ok=True)
    stats = {}
    for name in names:
        path = os.path.join(dst, f"{name}.parquet")
        if name in tables:
            pq.write_table(tables[name], path, compression="snappy")
            rows = tables[name].num_rows
        else:
            shutil.copyfile(os.path.join(src, f"{name}.parquet"), path)
            rows = pq.ParquetFile(path).metadata.num_rows
        stats[name] = [rows, os.path.getsize(path)]
    return stats


def _relational(src, seed, share):
    tables = {t: _subset(src, t, seed, i, share) for i, t in enumerate(TABLES)
              if t in KEYS and t != "orders"}
    orders = _subset(src, "orders", seed, TABLES.index("orders"), share)
    line = pq.read_table(os.path.join(src, "lineitem.parquet"))
    tables["orders"] = orders
    tables["lineitem"] = line.filter(
        pc.is_in(line["l_orderkey"], value_set=orders["o_orderkey"]))
    return tables


def _corpus(src, seed, share):
    rng = np.random.default_rng([seed, 7])
    docs = _subset(src, "documents", seed, 8, share)
    embs = _subset(src, "embeddings", seed, 9, share)
    docs, embs = _near_dups(docs, embs, rng)
    return {"documents": docs, "embeddings": embs}


def generate(workload, src, dst, seed):
    """Write the workload's inputs for `seed` under `dst`: the check
    generation and the timed generation, each with every table (the
    oracles may read any; tables a workload does not derive are copied).
    Returns the two directories and {generation: {table: [rows, bytes]}}."""
    make = _relational if workload == "relational" else _corpus
    dirs, stats = [], {}
    for g, (name, share) in enumerate([("check", CHECK_SHARE[workload]),
                                       ("timed", TIMED_SHARE)]):
        out = os.path.join(dst, name)
        stats[name] = _write(make(src, seed * 131 + g, share), out, src, TABLES)
        dirs.append(out)
    return dirs, stats
