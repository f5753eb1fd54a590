"""Seeded benchmark inputs, written before the benchmark process starts.

The seed-independent part comes from the engine's own scaler
(`graft.tools.GenScale.scaleAll`, run once per source tree by `perfbench.Main
--prepare`); this module applies the seeded hash splits. The seed moves rows
between files and batches and orders them; it never changes a row count.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ETL_FILES = 4
BATCHES = 3


def write_table(table, path):
    # drop the writer's schema metadata: Spark's copy of it would describe
    # the original columns, not the selected ones
    pq.write_table(table.replace_schema_metadata(None), path)


def seeded_hash(keys, seed):
    """splitmix64 of each int64 key mixed with the seed, as uint64."""
    with np.errstate(over="ignore"):
        z = keys.astype(np.uint64) ^ np.uint64((seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
        z = z + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def seeded_order(keys, seed):
    """Row indices ordered by the seeded hash, ties broken by key."""
    return np.lexsort((keys, seeded_hash(keys, seed)))


def etl_month(scaled, dest, seed):
    """The month's warehouse: lineitem in ETL_FILES files, rows assigned
    and ordered by a seeded hash of (l_orderkey, l_linenumber); the other
    tables copied as they are."""
    li = pq.read_table(os.path.join(scaled, "lineitem.parquet"))
    keys = (li["l_orderkey"].to_numpy().astype(np.int64) * 8
            + li["l_linenumber"].to_numpy().astype(np.int64))
    order = seeded_order(keys, seed)
    out = os.path.join(dest, "lineitem.parquet")
    os.makedirs(out)
    for i, part in enumerate(np.array_split(order, ETL_FILES)):
        write_table(li.take(pa.array(part)), os.path.join(out, f"part-{i:05d}.parquet"))
    for name in sorted(os.listdir(scaled)):
        if name != "lineitem.parquet":
            shutil.copytree(os.path.join(scaled, name), os.path.join(dest, name))
    return {"rows": li.num_rows}


def corpus(scaled, dest, seed):
    """80% base, BATCHES batches of 5% (doc_id, text only, as a stream
    delivers them) and a forget set of 1% of the corpus, drawn from the
    base and the last batch: the documents of the root it is erased from
    (each batch lands on its own copy of the base's state)."""
    docs = pq.read_table(os.path.join(scaled, "documents.parquet"))
    os.makedirs(dest)
    write_table(docs, os.path.join(dest, "documents.parquet"))
    ids = docs["doc_id"].to_numpy().astype(np.int64)
    n = len(ids)
    n_base, n_batch = n * 80 // 100, n * 5 // 100
    order = seeded_order(ids, seed)
    write_table(docs.take(pa.array(order[:n_base])), os.path.join(dest, "base.parquet"))
    for i in range(BATCHES):
        rows = order[n_base + i * n_batch: n_base + (i + 1) * n_batch]
        write_table(docs.take(pa.array(rows)).select(["doc_id", "text"]),
                       os.path.join(dest, f"batch-{i}.parquet"))
    ingested = np.concatenate([order[:n_base],
                               order[n_base + (BATCHES - 1) * n_batch: n_base + BATCHES * n_batch]])
    n_forget = max(1, n // 100)
    forget = ingested[seeded_order(ids[ingested], seed + 1)[:n_forget]]
    write_table(docs.take(pa.array(np.sort(forget))).select(["doc_id"]),
                   os.path.join(dest, "forget.parquet"))
    text = pc.binary_length(docs.take(pa.array(ingested))["text"])
    return {"docs": n, "batches": BATCHES, "ingested": len(ingested), "forgotten": n_forget,
            "ingested_text_bytes": int(pc.sum(text).as_py())}


def write(workload, scaled, dest, seed):
    """Writes the inputs of `workload` under `dest` and returns their
    description (also written to `dest/inputs.json`)."""
    os.makedirs(dest)
    if workload == "etl_month":
        meta = etl_month(os.path.join(scaled, "etl"), os.path.join(dest, "month"), seed)
    elif workload == "corpus_cycle":
        meta = corpus(os.path.join(scaled, "corpus"), os.path.join(dest, "corpus"), seed)
    else:
        raise ValueError(f"unknown workload {workload}")
    meta["seed"] = seed
    with open(os.path.join(dest, "inputs.json"), "w") as fh:
        json.dump(meta, fh)
    return meta
