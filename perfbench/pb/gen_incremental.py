"""Inputs of the incremental workload, from the seed: the base slices the
standing indexes are built from, one parquet file per write operation,
and the probe sets. The operation plan is fixed: index writes, then the
ad-hoc query entries, then one probe of each index."""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import gen_tables

# "queries" stands for the whole list of query entries; the run's output
# check compares the final probes with clean rebuilds
PLAN = ["lsh_ingest", "ivfpq_maintain", "delete", "ivfpq_maintain", "lsh_compact", "queries",
        "lsh_probe", "ivfpq_probe"]
INGEST_DOCS = 100
MAINTAIN_VECTORS = 20
DELETE_IDS = 10
PROBES = 20


def write(out, sf, seed):
    rng = np.random.default_rng([seed, 1000])
    pending = os.path.join(out, "pending")
    os.makedirs(pending)
    docs = gen_tables.table("documents", sf, seed).select(["doc_id", "text"])
    vecs = gen_tables.table("embeddings", sf, seed).select(["vec_id", "embedding"])

    d = rng.permutation(docs.num_rows)
    n_base = int(docs.num_rows * 0.7)
    base_docs, held_docs = d[:n_base], d[n_base:]
    pq.write_table(docs.take(np.sort(base_docs)), os.path.join(out, "base_docs.parquet"))
    probe = docs.take(np.sort(base_docs[:PROBES]))
    pq.write_table(pa.table({
        "doc_id": pa.compute.add(probe["doc_id"], 1000000000),
        "text": pa.compute.binary_join_element_wise(probe["text"], " dup", "")}),
        os.path.join(out, "probe_docs.parquet"))

    v = rng.permutation(vecs.num_rows)
    n_vbase = int(vecs.num_rows * 0.8)
    base_vecs, held_vecs = v[:n_vbase], v[n_vbase:]
    os.makedirs(os.path.join(out, "base_vectors"))
    pq.write_table(vecs.take(np.sort(base_vecs)), os.path.join(out, "base_vectors", "part-0.parquet"))
    pq.write_table(vecs.take(np.sort(base_vecs[:PROBES])), os.path.join(out, "queries.parquet"))

    for i in range(PLAN.count("lsh_ingest")):
        part = held_docs[i * INGEST_DOCS:(i + 1) * INGEST_DOCS]
        pq.write_table(docs.take(np.sort(part)), os.path.join(pending, "lsh_ingest_%d.parquet" % i))
    for i in range(PLAN.count("ivfpq_maintain")):
        part = held_vecs[i * MAINTAIN_VECTORS:(i + 1) * MAINTAIN_VECTORS]
        pq.write_table(vecs.take(np.sort(part)), os.path.join(pending, "ivfpq_maintain_%d.parquet" % i))
    # deletes start inside the probe sets, so a tombstone the probes ignore
    # shows in the output check
    for i in range(PLAN.count("delete")):
        lo, hi = PROBES // 2 + i * DELETE_IDS, PROBES // 2 + (i + 1) * DELETE_IDS
        pq.write_table(pa.table({"vec_id": _ids(vecs, "vec_id", base_vecs[lo:hi])}),
                       os.path.join(pending, "delete_vec_%d.parquet" % i))
        pq.write_table(pa.table({"doc_id": _ids(docs, "doc_id", base_docs[lo:hi])}),
                       os.path.join(pending, "delete_doc_%d.parquet" % i))

    with open(os.path.join(out, "plan.txt"), "w") as f:
        f.write("\n".join(PLAN) + "\n")


def _ids(table, col, rows):
    return table[col].take(pa.array(np.sort(rows)))
