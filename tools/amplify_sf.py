"""Build an amplified measurement dataset (perf instrumentation only —
never used by bench.py or the oracle; the driver generates its own
larger SFs). Replicates documents/embeddings/events K times with
deterministic id offsets (and a per-replica text marker so replicated
documents are near- but not exact-duplicates, like a real corpus);
copies the TPC-H tables verbatim.

Assumes numeric ``doc_id``/``vec_id``/``event_id`` columns: replicas
offset them with integer addition, so a corpus with string ids fails
here. The per-replica marker shifts every chunk offset of a replica,
so amplified data serves perf measurement, not correctness
comparisons.

Usage: python tools/amplify_sf.py SRC_DIR DST_DIR K
"""

from __future__ import annotations

import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def amplify(src: str, dst: str, k: int) -> None:
    import os

    os.makedirs(dst, exist_ok=True)
    for name in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]:
        shutil.copy(f"{src}/{name}.parquet", f"{dst}/{name}.parquet")

    docs = pq.read_table(f"{src}/documents.parquet")
    n_docs = docs.num_rows
    reps = []
    for r in range(k):
        t = docs
        if r > 0:
            t = t.set_column(
                t.schema.get_field_index("doc_id"),
                "doc_id",
                pc.add(t["doc_id"], r * n_docs),
            )
            marked = pc.binary_join_element_wise(
                pa.array([f"replica {r} note. "] * n_docs), t["text"].cast(pa.string()), ""
            )
            t = t.set_column(t.schema.get_field_index("text"), "text", marked)
        reps.append(t)
    pq.write_table(pa.concat_tables(reps), f"{dst}/documents.parquet")

    emb = pq.read_table(f"{src}/embeddings.parquet")
    n_emb = emb.num_rows
    reps = []
    for r in range(k):
        t = emb
        if r > 0:
            t = t.set_column(
                t.schema.get_field_index("vec_id"),
                "vec_id",
                pc.add(t["vec_id"], r * n_emb),
            )
        reps.append(t)
    pq.write_table(pa.concat_tables(reps), f"{dst}/embeddings.parquet")

    ev = pq.read_table(f"{src}/events.parquet")
    n_ev = ev.num_rows
    reps = []
    for r in range(k):
        t = ev
        if r > 0:
            t = t.set_column(
                t.schema.get_field_index("event_id"),
                "event_id",
                pc.add(t["event_id"], r * n_ev),
            )
        reps.append(t)
    pq.write_table(pa.concat_tables(reps), f"{dst}/events.parquet")


if __name__ == "__main__":
    amplify(sys.argv[1], sys.argv[2], int(sys.argv[3]))
    print("done")
