"""Seeded benchmark inputs and the reference result they are checked against.

Everything here is a pure function of the seed:

- documents: the seed sets a doc_id offset (``seed * DOC_ID_STRIDE``).
  ``corpus.generate_doc_spans`` keys its RNG on doc_id, so another
  offset gives other spans, mentions and Zipf hub mixes; the filler
  text under the spans comes from an RNG seeded with the seed too;
- queries: the seed picks entity names from ``vocab.build_vocabulary()``
  for requests cycling comparative / analytical / factual;
- the oracle: ``oracle.refport.run_oracle`` over the same documents.
  It is pure Python and slow (about 25 ms a document), so its triple
  keys are cached on disk by seed and size.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import numpy as np

DOC_ID_STRIDE = 100_000
FILLER_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
# names of the most frequent (Zipf head) entities, so every query hits
# the graph whatever the seed
QUERY_NAME_POOL = 40
QUERY_TEMPLATES = (
    ("comparative", "compare {a} versus {b}"),
    ("analytical", "why does {a} depend on {b}"),
    ("factual", "what is {a}"),
)


def doc_ids(seed: int, n_docs: int) -> range:
    start = seed * DOC_ID_STRIDE
    return range(start, start + n_docs)


def filler_text(rng: np.random.RandomState) -> str:
    target = int(rng.randint(44, 578))
    words: list[str] = []
    size = 0
    while size < target:
        w = FILLER_WORDS[int(rng.randint(len(FILLER_WORDS)))]
        words.append(w)
        size += len(w) + 1
    return " ".join(words)


def span_docs(seed: int, n_docs: int) -> list[tuple[str, list[dict]]]:
    """(doc_id, spans) rows, the shape of ``corpus.SPANS_SCHEMA``."""
    from graphrag_spark.corpus import generate_doc_spans

    rng = np.random.RandomState(seed)
    return [
        (f"doc{i:06d}", generate_doc_spans(i, filler_text(rng)))
        for i in doc_ids(seed, n_docs)
    ]


def write_corpus(docs: list[tuple[str, list[dict]]], path: Path, n_files: int) -> None:
    """Write the spans table as ``n_files`` Parquet parts (no Spark)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span_t = pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span_t))])
    path.mkdir(parents=True)
    for i in range(n_files):
        part = docs[i::n_files]
        table = pa.table(
            {"doc_id": [d for d, _ in part], "spans": [s for _, s in part]},
            schema=schema,
        )
        pq.write_table(table, path / f"part-{i:05d}.parquet")


def oracle_keys(cache_dir: Path, seed: int, n_docs: int) -> set[tuple]:
    """Triple keys of the reference pipeline over ``span_docs(seed, n_docs)``,
    cached."""
    from graphrag_spark.oracle.refport import run_oracle, triple_keys

    path = cache_dir / f"oracle-s{seed}-n{n_docs}.json"
    if path.exists():
        return {tuple(k) for k in json.loads(path.read_text())}
    keys = triple_keys(run_oracle(span_docs(seed, n_docs)).triples)
    tmp = path.with_suffix(f".tmp{os.getpid()}")
    tmp.write_text(json.dumps(sorted(keys)))
    tmp.replace(path)
    return keys


def query_mix(seed: int, n: int) -> list[tuple[str, str]]:
    """``n`` (query_type, text) requests cycling comparative, analytical,
    factual; the names are picked by seed.

    Names holding "and" or "or" are skipped: the analysis heuristic
    tests those as substrings, so such a name would push a factual
    query onto the graph-expansion route and mix two routes within
    one class."""
    from graphrag_spark.vocab import build_vocabulary

    entities, _ = build_vocabulary()
    pool = [
        e.canonical_name for e in entities[:QUERY_NAME_POOL]
        if "and" not in e.canonical_name.lower() and "or" not in e.canonical_name.lower()
    ]
    rng = np.random.RandomState(seed)
    out = []
    for i in range(n):
        qtype, template = QUERY_TEMPLATES[i % len(QUERY_TEMPLATES)]
        a, b = rng.choice(len(pool), size=2, replace=False)
        out.append((qtype, template.format(a=pool[a], b=pool[b])))
    return out

