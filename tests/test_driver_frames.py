"""Driver-built KG-build frames are JVM-side LocalRelations. A frame
made by ``createDataFrame`` of a Python list is a LogicalRDD of pickled
rows: every job that reads it starts Python workers to unpickle them.
``session.literal_frame`` builds the same rows from an Arrow table."""

from __future__ import annotations

from graphrag_spark import canonicalize, extraction, linking, materialize, normalize
from graphrag_spark.session import literal_frame


def _leaves(df) -> set[str]:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())}


def _occurrences(spark):
    (a, *_), (b, *_) = extraction._surface_payload_rows()[:2]
    occ = literal_frame(
        spark,
        [("d1_chunk_0", "d1", 0, a), ("d1_chunk_0", "d1", 40, b)],
        extraction.OCCURRENCE_NARROW_SCHEMA,
    )
    return occ, (a, b)


def test_build_frames_have_no_rdd_leaf(spark):
    occ, surfaces = _occurrences(spark)
    smap = normalize.materialize_surface_map(occ)
    cmap = literal_frame(
        spark,
        [(normalize.py_norm_name(s).lower(), normalize.py_norm_name(s)) for s in surfaces],
        "name_key string, canonical_name string",
    )
    edges = literal_frame(spark, [("a", "b"), ("b", "c")], "src string, dst string")
    frames = {
        "surface_map": smap,
        "alias_dictionary": linking.alias_dictionary(spark),
        "surface_payload": extraction.surface_payload_df(spark),
        "connected_components": canonicalize.connected_components(edges),
        "triples": materialize.build_triples_from_occurrences(occ, smap, cmap),
    }
    leaves = {name: _leaves(df) for name, df in frames.items()}
    assert {n for n, kinds in leaves.items() if "LogicalRDD" in kinds} == set(), leaves
    assert all("LocalRelation" in kinds for kinds in leaves.values()), leaves
