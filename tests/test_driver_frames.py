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


def test_python_surface_map_equals_spark_columns(spark):
    """The narrow-path surface map is normalized on the driver: row for
    row, over every vocabulary surface, it equals ``_norm_flag_cols``'
    Spark columns, and its schema is theirs."""
    pairs = [(name, etype) for name, etype, _score, _desc in extraction._surface_payload_rows()]
    assert len(pairs) == 2754
    # plus shapes the vocabulary lacks: generic names, stars, parentheses
    pairs += [
        ("Management", "concept"), ("  areas ", "CONCEPT"), ("the", "x"),
        ("A1", "ORGANIZATION"), ("Sub floor (east)", "**LOCATION**"), ("", ""),
    ]
    spark_map = normalize._norm_flag_cols(
        literal_frame(spark, pairs, "name string, type_or_target string")
    )
    want = [tuple(r) for r in spark_map.collect()]
    assert normalize.py_surface_map_rows(pairs) == want
    assert any(r[4] for r in want) and any(r[5] for r in want)  # both flags occur
    occ, _ = _occurrences(spark)
    smap = normalize.materialize_surface_map(occ)
    assert smap.schema == spark_map.schema
    assert [tuple(r) for r in smap.collect()] == want[:2754]


def test_python_alias_dictionary_equals_spark_reduction(spark):
    """The alias dictionary's per-key reduction runs on the driver and
    equals the Spark ``groupBy`` / ``max_by`` reduction of the
    vocabulary's aliases."""
    import pyspark.sql.functions as F

    rows = linking.alias_rows()
    df = literal_frame(
        spark, rows, "alias_key string, canonical_name string, entity_type string, prior double"
    )
    want = df.groupBy("alias_key").agg(
        F.max_by("canonical_name", F.struct(F.col("prior"), F.col("canonical_name"))).alias("canonical_name"),
        F.max_by("entity_type", F.struct(F.col("prior"), F.col("entity_type"))).alias("canonical_type"),
        F.max("prior").alias("prior"),
    )
    got = linking.alias_dictionary(spark)
    assert got.schema == want.schema
    want_rows = sorted(map(tuple, want.collect()))
    assert len(want_rows) < len(rows)  # some keys have several aliases
    assert sorted(map(tuple, got.collect())) == want_rows
