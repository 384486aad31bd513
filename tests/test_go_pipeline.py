"""Golden test for the GO annotation adapter: blacklist/whitelist filters,
aspect-derived edge labels, ancestor and domain edges."""

from __future__ import annotations

from pyspark.sql import Row

from crossbar_data_process_spark.plans.go_annotations import (
    domain_go_edges,
    go_ancestor_edges,
    protein_go_edges,
)


def _aspects(spark):
    return spark.createDataFrame(
        [Row(go_id="GO:1", aspect="P"), Row(go_id="GO:2", aspect="F"),
         Row(go_id="GO:3", aspect="C")]
    )


def test_protein_go_edges(spark):
    annots = spark.createDataFrame(
        [
            Row(uniprot="P1", go_id="GO:1", qualifier="involved in",
                evidence_code="EXP", reference="PMID:1"),
            Row(uniprot="P1", go_id="GO:2", qualifier="enables",
                evidence_code="IEA", reference="PMID:2"),     # blacklisted
            Row(uniprot="P9", go_id="GO:1", qualifier="involved in",
                evidence_code="EXP", reference="PMID:3"),     # not swissprot
            Row(uniprot="P2", go_id="GO:9", qualifier="enables",
                evidence_code="EXP", reference="PMID:4"),     # not in ontology
        ]
    )
    swissprot = spark.createDataFrame([Row(uniprot="P1"), Row(uniprot="P2")])
    out = protein_go_edges(annots, _aspects(spark), swissprot).collect()
    assert len(out) == 1
    e = out[0]
    assert (e.src, e.dst) == ("uniprot:P1", "go:GO:1")
    assert e.label == "protein_involved_in_biological_process"
    assert e.reference == "PMID:1"


def test_go_ancestor_edges(spark):
    edges = spark.createDataFrame(
        [Row(child="GO:1", parent="GO:3", relation="part_of"),
         Row(child="GO:2", parent="GO:1", relation="is_a")]
    )
    out = {(r.src, r.dst): r.label
           for r in go_ancestor_edges(edges, _aspects(spark)).collect()}
    assert out[("go:GO:1", "go:GO:3")] == (
        "biological_process_part_of_cellular_component"
    )
    assert out[("go:GO:2", "go:GO:1")] == (
        "molecular_function_is_a_biological_process"
    )


def test_domain_go_edges(spark):
    i2g = spark.createDataFrame(
        [Row(interpro_id="IPR000001", go_id="GO:2"),
         Row(interpro_id="IPR000002", go_id="GO:9")]  # unknown GO dropped
    )
    out = domain_go_edges(i2g, _aspects(spark)).collect()
    assert len(out) == 1
    assert out[0].label == "protein_domain_enables_molecular_function"
    assert out[0].src == "interpro:IPR000001"


def test_label_maps_index_without_deprecated_getitem(spark):
    """The label maps of the GO and TF adapters index with a Column key.
    ``Column.getItem(Column)`` is deprecated and emits a FutureWarning;
    ``m[c]`` builds the same plan without one, so no warning may fire."""
    import warnings

    from pyspark.sql import functions as F

    from crossbar_data_process_spark.plans.go_annotations import _aspect_label
    from crossbar_data_process_spark.plans.tf_gen import effect_label

    i2g = spark.createDataFrame([Row(interpro_id="IPR000001", go_id="GO:3")])
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        effect = effect_label(F.col("effect"))
        aspect = _aspect_label(F.col("aspect"))
        edges = domain_go_edges(i2g, _aspects(spark))
    row = spark.createDataFrame([Row(effect=-1, aspect="F")]).select(
        effect.alias("effect"), aspect.alias("aspect")
    ).first()
    assert (row.effect, row.aspect) == ("Repression", "molecular function")
    assert edges.first().label == "protein_domain_located_in_cellular_component"
