"""Composed KG gold build (``plans/gold.py``): pins COMPOSITION — every gold
table builds with the pinned rows and content and the declared schema, and
regeneration is deterministic. Per-adapter semantics: the pipeline tests."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

from crossbar_data_process_spark.plans import gold as kg
from crossbar_data_process_spark.sources.synthetic import gen_sources

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (rows, sum(xxhash64(*cols))) of every shaped and conformed gold table at
# scale 0.03 — recorded from the build as it stood in scripts/kg_build.py
# (the same value at 3 and 8 shuffle partitions). Map columns hash through
# to_json; the sum runs in DECIMAL so it cannot overflow under ANSI.
GOLD_PINS = {
    "protein_nodes": (60, 55366601778106489566),
    "ppi_edges": (682, -26515262789119901079),
    "dti_edges": (413, 118014120497113964697),
    "gda_edges": (341, -130249596132068670337),
    "cti_edges": (160, -40347575663817495630),
    "ddi_edges": (151, 3582939321675805936),
    "dgi_edges": (32, 40088430467074894612),
    "disease_drug_edges": (116, 61639878239950125225),
    "disease_disease_edges": (91, 5575763292496844086),
    "domain_nodes": (19, 20949421969281597969),
    "protein_domain_edges": (120, 51532490493204536463),
    "drug_nodes": (30, 42460044871997995197),
    "protein_go_edges": (64, 32052736965389072),
    "go_ancestor_edges": (39, -14758537142373979759),
    "domain_go_edges": (9, -20104662615993095958),
    "orthology_edges": (177, -117256991914476223123),
    "pathway_edges": (240, 130495196549161918522),
    "disease_pathway_edges": (73, 11148610126640270909),
    "kegg_pathway_equiv": (20, 18420433486544961422),
    "reactome_pathway_equiv": (20, 23863117525761261458),
    "phenotype_edges": (19, 8229903549060823258),
    "side_effect_edges": (165, 776126673505303324),
    "tf_gene_edges": (182, 12249815612767036839),
}


def _rows_and_digest(df) -> tuple[int, int]:
    cols = [
        F.to_json(f.name) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("d"),
    ).collect()[0]
    return r.n, int(r.d)


@pytest.fixture(scope="module")
def gold(spark):
    return kg.build_gold(spark, gen_sources(spark, 0.03))


def test_full_build_composes_and_conforms(spark, gold):
    from crossbar_data_process_spark.schema.registry import SchemaRegistry

    assert len(gold) == 23

    registry = SchemaRegistry.from_yaml(kg.SCHEMA_PATH)
    # every table except drug_nodes (map-typed props, documented) is declared
    assert set(gold) - set(registry.decls) == {"drug_nodes"}

    got = {}
    for name, df in gold.items():
        shaped = kg.to_gold_shape(name, df)
        if name in registry.decls:
            shaped = registry.conform(shaped, name)
            want = registry.struct_type(name)
            assert [
                (f.name, f.dataType.simpleString()) for f in shaped.schema.fields
            ] == [(f.name, f.dataType.simpleString()) for f in want.fields], name
        got[name] = _rows_and_digest(shaped)
        assert got[name][0] > 0, f"{name} is empty"
    assert got == GOLD_PINS
    counts = {name: n for name, (n, _) in got.items()}

    # determinism: regenerating at the same scale reproduces row counts
    src2 = gen_sources(spark, 0.03)
    gold2 = kg.build_gold(spark, src2)
    for name in ("ppi_edges", "dti_edges", "gda_edges", "tf_gene_edges"):
        assert kg.to_gold_shape(name, gold2[name]).count() == counts[name]


def test_edge_tables_expose_curie_src_dst(gold):
    row = kg.to_gold_shape("ppi_edges", gold["ppi_edges"]).limit(1).collect()[0]
    assert row.src.startswith("uniprot:") and row.dst.startswith("uniprot:")
    row = kg.to_gold_shape("gda_edges", gold["gda_edges"]).limit(1).collect()[0]
    assert row.src.startswith("ncbigene:") and row.dst.startswith("MONDO:")


def test_cli_keeps_unrelated_files_in_out(spark, tmp_path, monkeypatch):
    """The CLI writes ``<out>/<name>.parquet`` and nothing else in ``--out``."""
    mine = tmp_path / "notes.txt"
    mine.write_text("keep me")
    monkeypatch.setattr(kg, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    monkeypatch.setattr(kg, "gen_sources", lambda spark, s: {})
    monkeypatch.setattr(kg, "build_gold", lambda spark, src: {"tiny": spark.range(3)})
    monkeypatch.setattr(sys, "argv", ["gold", "--out", str(tmp_path)])
    kg.main()
    assert mine.read_text() == "keep me"
    assert spark.read.parquet(str(tmp_path / "tiny.parquet")).count() == 3


def test_script_shim_reexports_the_package_objects(monkeypatch):
    """kgbench's ``import kg_build`` must measure the package's build."""
    monkeypatch.syspath_prepend(os.path.join(ROOT, "scripts"))
    monkeypatch.delitem(sys.modules, "kg_build", raising=False)
    import kg_build

    assert kg_build.build_gold is kg.build_gold
    assert kg_build.to_gold_shape is kg.to_gold_shape
    assert kg_build.gen_sources is gen_sources


def test_cli_help_needs_no_spark():
    # a JAVA_HOME with no java in it makes any Spark start fail
    env = dict(os.environ, JAVA_HOME=os.path.join(ROOT, "no-such-java"))
    done = subprocess.run(
        [sys.executable, "-m", "crossbar_data_process_spark.plans.gold", "--help"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=120,
    )
    assert done.returncode == 0, done.stderr
    assert "--scale" in done.stdout and "--out" in done.stdout
