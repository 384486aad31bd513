"""Composed KG gold build: EVERY ``plans/*`` adapter in one session — the
engine's equivalent of the reference's full adapter sweep
(``edge_data/ppi.py:487-507`` ``__main__``, ``node_data/drug.py:122-193``)
— into gold parquet tables validated against ``schema/kg_gold_schema.yaml``.

Usage: python -m crossbar_data_process_spark.plans.gold [--scale S] [--out DIR]
builds from ``sources/synthetic.gen_sources`` and prints one JSON line:
{"metric": "kg_gold_build_runtime", "value": sec, "tables": {name: rows}}.
"""

from __future__ import annotations

import argparse
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crossbar_data_process_spark import get_spark
from crossbar_data_process_spark.functions.ids import add_curie_prefix
from crossbar_data_process_spark.operators.dedup import keep_best
from crossbar_data_process_spark.plans import (
    compound, ddi, dgi, disease_assoc, domain, drug_nodes, dti,
    gene_disease, go_annotations, orthology, pathway, phenotype, ppi,
    side_effect, tf_gen, uniprot,
)
from crossbar_data_process_spark.schema.registry import SchemaRegistry
from crossbar_data_process_spark.sources.synthetic import (
    SOURCE_BYTES_PER_SCALE,
    gen_sources,
)

SCHEMA_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "schema", "kg_gold_schema.yaml",
)


def build_gold(spark: SparkSession, src: dict[str, DataFrame]) -> dict[str, DataFrame]:
    gold: dict[str, DataFrame] = {}

    # protein nodes (node_data/uniprot.py assembly)
    wide = uniprot.cast_typed_columns(
        uniprot.assemble_nodes(
            {
                "length": src["up_length"],
                "mass": src["up_mass"],
                "organism": src["up_organism"],
            }
        )
    )
    xrefs = uniprot.process_xrefs(src["up_xrefs"], "kegg")
    ens = uniprot.process_ensembl(src["up_ensembl"], src["enst_map"])
    gold["protein_nodes"] = (
        wide.join(xrefs, "accession", "left").join(ens, "accession", "left")
    )

    # PPI (edge_data/ppi.py:382-507 full sweep)
    ia = ppi.intact_process(src["intact"], src["swissprot"])
    bg = ppi.biogrid_process(src["biogrid"], src["symbol_map"], src["swissprot"])
    st = ppi.string_process(src["string"], src["string_map"], src["swissprot"])

    bg1 = keep_best(bg, ["uniprot_a", "uniprot_b"], [F.asc("method")])
    gold["ppi_edges"] = ppi.merge_all(ia, bg1, st)

    # DTI (node_data/drug.py:1040-1165 six-way merge)
    gold["dti_edges"] = dti.merge_all_dtis(
        {
            "drugbank": src["dti_drugbank"],
            "chembl": src["dti_chembl"],
            "pharos": src["dti_pharos"],
            "dgidb": src["dti_dgidb"],
            "stitch": src["dti_stitch"],
            "kegg": src["dti_kegg"],
        }
    )

    # gene–disease (node_data/disease.py:1207-1323 eight-way merge)
    gold["gda_edges"] = gene_disease.merge_gene_disease(
        {
            "opentargets": src["gda_opentargets"],
            "diseases_knowledge": src["gda_diseases_knowledge"],
            "diseases_experimental": src["gda_diseases_experimental"],
            "kegg": src["gda_kegg"],
            "clinvar": src["gda_clinvar"],
            "humsavar": src["gda_humsavar"],
            "disgenet_gda": src["gda_disgenet_gda"],
            "disgenet_vda": src["gda_disgenet_vda"],
        }
    )

    # compound–target (node_data/compound.py)
    reduced = compound.chembl_reduce(src["activities"])
    disjoint = compound.drop_drugbank_mapped(reduced, src["chembl_to_drugbank"])
    gold["cti_edges"] = compound.merge_all_ctis(disjoint, src["stitch_cti"])

    # DDI (node_data/drug.py:604-698, 1177-1186)
    gold["ddi_edges"] = ddi.merge_all_ddis(
        ddi.normalize_kegg_ddi(src["ddi_kegg"]),
        ddi.normalize_ddinter_ddi(src["ddi_ddinter"]),
    )

    # DGI (node_data/drug.py:855-917)
    gold["dgi_edges"] = dgi.get_dgi_edges(src["ctd_dgi"], src["cas_map"])

    # disease–drug (node_data/disease.py:560-680, 1177-1191)
    gold["disease_drug_edges"] = disease_assoc.merge_disease_drug(
        disease_assoc.normalize_chembl_indication(
            src["chembl_indication"], src["chembl_map"], src["mondo_map"]
        ),
        disease_assoc.normalize_ctd_chemical_disease(
            src["ctd_chem_disease"], src["cas_map"], src["mondo_map"]
        ),
        disease_assoc.normalize_kegg_indication(
            src["kegg_indication"],
            src["kegg_drug_map"],
            [
                (src["kegg_mesh_xref"], "kegg_disease_id", "mondo"),
                (src["kegg_omim_xref"], "kegg_disease_id", "mondo"),
            ],
        ),
    )

    # disease–disease (node_data/disease.py:1325-1380)
    gold["disease_disease_edges"] = disease_assoc.merge_disease_disease(
        disease_assoc.normalize_dda_source(
            src["dda_genes"], "jaccard_genes",
            "disgenet_jaccard_genes_score", "Disgenet Disease-Disease Gene",
        ),
        disease_assoc.normalize_dda_source(
            src["dda_variants"], "jaccard_variants",
            "disgenet_jaccard_variants_score",
            "Disgenet Disease-Disease Variant",
        ),
    )

    # domains (node_data/domain.py)
    gold["domain_nodes"] = domain.domain_nodes(
        src["interpro_entries"], src["interpro_member"], src["interpro_external"]
    )
    gold["protein_domain_edges"] = domain.protein_domain_edges(
        src["domain_annotations"]
    )

    # drug nodes (node_data/drug.py:122-193)
    wide_drugs = drug_nodes.assemble_drug_nodes(
        src["drug_core"], [src["drug_external"], src["drug_inchi"]]
    )
    gold["drug_nodes"] = drug_nodes.to_node_rows(
        wide_drugs, ["name", "cas_number", "InChI", "kegg_drug"]
    )

    # GO (edge_data go annotations)
    gold["protein_go_edges"] = go_annotations.protein_go_edges(
        src["go_annotations"], src["go_aspects"], src["swissprot"]
    )
    gold["go_ancestor_edges"] = go_annotations.go_ancestor_edges(
        src["go_edges"], src["go_aspects"]
    )
    gold["domain_go_edges"] = go_annotations.domain_go_edges(
        src["interpro2go"], src["go_aspects"]
    )

    # orthology (edge_data/orthology.py)
    gold["orthology_edges"] = orthology.merge_orthology(
        orthology.oma_process(
            src["oma"], src["oma_name_map"], src["uniprot_to_entrez"]
        ),
        src["pypath_orth"],
    )

    # pathways (edge_data/pathway.py)
    gold["pathway_edges"] = pathway.union_pathway_edges(
        src["pathway_kegg"], src["pathway_reactome"]
    )
    gold["disease_pathway_edges"] = pathway.merge_disease_pathway(
        src["disease_pathway_kegg"], src["disease_pathway_ctd"]
    )
    gold["kegg_pathway_equiv"] = pathway.equivalent_kegg_pathways(
        src["kegg_pathway_ids"]
    )
    gold["reactome_pathway_equiv"] = pathway.equivalent_reactome_pathways(
        src["reactome_pathway_ids"]
    )

    # phenotype (edge_data/phenotype.py)
    gold["phenotype_edges"] = phenotype.hpo_disease_process(
        src["hpo"], src["omim_to_mondo"]
    )

    # side effects (edge_data/side_effect.py)
    gold["side_effect_edges"] = side_effect.merge_drug_side_effect(
        src["se_adrecs"], src["se_sider"], src["se_offsides"]
    )

    # TF–gene (edge_data/tf_gen.py)
    gold["tf_gene_edges"] = tf_gen.merge_tf_gen(
        src["dorothea"],
        tf_gen.collectri_process(src["collectri"], src["uniprot_to_entrez"]),
        src["trrust"],
    )

    return gold


# Gold shape: node tables expose (id, props…), edge tables (src, dst,
# props…) — the BioCypher tuple contract the reference's writer emits.
# (key_a, prefix_a, key_b, prefix_b); prefix None = id is already a CURIE.
_EDGE_KEYS: dict[str, tuple[str, str | None, str, str | None]] = {
    "ppi_edges": ("uniprot_a", "uniprot", "uniprot_b", "uniprot"),
    "dti_edges": ("drugbank_id", "drugbank", "uniprot_id", "uniprot"),
    "gda_edges": ("gene_id", "ncbigene", "disease_id", None),
    "cti_edges": ("chembl", "chembl", "uniprot_id", "uniprot"),
    "ddi_edges": ("drug1", "drugbank", "drug2", "drugbank"),
    "dgi_edges": ("source_id", None, "target_id", None),
    "disease_drug_edges": ("disease_id", None, "drug_id", "drugbank"),
    "disease_disease_edges": ("disease_id1", None, "disease_id2", None),
    "orthology_edges": ("entrez_a", "ncbigene", "entrez_b", "ncbigene"),
    "pathway_edges": ("protein", "uniprot", "pathway_id", None),
    "disease_pathway_edges": ("disease_id", None, "pathway_id", None),
    "phenotype_edges": ("hpo_id", None, "disease_id", None),
    "side_effect_edges": ("drugbank_id", "drugbank", "meddra_id", "meddra"),
    "tf_gene_edges": ("tf", "ncbigene", "target", "ncbigene"),
}


def to_gold_shape(name: str, df: DataFrame) -> DataFrame:
    if name == "protein_nodes":
        return df.select(
            add_curie_prefix("accession", "uniprot").alias("id"),
            *[c for c in df.columns if c != "accession"],
        )
    if name not in _EDGE_KEYS:
        return df  # already in gold shape (domain_nodes, drug_nodes, equivs)
    a, pa, b, pb = _EDGE_KEYS[name]
    src = add_curie_prefix(a, pa) if pa else F.col(a)
    dst = add_curie_prefix(b, pb) if pb else F.col(b)
    return df.select(
        src.alias("src"),
        dst.alias("dst"),
        *[c for c in df.columns if c not in (a, b)],
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--out", default="/tmp/kg_gold_r08")
    ap.add_argument("--show-schemas", action="store_true")
    args = ap.parse_args()

    spark = get_spark(
        app_name="kg-build",
        input_bytes=int(args.scale * SOURCE_BYTES_PER_SCALE),
    )
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    src = gen_sources(spark, args.scale)
    gold = build_gold(spark, src)

    if args.show_schemas:
        for name, df in gold.items():
            print(f"== {name}: {df.schema.simpleString()}")
        spark.stop()
        return

    registry = SchemaRegistry.from_yaml(SCHEMA_PATH)
    os.makedirs(args.out, exist_ok=True)

    def fields(st):
        return [(f.name, f.dataType.simpleString()) for f in st.fields]

    counts: dict[str, int] = {}
    walls: dict[str, float] = {}
    bad = []
    for name, df in gold.items():
        tt = time.perf_counter()
        df = to_gold_shape(name, df)
        conformed = registry.conform(df, name) if name in registry.decls else df
        path = os.path.join(args.out, f"{name}.parquet")
        conformed.write.mode("overwrite").parquet(path)
        back = spark.read.parquet(path)
        counts[name] = back.count()
        walls[name] = round(time.perf_counter() - tt, 3)
        # registry round-trip validation: the written table re-reads with
        # exactly the declared StructType (nullable-insensitive compare)
        if name in registry.decls and fields(back.schema) != fields(
            registry.struct_type(name)
        ):
            bad.append(name)
    if bad:
        raise SystemExit(f"schema validation FAILED for: {bad}")

    wall = round(time.perf_counter() - t0, 3)
    print(
        json.dumps(
            {
                "metric": "kg_gold_build_runtime",
                "value": wall,
                "unit": "sec",
                "tables": counts,
                "table_walls": walls,
                "n_tables": len(counts),
                "validated": sorted(n for n in counts if n in registry.decls),
                "scale": args.scale,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
