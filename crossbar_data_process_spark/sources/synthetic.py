"""``gen_sources(spark, s)``: every raw table ``plans/gold.build_gold``
reads, scaled by ``s`` and built from ``spark.range`` + column expressions
(never driver-side lists). Entity-id spaces and modular join conditions
make every merge/coalesce/conflict path fire at any scale."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# ---------------------------------------------------------------- generators
# Every generator is a pure function of spark.range — deterministic across
# runs, partitionings, and cluster sizes (no RNG, no driver data). "h(i, k)"
# below = pmod(xxhash64(i, lit(k)), m): a cheap deterministic hash stream.


# Snappy parquet bytes gen_sources(spark, s) writes per unit of s: 52.9 MiB
# at s=30, 88.7 at 50, 125.8 at 70 and 180.5 at 100 (measured). Sessions
# that build from generated sources size themselves from it, as get_spark
# cannot see them.
SOURCE_BYTES_PER_SCALE = int(1.8 * 2**20)


def _h(col, salt: int, m: int):
    return F.pmod(F.xxhash64(col, F.lit(salt)), F.lit(m))


def gen_sources(spark: SparkSession, s: float) -> dict[str, DataFrame]:
    n_prot = max(int(2000 * s), 50)
    n_drug = max(int(600 * s), 30)
    n_dis = max(int(400 * s), 20)
    n_gene = max(int(1500 * s), 40)
    n_go = max(int(300 * s), 20)
    n_dom = max(int(250 * s), 15)
    n_path = max(int(150 * s), 10)
    n_se = max(int(300 * s), 15)
    n_cmp = max(int(800 * s), 30)

    r = spark.range  # alias

    P = lambda c: F.concat(F.lit("P"), c.cast("string"))  # noqa: E731
    DB = lambda c: F.concat(F.lit("DB"), c.cast("string"))  # noqa: E731
    MONDO = lambda c: F.concat(F.lit("MONDO:"), c.cast("string"))  # noqa: E731
    G = lambda c: c.cast("string")  # entrez ids as strings  # noqa: E731

    src: dict[str, DataFrame] = {}

    src["swissprot"] = r(n_prot).select(P(F.col("id")).alias("uniprot"))

    # --- PPI ---------------------------------------------------------------
    ia = r(n_prot * 6)
    src["intact"] = ia.select(
        P(_h(F.col("id"), 1, n_prot)).alias("uniprot_a"),
        P(_h(F.col("id"), 2, n_prot)).alias("uniprot_b"),
        F.concat_ws(
            ";",
            _h(F.col("id"), 3, 90000).cast("string"),
            _h(F.col("id"), 4, 90000).cast("string"),
        ).alias("pubmed_id"),
        (_h(F.col("id"), 5, 100) / 100.0).alias("intact_score"),
        F.element_at(
            F.array(F.lit("y2h"), F.lit("coip"), F.lit("ms")),
            (_h(F.col("id"), 6, 3) + 1).cast("int"),
        ).alias("method"),
        F.element_at(
            F.array(F.lit("direct"), F.lit("physical")),
            (_h(F.col("id"), 7, 2) + 1).cast("int"),
        ).alias("interaction_type"),
    )
    src["symbol_map"] = r(n_prot).select(
        F.concat(F.lit("SYM"), F.col("id").cast("string")).alias("symbol"),
        F.lit("9606").alias("tax"),
        P(F.col("id")).alias("uniprot"),
    )
    src["biogrid"] = r(n_prot * 4).select(
        F.concat(F.lit("sym"), _h(F.col("id"), 8, n_prot).cast("string")).alias(
            "partner_a"
        ),
        F.concat(F.lit("SYM"), _h(F.col("id"), 9, n_prot).cast("string")).alias(
            "partner_b"
        ),
        F.lit("9606").alias("tax_a"),
        F.lit("9606").alias("tax_b"),
        _h(F.col("id"), 10, 90000).cast("string").alias("pmid"),
        F.element_at(
            F.array(F.lit("Two-hybrid"), F.lit("Affinity")),
            (_h(F.col("id"), 11, 2) + 1).cast("int"),
        ).alias("experimental_system"),
    )
    src["string_map"] = r(n_prot).select(
        F.concat(F.lit("9606.E"), F.col("id").cast("string")).alias("string_id"),
        P(F.col("id")).alias("uniprot"),
    )
    src["string"] = r(n_prot * 4).select(
        F.concat(F.lit("9606.E"), _h(F.col("id"), 12, n_prot).cast("string")).alias(
            "protein_a"
        ),
        F.concat(F.lit("9606.E"), _h(F.col("id"), 13, n_prot).cast("string")).alias(
            "protein_b"
        ),
        (_h(F.col("id"), 14, 850) + 150).cast("int").alias("combined_score"),
        F.when(
            _h(F.col("id"), 15, 3) > 0, (_h(F.col("id"), 16, 700) + 100).cast("int")
        ).alias("physical_combined_score"),
    )

    # --- DTI (six sources over overlapping (drug, protein) pairs) ----------
    def dti_pairs(n_rows: int, salt: int):
        d = r(n_rows)
        return d.select(
            DB(_h(F.col("id"), salt, n_drug)).alias("drugbank_id"),
            P(_h(F.col("id"), salt + 1, n_prot)).alias("uniprot_id"),
            F.col("id"),
        )

    moa = F.element_at(
        F.array(F.lit("Inhibitor"), F.lit("Antagonist"), F.lit("Agonist")),
        (_h(F.col("id"), 20, 3) + 1).cast("int"),
    )
    refs = F.concat_ws(
        "|",
        F.concat(F.lit("r"), _h(F.col("id"), 21, 500).cast("string")),
        F.concat(F.lit("r"), _h(F.col("id"), 22, 500).cast("string")),
    )
    src["dti_drugbank"] = dti_pairs(n_drug * 3, 23).select(
        "drugbank_id", "uniprot_id",
        moa.alias("mechanism_of_action_type"),
        refs.alias("references"),
        F.element_at(
            F.array(F.lit("yes"), F.lit("unknown")),
            (_h(F.col("id"), 24, 2) + 1).cast("int"),
        ).alias("known_action"),
    )
    src["dti_chembl"] = dti_pairs(n_drug * 4, 25).select(
        "drugbank_id", "uniprot_id",
        (_h(F.col("id"), 26, 90) / 10.0).alias("pchembl"),
        (_h(F.col("id"), 27, 1000) / 5.0).alias("activity_value"),
        F.element_at(
            F.array(F.lit("IC50"), F.lit("Ki"), F.lit("EC50")),
            (_h(F.col("id"), 28, 3) + 1).cast("int"),
        ).alias("activity_type"),
        refs.alias("references"),
        (_h(F.col("id"), 29, 9) + 1).cast("int").alias("confidence_score"),
        (_h(F.col("id"), 30, 2) == 0).alias("direct_interaction"),
        (_h(F.col("id"), 31, 2) == 0).alias("disease_efficacy"),
        moa.alias("mechanism_of_action"),
        moa.alias("mechanism_of_action_type"),
    )
    src["dti_pharos"] = dti_pairs(n_drug * 2, 32).select(
        "drugbank_id", "uniprot_id",
        F.element_at(
            F.array(F.lit("EC50"), F.lit("Kd")),
            (_h(F.col("id"), 33, 2) + 1).cast("int"),
        ).alias("activity_type"),
        moa.alias("mechanism_of_action_type"),
        F.when(_h(F.col("id"), 34, 4) > 0, _h(F.col("id"), 35, 90) / 10.0).alias(
            "pchembl"
        ),
        refs.alias("references"),
    )
    src["dti_dgidb"] = dti_pairs(n_drug * 2, 36).select(
        "drugbank_id", "uniprot_id",
        moa.alias("mechanism_of_action_type"),
        (_h(F.col("id"), 37, 100) / 100.0).alias("dgidb_score"),
        refs.alias("references"),
    )
    src["dti_stitch"] = dti_pairs(n_drug * 3, 38).select(
        "drugbank_id", "uniprot_id",
        (_h(F.col("id"), 39, 900) + 100).cast("int").alias(
            "stitch_combined_score"
        ),
    )
    src["dti_kegg"] = dti_pairs(n_drug, 40).select("drugbank_id", "uniprot_id")

    # --- gene–disease (eight sources) --------------------------------------
    def gda(n_rows: int, salt: int):
        d = r(n_rows)
        return d.select(
            G(_h(F.col("id"), salt, n_gene)).alias("gene_id"),
            MONDO(_h(F.col("id"), salt + 1, n_dis)).alias("disease_id"),
            F.col("id"),
        )

    src["gda_opentargets"] = gda(n_gene * 2, 41).select(
        "gene_id", "disease_id",
        (_h(F.col("id"), 43, 100) / 100.0).alias("opentargets_score"),
    )
    src["gda_diseases_knowledge"] = gda(n_gene, 44).select(
        "gene_id", "disease_id",
        (_h(F.col("id"), 46, 50) / 10.0).alias("diseases_confidence_score"),
    )
    src["gda_diseases_experimental"] = gda(n_gene, 47).select(
        "gene_id", "disease_id",
        (_h(F.col("id"), 49, 50) / 10.0).alias("diseases_confidence_score"),
    )
    src["gda_kegg"] = gda(n_gene // 2, 50).select("gene_id", "disease_id")
    src["gda_clinvar"] = gda(n_gene, 52).select(
        "gene_id", "disease_id",
        F.element_at(
            F.array(F.lit("Pathogenic"), F.lit("Likely pathogenic")),
            (_h(F.col("id"), 54, 2) + 1).cast("int"),
        ).alias("clinical_significance"),
        (_h(F.col("id"), 55, 4)).cast("int").alias("review_status"),
        F.concat(F.lit("rs"), _h(F.col("id"), 56, 10000).cast("string")).alias(
            "dbsnp_id"
        ),
        F.lit("ClinVar").alias("variant_source"),
    )
    src["gda_humsavar"] = gda(n_gene // 2, 57).select(
        "gene_id", "disease_id",
        F.concat(F.lit("rs"), _h(F.col("id"), 59, 10000).cast("string")).alias(
            "dbsnp_id"
        ),
        F.lit("UniProt").alias("variant_source"),
    )
    src["gda_disgenet_gda"] = gda(n_gene * 2, 60).select(
        "gene_id", "disease_id",
        (_h(F.col("id"), 62, 100) / 100.0).alias("disgenet_gene_disease_score"),
    )
    src["gda_disgenet_vda"] = gda(n_gene, 63).select(
        "gene_id", "disease_id",
        (_h(F.col("id"), 65, 100) / 100.0).alias(
            "disgenet_variant_disease_score"
        ),
        F.concat(F.lit("rs"), _h(F.col("id"), 66, 10000).cast("string")).alias(
            "dbsnp_id"
        ),
    )

    # --- compound (ChEMBL activities + STITCH CTI) -------------------------
    src["activities"] = r(n_cmp * 5).select(
        P(_h(F.col("id"), 67, n_prot)).alias("uniprot_id"),
        F.concat(F.lit("C"), _h(F.col("id"), 68, n_cmp).cast("string")).alias(
            "chembl"
        ),
        F.when(_h(F.col("id"), 69, 5) > 0, _h(F.col("id"), 70, 90) / 10.0).alias(
            "pchembl"
        ),
        (_h(F.col("id"), 71, 1000) / 5.0).alias("activity_value"),
        F.element_at(
            F.array(F.lit("IC50"), F.lit("Ki"), F.lit("EC50"), F.lit("Kd")),
            (_h(F.col("id"), 72, 4) + 1).cast("int"),
        ).alias("activity_type"),
        (_h(F.col("id"), 73, 9) + 1).cast("int").alias("confidence_score"),
        F.concat(F.lit("A"), _h(F.col("id"), 74, 300).cast("string")).alias(
            "assay_chembl"
        ),
        refs.alias("references"),
    )
    # every 4th compound belongs to the drug adapter (P5 disjointness)
    src["chembl_to_drugbank"] = r(n_cmp).filter(F.col("id") % 4 == 0).select(
        F.concat(F.lit("C"), F.col("id").cast("string")).alias("chembl"),
        DB(_h(F.col("id"), 75, n_drug)).alias("drugbank_id"),
    )
    src["stitch_cti"] = r(n_cmp * 2).select(
        P(_h(F.col("id"), 76, n_prot)).alias("uniprot_id"),
        F.concat(F.lit("C"), _h(F.col("id"), 77, n_cmp).cast("string")).alias(
            "chembl"
        ),
        (_h(F.col("id"), 78, 900) + 100).cast("int").alias(
            "stitch_combined_score"
        ),
        F.array(F.lit("STITCH")).alias("source"),
    )

    # --- DDI ----------------------------------------------------------------
    src["ddi_kegg"] = r(n_drug * 3).select(
        DB(_h(F.col("id"), 79, n_drug)).alias("drug1"),
        DB(_h(F.col("id"), 80, n_drug)).alias("drug2"),
        F.element_at(
            F.array(F.lit("contraindication"), F.lit("precaution"), F.lit("")),
            (_h(F.col("id"), 81, 3) + 1).cast("int"),
        ).alias("recommendation"),
    ).filter(F.col("drug1") != F.col("drug2"))
    src["ddi_ddinter"] = r(n_drug * 3).select(
        DB(_h(F.col("id"), 82, n_drug)).alias("drug1"),
        DB(_h(F.col("id"), 83, n_drug)).alias("drug2"),
        F.element_at(
            F.array(F.lit("Major"), F.lit("Moderate"), F.lit("Minor")),
            (_h(F.col("id"), 84, 3) + 1).cast("int"),
        ).alias("interaction_level"),
        F.element_at(
            F.array(F.lit("pharmacokinetic"), F.lit("pharmacodynamic")),
            (_h(F.col("id"), 85, 2) + 1).cast("int"),
        ).alias("interaction_type"),
    ).filter(F.col("drug1") != F.col("drug2"))

    # --- DGI (CTD chemical–gene) -------------------------------------------
    src["cas_map"] = r(n_drug * 2).select(
        F.concat(F.lit("CAS"), F.col("id").cast("string")).alias("cas_rn"),
        DB(_h(F.col("id"), 86, n_drug)).alias("drugbank_id"),
    )
    acts = F.array(F.lit("increases_expression"), F.lit("decreases_expression"),
                   F.lit("binding"))
    src["ctd_dgi"] = r(n_gene * 3).select(
        _h(F.col("id"), 87, n_gene).alias("entrez_id"),
        F.concat(
            F.lit("CAS"), _h(F.col("id"), 88, n_drug * 2 + 40).cast("string")
        ).alias("cas_rn"),  # +40: some CAS ids unmapped -> dropped path
        F.array(
            F.element_at(acts, (_h(F.col("id"), 89, 3) + 1).cast("int")),
            F.element_at(acts, (_h(F.col("id"), 90, 3) + 1).cast("int")),
        ).alias("interaction_actions"),
        F.array(
            F.concat(F.lit("p"), _h(F.col("id"), 91, 9000).cast("string"))
        ).alias("pubmed_ids"),
    )

    # --- disease–drug ---------------------------------------------------------
    src["mondo_map"] = r(n_dis).select(
        F.element_at(
            F.array(F.lit("MESH"), F.lit("OMIM"), F.lit("EFO")),
            (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"),
        ).alias("db"),
        F.concat(F.lit("L"), F.col("id").cast("string")).alias("local_id"),
        MONDO(F.col("id")).alias("mondo_id"),
    )
    src["ctd_chem_disease"] = r(n_dis * 6).select(
        F.element_at(
            F.array(F.lit("MESH"), F.lit("OMIM"), F.lit("EFO")),
            (F.pmod(_h(F.col("id"), 92, n_dis), F.lit(3)) + 1).cast("int"),
        ).alias("disease_db"),
        F.concat(F.lit("L"), _h(F.col("id"), 92, n_dis).cast("string")).alias(
            "disease_local_id"
        ),
        F.concat(
            F.lit("CAS"), _h(F.col("id"), 93, n_drug * 2).cast("string")
        ).alias("cas_rn"),
        F.element_at(
            F.array(F.lit("therapeutic"), F.lit("marker/mechanism")),
            (_h(F.col("id"), 94, 2) + 1).cast("int"),
        ).alias("direct_evidence"),
        F.array(
            F.concat(F.lit("p"), _h(F.col("id"), 95, 9000).cast("string")),
            F.concat(F.lit("p"), _h(F.col("id"), 96, 9000).cast("string")),
        ).alias("pubmed_ids"),
    )
    src["chembl_indication"] = r(n_dis * 4).select(
        F.element_at(
            F.array(F.lit("EFO"), F.lit("MONDO")),
            (_h(F.col("id"), 97, 2) + 1).cast("int"),
        ).alias("efo_db"),
        F.when(
            _h(F.col("id"), 97, 2) == 1, _h(F.col("id"), 98, n_dis).cast("string")
        )
        .otherwise(
            F.concat(F.lit("L"), _h(F.col("id"), 98, n_dis).cast("string"))
        )
        .alias("efo_local_id"),
        F.concat(F.lit("CH"), _h(F.col("id"), 99, n_cmp).cast("string")).alias(
            "molecule_chembl"
        ),
        (_h(F.col("id"), 100, 5)).cast("double").alias("max_phase"),
    )
    src["chembl_map"] = r(n_cmp).select(
        F.concat(F.lit("CH"), F.col("id").cast("string")).alias("chembl_id"),
        DB(_h(F.col("id"), 101, n_drug)).alias("drugbank_id"),
    )
    src["kegg_drug_map"] = r(n_drug).select(
        F.concat(F.lit("K"), F.col("id").cast("string")).alias("kegg_drug_id"),
        DB(F.col("id")).alias("drugbank_id"),
    )
    src["kegg_indication"] = r(n_dis * 2).select(
        F.concat(F.lit("K"), _h(F.col("id"), 102, n_drug).cast("string")).alias(
            "kegg_drug_id"
        ),
        F.concat(F.lit("H"), _h(F.col("id"), 103, n_dis).cast("string")).alias(
            "kegg_disease_id"
        ),
    )
    # MeSH covers even kegg-disease ids, OMIM covers all (J5: MeSH wins on even)
    src["kegg_mesh_xref"] = r(n_dis).filter(F.col("id") % 2 == 0).select(
        F.concat(F.lit("H"), F.col("id").cast("string")).alias("kegg_disease_id"),
        MONDO(F.col("id")).alias("mondo"),
    )
    src["kegg_omim_xref"] = r(n_dis).select(
        F.concat(F.lit("H"), F.col("id").cast("string")).alias("kegg_disease_id"),
        MONDO(F.col("id")).alias("mondo"),
    )

    # --- disease–disease ------------------------------------------------------
    src["dda_genes"] = r(n_dis * 4).select(
        MONDO(_h(F.col("id"), 104, n_dis)).alias("disease_id1"),
        MONDO(_h(F.col("id"), 105, n_dis)).alias("disease_id2"),
        (_h(F.col("id"), 106, 10000) / 10000.0).alias("jaccard_genes"),
    )
    src["dda_variants"] = r(n_dis * 2).select(
        MONDO(_h(F.col("id"), 107, n_dis)).alias("disease_id1"),
        MONDO(_h(F.col("id"), 108, n_dis)).alias("disease_id2"),
        (_h(F.col("id"), 109, 10000) / 10000.0).alias("jaccard_variants"),
    )

    # --- domains --------------------------------------------------------------
    IPR = lambda c: F.concat(F.lit("IPR"), F.lpad(c.cast("string"), 6, "0"))  # noqa: E731
    src["interpro_entries"] = r(n_dom).select(
        IPR(F.col("id")).alias("interpro_id"),
        F.concat(F.lit("Domain name "), F.col("id").cast("string")).alias("name"),
        F.element_at(
            F.array(F.lit("Domain"), F.lit("Family")),
            (F.pmod(F.col("id"), F.lit(2)) + 1).cast("int"),
        ).alias("type"),
        _h(F.col("id"), 174, 5000).cast("string").alias("protein_count"),
    )
    src["interpro_member"] = r(n_dom * 2).select(
        IPR(_h(F.col("id"), 110, n_dom)).alias("interpro_id"),
        F.element_at(
            F.array(F.lit("PFAM"), F.lit("PROSITE")),
            (_h(F.col("id"), 111, 2) + 1).cast("int"),
        ).alias("db"),
        F.array(
            F.concat(F.lit("PF"), _h(F.col("id"), 112, 20000).cast("string"))
        ).alias("ids"),
    )
    src["interpro_external"] = r(n_dom).select(
        IPR(F.col("id")).alias("interpro_id"),
        F.lit("EC").alias("db"),
        F.array(
            F.concat(
                _h(F.col("id"), 113, 6).cast("string"), F.lit(".1.1."),
                _h(F.col("id"), 114, 50).cast("string"),
            )
        ).alias("ids"),
    )
    src["domain_annotations"] = r(n_prot).select(
        P(F.col("id")).alias("uniprot"),
        F.array(
            F.struct(
                IPR(_h(F.col("id"), 115, n_dom)).alias("interpro_id"),
                F.array(F.lit("10-50")).alias("locations"),
            ),
            F.struct(
                IPR(_h(F.col("id"), 116, n_dom)).alias("interpro_id"),
                F.array(F.lit("60-80"), F.lit("90-120")).alias("locations"),
            ),
        ).alias("annots"),
    )

    # --- drug nodes -----------------------------------------------------------
    src["drug_core"] = r(n_drug).select(
        DB(F.col("id")).alias("drugbank_id"),
        F.concat(F.lit("Drug '"), F.col("id").cast("string"), F.lit("'")).alias(
            "name"
        ),
        F.when(
            F.col("id") % 3 != 0,
            F.concat(F.lit("50-"), F.col("id").cast("string")),
        ).alias("cas_number"),
        F.when(F.col("id") % 2 == 0, F.concat(F.lit("ref"), F.col("id"))).alias(
            "general_references"
        ),
    )
    src["drug_external"] = r(n_drug).filter(F.col("id") % 2 == 0).select(
        DB(F.col("id")).alias("drugbank_id"),
        F.concat(F.lit("64-"), F.col("id").cast("string")).alias("cas_number"),
        F.concat(F.lit("D"), F.lpad(F.col("id").cast("string"), 5, "0")).alias(
            "kegg_drug"
        ),
    )
    src["drug_inchi"] = r(n_drug).filter(F.col("id") % 3 == 0).select(
        DB(F.col("id")).alias("drugbank_id"),
        F.concat(F.lit("InChI=1S/C"), F.col("id").cast("string")).alias("InChI"),
    )

    # --- GO -------------------------------------------------------------------
    GO = lambda c: F.concat(F.lit("GO:"), F.lpad(c.cast("string"), 7, "0"))  # noqa: E731
    src["go_aspects"] = r(n_go).select(
        GO(F.col("id")).alias("go_id"),
        F.element_at(
            F.array(F.lit("P"), F.lit("F"), F.lit("C")),
            (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"),
        ).alias("aspect"),
    )
    src["go_annotations"] = r(n_prot * 3).select(
        P(_h(F.col("id"), 117, n_prot)).alias("uniprot"),
        GO(_h(F.col("id"), 118, n_go + 10)).alias("go_id"),  # some unknown GO
        F.element_at(
            F.array(F.lit("involved in"), F.lit("enables"), F.lit("located in")),
            (_h(F.col("id"), 119, 3) + 1).cast("int"),
        ).alias("qualifier"),
        F.element_at(
            F.array(F.lit("EXP"), F.lit("IDA"), F.lit("IEA")),
            (_h(F.col("id"), 120, 3) + 1).cast("int"),
        ).alias("evidence_code"),
        F.concat(F.lit("GO_REF:"), _h(F.col("id"), 175, 9000).cast("string")).alias(
            "reference"
        ),
    )
    src["go_edges"] = r(n_go * 2).select(
        GO(_h(F.col("id"), 121, n_go)).alias("child"),
        GO(_h(F.col("id"), 122, n_go)).alias("parent"),
        F.element_at(
            F.array(F.lit("is_a"), F.lit("part_of")),
            (_h(F.col("id"), 123, 2) + 1).cast("int"),
        ).alias("relation"),
    ).filter(F.col("child") != F.col("parent"))
    src["interpro2go"] = r(n_dom).select(
        IPR(F.col("id")).alias("interpro_id"),
        GO(_h(F.col("id"), 124, n_go + 10)).alias("go_id"),
    )

    # --- orthology ------------------------------------------------------------
    src["oma"] = r(n_prot * 2).select(
        F.concat(
            F.lit("E"), _h(F.col("id"), 125, n_prot).cast("string"),
            F.lit("_HUMAN"),
        ).alias("entry_a"),
        F.concat(
            F.lit("E"), _h(F.col("id"), 126, n_prot).cast("string"),
            F.lit("_MOUSE"),
        ).alias("entry_b"),
        F.element_at(
            F.array(F.lit("1:1"), F.lit("1:n")),
            (_h(F.col("id"), 127, 2) + 1).cast("int"),
        ).alias("relation_type"),
        (_h(F.col("id"), 176, 1000) / 10.0).alias("score"),
    )
    src["oma_name_map"] = r(n_prot).select(
        F.concat(F.lit("E"), F.col("id").cast("string"), F.lit("_HUMAN")).alias(
            "entry_name"
        ),
        P(F.col("id")).alias("uniprot"),
    ).unionByName(
        r(n_prot).select(
            F.concat(
                F.lit("E"), F.col("id").cast("string"), F.lit("_MOUSE")
            ).alias("entry_name"),
            P(F.col("id") + 1_000_000).alias("uniprot"),
        )
    )
    src["uniprot_to_entrez"] = r(n_prot).select(
        P(F.col("id")).alias("uniprot"),
        G(F.col("id")).alias("entrez"),
    ).unionByName(
        r(n_prot).select(
            P(F.col("id") + 1_000_000).alias("uniprot"),
            G(F.col("id") + 1_000_000).alias("entrez"),
        )
    )
    src["pypath_orth"] = r(n_prot).select(
        G(_h(F.col("id"), 128, n_prot)).alias("entrez_a"),
        G(_h(F.col("id"), 129, n_prot) + 1_000_000).alias("entrez_b"),
        F.lit("ortholog").alias("pypath_relation"),
    )

    # --- pathways -------------------------------------------------------------
    src["pathway_kegg"] = r(n_prot * 2).select(
        P(_h(F.col("id"), 130, n_prot)).alias("protein"),
        F.concat(
            F.lit("hsa"), F.lpad(_h(F.col("id"), 131, n_path).cast("string"), 5, "0")
        ).alias("pathway_id"),
        F.lit("KEGG").alias("source"),
    )
    src["pathway_reactome"] = r(n_prot * 2).select(
        P(_h(F.col("id"), 132, n_prot)).alias("protein"),
        F.concat(
            F.lit("R-HSA-"), _h(F.col("id"), 133, n_path).cast("string")
        ).alias("pathway_id"),
        F.lit("Reactome").alias("source"),
        F.lit("TAS").alias("evidence_code"),
    )
    src["disease_pathway_kegg"] = r(n_dis * 2).select(
        MONDO(_h(F.col("id"), 134, n_dis)).alias("disease_id"),
        F.concat(
            F.lit("hsa"), F.lpad(_h(F.col("id"), 135, n_path).cast("string"), 5, "0")
        ).alias("pathway_id"),
    )
    src["disease_pathway_ctd"] = r(n_dis * 2).select(
        MONDO(_h(F.col("id"), 136, n_dis)).alias("disease_id"),
        F.concat(
            F.lit("hsa"), F.lpad(_h(F.col("id"), 137, n_path).cast("string"), 5, "0")
        ).alias("pathway_id"),
    )
    src["kegg_pathway_ids"] = r(n_path * 2).select(
        F.concat(
            F.element_at(
                F.array(F.lit("hsa"), F.lit("mmu")),
                (F.pmod(F.col("id"), F.lit(2)) + 1).cast("int"),
            ),
            F.lpad((F.col("id") / 2).cast("long").cast("string"), 5, "0"),
        ).alias("pathway_id")
    )
    src["reactome_pathway_ids"] = r(n_path * 2).select(
        F.concat(
            F.element_at(
                F.array(F.lit("R-HSA-"), F.lit("R-MMU-")),
                (F.pmod(F.col("id"), F.lit(2)) + 1).cast("int"),
            ),
            (F.col("id") / 2).cast("long").cast("string"),
        ).alias("pathway_id")
    )

    # --- phenotype ------------------------------------------------------------
    HP = lambda c: F.concat(F.lit("HP:"), F.lpad(c.cast("string"), 7, "0"))  # noqa: E731
    src["hpo"] = r(n_dis * 3).select(
        HP(_h(F.col("id"), 138, n_se)).alias("hpo_id"),
        F.concat(
            F.element_at(
                F.array(F.lit("OMIM:"), F.lit("ORPHA:")),
                (_h(F.col("id"), 139, 2) + 1).cast("int"),
            ),
            _h(F.col("id"), 140, n_dis).cast("string"),
        ).alias("omim"),
        F.when(
            _h(F.col("id"), 141, 2) == 0,
            F.concat(F.lit("PMID:"), _h(F.col("id"), 142, 9000).cast("string")),
        ).alias("pmid"),
        F.element_at(
            F.array(F.lit("PCS"), F.lit("IEA"), F.lit("TAS")),
            (_h(F.col("id"), 143, 3) + 1).cast("int"),
        ).alias("evidence"),
    )
    src["omim_to_mondo"] = r(n_dis).select(
        F.col("id").cast("string").alias("omim"),
        MONDO(F.col("id")).alias("mondo"),
    )

    # --- side effects ----------------------------------------------------------
    MED = lambda c: F.concat(F.lit("M"), c.cast("string"))  # noqa: E731
    src["se_adrecs"] = r(n_drug * 2).select(
        DB(_h(F.col("id"), 144, n_drug)).alias("drugbank_id"),
        MED(_h(F.col("id"), 145, n_se)).alias("meddra_id"),
        F.concat(
            (_h(F.col("id"), 146, 1000) / 10.0).cast("string"), F.lit("%")
        ).alias("adrecs_freq"),
    )
    src["se_sider"] = r(n_drug * 3).select(
        DB(_h(F.col("id"), 147, n_drug)).alias("drugbank_id"),
        MED(_h(F.col("id"), 148, n_se)).alias("meddra_id"),
    )
    src["se_offsides"] = r(n_drug * 2).select(
        DB(_h(F.col("id"), 149, n_drug)).alias("drugbank_id"),
        MED(_h(F.col("id"), 150, n_se)).alias("meddra_id"),
        (_h(F.col("id"), 151, 100) / 10.0).alias(
            "proportional_reporting_ratio"
        ),
    )

    # --- TF–gene ---------------------------------------------------------------
    src["collectri"] = r(n_gene * 2).select(
        F.when(
            _h(F.col("id"), 152, 10) == 0,
            F.concat(
                F.lit("COMPLEX:P"), _h(F.col("id"), 153, n_prot).cast("string"),
                F.lit("_P"), _h(F.col("id"), 154, n_prot).cast("string"),
            ),
        )
        .otherwise(P(_h(F.col("id"), 153, n_prot)))
        .alias("tf"),
        P(_h(F.col("id"), 155, n_prot)).alias("target"),
        F.when(
            _h(F.col("id"), 156, 3) > 0,
            F.concat_ws(
                ";",
                _h(F.col("id"), 157, 9000).cast("string"),
                _h(F.col("id"), 158, 9000).cast("string"),
            ),
        ).alias("pubmed"),
        (_h(F.col("id"), 159, 3) - 1).cast("int").alias("effect"),
    )
    src["dorothea"] = r(n_gene).select(
        G(_h(F.col("id"), 160, n_prot)).alias("tf"),
        G(_h(F.col("id"), 161, n_prot)).alias("target"),
        F.element_at(
            F.array(F.lit("Activation"), F.lit("Repression"), F.lit("Unknown")),
            (_h(F.col("id"), 162, 3) + 1).cast("int"),
        ).alias("tf_effect"),
        F.element_at(
            F.array(F.lit("A"), F.lit("B"), F.lit("C")),
            (_h(F.col("id"), 163, 3) + 1).cast("int"),
        ).alias("dorothea_confidence"),
        F.array(F.lit("DoRothEA")).alias("source"),
        F.lit(None).cast("array<string>").alias("pubmed_ids"),
    )
    src["trrust"] = r(n_gene).select(
        G(_h(F.col("id"), 164, n_prot)).alias("tf"),
        G(_h(F.col("id"), 165, n_prot)).alias("target"),
        F.element_at(
            F.array(F.lit("Activation"), F.lit("Repression")),
            (_h(F.col("id"), 166, 2) + 1).cast("int"),
        ).alias("tf_effect"),
        _h(F.col("id"), 167, 9000).cast("string").alias("trrust_pmid"),
        F.array(F.lit("TRRUST")).alias("source"),
    )

    # --- UniProt node attributes -----------------------------------------------
    src["up_length"] = r(n_prot).select(
        P(F.col("id")).alias("accession"),
        (_h(F.col("id"), 168, 3000) + 50).cast("string").alias("length"),
    )
    src["up_mass"] = r(n_prot).select(
        P(F.col("id")).alias("accession"),
        F.format_number(
            (_h(F.col("id"), 169, 300000) + 5000).cast("long"), 0
        ).alias("mass"),
    )
    src["up_organism"] = r(n_prot).select(
        P(F.col("id")).alias("accession"),
        F.lit("9606").alias("organism_id"),
    )
    src["up_xrefs"] = r(n_prot).select(
        P(F.col("id")).alias("accession"),
        F.when(
            _h(F.col("id"), 170, 3) > 0,
            F.concat(
                F.lit("hsa:"), _h(F.col("id"), 171, 30000).cast("string"),
                F.lit(";"),
            ),
        ).alias("kegg"),
    )
    src["up_ensembl"] = r(n_prot).select(
        P(F.col("id")).alias("accession"),
        F.when(
            _h(F.col("id"), 172, 4) > 0,
            F.concat(
                F.lit("ENST"), _h(F.col("id"), 173, n_prot).cast("string"),
                F.lit(" [P"), F.col("id").cast("string"), F.lit("-1]"),
            ),
        ).alias("ensembl_transcript"),
    )
    src["enst_map"] = r(n_prot).select(
        F.concat(F.lit("ENST"), F.col("id").cast("string")).alias("enst"),
        F.concat(
            F.lit("ENSG"), (F.col("id") / 2).cast("long").cast("string")
        ).alias("ensg"),
    )

    return src
