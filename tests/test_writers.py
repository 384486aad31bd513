from __future__ import annotations

import glob

from pyspark.sql import Row
from pyspark.sql import functions as F

from crossbar_data_process_spark.sources.writers import (
    biocypher_tuples,
    write_chunked_csv,
)


def test_chunked_csv_respects_rows_per_file(spark, tmp_path):
    df = spark.range(1000).select(
        F.col("id"), F.array(F.lit("a"), F.lit("b")).alias("tags")
    ).coalesce(1)
    out = str(tmp_path / "chunks")
    write_chunked_csv(df, out, rows_per_file=250)
    files = sorted(glob.glob(f"{out}/part-*.csv"))
    assert len(files) >= 4  # 1000 rows / 250 per file
    header = open(files[0]).readline().strip()
    assert header == "id,tags"
    first_data = open(files[0]).readlines()[1].strip()
    assert first_data.endswith("a|b")  # array re-encoded as |-string


def test_biocypher_tuples(spark):
    nodes = spark.createDataFrame(
        [
            Row(id="uniprot:P1", label="protein",
                props={"length": "321", "mass": None}),
        ]
    )
    edges = spark.createDataFrame(
        [
            Row(src="uniprot:P1", tgt="uniprot:P2",
                label="protein_protein_interaction",
                props={"score": "0.9"}),
        ]
    )
    tuples = list(biocypher_tuples(nodes, edges))
    assert tuples[0] == ("uniprot:P1", "protein", {"length": "321"})  # NULL prop dropped
    assert tuples[1] == (
        None, "uniprot:P1", "uniprot:P2",
        "protein_protein_interaction", {"score": "0.9"},
    )


def test_biocypher_tuples_struct_props(spark):
    """Struct-typed props columns (pyspark Row has no .items()) must honor
    the documented '(id, label, props:map/struct)' contract (ADVICE r01)."""
    nodes = spark.createDataFrame(
        [(("aspirin", None), "drugbank:DB1", "drug")],
        "props struct<name:string,cas:string>, id string, label string",
    )
    edges = spark.createDataFrame(
        [(("6.1", None), "drugbank:DB1", "uniprot:P1", "drug_targets_protein")],
        "props struct<pchembl:string,known_action:string>, "
        "src string, tgt string, label string",
    )
    tuples = list(biocypher_tuples(nodes, edges))
    assert tuples[0] == ("drugbank:DB1", "drug", {"name": "aspirin"})
    assert tuples[1] == (
        None, "drugbank:DB1", "uniprot:P1", "drug_targets_protein",
        {"pchembl": "6.1"},
    )
