"""Source/sink layer (SURVEY.md §2.1 S1–S8).

The reference's downloads (pypath REST/FTP crawls, S1–S3) are ingestion
jobs *outside* the query engine: they land raw payloads in a bronze
directory, and everything after that is ``spark.read``. This package covers
the Spark-side surface: tabular readers (parquet/csv/json/text with explicit
schemas), the KEGG-style flat-text record parser as DataFrame expressions,
sinks (chunked CSV, BioCypher tuple iterator), and
``synthetic.gen_sources``, the deterministic raw tables the composed gold
build (``plans/gold.py``) runs on.
"""

from crossbar_data_process_spark.sources.readers import (
    read_table,
    read_testdata,
)
from crossbar_data_process_spark.sources.writers import (
    biocypher_tuples,
    write_chunked_csv,
)

__all__ = [
    "biocypher_tuples",
    "read_table",
    "read_testdata",
    "write_chunked_csv",
]
