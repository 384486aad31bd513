"""ID/CURIE functions (functions/ids.py) — bioregistry-style prefix
canonicalization mirroring the reference's ``add_prefix_to_id`` →
``normalize_curie`` idiom (orthology.py:344-352, ec.py:315-323)."""

from __future__ import annotations

from pyspark.sql import functions as F

from crossbar_data_process_spark.functions.ids import (
    PREFIX_ALIASES,
    add_curie_prefix,
    normalize_curie,
    normalize_prefix,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0].v


def test_normalize_curie_alias_and_case(spark):
    cases = {
        "UniProt:P12345": "uniprot:P12345",  # case only
        "GENEID:672": "ncbigene:672",  # alias -> canonical
        "MIM:154700": "omim:154700",
        "EC-CODE:1.1.1.1": "ec:1.1.1.1",
        "FooDB:9": "foodb:9",  # unknown prefix: lowercase, keep
        "noprefix": "noprefix",  # no sep: pass through untouched
        "GO:GO:0008150": "go:GO:0008150",  # local id kept byte-for-byte
    }
    for raw, want in cases.items():
        assert _one(spark, normalize_curie(F.lit(raw))) == want, raw


def test_normalize_curie_null_safe(spark):
    assert _one(spark, normalize_curie(F.lit(None).cast("string"))) is None


def test_normalize_prefix_custom_registry_overrides(spark):
    got = _one(
        spark, normalize_prefix(F.lit("MYDB"), aliases={"mydb": "canonical"})
    )
    assert got == "canonical"
    # built-in table no longer consulted under a custom registry
    assert _one(
        spark, normalize_prefix(F.lit("MIM"), aliases={"mydb": "canonical"})
    ) == "mim"


def test_add_curie_prefix_normalize_is_plan_time(spark):
    # the reference idiom: normalize_curie(prefix + ":" + id) — here the
    # literal prefix canonicalizes ONCE at plan build, never per row
    col = add_curie_prefix(F.lit("P04637"), "UniProtKB", normalize=True)
    assert _one(spark, col) == "uniprot:P04637"
    # default stays verbatim (the testdata contract's plain concat)
    assert _one(spark, add_curie_prefix(F.lit("7"), "supplier")) == "supplier:7"
    # NULL id -> NULL, with or without normalization
    assert _one(
        spark,
        add_curie_prefix(F.lit(None).cast("string"), "MIM", normalize=True),
    ) is None


def test_alias_table_is_canonical_closed(spark):
    # every canonical target must not itself be a registered alias —
    # normalization must be idempotent in one pass
    for canon in set(PREFIX_ALIASES.values()):
        assert canon not in PREFIX_ALIASES, canon


def test_large_registry_path_via_broadcast_map(spark):
    """The scale path the docs prescribe for BIG user registries: the alias
    table as a mapping DataFrame joined per J4 (broadcast_map), equivalent
    to the literal-map normalize_prefix on the same rules."""
    from crossbar_data_process_spark.operators.mapping import broadcast_map

    rules = [(k, v) for k, v in PREFIX_ALIASES.items()]
    mapping = spark.createDataFrame(rules, "alias string, canon string")
    docs = spark.createDataFrame(
        [("MIM", "154700"), ("UniProt", "P04637"), ("FooDB", "9")],
        "pre string, local string",
    )
    joined = broadcast_map(
        docs.withColumn("pre_low", F.lower("pre")),
        mapping,
        on=[("pre_low", "alias")],
        value_col="canon",
        out_col="canon",
        broadcast=True,
    ).select(
        "pre",
        "local",
        F.concat_ws(
            ":", F.coalesce("canon", F.col("pre_low")), F.col("local")
        ).alias("curie"),
    )
    got = {r.pre: r.curie for r in joined.collect()}
    want = {
        r.pre: r.curie
        for r in docs.select(
            "pre",
            normalize_curie(F.concat_ws(":", "pre", "local")).alias("curie"),
        ).collect()
    }
    assert got == want == {
        "MIM": "omim:154700",
        "UniProt": "uniprot:P04637",
        "FooDB": "foodb:9",
    }

