"""Session-factory posture (crossbar_data_process_spark/session.py): the
input-sized AQE scale margin and codegen rule as pure-function pins, plus
two checks on a live session: the interpreted posture really stops Janino
compiling, and case mapping without ICU matches Python's."""

from __future__ import annotations

import string

from pyspark.sql import functions as F

from crossbar_data_process_spark.session import (
    INTERPRET_MAX_BYTES,
    _initial_partitions,
    _input_parquet_bytes,
    _session_conf,
)

_INTERPRETED = {
    "spark.sql.codegen.wholeStage": "false",
    "spark.sql.codegen.factoryMode": "NO_CODEGEN",
}
_CODEGEN = {
    "spark.sql.codegen.wholeStage": "true",
    "spark.sql.codegen.factoryMode": "FALLBACK",
}


def _codegen_keys(conf: dict[str, str]) -> dict[str, str]:
    return {k: conf[k] for k in _INTERPRETED}


def test_initial_partitions_small_input_keeps_small_plan_shape():
    # sf0.1 is ~17 MB: the margin must floor at shuffle_partitions (the
    # r13 plan shape whose removal cost a measured ~4-5% at sf0.1)
    assert _initial_partitions(32, 16, 17 * 1024 * 1024) == 16


def test_initial_partitions_scales_with_input_and_caps():
    # 1.78 GB (the 5M-doc corpus) wants ceil(bytes/2MiB) ≈ 853 — capped
    # at the protective 4×cpus margin that fixed the r14 scale-1000 OOM
    assert _initial_partitions(32, 16, 1_780_000_000) == 128
    # mid-scale lands between floor and cap
    mid = _initial_partitions(32, 16, 178_000_000)  # 500k docs, 178 MB
    assert 16 < mid < 128 and mid == -(-178_000_000 // (2 * 1024 * 1024))


def test_initial_partitions_unknown_input_keeps_protective_margin():
    assert _initial_partitions(32, 16, None) == 128
    # cap also honors oversized explicit shuffle_partitions
    assert _initial_partitions(4, 64, None) == 256


def test_input_parquet_bytes_reads_sf_dir(tmp_path, monkeypatch):
    d = tmp_path / "sf"
    d.mkdir()
    (d / "a.parquet").write_bytes(b"x" * 1000)
    (d / "b.parquet").write_bytes(b"y" * 500)
    (d / "ignored.json").write_bytes(b"z" * 10_000)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(d))
    assert _input_parquet_bytes() == 1500
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path / "missing"))
    assert _input_parquet_bytes() is None


def test_input_bytes_follow_the_passed_dir():
    """r16, VERDICT r15 #4: the AQE-margin signal must follow the
    session's REAL input dir when the entry point knows it — sf0.001's
    bytes size a sf0.001 session to the shuffle-partition floor, not to
    sf0.1's ~91-part grain (the env-default walk)."""
    small = _input_parquet_bytes("/root/testdata/sf0.001")
    big = _input_parquet_bytes("/root/testdata/sf0.1")
    assert small is not None and big is not None and small < big
    # at test geometry (8 shuffle partitions) the small dir floors out
    assert _initial_partitions(32, 8, small) == 8
    # absent dir -> None -> protective margin
    assert _input_parquet_bytes("/no/such/dir") is None


def test_small_known_input_runs_interpreted():
    # 55_424_770: gen_sources at scale 30, the largest input the crossover
    # probe measured faster interpreted
    for size in (1, 466_976, 55_424_770, INTERPRET_MAX_BYTES):
        assert _codegen_keys(_session_conf(8, 8, size, None)) == _INTERPRETED


def test_unknown_or_large_input_keeps_codegen():
    assert _codegen_keys(_session_conf(8, 8, None, None)) == _CODEGEN
    # 93_026_083: gen_sources at scale 50, the smallest input the probe
    # measured faster compiled
    for size in (INTERPRET_MAX_BYTES + 1, 93_026_083, 1_780_000_000):
        assert _codegen_keys(_session_conf(8, 8, size, None)) == _CODEGEN


def test_extra_conf_wins_over_the_posture():
    conf = _session_conf(8, 8, 1024, {"spark.sql.codegen.wholeStage": "true"})
    assert conf["spark.sql.codegen.wholeStage"] == "true"
    assert conf["spark.sql.codegen.factoryMode"] == "NO_CODEGEN"
    conf = _session_conf(8, 8, None, _INTERPRETED)
    assert _codegen_keys(conf) == _INTERPRETED
    # the ICU switch is not sized: every posture gets it, and it yields too
    for size in (None, 1024, 1_780_000_000):
        conf = _session_conf(8, 8, size, None)
        assert conf["spark.sql.icu.caseMappings.enabled"] == "false"
    conf = _session_conf(
        8, 8, None, {"spark.sql.icu.caseMappings.enabled": "true"}
    )
    assert conf["spark.sql.icu.caseMappings.enabled"] == "true"


def test_interpreted_session_compiles_at_most_the_residual(spark):
    """The test session reads sf0.001, so it runs interpreted. A query
    shape no other test builds (odd constants) still compiles one class
    on pyspark 4.1.2; with compiled expressions it compiles 4, and 6 with
    whole-stage codegen as well.
    ``factoryMode`` is an internal conf: a Spark that ignores it fails
    here instead of quietly compiling again."""
    assert _codegen_keys(
        {k: spark.conf.get(k) for k in _INTERPRETED}
    ) == _INTERPRETED
    timer = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    before = timer.METRIC_COMPILATION_TIME().getCount()
    x = F.col("id") * 7907 + 6841
    spark.range(1000).select(x.alias("x")).filter(F.col("x") % 11 == 3).groupBy(
        (F.col("x") % 13).alias("g")
    ).agg(F.sum("x")).collect()
    assert timer.METRIC_COMPILATION_TIME().getCount() - before <= 1


# identifiers are ASCII letters, digits and separators; the rest are the
# strings whose case mapping is not one code point to one code point, or
# depends on context (final sigma) or locale (dotted/dotless i)
_CASE_SAMPLES = [
    string.ascii_letters + string.digits + "_:.-|;/ ",
    "ß", "ǆ", "ǅ", "Ǆ", "ﬁ", "ŉ", "ΐ", "ΟΔΟΣ", "ΌΣΟΣ ΣΑΣ", "İ", "İstanbul", "ı",
]


def test_case_mapping_matches_python(spark):
    """upper/lower without ICU equal Python's ``str.upper``/``str.lower``
    (the reference's pandas ``.str.upper()``/``.str.lower()``) on every
    sample: no difference has been found to record.
    Without ICU, Spark maps non-ASCII text with ``String.toUpperCase()``/
    ``toLowerCase()``, which follow the JVM's default locale; Turkish,
    Azeri and Lithuanian have their own rules for i/I and dotted letters,
    so the match holds only in other locales, and this test fails in
    those three."""
    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"
    language = spark._jvm.java.util.Locale.getDefault().getLanguage()
    assert language not in ("tr", "az", "lt"), language
    rows = (
        spark.createDataFrame([(s,) for s in _CASE_SAMPLES], "s string")
        .select("s", F.upper("s").alias("u"), F.lower("s").alias("l"))
        .collect()
    )
    assert {r.s: (r.u, r.l) for r in rows} == {
        s: (s.upper(), s.lower()) for s in _CASE_SAMPLES
    }
