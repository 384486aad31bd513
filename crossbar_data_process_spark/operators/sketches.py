"""Mergeable distinct-count sketches (Apache DataSketches HLL, built into
Spark): the incremental-analytics layer a 100 TB warehouse needs for
"distinct users/documents/entities per X" questions.

The scale idea is the SILVER SKETCH TABLE: aggregate each fine-grained
cell (day × source × …) to a binary HLL sketch ONCE, persist it, and
answer every coarser rollup (month, global, any key subset) by merging
sketches — kilobytes per cell — instead of re-scanning and re-shuffling
the raw corpus per question. Merging is associative/commutative, so
late-arriving partitions just union in; exact distinct at that cadence
would hold per-cell distinct sets (unbounded state) or rescan.

No DuckDB oracle: sketch binaries are library-specific, so this family is
pytest-bounded against exact answers (the declared-query contract allows
rows-only/pytest surfaces for non-SQL-expressible ops).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def distinct_sketch_table(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    lgk: int = 12,
) -> DataFrame:
    """The silver table: one row per key combination with a binary HLL
    sketch of the distinct ``value_col`` values — ONE shuffle on the keys,
    map-side partial sketching (sketches merge in the combiner, so hot
    keys cost bytes, not rows). ``lgk`` trades size for accuracy (2^lgk
    buckets; 12 ≈ 1.6% rsd in ~4 KB)."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(value_col, F.lit(lgk)).alias("sketch"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def rollup_distinct(
    sketches: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Answer a coarser grouping FROM the silver sketches: union the cell
    sketches per ``keys`` subset and estimate. Never touches the raw data;
    cost is proportional to the number of CELLS, not corpus rows. Pass
    ``keys=[]`` for the global distinct."""
    agg = [
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("distinct_est"),
        F.sum("n_rows").alias("n_rows"),
    ]
    if keys:
        return sketches.groupBy(*keys).agg(*agg)
    return sketches.agg(*agg)


# --------------------------------------------------------------------------
# Mergeable QUANTILE sketch: log-spaced histogram. The distribution twin of
# the HLL silver above — persist per-cell bin counts once, answer any
# coarser rollup's quantiles by SUMMING counts (associative/commutative,
# late partitions union in), never re-scanning or globally sorting the
# corpus. Deterministic and engine-portable (bins are pure arithmetic —
# no library binary), unlike approx_percentile whose summary state is
# opaque and not persistable from PySpark.
#
# Error contract: a value in bin b lies in [10^(b/B), 10^((b+1)/B)), so a
# quantile read back from bin edges is exact to a multiplicative factor
# 10^(1/B) (B=20 → ≤12.2%, B=50 → ≤4.7% relative). Right for positive,
# heavy-tailed measures (doc lengths, token counts, perplexities, prices)
# where relative error is the meaningful metric at 100 TB.

_NONPOS_BIN = -(2**31)  # values ≤ 0 (incl. -inf): ordered at the bottom
_NAN_BIN = -(2**31) + 1  # NaN: unordered — excluded from rank positions
_POSINF_BIN = 2**31 - 1  # +inf: ordered at the top, no finite edge


def _log_bin(value: Column, bins_per_decade: int) -> Column:
    # non-finite quarantine FIRST (r11 review, verified on Spark 4.1.2):
    # +inf → floor(log10(inf)) = Long.MAX → ANSI CAST_OVERFLOW kills the
    # job on one bad row; NaN compares > 0 under Spark's NaN ordering and
    # silently lands in bin 0 as a value near 1.0. Both get reserved bins;
    # -inf is ≤ 0 and falls into the nonpositive bin on its own.
    v = value.cast("double")
    return (
        F.when(F.isnan(v), F.lit(_NAN_BIN))
        .when(v == F.lit(float("inf")), F.lit(_POSINF_BIN))
        .when(
            v > 0,
            F.floor(F.log10(v) * F.lit(float(bins_per_decade))).cast("int"),
        )
        .otherwise(F.lit(_NONPOS_BIN))
    )


def histogram_sketch_table(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    bins_per_decade: int = 20,
) -> DataFrame:
    """The silver: one row per (keys…, bin) with a count — ONE shuffle on
    (keys, bin), map-side partial counting. A cell's histogram is ≤
    bins_per_decade × (decades spanned) rows (~a few hundred), so the
    silver is cell-count-sized, never corpus-sized. NULL values are
    dropped (no measurement); values ≤ 0 (incl. −inf) land in a reserved
    bin that quantile reads report via ``n_nonpositive`` rather than
    folding into the log domain; NaN and +inf get their own reserved
    bins (``n_nan`` / NULL-edge semantics — see :func:`rollup_quantiles`;
    without the quarantine +inf ANSI-overflows the int cast and NaN
    silently lands near 1.0). Merge finer silvers into coarser ones by
    groupBy-SUM
    over the same bin column (:func:`rollup_quantiles` does it per read).
    """
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*keys, _log_bin(F.col(value_col), bins_per_decade).alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        # the bin ids are meaningless without B — stamp it INTO the silver
        # (every other persisted artifact carries its identity: centroids,
        # codebooks, LSH params; r11 review) so a rollup can derive and
        # verify it instead of trusting the caller to remember
        .withColumn("bpd", F.lit(int(bins_per_decade)))
    )


def check_quantile_expectations(
    hist: DataFrame,
    rules: dict[str, tuple[float, "callable"]],
) -> DataFrame:
    """Distribution-level data-quality gate over the HISTOGRAM SILVER:
    assert shape properties ("p95 doc length ≤ 50k", "median perplexity
    ≥ 2") from kilobytes of bin counts instead of rescanning the corpus.
    ``rules`` maps a rule name to ``(q, check)`` where ``check`` is a
    Column→Column boolean on the quantile's value (upper-edge estimate,
    within one bin width — see :func:`rollup_quantiles`; a NULL estimate,
    i.e. the quantile falls in nonpositive mass, fails the rule: an
    unknown is not a pass). One rollup pass, driver-side assembly bounded
    by the rule count. Returns (rule, q, value, pass)."""
    if not rules:
        raise ValueError("check_quantile_expectations needs at least one rule")
    qs = sorted({q for q, _ in rules.values()})
    row = rollup_quantiles(hist, [], qs).collect()[0]
    spark = hist.sparkSession
    vals = {
        name: row[f"q_{str(q).replace('.', '_')}"]
        for name, (q, _) in rules.items()
    }
    # ALL rule predicates in one 1-row select (one job, not one per rule);
    # NULL quantile or NULL predicate result → fail
    names = list(rules)
    checks = spark.range(1).select(
        *[
            F.coalesce(
                F.lit(False)
                if vals[n] is None
                else rules[n][1](F.lit(float(vals[n]))),
                F.lit(False),
            ).alias(f"__r{i}")
            for i, n in enumerate(names)
        ]
    ).first()
    out = [
        (n, float(rules[n][0]), vals[n], bool(checks[f"__r{i}"]))
        for i, n in enumerate(names)
    ]
    return spark.createDataFrame(
        out, "rule string, q double, value double, pass boolean"
    )


def rollup_quantiles(
    hist: DataFrame,
    keys: list[str],
    qs: list[float],
    bins_per_decade: int | None = None,
) -> DataFrame:
    """Quantiles for any COARSER key subset straight from the bin-count
    silver: sum counts per (keys, bin), cumulative-sum over bins, and for
    each q report the UPPER edge ``10^((bin+1)/B)`` of the first bin
    whose cumulative count reaches ``ceil(q·n)`` — a deterministic,
    engine-portable read whose value is within one bin width (factor
    ``10^(1/B)``) of the exact quantile. Never touches raw data; cost is
    proportional to silver rows. Returns one row per key combination:
    (keys…, n, n_nonpositive, n_nan, q_<q> …). Nonpositive values
    (incl. −inf) count toward ``n`` ranks (they sort below every
    positive bin) and +inf counts at the top, but a quantile landing in
    either reports NULL — there is no finite log edge to name. NaN rows
    are EXCLUDED from rank positions entirely (NaN is unordered —
    placing it anywhere would distort every quantile) and reported as
    ``n_nan``. An empty (or all-NULL-value) histogram yields n=0 with
    NULL quantiles, not an error.

    ``bins_per_decade`` is normally None: B is read from the silver's own
    ``bpd`` stamp column and verified homogeneous per group (mixing two
    silvers binned at different B would silently reinterpret every bin —
    the read fails instead, r11 review). Pass it explicitly only for a
    legacy frame without the stamp (it then also cross-checks a present
    stamp). Pass ``keys=[]`` for the global distribution."""
    from pyspark.sql import Window

    if not qs:
        raise ValueError("rollup_quantiles needs at least one quantile")
    if any(q <= 0 or q > 1 for q in qs):
        raise ValueError(f"quantiles must be in (0, 1], got {qs}")
    has_bpd = "bpd" in hist.columns
    if not has_bpd:
        if bins_per_decade is None:
            raise ValueError(
                "histogram frame carries no 'bpd' stamp column and no "
                "bins_per_decade was passed — bin ids are meaningless "
                "without B"
            )
        hist = hist.withColumn("bpd", F.lit(int(bins_per_decade)))
    merged = hist.groupBy(*keys, "bin").agg(
        F.sum("cnt").alias("cnt"),
        F.min("bpd").alias("__bmin"),
        F.max("bpd").alias("__bmax"),
    )
    w = (
        Window.partitionBy(*[F.col(k) for k in keys])
        if keys
        else Window.partitionBy(F.lit(1))
    )
    # NaN rows carry no rank position: the cumulative/total sums skip
    # them (counted separately as n_nan)
    ranked_cnt = F.when(F.col("bin") == _NAN_BIN, F.lit(0)).otherwise(
        F.col("cnt")
    )
    cum = merged.withColumn(
        "cum", F.sum(ranked_cnt).over(w.orderBy("bin"))
    ).withColumn("n", F.sum(ranked_cnt).over(w))
    aggs = [
        F.coalesce(F.max("n"), F.lit(0)).alias("n"),
        F.coalesce(
            F.max(
                F.when(F.col("bin") == _NONPOS_BIN, F.col("cnt")).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_nonpositive"),
        F.coalesce(
            F.max(
                F.when(F.col("bin") == _NAN_BIN, F.col("cnt")).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_nan"),
        F.min("__bmin").alias("__bmin"),
        F.max("__bmax").alias("__bmax"),
    ]
    names = []
    for q in qs:
        # the first bin whose cumulative count reaches ceil(q*n): min bin
        # among qualifying rows (bins are ordered, cum is monotone).
        # The RELATIVE back-off keeps a mathematically-integer q·n from
        # rounding UP in binary (0.017·3000 = 51.00000000000001 → rank 52
        # instead of 51 — measured); an absolute 1e-9 back-off stops
        # working once ulp(q·n) exceeds it (q·n > ~4.5e6 — the scale this
        # module targets; r11 review round 2), so scale the back-off with
        # the product itself.
        qn = F.lit(float(q)) * F.col("n")
        rank = F.ceil(qn * F.lit(1.0 - 1e-12))
        name = f"q_{str(q).replace('.', '_')}"
        names.append(name)
        aggs.append(
            F.min(
                F.when(
                    (F.col("bin") != _NAN_BIN) & (F.col("cum") >= rank),
                    F.col("bin"),
                )
            ).alias(f"__qbin_{name}")
        )
    grouped = cum.groupBy(*keys).agg(*aggs) if keys else cum.agg(*aggs)
    # homogeneity gate + edge math in one post-agg projection: a mixed-B
    # group (or a stamp contradicting an explicit bins_per_decade) raises
    # instead of reinterpreting bins. coalesce(…, True): an EMPTY global
    # rollup emits one all-NULL row — that is n=0, not a mixing error
    # (r11 review round 2: NULL==NULL is NULL and fell into the error
    # branch, whose concat'd message was itself NULL).
    b_ok = F.coalesce(F.col("__bmin") == F.col("__bmax"), F.lit(True))
    if bins_per_decade is not None:
        b_ok = b_ok & F.coalesce(
            F.col("__bmax") == F.lit(int(bins_per_decade)), F.lit(True)
        )
    err = F.raise_error(
        F.concat(
            F.lit(
                "histogram rollup mixes bins_per_decade stamps (or "
                "contradicts the explicit bins_per_decade): bpd in ["
            ),
            F.coalesce(F.col("__bmin").cast("string"), F.lit("NULL")),
            F.lit(", "),
            F.coalesce(F.col("__bmax").cast("string"), F.lit("NULL")),
            F.lit("] — bin ids from different B are incommensurable"),
        )
    )
    cols = [*keys, "n", "n_nonpositive", "n_nan"]
    out = grouped
    no_edge = (_NONPOS_BIN, _POSINF_BIN)
    for name in names:
        qbin = F.col(f"__qbin_{name}")
        val = F.when(
            qbin.isin(*no_edge), F.lit(None).cast("double")
        ).otherwise(
            F.pow(
                F.lit(10.0),
                (qbin + 1).cast("double") / F.col("__bmax").cast("double"),
            )
        )
        out = out.withColumn(name, F.when(b_ok, val).otherwise(err))
        cols.append(name)
    return out.select(*cols)
