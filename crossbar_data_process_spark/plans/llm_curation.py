"""End-to-end training-data curation — the composition the LLM-pipeline
charter exists for, as ONE named plan over the engine's own operators:

    profile → language/quality gate → exact dedup → near-dup resolution

Each stage is an operator with its own oracle-checked query (q22 profile,
q21 exact dedup, q26 LSH pairs, q53 resolution); this module is the
user-facing pipeline that chains them, plus the funnel report a curation
run is judged by.

Scale shape: the gates are scan-side filters (pushed below everything);
exact dedup is one shuffle on the 16-byte fingerprint; near-dup candidates
come from LSH band buckets (never n²) and the component loop runs only
over pair-involved docs. The whole pipeline is a single lazy plan until
the caller writes it; the intermediate `gated` frame is materialized once
(GC-managed) because three stages consume it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from crossbar_data_process_spark.functions.text import (
    doc_fingerprint,
    language_id,
    quality_score,
    token_count,
)
from crossbar_data_process_spark.operators.materialize import materialize
from crossbar_data_process_spark.operators.textdedup import (
    contamination_flags,
    minhash_lsh_pairs,
    resolve_neardups,
)


def curate_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.4,
    languages: tuple[str, ...] = ("en",),
    neardup_threshold: float = 0.5,
    benchmark: DataFrame | None = None,
    contamination_ngram: int = 8,
    max_dup_ngram_ratio: float | None = None,
    max_log_ppl: float | None = None,
    redact_pii_output: bool = False,
    quantile_expectations: dict[str, tuple[float, "callable"]] | None = None,
    lsh_max_bucket_size: int | None = None,
    lsh_cap_mode: str = "drop",
    lsh_cap_stats_sink: dict | None = None,
) -> DataFrame:
    """Returns the curated corpus: one row per SURVIVING document with its
    profile and `cluster_size` (how many near-identical docs it stands
    for). Survivor choice is deterministic throughout: min id per exact
    fingerprint, min id per near-dup cluster.

    With ``benchmark``, documents sharing any ``contamination_ngram``-gram
    with the benchmark corpus are dropped after the quality gate (the
    standard pretraining decontamination stage,
    ``operators.textdedup.contamination_flags``). With
    ``max_dup_ngram_ratio``, documents whose Gopher-style
    ``duplicate_ngram_ratio`` exceeds the cap are dropped in the SAME
    scan-side gate as quality/language (one filter, no extra pass). With
    ``max_log_ppl``, a unigram LM fit on the RAW corpus (operators/lm.py —
    the CCNet perplexity-filter analogue, self-supervised) drops documents
    whose mean token surprisal exceeds the cap; this gate is a join, not a
    scan expression, so it runs after the scan-side gates on the already-
    thinned stream. With ``redact_pii_output``, surviving text is
    PII-scrubbed in the final projection (``functions.pii.redact_pii``).

    ``quantile_expectations`` (r12, VERDICT r11 #4) turns the mergeable
    quantile-sketch machinery into a PRODUCTION curation gate: rules are
    ``{name: (q, check)}`` over the INPUT token-length distribution
    (``operators.sketches.check_quantile_expectations`` — e.g.
    ``{"p95_len_cap": (0.95, lambda v: v <= 50_000)}``). The histogram
    is one (bin) groupBy over the profiled frame (kilobytes of driver
    state, the q68 silver shape); ANY failing rule raises BEFORE the
    expensive dedup stages run — a corpus whose shape is out of contract
    (length blow-up from an upstream extractor bug, collapsed
    distribution) must not silently flow into training shards.

    ``lsh_max_bucket_size`` passes the near-dup stage's documented
    stop-shingle skew lever through (``minhash_lsh_pairs``): band buckets
    with more members are dropped BEFORE the candidate self-join. At
    corpus scale this is NOT optional tuning — measured r12 on the 500k
    Zipf corpus, 94% of candidate pairs came from a handful of
    mega-buckets already at 50k docs (max bucket 834) and the uncapped
    quadratic blow-up spilled >79 GB at 500k; with the cap the same
    curation is linear. Recall loss is confined to members of the
    dropped mega-buckets (boilerplate clusters by definition — handle
    those by exact-fingerprint dedup, which this pipeline already runs
    first). ``lsh_cap_mode="anchor"`` swaps the drop for star linking
    (``minhash_lsh_pairs`` ``cap_mode`` — linear per-bucket work, recall
    deltas measured in BASELINE.md's r14 LSH cap probe).

    ``lsh_cap_stats_sink`` (VERDICT r14 #2): pass a dict and the
    `no silent caps` numbers are filled as a SIDE-PRODUCT of the near-dup
    stage's own bucket build — exact (what the LSH stage actually saw:
    the post-gate, post-exact-dedup stream) and free of the standalone
    gauge's signature-pipeline re-run. This supersedes estimating over
    the curated output at pipeline scale.

    All default off so the q55 oracle pipeline is unchanged."""
    from crossbar_data_process_spark.functions.text import (
        duplicate_ngram_ratio,
    )

    profiled = docs.select(
        F.col(id_col),
        F.col(text_col),
        token_count(text_col).cast("long").alias("n_tokens"),
        quality_score(text_col).alias("quality"),
        language_id(text_col).alias("lang_detected"),
        doc_fingerprint(text_col).alias("fp"),
    )
    if quantile_expectations:
        from crossbar_data_process_spark.operators.sketches import (
            check_quantile_expectations,
            histogram_sketch_table,
        )

        # the q68 binning convention: +0.5 keeps every integer count off
        # the exact 10^(k/B) bin boundaries
        hist = histogram_sketch_table(
            profiled.select(
                (F.col("n_tokens").cast("double") + F.lit(0.5)).alias("__len")
            ),
            [],
            "__len",
        )
        report = check_quantile_expectations(hist, quantile_expectations)
        failed = [
            (r.rule, r.q, r.value) for r in report.collect() if not r["pass"]
        ]
        if failed:
            raise ValueError(
                "input corpus fails distribution expectations "
                f"(rule, q, estimate): {failed} — refusing to curate a "
                "corpus whose token-length shape is out of contract"
            )
    gate = (
        (F.col("quality") >= min_quality)
        & F.col("lang_detected").isin(*languages)
    )
    if max_dup_ngram_ratio is not None:
        gate = gate & (
            duplicate_ngram_ratio(text_col) <= max_dup_ngram_ratio
        )
    gated = profiled.filter(gate)
    if max_log_ppl is not None:
        from crossbar_data_process_spark.operators.lm import doc_surprisal

        ppl = doc_surprisal(docs, text_col=text_col, id_col=id_col).select(
            id_col, "log_ppl"
        )
        # LEFT join: doc_surprisal omits zero-token documents, and an
        # inner join here would silently drop them beyond the documented
        # cap semantics (r7 review finding) — a token-less doc has no
        # perplexity to gate on, so it passes this gate.
        gated = (
            gated.join(ppl, id_col, "left")
            .filter(F.col("log_ppl").isNull() | (F.col("log_ppl") <= max_log_ppl))
            .drop("log_ppl")
        )
    if benchmark is not None:
        flagged = contamination_flags(
            gated, benchmark, text_col=text_col, id_col=id_col,
            n=contamination_ngram,
        )
        gated = gated.join(flagged, id_col, "left_anti")
    gated = materialize(gated)  # consumed by exact dedup, LSH, and the join

    # exact dedup: keep the min-id row per fingerprint (row-level form of
    # dedup_exact's survivors)
    w = Window.partitionBy("fp").orderBy(F.asc(id_col))
    exact_survivors = (
        gated.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "fp")
    )
    exact_survivors = materialize(
        exact_survivors
    )  # consumed by LSH and the final join

    pairs = minhash_lsh_pairs(
        exact_survivors,
        text_col=text_col,
        id_col=id_col,
        threshold=neardup_threshold,
        max_bucket_size=lsh_max_bucket_size,
        cap_mode=lsh_cap_mode,
        cap_stats_sink=lsh_cap_stats_sink,
    )
    resolved = resolve_neardups(exact_survivors, pairs, id_col=id_col)
    out_text = F.col(text_col)
    if redact_pii_output:
        # PII scrubbing rides the final projection (chained JVM
        # regexp_replace — functions.pii) — dedup/LSH upstream saw the
        # RAW text so near-dup structure is unaffected by token rewrites
        from crossbar_data_process_spark.functions.pii import redact_pii

        out_text = redact_pii(text_col).alias(text_col)
    return exact_survivors.join(resolved, id_col).select(
        id_col, out_text, "n_tokens", "quality", "lang_detected", "cluster_size"
    )


def curation_report(
    docs: DataFrame,
    curated: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.4,
    languages: tuple[str, ...] = ("en",),
    lsh_max_bucket_size: int | None = None,
) -> DataFrame:
    """The funnel a curation run is judged by: docs in, docs surviving each
    gate, final survivors, and how many raw docs the survivors represent.
    One row; every count from one aggregation pass per stage.

    ``lsh_max_bucket_size`` (VERDICT r12 #3, the `no silent caps` rule):
    when the curation ran with the near-dup stage's mega-bucket cap, the
    funnel must SAY how much mass the cap silently excluded from pair
    generation — otherwise the report reads as 'near-dup covered
    everything' when it didn't. Adds est_dropped_buckets /
    est_dropped_memberships / est_dropped_bucket_docs, ESTIMATED over the
    gated corpus (``operators.textdedup.lsh_cap_stats`` on the same
    quality/language gate this report already recomputes — an upper bound
    on what ``curate_documents``'s LSH stage saw, since that stage runs
    after exact dedup has already thinned identical copies; members of
    dropped buckets were never near-dup-compared, so the bound is tight
    when the mega-mass is boilerplate-similar rather than byte-identical).
    Default None keeps the exact 4-column q55 schema."""
    profiled = docs.select(
        quality_score(text_col).alias("q"),
        language_id(text_col).alias("lg"),
    )
    gate = profiled.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum(
            ((F.col("q") >= min_quality) & F.col("lg").isin(*languages)).cast(
                "long"
            )
        ).alias("n_after_gate"),
    )
    out = curated.agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.sum("cluster_size").alias("n_represented"),
    )
    # two 1-row frames: a literal-key equi-join would be constant-folded
    # back into a nested loop anyway, so state the intent directly — this
    # is one of the engine's sanctioned 1-row crossJoins (with q38's
    # dangling-mass attach; pinned in tests/test_plan_shapes.py)
    report = gate.crossJoin(out)
    if lsh_max_bucket_size is not None:
        from crossbar_data_process_spark.operators.textdedup import (
            lsh_cap_stats,
        )

        gated = docs.select(F.col(id_col), F.col(text_col)).filter(
            (quality_score(text_col) >= min_quality)
            & language_id(text_col).isin(*languages)
        )
        caps = lsh_cap_stats(
            gated,
            text_col=text_col,
            id_col=id_col,
            max_bucket_size=lsh_max_bucket_size,
        ).select(
            F.col("n_dropped_buckets").alias("est_dropped_buckets"),
            F.col("n_dropped_memberships").alias("est_dropped_memberships"),
            F.col("n_docs_affected").alias("est_dropped_bucket_docs"),
        )
        report = report.crossJoin(caps)
    return report
