"""Corpus language-model surprisal — the perplexity-filter stage of
CCNet-style curation (there: a pretrained KenLM scores each document;
documents far from the reference distribution are dropped or bucketed),
expressed as pure DataFrame aggregations over the corpus itself.

A smoothed unigram LM is fit in ONE token groupBy; each document is then
scored with its mean negative log-likelihood (``log_ppl`` — perplexity is
``e^log_ppl``; the log form is reported so no cross-engine ``exp`` enters
the hash contract). Low log_ppl = the document looks like the corpus;
high = out-of-distribution (gibberish, boilerplate soup, wrong language).

Scale shape (100 TB): the LM table is vocabulary-sized (tiny vs corpus);
corpus totals ride a 1-row broadcast; scoring is one equi-join on the
token plus one groupBy on the doc id, under the Generate-projection
contract (``_token_stream``) and the DECIMAL-determinism contract.

Versus the reference: no counterpart (no trained/statistical component
anywhere in the reference) — engine charter, SURVEY.md §7 "beyond the
reference" track.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crossbar_data_process_spark.functions.text import tokens
from crossbar_data_process_spark.operators.materialize import materialize
from crossbar_data_process_spark.operators.textdedup import _spread


def _fround(x, scale: int):
    """floor(x·10^s + 0.5)/10^s — fixed round-half-up via floor, which is
    exact in every engine. Plain round() resolves x.xxxxxx5 half-cases
    differently across engines (Spark BigDecimal HALF_UP on the binary
    double vs DuckDB's decimal-string path) — measured: two sf0.1 docs
    whose mean-NLL quotient lands exactly on a 1e-6 boundary hashed
    differently until this form (the int8 quantizer uses the same trick)."""
    p = float(10 ** scale)
    return F.floor(x * p + F.lit(0.5)) / F.lit(p)


def unigram_logprob_table(
    docs: DataFrame,
    text_col: str = "text",
    alpha: float = 0.5,
    scale: int = 6,
) -> DataFrame:
    """(token, logp): Lidstone-smoothed unigram log-probabilities,
    ``round(ln((c + α) / (T + αV)), scale)`` — rounded so the LM is an
    engine-portable artifact."""
    tok = _token_stream(_spread(docs), text_col)
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.agg(
        F.sum("c").cast("double").alias("t_mass"),
        F.count(F.lit(1)).cast("double").alias("vocab"),
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "token",
        _fround(
            F.log(
                (F.col("c") + F.lit(alpha))
                / (F.col("t_mass") + alpha * F.col("vocab"))
            ),
            scale,
        ).alias("logp"),
    )


def doc_surprisal(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    scale: int = 6,
) -> DataFrame:
    """Fit the corpus unigram LM and score every document in one plan:
    (id, lm_tokens, log_ppl) with ``log_ppl = -mean ln p(token)`` over the
    document's token occurrences (DECIMAL-accumulated, then one IEEE
    division — bit-identical across partitionings and engines). Documents
    with zero tokens are absent; attach with a left join where every-row
    output is required (q22 does)."""
    spread = _spread(docs)
    tok = materialize(_token_stream(spread, text_col, id_col=id_col))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.agg(
        F.sum("c").cast("double").alias("t_mass"),
        F.count(F.lit(1)).cast("double").alias("vocab"),
    )
    logp = counts.crossJoin(F.broadcast(totals)).select(
        "token",
        _fround(
            F.log(
                (F.col("c") + F.lit(alpha))
                / (F.col("t_mass") + alpha * F.col("vocab"))
            ),
            scale,
        ).alias("logp"),
    )
    dec = f"decimal(28,{scale})"
    return (
        tok.join(logp, "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("lm_tokens"),
            _fround(
                -F.sum(F.col("logp").cast(dec)).cast("double")
                / F.count(F.lit(1)),
                scale,
            ).alias("log_ppl"),
        )
    )


def _token_stream(
    docs: DataFrame, text_col: str, id_col: str | None = None
) -> DataFrame:
    """Lowercased token occurrences, heavy exprs bound BELOW the explode
    (the Generate-projection contract: Spark splits a select that mixes a
    generator with other expressions into Generate + a Project ABOVE it,
    and CollapseProject never merges across Generate, so an expression
    placed there runs once per TOKEN instead of once per document)."""
    cols = [F.col(id_col)] if id_col else []
    pre = docs.select(*cols, F.lower(F.col(text_col)).alias("__lt"))
    return pre.select(
        *([id_col] if id_col else []), F.explode(tokens("__lt")).alias("token")
    )
