#!/usr/bin/env python3
"""Composed LLM training-data build (VERDICT r11 #2): the charter's
pipeline surfaces chained end-to-end in ONE session — the training-data
twin of ``plans/gold.py``'s adapter sweep:

    distribution gate → curate (quality/lang + decontaminate + exact +
    near-dup text dedup) → SEMANTIC dedup (feature-hash embeddings,
    IVF-bucketed SemDeDup) → token-budget mix + train/val/test split →
    sequence packing → sharded JSONL export with manifest

Every stage is an operator with its own oracle row or pinned test (q55
funnel, q65 decontamination, SemDeDup suite, q66 mix/split, q58 packing,
the JSONL exporter); this script proves the COMPOSITION and measures its
scale slope. Corpus: the Zipf-realistic generator shared with
``scripts/sf1_probe.py`` (20k vocab, exponent 1.07 — the small corpus is
the big one's literal 5k-doc prefix, so 1×/10× walls measure pure corpus
scaling on identical text statistics; --scale 100 generates a 500k-doc
corpus from the same recipe), plus one plant this script adds: every
40th doc is the REVERSED token sequence of its predecessor — the same
bag of words, order destroyed. That plant is the separating case for
the semantic stage: n-gram shingles are destroyed (text near-dup passes
it) while the bag-of-words embedding is IDENTICAL (cosine 1.0 — only
embedding dedup catches it).

Per-stage walls come from forcing each stage with its own parquet write
(the realistic shape — a production pipeline materializes silver between
stages); later stages read the previous stage's silver, so each wall is
attributable.

Usage: python scripts/llm_build.py [--scale {1,10,100,1000}] [--tokenize]
[--out DIR]  (--scale 1000 = 5M docs, the r14 next-decade probe)
Prints one JSON line: {"metric": "llm_build_runtime", "value": sec,
"stages": {name: {"sec": s, "rows": n}}, "scale": S, ...}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crossbar_data_process_spark.functions.text import tokens

EMBED_DIMS = 64
EMBED_SALT = 7
# token-budget mix over the six synthetic sources (see _with_sources):
# src0 kept whole, tapering keeps down to src5; budgets compile into
# per-source fractions via the measured token totals (q66 family,
# operators/sampling.source_mix_by_tokens)
MIX_BUDGETS = {
    "src0": 1_000_000_000,
    "src1": 120_000,
    "src2": 90_000,
    "src3": 60_000,
    "src4": 30_000,
    "src5": 12_000,
}
SPLIT_WEIGHTS = {"train": 0.98, "val": 0.01, "test": 0.01}
PACK_BUDGET = 2048
N_SHARDS = 16


def _with_sources(docs: DataFrame) -> DataFrame:
    """The Zipf corpus carries a single source value; a training mix needs
    several — derive a deterministic 6-way source label from the doc id
    (pure scan-side, the kg_build generator idiom)."""
    return docs.withColumn(
        "source",
        F.concat(
            F.lit("src"),
            F.pmod(F.xxhash64(F.col("doc_id"), F.lit(77)), F.lit(6)).cast(
                "string"
            ),
        ),
    )


def _split_bucket() -> "F.Column":
    """The split-encoded pack bucket (split_index·64 + crc-of-md5 % 64),
    shared by the whitespace pack stage and the BPE tokenize stage so the
    two can never desynchronize (r12 review pass 3): packs within a
    bucket belong to exactly one split, and pack_documents' pack_id
    (bucket·2^40 + local) stays globally unique across splits."""
    names = sorted(SPLIT_WEIGHTS)
    split_idx = F.lit(None).cast("int")
    for i, s in enumerate(names):
        split_idx = F.when(F.col("split") == s, F.lit(i)).otherwise(split_idx)
    return (
        split_idx * 64
        + F.pmod(
            F.crc32(F.md5(F.col("doc_id").cast("string"))), F.lit(64)
        ).cast("int")
    )


def _plant_paraphrases(docs: DataFrame, every: int = 40) -> DataFrame:
    """Every ``every``-th doc becomes the REVERSED token sequence of its
    predecessor: the same bag of words, order destroyed. Text near-dup
    (word 3-gram shingles) passes it — a reversed sequence shares no
    shingles with its source, and two reversed docs resemble each other
    no more than their sources do (a SORTED bag would not work: all
    sorted Zipf docs share long head-word runs and near-dup EACH OTHER,
    measured r12) — while the bag-of-words embedding is IDENTICAL
    (cosine 1.0): only the semantic stage catches it. One join of a
    1/``every`` slice against its predecessor ids."""
    pred = docs.select(
        (F.col("doc_id") + 1).alias("doc_id"),
        F.array_join(F.reverse(tokens(F.col("text"))), " ").alias(
            "__reversed"
        ),
    ).filter(F.pmod(F.col("doc_id"), F.lit(every)) == every - 1)
    return (
        docs.join(pred, "doc_id", "left")
        .withColumn("text", F.coalesce("__reversed", "text"))
        .drop("__reversed")
    )


def feature_embed(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dims: int = EMBED_DIMS,
) -> DataFrame:
    """Bag-of-words feature-hashing embedding (the hashing trick) as pure
    Column expressions — no Python in the path: content tokens (the
    synthetic vocabulary's ``w…`` words; head/stopwords excluded so the
    shared Zipf head doesn't push every pair's cosine toward 1) are
    hashed into ``dims`` buckets and counted. Token order is invisible to
    the representation — exactly what a semantic-dedup embedding should
    be. The token array is BOUND in its own projection below the
    per-dimension filters (the HOF no-CSE rule)."""
    bound = docs.select(
        id_col,
        F.filter(
            tokens(F.col(text_col)), lambda t: t.startswith("w")
        ).alias("__ct"),
    )
    emb = F.array(
        *[
            F.size(
                F.filter(
                    F.col("__ct"),
                    lambda t: F.pmod(
                        F.xxhash64(t, F.lit(EMBED_SALT)), F.lit(dims)
                    )
                    == d,
                )
            ).cast("double")
            for d in range(dims)
        ]
    )
    return bound.select(id_col, emb.alias("embedding"))


def build(
    spark: SparkSession,
    docs: DataFrame,
    out: str,
    semantic_threshold: float = 0.995,
    nlist: int | None = None,
    benchmark_mod: int = 101,
    benchmark_cap: int = 2000,
    tokenize: bool = False,
    num_merges: int = 200,
) -> dict:
    """Run the full pipeline over ``docs`` (doc_id, text, source), writing
    each stage's silver under ``out`` and returning per-stage walls and
    row counts. Deterministic end-to-end: same corpus → byte-identical
    shards (no RNG anywhere — md5/xxhash decisions only)."""
    from crossbar_data_process_spark.operators.ivf import (
        fit_two_level,
        ivf_fit,
    )
    from crossbar_data_process_spark.operators.materialize import materialize
    from crossbar_data_process_spark.operators.packing import pack_documents
    from crossbar_data_process_spark.operators.sampling import (
        assign_split,
        source_mix_by_tokens,
    )
    from crossbar_data_process_spark.operators.similarity import (
        semantic_dedup,
    )
    from crossbar_data_process_spark.plans.llm_curation import curate_documents
    from crossbar_data_process_spark.sources.writers import write_jsonl_shards

    os.makedirs(out, exist_ok=True)
    stages: dict[str, dict] = {}
    t_all = time.monotonic()

    def _stage(name: str, fn):
        t = time.monotonic()
        rows = fn()
        stages[name] = {"sec": round(time.monotonic() - t, 3), "rows": rows}
        return rows

    # -- stage 1: curate — distribution gate, quality/lang, decontaminate
    # against a constant-bounded eval carve (the q65 convention: a fixed
    # benchmark prefix, identical at every scale), exact + near-dup text
    # dedup. The quantile gate (VERDICT r11 #4) fronts the stage.
    benchmark = docs.filter(
        (F.pmod(F.col("doc_id"), F.lit(benchmark_mod)) == 0)
        & (F.col("doc_id") < benchmark_cap)
    ).select("text")

    lsh_caps: dict = {}

    def _curate():
        curated = curate_documents(
            docs,
            benchmark=benchmark,
            quantile_expectations={
                "p95_len_cap": (0.95, lambda v: v <= 50_000),
                "median_len_floor": (0.5, lambda v: v >= 2),
            },
            # the stop-shingle skew cap is MANDATORY at corpus scale:
            # without it, mega-buckets (minhashes landing on globally
            # common trigrams) make candidate generation quadratic —
            # measured 94% of candidates from 59 buckets at 50k docs and
            # a >79 GB spill death at 500k (BASELINE.md r12)
            lsh_max_bucket_size=64,
            # side-product gauge (VERDICT r14 #2): the cap report comes
            # from the bucket table the LSH stage itself materializes —
            # EXACT (what the stage saw) and free of the old standalone
            # re-run, which at 5M docs cost ~as much as the stage
            lsh_cap_stats_sink=lsh_caps,
        )
        # keep the source label with the survivors (curate's projection is
        # its documented 6-column contract)
        curated.join(docs.select("doc_id", "source"), "doc_id").write.mode(
            "overwrite"
        ).parquet(f"{out}/curated")
        return spark.read.parquet(f"{out}/curated").count()

    _stage("curate", _curate)
    curated = spark.read.parquet(f"{out}/curated")

    # `no silent caps` (VERDICT r12 #3): say how much mass the LSH
    # mega-bucket cap excluded from near-dup pair generation — filled by
    # the side-product sink above, so these are the EXACT bucket numbers
    # of the pass itself (the r14 form estimated over the curated silver
    # AND re-ran the whole signature pipeline to do it)
    stages["curate"]["lsh_cap"] = {
        "max_bucket_size": 64,
        "n_dropped_buckets": int(lsh_caps["n_dropped_buckets"]),
        "n_dropped_memberships": int(lsh_caps["n_dropped_memberships"]),
        "n_docs_affected": int(lsh_caps["n_docs_affected"]),
    }

    # -- stage 2: semantic dedup — feature-hash embeddings, IVF-bucketed
    # SemDeDup (never all-pairs; candidates are within-cluster only).
    # nlist scales with the corpus (the SemDeDup posture: constant
    # expected cluster size).
    def _semantic():
        from crossbar_data_process_spark.operators.ivf import (
            suggest_nlist,
            warn_nlist_overshoot,
        )

        n = curated.count()
        # nlist scales to hold E[cluster] ≈ 250 via THE codified posture
        # (r16, suggest_nlist): the pair stage is Σ cluster², so
        # quantizer granularity is THE cost lever — and under skew
        # (measured r12 at 500k: top cluster 34× the median, 36 hot
        # clusters carrying 66% of 813M pairs) it is also the straggler
        # lever, since the cluster-keyed join can't split a cluster
        # across tasks. The fit sample scales with nlist (k-means needs
        # ≥ several samples per centroid or the seeds ARE the fit). An
        # explicit nlist is honored but warned past 4× the posture (the
        # r15 5M probe's measured wall-doubling overshoot).
        if nlist is not None:
            warn_nlist_overshoot(nlist, n, "llm_build semantic stage")
        nl = nlist if nlist is not None else suggest_nlist(n)
        # materialize the embedding ONCE: the 64-bucket feature-hash
        # expression is a large codegen unit, and fit/assign/pair stages
        # would each re-evaluate (and re-JIT) it otherwise — measured
        # 69.5 s → 26.6 s on the 5k corpus (BASELINE.md)
        embedded = materialize(feature_embed(curated))
        cents = ivf_fit(
            embedded,
            dim=EMBED_DIMS,
            nlist=nl,
            iters=2,
            id_col="doc_id",
            driver_fit_rows=max(2048, 8 * nl),
        )
        # two-level assignment once nlist is big enough for the top-level
        # detour to pay (r13, VERDICT r12 #1): flat is O(nlist) dots per
        # row and nlist ~ n/250 ⇒ O(n^1.5) corpus assignment — the
        # measured /tmp-spill killer at --scale 100; two-level is
        # O(√nlist) per row with recall pinned in tests
        tl = fit_two_level(cents) if nl >= 64 else None
        # `no silent caps` as a SIDE-PRODUCT (VERDICT r14 #2): the skew
        # report comes from the population table the pair stage already
        # computes over its checkpointed assignment — the r14 form
        # re-assigned the whole corpus a second time just to report
        cstats: dict = {}
        survivors = semantic_dedup(
            embedded,
            cents,
            threshold=semantic_threshold,
            id_col="doc_id",
            two_level=tl,
            cap_stats_sink=cstats,
        )
        curated.join(survivors.select("doc_id"), "doc_id", "left_semi").write.mode(
            "overwrite"
        ).parquet(f"{out}/semantic")
        stages.setdefault("_semantic_caps", {}).update(
            {
                "nlist": nl,
                "two_level": tl is not None,
                "max_cluster": int(cstats["max_cluster"]),
                "n_sharded_clusters": int(cstats["n_sharded_clusters"]),
                "n_sharded_docs": int(cstats["n_sharded_docs"]),
                "n_dropped_clusters": int(cstats["n_dropped_clusters"]),
                "n_dropped_docs": int(cstats["n_dropped_docs"]),
            }
        )
        return spark.read.parquet(f"{out}/semantic").count()

    _stage("semantic_dedup", _semantic)
    deduped = spark.read.parquet(f"{out}/semantic")

    # -- stage 3: token-budget mix + deterministic split (q66 family).
    # Budgets compile into per-source fractions from measured totals; the
    # compiled mix is returned for the run log.
    def _mix():
        mixed, fractions = source_mix_by_tokens(
            deduped, MIX_BUDGETS, token_col="n_tokens"
        )
        stages.setdefault("_mix_fractions", {}).update(
            {k: round(v, 6) for k, v in fractions.items()}
        )
        mixed.withColumn(
            "split", assign_split("doc_id", SPLIT_WEIGHTS)
        ).write.mode("overwrite").parquet(f"{out}/mixed")
        return spark.read.parquet(f"{out}/mixed").count()

    _stage("mix_split", _mix)
    mixed = spark.read.parquet(f"{out}/mixed")

    # -- stage 4: sequence packing over ALL splits (reuses the curation
    # profile's n_tokens — no re-tokenization). The bucket id ENCODES the
    # split (split_index·64 + crc bucket — pack_documents' bucket_col
    # hook), so one pack_documents call / one window shuffle packs
    # everything, no pack can mix train and eval documents, and pack_id
    # stays globally unique (bucket·2^40 + local). (r12 review, two
    # passes: the first form packed and exported only the train split —
    # the val/test deliverable was computed then silently discarded; the
    # second form's per-split loop tripled the shuffle and left pack_id
    # unique only within a split.)
    def _pack():
        bucketed = mixed.withColumn("__bucket", _split_bucket())
        packs = pack_documents(
            bucketed,
            budget=PACK_BUDGET,
            n_tokens_col="n_tokens",
            bucket_col="__bucket",
        )
        bucketed.drop("__bucket").join(
            packs.select("doc_id", "pack_id", "pack_pos"), "doc_id"
        ).write.mode("overwrite").parquet(f"{out}/packed")
        return spark.read.parquet(f"{out}/packed").count()

    _stage("pack", _pack)
    packed = spark.read.parquet(f"{out}/packed")

    # -- stage 5: sharded JSONL export. manifest_counts='input' is the
    # documented scale path for deterministic lineage (one column-pruned
    # scan instead of a full re-read of the export — sources/writers.py).
    def _export():
        counts = write_jsonl_shards(
            packed.select(
                "doc_id", "source", "split", "pack_id", "pack_pos", "text"
            ),
            f"{out}/shards",
            n_shards=N_SHARDS,
            manifest_counts="input",
        )
        return int(sum(counts.values()))

    _stage("export_jsonl", _export)

    # -- stage 6 (optional, --tokenize): the TOKENIZED export — train BPE
    # merges on the deduped corpus (bounded vocab collect), encode, then
    # REPACK by the real token counts (n_bpe, not whitespace tokens) and
    # materialize physical training sequences (pack_text + boundary
    # offsets — the attention-reset points) as the shard payload. Same
    # split-encoded bucket as stage 4, so no sequence mixes splits and
    # pack_id stays globally unique.
    if tokenize:
        from crossbar_data_process_spark.operators.bpe import (
            bpe_encode,
            bpe_train,
        )
        from crossbar_data_process_spark.operators.packing import (
            materialize_packs,
        )

        def _tokenize():
            merges = bpe_train(deduped, num_merges=num_merges)
            # materialize the encoded frame ONCE, projected to the four
            # columns downstream reads (checkpointing the raw text next
            # to its own re-encoding would double the block size): the
            # Arrow-path BPE encode is consumed by the pack window and
            # the pack_text join side — unmaterialized it re-executes per
            # consumer (the stage-2 lesson; r12 review passes 3/4)
            bpe_docs = materialize(
                mixed.join(bpe_encode(mixed, merges), "doc_id")
                .withColumn("__bucket", _split_bucket())
                .select("doc_id", "bpe_tokens", "n_bpe", "__bucket")
            )
            # packs feeds BOTH materialize_packs and the split recovery
            # below — materialize so the pack window runs once (r12
            # review pass 4)
            packs = materialize(
                pack_documents(
                    bpe_docs,
                    budget=PACK_BUDGET,
                    n_tokens_col="n_bpe",
                    bucket_col="__bucket",
                )
            )
            seqs = materialize_packs(
                bpe_docs.select(
                    "doc_id",
                    F.array_join("bpe_tokens", " ").alias("bpe_text"),
                ),
                packs,
                text_col="bpe_text",
            )
            # recover the split from packs' OWN decoded bucket column
            # (split = bucket // 64) instead of re-deriving pack_id's
            # internal bit layout here — a pack_documents encoding change
            # must not silently mislabel exported splits (r12 review
            # pass 3); the (pack_id, bucket) side is pack-count-sized
            names = sorted(SPLIT_WEIGHTS)
            split_names = F.array(*[F.lit(s) for s in names])
            pack_split = packs.select("pack_id", "bucket").distinct().select(
                "pack_id",
                F.element_at(
                    split_names,
                    F.floor(F.col("bucket") / 64).cast("int") + 1,
                ).alias("split"),
            )
            seqs = materialize(seqs.join(pack_split, "pack_id"))
            counts = write_jsonl_shards(
                seqs.select(
                    "pack_id",
                    "split",
                    "n_docs",
                    "n_tokens",
                    "doc_ids",
                    "boundaries",
                    "pack_text",
                ),
                f"{out}/token_shards",
                id_col="pack_id",
                n_shards=N_SHARDS,
                manifest_counts="input",
            )
            stages.setdefault("_bpe", {})["n_merges"] = len(merges)
            return int(sum(counts.values()))

        _stage("tokenize_pack_sequences", _tokenize)

    return {
        "stages": {k: v for k, v in stages.items() if not k.startswith("_")},
        "mix_fractions": stages.get("_mix_fractions", {}),
        "n_bpe_merges": stages.get("_bpe", {}).get("n_merges"),
        "semantic_caps": stages.get("_semantic_caps", {}),
        "total_sec": round(time.monotonic() - t_all, 3),
    }


ZIPF_XL = "/tmp/llm_build_zipf_xl"  # 500k docs — the --scale 100 corpus
N_XL_DOCS = 500_000
ZIPF_XXL = "/tmp/llm_build_zipf_xxl"  # 5M docs — the --scale 1000 corpus
N_XXL_DOCS = 5_000_000


def _read_corpus_recipe(path: str) -> dict | None:
    """The `_recipe.json` sidecar stamped next to a generated corpus, or
    None if absent/unreadable — absence means 'regenerate' (a bare
    documents.parquet with no sidecar could be a partial write)."""
    try:
        with open(f"{path}/_recipe.json") as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _load_zipf(spark: SparkSession, scale: int) -> DataFrame:
    """The shared Zipf corpus (built on demand via sf1_probe's generator),
    with the 6-way source labels and the reversed-paraphrase plant.
    ``scale=100`` generates a 500k-doc corpus with the SAME recipe
    (sf1_probe.zipf_texts) under its own seed — the small/big pair keeps
    the literal-prefix property for slope probes; the XL corpus only
    needs the same statistics."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "sf1_probe",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf1_probe.py"),
    )
    probe = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(probe)
    if scale in (100, 1000):
        path = ZIPF_XL if scale == 100 else ZIPF_XXL
        n_gen = N_XL_DOCS if scale == 100 else N_XXL_DOCS
        # Reuse is keyed on a RECIPE SIDECAR, not bare file existence: a
        # partially written parquet from a crashed generator run, or a
        # corpus from an older recipe/seed, must never silently feed the
        # build and skew the recorded scale baselines (r12 ADVICE). The
        # generator writes into a temp dir and os.replace()s it into
        # place, so the sidecar only ever describes a complete corpus.
        # rg65536: splittable row groups so the scan parallelizes — the
        # default ~1M-row groups cap a 5M-doc file at ~5 tasks; both XL
        # and XXL share the layout so the 100→1000 slope has no layout
        # confound (regenerating XL under the new recipe is ~1 min)
        recipe = {
            "seed": 20260815,
            "n_docs": n_gen,
            "gen": "zipf_texts",
            "layout": "rg65536",
        }
        if _read_corpus_recipe(path) != recipe:
            tmp = f"{path}.tmp.{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            probe.write_zipf_documents(
                tmp,
                probe.zipf_texts(n_gen, seed=recipe["seed"]),
                n_gen,
                row_group_size=65536,
            )
            with open(f"{tmp}/_recipe.json", "w") as f:
                json.dump(recipe, f, sort_keys=True)
            shutil.rmtree(path, ignore_errors=True)
            os.replace(tmp, path)
    else:
        path = probe.ZIPF_SMALL if scale == 1 else probe.ZIPF_BIG
        if not os.path.exists(f"{path}/documents.parquet"):
            probe._gen_zipf()
    docs = spark.read.parquet(f"{path}/documents.parquet").select(
        "doc_id", "text"
    )
    return _plant_paraphrases(_with_sources(docs))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=int, choices=(1, 10, 100, 1000), default=1)
    ap.add_argument(
        "--tokenize",
        action="store_true",
        help="add the BPE stage: train merges on the deduped corpus, "
        "encode, repack by REAL token counts, export materialized "
        "training sequences",
    )
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    out = args.out or f"/tmp/llm_build_gold_s{args.scale}"
    shutil.rmtree(out, ignore_errors=True)

    from crossbar_data_process_spark import get_spark

    # the AQE scale margin is input-sized (session.py, r15): tell the
    # session how big the /tmp zipf corpus WILL be (the SF-dir signal
    # can't see it) — ~360 parquet bytes/doc measured on the shared
    # recipe (178 MB / 500k, 1.78 GB / 5M); the margin's only job is
    # order-of-magnitude
    n_docs = {1: 5_000, 10: 50_000, 100: N_XL_DOCS, 1000: N_XXL_DOCS}[
        args.scale
    ]
    spark = get_spark(input_bytes=n_docs * 360)
    spark.sparkContext.setLogLevel("ERROR")
    docs = _load_zipf(spark, args.scale)
    report = build(spark, docs, out, tokenize=args.tokenize)
    print(
        json.dumps(
            {
                "metric": "llm_build_runtime",
                "value": report["total_sec"],
                "unit": "sec",
                "stages": report["stages"],
                "mix_fractions": report["mix_fractions"],
                "n_bpe_merges": report["n_bpe_merges"],
                "semantic_caps": report["semantic_caps"],
                "scale": args.scale,
                "out": out,
            },
            sort_keys=True,
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
