"""Document deduplication for training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash (engine extension; SURVEY.md §7.1 step 7).

Design for 100 TB:
- exact dedup = fingerprint + hash-groupBy (one shuffle on a 16-byte key);
- near-dup never does an O(n²) cross join — candidate pairs come from an
  inverted-index self-join (shared shingle) or LSH band buckets, both of
  which shuffle on small keys and exploit AQE skew splitting for stop-shingle
  hot buckets;
- all hashing is md5-based (bit-exact across engines) so every step has a
  DuckDB oracle; xxhash64 would be faster but engine-specific.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from crossbar_data_process_spark.functions.text import doc_fingerprint, tokens
from crossbar_data_process_spark.operators.materialize import materialize

# deterministic odd constants for the MinHash permutation family
# h_i(x) = (A_i * x + B_i) mod P  over 32-bit md5-derived shingle hashes.
# A_i < 2^31 so A*h <= (2^31-1)(2^32-1) < 2^63 — no int64 overflow under ANSI
_P = (1 << 61) - 1
_A = [1103515245, 668265263, 374761393, 1299709, 15485863, 32452843,
      49979687, 67867967, 86028121, 104395301, 122949823, 141650939]
_B = [97, 193, 389, 769, 1543, 3079, 6151, 12289, 24593, 49157, 98317, 196613]


def _spread(df: DataFrame) -> DataFrame:
    """Repartition to the session's default parallelism before CPU-heavy
    per-row expressions — but ONLY when the input is pathologically
    under-partitioned (a few-file narrow file scan). A single parquet file
    scans as one partition locally, serializing tokenize/hash work onto one
    core — that case pays for the round-robin exchange many times over.

    The probe must not execute anything: ``df.rdd.getNumPartitions()`` on
    an AQE plan materializes every upstream shuffle stage at plan-conversion
    time, and those stages are NOT reused by the later action's fresh
    QueryExecution — derived inputs would silently run their shuffles twice
    (ADVICE r03). So the probe is plan-side only:

    - streaming frames pass through (micro-batches are already spread);
    - any plan containing a shuffle-inducing operator passes through — its
      output partitioning is already ``spark.sql.shuffle.partitions`` wide;
    - a pure narrow scan is probed via ``inputFiles()`` (logical-plan walk,
      no job): fewer files than a quarter of the cores → repartition.
    """
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # optimizedPlan() runs analysis+optimization only — no stages execute.
    # Operator names are matched at tree-node position (start of line after
    # the `+- `/`:- ` tree art), not as substrings — a column literally
    # named "JoinDate" inside a Project must not read as a Join node.
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    if re.search(
        r"(?m)^[\s+:|-]*(?:Join|Aggregate|Repartition|Window|Deduplicate"
        r"|Sort|Expand)\b",
        plan,
    ):
        return df
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file source (e.g. local relation): nothing to fix
        return df
    if n_files == 0 or n_files >= max(2, target // 4):
        return df
    return df.repartition(target)


def _hash32(c: Column) -> Column:
    """32-bit integer hash of a string via md5 prefix — bit-exact in any
    engine that has md5 (DuckDB oracle parity; see oracle_sql)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def shingles_of(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct, space-joined) from a token array.

    Takes a *materialized token column*, not the raw text: Catalyst does not
    common-subexpression-eliminate inside higher-order-function lambdas, so
    inlining ``split(text)`` here would re-tokenize the document once per
    shingle — O(len²) per doc.

    Docs shorter than ``n`` tokens yield an EMPTY shingle set — guarded
    explicitly, because ``sequence(1, 0)`` is a DESCENDING [1, 0] in Spark
    and the 0 index would crash ``slice`` (latent until a wide ``n``, e.g.
    the 8-gram contamination screen, met a short doc)."""
    last = F.size(toks) - (n - 1)
    idx = F.when(last >= 1, F.sequence(F.lit(1), last)).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    )


def shingles(text_col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingle set straight from text — only for single-pass
    expressions; pipelines should tokenize into a column first (see
    ``_shingle_index``)."""
    return shingles_of(tokens(text_col), n)


def dedup_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by content fingerprint, keep the lowest id
    (deterministic representative). Returns the surviving (id, fingerprint)."""
    return (
        _spread(docs)
        .withColumn("fp", doc_fingerprint(text_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def _shingle_index(docs: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Inverted index (shingle → doc) plus per-doc shingle counts.

    Persisted: the index is consumed 2-3× per near-dup query (both sides of
    the candidate self-join + the verify join); without materialization the
    heavyweight shingle expression is re-evaluated per consumer and Catalyst
    inlines it into every Filter/Project — compile and runtime cost both
    blow up. At 100 TB this intermediate is a silver table on disk, not a
    cache (same principle: shingle once, join many)."""
    toked = _spread(docs).select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("t")
    )
    with_sh = toked.select(
        "doc", shingles_of(F.col("t"), n).alias("sh")
    ).withColumn("nsh", F.size("sh"))
    return with_sh


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index self-join.

    |A∩B| is computed distributed: explode shingles, self-join on shingle,
    count per pair; |A∪B| = |A|+|B|−|A∩B|. Only pairs sharing ≥1 shingle are
    ever materialized — at scale this is the standard candidate-generation
    join (shuffle keyed on shingle hash; stop-shingle skew handled by AQE).
    Returns (doc_a < doc_b, jaccard) above ``threshold``.

    Candidate-pair volume grows quadratically in per-shingle document
    frequency (measured: 10× duplicate density → ~23× runtime).
    ``max_doc_freq`` opts into the standard stop-shingle cap: shingles in
    more than that many docs are skipped for candidate generation and for
    the intersection count, so the reported jaccard becomes a *lower
    bound* and pairs similar only through ultra-common shingles are
    missed — the usual boilerplate-insensitive trade. Default off: exact
    semantics, used as the MinHash-LSH recall oracle.
    """
    idx = _shingle_index(docs, text_col, id_col, n)
    # materialized via operators.materialize (non-eager localCheckpoint +
    # bounded accumulator pin — see that module's docstring) rather than
    # persist(): same multi-consumer reuse, but the blocks are owned by the
    # RDD and released by the ContextCleaner when the plan is GC'd —
    # persist() pins entries in the CacheManager until an explicit
    # unpersist that a returned-DataFrame operator has no safe place to
    # issue (ADVICE r01).
    # Trade: lineage is truncated, so executor loss means job retry instead
    # of recompute — at production scale this intermediate is a silver
    # table on disk anyway (see _shingle_index docstring).
    ex = materialize(idx.select("doc", "nsh", F.explode("sh").alias("s")))
    if max_doc_freq is not None:
        freq_w = Window.partitionBy("s")
        ex = (
            ex.withColumn("__df", F.count(F.lit(1)).over(freq_w))
            .filter(F.col("__df") <= max_doc_freq)
            .drop("__df")
        )
        ex = materialize(ex)
    a = ex.alias("a")
    b = ex.alias("b")
    # shuffle-hash, not broadcast: the exploded index is corpus-sized — a
    # broadcast would be wrong at scale even when local stats allow it
    pairs = (
        a.hint("shuffle_hash")
        .join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.nsh").alias("na"),
            F.col("b.nsh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return pairs


def _signatures_from_index(idx: DataFrame, num_hashes: int) -> DataFrame:
    """(doc, sh, nsh) index → (doc, sig). The 32-bit shingle-hash array is
    materialized into a column FIRST: Catalyst does not CSE across the
    ``num_hashes`` permutation expressions, so inlining ``transform(sh,
    md5…)`` into each would re-md5 every shingle once per permutation —
    ``num_hashes``× the dominant cost (the same HOF-CSE trap as
    ``shingles_of``). The permutations then make ``num_hashes`` cheap
    arithmetic passes over a long array."""
    assert num_hashes <= len(_A)
    hashed = idx.filter(F.col("nsh") > 0).withColumn(
        "__hs", F.transform(F.col("sh"), lambda s: _hash32(s))
    )
    sig = F.array(
        *[
            F.array_min(
                F.transform(
                    F.col("__hs"),
                    lambda h: (F.lit(_A[i]) * h + F.lit(_B[i])) % F.lit(_P),
                )
            ).alias(f"m{i}")
            for i in range(num_hashes)
        ]
    )
    return hashed.select("doc", sig.alias("sig"))


def _band_buckets(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc, band, key) LSH band-bucket memberships from a (doc, sig)
    signature frame: band key = ``rows_per_band`` consecutive min-hashes
    concatenated. One definition shared by :func:`minhash_lsh_pairs`,
    :func:`dedup_index`, :func:`flag_against_index`, and
    :func:`lsh_cap_stats` — the band layout is part of the index
    contract, so it must be impossible for two call sites to drift."""
    r = num_hashes // bands
    band_arr = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.concat_ws(
                    "_", *[F.element_at("sig", bi * r + j + 1) for j in range(r)]
                ).alias("key"),
            )
            for bi in range(bands)
        ]
    )
    return sigs.select("doc", F.explode(band_arr).alias("bk")).select(
        "doc", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def lsh_cap_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The `no silent caps` report for ``minhash_lsh_pairs``'s
    ``max_bucket_size`` lever (VERDICT r12 #3): the cap silently DROPS
    candidate pairs (members of over-cap band buckets are never
    compared), and a curation funnel that doesn't say how much mass that
    touched reads as 'covered everything' when it didn't.

    ONE row: n_buckets, max_bucket, n_dropped_buckets (buckets over the
    cap), n_dropped_memberships ((doc, bucket) rows dropped), and
    n_docs_affected (DISTINCT docs appearing in ≥1 dropped bucket — each
    such doc lost at least one candidate source; it may still pair
    through its other bands). Zeros when ``max_bucket_size`` is None.

    Cost: the signature/bucket build is the same linear scan the pair
    stage runs, plus one (band, key) groupBy and one small join against
    the over-cap bucket list (bounded by the number of mega-buckets).

    At pipeline scale prefer the SIDE-PRODUCT form (VERDICT r14 #2):
    ``minhash_lsh_pairs(..., cap_stats_sink=d)`` fills the same numbers
    from the bucket table the pair stage already materialized — this
    standalone function re-runs the signature pipeline, which at 5M docs
    cost as much as the curation it reported on."""
    idx = _shingle_index(docs, text_col, id_col, n)
    sigs = _signatures_from_index(idx, num_hashes)
    buckets = materialize(_band_buckets(sigs, num_hashes, bands))
    return _lsh_cap_totals(buckets, max_bucket_size)


def _lsh_cap_totals(
    buckets: DataFrame, max_bucket_size: int | None
) -> DataFrame:
    """The `no silent caps` aggregate over an already-built (doc, band,
    key) bucket table — shared by the standalone re-run form
    (:func:`lsh_cap_stats`) and the side-product form inside
    :func:`minhash_lsh_pairs`, so the two can never drift."""
    sizes = buckets.groupBy("band", "key").agg(
        F.count(F.lit(1)).alias("bsz")
    )
    dropped = (
        (F.col("bsz") > max_bucket_size)
        if max_bucket_size is not None
        else F.lit(False)
    )
    totals = sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("bsz").alias("max_bucket"),
        F.sum(dropped.cast("long")).alias("n_dropped_buckets"),
        F.sum(F.when(dropped, F.col("bsz")).otherwise(F.lit(0))).alias(
            "n_dropped_memberships"
        ),
    )
    if max_bucket_size is None:
        return totals.withColumn("n_docs_affected", F.lit(0).cast("long"))
    affected = (
        buckets.join(
            F.broadcast(
                sizes.filter(F.col("bsz") > max_bucket_size).select(
                    "band", "key"
                )
            ),
            ["band", "key"],
        )
        .agg(F.countDistinct("doc").alias("n_docs_affected"))
    )
    # two 1-row frames — the sanctioned 1-row report crossJoin
    return totals.crossJoin(affected)


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 6,
    threshold: float = 0.2,
    max_bucket_size: int | None = None,
    cap_mode: str = "drop",
    cap_stats_sink: dict | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup candidates, verified with exact Jaccard.

    signatures → band keys (rows_per_band hashes concatenated) → explode →
    self-join per (band, key) bucket → exact-Jaccard verify on candidates.
    At scale: the bucket join shuffles on band-key (uniform by construction);
    candidate verification touches only bucket-collision pairs, never n².

    Skew levers, in order (decision r04, VERDICT r03 #5): band keys
    concatenate ``rows_per_band`` independent min-hashes, so a hot bucket
    requires many documents agreeing on ALL of them — i.e. a genuinely
    giant near-dup cluster, which is a DATA fact to cap, not a shuffle to
    salt: use ``ngram_jaccard_pairs``'s ``max_doc_freq`` stop-shingle cap
    upstream, or ``max_bucket_size`` here — buckets with more members are
    dropped BEFORE the self-join (they are boilerplate clusters by
    definition: a b-member bucket contributes b(b-1)/2 candidate pairs,
    so one 10⁶-doc boilerplate bucket is 5·10¹¹ pairs — the cap turns
    that into zero work while every normal bucket is untouched; recall
    loss is confined to members of the dropped mega-clusters, which at
    100 TB you handle by exact-fingerprint or URL dedup, not MinHash).
    ``operators.skew.salted_join`` is NOT wired here deliberately: salting
    a self-join replicates the bucket's rows salt× on the other side,
    which multiplies the quadratic in-bucket pair work it was meant to
    spread; AQE skew splitting handles the residual imbalance.

    ``cap_mode`` picks what happens to over-cap buckets (r13 VERDICT #4):

    - ``"drop"`` (default — the registry-oracled semantics): members are
      never compared; recall loss confined to mega-clusters, quantified
      by :func:`lsh_cap_stats`;
    - ``"anchor"``: each over-cap bucket contributes ``(min member,
      other member)`` STAR pairs instead of its b(b−1)/2 all-pairs —
      b−1 candidates per bucket, LINEAR in bucket size, each still
      exact-Jaccard-verified. For dedup resolution
      (:func:`resolve_neardups` keeps per-component min ids) a verified
      star edge joins the member to the anchor's component, so a true
      boilerplate cluster still collapses; what anchor mode can miss vs
      uncapped is a member-to-member near-dup pair where NEITHER member
      verifies against the anchor (survivor/recall deltas measured in
      BASELINE.md's r14 LSH cap probe). Grid-sharding the all-pairs
      work (the ``semantic_dedup`` ``shard_target`` precedent) was
      REJECTED here: it preserves the pair set but also its Σb² cost —
      one 10⁶-member boilerplate bucket is 5·10¹¹ verify pairs no matter
      how evenly they shard; star linking is the form that bounds WORK,
      not just stragglers.

    ``cap_stats_sink`` (VERDICT r14 #2 — gauges as side-products): pass a
    dict and the `no silent caps` numbers (:func:`lsh_cap_stats` columns)
    are filled EAGERLY from the bucket table this pair stage already
    materialized — one aggregate over checkpoint blocks, instead of the
    standalone gauge's full signature-pipeline re-run (which at 5M docs
    cost as much as the curation it reported on). Values are identical to
    the standalone form over the same input by construction (shared
    ``_lsh_cap_totals`` over the same deterministic bucket build; pinned
    in tests/test_neardup_resolution.py::
    test_lsh_cap_side_product_matches_standalone)."""
    if cap_mode not in ("drop", "anchor"):
        raise ValueError(
            f"cap_mode must be 'drop' or 'anchor', got {cap_mode!r}"
        )
    idx, buckets = _lsh_index_and_buckets(
        docs, text_col, id_col, n, num_hashes, bands
    )
    return _lsh_pairs_from_index(
        idx, buckets, threshold,
        max_bucket_size=max_bucket_size, cap_mode=cap_mode,
        cap_stats_sink=cap_stats_sink,
    )


def _lsh_index_and_buckets(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    num_hashes: int,
    bands: int,
) -> tuple[DataFrame, DataFrame]:
    """The MinHash pipeline's two materialized tables — the shingle index
    (doc, sh, nsh) and the band buckets (doc, band, key) — split out of
    :func:`minhash_lsh_pairs` (r16 optimization round) so an ingest sink
    that needs the SAME per-doc tables again (the flag's novel side, the
    index delta) can filter these instead of re-tokenizing the batch:
    both are row-wise deterministic per doc, so a semi-join on the doc id
    is value-identical to recomputation over the subset.

    ONE shingle pass feeds both the signature path and the exact-Jaccard
    verify (r02 computed the index twice — a second full tokenize+shingle
    scan of the corpus). GC-managed materialization, multi-consumer."""
    idx = materialize(_shingle_index(docs, text_col, id_col, n))
    sigs = _signatures_from_index(idx, num_hashes)
    # GC-managed materialization — see the ngram_jaccard_pairs comment
    buckets = materialize(_band_buckets(sigs, num_hashes, bands))
    return idx, buckets


def _lsh_pairs_from_index(
    idx: DataFrame,
    buckets: DataFrame,
    threshold: float,
    max_bucket_size: int | None = None,
    cap_mode: str = "drop",
    cap_stats_sink: dict | None = None,
) -> DataFrame:
    """Candidate generation + exact-Jaccard verify over prebuilt
    (idx, buckets) tables — the tail of :func:`minhash_lsh_pairs`."""
    if cap_stats_sink is not None:
        cap_stats_sink.update(
            _lsh_cap_totals(buckets, max_bucket_size).collect()[0].asDict()
        )
    anchor_pairs = None
    if max_bucket_size is not None:
        # one count per (band, key) over a window — same partitioning as
        # the self-join shuffle, so the cap costs no extra exchange shape
        wb = Window.partitionBy("band", "key")
        sized = buckets.withColumn("__bsz", F.count(F.lit(1)).over(wb))
        if cap_mode == "anchor":
            # star edges for over-cap buckets: (bucket-min doc, member) —
            # b−1 linear pairs; doc_a < doc_b holds by construction
            # (anchor IS the min). Both aux columns ride ONE window
            # projection so the cap filter below and this branch consume
            # the IDENTICAL window subtree — one (band, key) shuffle,
            # reused exchange, not two (r14 review).
            sized = sized.withColumn("__anchor", F.min("doc").over(wb))
            anchor_pairs = sized.filter(
                (F.col("__bsz") > max_bucket_size)
                & (F.col("doc") != F.col("__anchor"))
            ).select(
                F.col("__anchor").alias("doc_a"),
                F.col("doc").alias("doc_b"),
            )
        buckets = sized.filter(
            F.col("__bsz") <= max_bucket_size
        ).select("doc", "band", "key")
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.hint("shuffle_hash")
        .join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
    )
    if anchor_pairs is not None:
        cand = cand.unionByName(anchor_pairs)
    cand = cand.distinct()
    # exact verify: join the SAME materialized shingle index back on
    ia = idx.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"), F.col("nsh").alias("na"))
    ib = idx.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"), F.col("nsh").alias("nb"))
    out = (
        cand.join(ia, "doc_a")
        .join(ib, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


def resolve_neardups(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Near-dup cluster resolution: scored pairs → connected components →
    one surviving representative per cluster (the min id, mirroring
    ``dedup_exact``'s survivors contract and the reference's
    drop_duplicates-returns-rows semantics, edge_data/ppi.py:142).

    ``pairs`` is any near-dup pair table (``minhash_lsh_pairs``,
    ``ngram_jaccard_pairs``, ``similarity.neighbor_pairs_lsh``); extra
    columns (jaccard/cosine) are ignored. Returns
    (``id_col``, cluster_size) covering the WHOLE corpus: cluster
    representatives carry their cluster's member count, untouched docs
    survive with cluster_size 1.

    Scale: min-label propagation runs only over the docs that appear in at
    least one pair — the duplicate-involved subset, typically a small
    fraction of the corpus — never the full document set; the corpus is
    touched once by an anti-join on the id (one shuffle, AQE may broadcast
    the pair-node side when small). Iteration count is the duplicate-cluster
    diameter, which for near-dup graphs is tiny (clusters are quasi-cliques:
    LSH links most members pairwise, so propagation converges in 2-3 rounds).
    """
    from crossbar_data_process_spark.graph.components import connected_components

    # materialize the pair table BEFORE iterating: the component loop joins
    # labels⋈edges once per iteration, and an unmaterialized `pairs` plan
    # (e.g. the whole MinHash-LSH pipeline) would be re-executed every
    # round — measured 10× the total runtime at sf0.1. GC-managed
    # localCheckpoint, same policy as the LSH intermediates above.
    pairs = materialize(pairs.select(a_col, b_col))
    nodes = (
        pairs.select(F.col(a_col).alias("id"))
        .unionByName(pairs.select(F.col(b_col).alias("id")))
        .distinct()
    )
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    comps = connected_components(nodes, edges)
    clusters = comps.groupBy("component").agg(
        F.min("id").alias(id_col), F.count(F.lit(1)).alias("cluster_size")
    )
    singles = docs.join(
        nodes, docs[id_col] == nodes["id"], "left_anti"
    ).select(F.col(id_col), F.lit(1).cast("long").alias("cluster_size"))
    return clusters.select(id_col, "cluster_size").unionByName(singles)


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """SimHash fingerprint: per-token 32-bit md5 hash; for each bit position,
    sum +1/−1 over tokens (with multiplicity); sign vector → integer
    fingerprint. Near-dup = small Hamming distance between fingerprints.

    Single-pass formulation: ONE fold over the token-hash array carrying a
    ``bits``-wide count vector (zip_with inside the accumulator), then one
    fold turning signs into the integer — instead of ``bits`` independent
    folds each re-traversing the array (the r02 shape: ~32× the array
    traversals and a much larger codegen'd expression tree). Same result
    bit-for-bit; the q26b oracle is unchanged. Pure expressions, no shuffle.
    """
    docs = _spread(docs).withColumn("__toks", tokens(text_col))
    hashed = F.transform(F.col("__toks"), lambda t: _hash32(t))
    zero_vec = F.array_repeat(F.lit(0).cast("long"), bits)
    masks = F.array(*[F.lit(1 << j).cast("long") for j in range(bits)])
    counts = F.aggregate(
        hashed,
        zero_vec,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    # counts → integer: fold carrying (power-of-two, partial sum) so no
    # shiftleft-by-column is needed (the Python API only shifts by literals)
    fingerprint = F.aggregate(
        counts,
        F.struct(
            F.lit(1).cast("long").alias("p"), F.lit(0).cast("long").alias("s")
        ),
        lambda acc, c: F.struct(
            (acc["p"] * 2).alias("p"),
            (acc["s"] + F.when(c > 0, acc["p"]).otherwise(F.lit(0).cast("long"))).alias("s"),
        ),
        lambda acc: acc["s"],
    )
    return docs.select(
        F.col(id_col).alias("doc"), fingerprint.alias("simhash")
    )


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: split each fingerprint into ``bands``
    equal-width chunks; docs sharing ANY chunk are candidates (pigeonhole:
    two fingerprints within Hamming distance d < bands must agree on at
    least one chunk, so with ``max_hamming < bands`` recall is EXACT, not
    probabilistic — the standard 64-bit/4-band/d≤3 web-dedup setup);
    verify with ``bit_count(xor)``.

    Scale shape mirrors :func:`minhash_lsh_pairs`: the bucket self-join
    shuffles on (band, chunk) — never n² — and the verify is one integer
    xor+popcount per candidate, far cheaper than MinHash's exact-Jaccard
    set intersection. Use SimHash pairs when token-ORDER-insensitive
    near-duplication at small Hamming radii is the contract; MinHash when
    you need a Jaccard threshold.
    """
    if bands <= max_hamming:
        raise ValueError(
            f"bands={bands} must exceed max_hamming={max_hamming} for the "
            "pigeonhole guarantee; raise bands or lower max_hamming"
        )
    if bits % bands != 0:
        raise ValueError(f"bits={bits} must divide evenly into {bands} bands")
    w = bits // bands
    mask = (1 << w) - 1
    sigs = materialize(simhash(docs, text_col, id_col, bits))
    chunk_arr = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.shiftright(F.col("simhash"), j * w)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
            for j in range(bands)
        ]
    )
    buckets = sigs.select(
        "doc", F.explode(chunk_arr).alias("bk")
    ).select("doc", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.hint("shuffle_hash")
        .join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(F.col("doc").alias("doc_a"), F.col("simhash").alias("__ha"))
    sb = sigs.select(F.col("doc").alias("doc_b"), F.col("simhash").alias("__hb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "hamming",
            F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark-contamination screen (training-data hygiene): flag
    documents sharing at least ``min_hits`` distinct word ``n``-grams with
    an evaluation/benchmark corpus — the standard n-gram decontamination
    test applied before a pretraining mix is frozen.

    Returns (id_col, n_contaminated_ngrams) for FLAGGED docs only (join
    back for the clean set with a left-anti). ``n = 8`` is wide enough
    that natural phrase reuse is rare but verbatim leakage still hits.

    Scale shape: the benchmark side is shingled, made DISTINCT, and
    BROADCAST — eval suites are thousands of documents against a corpus of
    billions, so the contaminated-shingle set is the small side by
    construction and the corpus is never shuffled at all; the per-doc hit
    count aggregates map-side. A benchmark too big to broadcast degrades
    gracefully to a shuffle equi-join on the shingle string.
    """
    corpus = _shingle_index(docs, text_col, id_col, n).select(
        "doc", F.explode("sh").alias("s")
    )
    bench = (
        _spread(benchmark)
        .select(shingles(bench_text_col, n).alias("sh"))
        .select(F.explode("sh").alias("s"))
        .distinct()
    )
    return (
        corpus.join(F.broadcast(bench), "s")
        .groupBy(F.col("doc").alias(id_col))
        .agg(F.count(F.lit(1)).cast("long").alias("n_contaminated_ngrams"))
        .filter(F.col("n_contaminated_ngrams") >= min_hits)
    )


def segment_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_doc_freq: int = 2,
) -> DataFrame:
    """Span-level (sub-document) exact dedup: the corpus-wide "remove
    duplicated substrings" pass of training-data curation (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"), applied at
    a fixed ``k``-token granularity so it stays a hash problem instead of a
    suffix-array problem.

    Every document is cut into consecutive non-overlapping ``k``-token
    segments (the final segment keeps the <k-token tail, so the cleaned text
    is a pure subsequence of the original). A segment occurring in the
    corpus ``min_doc_freq`` or more times survives only at its FIRST
    occurrence — ordered by (id, position), so the representative is
    deterministic; all later copies are cut out of their documents.
    Unique segments always survive. Returns one row per input document:
    (id, clean_text, n_segs, kept_segs, dropped_segs).

    Scale shape (100 TB):
    - the segment table is a scan-side ``posexplode`` — no shuffle, ~1 row
      per k tokens (8x smaller than a token explode);
    - first-occurrence is a groupBy MIN on the segment's 16-byte md5 (one
      shuffle; partial aggregation makes boilerplate mega-segments cheap
      map-side) followed by an equi-join back on the same hash — NOT a
      window over the hash, which would put every copy of a hot boilerplate
      segment into one unsplittable partition; the join path lets AQE skew
      splitting spread it;
    - document reassembly is one groupBy on the id (one shuffle), sorting
      the surviving segments driver-free via ``array_sort`` on
      (position, segment) structs.
    Versus the reference: no counterpart — the reference dedups whole rows
    only (e.g. node_data/drug.py drop_duplicates); this is engine charter.
    """
    base = _spread(docs).select(id_col, tokens(text_col).alias("__toks"))
    nseg = F.ceil(F.size("__toks") / F.lit(k)).cast("int")
    segs = F.when(
        nseg > 0,
        F.transform(
            F.sequence(F.lit(0), nseg - 1),
            lambda i: F.array_join(F.slice("__toks", i * k + 1, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = materialize(
        base.select(id_col, F.posexplode(segs).alias("seg_idx", "seg"))
        .withColumn("seg_hash", F.md5("seg"))
    )
    firsts = ex.groupBy("seg_hash").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("seg_idx").alias("p"))).alias("__first"),
        F.count(F.lit(1)).alias("__df"),
    )
    flagged = ex.join(firsts, "seg_hash").withColumn(
        "__keep",
        (F.col("__df") < min_doc_freq)
        | ((F.col(id_col) == F.col("__first.i")) & (F.col("seg_idx") == F.col("__first.p"))),
    )
    # single reassembly shuffle: keep-flag travels in the collected struct so
    # kept text, kept count, and total count come out of ONE groupBy
    ordered = F.array_sort(F.collect_list(F.struct("seg_idx", "__keep", "seg")))
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.filter(ordered, lambda s: s["__keep"]), lambda s: s["seg"]
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_segs"),
        F.sum(F.col("__keep").cast("long")).cast("long").alias("kept_segs"),
        F.sum((~F.col("__keep")).cast("long")).cast("long").alias("dropped_segs"),
    )


def dedup_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 6,
) -> dict[str, DataFrame]:
    """The INCREMENTAL-dedup silver index: three tables built in one pass
    over the corpus, persisted once, appended per ingest batch. Production
    pipelines never re-dedup the whole corpus when a batch lands — they
    check the batch against this index (:func:`flag_against_index`) and
    append the survivors' rows.

    - ``fingerprints`` (fp, doc): exact-dup membership, one anti-join;
    - ``buckets`` (band, key, doc): the LSH band-bucket table — the same
      permutation family and band layout as :func:`minhash_lsh_pairs`, so
      a new doc's buckets collide with the corpus exactly as they would in
      a full-corpus run;
    - ``shingles`` (doc, sh, nsh): shingle sets for the exact-Jaccard
      verify of bucket collisions.

    All three shuffle on hash-like keys and scale linearly; the bucket and
    shingle tables are the same intermediates a full minhash_lsh_pairs run
    builds — stored instead of discarded.
    """
    idx = materialize(_shingle_index(docs, text_col, id_col, n))
    sigs = _signatures_from_index(idx, num_hashes)
    buckets = _band_buckets(sigs, num_hashes, bands)
    fingerprints = docs.select(
        F.col(id_col).alias("doc"), doc_fingerprint(text_col).alias("fp")
    )
    return {"fingerprints": fingerprints, "buckets": buckets, "shingles": idx}


def flag_against_index(
    new_docs: DataFrame,
    index: dict[str, DataFrame],
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 6,
    threshold: float = 0.2,
    pre: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Check an ingest batch against a :func:`dedup_index`: returns one row
    per DUPLICATE new document — (id, dup_kind 'exact'|'near', matched_doc,
    jaccard) with the lowest-id corpus match as the deterministic witness
    (jaccard is NULL for exact matches; they skip shingling entirely).
    Survivors = ``new_docs.join(flags, id, "left_anti")``; extend the index
    with ``dedup_index(survivors)`` unioned table-wise.

    Scale shape: everything is sized by the BATCH, not the corpus — the fp
    check is one equi-join against the fingerprint table; only fp-novel
    docs are shingled; the bucket probe is an equi-join on (band, key);
    the verify joins the corpus shingle table only for collided docs.
    (n / num_hashes / bands must match the index build — same permutation
    constants, same band keys.)

    ``pre`` (r16 optimization round): a caller that ALREADY built this
    batch's per-doc tables (the streaming sink tokenizes once per batch
    via ``_lsh_index_and_buckets`` + carries the fingerprint column) can
    pass ``{"fingerprints": (doc, fp), "shingles": (doc, sh, nsh),
    "buckets": (doc, band, key)}`` frames covering a SUPERSET of
    ``new_docs`` — each is semi-join-filtered to the relevant doc set
    here instead of re-tokenizing/re-hashing the batch. All three are
    row-wise deterministic per doc (same expressions, same parameters),
    so filtering is value-identical to recomputation; the caller must
    have built them with the SAME (n, num_hashes, bands).
    """
    if pre is not None:
        new_fp = pre["fingerprints"].join(
            new_docs.select(F.col(id_col).alias("doc")), "doc", "left_semi"
        )
    else:
        new_fp = new_docs.select(
            F.col(id_col).alias("doc"), doc_fingerprint(text_col).alias("fp")
        )
    exact = (
        new_fp.join(
            index["fingerprints"].select(
                "fp", F.col("doc").alias("matched_doc")
            ),
            "fp",
        )
        .groupBy("doc")
        .agg(F.min("matched_doc").alias("matched_doc"))
        .select(
            F.col("doc").alias(id_col),
            F.lit("exact").alias("dup_kind"),
            "matched_doc",
            F.lit(None).cast("double").alias("jaccard"),
        )
    )
    exact = materialize(exact)

    novel = new_docs.join(
        exact.select(F.col(id_col)), id_col, "left_anti"
    )
    if pre is not None:
        novel_ids = novel.select(F.col(id_col).alias("doc"))
        # filtered views of the caller's materialized tables — consumed
        # once each, so no extra checkpoint on top of the caller's
        new_idx = pre["shingles"].join(novel_ids, "doc", "left_semi")
        new_buckets = (
            pre["buckets"]
            .join(novel_ids, "doc", "left_semi")
            .select(F.col("doc").alias("new_doc"), "band", "key")
        )
    else:
        new_idx = materialize(_shingle_index(novel, text_col, id_col, n))
        new_sigs = _signatures_from_index(new_idx, num_hashes)
        new_buckets = _band_buckets(new_sigs, num_hashes, bands).select(
            F.col("doc").alias("new_doc"), "band", "key"
        )
    cand = (
        new_buckets.join(
            index["buckets"].select(
                "band", "key", F.col("doc").alias("corpus_doc")
            ),
            ["band", "key"],
        )
        .select("new_doc", "corpus_doc")
        .distinct()
    )
    ia = new_idx.select(
        F.col("doc").alias("new_doc"), F.col("sh").alias("sh_a"), F.col("nsh").alias("na")
    )
    ib = index["shingles"].select(
        F.col("doc").alias("corpus_doc"), F.col("sh").alias("sh_b"), F.col("nsh").alias("nb")
    )
    near = (
        cand.join(ia, "new_doc")
        .join(ib, "corpus_doc")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .groupBy("new_doc")
        .agg(
            F.min(
                F.struct(F.col("corpus_doc").alias("m"), F.col("jaccard").alias("j"))
            ).alias("__best")
        )
        .select(
            F.col("new_doc").alias(id_col),
            F.lit("near").alias("dup_kind"),
            F.col("__best.m").alias("matched_doc"),
            F.col("__best.j").alias("jaccard"),
        )
    )
    return exact.unionByName(near)
