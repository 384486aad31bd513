"""Similarity search over embedding columns (engine extension;
SURVEY.md §7.1 step 7): brute-force cosine top-k baseline plus an
LSH-bucketed approximate variant as the scale path.

Scale notes: brute-force is O(Q×N) — fine when the query set is small and
broadcast; the LSH variant buckets both sides by random-hyperplane sign
signatures so the join only compares within-bucket candidates (the standard
ANN trade: recall vs the number of hyperplanes/probes). Vector math is
``zip_with`` + ``aggregate`` fold — JVM-side, no Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crossbar_data_process_spark.operators.materialize import materialize
from crossbar_data_process_spark.operators.topk import top_k_per_group


def dot(a: Column, b: Column) -> Column:
    """Left-to-right fold dot product (deterministic summation order —
    matches the SQL oracle's list_reduce order exactly)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column, scale: int = 6) -> Column:
    """NULL (not an error) when either vector has zero norm: the session
    runs ANSI mode, where a plain ``/`` on a 0 divisor is DIVIDE_BY_ZERO
    and aborts the job (r10 review). ``try_divide`` keeps one evaluation
    of the norms and identical values whenever the divisor is nonzero, so
    every oracle hash is unchanged; downstream threshold filters drop the
    NULLs (zero vectors have no direction)."""
    return F.round(F.try_divide(dot(a, b), norm(a) * norm(b)), scale)


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: for each query vector, the k nearest corpus
    vectors (self-matches excluded). ``queries`` is broadcast — the corpus is
    scanned once, partition-parallel, no corpus shuffle; the only shuffle is
    the final per-query top-k window on ``|Q|`` keys.

    Deterministic: ties broken by ascending corpus id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = vectors.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbor_id", "cosine")
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.desc("cosine"), F.asc("neighbor_id")],
        k,
        rank_col="rnk",
    )


# fixed pseudo-random hyperplanes (deterministic: linear congruential series)
def _hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    planes = []
    state = 1234567
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append((state / float(1 << 63)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_bucket_signature(
    vec: Column, dim: int, n_planes: int = 8, plane_offset: int = 0
) -> Column:
    """Random-hyperplane signature: concat of sign bits of <v, plane_i>.
    ``plane_offset`` selects a disjoint plane slice from the deterministic
    series — table t of a multi-table scheme uses offset t*n_planes, so
    tables are independent but reproducible (and SQL-oracle-able)."""
    planes = _hyperplanes(dim, plane_offset + n_planes)[plane_offset:]
    bits = [
        F.when(
            dot(vec, F.array(*[F.lit(x) for x in p])) >= 0, F.lit("1")
        ).otherwise(F.lit("0"))
        for p in planes
    ]
    return F.concat(*bits)


def _probe_signatures(bucket: Column, n_planes: int) -> Column:
    """Multi-probe set: the signature itself plus every 1-bit flip (the
    standard Hamming-1 probe sequence). A vector near a hyperplane falls on
    either side by chance; probing adjacent buckets recovers those misses
    for n_planes extra lookups instead of doubling the table."""
    flips = [
        F.concat(
            F.substring(bucket, 1, j),
            F.when(F.substring(bucket, j + 1, 1) == "1", F.lit("0")).otherwise(
                F.lit("1")
            ),
            F.substring(bucket, j + 2, n_planes - j - 1),
        )
        for j in range(n_planes)
    ]
    return F.array(bucket, *flips)


def _table_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int,
    tables: int,
    id_col: str,
    vec_col: str,
    multiprobe: bool = False,
) -> DataFrame:
    """(id, table, key) bucket assignments for a multi-table LSH scheme:
    table t signs the vector against its own disjoint slice of the
    deterministic hyperplane series. Recall of the OR-construction is
    1-(1-p^m)^L for per-plane agreement p — tuning (m=n_planes, L=tables)
    sets the operating point; a single AND-only table (L=1) cannot reach
    high recall for moderate-similarity neighbors (p^m collapses).
    ``multiprobe`` adds every Hamming-1 key per table (m extra probes)."""
    sigs = df.select(
        F.col(id_col).alias("id"),
        *[
            lsh_bucket_signature(
                F.col(vec_col), dim, n_planes, plane_offset=t * n_planes
            ).alias(f"__b{t}")
            for t in range(tables)
        ],
    )
    if multiprobe:
        # NB: the HOF lambda must stay unary — pyspark binds a second
        # parameter to the element INDEX, so a `lambda key, t=t` default-arg
        # closure would silently replace the table number with the index
        def probe_structs(t: int):
            return F.transform(
                _probe_signatures(F.col(f"__b{t}"), n_planes),
                lambda key: F.struct(F.lit(t).alias("t"), key.alias("key")),
            )

        band_arr = F.flatten(F.array(*[probe_structs(t) for t in range(tables)]))
    else:
        band_arr = F.array(
            *[
                F.struct(F.lit(t).alias("t"), F.col(f"__b{t}").alias("key"))
                for t in range(tables)
            ]
        )
    return sigs.select("id", F.explode(band_arr).alias("bk")).select(
        "id", F.col("bk.t").alias("t"), F.col("bk.key").alias("key")
    )


def cosine_topk_lsh(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tables: int = 1,
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate cosine top-k: compare only (query, corpus) pairs sharing
    a bucket in at least one of ``tables`` random-hyperplane tables.

    Scale shape: the corpus is bucketed once per table (linear scan, one
    shuffle on the band key), queries are broadcast; candidates per query
    ≈ L·n/2^m instead of n. The (m, L) trade is the standard OR-of-ANDs:
    recall 1-(1-p^m)^L. Measured operating points are recorded in
    COVERAGE.md — including the honest negative result that for
    weak-similarity neighbors (cosine ≈ 0.4, p ≈ 0.6) no setting prunes
    much below brute force; the construction earns its keep when neighbor
    similarity is high (true near-dups, p ≥ 0.85). ``multiprobe`` probes
    Hamming-1 query buckets per table (m extra probes per table)."""
    c = _table_buckets(vectors, dim, n_planes, tables, id_col, vec_col)
    qb = _table_buckets(
        queries, dim, n_planes, tables, id_col, vec_col, multiprobe=multiprobe
    )
    cand = (
        c.join(
            F.broadcast(qb.select(F.col("id").alias("qid"), "t", "key")),
            on=["t", "key"],
        )
        .filter(F.col("id") != F.col("qid"))
        .select(F.col("qid").alias("query_id"), F.col("id").alias("neighbor_id"))
    )
    if tables > 1 or multiprobe:
        cand = cand.distinct()  # a pair can collide in several tables/probes
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    cv = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("cosine", cosine(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbor_id", "cosine")
    )
    return top_k_per_group(
        scored, ["query_id"], [F.desc("cosine"), F.asc("neighbor_id")], k, rank_col="rnk"
    )


def neighbor_pairs_lsh(
    vectors: DataFrame,
    dim: int,
    threshold: float = 0.4,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tables: int = 1,
    multiprobe: bool = False,
) -> DataFrame:
    """Embedding near-dup pairs, LSH-bucketed — the DECLARED near-dup
    operator (the brute-force all-pairs q27b form is a bounded oracle
    fixture only; an O(n²) cross join is not a 100 TB plan).

    Self-join within per-table signature buckets (same banding shape as
    MinHash-LSH in textdedup): the shuffle is keyed on (table, key),
    candidates ≈ L·n²/2^m instead of n², each surviving candidate pays one
    exact cosine. ``tables``/``multiprobe`` set the recall operating point
    exactly as in :func:`cosine_topk_lsh` (measured points in COVERAGE.md).
    """
    buckets = _table_buckets(vectors, dim, n_planes, tables, id_col, vec_col)
    a = buckets.alias("a")
    b = (
        _table_buckets(
            vectors, dim, n_planes, tables, id_col, vec_col, multiprobe=multiprobe
        ).alias("b")
        if multiprobe
        else buckets.alias("b")
    )
    # shuffle-hash: both sides are corpus-sized — refuse a broadcast that
    # local stats would allow but scale forbids (same rule as textdedup)
    cand = (
        a.hint("shuffle_hash")
        .join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("vec_a"), F.col("b.id").alias("vec_b"))
    )
    if tables > 1 or multiprobe:
        cand = cand.distinct()
    va = vectors.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"))
    vb = vectors.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn("cosine", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def quantize_embeddings(
    vectors: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: (…, qvec: array<tinyint>,
    qscale: double) with ``x ≈ qvec[i] * qscale``. 4x smaller than float32
    (16x vs float64) — at 100 TB the quantized corpus is what gets stored
    in the ANN silver layout and shuffled through candidate joins, so the
    byte shrink is a direct shuffle/scan win, not a micro-optimization.

    Determinism contract: quantization is ``floor(x·127/m + 0.5)`` (m =
    per-vector max |x|) — floor is exact in every engine, so the codes are
    bit-identical in Spark and any SQL oracle, unlike round() whose
    half-case direction is engine-specific. Max quantization error per
    component is m/254. Zero vectors quantize to all-zero codes, qscale 0.

    Columns other than ``vec_col`` pass through untouched (so cluster ids,
    doc metadata, etc. ride along into the silver layout).
    """
    m_expr = F.array_max(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    )
    # bind m in its own projection so the O(d) max is evaluated once per
    # row, not re-inlined per element inside the transform lambda
    pre = vectors.select("*", m_expr.alias("__m"))
    qvec = F.when(
        F.col("__m") > 0,
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * 127.0 / F.col("__m") + 0.5).cast(
                "tinyint"
            ),
        ),
    ).otherwise(F.transform(F.col(vec_col), lambda x: F.lit(0).cast("tinyint")))
    return pre.select(
        *[c for c in vectors.columns if c != vec_col],
        qvec.alias("qvec"),
        (F.col("__m") / 127.0).alias("qscale"),
    )


def dequantize(qvec: Column, qscale: Column) -> Column:
    """array<double> reconstruction ``qvec[i] * qscale``."""
    return F.transform(qvec, lambda e: e.cast("double") * qscale)


def cosine_topk_quantized(
    quantized: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k against an int8-quantized corpus — same
    contract as ``cosine_topk`` but the corpus side streams tinyint codes.

    Cosine is scale-invariant, so ranking against the raw integer codes
    equals ranking against the dequantized vectors exactly (qscale > 0
    cancels out of the ratio) — the per-element dequant multiply is skipped
    entirely; only the quantization rounding itself costs recall.
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = quantized.select(F.col(id_col).alias("neighbor_id"), F.col("qvec"))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine(F.col("qv"), F.col("qvec")))
        .select("query_id", "neighbor_id", "cosine")
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.desc("cosine"), F.asc("neighbor_id")],
        k,
        rank_col="rnk",
    )


def neighbor_pairs_ivf(
    vectors: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = None,
    shard_target: int | None = 2000,
    two_level=None,
    cap_stats_sink: dict | None = None,
) -> DataFrame:
    """Embedding near-dup pairs, k-means-bucketed (the SemDeDup shape:
    Abbas et al. 2023 — cluster the corpus once, compare only WITHIN a
    cluster). The data-ADAPTIVE counterpart of :func:`neighbor_pairs_lsh`:
    random hyperplanes split the space blindly, while fitted centroids put
    the comparison budget where the density is — near-dups sit next to
    each other by construction, so same-cluster candidacy catches them at
    nprobe=1 cost. Reuses the IVF quantizer (``operators.ivf.ivf_fit`` /
    ``load_centroids``) — one fitted artifact serves search (q54) and
    dedup. ``two_level`` (an ``operators.ivf.TwoLevelQuantizer`` over the
    same centroids) switches corpus assignment to the O(√nlist)-per-row
    shape — MANDATORY posture past ~10M rows, where SemDeDup's
    nlist ≈ n/250 makes flat assignment O(n^1.5) (VERDICT r12 #1).

    Candidates are Σ c_i²/2 over cluster sizes instead of n²/2; the
    shuffle is keyed on the int cluster id. Two skew levers, layered:

    - ``shard_target`` (DEFAULT ON — VERDICT r12 #2): clusters larger
      than the target are salted into s = ⌈size/target⌉ sub-shards and
      pairs are generated across the s×s shard grid — the a-side carries
      its own shard as grid row and fans out over grid columns, the
      b-side the transpose, so every unordered pair lands in EXACTLY one
      grid cell (cell (h_a, h_b) with the id< order filter) and the pair
      set is byte-identical to the unsharded join (pinned in
      tests/test_semantic_dedup.py). What changes is the TASK shape: a
      cluster-keyed join cannot split one cluster across tasks (measured
      r12 at 500k docs: 36 hot clusters carried 66% of 813M candidate
      pairs, top cluster 34× the median — the straggler floor WAS the
      hottest cluster), while the grid key splits it into s² independent
      tasks of ~(size/s)² pairs each. Replication cost: hot-cluster rows
      are duplicated s× per side — linear, paid only by over-target
      clusters. Total pair WORK is unchanged — the work lever is
      quantizer granularity (nlist), not the shard grid.
    - ``max_cluster_size`` (off by default): the old EXCLUSION cap —
      clusters above it are dropped from pair generation entirely,
      silently losing their pairs. Kept for true quantizer failure modes
      (a dead-center catch-all list that would dwarf even sharded work),
      no longer the default skew posture.

    Returns (vec_a, vec_b, cosine) with vec_a < vec_b, cosine ≥ threshold.
    Vectors are assigned through ``ivf.assign_clusters``, which refuses
    NULL, wrong-length and non-finite vectors.

    Cross-cluster near-dups (borderline vectors quantized apart) are the
    recall trade vs the LSH multiprobe variant — measured in
    tests/test_semantic_dedup.py.

    ``cap_stats_sink`` (VERDICT r14 #2 — gauges as side-products): pass a
    dict and the :func:`cluster_cap_stats` numbers are filled EAGERLY
    from the population table this pair stage already computes over its
    checkpointed assignment — no corpus re-assignment. Values identical
    to the standalone form by construction (shared
    ``_cluster_cap_totals``; assignment is deterministic).
    """
    from crossbar_data_process_spark.operators.ivf import assign_clusters

    # Precompute the norm ONCE per vector: every vector meets
    # ~cluster_size candidates, and cosine() would recompute BOTH norms
    # per PAIR — carrying the scalar norm makes each candidate one dot
    # product plus a scalar divide, ~3x less array work on the pair
    # stage (git show 8f7ca59:scripts/semdedup_probe.py). (Not done by pre-dividing into
    # unit vectors: a transform lambda that captures an outer column
    # miscompiles under self-join attribute dedup — INTERNAL_ERROR
    # ATTRIBUTE_NOT_FOUND on generated-expression sources.)
    # Materialized: the assignment (the expensive part) feeds the size
    # count AND both self-join sides — three consumers.
    base_cols = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("n"),
    )
    # ONE entry for all assignment consumers (r13 review): the vector
    # and centroid guards and the two_level centroid-identity guard
    # live in assign_clusters so no call site can drop them. (Two-level
    # rides the broadcast-join transport — plan size stays O(ntop)
    # however large nlist grows.)
    assigned = materialize(
        assign_clusters(base_cols, "v", centroids, two_level=two_level)
    )
    need_sizes = max_cluster_size is not None or shard_target is not None
    if need_sizes or cap_stats_sink is not None:
        sizes = assigned.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("__csz")
        )
    if cap_stats_sink is not None:
        # side-product gauge (VERDICT r14 #2): the cap report from the
        # SAME population table the levers below consume — one aggregate
        # over the checkpointed assignment, not the standalone gauge's
        # full re-assignment of the corpus
        cap_stats_sink.update(
            _cluster_cap_totals(
                sizes.select("cluster", F.col("__csz").alias("csz")),
                max_cluster_size,
                shard_target,
            )
            .collect()[0]
            .asDict()
        )
    if need_sizes:
        assigned = assigned.join(F.broadcast(sizes), "cluster")
        if max_cluster_size is not None:
            assigned = assigned.filter(F.col("__csz") <= max_cluster_size)
    if shard_target is not None:
        # s sub-shards per over-target cluster; each row carries its own
        # shard (md5-deterministic, the engine hashing family) and the
        # shard COUNT, from which each join side fans out its grid axis
        base = assigned.withColumn(
            "__s",
            F.greatest(
                F.lit(1), F.ceil(F.col("__csz") / shard_target)
            ).cast("int"),
        ).withColumn(
            "__h",
            F.pmod(F.xxhash64(F.col("id"), F.lit(41)), F.col("__s")).cast(
                "int"
            ),
        ).drop("__csz")
        a_raw = base.withColumn(
            "__ga", F.col("__h")
        ).withColumn(
            "__gb", F.explode(F.sequence(F.lit(0), F.col("__s") - 1))
        ).drop("__s", "__h")
        b_raw = base.withColumn(
            "__ga", F.explode(F.sequence(F.lit(0), F.col("__s") - 1))
        ).withColumn("__gb", F.col("__h")).drop("__s", "__h")
        keys = ["cluster", "__ga", "__gb"]
    else:
        if need_sizes:
            assigned = assigned.drop("__csz")
        a_raw, b_raw = assigned, assigned
        keys = ["cluster"]
    a = a_raw.alias("a")
    b = b_raw.alias("b")
    join_cond = F.col("a.id") < F.col("b.id")
    for k in keys:
        join_cond = (F.col(f"a.{k}") == F.col(f"b.{k}")) & join_cond
    # shuffle-hash: both sides are corpus-sized — refuse a broadcast that
    # local stats would allow but scale forbids (same rule as textdedup)
    return (
        a.hint("shuffle_hash")
        .join(b, join_cond)
        # precomputed norms => ONE dot per candidate, same 1e-6 rounding
        # and try_divide zero-norm semantics as cosine() (ANSI mode: a
        # plain / on a 0 divisor aborts the job; NULL is dropped by the
        # threshold filter — zero vectors pair with nothing)
        .withColumn(
            "cosine",
            F.round(
                F.try_divide(
                    dot(F.col("a.v"), F.col("b.v")),
                    F.col("a.n") * F.col("b.n"),
                ),
                6,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a.id").alias("vec_a"),
            F.col("b.id").alias("vec_b"),
            "cosine",
        )
    )


def cluster_cap_stats(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = None,
    shard_target: int | None = 2000,
    two_level=None,
) -> DataFrame:
    """The `no silent caps` report for the SemDeDup pair stage (VERDICT
    r12 #3): ONE row quantifying what the skew levers actually did —
    ``max_cluster_size`` silently DROPS pairs (members of over-cap
    clusters are never compared) and a funnel that doesn't say how much
    mass that touched reads as 'covered everything' when it didn't;
    ``shard_target`` drops nothing but its reach is the straggler story a
    scale run is judged by.

    Columns: n_clusters, max_cluster, n_docs,
    n_dropped_clusters / n_dropped_docs (the exclusion cap's silent
    mass — 0 when ``max_cluster_size`` is None),
    n_sharded_clusters / n_sharded_docs (grid-split, NOT dropped).

    Cost: the same assignment projection the pair stage runs, one
    (cluster) groupBy, one 1-row aggregate — cheap next to the pair join
    it reports on. Callers who already hold the assigned frame can pass
    it as ``vectors`` with ``vec_col`` untouched (assignment is
    deterministic, so recomputing yields the identical partition).

    At pipeline scale prefer the SIDE-PRODUCT form (VERDICT r14 #2):
    ``semantic_dedup(..., cap_stats_sink=d)`` /
    ``neighbor_pairs_ivf(..., cap_stats_sink=d)`` fill the same numbers
    from the population table the pass already computes — this standalone
    function re-assigns the whole corpus, which at 5M docs cost as much
    as the dedup it reported on."""
    from crossbar_data_process_spark.operators.ivf import assign_clusters

    # the pair stage's own entry (r13 review): its two_level
    # centroid-identity guard keeps this report from describing a
    # partition the pair stage never used
    assigned = assign_clusters(
        vectors.select(F.col(vec_col).alias("__v")),
        "__v",
        centroids,
        two_level=two_level,
    ).select("cluster")
    sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("csz"))
    return _cluster_cap_totals(sizes, max_cluster_size, shard_target)


def _cluster_cap_totals(
    sizes: DataFrame,
    max_cluster_size: int | None,
    shard_target: int | None,
) -> DataFrame:
    """The `no silent caps` aggregate over an already-computed
    (cluster, csz) population table — shared by the standalone re-run
    form (:func:`cluster_cap_stats`) and the side-product form inside
    :func:`neighbor_pairs_ivf`, so the two can never drift."""
    dropped = (
        (F.col("csz") > max_cluster_size)
        if max_cluster_size is not None
        else F.lit(False)
    )
    sharded = (
        (~dropped & (F.col("csz") > shard_target))
        if shard_target is not None
        else F.lit(False)
    )
    return sizes.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.max("csz").alias("max_cluster"),
        F.sum("csz").alias("n_docs"),
        F.sum(dropped.cast("long")).alias("n_dropped_clusters"),
        F.sum(F.when(dropped, F.col("csz")).otherwise(F.lit(0))).alias(
            "n_dropped_docs"
        ),
        F.sum(sharded.cast("long")).alias("n_sharded_clusters"),
        F.sum(F.when(sharded, F.col("csz")).otherwise(F.lit(0))).alias(
            "n_sharded_docs"
        ),
    )


def semantic_dedup(
    vectors: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = None,
    shard_target: int | None = 2000,
    two_level=None,
    cap_stats_sink: dict | None = None,
) -> DataFrame:
    """SemDeDup end-to-end: k-means-bucketed cosine pairs →
    connected components → one surviving representative per semantic
    cluster (min id). Same survivors contract as
    ``textdedup.resolve_neardups`` — returns (``id_col``, cluster_size)
    covering the whole corpus, untouched vectors surviving with
    cluster_size 1 — so text and embedding dedup plug into the same
    downstream (curation funnels, incremental ingest).

    Scale: the pair stage is Σ c_i² (cluster-bounded, never n²); the
    component resolution touches only pair-involved ids
    (``resolve_neardups``'s contract). At 100 TB this is one silver of
    assignments + a per-cluster self-join — the corpus is shuffled once,
    on the cluster id. ``cap_stats_sink`` threads to
    :func:`neighbor_pairs_ivf` — the skew report as a side-product of
    the pass instead of a standalone re-assignment (VERDICT r14 #2)."""
    from crossbar_data_process_spark.operators.textdedup import (
        resolve_neardups,
    )

    pairs = neighbor_pairs_ivf(
        vectors,
        centroids,
        threshold,
        id_col,
        vec_col,
        max_cluster_size,
        shard_target=shard_target,
        two_level=two_level,
        cap_stats_sink=cap_stats_sink,
    )
    return resolve_neardups(
        vectors.select(id_col), pairs, id_col, "vec_a", "vec_b"
    )
