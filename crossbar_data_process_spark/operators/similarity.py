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
    and aborts the job — in a streaming dedup sink, a wedged stream
    (r10 review). ``try_divide`` keeps one evaluation of the norms and
    identical values whenever the divisor is nonzero, so every oracle
    hash is unchanged; downstream threshold filters drop the NULLs
    (zero vectors have no direction)."""
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


def _pairs_arrow_grouped(
    df: DataFrame,
    keys: list[str],
    threshold: float,
    id_type,
    two_sided: bool,
    cross_pairs: bool = False,
) -> DataFrame:
    """The pair stage as a grouped BLAS kernel (r13): each grid cell
    (cluster[, __ga, __gb]) scores every cross pair in ONE numpy matmul
    — S = (Vₐ @ V_b.T) / outer(nₐ, n_b) — instead of one
    interpreted-HOF dot per candidate row (HOFs never codegen; the
    per-candidate eval tax is the pair stage's analogue of the
    assignment tax ``assign_frame_arrow`` retires).

    Transport: ONE ``groupBy(cell).applyInPandas`` over a side-tagged
    union (``two_sided``, the sharded grid — a cogroup of a frame with
    itself trips the ambiguous-self-join analyzer check, and the union
    shuffles the same bytes) or over the bare assigned frame
    (``two_sided=False``, the unsharded case — HALF the shuffle of the
    JVM self-join, since each row ships once and the kernel reads it as
    both sides). Cell memory is bounded by ``shard_target`` rows per
    side; an unsharded mega-cluster is the caller's documented hazard on
    BOTH backends. A-side rows are chunked so the score block stays
    ≤ ~64 MB whatever the cell shape.

    Parity: the divisor reuses the JVM-computed ``n`` norm column
    verbatim; rounding is EXACTLY ``F.round``'s rule — HALF_UP on the
    shortest-repr decimal, via a sparse Decimal path for the rare
    half-boundary values where the vectorized floor-form splits from it
    (r13 review); non-finite scores (zero-norm vectors) drop exactly
    like try_divide's NULLs; the ``id <`` order filter applies inside the
    kernel. The only divergence surface is sub-ulp dot-product summation
    order — byte-identical pair sets on every test corpus
    (tests/test_semantic_dedup.py, incl. a planted half-boundary case).

    ``cross_pairs=True`` (r15, the dedup-sink flag kernel): the two sides
    are DIFFERENT populations (side 0 = silver/corpus, side 1 = incoming
    batch) and every (left, right) pair is a candidate — the ``id <``
    order filter is dropped (comparing a silver id against a batch id
    orders nothing; the sharded grid already lands each cross pair in
    exactly one cell). Requires ``two_sided=True``."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    if cross_pairs and not two_sided:
        raise ValueError(
            "cross_pairs scoring needs a side-tagged union (two_sided=True)"
        )
    out_schema = StructType(
        [
            StructField("vec_a", id_type, True),
            StructField("vec_b", id_type, True),
            StructField("cosine", DoubleType(), True),
        ]
    )

    def _round6_exact(v: float) -> float:
        """Spark F.round(x, 6) exactly: HALF_UP on the SHORTEST-REPR
        decimal of the double (scala BigDecimal(double) ≡ Double.toString
        ≡ python repr). The vectorized floor(abs·1e6+0.5) emulation
        diverges on half-boundary doubles (~5k/1M measured, r13 review:
        0.0005045 → Spark 0.000505, floor-form 0.000504), so those go
        through Decimal. Documented residual: pre-JDK-19 Double.toString
        (JDK-4511638, fixed by Ryu in 19) occasionally emits MORE digits
        than the shortest repr; parity then needs that longer decimal and
        python's repr to round the same way at 6 dp — they differ only
        when a value sits within ~1 double-ulp of a half boundary, which
        the planted battery and test corpora never produce. The parity
        test pins the running JDK."""
        from decimal import ROUND_HALF_UP, Decimal

        return float(
            Decimal(repr(float(v))).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
    empty = {
        "vec_a": pd.Series([], dtype="object"),
        "vec_b": pd.Series([], dtype="object"),
        "cosine": pd.Series([], dtype="float64"),
    }

    def _score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if two_sided:
            left = pdf[pdf["__side"] == 0]
            right = pdf[pdf["__side"] == 1]
        else:
            left = right = pdf
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(empty)
        vb = np.stack(
            [np.asarray(x, dtype=np.float64) for x in right["v"].to_numpy()]
        )
        ids_a = left["id"].to_numpy()
        ids_b = right["id"].to_numpy()
        na_all = left["n"].to_numpy()
        nb = right["n"].to_numpy()
        va_all = left["v"].to_numpy()
        out_a, out_b, out_s = [], [], []
        # chunk the A side: score block ≤ ~64 MB regardless of cell shape
        block = max(1, 8_000_000 // max(len(right), 1))
        for s0 in range(0, len(left), block):
            sl = slice(s0, s0 + block)
            va = np.stack(
                [np.asarray(x, dtype=np.float64) for x in va_all[sl]]
            )
            with np.errstate(divide="ignore", invalid="ignore"):
                s = (va @ vb.T) / np.outer(na_all[sl], nb)
            # pre-filter on the RAW scores with a half-ulp guard band
            # (rounding moves a value by ≤ 5e-7), so the exact-rounding
            # work below touches only near-threshold survivors
            pre = np.isfinite(s) & (s >= threshold - 1e-6)
            if not cross_pairs:
                pre &= ids_a[sl][:, None] < ids_b[None, :]
            ia, ib = np.nonzero(pre)
            vals = s[ia, ib]
            # HALF_UP at 6 dp: vectorized floor-form for the bulk, exact
            # shortest-repr Decimal (≡ Spark F.round) for the rare values
            # within 1e-7 of a .5 boundary where the two rules can split
            frac = np.abs(vals) * 1e6
            rounded = np.copysign(np.floor(frac + 0.5), vals) / 1e6
            danger = np.abs(frac + 0.5 - np.round(frac + 0.5)) < 1e-7
            if danger.any():
                rounded[danger] = np.fromiter(
                    (_round6_exact(v) for v in vals[danger]),
                    dtype=np.float64,
                )
            # BigDecimal has no signed zero: F.round(-2e-7, 6) is +0.0,
            # copysign's floor form gives -0.0 — normalize so the cosine
            # column is byte-identical, not just ==-identical (r13 review
            # pass 2; the mask catches both zeros since -0.0 == 0.0)
            rounded[rounded == 0.0] = 0.0
            keep = rounded >= threshold
            out_a.append(ids_a[sl][ia[keep]])
            out_b.append(ids_b[ib[keep]])
            out_s.append(rounded[keep])
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_s),
            }
        )

    return df.groupby(*keys).applyInPandas(_score, out_schema)


def neighbor_pairs_ivf(
    vectors: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = None,
    shard_target: int | None = 2000,
    two_level=None,
    assign_backend: str = "jvm",
    pair_backend: str = "jvm",
    cap_stats_sink: dict | None = None,
    cluster_col: str | None = None,
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
    ``assign_backend="arrow"`` swaps the JVM assignment expression for
    the Arrow-batched BLAS projection (``ivf.assign_frame_arrow`` —
    measured ~50-100× faster; HOFs never codegen). Same argmax/tie
    semantics, agreement pinned in tests; the scale-run posture, while
    hash-gated registry queries keep the JVM default.
    ``pair_backend="arrow"`` does the same for the PAIR stage: each grid
    cell scores as one numpy matmul via a side-tagged union + grouped
    ``applyInPandas`` (:func:`_pairs_arrow_grouped`) instead of one
    interpreted dot per candidate — same shuffle shape, same pair set
    (pinned), the arithmetic engine swapped. Scale runs take both
    backends together.

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
    from crossbar_data_process_spark.operators.ivf import assign_with_backend

    if assign_backend not in ("jvm", "arrow"):
        raise ValueError(
            f"assign_backend must be 'jvm' or 'arrow', got {assign_backend!r}"
        )
    if pair_backend not in ("jvm", "arrow"):
        raise ValueError(
            f"pair_backend must be 'jvm' or 'arrow', got {pair_backend!r}"
        )
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
    if cluster_col is not None:
        # PRE-ASSIGNED input (r16 optimization round): the caller already
        # holds this batch's cluster assignment — materialized, computed
        # through the same assign_with_backend dispatch (the dedup sink
        # assigns ONCE per batch and shares it with the flag and the
        # write). Re-assigning here would be a second full pass of the
        # most expensive per-row arithmetic in the pipeline. The caller
        # contract mirrors cap_stats' "assignment is deterministic": the
        # column must be the dispatch's own output for these centroids.
        assigned = vectors.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            norm(F.col(vec_col)).alias("n"),
            F.col(cluster_col).alias("cluster"),
        )
    else:
        base_cols = vectors.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            norm(F.col(vec_col)).alias("n"),
        )
        # ONE dispatch for all assignment consumers (r13 review): backend
        # ladder + the two_level centroid-identity guard live in
        # assign_with_backend so no call site can drop either. (Two-level
        # JVM rides the broadcast-join transport — plan size stays
        # O(ntop) however large nlist grows.)
        assigned = materialize(
            assign_with_backend(
                base_cols, "v", centroids,
                two_level=two_level, backend=assign_backend,
            )
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
    if pair_backend == "arrow":
        if shard_target is not None:
            tagged = a_raw.withColumn(
                "__side", F.lit(0)
            ).unionByName(b_raw.withColumn("__side", F.lit(1)))
            two_sided = True
        else:
            tagged = a_raw  # one copy per row; kernel reads it as both sides
            two_sided = False
        return _pairs_arrow_grouped(
            tagged, keys, threshold,
            vectors.schema[id_col].dataType, two_sided,
        )
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
    assign_backend: str = "jvm",
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
    from crossbar_data_process_spark.operators.ivf import assign_with_backend

    # the shared dispatch (r13 review) — this report previously skipped
    # the two_level centroid-identity guard on its JVM branch, i.e. the
    # `no silent caps` report could itself describe a partition the pair
    # stage never used; assign_with_backend makes that impossible
    assigned = assign_with_backend(
        vectors.select(F.col(vec_col).alias("__v")),
        "__v",
        centroids,
        two_level=two_level,
        backend=assign_backend,
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
    assign_backend: str = "jvm",
    pair_backend: str = "jvm",
    cap_stats_sink: dict | None = None,
    cluster_col: str | None = None,
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
        assign_backend=assign_backend,
        pair_backend=pair_backend,
        cap_stats_sink=cap_stats_sink,
        cluster_col=cluster_col,
    )
    return resolve_neardups(
        vectors.select(id_col), pairs, id_col, "vec_a", "vec_b"
    )
