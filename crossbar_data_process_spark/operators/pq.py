"""Product quantization (PQ) ANN — the storage-side scale path that
complements the candidate-side pruning in ``operators/ivf.py`` (engine
extension; charter: "an IVF or LSH-bucketed variant as the scale path").
The reference (HUBioDataLab/CROssBAR-Data-Process) has no vector search at
all — this is charter scope, same family as similarity.py/ivf.py.

What PQ buys at 100 TB: a dim-64 float32 vector is 256 bytes; its PQ code
at m=4 subspaces × 256 codes is 4 bytes. The ANN *candidate* problem is
solved by IVF partition pruning (scan ≈ nprobe/nlist of the corpus); the
remaining cost is the *bytes per scanned row*, and PQ cuts that 64×. ADC
(asymmetric distance computation, Jégou et al. 2011, "Product
Quantization for Nearest Neighbor Search") keeps the query side exact:
per query, a lookup table of distances from each query SUBVECTOR to every
code is built once (m·k fold evaluations), after which scoring a corpus
row is m array lookups + (m−1) adds — no per-pair O(dim) arithmetic.

Determinism contract (what makes the plan SQL-oracle-able, the q67
registry row): every per-code distance goes through ``_fround`` —
floor-based half-up rounding, exact in Spark and DuckDB alike — BEFORE
the argmin/sum, and ties take the FIRST code index in both engines
(``array_position``/``list_position`` are both first-occurrence). Codes
and ADC scores are therefore bit-identical across engines and re-runs.

Scale shape:
- ``pq_encode``: a pure projection over the corpus (no join, no shuffle);
  each subvector is bound in its own projection below the HOF so the
  O(dsub) slice is evaluated once per row, not once per code (the HOF
  no-CSE trap, round-7 measurement).
- ``pq_adc_topk``: queries (with their LUTs) broadcast; the corpus is
  scanned once; the only shuffle is the per-query top-k window.
- ``write_pq_corpus`` / ``ivf_pq_topk_assigned``: the IVF-PQ silver —
  cluster-partitioned like ``ivf.write_assigned_corpus`` but storing the
  m-byte codes INSTEAD of the raw vector, so a probe read moves
  ≈ nprobe/nlist × corpus_rows × m bytes. Probe reads prune partitions
  (cluster key) AND columns (codes only — the scan's ReadSchema never
  mentions an embedding column; pinned in tests/test_pq.py).
- ``pq_fit``: per-subspace Lloyd's in numpy over ONE bounded md5-ordered
  sample collect (the FAISS-style training contract; same bounded-driver
  rationale as ``ivf_fit(driver_fit_rows=...)``) — driver memory is
  sample×dim doubles, a hyperparameter, never data-sized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crossbar_data_process_spark.operators.topk import top_k_per_group


def _fround(x, scale: int):
    """floor(x·10^s + 0.5)/10^s — fixed round-half-up via floor, which is
    exact in every engine. Plain round() resolves x.xxxxxx5 half-cases
    differently across engines (Spark BigDecimal HALF_UP on the binary
    double vs DuckDB's decimal-string path) — measured: two sf0.1 docs
    whose mean-NLL quotient lands exactly on a 1e-6 boundary hashed
    differently until this form (the int8 quantizer uses the same trick)."""
    p = float(10 ** scale)
    return F.floor(x * p + F.lit(0.5)) / F.lit(p)


def pq_codebooks_fixed(
    dim: int, m: int = 4, k: int = 16, seed: int = 987654321
) -> list[list[list[float]]]:
    """Deterministic pseudo-random codebooks (the same LCG family as
    ``similarity._hyperplanes``, independent seed): m books × k codes ×
    (dim/m) components in [-1, 1]. The INJECTED-codebook production shape —
    codebooks are fit offline (``pq_fit``) and loaded at query time; a
    fixed literal set is what makes the encode/ADC machinery expressible
    as a static SQL oracle (q67), exactly as q39/q49 oracle the hyperplane
    series. Recall of *fitted* codebooks is measured in tests/test_pq.py."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    dsub = dim // m
    state = seed
    books = []
    for _ in range(m):
        book = []
        for _ in range(k):
            row = []
            for _ in range(dsub):
                state = (
                    state * 6364136223846793005 + 1442695040888963407
                ) % (1 << 63)
                row.append((state / float(1 << 63)) * 2.0 - 1.0)
            book.append(row)
        books.append(book)
    return books


def canon_books(codebooks) -> list[list[list[float]]]:
    """Codebooks normalized to nested lists of Python floats — the form
    the JSON stamp round-trips to. Identity comparisons against a stamp
    must go through this: books passed as tuples or numpy scalars are
    numerically identical but compare != under Python's structural
    equality, raising a spurious 'DIFFERENT codebooks' (r11 ADVICE).
    float(np.float64) and a JSON round-trip are both exact, so canon(x)
    == stamp iff the values match bit-for-bit."""
    return [[[float(x) for x in code] for code in book] for book in codebooks]


def canon_centers(centers) -> list[list[float]] | None:
    """The residual-center half of :func:`canon_books` (None passes
    through — a raw-PQ stamp carries null centers)."""
    if centers is None:
        return None
    return [[float(x) for x in c] for c in centers]


def _book_matrix(book: list[list[float]]) -> Column:
    """k × dsub literal matrix column (one subspace's codebook)."""
    return F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in book])


def _sqdist(a: Column, b: Column) -> Column:
    """Left-to-right fold squared Euclidean distance — the summation order
    matches the SQL oracle's list_reduce exactly (same contract as
    ``similarity.dot``)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _with_subvecs(
    df: DataFrame, vec_col: str, m: int, dsub: int
) -> DataFrame:
    """Bind the m subvector slices in their OWN projection: a slice inlined
    inside the per-code HOF lambda would be re-evaluated once per code
    (k× the O(dsub) copy — the HOF no-CSE trap).

    The slices are taken from a length-checked vector: books whose
    m·dsub disagrees with the corpus dim would otherwise silently encode
    only a prefix (m·dsub < dim) or emit NULL codes from out-of-range
    slices (m·dsub > dim) — recall collapses with no error anywhere
    (r11 review). The checked vector is BOUND in its own projection below
    the slices (the `__n` idiom in ivf._unit) so the size comparison runs
    once per row, not once per slice — CollapseProject keeps the binding
    because the non-cheap when/raise_error expression is referenced m
    times (r11 VERDICT nit)."""
    expected = m * dsub
    # coalesce in the message: a NULL vector otherwise raises with a NULL
    # message (concat null-propagates) — loud but undiagnosable (r11
    # review round 2). A NULL vector IS an error here: NULL codes would
    # flow into the silver and NULL adc sorts into every top-k.
    checked = F.when(
        F.size(F.col(vec_col)) == expected, F.col(vec_col)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"PQ codebooks expect dim={expected} (m={m} × "
                    f"dsub={dsub}) but '{vec_col}' has length "
                ),
                F.coalesce(
                    F.size(F.col(vec_col)).cast("string"),
                    F.lit("NULL (the vector itself is NULL)"),
                ),
            )
        )
    )
    bound = df.select("*", checked.alias("__checked_vec"))
    return bound.select(
        *df.columns,
        *[
            F.slice(F.col("__checked_vec"), j * dsub + 1, dsub).alias(
                f"__sv{j}"
            )
            for j in range(m)
        ],
    )


def _code_dists(j: int, book: list[list[float]]) -> Column:
    """Array of rounded distances from bound subvector ``__sv{j}`` to each
    of the k codes — ONE HOF over the literal book (a flat k-subtree form
    would bloat codegen for large k, same rationale as
    ``ivf._centroid_scores``)."""
    return F.transform(
        _book_matrix(book),
        lambda cb: _fround(_sqdist(F.col(f"__sv{j}"), cb), 6),
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "codes",
    keep_vec: bool = True,
) -> DataFrame:
    """Corpus-side PQ encode: per subspace, the 0-based index of the
    nearest code (rounded distance, ties → first index — deterministic in
    both engines). A pure projection: no join, no shuffle; at 100 TB this
    is one linear pass executed next to the scan.

    ``keep_vec=False`` drops the raw vector — the silver-layout shape
    (``write_pq_corpus``), where the m-byte code column IS the stored
    representation."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    pre = _with_subvecs(df, vec_col, m, dsub)

    def code(j: int) -> Column:
        d = _code_dists(j, codebooks[j])
        return (F.array_position(d, F.array_min(d)) - 1).cast("int")

    cols = [c for c in df.columns if keep_vec or c != vec_col]
    return pre.select(
        *cols, F.array(*[code(j) for j in range(m)]).alias(out_col)
    )


def pq_query_lut(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "lut",
) -> DataFrame:
    """Query-side ADC lookup table: the flattened m·k array of rounded
    distances from each query subvector to every code (subspace-major —
    ``lut[j*k + c]`` is subspace j, code c). Built once per query; the
    query set is workload-bounded, so the frame broadcasts."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    pre = _with_subvecs(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
        ),
        "__qv",
        m,
        dsub,
    )
    lut = F.flatten(
        F.array(*[_code_dists(j, codebooks[j]) for j in range(m)])
    )
    return pre.select("query_id", "__qv", lut.alias(out_col))


def pq_adc_expr(
    codes_col: Column, lut_col: Column, m: int, k: int
) -> Column:
    """ADC score: Σ_j lut[j·k + codes[j]] — m array lookups + (m−1)
    left-to-right adds per (query, row) pair, re-rounded at 1e-6 (the sum
    of 1e-6-grid terms is engine-identical, the re-round keeps the output
    on the grid). This is the hot-path expression the whole scheme exists
    for: no O(dim) arithmetic touches corpus rows at query time."""
    total = None
    for j in range(m):
        term = F.element_at(
            lut_col, (F.lit(j * k) + F.element_at(codes_col, j + 1) + 1).cast("int")
        )
        total = term if total is None else total + term
    return _fround(total, 6)


def pq_adc_topk(
    corpus_codes: DataFrame,
    query_luts: DataFrame,
    m: int,
    k_codes: int,
    k: int = 5,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    lut_col: str = "lut",
) -> DataFrame:
    """PQ-ADC top-k: broadcast the (query_id, lut) frame against the
    encoded corpus, score each pair with ``pq_adc_expr``, keep the k
    SMALLEST distances per query (ties → ascending neighbor id). The
    corpus is scanned once, partition-parallel; the only shuffle is the
    per-query top-k window on |Q| keys — the same shape as
    ``similarity.cosine_topk`` with the per-pair O(dim) fold replaced by
    m lookups."""
    c = corpus_codes.select(
        F.col(id_col).alias("neighbor_id"), F.col(codes_col).alias("__codes")
    )
    q = query_luts.select("query_id", F.col(lut_col).alias("__lut"))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "adc", pq_adc_expr(F.col("__codes"), F.col("__lut"), m, k_codes)
        )
        .select("query_id", "neighbor_id", "adc")
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.asc("adc"), F.asc("neighbor_id")],
        k,
        rank_col="rnk",
    )


def pq_fit(
    vectors: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 16,
    iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    driver_fit_rows: int = 2048,
) -> list[list[list[float]]]:
    """Data-adaptive codebooks: per-subspace Lloyd's in numpy over ONE
    bounded md5-ordered sample collect (driver memory driver_fit_rows×dim
    doubles — a hyperparameter, never data-sized; the same training
    contract as ``ivf_fit(driver_fit_rows=...)``). Raw vectors, not unit:
    ADC is Euclidean, magnitudes matter. Seeds are the first k sample
    rows' subvectors (md5 order — deterministic, no RNG state); argmin
    takes the first index on ties; an empty cluster keeps its previous
    centroid. Returns m × k × (dim/m) nested lists."""
    x = _collect_raw_sample(vectors, id_col, vec_col, max(driver_fit_rows, k))
    return _books_from_sample(x, dim, m, k, iters)


def _collect_raw_sample(
    vectors: DataFrame, id_col: str, vec_col: str, n: int
):
    import numpy as np

    rows = (
        vectors.select(
            F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
        )
        .orderBy(F.md5(F.col("__id").cast("string")))
        .limit(n)
        .select("__v")
        .collect()
    )
    return np.array([r["__v"] for r in rows], dtype=np.float64)


def _books_from_sample(
    x, dim: int, m: int, k: int, iters: int
) -> list[list[list[float]]]:
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    dsub = dim // m
    if len(x) < k:
        raise ValueError(
            f"pq_fit needs at least k={k} sample vectors, got {len(x)}"
        )
    books = []
    for j in range(m):
        xj = x[:, j * dsub : (j + 1) * dsub]
        cents = xj[:k].copy()
        for _ in range(iters):
            d2 = ((xj[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)  # first-min, as the encode tie rule
            for c in range(k):
                members = xj[assign == c]
                if len(members) == 0:
                    continue  # empty cluster keeps previous centroid
                cents[c] = members.mean(axis=0)
        books.append([[float(v) for v in c] for c in cents])
    return books


def pq_fit_residual(
    vectors: DataFrame,
    dim: int,
    centroids: list[list[float]],
    m: int = 4,
    k: int = 16,
    iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    driver_fit_rows: int = 2048,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Residual-PQ training (the FAISS IVFPQ form, adapted to a SPHERICAL
    coarse quantizer): returns ``(centers, books)`` from one bounded
    sample collect.

    The engine's IVF centroids (``ivf.ivf_fit``) are UNIT vectors — they
    define assignment by direction (cosine), so ``x − centroid`` barely
    shrinks anything (measured: recon error ratio 1.09, no recall gain).
    The residual that works is positional: assign each sample row by the
    SAME argmax-dot rule the silver uses, take each list's POSITIONAL
    MEAN as its center, and fit the books on ``x − center[assign(x)]``.
    ADC then reconstructs the true distance: ``‖q−x‖² = ‖(q −
    center_c) − r_x‖²`` with the query-side LUT built from ``q −
    center[probed list]``. An empty list keeps a zero center (residual =
    raw — harmless). ``centers`` must travel with the books — the silver
    stamp carries both."""
    import numpy as np

    x = _collect_raw_sample(vectors, id_col, vec_col, max(driver_fit_rows, k))
    c_unit = np.array(centroids, dtype=np.float64)
    assign = (x @ c_unit.T).argmax(axis=1)  # first-max, as ivf_assign
    centers = np.zeros_like(c_unit)
    for c in range(len(c_unit)):
        members = x[assign == c]
        if len(members):
            centers[c] = members.mean(axis=0)
    books = _books_from_sample(x - centers[assign], dim, m, k, iters)
    return (
        [[float(v) for v in c] for c in centers],
        books,
    )


def _residual_expr(
    vec: Column, cluster: Column, centers: list[list[float]]
) -> Column:
    """``x − center[cluster]`` as a pure expression (the FAISS IVFPQ
    residual: PQ cells then only need to span WITHIN-list spread instead
    of the whole space — higher accuracy at the same bitrate).
    ``centers`` are the POSITIONAL list means from :func:`pq_fit_residual`
    — NOT the unit assignment centroids (subtracting a unit direction
    from a far-from-origin vector shrinks nothing; see pq_fit_residual).
    The matrix is a literal; the lookup is one element_at."""
    from crossbar_data_process_spark.operators.ivf import _centroid_matrix

    c = F.element_at(_centroid_matrix(centers), (cluster + 1).cast("int"))
    return F.zip_with(
        vec, c, lambda x, y: x.cast("double") - y.cast("double")
    )


def pq_reconstruct(
    codes_col: Column, codebooks: list[list[list[float]]]
) -> Column:
    """Decode: concat of each subspace's selected code vector — the
    approximate vector ``array<double>`` (quantization error is the fit's
    within-cell variance; measured against raw cosine in tests)."""
    m = len(codebooks)
    parts = [
        F.element_at(
            _book_matrix(codebooks[j]),
            (F.element_at(codes_col, j + 1) + 1).cast("int"),
        )
        for j in range(m)
    ]
    return F.flatten(F.array(*parts))


def pq_meta_json(
    codebooks: list[list[list[float]]],
    residual_centers: list[list[float]] | None = None,
) -> str:
    """The ``_pq_codebooks.json`` stamp payload that :func:`write_pq_corpus`
    writes. The residual centers travel WITH the books: residual codes are
    only meaningful against both.
    Values are canonicalized (nested Python-float lists) so numpy/tuple
    inputs serialize and stamp-vs-caller comparisons are structural."""
    import json

    books = canon_books(codebooks)
    centers = canon_centers(residual_centers)
    return json.dumps(
        {
            "m": len(books),
            "k": len(books[0]),
            "dsub": len(books[0][0]),
            "residual": centers is not None,
            "residual_centers": centers,
            "codebooks": books,
        }
    )


def write_pq_corpus(
    vectors: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual_centers: list[list[float]] | None = None,
) -> None:
    """The IVF-PQ silver: assign every vector to its IVF list (pure
    projection — ``ivf.ivf_assign``), PQ-encode it, and write cluster-
    partitioned WITHOUT the raw vector — rows carry (id, codes[m]) only.
    Probe reads then prune partitions (cluster) and columns (codes), so
    the probe I/O is ≈ nprobe/nlist × m bytes/row instead of the float
    corpus. The quantizer identity (centroids + codebooks + residual
    centers) is stamped next to the data: a probe against the wrong
    codebooks — or raw codes probed as residual codes — is silently
    wrong, the failure mode ``ivf.check_centroid_meta`` guards for the
    centroids.

    ``residual_centers`` (from :func:`pq_fit_residual`) switches to
    residual encoding ``x − center[cluster]`` (the FAISS IVFPQ design):
    the books only need to span within-list spread, so the same bitrate
    buys materially lower quantization error on clustered corpora
    (measured in tests/test_pq.py). Assignment still uses ``centroids``
    (the spherical quantizer); only the subtraction uses the positional
    centers."""
    from crossbar_data_process_spark.operators.ivf import (
        _write_silver_stamp,
        ivf_assign,
    )
    from crossbar_data_process_spark.sources.writers import _hadoop_write_text

    assigned = vectors.withColumn(
        "cluster", ivf_assign(F.col(vec_col), centroids)
    )
    enc_col = vec_col
    if residual_centers is not None:
        # bind the residual in its own projection below the encode HOFs
        assigned = assigned.withColumn(
            "__rv",
            _residual_expr(
                F.col(vec_col), F.col("cluster"), residual_centers
            ),
        ).drop(vec_col)
        enc_col = "__rv"
    encoded = pq_encode(assigned, codebooks, vec_col=enc_col, keep_vec=False)
    # static per-write: under a session-level dynamic overwrite a rewrite
    # with different centroids/corpus would leave STALE cluster partitions
    # from the prior encode alive — and the freshly written codebook stamp
    # would certify them (r12 ADVICE; the writers.py:144 convention)
    encoded.write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy("cluster").parquet(path)
    # stamps go AFTER the overwrite (which wipes the dir)
    _write_silver_stamp(encoded, path, centroids)
    _hadoop_write_text(
        vectors.sparkSession,
        f"{path}/_pq_codebooks.json",
        pq_meta_json(codebooks, residual_centers=residual_centers),
    )


def load_pq_meta(spark, path: str) -> dict:
    """The full ``_pq_codebooks.json`` stamp (codebooks + residual flag +
    shape) a PQ silver was encoded under."""
    import json

    from crossbar_data_process_spark.sources.writers import _hadoop_read_text

    meta = json.loads(_hadoop_read_text(spark, f"{path}/_pq_codebooks.json"))
    meta.setdefault("residual", False)  # pre-r11 stamps predate the flag
    meta.setdefault("residual_centers", None)
    return meta


def load_pq_codebooks(spark, path: str) -> list[list[list[float]]]:
    """Read back the codebooks a PQ silver was encoded under — the only
    codebooks its codes are meaningful against."""
    return load_pq_meta(spark, path)["codebooks"]


def ivf_pq_topk_assigned(
    spark,
    path: str,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool | None = None,
) -> DataFrame:
    """IVF-PQ probe over a :func:`write_pq_corpus` silver: per query, build
    the ADC LUT once and explode the nprobe nearest lists; join on the
    PARTITION column (dynamic pruning restricts the scan to probed lists);
    score candidates with m lookups each. The scan reads (id, codes,
    cluster) only — ReadSchema never mentions the embedding column
    (pinned in tests/test_pq.py). This is the full 100 TB read path:
    partition-pruned AND byte-pruned.

    ``residual`` defaults to the SILVER'S OWN stamp (load_pq_meta) — the
    stamp also carries the positional centers the codes were taken
    against, so a probe can never silently score residual codes with
    raw-space LUTs or foreign centers; passing an explicit value that
    contradicts the stamp raises. In residual mode the LUT is per
    (query, probed list) — built from ``q − center[list]`` AFTER the
    probe explode (nprobe small LUTs per query; the corpus-side cost is
    unchanged: m lookups per candidate)."""
    from crossbar_data_process_spark.operators.ivf import (
        _probe_list,
        read_silver,
    )

    meta = load_pq_meta(spark, path)
    if meta.get("codebooks") != canon_books(codebooks):
        # the writer side already refuses mismatched books; the probe has
        # the stamp in hand for free and must too — LUTs built from
        # foreign/refit books score garbage with no error (r11 review)
        raise ValueError(
            f"PQ silver at {path} was encoded under DIFFERENT codebooks "
            "than the probe's — ADC against mixed codes is silently "
            "wrong; pass the silver's own books (pq.load_pq_codebooks)"
        )
    stamped = meta.get("residual", False)
    if residual is None:
        residual = stamped
    elif bool(residual) != bool(stamped):
        raise ValueError(
            f"PQ silver at {path} is stamped residual={stamped} but the "
            f"probe asked residual={residual} — ADC in the wrong space is "
            "silently wrong"
        )
    centers = meta.get("residual_centers")
    if residual and not centers:
        raise ValueError(
            f"PQ silver at {path} is stamped residual but carries no "
            "residual_centers — rebuild with write_pq_corpus(..., "
            "residual_centers=...)"
        )

    m, k_codes = len(codebooks), len(codebooks[0])
    dsub = len(codebooks[0][0])
    # read_silver checks the CENTROIDS against the stamp the same way
    corpus = read_silver(spark, path, centroids).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("codes").alias("__codes"),
        F.col("cluster").cast("int").alias("cluster"),
    )
    if residual:
        # per-(query, list) LUT: residual is list-dependent, so the LUT is
        # built AFTER the explode — but still bound in its own projections
        # (subvector slices below the per-code HOFs, the no-CSE rule);
        # query-side frame stays |Q|·nprobe rows, broadcast as before
        exploded = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            F.explode(
                _probe_list(F.col(vec_col), centroids, nprobe)
            ).alias("cluster"),
        ).withColumn(
            "__rv", _residual_expr(F.col("__qv"), F.col("cluster"), centers)
        )
        pre = _with_subvecs(exploded, "__rv", m, dsub)
        lut = F.flatten(
            F.array(*[_code_dists(j, codebooks[j]) for j in range(m)])
        )
        probes = pre.select("query_id", "cluster", lut.alias("lut"))
    else:
        # LUT and probe list are bound BELOW the explode (Generate hoists
        # non-generator expressions above itself and never merges
        # projections across it — the round-7 17x lesson), so each is
        # evaluated once per query, not once per probed list.
        luts = pq_query_lut(
            queries, codebooks, vec_col=vec_col, id_col=id_col
        )
        probes = luts.select(
            "query_id",
            "lut",
            F.explode(
                _probe_list(F.col("__qv"), centroids, nprobe)
            ).alias("cluster"),
        )
    scored = (
        corpus.join(F.broadcast(probes), "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "adc", pq_adc_expr(F.col("__codes"), F.col("lut"), m, k_codes)
        )
        .select("query_id", "neighbor_id", "adc")
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.asc("adc"), F.asc("neighbor_id")],
        k,
        rank_col="rnk",
    )
