"""Streaming embedding ingest into the IVF silver (streaming/ann_ingest):
streamed layout ≡ batch layout for the probe reader, replay idempotence,
and the distributed quantizer-drift gauge."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from crossbar_data_process_spark.operators.ivf import (
    ivf_fit,
    ivf_fit_diagnostics,
    ivf_topk_assigned,
    quantizer_regime,
    write_assigned_corpus,
)
from crossbar_data_process_spark.streaming.ann_ingest import (
    BATCH_COL,
    ivf_ingest_writer,
    read_assigned_silver,
)


@pytest.fixture(scope="module")
def clustered(spark):
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, 32)) * 4.0
    rows = []
    vid = 0
    for c in centers:
        for _ in range(100):
            v = c + rng.normal(size=32) * 0.6
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def centroids(clustered):
    return ivf_fit(clustered, dim=32, nlist=8, iters=2, driver_fit_rows=400)


def test_streamed_silver_equals_batch_silver_for_the_probe(
    spark, clustered, centroids, tmp_path
):
    """Two micro-batches through the sink must give ivf_topk_assigned the
    exact same answers as the one-shot write_assigned_corpus layout —
    the streamed silver IS the production silver, not a variant."""
    batch0 = clustered.filter(F.col("vec_id") % 2 == 0)
    batch1 = clustered.filter(F.col("vec_id") % 2 == 1)
    streamed = str(tmp_path / "streamed")
    oneshot = str(tmp_path / "oneshot")

    sink = ivf_ingest_writer(spark, centroids, streamed)
    sink(batch0, 0)
    sink(batch1, 1)
    write_assigned_corpus(clustered, centroids, oneshot)

    q = clustered.filter(F.col("vec_id") % 150 == 0)
    got = {
        (r.query_id, r.rnk): (r.neighbor_id, r.cosine)
        for r in ivf_topk_assigned(
            spark, streamed, q, centroids, k=5, nprobe=3
        ).collect()
    }
    want = {
        (r.query_id, r.rnk): (r.neighbor_id, r.cosine)
        for r in ivf_topk_assigned(
            spark, oneshot, q, centroids, k=5, nprobe=3
        ).collect()
    }
    assert got == want and len(got) > 0
    # and the reader round-trips the full corpus without the batch column
    silver = read_assigned_silver(spark, streamed)
    assert silver.count() == clustered.count()
    assert "__batch_id" not in silver.columns


def test_replay_overwrites_exactly_its_own_batch(spark, clustered, centroids, tmp_path):
    """at-least-once foreachBatch: re-running (batch_df, batch_id) must
    leave the silver with no duplicated vectors — dynamic overwrite of
    the (cluster, __batch_id) leaves replaces exactly the batch's data."""
    silver = str(tmp_path / "silver")
    batch0 = clustered.filter(F.col("vec_id") < 400)
    batch1 = clustered.filter(F.col("vec_id") >= 400)
    sink = ivf_ingest_writer(spark, centroids, silver)
    sink(batch0, 0)
    sink(batch1, 1)
    before = read_assigned_silver(spark, silver).orderBy("vec_id").collect()

    sink(batch0, 0)  # replay
    after = read_assigned_silver(spark, silver).orderBy("vec_id").collect()
    assert after == before
    assert len(after) == clustered.count()


@pytest.mark.slow
def test_drift_gauge_flags_an_isotropic_batch(spark, clustered, centroids, tmp_path):
    """The per-batch mean_top1 is the SAME statistic the driver-side fit
    diagnostics compute (baseline at fit time) but evaluated as a pure
    Column aggregation over the whole batch — when a drifted (isotropic)
    batch arrives, the gauge drops through the quantizer_regime floor."""
    silver = str(tmp_path / "silver")
    metrics = str(tmp_path / "metrics")
    sink = ivf_ingest_writer(spark, centroids, silver, metrics_dir=metrics)

    rng = np.random.default_rng(23)
    iso = spark.createDataFrame(
        [(10_000 + i, [float(x) for x in rng.normal(size=32)]) for i in range(600)],
        "vec_id long, embedding array<float>",
    )
    sink(clustered, 0)
    sink(iso, 1)

    m = {
        int(r["__batch_id"]): r
        for r in spark.read.parquet(metrics).collect()
    }
    assert m[0]["n_vectors"] == clustered.count()
    # batch 0 agrees with the driver-side diagnostic (sample covers the
    # whole fixture, so it is the same statistic over the same rows)
    diag = ivf_fit_diagnostics(clustered, centroids, sample_rows=10_000)
    assert m[0]["mean_top1"] == pytest.approx(diag["mean_top1"], rel=1e-6)
    # regimes: fit-time corpus healthy, drifted batch flagged
    assert quantizer_regime({"mean_top1": m[0]["mean_top1"]}, 8, 32) == "clustered"
    assert quantizer_regime({"mean_top1": m[1]["mean_top1"]}, 8, 32) == "isotropic"


def test_quantized_streamed_silver_probes(spark, clustered, centroids, tmp_path):
    silver = str(tmp_path / "qsilver")
    sink = ivf_ingest_writer(spark, centroids, silver, quantize=True)
    sink(clustered, 0)
    q = clustered.filter(F.col("vec_id") % 150 == 0)
    out = ivf_topk_assigned(
        spark, silver, q, centroids, k=5, nprobe=3, quantized=True
    )
    assert out.count() == q.count() * 5


def test_centroid_identity_guard(spark, clustered, centroids, tmp_path):
    """r9 ADVICE: the centroid matrix is part of the silver's identity.
    Creating writer stamps _centroid_meta.json; a restarted writer with
    the SAME centroids passes; a writer with DIFFERENT centroids (e.g. a
    refit) fails fast at factory time; a pre-fingerprint silver warns and
    stays unstamped."""
    import os
    import warnings

    from crossbar_data_process_spark.streaming.ann_ingest import (
        centroid_fingerprint,
    )

    silver = str(tmp_path / "silver")
    sink = ivf_ingest_writer(spark, centroids, silver)
    assert os.path.exists(f"{silver}/_centroid_meta.json")
    sink(clustered.filter(F.col("vec_id") < 100), 0)

    # same centroids: restart verifies and works
    sink2 = ivf_ingest_writer(spark, centroids, silver)
    sink2(clustered.filter((F.col("vec_id") >= 100)
                           & (F.col("vec_id") < 200)), 1)
    assert read_assigned_silver(spark, silver).count() == 200

    # refit (different matrix): refuse at factory time, not mid-stream
    refit = [[float(x) + 0.25 for x in row] for row in centroids]
    assert centroid_fingerprint(refit) != centroid_fingerprint(centroids)
    with pytest.raises(ValueError, match="different\\s+quantizer"):
        ivf_ingest_writer(spark, refit, silver)

    # pre-fingerprint silver: warn, leave unstamped
    os.remove(f"{silver}/_centroid_meta.json")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        ivf_ingest_writer(spark, refit, silver)
    assert any("cannot be verified" in str(w.message) for w in caught)
    assert not os.path.exists(f"{silver}/_centroid_meta.json")


def test_batch_built_silver_is_stamped_too(spark, clustered, centroids, tmp_path):
    """write_assigned_corpus stamps the same sidecar, so identity checks
    work on batch-built silvers as well."""
    from crossbar_data_process_spark.streaming.ann_ingest import (
        check_centroid_meta,
    )

    oneshot = str(tmp_path / "oneshot")
    write_assigned_corpus(clustered, centroids, oneshot)
    assert check_centroid_meta(spark, oneshot, centroids) is True
    refit = [[float(x) + 0.25 for x in row] for row in centroids]
    with pytest.raises(ValueError, match="different\\s+quantizer"):
        check_centroid_meta(spark, oneshot, refit)


def _silver_tree(silver):
    """{cluster: sorted batch ids}, plus total parquet file count."""
    import os

    tree, files = {}, 0
    for cname in sorted(os.listdir(silver)):
        if not cname.startswith("cluster="):
            continue
        c = int(cname.split("=")[1])
        for bname in sorted(os.listdir(os.path.join(silver, cname))):
            if not bname.startswith("__batch_id="):
                continue
            tree.setdefault(c, []).append(int(bname.split("=")[1]))
            files += sum(
                f.endswith(".parquet")
                for f in os.listdir(os.path.join(silver, cname, bname))
            )
    return tree, files


def test_ivf_silver_compaction_preserves_probe_and_cuts_files(
    spark, clustered, centroids, tmp_path
):
    """compact_ivf_silver: one consolidated leaf per cluster, probe
    answers identical, file count collapses from (clusters x batches) to
    (clusters), later batches keep appending, and a replayed committed
    batch can no longer resurrect (its leaves are gone — dynamic
    overwrite writes it fresh, which the precondition forbids but the
    layout tolerates)."""
    from crossbar_data_process_spark.streaming.ann_ingest import (
        compact_ivf_silver,
    )

    silver = str(tmp_path / "silver")
    sink = ivf_ingest_writer(spark, centroids, silver)
    for i in range(4):
        sink(clustered.filter(F.col("vec_id") % 4 == i), i)

    q = clustered.filter(F.col("vec_id") % 150 == 0)
    def probe():
        return {
            (r.query_id, r.rnk): (r.neighbor_id, round(r.cosine, 6))
            for r in ivf_topk_assigned(
                spark, silver, q, centroids, k=5, nprobe=8
            ).collect()
        }

    before_tree, before_files = _silver_tree(silver)
    assert all(len(bs) == 4 for bs in before_tree.values())
    want = probe()

    report = compact_ivf_silver(spark, silver, before_batch=3)
    assert report["compacted_batches"] == 3
    assert report["new_batch_id"] == -1
    assert report["rows"] == 600

    tree, files = _silver_tree(silver)
    assert all(bs == [-1, 3] for bs in tree.values())
    # 8 clusters x 4 batches -> 8 x (1 consolidated + batch 3)
    assert files < before_files
    assert probe() == want

    # later batches keep appending under the probed layout
    extra = clustered.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    sink(extra, 4)
    assert read_assigned_silver(spark, silver).count() == 808


def test_ivf_compaction_noop_returns_none(spark, tmp_path):
    from crossbar_data_process_spark.streaming.ann_ingest import (
        compact_ivf_silver,
    )

    r = compact_ivf_silver(spark, str(tmp_path / "nope"), 10)
    assert r["new_batch_id"] is None and r["compacted_batches"] == 0


def test_ivf_compaction_crash_windows_are_exactly_once(
    spark, clustered, centroids, tmp_path
):
    """The nested layout's extra window: SOME clusters renamed, others
    not. read_assigned_silver must stay exactly-once (exclude superseded
    sources only where the consolidated leaf is live), and recovery must
    converge the tree."""
    import json
    import os
    import shutil

    from crossbar_data_process_spark.sources.writers import _hadoop_write_text
    from crossbar_data_process_spark.streaming.ann_ingest import (
        recover_ivf_compaction,
    )

    silver = str(tmp_path / "silver")
    sink = ivf_ingest_writer(spark, centroids, silver)
    for i in range(3):
        sink(clustered.filter(F.col("vec_id") % 3 == i), i)
    want = {r.vec_id for r in read_assigned_silver(spark, silver).collect()}
    assert len(want) == 800

    # stage the consolidation of batches {0,1} by hand (crash before any
    # rename): stage dir cluster-partitioned, manifest committed
    staging = f"{silver}/.compaction_staging_-1"
    (
        spark.read.parquet(silver)
        .filter(F.col("__batch_id") < 2)
        .drop("__batch_id")
        .write.partitionBy("cluster")
        .parquet(staging)
    )
    clusters = sorted(
        int(p.split("=")[1])
        for p in os.listdir(silver)
        if p.startswith("cluster=")
    )
    _hadoop_write_text(
        spark,
        f"{silver}/_compaction_manifest.json",
        json.dumps(
            {"new_batch_id": -1, "staging": ".compaction_staging_-1",
             "sources": [0, 1], "clusters": clusters}
        ),
    )
    # window A: committed, nothing renamed -> sources still authoritative
    got = {r.vec_id for r in read_assigned_silver(spark, silver).collect()}
    assert got == want

    # window B: PARTIAL rename — first two clusters' leaves made live,
    # their sources still on disk (duplicates present in those clusters)
    for c in clusters[:2]:
        shutil.move(
            f"{staging}/cluster={c}",
            f"{silver}/cluster={c}/__batch_id=-1",
        )
    plain = spark.read.parquet(silver).count()
    assert plain > len(want)  # duplicates really are on disk
    got = {r.vec_id for r in read_assigned_silver(spark, silver).collect()}
    assert got == want
    assert read_assigned_silver(spark, silver).count() == len(want)
    # and the PRODUCTION probe is exactly-once through the window too —
    # ivf_topk_assigned routes through the manifest-aware reader (r10
    # review: a raw read would rank a half-compacted cluster's vectors
    # twice, the same neighbor at two top-k ranks)
    q = clustered.filter(F.col("vec_id") % 150 == 0)
    probed = ivf_topk_assigned(
        spark, silver, q, centroids, k=5, nprobe=8
    ).collect()
    per_query = {}
    for r in probed:
        per_query.setdefault(r.query_id, []).append(r.neighbor_id)
    for qid, ns in per_query.items():
        assert len(ns) == len(set(ns)), (qid, ns)

    # recovery converges: remaining renames + deletes + manifest drop
    m = recover_ivf_compaction(spark, silver)
    assert m["new_batch_id"] == -1
    tree, _ = _silver_tree(silver)
    assert all(bs == [-1, 2] for bs in tree.values())
    assert not os.path.exists(f"{silver}/_compaction_manifest.json")
    assert not os.path.exists(staging)
    got = {r.vec_id for r in read_assigned_silver(spark, silver).collect()}
    assert got == want


@pytest.mark.slow
def test_ivf_compaction_files_per_cluster_fans_out(
    spark, clustered, centroids, tmp_path
):
    """files_per_cluster > 1: hot clusters consolidate into several files
    (bounded parquet file size at scale) under the same leaf layout, with
    probe answers unchanged."""
    from crossbar_data_process_spark.streaming.ann_ingest import (
        compact_ivf_silver,
    )

    silver = str(tmp_path / "silver")
    sink = ivf_ingest_writer(spark, centroids, silver)
    for i in range(3):
        sink(clustered.filter(F.col("vec_id") % 3 == i), i)
    want = {r.vec_id for r in read_assigned_silver(spark, silver).collect()}

    rep = compact_ivf_silver(
        spark, silver, before_batch=3, files_per_cluster=4
    )
    assert rep["compacted_batches"] == 3

    import os

    fanned = 0
    for cname in os.listdir(silver):
        if not cname.startswith("cluster="):
            continue
        leaf = os.path.join(silver, cname, f"__batch_id={rep['new_batch_id']}")
        n = sum(f.endswith(".parquet") for f in os.listdir(leaf))
        assert 1 <= n <= 4
        fanned += n > 1
    assert fanned > 0, "no cluster fanned out beyond one file"
    got = {r.vec_id for r in read_assigned_silver(spark, silver).collect()}
    assert got == want


def test_flag_semantic_dups_witnesses(spark, clustered, centroids, tmp_path):
    """Vector twin of flag_against_index: exact copy and tiny-noise
    near-dup of landed vectors are flagged with the LOWEST-id silver
    witness; novel vectors are not; excluding a batch id removes its
    rows from the corpus view (replay safety)."""
    from crossbar_data_process_spark.streaming.ann_ingest import (
        flag_semantic_dups,
    )

    silver = str(tmp_path / "silver")
    sink = ivf_ingest_writer(spark, centroids, silver)
    sink(clustered, 0)

    base = {r.vec_id: r.embedding for r in clustered.limit(3).collect()}
    (id0, v0), (id1, v1) = list(base.items())[:2]
    batch = spark.createDataFrame(
        [
            (9000, [float(x) for x in v0]),                     # exact copy
            (9001, [float(x) + 0.001 for x in v1]),             # near-dup
            (9002, [float((i * 37) % 11 - 5) for i in range(32)]),  # novel
        ],
        "vec_id long, embedding array<float>",
    )
    flags = {
        r.vec_id: (r.matched_vec, r.cosine)
        for r in flag_semantic_dups(
            spark, silver, batch, centroids, threshold=0.999
        ).collect()
    }
    assert set(flags) == {9000, 9001}
    assert flags[9000][0] == id0 and flags[9000][1] >= 0.999999
    assert flags[9001][0] == id1
    # excluding batch 0 empties the corpus view -> nothing to flag against
    none = flag_semantic_dups(
        spark, silver, batch, centroids, threshold=0.999, exclude_batch_id=0
    )
    assert none.count() == 0


def test_flag_semantic_dups_refuses_wrong_centroids(
    spark, clustered, centroids, tmp_path
):
    from crossbar_data_process_spark.streaming.ann_ingest import (
        flag_semantic_dups,
    )

    silver = str(tmp_path / "silver")
    ivf_ingest_writer(spark, centroids, silver)(clustered, 0)
    refit = [[float(x) + 0.25 for x in row] for row in centroids]
    with pytest.raises(ValueError, match="different\\s+quantizer"):
        flag_semantic_dups(spark, silver, clustered.limit(1), refit)


def test_dedup_ingest_writer_end_to_end(spark, clustered, centroids, tmp_path):
    """dedup_threshold: within-batch dups collapse to min-id survivors,
    cross-batch re-ingests are dropped against the landed silver, novel
    vectors land, and a replayed batch leaves the silver byte-identical
    (exactly-once under at-least-once delivery)."""
    silver = str(tmp_path / "silver")
    sink = ivf_ingest_writer(
        spark, centroids, silver, dedup_threshold=0.999
    )

    seed = clustered.filter(F.col("vec_id") < 700)
    sink(seed, 0)
    assert read_assigned_silver(spark, silver).count() == 700

    v = {r.vec_id: r.embedding for r in seed.limit(2).collect()}
    (sid0, sv0), (_sid1, sv1) = list(v.items())[:2]
    novel = clustered.filter(F.col("vec_id") >= 700).select(
        (F.col("vec_id") + 9000).alias("vec_id"), "embedding"
    )
    extras = spark.createDataFrame(
        [
            (20_000, [float(x) for x in sv0]),          # re-ingest of seed
            (20_001, [float(x) + 0.001 for x in sv1]),  # near-dup of seed
            (20_002, [float(x) for x in sv0]),          # within-batch dup
        ],
        "vec_id long, embedding array<float>",
    )
    batch1 = novel.unionByName(extras)
    sink(batch1, 1)

    got = {r.vec_id for r in read_assigned_silver(spark, silver).collect()}
    assert {r.vec_id for r in novel.collect()} <= got
    assert got.isdisjoint({20_000, 20_001, 20_002})
    before = sorted(
        (r.vec_id, r.cluster)
        for r in read_assigned_silver(spark, silver).collect()
    )

    sink(batch1, 1)  # at-least-once replay
    after = sorted(
        (r.vec_id, r.cluster)
        for r in read_assigned_silver(spark, silver).collect()
    )
    assert after == before


def test_dedup_ingest_quantized_silver(spark, clustered, centroids, tmp_path):
    """dedup_threshold composes with quantize=True: the flag scores the
    float batch against the int8 codes (scale-invariant cosine), so an
    exact re-ingest is still caught against a quantized silver."""
    silver = str(tmp_path / "qsilver")
    sink = ivf_ingest_writer(
        spark, centroids, silver, quantize=True, dedup_threshold=0.999
    )
    seed = clustered.filter(F.col("vec_id") < 700)
    sink(seed, 0)

    sv0 = seed.limit(1).collect()[0].embedding
    batch = spark.createDataFrame(
        [
            (20_000, [float(x) for x in sv0]),  # re-ingest
            (20_001, [float((i * 37) % 11 - 5) for i in range(32)]),  # novel
        ],
        "vec_id long, embedding array<float>",
    )
    sink(batch, 1)
    got = {r.vec_id for r in spark.read.parquet(silver).collect()}
    assert 20_001 in got and 20_000 not in got


def test_dedup_ingest_per_batch_work_constant_as_silver_grows(
    spark, clustered, centroids, tmp_path
):
    """The incremental-semantic-dedup claim, pinned on EXECUTED work (the
    text ingest's r8 pin, vector edition): identically-shaped batches
    against a growing silver may not execute more jobs, at most AQE-level
    stage jitter. (Scope, per the operator's honest cost statement: the
    pin is about JOB/STAGE structure — the flag's join VOLUME is
    Σ_c silver_c·batch_c and stays cheap only while cluster populations
    are bounded; cluster_size_stats is the gauge for that.)"""
    silver = str(tmp_path / "silver")
    sink = ivf_ingest_writer(
        spark, centroids, silver, dedup_threshold=0.999
    )
    sink(clustered, 0)  # seed: 800 vectors

    rng_base = 50_000

    def batch(b):
        # same shape every time: 40 fresh vectors (ids disjoint per batch)
        return clustered.filter(F.col("vec_id") < 40).select(
            (F.col("vec_id") + rng_base + 1000 * b).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x: (x + F.lit(float(b)) * 0.5).cast("float"),
            ).alias("embedding"),
        )

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run_counted(b):
        group = f"annpin-{b}"
        sc.setJobGroup(group, f"batch {b}")
        try:
            sink(batch(b), b)
        finally:
            sc.setJobGroup(None, None)
        job_ids = tracker.getJobIdsForGroup(group)
        stages = sum(
            len(tracker.getJobInfo(j).stageIds)
            for j in job_ids
            if tracker.getJobInfo(j)
        )
        return len(job_ids), stages

    counts = [run_counted(b) for b in range(1, 5)]
    (j1, s1), (j2, s2), (j3, s3) = counts[1], counts[2], counts[3]
    assert j2 <= j1 and j3 <= j1, counts
    assert s2 <= s1 + 2 and s3 <= s1 + 2, counts


def test_cluster_size_stats_gauge(spark, clustered, centroids, tmp_path):
    """The skew gauge matches a manual per-cluster count and reads ~1
    imbalance on the balanced fixture."""
    from crossbar_data_process_spark.streaming.ann_ingest import (
        cluster_size_stats,
    )

    silver = str(tmp_path / "silver")
    ivf_ingest_writer(spark, centroids, silver)(clustered, 0)
    stats = cluster_size_stats(spark, silver)
    manual = {
        r.cluster: r["count"]
        for r in read_assigned_silver(spark, silver)
        .groupBy("cluster")
        .count()
        .collect()
    }
    assert stats["clusters"] == len(manual)
    assert stats["rows"] == sum(manual.values()) == clustered.count()
    assert stats["max"] == max(manual.values())
    assert 1.0 <= stats["imbalance"] <= 3.0  # balanced 8x100 fixture


def test_cluster_size_stats_empty_silver_returns_zeroes(
    spark, centroids, tmp_path
):
    """A silver that EXISTS but has no landed batches (factory stamped
    the centroid sidecar; no data arrived) must yield zeroed stats, not
    Spark's unable-to-infer-schema error — the gauge is positioned as
    safe to run at any point in the lifecycle (r10 ADVICE). A missing
    directory behaves the same."""
    from crossbar_data_process_spark.streaming.ann_ingest import (
        cluster_size_stats,
    )

    silver = str(tmp_path / "silver")
    ivf_ingest_writer(spark, centroids, silver)  # stamps meta, no batch
    stats = cluster_size_stats(spark, silver)
    assert stats == {
        "clusters": 0,
        "rows": 0,
        "mean": 0.0,
        "p99": 0,
        "max": 0,
        "imbalance": 0.0,
    }
    assert cluster_size_stats(spark, str(tmp_path / "nope"))["rows"] == 0
    # the raw reader states the emptiness loudly instead of an opaque
    # schema-inference error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no landed data"):
        read_assigned_silver(spark, silver)


def test_reader_decisions_come_from_one_snapshot(
    spark, clustered, centroids, tmp_path, monkeypatch
):
    """The r10 ADVICE race, pinned: a reader whose leaf LISTING predates
    a live compaction's renames must keep the source leaves it listed
    (still on disk until the delete phase) — deriving the exclusion from
    fresh ``fs.exists`` probes against the post-rename tree would
    silently drop every compacted cluster's rows. Simulated by freezing
    the snapshot pre-rename, then completing all renames on disk."""
    import json
    import os
    import shutil

    from crossbar_data_process_spark.sources.writers import _hadoop_write_text
    from crossbar_data_process_spark.streaming import ann_ingest

    silver = str(tmp_path / "silver")
    sink = ivf_ingest_writer(spark, centroids, silver)
    for i in range(3):
        sink(clustered.filter(F.col("vec_id") % 3 == i), i)
    want = {r.vec_id for r in read_assigned_silver(spark, silver).collect()}
    assert len(want) == 800

    stale = ann_ingest._list_silver_leaves(spark, silver)  # pre-rename

    # complete a compaction of batches {0,1} on disk up to (not incl.)
    # the delete phase: staging write, manifest commit, EVERY rename
    staging = f"{silver}/.compaction_staging_-1"
    (
        spark.read.parquet(silver)
        .filter(F.col("__batch_id") < 2)
        .drop("__batch_id")
        .write.partitionBy("cluster")
        .parquet(staging)
    )
    clusters = sorted(
        int(p.split("=")[1])
        for p in os.listdir(silver)
        if p.startswith("cluster=")
    )
    _hadoop_write_text(
        spark,
        f"{silver}/_compaction_manifest.json",
        json.dumps(
            {"new_batch_id": -1, "staging": ".compaction_staging_-1",
             "sources": [0, 1], "clusters": clusters}
        ),
    )
    for c in clusters:
        shutil.move(
            f"{staging}/cluster={c}",
            f"{silver}/cluster={c}/__batch_id=-1",
        )

    # reader pinned to the pre-rename snapshot: sources are the only
    # copy IN THAT SNAPSHOT and must all be read — no silent drop
    monkeypatch.setattr(ann_ingest, "_list_silver_leaves", lambda *_: stale)
    got = {
        r.vec_id
        for r in ann_ingest.read_assigned_silver(spark, silver).collect()
    }
    assert got == want
    monkeypatch.undo()

    # and a FRESH snapshot through the fully-renamed window stays
    # exactly-once (consolidated leaves in, superseded sources out)
    got = {r.vec_id for r in read_assigned_silver(spark, silver).collect()}
    assert got == want


def test_pq_streamed_silver_equals_batch_pq_silver(
    spark, clustered, centroids, tmp_path
):
    """pq_codebooks: two micro-batches through the sink must give
    ivf_pq_topk_assigned the exact same answers as the one-shot
    write_pq_corpus layout (codes are deterministic, so the streamed PQ
    silver IS the batch PQ silver), rows carry codes only (no vector
    column), and replay stays exactly-once under dynamic overwrite."""
    from crossbar_data_process_spark.operators.pq import (
        ivf_pq_topk_assigned,
        load_pq_codebooks,
        pq_fit,
        write_pq_corpus,
    )

    books = pq_fit(clustered, dim=32, m=4, k=16, iters=4)
    batch0 = clustered.filter(F.col("vec_id") % 2 == 0)
    batch1 = clustered.filter(F.col("vec_id") % 2 == 1)
    streamed = str(tmp_path / "pq_streamed")
    oneshot = str(tmp_path / "pq_oneshot")

    sink = ivf_ingest_writer(spark, centroids, streamed, pq_codebooks=books)
    sink(batch0, 0)
    sink(batch1, 1)
    sink(batch1, 1)  # at-least-once replay
    write_pq_corpus(clustered, centroids, books, oneshot)

    silver = read_assigned_silver(spark, streamed)
    assert silver.count() == clustered.count()  # replay did not duplicate
    assert "embedding" not in silver.columns and "codes" in silver.columns
    assert load_pq_codebooks(spark, streamed) == books

    q = clustered.filter(F.col("vec_id") % 100 == 0)
    got = {
        (r.query_id, r.rnk, r.neighbor_id, r.adc)
        for r in ivf_pq_topk_assigned(
            spark, streamed, q, centroids, books, k=5, nprobe=3
        ).collect()
    }
    want = {
        (r.query_id, r.rnk, r.neighbor_id, r.adc)
        for r in ivf_pq_topk_assigned(
            spark, oneshot, q, centroids, books, k=5, nprobe=3
        ).collect()
    }
    assert got == want and len(got) > 0


def test_pq_ingest_option_guards(spark, clustered, centroids, tmp_path):
    """pq_codebooks is mutually exclusive with quantize and with
    dedup_threshold (the dedup flag needs stored vectors), and a factory
    pointed at a silver stamped with DIFFERENT books fails fast."""
    from crossbar_data_process_spark.operators.pq import (
        pq_codebooks_fixed,
        pq_fit,
    )

    books = pq_fit(clustered, dim=32, m=4, k=16, iters=2)
    with pytest.raises(ValueError, match="mutually exclusive"):
        ivf_ingest_writer(
            spark, centroids, str(tmp_path / "x"),
            quantize=True, pq_codebooks=books,
        )
    with pytest.raises(ValueError, match="dedup_threshold"):
        ivf_ingest_writer(
            spark, centroids, str(tmp_path / "x"),
            dedup_threshold=0.9, pq_codebooks=books,
        )
    silver = str(tmp_path / "pq_guard")
    sink = ivf_ingest_writer(spark, centroids, silver, pq_codebooks=books)
    sink(clustered.limit(20), 0)
    # same books => fine
    ivf_ingest_writer(spark, centroids, silver, pq_codebooks=books)
    other = pq_codebooks_fixed(32, m=4, k=16)
    with pytest.raises(ValueError, match="DIFFERENT codebooks"):
        ivf_ingest_writer(spark, centroids, silver, pq_codebooks=other)


def test_pq_silver_compaction_preserves_probe(
    spark, clustered, centroids, tmp_path
):
    """compact_ivf_silver over a STREAMED PQ silver (codes-only rows):
    the compactor is schema-agnostic, so the consolidated layout must
    give ivf_pq_topk_assigned bit-identical answers, keep the codebook
    stamp readable, and cut files."""
    from crossbar_data_process_spark.operators.pq import (
        ivf_pq_topk_assigned,
        load_pq_codebooks,
        pq_fit,
    )
    from crossbar_data_process_spark.streaming.ann_ingest import (
        compact_ivf_silver,
    )

    books = pq_fit(clustered, dim=32, m=4, k=16, iters=4)
    silver = str(tmp_path / "pq_compact")
    sink = ivf_ingest_writer(spark, centroids, silver, pq_codebooks=books)
    for i in range(4):
        sink(clustered.filter(F.col("vec_id") % 4 == i), i)

    q = clustered.filter(F.col("vec_id") % 100 == 0)

    def probe():
        return {
            (r.query_id, r.rnk, r.neighbor_id, r.adc)
            for r in ivf_pq_topk_assigned(
                spark, silver, q, centroids, books, k=5, nprobe=8
            ).collect()
        }

    want = probe()
    _, before_files = _silver_tree(silver)
    report = compact_ivf_silver(spark, silver, before_batch=3)
    assert report["compacted_batches"] == 3
    _, after_files = _silver_tree(silver)
    assert after_files < before_files
    assert probe() == want
    assert load_pq_codebooks(spark, silver) == books


def test_ingest_refuses_flat_oneshot_silver_and_vector_rows_into_pq(
    spark, clustered, centroids, tmp_path
):
    """Two r11-review layout guards: (1) a streaming writer pointed at a
    one-shot write_assigned_corpus silver fails at factory time (batch
    leaves nested under flat cluster dirs would orphan the flat rows);
    (2) a writer WITHOUT pq_codebooks pointed at a PQ-stamped silver
    fails too (raw-vector rows would corrupt the codes-only layout and
    NULL adc sorts into the top-k)."""
    from crossbar_data_process_spark.operators.pq import pq_fit

    oneshot = str(tmp_path / "oneshot_guard")
    write_assigned_corpus(clustered, centroids, oneshot)
    with pytest.raises(ValueError, match="one-shot"):
        ivf_ingest_writer(spark, centroids, oneshot)

    books = pq_fit(clustered, dim=32, m=4, k=16, iters=2)
    pq_silver = str(tmp_path / "pq_guard2")
    sink = ivf_ingest_writer(spark, centroids, pq_silver, pq_codebooks=books)
    sink(clustered.limit(10), 0)
    with pytest.raises(ValueError, match="PQ-encoded layout"):
        ivf_ingest_writer(spark, centroids, pq_silver)
    with pytest.raises(ValueError, match="PQ-encoded layout"):
        ivf_ingest_writer(spark, centroids, pq_silver, quantize=True)


def test_ingest_refuses_mixed_storage_formats(
    spark, clustered, centroids, tmp_path
):
    """The stamp-less int8 case: a raw-vector writer pointed at a
    quantized silver (or the reverse) fails at factory time — mixed
    storage schemas would merge and probes would read NULLs silently."""
    silver = str(tmp_path / "i8_guard")
    sink = ivf_ingest_writer(spark, centroids, silver, quantize=True)
    sink(clustered.limit(10), 0)
    with pytest.raises(ValueError, match="mixed storage"):
        ivf_ingest_writer(spark, centroids, silver)
    raw = str(tmp_path / "raw_guard")
    sink2 = ivf_ingest_writer(spark, centroids, raw)
    sink2(clustered.limit(10), 0)
    with pytest.raises(ValueError, match="mixed storage"):
        ivf_ingest_writer(spark, centroids, raw, quantize=True)


def test_pq_factory_stamps_existing_but_empty_silver(
    spark, clustered, centroids, tmp_path
):
    """r11 review round 3: a raw factory that stamped centroid meta but
    never ran a batch must not block a later PQ factory from stamping —
    the listing snapshot proves zero data rows, so stamping is safe, and
    without it every landed PQ batch would be permanently unprobeable."""
    from crossbar_data_process_spark.operators.pq import (
        ivf_pq_topk_assigned,
        load_pq_codebooks,
        pq_fit,
    )

    silver = str(tmp_path / "empty_then_pq")
    ivf_ingest_writer(spark, centroids, silver)  # stamps meta, no batch
    books = pq_fit(clustered, dim=32, m=4, k=16, iters=2)
    sink = ivf_ingest_writer(spark, centroids, silver, pq_codebooks=books)
    sink(clustered.limit(50), 0)
    assert load_pq_codebooks(spark, silver) == books
    q = clustered.filter(F.col("vec_id") < 2)
    assert ivf_pq_topk_assigned(
        spark, silver, q, centroids, books, k=3, nprobe=8
    ).count() > 0


def test_centroid_stamp_lands_on_existing_empty_dir(
    spark, centroids, tmp_path
):
    """r11 review round 4: a pre-created (or stamped-nothing) EMPTY dir
    must still receive the centroid stamp — otherwise a later factory
    with refit centroids slips past check_centroid_meta with only a
    warning."""
    import os

    from crossbar_data_process_spark.streaming.ann_ingest import (
        check_centroid_meta,
    )

    silver = str(tmp_path / "precreated")
    os.makedirs(silver)
    ivf_ingest_writer(spark, centroids, silver)
    assert check_centroid_meta(spark, silver, centroids) is True
    refit = [[float(x) + 0.25 for x in row] for row in centroids]
    with pytest.raises(ValueError, match="different\\s+quantizer"):
        ivf_ingest_writer(spark, refit, silver)


def test_sink_rejects_null_and_wrong_dim_vectors(
    spark, clustered, centroids, tmp_path
):
    """r11 ADVICE: a NULL (or wrong-length) embedding must fail LOUDLY at
    the sink — unguarded, ivf_assign of a NULL vector is a NULL cluster,
    the row lands under cluster=__HIVE_DEFAULT_PARTITION__, and every
    later silver read dies on an undiagnosable int-parse error."""
    silver = str(tmp_path / "nullvec")
    sink = ivf_ingest_writer(spark, centroids, silver)
    bad_null = spark.createDataFrame(
        [(0, [0.5] * 32), (1, None)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="NULL"):
        sink(bad_null, 0)
    bad_dim = spark.createDataFrame(
        [(0, [0.5] * 31)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="dim=32"):
        sink(bad_dim, 1)
    # the one-shot writer carries the same guard
    with pytest.raises(Exception, match="NULL"):
        write_assigned_corpus(
            bad_null, centroids, str(tmp_path / "nullvec_oneshot")
        )


def test_reader_names_the_poisoned_partition_dir(
    spark, clustered, centroids, tmp_path
):
    """r11 ADVICE: a cluster=__HIVE_DEFAULT_PARTITION__ leaf (NULL keys
    landed by some writer without input validation) must produce an error
    NAMING the offending path, not a bare 'invalid literal for int()'."""
    import os

    silver = str(tmp_path / "poisoned")
    sink = ivf_ingest_writer(spark, centroids, silver)
    sink(clustered.limit(50), 0)
    os.makedirs(os.path.join(silver, "cluster=__HIVE_DEFAULT_PARTITION__"))
    with pytest.raises(ValueError, match="__HIVE_DEFAULT_PARTITION__"):
        read_assigned_silver(spark, silver)


def test_flat_silver_refuses_exclude_batch_id(
    spark, clustered, centroids, tmp_path
):
    """r11 ADVICE: the flat (one-shot) layout has no batch column — a
    caller passing exclude_batch_id must get an error, not a silently
    unfiltered read (replay-safety callers would count their own
    previous attempt)."""
    silver = str(tmp_path / "flat_excl")
    write_assigned_corpus(clustered, centroids, silver)
    assert read_assigned_silver(spark, silver).count() == clustered.count()
    with pytest.raises(ValueError, match="exclude_batch_id"):
        read_assigned_silver(spark, silver, exclude_batch_id=0)


@pytest.mark.slow
def test_two_level_streamed_silver_equals_flat_streamed_silver(
    spark, clustered, centroids, tmp_path
):
    """two_level= at the sink switches per-batch assignment to the
    broadcast-join transport; at FULL probes the assignments are
    centroid-identical to flat ivf_assign, so the streamed silvers must
    match row-for-row (cluster included) and probe identically — and the
    dedup flag composes (it assigns through the same quantizer)."""
    from crossbar_data_process_spark.operators.ivf import fit_two_level

    tl = fit_two_level(centroids, assign_probes=len(centroids))
    flat = str(tmp_path / "flat")
    two = str(tmp_path / "two")
    batch0 = clustered.filter(F.col("vec_id") % 2 == 0)
    batch1 = clustered.filter(F.col("vec_id") % 2 == 1)
    for path, kw in ((flat, {}), (two, {"two_level": tl})):
        sink = ivf_ingest_writer(
            spark, centroids, path, dedup_threshold=0.999, **kw
        )
        sink(batch0, 0)
        sink(batch1, 1)
        sink(batch1, 1)  # replay stays exactly-once through the new path
    rows = lambda p: sorted(  # noqa: E731
        (r.vec_id, r.cluster)
        for r in read_assigned_silver(spark, p).collect()
    )
    assert rows(two) == rows(flat) and len(rows(two)) == clustered.count()

    q = clustered.filter(F.col("vec_id") % 150 == 0)
    probe = lambda p: {  # noqa: E731
        (r.query_id, r.rnk): (r.neighbor_id, round(r.cosine, 6))
        for r in ivf_topk_assigned(
            spark, p, q, centroids, k=5, nprobe=3
        ).collect()
    }
    assert probe(two) == probe(flat) and len(probe(two)) > 0


def test_two_level_sink_refuses_foreign_leaf_centroids(
    spark, centroids, tmp_path
):
    """A two-level quantizer wrapping DIFFERENT leaf centroids than the
    silver's stamped matrix must fail at factory time — assignments would
    not match the stored identity."""
    from crossbar_data_process_spark.operators.ivf import fit_two_level

    refit = [[float(x) + 0.25 for x in row] for row in centroids]
    with pytest.raises(ValueError, match="different leaf centroids"):
        ivf_ingest_writer(
            spark, centroids, str(tmp_path / "x"),
            two_level=fit_two_level(refit),
        )


def test_pq_identity_check_tolerates_tuple_and_numpy_books(
    spark, clustered, centroids, tmp_path
):
    """r11 ADVICE: codebooks passed as tuples / numpy scalars that are
    numerically identical to the stamp must NOT raise a spurious
    'DIFFERENT codebooks' — identity comparison goes through canon."""
    from crossbar_data_process_spark.operators.pq import (
        ivf_pq_topk_assigned,
        pq_fit,
    )

    books = pq_fit(clustered, dim=32, m=4, k=8, driver_fit_rows=256)
    silver = str(tmp_path / "pq_canon")
    sink = ivf_ingest_writer(spark, centroids, silver, pq_codebooks=books)
    sink(clustered.limit(200), 0)
    # tuple-ified and numpy-ified renderings of the SAME values
    as_tuples = tuple(
        tuple(tuple(np.float64(x) for x in code) for code in book)
        for book in books
    )
    # factory-side: a second writer with equivalent books must not raise
    ivf_ingest_writer(spark, centroids, silver, pq_codebooks=list(as_tuples))
    # probe-side: equivalent books must probe, not die
    q = clustered.filter(F.col("vec_id") < 3)
    out = ivf_pq_topk_assigned(
        spark, silver, q, centroids, list(as_tuples), k=3, nprobe=8
    )
    assert out.count() == 9


def test_drift_refit_end_to_end(spark, clustered, centroids, tmp_path):
    """The composed maintenance path (r13 VERDICT #5): stream a SHIFTED
    batch → drift_verdict flags it → refit_ivf_silver refits on the
    landed union, re-assigns, stamps the new identity → full-probe top-k
    over the refit silver is bit-identical to brute force → a new sink
    resumes appending onto the refit silver, and the OLD factory's
    identity guard refuses it."""
    import numpy as np

    from crossbar_data_process_spark.operators.similarity import cosine_topk
    from crossbar_data_process_spark.streaming.ann_ingest import (
        check_centroid_meta,
        drift_verdict,
        refit_ivf_silver,
    )

    silver = str(tmp_path / "silver")
    metrics = str(tmp_path / "metrics")
    sink = ivf_ingest_writer(spark, centroids, silver, metrics_dir=metrics)
    sink(clustered, 0)
    v0 = drift_verdict(spark, metrics, nlist=8, dim=32)
    assert v0["regime"] == "clustered", v0

    # the SHIFT: 8 brand-new centers the stamped quantizer knows nothing
    # about — incoming vectors stop hugging the old centroids
    rng = np.random.default_rng(99)
    new_centers = rng.normal(size=(8, 32)) * 4.0
    rows = []
    vid = 10_000
    for c in new_centers:
        for _ in range(50):
            v = c + rng.normal(size=32) * 0.6
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    shifted = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    sink(shifted, 1)
    v1 = drift_verdict(spark, metrics, nlist=8, dim=32, last_n_batches=1)
    assert v1["regime"] == "isotropic", v1  # drift DETECTED
    assert v1["n_batches"] == 1 and v1["n_vectors"] == 400
    # the all-time fold still sees mostly-clustered mass
    vall = drift_verdict(spark, metrics, nlist=8, dim=32)
    assert vall["n_batches"] == 2 and vall["n_vectors"] == 1200

    # refit at the grown corpus's granularity (16 true clusters now)
    silver2 = str(tmp_path / "silver2")
    report = refit_ivf_silver(spark, silver, silver2, nlist=16, iters=3)
    assert report["rows"] == 1200
    assert report["regime"] == "clustered", report
    assert report["new_fingerprint"] != report["old_fingerprint"]
    assert check_centroid_meta(spark, silver2, report["centroids"])
    with pytest.raises(ValueError, match="different quantizer"):
        check_centroid_meta(spark, silver2, centroids)  # old identity

    # probe identity at full probes: the refit silver answers EXACTLY
    # like brute force over the landed union
    union = clustered.unionByName(shifted)
    q = union.filter(F.col("vec_id") % 150 == 0)
    want = {
        (r.query_id, r.neighbor_id, r.rnk)
        for r in cosine_topk(union, q, k=5).collect()
    }
    got = {
        (r.query_id, r.neighbor_id, r.rnk)
        for r in ivf_topk_assigned(
            spark, silver2, q, report["centroids"], k=5, nprobe=16
        ).collect()
    }
    assert got == want

    # the stream RESUMES onto the refit silver: new factory (new
    # centroids) appends; the old factory's stamped-identity guard
    # refuses the new silver
    with pytest.raises(ValueError, match="different quantizer"):
        ivf_ingest_writer(spark, centroids, silver2)
    sink2 = ivf_ingest_writer(spark, report["centroids"], silver2)
    extra = spark.createDataFrame(
        [(99_000, rows[0][1])], "vec_id long, embedding array<float>"
    )
    sink2(extra, 0)
    assert read_assigned_silver(spark, silver2).count() == 1201


def test_refit_refuses_in_place_and_seed_collisions(
    spark, clustered, centroids, tmp_path
):
    from crossbar_data_process_spark.streaming.ann_ingest import (
        refit_ivf_silver,
    )

    silver = str(tmp_path / "silver")
    sink = ivf_ingest_writer(spark, centroids, silver)
    sink(clustered, 0)
    with pytest.raises(ValueError, match="blue/green"):
        refit_ivf_silver(spark, silver, silver + "/", nlist=8)
    with pytest.raises(ValueError, match="must be negative"):
        write_assigned_corpus(
            clustered,
            centroids,
            str(tmp_path / "bad"),
            stream_seed_batch_id=0,
        )


def test_refit_roundtrips_int8_silver(spark, clustered, centroids, tmp_path):
    """An int8 (quantize=True) silver refits on the DEQUANTIZED vectors
    and lands re-quantized — storage code preserved through maintenance."""
    from crossbar_data_process_spark.streaming.ann_ingest import (
        refit_ivf_silver,
    )

    silver = str(tmp_path / "silver")
    sink = ivf_ingest_writer(spark, centroids, silver, quantize=True)
    sink(clustered, 0)
    report = refit_ivf_silver(
        spark, silver, str(tmp_path / "silver2"), nlist=8, iters=2
    )
    assert report["rows"] == 800
    out = read_assigned_silver(spark, str(tmp_path / "silver2"))
    assert {"qvec", "qscale"} <= set(out.columns)  # still int8 storage


def test_drift_gauge_two_level_branch_matches_flat(
    spark, clustered, centroids, tmp_path
):
    """The gauge's two branches must agree: a two-level sink probing every
    group (re-assign + broadcast centroid dot; two-level assignment is
    exact at full probes) and a flat sink (single array_max walk) compute
    the SAME per-batch metrics over the same 800 vectors — for flat
    assignment the max cosine IS the assigned centroid's (r14 review: the
    re-assign branch is otherwise test-dead)."""
    import math

    from crossbar_data_process_spark.operators.ivf import fit_two_level

    quantizers = {
        "flat": None,
        "two_level": fit_two_level(centroids, assign_probes=10**6),
    }
    vals = {}
    for name, two_level in quantizers.items():
        metrics = str(tmp_path / f"metrics_{name}")
        sink = ivf_ingest_writer(
            spark,
            centroids,
            str(tmp_path / f"silver_{name}"),
            metrics_dir=metrics,
            two_level=two_level,
        )
        sink(clustered, 0)
        vals[name] = spark.read.parquet(metrics).collect()[0]
    flat, two = vals["flat"], vals["two_level"]
    assert flat["n_vectors"] == two["n_vectors"] == 800
    assert math.isclose(flat["mean_top1"], two["mean_top1"], rel_tol=1e-12)
    assert math.isclose(flat["min_top1"], two["min_top1"], rel_tol=1e-12)


def test_refit_blue_green_guard_resolves_spellings(
    spark, clustered, centroids, tmp_path
):
    """r14 ADVICE: equivalent spellings of the silver dir (scheme-
    qualified, '.' segments, symlinks) must trip the in-place guard —
    a textual compare would let write_assigned_corpus wipe the source
    silver the lazy re-assignment still reads."""
    import os

    from crossbar_data_process_spark.streaming.ann_ingest import (
        refit_ivf_silver,
    )

    silver = str(tmp_path / "silver")
    ivf_ingest_writer(spark, centroids, silver)(clustered, 0)
    link = str(tmp_path / "link")
    os.symlink(silver, link)
    for spelling in (f"file:{silver}", f"{tmp_path}/./silver", link):
        with pytest.raises(ValueError, match="blue/green"):
            refit_ivf_silver(spark, silver, spelling, nlist=8)
    # and a genuinely different dir still passes the guard
    report = refit_ivf_silver(
        spark, silver, str(tmp_path / "green"), nlist=8, iters=2
    )
    assert report["rows"] == 800


def test_drift_verdict_ignores_empty_batches(
    spark, clustered, centroids, tmp_path
):
    """r14 ADVICE: an empty micro-batch lands a metrics row with
    n_vectors=0 and a NULL gauge — the recency window must skip it
    (last_n_batches=1 right after an empty batch folds the most recent
    REAL gauge) and n_batches must count only gauge-carrying rows."""
    from crossbar_data_process_spark.streaming.ann_ingest import (
        drift_verdict,
    )

    silver = str(tmp_path / "silver")
    metrics = str(tmp_path / "metrics")
    sink = ivf_ingest_writer(spark, centroids, silver, metrics_dir=metrics)
    sink(clustered, 0)
    sink(clustered.filter(F.col("vec_id") < 0), 1)  # empty batch
    assert spark.read.parquet(metrics).count() == 2
    v = drift_verdict(spark, metrics, nlist=8, dim=32, last_n_batches=1)
    assert v["n_batches"] == 1 and v["n_vectors"] == 800
    assert v["mean_top1"] > 0.0


@pytest.mark.slow
def test_dedup_metrics_carry_n_landed(spark, clustered, centroids, tmp_path):
    """r15: in dedup mode the per-batch metrics row must say what
    SURVIVED, not just what arrived — n_landed = rows actually written,
    so drop rate is monitorable. Plain sinks keep the 3-column row."""
    from crossbar_data_process_spark.streaming.ann_ingest import (
        drift_verdict,
    )

    silver = str(tmp_path / "silver")
    metrics = str(tmp_path / "metrics")
    sink = ivf_ingest_writer(
        spark,
        centroids,
        silver,
        metrics_dir=metrics,
        dedup_threshold=0.999,
    )
    seed = clustered.filter(F.col("vec_id") < 700)
    sink(seed, 0)
    sv0 = seed.limit(1).collect()[0].embedding
    batch = spark.createDataFrame(
        [
            (30_000, [float(x) for x in sv0]),   # cross-batch re-ingest
            (30_001, [float(x) + 1.5 for x in sv0]),  # novel
            (30_002, [float(x) + 1.5 for x in sv0]),  # within-batch dup
        ],
        "vec_id long, embedding array<float>",
    )
    sink(batch, 1)
    sink(seed.filter(F.col("vec_id") < 0), 2)  # empty batch: lands 0
    rows = {
        r[BATCH_COL]: r for r in spark.read.parquet(metrics).collect()
    }
    assert rows[0]["n_vectors"] == 700 and rows[0]["n_landed"] == 700
    assert rows[1]["n_vectors"] == 3 and rows[1]["n_landed"] == 1
    assert rows[2]["n_vectors"] == 0 and rows[2]["n_landed"] == 0
    # the verdict fold still reads the extended rows
    v = drift_verdict(spark, metrics, nlist=8, dim=32)
    assert v["n_vectors"] == 703
    # plain sink: 3-column row, no n_landed
    psink = ivf_ingest_writer(
        spark,
        centroids,
        str(tmp_path / "plain"),
        metrics_dir=str(tmp_path / "pmetrics"),
    )
    psink(seed, 0)
    pcols = set(spark.read.parquet(str(tmp_path / "pmetrics")).columns)
    assert "n_landed" not in pcols


@pytest.mark.slow
def test_dedup_rate_verdict_trips_on_a_dup_storm(
    spark, clustered, centroids, tmp_path
):
    """r16, VERDICT r15 #1: the n_landed gauge gets a consumer — a batch
    of planted all-dups must trip the drop-rate verdict over the recency
    window; a normal batch must not; a plain-mode dir (no n_landed) must
    raise instead of inventing a rate."""
    from crossbar_data_process_spark.streaming.ann_ingest import (
        dedup_rate_verdict,
    )

    silver = str(tmp_path / "silver")
    metrics = str(tmp_path / "metrics")
    sink = ivf_ingest_writer(
        spark,
        centroids,
        silver,
        metrics_dir=metrics,
        dedup_threshold=0.999,
    )
    seed = clustered.filter(F.col("vec_id") < 700)
    sink(seed, 0)  # batch 0: all novel, drop rate 0
    v0 = dedup_rate_verdict(spark, metrics)
    assert v0["verdict"] == "ok" and v0["drop_rate"] == 0.0
    # batch 1: every vector is an exact re-ingest of a landed resident —
    # the dup-storm the verdict exists to catch
    storm = seed.limit(50).select(
        (F.col("vec_id") + 40_000).alias("vec_id"), "embedding"
    )
    sink(storm, 1)
    sink(seed.filter(F.col("vec_id") < 0), 2)  # empty batch: no signal
    v1 = dedup_rate_verdict(spark, metrics, last_n_batches=1)
    assert v1["verdict"] == "over_dropping"
    assert v1["drop_rate"] == 1.0 and v1["n_landed"] == 0
    assert v1["n_batches"] == 1  # the empty batch was excluded, storm kept
    # the full-window fold dilutes the storm below the default threshold
    vall = dedup_rate_verdict(spark, metrics)
    assert vall["verdict"] == "ok" and vall["n_vectors"] == 750
    assert vall["n_landed"] == 700 and vall["n_batches"] == 2
    # plain-mode dir: no n_landed anywhere -> loud, not a made-up rate
    psilver, pmetrics = str(tmp_path / "ps"), str(tmp_path / "pm")
    ivf_ingest_writer(
        spark, centroids, psilver, metrics_dir=pmetrics
    )(seed, 0)
    with pytest.raises(ValueError, match="n_landed"):
        dedup_rate_verdict(spark, pmetrics)


def test_metrics_reader_merges_mixed_mode_schemas(
    spark, clustered, centroids, tmp_path
):
    """r15 ADVICE: a metrics dir holding pre-r15/plain-mode 3-column rows
    NEXT TO dedup-mode 4-column rows must read with n_landed intact —
    plain spark.read.parquet may sample an old footer and silently drop
    the column; read_ingest_metrics merges footers, and both verdicts
    keep working over the mixed dir."""
    from crossbar_data_process_spark.streaming.ann_ingest import (
        dedup_rate_verdict,
        drift_verdict,
        read_ingest_metrics,
    )

    silver = str(tmp_path / "silver")
    metrics = str(tmp_path / "metrics")
    seed = clustered.filter(F.col("vec_id") < 700)
    # batch 0 lands through a PLAIN sink (3-column metrics row) ...
    ivf_ingest_writer(spark, centroids, silver, metrics_dir=metrics)(
        seed, 0
    )
    # ... then the same silver+metrics dir is resumed under a DEDUP sink
    # (4-column rows) — the mode switch the r15 comment only documented
    dsink = ivf_ingest_writer(
        spark,
        centroids,
        silver,
        metrics_dir=metrics,
        dedup_threshold=0.999,
    )
    batch = seed.limit(10).select(
        (F.col("vec_id") + 50_000).alias("vec_id"), "embedding"
    )
    dsink(batch, 1)  # all 10 are re-ingests of landed residents
    m = read_ingest_metrics(spark, metrics)
    assert "n_landed" in m.columns
    rows = {r[BATCH_COL]: r for r in m.collect()}
    assert rows[0]["n_landed"] is None  # plain-mode row reads as NULL
    assert rows[1]["n_landed"] == 0 and rows[1]["n_vectors"] == 10
    # drift fold spans both rows; drop fold sees only the dedup row
    assert drift_verdict(spark, metrics, nlist=8, dim=32)["n_vectors"] == 710
    v = dedup_rate_verdict(spark, metrics)
    assert v["n_batches"] == 1 and v["verdict"] == "over_dropping"


def test_flag_probe_assignment_follows_the_silver_backend(
    spark, clustered, centroids, tmp_path
):
    """r15 ADVICE: the flag's probe side files each batch vector where the
    sink filed its landed twin — the exact copy 9100 is flagged, the
    shifted vector 9101 is not — on a float and on an int8 silver, with
    a zero vector on both sides (its NULL cosine flags nothing and does
    not abort under ANSI)."""
    from crossbar_data_process_spark.streaming.ann_ingest import (
        flag_semantic_dups,
    )

    sv = clustered.limit(2).collect()
    batch = spark.createDataFrame(
        [
            (9100, [float(x) for x in sv[0].embedding]),  # exact copy
            (9101, [float(x) + 2.5 for x in sv[1].embedding]),  # novel
            (9102, [0.0] * 32),  # zero vector
        ],
        "vec_id long, embedding array<float>",
    )
    for quant in (False, True):
        silver = str(tmp_path / f"silver_q{quant}")
        sink = ivf_ingest_writer(spark, centroids, silver, quantize=quant)
        sink(clustered, 0)
        sink(
            spark.createDataFrame(
                [(8999, [0.0] * 32)], "vec_id long, embedding array<float>"
            ),
            1,
        )
        flags = flag_semantic_dups(
            spark, silver, batch, centroids, threshold=0.995, quantized=quant
        ).collect()
        assert {r.vec_id for r in flags} == {9100}, quant


def test_suggest_nlist_posture_and_refit_sizing(
    spark, clustered, centroids, tmp_path
):
    """r16, VERDICT r15 #2: ONE definition of the E[cluster]≈250 posture —
    suggest_nlist pins the arithmetic, refit_ivf_silver(nlist=None) sizes
    from what actually landed, and an explicit >4× overshoot warns with
    the measured 5M-probe negative instead of silently paying it."""
    import warnings

    from crossbar_data_process_spark.operators.ivf import suggest_nlist
    from crossbar_data_process_spark.streaming.ann_ingest import (
        refit_ivf_silver,
    )

    assert suggest_nlist(0) == 8  # floor
    assert suggest_nlist(2_000) == 8  # 2000//250 = 8 — exactly the floor
    assert suggest_nlist(1_000_000) == 4_000
    assert suggest_nlist(5_000_000) == 20_000
    assert suggest_nlist(1_000_000, target_cluster_rows=500) == 2_000
    with pytest.raises(ValueError, match="target_cluster_rows"):
        suggest_nlist(100, target_cluster_rows=0)
    silver = str(tmp_path / "silver")
    ivf_ingest_writer(spark, centroids, silver)(clustered, 0)
    # None → sized from the landed 800 rows (suggest: floor 8), silently
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        rep = refit_ivf_silver(
            spark,
            silver,
            str(tmp_path / "green"),
            iters=1,
            require_clustered=False,
        )
    assert rep["nlist"] == suggest_nlist(800) == 8
    # explicit 64 lists over 800 rows = E[cluster] 12.5 — an 8× overshoot
    with pytest.warns(UserWarning, match="overshoots"):
        refit_ivf_silver(
            spark,
            silver,
            str(tmp_path / "green2"),
            nlist=64,
            iters=1,
            require_clustered=False,
        )
    # within 4×: no warning
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        refit_ivf_silver(
            spark,
            silver,
            str(tmp_path / "green3"),
            nlist=16,
            iters=1,
            require_clustered=False,
        )


def test_maintenance_verdict_composes_all_three_loops(
    spark, clustered, centroids, tmp_path
):
    """r16: ONE maintenance decision — drift + landed skew + drop rate
    folded into actions. Healthy silver → []; corpus outgrowing the
    quantizer (growth band) or a catch-all cluster (skew factor) →
    'refit' with the suggest_nlist answer attached; a dup-storm →
    'investigate_drops' (a data problem — refitting wouldn't fix it)."""
    from crossbar_data_process_spark.streaming.ann_ingest import (
        maintenance_verdict,
    )

    silver = str(tmp_path / "silver")
    metrics = str(tmp_path / "metrics")
    sink = ivf_ingest_writer(
        spark,
        centroids,
        silver,
        metrics_dir=metrics,
        dedup_threshold=0.999,
    )
    seed = clustered.filter(F.col("vec_id") < 700)
    sink(seed, 0)
    # nlist/dim read from the silver's quantizer stamp when omitted
    healthy = maintenance_verdict(spark, silver, metrics)
    assert healthy["actions"] == []
    assert healthy["drop"]["verdict"] == "ok"  # dedup mode auto-detected
    assert healthy["skew"]["rows"] == 700
    assert healthy["suggested_nlist"] == 8
    # an explicit value is validated against the stamp — a wrong nlist
    # silently mis-scales skew_factor, so it must refuse loudly
    with pytest.raises(ValueError, match="stamped quantizer"):
        maintenance_verdict(spark, silver, metrics, nlist=800)
    assert (
        maintenance_verdict(spark, silver, metrics, nlist=8, dim=32)[
            "skew"
        ]["skew_factor"]
        == healthy["skew"]["skew_factor"]
    )
    # growth trigger: at target_cluster_rows=10, E[cluster]=700/8=87.5
    # rows expected per list > 4x10 — the corpus outgrew the quantizer
    grown = maintenance_verdict(
        spark, silver, metrics, nlist=8, dim=32, target_cluster_rows=10
    )
    assert grown["actions"] == ["refit"]
    assert grown["suggested_nlist"] == 70  # suggest_nlist(700, 10)
    # skew trigger: land ONLY one center's vectors in a fresh silver —
    # max population ~== rows, so skew_factor approaches nlist (8);
    # max_skew must sit below that ceiling at this tiny quantizer
    s2, m2 = str(tmp_path / "s2"), str(tmp_path / "m2")
    ivf_ingest_writer(spark, centroids, s2, metrics_dir=m2)(
        clustered.filter(F.col("vec_id") < 100), 0
    )
    skewed = maintenance_verdict(
        spark, s2, m2, nlist=8, dim=32, max_skew=4.0
    )
    assert "refit" in skewed["actions"]
    assert skewed["skew"]["skew_factor"] > 4.0
    assert skewed["drop"] is None  # plain sink: no n_landed to fold
    # drop trigger: a storm of re-ingested residents on the dedup silver
    storm = seed.limit(50).select(
        (F.col("vec_id") + 60_000).alias("vec_id"), "embedding"
    )
    sink(storm, 1)
    stormy = maintenance_verdict(
        spark, silver, metrics, nlist=8, dim=32, last_n_batches=1
    )
    assert stormy["actions"] == ["investigate_drops"]
    assert stormy["drop"]["drop_rate"] == 1.0


@pytest.mark.slow
def test_drop_window_shares_the_real_batch_timeline(
    spark, clustered, centroids, tmp_path
):
    """r16 review: the drop fold's recency window must rank over the
    SHARED real-batch timeline, not over dedup-mode rows only — an old
    dup-storm must age OUT of the window once the sink runs in plain
    mode; and a dedup-mode dir whose window holds no dedup rows maps to
    drop=None in the composed pane while the dedicated verdict stays
    loud."""
    from crossbar_data_process_spark.streaming.ann_ingest import (
        dedup_rate_verdict,
        maintenance_verdict,
    )

    silver = str(tmp_path / "silver")
    metrics = str(tmp_path / "metrics")
    seed = clustered.filter(F.col("vec_id") < 700)
    dsink = ivf_ingest_writer(
        spark,
        centroids,
        silver,
        metrics_dir=metrics,
        dedup_threshold=0.999,
    )
    dsink(seed, 0)
    storm = seed.limit(40).select(
        (F.col("vec_id") + 70_000).alias("vec_id"), "embedding"
    )
    dsink(storm, 1)  # the historical dup-storm
    # the sink then runs in PLAIN mode over the same dirs (mode switch)
    psink = ivf_ingest_writer(spark, centroids, silver, metrics_dir=metrics)
    fresh = clustered.filter(
        (F.col("vec_id") >= 700) & (F.col("vec_id") < 760)
    )
    psink(fresh.limit(30), 2)
    psink(fresh.filter(F.col("vec_id") >= 730), 3)
    # full history still reads the storm
    assert dedup_rate_verdict(spark, metrics)["n_batches"] == 2
    # but the last-2 window is plain-mode: the storm has aged out —
    # loud in the dedicated verdict, drop=None in the composed pane
    with pytest.raises(ValueError, match="window"):
        dedup_rate_verdict(spark, metrics, last_n_batches=2)
    mv = maintenance_verdict(
        spark, silver, metrics, nlist=8, dim=32, last_n_batches=2
    )
    assert mv["drop"] is None
    assert "investigate_drops" not in mv["actions"]
    # an EMPTY first dedup batch on a fresh dir: the n_landed column
    # exists but no window row carries signal — same pair of behaviors
    s2, m2 = str(tmp_path / "s2"), str(tmp_path / "m2")
    d2 = ivf_ingest_writer(
        spark, centroids, s2, metrics_dir=m2, dedup_threshold=0.999
    )
    d2(seed, 0)
    d2(seed.filter(F.col("vec_id") < 0), 1)  # empty dedup batch
    v = dedup_rate_verdict(spark, m2)  # non-empty window row exists
    assert v["n_batches"] == 1 and v["verdict"] == "ok"


def test_refit_warn_respects_custom_cluster_target(
    spark, clustered, centroids, tmp_path
):
    """r16 review: an nlist the library itself suggested at a custom
    target_cluster_rows must not warn against the default posture when
    fed back to refit_ivf_silver with the same target."""
    import warnings

    from crossbar_data_process_spark.operators.ivf import suggest_nlist
    from crossbar_data_process_spark.streaming.ann_ingest import (
        refit_ivf_silver,
    )

    silver = str(tmp_path / "silver")
    ivf_ingest_writer(spark, centroids, silver)(clustered, 0)
    # finer grain chosen on purpose: 800 rows at E[cluster]=10 → 80
    fine = suggest_nlist(800, target_cluster_rows=10)
    assert fine == 80
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        rep = refit_ivf_silver(
            spark,
            silver,
            str(tmp_path / "green"),
            nlist=fine,
            iters=1,
            require_clustered=False,
            target_cluster_rows=10,
        )
    assert rep["nlist"] == 80
    # the same value WITHOUT the matching target still warns (80 > 4×8)
    with pytest.warns(UserWarning, match="overshoots"):
        refit_ivf_silver(
            spark,
            silver,
            str(tmp_path / "green2"),
            nlist=fine,
            iters=1,
            require_clustered=False,
        )
