"""SparkSession factory with scale-oriented defaults.

Tuned for correctness tests on ``local[N]`` but with every knob chosen so the
same plan shape survives a 1000-executor cluster over 100 TB:

- AQE on (runtime re-plan: shuffle-partition coalescing, skew-join splitting,
  sort-merge→broadcast demotion once post-filter stats are known);
- skew-join handling explicitly enabled — protein hubs / hot disease ids in
  the reference's domain are heavily skewed keys (SURVEY.md §4);
- Arrow transfers for the few pandas-interop boundaries;
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """min(24g, 25% of available RAM, floor 4g) — see the driver.memory
    comment below. "Available" is the smaller of host MemTotal and the
    cgroup memory limit (r14 review: a container capped at 8 GiB on a
    128 GiB host must not launch a -Xmx24g JVM — the host figure alone
    is OOM-killer bait in exactly the case the heuristic exists for).
    Falls back to 4g on any read/parse failure (non-Linux, odd formats),
    where the old too-small default is at least safe."""
    total_gb = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) // (1024 * 1024)
                    break
        for limit_file in (
            "/sys/fs/cgroup/memory.max",  # cgroup v2
            "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
        ):
            if os.path.exists(limit_file):
                with open(limit_file) as f:
                    raw = f.read().strip()
                if raw.isdigit():  # "max" / huge sentinel = unlimited
                    limit_gb = int(raw) // (1024**3)
                    if 0 < limit_gb < (total_gb or limit_gb + 1):
                        total_gb = limit_gb
                break
    except Exception:
        return "4g"
    if total_gb is None:
        return "4g"
    return f"{max(4, min(24, total_gb // 4))}g"


def _input_parquet_bytes(root: str | None = None) -> int | None:
    """Total parquet bytes under ``root`` — the input-size signal for the
    AQE scale margin below (VERDICT r14 #6: the session already reads
    the cgroup memory limit; reading the input size is the same trick).
    ``root=None`` falls back to the bench/driver convention
    (``$SPARK_GRAFT_SF_DIR``, default /root/testdata/sf0.1); entry
    points that know their real data dir pass it (VERDICT r15 #4 — a
    session built for sf0.01 must not size its grain from sf0.1's
    bytes just because the env is unset). None when the dir is
    absent/unreadable — callers treat unknown as 'keep the protective
    margin'."""
    root = root or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        total = 0
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                if fn.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(dirpath, fn))
        return total or None
    except OSError:
        return None


def _initial_partitions(
    cpus: int, shuffle_partitions: int, input_bytes: int | None
) -> int:
    """The AQE starting grain: ceil(input_bytes / 2 MiB), floored at
    ``shuffle_partitions`` and capped at the protective 4×cpus margin;
    unknown input keeps the full margin (see the rationale comment at the
    call site in :func:`get_spark`)."""
    cap = max(4 * cpus, 4 * shuffle_partitions)
    if input_bytes is None:
        return cap
    return min(
        cap, max(shuffle_partitions, -(-input_bytes // (2 * 1024 * 1024)))
    )


def get_spark(
    app_name: str = "crossbar-data-process-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    input_bytes: int | None = None,
    input_dir: str | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    # cpus/2 initial shuffle partitions: AQE coalesces to data size anyway,
    # so the initial count mostly buys task-scheduling overhead (measured
    # ~18% on the heavy queries at sf0.1 going 32→16 on local[32]). On a
    # real cluster size this to 2-3× total executor cores — AQE still
    # owns the final partition counts.
    shuffle_partitions = shuffle_partitions or max(cpus // 2, 8)
    # ...but the LOW count must never cap a BIG shuffle: with only
    # cpus/2 partitions, a 30M-row bucket self-join at 5M docs builds
    # ~2M-row per-partition hash maps and dies with "not enough memory
    # to build hash map" (measured, r14 scale-1000 probe — ShuffledHash
    # builds cannot spill). initialPartitionNum makes AQE START
    # fine-grained and coalesce DOWN by size, so corpus-scale shuffles
    # keep maps bounded and all cores busy.
    #
    # r15 (VERDICT r14 #6): the margin is sized from the INPUT instead of
    # being unconditionally 4×cpus — the flat 4×cpus default cost a
    # measured ~4-5% at sf0.1 (AQE coalesces, but planning/stat overhead
    # per initial partition is real) protecting a scale the benchmark
    # never reaches. Rule: ceil(input_bytes / 2 MiB) initial partitions —
    # i.e. ~16 MiB of shuffle per partition at the ~8× input→shuffle
    # amplification the LSH bucket/pair stages exhibit (the r14 wall:
    # 1.78 GB of 5M-doc corpus → a 30M-row bucket self-join whose
    # ShuffledHash build maps must stay well under the ~2M-row measured
    # death) — floored at shuffle_partitions (the r13 small-scale shape,
    # 18% measurement) and capped at the old protective margin. Unknown
    # input (no SF dir, e.g. a probe generating /tmp corpora) keeps the
    # full margin; scale scripts pass `input_bytes` (or the env override)
    # for corpora the SF dir can't see.
    #
    # r16 (VERDICT r15 #4): entry points that know their real data dir
    # pass `input_dir` so the signal follows the data the session will
    # ACTUALLY read — with only the env-dir fallback, a sf0.01
    # correctness session on an unset env sized its grain from sf0.1's
    # bytes (~91 initial parts instead of ~8; harmless under AQE
    # coalescing, but the signal was wrong). Precedence: explicit
    # bytes > explicit dir > env dir > default dir.
    env_parts = os.environ.get("SPARK_GRAFT_INITIAL_PARTS")
    if env_parts is not None:
        initial_partitions = int(env_parts)
    else:
        initial_partitions = _initial_partitions(
            cpus,
            shuffle_partitions,
            input_bytes
            if input_bytes is not None
            else _input_parquet_bytes(input_dir),
        )

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(initial_partitions),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # in local mode the driver JVM IS every executor — the old 8g
        # gave 32 task threads ~250 MB each, an order leaner than any
        # real cluster core and the proximate OOM in the r14 scale-1000
        # probe. Default = min(24g, 25% of physical RAM, floor 4g) so a
        # 16 GiB contributor box never launches an OOM-killer-bait -Xmx
        # (r14 review); SPARK_GRAFT_DRIVER_MEM overrides.
        .config(
            "spark.driver.memory",
            # helper only runs when the env override is absent — the env
            # var must stay a working escape hatch even if the heuristic
            # ever breaks (r14 review)
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # some testdata generations ship events.ts as TIMESTAMP(NANOS), which
        # the Spark reader rejects by default; surfacing nanos as long is a
        # no-op for MICROS-era files, and sources.readers.load_events branches
        # on the actual footer type either way
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # InferFiltersFromGenerate duplicates the generator expression into a
        # pushed-down size()>0 filter; for heavyweight array builders
        # (shingling, minhash) that doubles per-row work and lands the copy
        # below the parallelizing exchange — explode already skips empty
        # arrays, so the inferred filter only costs
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
