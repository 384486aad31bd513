"""SparkSession factory: one posture for every entry point.

Every session gets the same fixed settings:

- AQE on, with shuffle-partition coalescing and skew-join splitting;
- ``max(cpus // 2, 8)`` shuffle partitions and a 64 MiB broadcast
  threshold;
- ICU case mappings off: ``upper``/``lower`` use the JVM's mappings, which
  skip ICU's one-time table build and, in any default locale but Turkish,
  Azeri or Lithuanian, give Python's strings (``tests/test_session_margins``
  checks both);
- Arrow transfers, UTC session time zone, snappy parquet, 128 MiB file
  splits, TIMESTAMP(NANOS) read as long, no Spark UI, and no
  ``InferFiltersFromGenerate``;
- driver memory ``min(24g, 25% of available RAM, floor 4g)``.

Two rules follow the input size, resolved once per session from
``input_bytes``, else the parquet under ``input_dir``, else the parquet
under ``$SPARK_GRAFT_SF_DIR``:

- the AQE starting grain is ``ceil(input / 2 MiB)`` partitions, floored at
  the shuffle-partition count and capped at 4×cpus (unknown input: the
  cap);
- input of at most 64 MiB runs interpreted: no whole-stage codegen and no
  Janino-compiled expressions (unknown or larger input: codegen).

``extra_conf`` overrides any of these.
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


# Input at or below this size runs interpreted: between the largest input
# measured faster interpreted (52.9 MiB) and the smallest measured faster
# compiled (88.7 MiB); see the crossover table in :func:`get_spark`.
INTERPRET_MAX_BYTES = 64 * 1024 * 1024


def _codegen_conf(input_bytes: int | None) -> dict[str, str]:
    """Interpreted evaluation for known input of at most
    ``INTERPRET_MAX_BYTES``; whole-stage codegen and compiled expressions
    otherwise, unknown input included."""
    if input_bytes is not None and input_bytes <= INTERPRET_MAX_BYTES:
        return {
            "spark.sql.codegen.wholeStage": "false",
            "spark.sql.codegen.factoryMode": "NO_CODEGEN",
        }
    return {
        "spark.sql.codegen.wholeStage": "true",
        "spark.sql.codegen.factoryMode": "FALLBACK",
    }


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
    #
    # The same size picks how expressions are evaluated. On small input,
    # compiling is most of an operator's cost: kg_build's timed phase at
    # scale 0.3 (seed 7, 4 vCPU) compiled 296 classes with Janino, ~3.1 s
    # by CodegenMetrics, and 1 when interpreting (no whole-stage codegen
    # and the NO_CODEGEN expression factory; both are needed), which
    # writes the same 23 gold tables. Compiling pays once a plan
    # processes enough rows (Kohn, Leis & Neumann, "Adaptive Execution of
    # Compiled Queries", ICDE 2018). Crossover probe: gen_sources +
    # build_gold, then all 23 gold writes (17 light, then kg_build's 6
    # timed ones), a fresh session per run, two runs per cell, 4 vCPU,
    # ICU case mappings off in both modes; codegen -> interpreted, seconds:
    #
    #   scale  sources as parquet  all 23 writes             6 timed writes
    #   0.3      0.8 MiB           22.1, 20.3 -> 16.7, 14.2   6.8,  6.5 ->  5.1,  4.0
    #   3        5.3 MiB           29.0, 25.4 -> 23.6, 20.9  11.6,  9.5 ->  9.9,  7.9
    #   10      17.4 MiB           35.5, 34.0 -> 33.7, 31.2  16.6, 16.4 -> 15.4, 14.1
    #   30      52.9 MiB           38.3, 44.1 -> 36.8, 40.9  20.7, 24.4 -> 20.2, 22.1
    #   50      88.7 MiB           64.0, 68.9 -> 67.1, 69.9  35.7, 39.5 -> 38.5, 41.8
    #   70     125.8 MiB           73.4, 79.8 -> 86.0, 82.2  41.6, 47.4 -> 53.4, 50.7
    #   100    180.5 MiB           71.0, 80.7 -> 76.5, 86.0  42.4, 46.7 -> 50.3, 58.7
    #
    # Compiling is a fixed cost and evaluating is per row, so interpreting
    # wins by less as input grows (-27% at 0.3, -6% at 30 on all 23
    # writes) and loses from scale 50 on. The cut sits between the last
    # win and the first loss. Tier-1 (sf0.001/sf0.01), bench.py (sf0.1,
    # 17 MB) and kgbench (declared 10 and 2 MiB) all fall under it. Job,
    # stage and task counts do not change; only how expressions are
    # evaluated.
    if input_bytes is None:
        input_bytes = _input_parquet_bytes(input_dir)
    env_parts = os.environ.get("SPARK_GRAFT_INITIAL_PARTS")
    conf = _session_conf(
        shuffle_partitions,
        int(env_parts)
        if env_parts is not None
        else _initial_partitions(cpus, shuffle_partitions, input_bytes),
        input_bytes,
        extra_conf,
    )
    b = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()


def _session_conf(
    shuffle_partitions: int,
    initial_partitions: int,
    input_bytes: int | None,
    extra_conf: dict[str, str] | None,
) -> dict[str, str]:
    """Every setting :func:`get_spark` gives its session; ``extra_conf``
    wins over all of them."""
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum":
            str(initial_partitions),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.parquet.compression.codec": "snappy",
        # in local mode the driver JVM IS every executor — the old 8g
        # gave 32 task threads ~250 MB each, an order leaner than any
        # real cluster core and the proximate OOM in the r14 scale-1000
        # probe. Default = min(24g, 25% of physical RAM, floor 4g) so a
        # 16 GiB contributor box never launches an OOM-killer-bait -Xmx
        # (r14 review); SPARK_GRAFT_DRIVER_MEM overrides. The helper only
        # runs when the env override is absent — the env var must stay a
        # working escape hatch even if the heuristic ever breaks.
        "spark.driver.memory":
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        "spark.ui.enabled": "false",
        "spark.sql.files.maxPartitionBytes": "134217728",
        # some testdata generations ship events.ts as TIMESTAMP(NANOS), which
        # the Spark reader rejects by default; surfacing nanos as long is a
        # no-op for MICROS-era files, and sources.readers.load_events branches
        # on the actual footer type either way
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # InferFiltersFromGenerate duplicates the generator expression into a
        # pushed-down size()>0 filter; for heavyweight array builders
        # (shingling, minhash) that doubles per-row work and lands the copy
        # below the parallelizing exchange — explode already skips empty
        # arrays, so the inferred filter only costs
        "spark.sql.optimizer.excludedRules":
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        # With ICU case mappings on, a session's first upper/lower builds
        # ICU's tables in CollationAwareUTF8String's class initializer, in
        # one task, while the stage's other tasks wait on the class-init
        # lock. kg_build's ppi_edges write (seed 7, 4 vCPU) went 2.4 ->
        # 1.7 s interpreted and 3.4 -> 1.9 s with codegen with it off.
        # Without ICU, non-ASCII text maps through the JVM's
        # String.toUpperCase()/toLowerCase(), which follow its default
        # locale: outside a Turkish, Azeri or Lithuanian locale they give
        # Python's strings (tests/test_session_margins.py checks both the
        # strings and the locale). Every session, large or small, uses
        # them, so results never depend on the posture.
        "spark.sql.icu.caseMappings.enabled": "false",
        **_codegen_conf(input_bytes),
        **(extra_conf or {}),
    }
