"""The benchmark's workloads. Each one sets up seeded inputs, runs a timed
phase against the repository's own code, and checks the outputs.

Both workloads are single-process and closed-loop:

- ``kg_build``: the full CROssBAR adapter sweep (``scripts/kg_build``'s
  ``gen_sources`` → ``build_gold`` → ``to_gold_shape``, schema-conformed,
  23 gold tables written), then connected components and PageRank over
  the fresh ``ppi_edges``. Set-up plans every table and writes the 17
  lighter ones, then runs the graph operators once over the lighter
  ``ddi_edges``; that first, cold part carries the JVM's JIT and most of
  Spark's code generation. The timed phase is the rest of the sweep: the
  six heaviest adapters' tables (``ADAPTER_OF``) and the graph operators
  over ``ppi_edges``. Timing the sweep from a cold start would measure
  mostly compilation, which keeps every core busy and is the figure most
  swayed by other load on the host.
- ``kg_query``: half as many client threads as cores issue an equal,
  interleaved mix of point neighbour lookups, drug→target→disease two-hop
  top-k, 3-hop chain top-k and IVF top-k probes. They read the
  ``ppi_edges``, ``dti_edges`` and ``gda_edges`` gold that ``kg_build``'s
  own code builds at the same scale and seed (staged in set-up), and an
  IVF silver over vectors shaped like the engine's sf0.1
  ``embeddings.parquet``, after an untimed warm-up of ``WARMUP_QUERIES``
  queries. No query log exists to weight the kinds by, so each kind gets
  the same share.

End-to-end metrics are the same two on every workload, so that each run
prints both: ``setup_s``, and ``op_latency_s``, the geometric mean over
the workload's operation kinds of each kind's median latency. kg_build
has one kind, the timed part of the sweep, run once; kg_query has the
four query kinds. Throughput is not a metric of its own: in a closed
loop it is the client count over the mean latency. The workload-specific figures
(``wall_s``, ``rows_per_s``, ``queries_per_s``, ``query_p50_s``,
``query_p90_s``, table sizes, ``out_bytes_per_row``, ``peak_rss_mb``,
``error_rate``, ...) are printed on the line before the result.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import threading
import time
from statistics import geometric_mean

from harness import Outcomes, Tracer, host_steal_s, p50, tail_percentile, vm_hwm_mb

KG_BUILD_SCALE = 0.3
# ~2% of every generated source row is dropped by a seeded hash, so the
# seed changes the data every adapter sees without changing its volume.
THIN_MOD = 50
PAGERANK_ITERS = 3

# the timed closed loop runs until --seconds have passed and at least this
# many queries have completed
QUERY_MIN = 24
# half of the cores, so that executor tasks keep cores free
CLIENT_THREADS = max(1, (os.cpu_count() or 2) // 2)
# the chain and IVF kinds keep getting faster over their first few runs
# in a session; four of each are untimed
WARMUP_QUERIES = 16
QUERY_KINDS = "PHCI"  # point, two-hop, chain, ivf: issued in turn
QUERY_GOLD = ("ppi_edges", "dti_edges", "gda_edges")
# the shape of the sf0.1 embeddings.parquet: 2000 float vectors of
# dimension 64 in 10 labelled clusters
IVF_DOCS = 2000
IVF_DIM = 64
IVF_CLUSTERS = 10
# ivf_topk_assigned's own defaults
QUERY_K = 5
IVF_NPROBE = 4

END_TO_END = {
    "setup_s": "s",
    "op_latency_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.jobs": "count",
    "session.stages": "count",
    "session.tasks": "count",
    "session.failed_tasks": "count",
    "sources.read_s": "s",
    "sources.write_s": "s",
    "sources.bytes_written": "bytes",
    "schema.conform_s": "s",
    "plans.plan_s": "s",
    "plans.uniprot.exec_s": "s",
    "plans.ppi.exec_s": "s",
    "plans.dti.exec_s": "s",
    "plans.gene_disease.exec_s": "s",
    "plans.compound.exec_s": "s",
    "plans.tf_gen.exec_s": "s",
    "plans.other.exec_s": "s",
    "graph.components_s": "s",
    "graph.pagerank_s": "s",
    "plans.kg.two_hop_s": "s",
    "plans.kg.chain_s": "s",
    "operators.ivf.topk_s": "s",
    "operators.ivf.fit_s": "s",
    "trace.overhead_s": "s",
}

# Workload-specific figures printed before the result.
INFO = {
    "kg_build": {
        "wall_s": "s",
        "rows_per_s": "1/s",
        "out_bytes_per_row": "bytes",
        "tables": "count",
        "row_count_ledger": "compared|written",
        "peak_rss_mb": "MiB",
        "error_rate": "ratio",
        # share of the CPUs' time in the timed phase taken by other guests
        # of the host: runs with a high share read slow for that reason
        "host_steal_share": "ratio",
    },
    "kg_query": {
        "wall_s": "s",
        "queries_per_s": "1/s",
        "query_p50_s": "s",
        # printed only when at least 10 samples lie beyond it
        "query_p90_s": "s",
        "n_samples": "count",
        "client_threads": "count",
        **{f"p50_{kind}_s": "s" for kind in QUERY_KINDS},
        **{f"{name}.rows": "count" for name in QUERY_GOLD},
        "drugs": "count",
        "proteins": "count",
        "peak_rss_mb": "MiB",
        "error_rate": "ratio",
        "host_steal_share": "ratio",
    },
}

# The six heaviest adapters' gold tables (6.2, 10.7, 2.9, 2.9, 2.2 and
# 1.9 s at generator scale 10), written in kg_build's timed phase, and the
# exec layer each write is attributed to; the other 17 tables are written
# in set-up and go to plans.other.exec.
ADAPTER_OF = {
    "protein_nodes": "uniprot",
    "ppi_edges": "ppi",
    "dti_edges": "dti",
    "gda_edges": "gene_disease",
    "cti_edges": "compound",
    "tf_gene_edges": "tf_gen",
}


def describe() -> dict:
    return {
        name: {"end_to_end": END_TO_END, "per_layer": PER_LAYER, "info": info}
        for name, info in INFO.items()
    }


class Run:
    """State of one benchmark run: arguments, the Spark session, the
    tracer and the operation outcomes."""

    def __init__(self, root: str, run_dir: str, workload: str, seed: int,
                 seconds: float, trace: bool):
        self.root = root
        self.run_dir = run_dir
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.outcomes = Outcomes()
        self.tracer = Tracer(trace)
        self.spark = None
        self.layers: dict[str, float] = {}
        self.info: dict[str, float] = {}
        self.env: dict = {}

    def start_session(self, input_bytes: int) -> float:
        from crossbar_data_process_spark import get_spark

        tmp = os.path.join(self.run_dir, "tmp")
        t = time.perf_counter()
        self.spark = get_spark(
            app_name=f"kgbench-{self.workload}",
            input_bytes=input_bytes,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                # keep the JVM's temp files (and no hsperfdata) out of /tmp
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        took = time.perf_counter() - t
        import pyspark

        self.env.update(
            nproc=os.cpu_count(),
            spark_graft_cpus=os.environ.get("SPARK_GRAFT_CPUS"),
            master=self.spark.sparkContext.master,
            driver_memory=self.spark.conf.get("spark.driver.memory"),
            pyspark=pyspark.__version__,
        )
        return took

    def peak_rss_mb(self) -> float:
        jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())
        return vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)

    def session_counts(self, job_ids: list[int]) -> dict[str, int]:
        """Jobs, stages and tasks the status tracker saw for ``job_ids``
        (the jobs started between the timed phase's boundaries)."""
        st = self.spark.sparkContext.statusTracker()
        stages = tasks = failed = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is None:
                    continue
                stages += 1
                tasks += s.numTasks
                failed += s.numFailedTasks
        return {
            "session.jobs": len(job_ids),
            "session.stages": stages,
            "session.tasks": tasks,
            "session.failed_tasks": failed,
        }

    def job_ids(self) -> set[int]:
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


def _thin(src: dict, seed: int) -> dict:
    """Seeded perturbation applied on top of ``gen_sources``: drop the
    rows that hash, under the seed, into bucket 0 of THIN_MOD."""
    from pyspark.sql import functions as F

    return {
        name: df.filter(
            F.pmod(F.xxhash64(*df.columns, F.lit(seed)), F.lit(THIN_MOD)) != 0
        )
        for name, df in src.items()
    }


def _gen_sources(run: Run) -> dict:
    import kg_build

    return _thin(kg_build.gen_sources(run.spark, KG_BUILD_SCALE), run.seed)


def _registry(run: Run):
    from crossbar_data_process_spark.schema.registry import SchemaRegistry

    return SchemaRegistry.from_yaml(
        os.path.join(
            run.root, "crossbar_data_process_spark", "schema", "kg_gold_schema.yaml"
        )
    )


def _write_gold_table(run: Run, registry, name: str, df, out: str) -> None:
    """Shape, conform and write one gold table."""
    import kg_build

    tr = run.tracer
    with tr.span("schema.conform.plan"):
        df = kg_build.to_gold_shape(name, df)
        if name in registry.decls:
            df = registry.conform(df, name)
    with tr.span(f"plans.{ADAPTER_OF.get(name, 'other')}.exec"):
        df.write.mode("overwrite").parquet(out)


def _duck(sql: str, params: list | None = None) -> list:
    import duckdb

    with duckdb.connect() as con:
        return con.execute(sql, params or []).fetchall()


def _parquet_rows(path: str) -> int:
    return _duck(f"SELECT count(*) FROM read_parquet('{path}/*.parquet')")[0][0]


# ---------------------------------------------------------------- kg_build
def kg_build(run: Run) -> dict:
    import kg_build as kb

    tr = run.tracer
    start_s = run.start_session(input_bytes=10 * 1024 * 1024)
    t = time.perf_counter()
    registry = _registry(run)
    src = _gen_sources(run)
    gold_dir = run.path("gold")
    jobs0 = run.job_ids()
    with tr.span("plans.build_gold.plan"):
        gold = kb.build_gold(run.spark, src)

    def write(name: str) -> None:
        run.outcomes.run(
            f"write {name}", _write_gold_table, run, registry, name, gold[name],
            os.path.join(gold_dir, name),
        )

    for name in gold:
        if name not in ADAPTER_OF:
            write(name)
    # the graph operators' first run in a session is mostly code generation;
    # ddi_edges has ppi_edges' src/dst shape, so the same code serves both
    traced, tr.enabled = tr.enabled, False
    graphs = {
        "ddi_edges": run.outcomes.run("graph", _graph_ops, run, gold_dir, "ddi_edges")
    }
    tr.enabled = traced
    prep_s = time.perf_counter() - t

    steal0, t0 = host_steal_s(), time.perf_counter()
    with tr.span("kg_build.timed"):
        for name in ADAPTER_OF:
            write(name)
        graphs["ppi_edges"] = run.outcomes.run(
            "graph", _graph_ops, run, gold_dir, "ppi_edges"
        )
    wall = time.perf_counter() - t0
    steal = host_steal_s() - steal0
    job_ids = sorted(run.job_ids() - jobs0)

    # counted after the timed phase, outside Spark, from the files on disk
    counts = {
        name: _parquet_rows(os.path.join(gold_dir, name))
        if os.path.isdir(os.path.join(gold_dir, name)) else 0
        for name in gold
    }
    _check_kg_build(run, registry, gold_dir, counts, graphs)
    rows = sum(counts.values())
    timed_rows = sum(counts[name] for name in ADAPTER_OF)
    out_bytes = _du(gold_dir)
    run.layers.update(run.session_counts(job_ids) if tr.enabled else {})
    run.layers["sources.bytes_written"] = out_bytes
    run.info.update(
        wall_s=wall,
        host_steal_share=steal / (wall * (os.cpu_count() or 1)),
        rows_per_s=timed_rows / wall,
        out_bytes_per_row=out_bytes / max(rows, 1),
        tables=len(counts),
    )
    return {
        "setup_s": start_s + prep_s,
        "op_latency_s": wall,
        "session_start_s": start_s,
    }


def _graph_ops(run: Run, gold_dir: str, table: str) -> dict:
    from pyspark.sql import functions as F

    from crossbar_data_process_spark.graph.components import connected_components
    from crossbar_data_process_spark.graph.pagerank import pagerank

    tr = run.tracer
    with tr.span("sources.read.plan"):
        edges = run.spark.read.parquet(os.path.join(gold_dir, table)).select(
            "src", "dst"
        )
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    with tr.span("graph.components.exec"):
        cc = connected_components(nodes, edges)
        n_labelled, n_comp = cc.agg(
            F.count(F.lit(1)), F.countDistinct("component")
        ).first()
    with tr.span("graph.pagerank.exec"):
        pr = pagerank(nodes, edges, iters=PAGERANK_ITERS)
        n_ranked, rank_sum = pr.agg(F.count(F.lit(1)), F.sum("rank")).first()
    return {
        "labelled": n_labelled,
        "components": n_comp,
        "ranked": n_ranked,
        "rank_sum": rank_sum,
    }


def _source_digest(root: str) -> str:
    """Digest of the code whose output the row-count ledger records."""
    h = hashlib.sha256()
    for top in ("crossbar_data_process_spark", "scripts", "kgbench"):
        for dirpath, dirs, files in os.walk(os.path.join(root, top)):
            dirs.sort()
            for fn in sorted(files):
                if fn.endswith((".py", ".yaml")):
                    p = os.path.join(dirpath, fn)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def _check_kg_build(run, registry, gold_dir, counts, graphs) -> None:
    check = run.outcomes.check
    check("23 gold tables", len(counts) == 23)
    for name, n in counts.items():
        check(f"{name} non-empty", n > 0)
        if name in registry.decls and n > 0:
            want = registry.struct_type(name)
            got = run.spark.read.parquet(os.path.join(gold_dir, name)).schema
            check(
                f"{name} schema",
                [(f.name, f.dataType.simpleString()) for f in got.fields]
                == [(f.name, f.dataType.simpleString()) for f in want.fields],
            )
    for table, graph in graphs.items():
        if graph is None:
            continue
        path = os.path.join(gold_dir, table)
        nodes = _duck(
            f"SELECT count(*) FROM (SELECT src FROM read_parquet('{path}/*.parquet') "
            f"UNION SELECT dst FROM read_parquet('{path}/*.parquet'))"
        )[0][0]
        check(f"{table}: components label every node once", graph["labelled"] == nodes)
        check(f"{table}: 1 <= components <= nodes", 1 <= graph["components"] <= nodes)
        check(f"{table}: pagerank ranks every node", graph["ranked"] == nodes)
        check(f"{table}: pagerank sums to 1", abs(graph["rank_sum"] - 1.0) < 1e-6)
    _check_row_count_ledger(run, counts)


def _check_row_count_ledger(run: Run, counts: dict[str, int]) -> None:
    """Row counts are a pure function of the code, the seed and the scale:
    compare with the ledger an earlier run of the same code wrote in this
    checkout, or, when there is none, write it (atomically, so that a
    concurrent run never reads half a file)."""
    digest = _source_digest(run.root)
    ledger = os.path.join(
        run.root, ".kgbench", "counts", f"kg_build-{KG_BUILD_SCALE}-{run.seed}.json"
    )
    try:
        with open(ledger) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        prev = None
    if prev is not None and prev.get("source") == digest:
        run.outcomes.check("row counts repeat for the seed", prev["counts"] == counts)
        run.info["row_count_ledger"] = "compared"
        return
    run.info["row_count_ledger"] = "written"
    if all(counts.values()):
        os.makedirs(os.path.dirname(ledger), exist_ok=True)
        tmp = f"{ledger}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump({"source": digest, "counts": counts}, f, sort_keys=True)
        os.replace(tmp, ledger)


# ---------------------------------------------------------------- kg_query
def _stage_gold(run: Run) -> dict:
    """Build the three gold tables the queries read with ``kg_build``'s own
    code, from the same thinned sources at the same scale as kg_build."""
    import kg_build

    registry = _registry(run)
    gold = kg_build.build_gold(run.spark, _gen_sources(run))
    staged = {}
    for name in QUERY_GOLD:
        staged[name] = run.path("gold", name)
        _write_gold_table(run, registry, name, gold[name], staged[name])
    for key, table in (("drugs", "dti_edges"), ("proteins", "ppi_edges")):
        staged[key] = [
            r[0] for r in _duck(
                f"SELECT DISTINCT src FROM read_parquet('{staged[table]}/*.parquet') "
                "ORDER BY src"
            )
        ]
    return staged


def _stage_vectors(run: Run, staged: dict) -> None:
    """Seeded clustered vectors in the sf0.1 ``embeddings.parquet`` shape,
    written with pyarrow."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(run.seed)
    centers = rng.normal(size=(IVF_CLUSTERS, IVF_DIM))
    label = rng.integers(0, IVF_CLUSTERS, IVF_DOCS)
    vecs = (centers[label] + 0.35 * rng.normal(size=(IVF_DOCS, IVF_DIM))).astype(
        np.float32
    )
    staged["vectors"] = run.path("vectors")
    os.makedirs(staged["vectors"])
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(IVF_DOCS), pa.int64()),
            "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }),
        os.path.join(staged["vectors"], "part-0.parquet"),
    )
    staged["vecs"] = vecs.astype(float).tolist()


class _Queries:
    """The seeded query stream: kinds follow QUERY_KINDS in turn,
    parameters are drawn from the staged gold and vectors."""

    def __init__(self, seed: int, drugs, proteins, vecs):
        self.rng = random.Random(seed)
        self.drugs, self.proteins, self.vecs = drugs, proteins, vecs
        self.i = 0
        self.lock = threading.Lock()

    def next(self) -> tuple[int, str, object]:
        with self.lock:
            i = self.i
            self.i += 1
            kind = QUERY_KINDS[i % len(QUERY_KINDS)]
            if kind == "P":
                arg = self.rng.choice(self.proteins)
            elif kind in "HC":
                arg = self.rng.choice(self.drugs)
            else:
                base = self.vecs[self.rng.randrange(len(self.vecs))]
                noise = [self.rng.gauss(0.0, 0.2) for _ in base]
                arg = [float(a + b) for a, b in zip(base, noise)]
        return i, kind, arg


def _digits(col: str, prefix: str):
    from pyspark.sql import functions as F

    return F.regexp_replace(F.col(col), f"^{prefix}", "")


def _query(run: Run, staged: dict, kind: str, arg, qid: int):
    """Plan and execute one query; returns its answer as plain Python.
    Proteins meet genes through the number they share, as
    ``uniprot_to_entrez`` maps them in ``kg_build``."""
    from pyspark.sql import functions as F

    from crossbar_data_process_spark.operators.ivf import ivf_topk_assigned
    from crossbar_data_process_spark.plans.kg import chain_paths, two_hop_paths

    tr, spark = run.tracer, run.spark
    if kind == "P":
        with tr.span("sources.read.plan"):
            df = spark.read.parquet(staged["ppi_edges"]).filter(F.col("src") == arg)
        with tr.span("sources.read.exec"):
            return sorted(r.dst for r in df.select("dst").collect())
    if kind == "I":
        with tr.span("operators.ivf.topk.plan"):
            q = spark.createDataFrame(
                [(-1 - qid, arg)], "vec_id long, embedding array<double>"
            )
            df = ivf_topk_assigned(
                spark, staged["silver"], q, staged["centroids"],
                k=QUERY_K, nprobe=IVF_NPROBE,
            )
        with tr.span("operators.ivf.topk.exec"):
            rows = df.collect()
        return [
            (r.neighbor_id, r.cosine) for r in sorted(rows, key=lambda r: r.rnk)
        ]
    with tr.span("sources.read.plan"):
        dti = spark.read.parquet(staged["dti_edges"]).filter(F.col("src") == arg)
        gda = spark.read.parquet(staged["gda_edges"])
        ppi = spark.read.parquet(staged["ppi_edges"]) if kind == "C" else None
    if kind == "H":
        with tr.span("plans.kg.two_hop.plan"):
            df = two_hop_paths(
                dti.select("src", _digits("dst", "uniprot:P").alias("mid")),
                gda.select(_digits("src", "ncbigene:").alias("mid"), "dst"),
                k=QUERY_K,
            )
        with tr.span("plans.kg.two_hop.exec"):
            rows = df.collect()
    else:
        with tr.span("plans.kg.chain.plan"):
            df = chain_paths(
                [
                    dti.select("src", _digits("dst", "uniprot:P").alias("dst")),
                    ppi.select(
                        _digits("src", "uniprot:P").alias("src"),
                        _digits("dst", "uniprot:P").alias("dst"),
                    ),
                    gda.select(_digits("src", "ncbigene:").alias("src"), "dst"),
                ],
                k=QUERY_K,
                aggregate_hops=True,
            )
        with tr.span("plans.kg.chain.exec"):
            rows = df.collect()
    return [(r.dst, r.n_paths) for r in sorted(rows, key=lambda r: r.rnk)]


def _stage_ivf(run: Run, staged: dict) -> None:
    """Fit the IVF quantizer and write the cluster-partitioned silver."""
    from crossbar_data_process_spark.operators.ivf import (
        ivf_fit,
        suggest_nlist,
        write_assigned_corpus,
    )

    tr = run.tracer
    with tr.span("sources.read.plan"):
        vectors = run.spark.read.parquet(staged["vectors"])
    with tr.span("operators.ivf.fit.exec"):
        staged["centroids"] = ivf_fit(
            vectors, dim=IVF_DIM, nlist=suggest_nlist(IVF_DOCS), iters=3,
            id_col="vec_id", driver_fit_rows=IVF_DOCS,
        )
    staged["silver"] = run.path("silver")
    with tr.span("sources.write.exec"):
        write_assigned_corpus(
            vectors, staged["centroids"], staged["silver"], id_col="vec_id"
        )


def _closed_loop(run: Run, staged: dict, queries: _Queries, seconds: float,
                 min_queries: int, parent: int | None = None) -> list:
    """Each client sends its next query when the previous one has returned,
    until ``seconds`` have passed and ``min_queries`` have completed.
    Returns (qid, kind, arg, latency_s, answer) per completed query."""
    done: list[tuple[int, str, object, float, object]] = []
    lock = threading.Lock()
    deadline = time.perf_counter() + seconds

    def client():
        while True:
            with lock:
                if time.perf_counter() >= deadline and len(done) >= min_queries:
                    return
            qid, kind, arg = queries.next()
            t = time.perf_counter()
            with run.tracer.span(f"query.{kind}", parent=parent):
                ans = run.outcomes.run(
                    f"query {kind} {qid}", _query, run, staged, kind, arg, qid
                )
            lat = time.perf_counter() - t
            with lock:
                done.append((qid, kind, arg, lat, ans))

    threads = [
        threading.Thread(target=client, daemon=True)
        for _ in range(CLIENT_THREADS)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return done


def kg_query(run: Run) -> dict:
    tr = run.tracer
    start_s = run.start_session(input_bytes=2 * 1024 * 1024)

    t = time.perf_counter()
    # Staging the gold is kg_build's work and the warm-up is not measured:
    # neither is traced. The staging's ~20 s of Spark jobs warm the JVM's
    # shared scan, shuffle and write paths; the warm-up takes each query
    # kind's own plan through four times before timing starts.
    traced, tr.enabled = tr.enabled, False
    staged = _stage_gold(run)
    _stage_vectors(run, staged)
    tr.enabled = traced
    _stage_ivf(run, staged)
    queries = _Queries(run.seed, staged["drugs"], staged["proteins"], staged["vecs"])
    tr.enabled = False
    _closed_loop(run, staged, queries, 0.0, WARMUP_QUERIES)
    tr.enabled = traced
    setup_s = time.perf_counter() - t

    jobs0 = run.job_ids()
    steal0, t0 = host_steal_s(), time.perf_counter()
    with tr.span("kg_query.timed") as timed:
        done = _closed_loop(run, staged, queries, run.seconds, QUERY_MIN, timed)
    wall = time.perf_counter() - t0
    steal = host_steal_s() - steal0
    job_ids = sorted(run.job_ids() - jobs0)

    _check_kg_query(run, staged, done)
    lats = [d[3] for d in done]
    kind_p50 = {k: p50([d[3] for d in done if d[1] == k]) for k in QUERY_KINDS}
    p90 = tail_percentile(lats, 0.90)
    run.layers.update(run.session_counts(job_ids) if tr.enabled else {})
    run.layers["sources.bytes_written"] = _du(staged["silver"])
    run.info.update(
        wall_s=wall,
        host_steal_share=steal / (wall * (os.cpu_count() or 1)),
        queries_per_s=len(done) / wall,
        query_p50_s=p50(lats),
        n_samples=len(lats),
        client_threads=CLIENT_THREADS,
        **({"query_p90_s": p90} if p90 is not None else {}),
        **{f"p50_{k}_s": v for k, v in kind_p50.items()},
        **{f"{n}.rows": _parquet_rows(staged[n]) for n in QUERY_GOLD},
        drugs=len(staged["drugs"]),
        proteins=len(staged["proteins"]),
    )
    return {
        "setup_s": start_s + setup_s,
        "op_latency_s": geometric_mean(kind_p50.values()),
        "session_start_s": start_s,
    }


def _check_kg_query(run: Run, staged: dict, done: list) -> None:
    """Recompute a seeded sample of answers with DuckDB over the same
    parquet files."""
    import duckdb
    import numpy as np

    rng = random.Random(run.seed + 1)
    answered = [d for d in done if d[4] is not None]
    sample = []
    for kind in QUERY_KINDS:
        of_kind = [d for d in answered if d[1] == kind]
        sample += rng.sample(of_kind, min(3, len(of_kind)))
    con = duckdb.connect()
    try:
        for name in ("ppi", "dti", "gda"):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{staged[name + '_edges']}/*.parquet')"
            )
        con.execute(
            "CREATE VIEW silver AS SELECT * FROM read_parquet("
            f"'{staged['silver']}/**/*.parquet', hive_partitioning = true)"
        )
        cents = np.array(staged["centroids"])
        for qid, kind, arg, _lat, ans in sample:
            run.outcomes.check(
                f"duckdb {kind} {qid}", _duck_answer(con, kind, arg, cents) == _round(ans)
            )
    finally:
        con.close()


def _round(ans):
    return [
        (a, round(b, 5)) if isinstance(b, float) else (a, b) for a, b in ans
    ] if ans and isinstance(ans[0], tuple) else ans


def _duck_answer(con, kind: str, arg, cents):
    import numpy as np

    if kind == "P":
        return sorted(
            r[0] for r in con.execute("SELECT dst FROM ppi WHERE src = ?", [arg]).fetchall()
        )
    if kind == "I":
        q = np.array(arg)
        scores = cents @ q
        probes = sorted(range(len(cents)), key=lambda j: (-scores[j], j))[:IVF_NPROBE]
        rows = con.execute(
            "SELECT vec_id, embedding FROM silver WHERE cluster IN "
            f"({','.join(str(p) for p in probes)})"
        ).fetchall()
        ids = np.array([r[0] for r in rows])
        m = np.array([r[1] for r in rows])
        cos = np.round((m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q)), 6)
        order = sorted(range(len(ids)), key=lambda i: (-cos[i], ids[i]))[:QUERY_K]
        return [(int(ids[i]), round(float(cos[i]), 5)) for i in order]
    hop_dti = "SELECT src, regexp_replace(dst, '^uniprot:P', '') AS m FROM dti WHERE src = ?"
    hop_gda = "SELECT regexp_replace(src, '^ncbigene:', '') AS m, dst FROM gda"
    if kind == "H":
        sql = f"""
            SELECT g.dst, count(*) AS n FROM ({hop_dti}) d JOIN ({hop_gda}) g USING (m)
            GROUP BY g.dst ORDER BY n DESC, g.dst LIMIT {QUERY_K}"""
    else:
        sql = f"""
            SELECT g.dst, count(*) AS n FROM ({hop_dti}) d
            JOIN (SELECT regexp_replace(src, '^uniprot:P', '') AS a,
                         regexp_replace(dst, '^uniprot:P', '') AS b FROM ppi) p
              ON d.m = p.a
            JOIN ({hop_gda}) g ON p.b = g.m
            GROUP BY g.dst ORDER BY n DESC, g.dst LIMIT {QUERY_K}"""
    return [(r[0], int(r[1])) for r in con.execute(sql, [arg]).fetchall()]


WORKLOADS = {"kg_build": kg_build, "kg_query": kg_query}


def layer_metrics(run: Run, session_start_s: float) -> dict[str, float]:
    """Per-layer metrics from the traced run. A span ``<layer>.exec`` or
    ``<layer>.plan`` adds its self time to ``<layer>.exec_s`` or
    ``<layer>_s``, whichever is a metric, except that driver-side planning
    outside the read and schema layers all goes to ``plans.plan_s``;
    counters the workload recorded are added as they are. Layers the
    workload does not call stay 0."""
    out = {name: 0.0 for name in PER_LAYER}
    for span, secs in run.tracer.layer_seconds().items():
        layer, _, kind = span.rpartition(".")
        if kind == "plan" and not layer.startswith(("sources.", "schema.")):
            out["plans.plan_s"] += secs
        elif f"{span}_s" in out:
            out[f"{span}_s"] += secs
        elif kind in ("plan", "exec") and f"{layer}_s" in out:
            out[f"{layer}_s"] += secs
    out["session.start_s"] = session_start_s
    out["trace.overhead_s"] = run.tracer.overhead_s
    out.update({k: v for k, v in run.layers.items() if k in out})
    return out
