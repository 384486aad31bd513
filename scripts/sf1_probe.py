#!/usr/bin/env python3
"""One-off sf1 scaling probe (VERDICT r5 #10 / r4 #7; Zipf text r8 #1).

No driver-generated sf1 exists, so this synthesizes a 10x replica of
sf0.1 into /tmp purely as a PERFORMANCE probe (never a correctness
input): each replica offsets every join key consistently (orders keep
their lineitems, customers their orders, suppliers their lineitems) so
per-replica join structure matches the original.

TEXT queries (documents-only inputs) run on a ZIPF-REALISTIC synthetic
corpus instead of replicated sf0.1 documents (r8: the driver corpus has a
~31-token vocabulary, which made the text-operator scale evidence
degenerate — every token and n-gram statistic was constant-size). The
Zipf corpus: 20k-word vocabulary, exponent 1.07, English marker words
at the head ranks (so language-id and quality gates see realistic
signal), doc lengths 60-200 tokens, an exact re-ingest double every
100th doc and a 90%-overlap near-dup every 25th. The small
corpus (5k docs — the sf0.1 document count) is the literal prefix of the
big one (50k), so slopes measure pure 10x-corpus scaling on identical
text statistics.

Runs every bench headline query at sf0.1 and at the synthetic sf1, one
warm session, and prints per-query slopes (t_sf1 / t_sf0.1; linear
scaling at 10x data = slope <= ~10 once the per-query fixed floor is
subtracted).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as papq

SRC = "/root/testdata/sf0.1"
# r07: regenerated layout (events now replicated too) — new dir so a stale
# r06 tree can't be half-reused
DST = "/tmp/sfprobe_sf1_r07"
# r08: Zipf-realistic text corpora (small = big's 5k-doc prefix)
ZIPF_SMALL = "/tmp/sfprobe_zipf_r08/small"
ZIPF_BIG = "/tmp/sfprobe_zipf_r08/big"
REPLICAS = 10

# r07: probe the FULL headline set (VERDICT r6 #4), not just the 5 most
# expensive — resolved at runtime from the bench list so the two can't
# drift.
from crossbar_data_process_spark.plans.queries import BENCH_QUERIES  # noqa: E402

PROBE_QUERIES = list(BENCH_QUERIES)

# Queries whose ONLY input table is documents — these run on the Zipf
# corpora (small vs big) instead of (sf0.1 vs replicated sf1). Anything
# text-flavored NOT in this set reads other tables too and stays on the
# replica path.
TEXT_QUERIES = {
    "q21_doc_exact_dedup",
    "q25_ngram_jaccard",
    "q26b_simhash",
    # r15: q53 folded out of BENCH_QUERIES (REGISTRY.md); the embedding
    # rows (q54, q67, q69) stay on the replica path
    "q59_segment_dedup",
    "q63_incremental_dedup",
    # r10: contamination screens text — Zipf path so shingle df statistics
    # are realistic; the benchmark carve (doc_id < 5000) is the small
    # corpus' literal prefix, so the eval set is IDENTICAL at both scales
    # (the workload-pinning property, by construction).
    "q65_contamination",
}

# key -> offset unit must exceed the key's max at sf0.1
OFFSETS = {
    "l_orderkey": 10_000_000, "o_orderkey": 10_000_000,
    "l_suppkey": 1_000_000, "s_suppkey": 1_000_000,
    "o_custkey": 1_000_000, "c_custkey": 1_000_000,
    "doc_id": 10_000_000, "vec_id": 10_000_000,
    "event_id": 10_000_000, "user_id": 1_000_000,
}


def _gen() -> None:
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    specs = {
        "lineitem": ["l_orderkey", "l_suppkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "customer": ["c_custkey"],
        "supplier": ["s_suppkey"],
        "embeddings": ["vec_id"],
        # events: replica users keep their own event streams (user_id
        # offset matches orders' o_custkey offset so the q57 as-of join
        # structure is preserved); identical timestamps model 10× traffic
        "events": ["event_id", "user_id"],
    }
    for table, keys in specs.items():
        cols = [f.name for f in papq.read_schema(f"{SRC}/{table}.parquet")]
        sel = ", ".join(
            f"{c} + i * {OFFSETS[c]} AS {c}" if c in keys else c for c in cols
        )
        con.execute(
            f"COPY (SELECT {sel} FROM read_parquet('{SRC}/{table}.parquet'), "
            f"range(0, {REPLICAS}) t(i)) TO '{DST}/{table}.parquet' (FORMAT PARQUET)"
        )
    # documents: offset id AND perturb text per replica (kept for any
    # replica-path query that happens to touch documents)
    con.execute(
        f"COPY (SELECT doc_id + i * {OFFSETS['doc_id']} AS doc_id, "
        f"text || ' r' || i AS text, lang, source, n_chars "
        f"FROM read_parquet('{SRC}/documents.parquet'), "
        f"range(0, {REPLICAS}) t(i)) TO '{DST}/documents.parquet' (FORMAT PARQUET)"
    )
    for table in ("part", "nation", "region"):
        src = f"{SRC}/{table}.parquet"
        if os.path.exists(src):
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{src}')) "
                f"TO '{DST}/{table}.parquet' (FORMAT PARQUET)"
            )


# English head words at the most frequent Zipf ranks: the engine's own
# STOPWORDS + LANG_MARKERS['en'] first, so stopword-ratio / language-id /
# quality gates all see realistic distributions.
_HEAD_WORDS = [
    "the", "and", "of", "to", "a", "in", "is", "it", "for", "on",
    "with", "as", "was", "at", "by", "an", "be", "this", "that", "are",
    "from", "or", "had", "but", "not", "have", "they", "his", "her", "we",
]

N_BIG_DOCS = 50_000
N_SMALL_DOCS = 5_000  # = sf0.1's document row count
VOCAB_SIZE = 20_000
ZIPF_S = 1.07


def zipf_texts(n_docs: int, seed: int = 20260814) -> list[str]:
    """The Zipf corpus recipe as a reusable generator: ``n_docs`` texts
    with the documented vocabulary/length/plant structure — a 90%-prefix near-dup
    every 25th doc, an exact re-ingest double every 100th."""
    rng = np.random.default_rng(seed)
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    probs = ranks ** -ZIPF_S
    probs /= probs.sum()
    vocab = np.array(
        _HEAD_WORDS + [f"w{i}" for i in range(VOCAB_SIZE - len(_HEAD_WORDS))]
    )
    lens = rng.integers(60, 201, n_docs)
    draws = rng.choice(VOCAB_SIZE, size=int(lens.sum()), p=probs)
    texts: list[str] = []
    off = 0
    for n in lens:
        texts.append(" ".join(vocab[draws[off : off + n]]))
        off += n
    # near-dup plant: every 25th doc = 90% prefix of its predecessor +
    # fresh tail (drives the LSH/Jaccard/resolve paths); exact re-ingest
    # double every 100th (drives the exact-fp fast paths)
    for i in range(1, n_docs, 25):
        prev = texts[i - 1].split()
        keep = int(len(prev) * 0.9)
        tail = vocab[rng.choice(VOCAB_SIZE, size=len(prev) - keep, p=probs)]
        texts[i] = " ".join(prev[:keep] + list(tail))
    for i in range(3, n_docs, 100):
        texts[i] = texts[i - 1]
    return texts


def write_zipf_documents(
    path: str, texts: list[str], n: int, row_group_size: int | None = None
) -> None:
    """``row_group_size=None`` keeps the historical single-shot layout
    (ZIPF_SMALL/BIG — sf1 slope comparability across rounds). A value
    streams the table out in row-group-sized slices through one
    ParquetWriter: bounded writer memory AND a splittable file — Spark
    can only split parquet at row-group boundaries, so the default
    ~1M-row groups cap a 5M-doc corpus scan at ~5 tasks on 32 cores
    (the --scale 1000 corpus uses 65536)."""
    os.makedirs(path, exist_ok=True)

    def _slice(lo: int, hi: int) -> pa.Table:
        return pa.table(
            {
                "doc_id": pa.array(range(lo, hi), pa.int64()),
                "text": texts[lo:hi],
                "lang": ["en"] * (hi - lo),
                "source": ["zipf"] * (hi - lo),
                "n_chars": pa.array(
                    [len(x) for x in texts[lo:hi]], pa.int64()
                ),
            }
        )

    if row_group_size is None:
        papq.write_table(_slice(0, n), f"{path}/documents.parquet")
        return
    first = _slice(0, min(row_group_size, n))
    with papq.ParquetWriter(
        f"{path}/documents.parquet", first.schema
    ) as writer:
        writer.write_table(first)
        for lo in range(row_group_size, n, row_group_size):
            writer.write_table(_slice(lo, min(lo + row_group_size, n)))


def _gen_zipf() -> None:
    texts = zipf_texts(N_BIG_DOCS)
    for path, n in ((ZIPF_SMALL, N_SMALL_DOCS), (ZIPF_BIG, N_BIG_DOCS)):
        write_zipf_documents(path, texts, n)


def main() -> None:
    from crossbar_data_process_spark import get_spark
    from crossbar_data_process_spark.plans.queries import QUERIES

    if not os.path.exists(f"{DST}/lineitem.parquet"):
        _gen()
    if not os.path.exists(f"{ZIPF_BIG}/documents.parquet"):
        _gen_zipf()
    # input-sized AQE margin (session.py, r15): this session processes
    # the 10× replica, not the sf0.1 dir the SF-dir signal would see —
    # declare the replica's actual parquet bytes so the protective
    # initial-partition grain scales with what the probe really reads
    replica_bytes = sum(
        os.path.getsize(os.path.join(dp, fn))
        for dp, _dirs, fns in os.walk(DST)
        for fn in fns
        if fn.endswith(".parquet")
    )
    spark = get_spark(app_name="sf1-probe", input_bytes=replica_bytes)
    spark.sparkContext.setLogLevel("ERROR")
    QUERIES["q17_multi_source_merge"](spark, SRC).limit(1).collect()  # warm
    QUERIES["q21_doc_exact_dedup"](spark, ZIPF_SMALL).limit(1).collect()  # warm

    # corpus stats: document count and vocabulary size of each Zipf corpus
    con = duckdb.connect()
    for label, p in (("small", ZIPF_SMALL), ("big", ZIPF_BIG)):
        ndocs, nvocab = con.sql(
            f"""
            SELECT (SELECT COUNT(*) FROM read_parquet('{p}/documents.parquet')),
                   COUNT(DISTINCT tok)
            FROM (SELECT unnest(string_split(trim(text), ' ')) AS tok
                  FROM read_parquet('{p}/documents.parquet'))
            """
        ).fetchall()[0]
        print(
            json.dumps({f"zipf_{label}": {"docs": ndocs, "vocab": nvocab}}),
            flush=True,
        )

    from crossbar_data_process_spark.plans.queries import QUERIES as _Q

    probe_fns = {name: _Q[name] for name in PROBE_QUERIES}

    out: dict[str, dict[str, float]] = {}
    for name, fn in probe_fns.items():
        text = name in TEXT_QUERIES
        pair = (
            (("sf0.1", ZIPF_SMALL), ("sf1", ZIPF_BIG))
            if text
            else (("sf0.1", SRC), ("sf1", DST))
        )
        times = {}
        for label, sf_dir in pair:
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            times[label] = round(time.perf_counter() - t0, 3)
        times["slope"] = round(times["sf1"] / times["sf0.1"], 2)
        times["corpus"] = "zipf" if text else "replica"
        out[name] = times
        print(json.dumps({name: times}), flush=True)
    print(json.dumps({"probe": out}))
    spark.stop()


if __name__ == "__main__":
    main()
