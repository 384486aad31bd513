"""Deterministic sampling for training-data mixes (engine extension;
LLM-pipeline charter).

``df.sample()`` draws from a per-partition RNG stream: the result changes
with partitioning, task retries, and row order — unacceptable for a
pretraining mix that must be reproducible bit-for-bit across reruns and
cluster sizes. ``deterministic_sample`` decides membership per ROW from a
hash of its id, so the same row makes the same decision everywhere: no RNG
state, no partitioning sensitivity, retry-safe, and naturally consistent
across tables (the same ``(key, salt)`` always lands in the same stratum).

Scale shape: pure scan-side Column expressions — membership is a filter
pushed into the scan projection, no shuffle, no driver involvement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 1e6 buckets: fractions resolve to ~1e-6 granularity, and the pmod stays
# far below 2^31 so ANSI arithmetic can't overflow downstream.
_BUCKETS = 1_000_000


def _bucket(key: Column, salt: str) -> Column:
    """Stable per-row bucket in [0, 1e6): 32-bit md5 prefix of (salt, key)
    — md5, not xxhash, so any engine can reproduce the draw (same trick as
    the MinHash/SimHash oracles). NULL keys are coalesced to a sentinel
    BEFORE hashing: ``concat_ws`` silently drops NULL arguments, which
    would collapse every NULL-key row into the single bucket of the bare
    salt string — the whole NULL population kept or dropped as one block.
    The sentinel keeps the draw well-defined (all NULL keys still share
    one bucket, as equal keys must) while making that behavior explicit
    and collision-free with any real string key."""
    safe_key = F.coalesce(key.cast("string"), F.lit("\x00__null_key__"))
    h = F.conv(
        F.substring(F.md5(F.concat_ws("\x1f", F.lit(salt), safe_key)), 1, 8),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(_BUCKETS))


def deterministic_sample(
    df: DataFrame,
    fraction: float,
    key_col: str,
    salt: str = "mix",
) -> DataFrame:
    """Keep ~``fraction`` of rows, decided per row by hash bucket — the
    same (key, salt) is kept or dropped identically on every run, engine,
    partitioning, and retry. Different ``salt`` values draw independent
    samples from the same keys."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.filter(_bucket(F.col(key_col), salt) < int(fraction * _BUCKETS))
