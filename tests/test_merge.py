"""``outer_merge`` (operators/merge.py) against a pure-Python pairwise fold.

The fold below is the operator's contract written out row by row: a full
outer join on ``on`` per added source, left to right, where a key with a
NULL part matches nothing, repeated keys fan out, shared columns combine
by their ``CoalesceSpec`` strategy and output columns keep their first
appearance. An n-ary merge that replaces the fold must pass these tests
unchanged.
"""

from __future__ import annotations

import random
from collections import Counter

from crossbar_data_process_spark.operators.merge import CoalesceSpec, outer_merge


def _py_combine(strategy: str, a, b):
    if strategy == "first_non_null":
        return a if a is not None else b
    if strategy == "array_union":
        if a is None and b is None:
            return None
        return list(dict.fromkeys((a or []) + (b or [])))
    if strategy in ("nullify_conflict", "effect_resolve"):
        if a is None or b is None:
            return b if a is None else a
        if a == b:
            return a
        if strategy == "effect_resolve" and "Unknown" in (a, b):
            return b if a == "Unknown" else a
        return None
    vals = [v for v in (a, b) if v is not None]
    if not vals:
        return None
    return max(vals) if strategy == "max" else min(vals)


def _py_merge_pair(left, right, on, strategies):
    (lcols, lrows), (rcols, rrows) = left, right
    shared = (set(lcols) & set(rcols)) - set(on)
    out_cols = [*on, *(c for c in lcols if c not in on)]
    out_cols += [c for c in rcols if c not in on and c not in shared]

    def combine(l, r):
        row = {k: (l if l is not None else r)[k] for k in on}
        for c in out_cols[len(on):]:
            a = l.get(c) if l is not None else None
            b = r.get(c) if r is not None else None
            if c in shared:
                row[c] = _py_combine(strategies.get(c, "first_non_null"), a, b)
            else:
                row[c] = a if c in lcols else b
        return row

    out, matched = [], set()
    for l in lrows:
        key = tuple(l[k] for k in on)
        hits = [
            i for i, r in enumerate(rrows)
            if None not in key and tuple(r[k] for k in on) == key
        ]
        matched.update(hits)
        out += [combine(l, rrows[i]) for i in hits] or [combine(l, None)]
    out += [combine(None, r) for i, r in enumerate(rrows) if i not in matched]
    return out_cols, out


def _py_outer_merge(sources, on, strategies):
    acc = sources[0]
    for nxt in sources[1:]:
        acc = _py_merge_pair(acc, nxt, on, strategies)
    return acc


def _frozen(v):
    return tuple(v) if isinstance(v, list) else v


def _check(spark, sources, ddls, on, specs):
    """Merges ``sources`` (column lists and row dicts) in Spark and in
    Python, asserts both agree, and returns Spark's columns and its rows
    as a multiset of tuples."""
    frames = [
        spark.createDataFrame([tuple(r[c] for c in cols) for r in rows], ddl)
        for (cols, rows), ddl in zip(sources, ddls)
    ]
    got = outer_merge(frames, on=on, specs=specs)
    cols, rows = _py_outer_merge(
        sources, on, {s.column: s.strategy for s in specs}
    )
    assert got.columns == cols
    want = Counter(tuple(_frozen(r[c]) for c in cols) for r in rows)
    have = Counter(tuple(map(_frozen, r)) for r in got.collect())
    assert have == want
    return got.columns, have


def test_repeated_keys_fan_out(spark):
    a = (["k", "x"], [{"k": 1, "x": f"a{i}"} for i in range(2)])
    b = (["k", "y"], [{"k": 1, "y": f"b{i}"} for i in range(3)])
    _, rows = _check(spark, [a, b], ["k int, x string", "k int, y string"], ["k"], [])
    assert sum(rows.values()) == 6 and len(rows) == 6


def test_null_key_rows_pass_through_once(spark):
    a = (["k1", "k2", "x"], [
        {"k1": None, "k2": "p", "x": "a0"},
        {"k1": 1, "k2": None, "x": "a1"},
        {"k1": 1, "k2": "p", "x": "a2"},
    ])
    b = (["k1", "k2", "x"], [
        {"k1": None, "k2": "p", "x": "b0"},
        {"k1": 1, "k2": None, "x": "b1"},
        {"k1": 1, "k2": "p", "x": "b2"},
    ])
    ddl = "k1 int, k2 string, x string"
    _, rows = _check(spark, [a, b], [ddl, ddl], ["k1", "k2"], [])
    # four NULL-key rows, each once and unmatched; the full key merges
    assert rows == Counter({
        (None, "p", "a0"): 1, (1, None, "a1"): 1,
        (None, "p", "b0"): 1, (1, None, "b1"): 1, (1, "p", "a2"): 1,
    })


def test_non_associative_strategies_fold_left_to_right(spark):
    """``((a, b), c)`` with ``a ≠ b`` is ``c`` for both conflict rules:
    the first pair nullifies and the third value fills the NULL."""
    for strategy, values in (
        ("nullify_conflict", ["x1", "x2", "x3"]),
        ("effect_resolve", ["Activation", "Repression", "Activation"]),
    ):
        sources = [(["k", "e"], [{"k": 1, "e": v}]) for v in values]
        _, rows = _check(
            spark, sources, ["k int, e string"] * 3, ["k"],
            [CoalesceSpec("e", strategy)],
        )
        assert rows == Counter({(1, values[2]): 1}), strategy
    sources = [(["k", "e"], [{"k": 1, "e": v}]) for v in ("Unknown", "Repression")]
    _, rows = _check(
        spark, sources, ["k int, e string"] * 2, ["k"],
        [CoalesceSpec("e", "effect_resolve")],
    )
    assert rows == Counter({(1, "Repression"): 1})


def test_columns_keep_first_appearance_order(spark):
    a = (["p", "k", "q"], [{"k": 1, "p": "a", "q": 1}])
    b = (["r", "q", "k", "p"], [{"k": 1, "r": "b", "q": 2, "p": None}])
    c = (["s", "k", "r"], [{"k": 2, "s": "c", "r": "c"}])
    ddls = [
        "p string, k int, q int",
        "r string, q int, k int, p string",
        "s string, k int, r string",
    ]
    columns, _ = _check(spark, [a, b, c], ddls, ["k"], [CoalesceSpec("q", "max")])
    assert columns == ["k", "p", "q", "r", "s"]


def test_random_sources_match_the_pairwise_fold(spark):
    """Seeded sources with repeated and NULL keys, every strategy, three
    and four sources."""
    strategies = {
        "arr": "array_union", "x": "nullify_conflict", "e": "effect_resolve",
        "hi": "max", "lo": "min", "p": "first_non_null",
    }
    ddl_of = {
        "k1": "int", "k2": "string", "arr": "array<string>", "x": "string",
        "e": "string", "hi": "int", "lo": "int", "p": "string",
    }
    value_of = {
        "arr": lambda rng: rng.choice([None, [], ["a"], ["b", "a"], ["c"]]),
        "x": lambda rng: rng.choice([None, "x", "y"]),
        "e": lambda rng: rng.choice([None, "Unknown", "Activation", "Repression"]),
        "hi": lambda rng: rng.choice([None, 1, 5, 9]),
        "lo": lambda rng: rng.choice([None, 1, 5, 9]),
        "p": lambda rng: rng.choice([None, "p", "q"]),
    }
    # "p" gets no spec: a shared column without one is first_non_null
    specs = [CoalesceSpec(c, s) for c, s in strategies.items() if c != "p"]
    for seed in range(4):
        rng = random.Random(seed)
        sources, ddls = [], []
        for _ in range(3 + seed % 2):
            props = rng.sample(sorted(value_of), rng.randint(1, 4))
            cols = ["k1", "k2", *props]
            rng.shuffle(cols)
            rows = [
                {
                    "k1": rng.choice([None, 1, 2]),
                    "k2": rng.choice([None, "u", "v"]),
                    **{c: value_of[c](rng) for c in props},
                }
                for _ in range(rng.randint(0, 5))
            ]
            sources.append((cols, rows))
            ddls.append(", ".join(f"{c} {ddl_of[c]}" for c in cols))
        _check(spark, sources, ddls, ["k1", "k2"], specs)
