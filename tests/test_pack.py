"""Greedy sequence packing (functions/pack.py).

Oracle strategy: ``greedy_pack`` is property-tested against a
row-at-a-time reference loop (the literal statement of the greedy
rule); ``pack_table`` is checked against the committed recursive-CTE
DuckDB oracle and for partitioning-independence; ``pack_census``
against hand-computed fills on planted shards.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from hyrise_generalized_dedup_spark.functions.pack import (
    DEFAULT_SALT,
    greedy_pack,
    pack_census,
    pack_shard,
    pack_shard_oracle_sql,
    pack_table,
)


def _loop_pack(tokens, capacity):
    """Row-at-a-time greedy reference: the rule, stated literally."""
    pack_id, offset = [], []
    cur, acc = 0, 0
    for i, t in enumerate(tokens):
        if i == 0:
            pack_id.append(0)
            offset.append(0)
            acc = t
        elif acc + t <= capacity:
            pack_id.append(cur)
            offset.append(acc)
            acc += t
        else:
            cur += 1
            pack_id.append(cur)
            offset.append(0)
            acc = t
    return pack_id, offset


def _py_shard(key: str, n_shards: int, salt: str = DEFAULT_SALT) -> int:
    h = hashlib.md5((key + "\x1f" + salt).encode()).hexdigest()
    return int(h[:12], 16) % n_shards


# ------------------------------------------------------------- greedy kernel


@pytest.mark.parametrize(
    "tokens,capacity",
    [
        ([], 10),
        ([3], 10),
        ([15], 10),               # oversize doc alone
        ([10, 10, 10], 10),       # exact fits, one per pack
        ([4, 4, 4], 10),          # 4+4 pack, 4 spills
        ([0, 0, 0], 10),          # zero-token docs share pack 0
        ([15, 0, 3], 10),         # zero after oversize opens a new pack
        ([5, 0, 5, 0, 1], 10),    # zeros interleaved at offsets
        ([1] * 25, 7),
    ],
)
def test_greedy_matches_loop(tokens, capacity):
    got_id, got_off = greedy_pack(np.asarray(tokens, np.int64), capacity)
    want_id, want_off = _loop_pack(tokens, capacity)
    assert got_id.tolist() == want_id
    assert got_off.tolist() == want_off


def test_greedy_rejects_bad_inputs():
    with pytest.raises(ValueError):
        greedy_pack(np.asarray([1, 2], np.int64), 0)
    with pytest.raises(ValueError):
        greedy_pack(np.asarray([1, -2], np.int64), 10)


def test_greedy_property_random():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=30), max_size=120),
        st.integers(min_value=1, max_value=25),
    )
    def check(tokens, capacity):
        got_id, got_off = greedy_pack(np.asarray(tokens, np.int64), capacity)
        want_id, want_off = _loop_pack(tokens, capacity)
        assert got_id.tolist() == want_id
        assert got_off.tolist() == want_off

    check()


def test_greedy_invariants_dense():
    """Structural invariants on a dense draw: pack ids are a non-
    decreasing 0-based sequence, offsets restart at 0, and every pack
    except oversize singletons fits the capacity."""
    rng = np.random.default_rng(7)
    tokens = rng.integers(0, 40, size=2000).astype(np.int64)
    cap = 64
    pid, off = greedy_pack(tokens, cap)
    assert pid[0] == 0 and off[0] == 0
    steps = np.diff(pid)
    assert set(steps.tolist()) <= {0, 1}  # no pack skipped
    for p in range(int(pid.max()) + 1):
        m = pid == p
        fill = int(tokens[m].sum())
        assert off[m][0] == 0
        assert np.array_equal(
            off[m], np.concatenate(([0], np.cumsum(tokens[m])[:-1]))
        )
        if fill > cap:
            assert int(np.count_nonzero(tokens[m] > 0)) == 1  # oversize alone


# ------------------------------------------------------------- shard parity


def test_shard_matches_pure_python_and_duckdb(spark):
    import duckdb

    keys = list(range(100))
    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    got = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", pack_shard(F.col("doc_id"), 16).alias("s")
        ).collect()
    }
    con = duckdb.connect()
    sql = pack_shard_oracle_sql("doc_id", 16)
    duck = dict(
        con.execute(
            f"SELECT doc_id, {sql} FROM (SELECT unnest(range(100)) AS doc_id)"
        ).fetchall()
    )
    for k in keys:
        assert got[k] == _py_shard(str(k), 16) == duck[k], k


# ---------------------------------------------------------------- pack_table


def _toy_docs(spark, n=400, seed=3):
    rng = np.random.default_rng(seed)
    rows = [
        (i, " ".join(["w"] * int(t)) if t else "")
        for i, t in enumerate(rng.integers(0, 30, size=n))
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pack_table_matches_loop_per_shard(spark):
    docs = _toy_docs(spark)
    out = pack_table(docs, capacity=50, n_shards=4).collect()
    n_tokens = {r["doc_id"]: r["pack_n_tokens"] for r in out}
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r["pack_shard"], []).append(r)
    assert set(by_shard) == set(range(4))
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r["doc_id"])
        want_id, want_off = _loop_pack([r["pack_n_tokens"] for r in rows], 50)
        assert [r["pack_id"] for r in rows] == want_id, shard
        assert [r["pack_offset"] for r in rows] == want_off, shard
    # shard assignment itself is the md5 rule
    for r in out:
        assert r["pack_shard"] == _py_shard(str(r["doc_id"]), 4)
        assert n_tokens[r["doc_id"]] == r["pack_n_tokens"]


def test_pack_table_stable_under_repartitioning(spark):
    docs = _toy_docs(spark, n=250, seed=11)
    key = lambda rows: sorted(map(tuple, rows))  # noqa: E731
    a = key(pack_table(docs.repartition(1), capacity=40, n_shards=4).collect())
    b = key(pack_table(docs.repartition(13), capacity=40, n_shards=4).collect())
    assert a == b


def test_pack_table_one_row_per_doc_and_null_text(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, ""), (4, "  ")],
        "doc_id long, text string",
    )
    out = pack_table(docs, capacity=10, n_shards=1).collect()
    assert sorted(r["doc_id"] for r in out) == [1, 2, 3, 4]
    toks = {r["doc_id"]: r["pack_n_tokens"] for r in out}
    assert toks == {1: 3, 2: 0, 3: 0, 4: 0}
    # all four fit one pack in doc_id order
    assert {r["pack_id"] for r in out} == {0}


def test_pack_table_matches_duckdb_recursive_cte(spark, sf_tiny):
    """The committed driver oracle, run directly at sf0.001."""
    import duckdb

    from hyrise_generalized_dedup_spark.functions.queries import (
        TEXT_ORACLES,
        TEXT_QUERIES,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf_tiny}/documents.parquet')"
    )
    duck = sorted(map(tuple, con.execute(TEXT_ORACLES["text_seq_packing"]).fetchall()))
    got = sorted(
        map(tuple, TEXT_QUERIES["text_seq_packing"](spark, sf_tiny).collect())
    )
    assert got == duck and len(got) > 0


# ----------------------------------------------------------------- plan shape


def test_pack_plan_text_never_enters_python(spark, sf_tiny):
    """The greedy walk's pandas group receives only (doc_id, shard,
    n_tokens) — content is projected away BEFORE the one exchange."""
    import re

    from hyrise_generalized_dedup_spark.functions.queries import TEXT_QUERIES

    df = TEXT_QUERIES["text_seq_packing"](spark, sf_tiny)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    args = re.search(r"pack_group\(([^)]*)\)", plan)
    assert args and "text#" not in args.group(1), plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1  # one shuffle total


# --------------------------------------------------------------- pack_census


def test_pack_census_fill_waste_oversize(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(["t"] * n)) for i, n in enumerate([4, 4, 9, 15, 2])],
        "doc_id long, text string",
    )
    packed = pack_table(docs, capacity=10, n_shards=1)
    rows = {
        (r["pack_shard"], r["pack_id"]): r
        for r in pack_census(packed, capacity=10).collect()
    }
    # walk: [4,4] -> pack0 fill 8; [9] -> pack1 fill 9; [15] -> pack2
    # oversize; [2] -> pack3
    assert rows[(0, 0)]["n_docs"] == 2 and rows[(0, 0)]["fill_tokens"] == 8
    assert rows[(0, 0)]["waste_tokens"] == 2 and not rows[(0, 0)]["oversize"]
    assert rows[(0, 1)]["fill_tokens"] == 9 and rows[(0, 1)]["waste_tokens"] == 1
    assert rows[(0, 2)]["oversize"] and rows[(0, 2)]["waste_tokens"] == 0
    assert rows[(0, 3)]["fill_tokens"] == 2
    # census partitions the docs
    assert sum(r["n_docs"] for r in rows.values()) == 5


class TestChunkWindows:
    def _mirror(self, n, w, s):
        if n == 0:
            return []
        out, k = [], 0
        while True:
            start = k * s
            if start >= n:
                break
            out.append((k, start, min(w, n - start)))
            if start + w >= n:
                break
            k += 1
        return out

    def test_matches_python_mirror_across_edges(self, spark):
        from hyrise_generalized_dedup_spark.functions.pack import chunk_windows

        w, s = 8, 5
        # edges: empty, 1, s, w, w+1, exact multiple of s, large
        lens = [0, 1, 5, 8, 9, 10, 15, 16, 20, 21, 40, 100]
        docs = spark.createDataFrame(
            [(i, " ".join(["t"] * n)) for i, n in enumerate(lens)],
            ["doc_id", "text"],
        )
        got: dict[int, list] = {}
        for r in chunk_windows(docs, window=w, stride=s).collect():
            got.setdefault(r["doc_id"], []).append(
                (r["chunk_id"], r["chunk_start"], r["chunk_len"])
            )
        for i, n in enumerate(lens):
            assert sorted(got.get(i, [])) == self._mirror(n, w, s), (i, n)

    def test_every_token_covered_no_empty_windows(self, spark):
        from hyrise_generalized_dedup_spark.functions.pack import chunk_windows

        docs = spark.createDataFrame(
            [(i, " ".join(["t"] * (i * 7 + 1))) for i in range(40)],
            ["doc_id", "text"],
        )
        rows = chunk_windows(docs, window=16, stride=11).collect()
        by_doc: dict[int, list] = {}
        for r in rows:
            assert 1 <= r["chunk_len"] <= 16
            by_doc.setdefault(r["doc_id"], []).append(r)
        for i, chunks in by_doc.items():
            n = i * 7 + 1
            last = max(chunks, key=lambda r: r["chunk_id"])
            assert last["chunk_start"] + last["chunk_len"] == n  # tail reached
            # consecutive windows overlap or touch: full coverage
            starts = sorted(r["chunk_start"] for r in chunks)
            assert all(b - a <= 16 for a, b in zip(starts, starts[1:]))

    def test_census_matches_windows(self, spark):
        from hyrise_generalized_dedup_spark.functions.pack import (
            chunk_census,
            chunk_windows,
        )

        docs = spark.createDataFrame(
            [(i, " ".join(["t"] * n)) for i, n in enumerate([0, 3, 200, 129])],
            ["doc_id", "text"],
        )
        ch = {
            i: sorted(rs, key=lambda r: r["chunk_id"])
            for i, rs in __import__("itertools").groupby(
                sorted(
                    chunk_windows(docs).collect(), key=lambda r: r["doc_id"]
                ),
                key=lambda r: r["doc_id"],
            )
        }
        ch = {i: list(rs) for i, rs in ch.items()}
        for r in chunk_census(docs).collect():
            rows = ch.get(r["doc_id"], [])
            assert r["n_chunks"] == len(rows)
            assert r["chunk_cov_tokens"] == sum(x["chunk_len"] for x in rows)
            assert r["last_chunk_len"] == (
                max(rows, key=lambda x: x["chunk_id"])["chunk_len"] if rows else 0
            )

    def test_bad_stride_rejected(self, spark):
        import pytest as _pytest

        from hyrise_generalized_dedup_spark.functions.pack import chunk_windows

        docs = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
        with _pytest.raises(ValueError):
            chunk_windows(docs, window=8, stride=0)
        with _pytest.raises(ValueError):
            chunk_windows(docs, window=8, stride=9)
