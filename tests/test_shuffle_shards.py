"""Seeded global shuffle-to-shards: assignment + writer byte-stability.

The cross-engine value check of the assignment lives in the registry
oracle (``shuffle_shards_audit``); here we pin the operator contract
(balance ±1, dense within-shard positions, determinism) and the
writer's promise: two runs produce IDENTICAL bytes."""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.operators.sampling import seeded_shuffle
from air_quality_etl_pipeline_spark.sources.writers import (
    write_shuffled_shards,
)


def test_assignment_balance_and_density(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n = docs.count()
    s = seeded_shuffle(docs, "doc_id", 8, seed="t")
    per = {
        r["shard"]: (r["n"], r["mn"], r["mx"])
        for r in s.groupBy("shard")
        .agg(
            F.count("*").alias("n"),
            F.min("pos").alias("mn"),
            F.max("pos").alias("mx"),
        )
        .collect()
    }
    assert set(per) == set(range(8))
    sizes = [per[k][0] for k in sorted(per)]
    assert sum(sizes) == n
    assert max(sizes) - min(sizes) <= 1
    # positions are dense 0..size-1 within every shard
    for k, (cnt, mn, mx) in per.items():
        assert (mn, mx) == (0, cnt - 1)
    # round-robin: the FIRST num_shards ranks land on distinct shards
    assert sorted(sizes, reverse=True) == sizes  # shard 0 fills first


def test_assignment_deterministic_and_seed_sensitive(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    a = {
        (r["doc_id"], r["shard"], r["pos"])
        for r in seeded_shuffle(docs, "doc_id", 8, seed="t").collect()
    }
    b = {
        (r["doc_id"], r["shard"], r["pos"])
        for r in seeded_shuffle(docs, "doc_id", 8, seed="t").collect()
    }
    c = {
        (r["doc_id"], r["shard"], r["pos"])
        for r in seeded_shuffle(docs, "doc_id", 8, seed="u").collect()
    }
    assert a == b
    assert a != c  # a different seed reshuffles


def _shard_digests(root: str) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for dirpath, _dirs, files in os.walk(root):
        shard = os.path.basename(dirpath)
        if not shard.startswith("shard="):
            continue
        digs = []
        for fn in files:
            if fn.endswith(".parquet"):
                with open(os.path.join(dirpath, fn), "rb") as f:
                    digs.append(hashlib.sha256(f.read()).hexdigest())
        out[shard] = sorted(digs)
    return out


def test_writer_bytes_stable_across_runs(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    p1, p2 = str(tmp_path / "run1"), str(tmp_path / "run2")
    write_shuffled_shards(docs, p1, "doc_id", 8, seed="t")
    write_shuffled_shards(docs, p2, "doc_id", 8, seed="t")
    d1, d2 = _shard_digests(p1), _shard_digests(p2)
    assert set(d1) == {f"shard={i}" for i in range(8)}
    assert d1 == d2  # identical bytes, shard for shard
    # round-trip: every doc present exactly once, pos order intact
    back = spark.read.parquet(p1)
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()
    redo = seeded_shuffle(docs, "doc_id", 8, seed="t").select(
        "doc_id", "shard", "pos"
    )
    diff = (
        back.select("doc_id", F.col("shard").cast("long").alias("shard"), "pos")
        .exceptAll(redo)
        .count()
    )
    assert diff == 0


# ---------------------------------------------------------------------------
# Property: assignment == pure-Python reference
# ---------------------------------------------------------------------------

import hashlib as _hl

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _ref_assignment(keys, num_shards, seed):
    """Pure-Python twin of sampling.seeded_shuffle: 60-bit md5 draw,
    rank by (draw, key), round-robin shard, div position."""
    draws = {
        k: int(_hl.md5(f"{seed}:{k}".encode()).hexdigest()[:15], 16)
        for k in keys
    }
    ranked = sorted(keys, key=lambda k: (draws[k], k))
    return {
        k: ((i % num_shards), (i // num_shards))
        for i, k in enumerate(ranked)
    }


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    keys=st.lists(
        st.integers(0, 10**6), min_size=1, max_size=60, unique=True
    ),
    num_shards=st.integers(1, 7),
)
def test_seeded_shuffle_property_matches_reference(spark, keys, num_shards):
    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    got = {
        r["doc_id"]: (r["shard"], r["pos"])
        for r in seeded_shuffle(df, "doc_id", num_shards, seed="p").collect()
    }
    assert got == _ref_assignment(keys, num_shards, "p")


def test_duplicate_key_raises_in_plan(spark):
    """seeded_shuffle's unique-key contract is ENFORCED, not just
    documented (round-10 verdict #2): a duplicate key makes the plan
    raise at execution — the in-plan guard, so building the
    DataFrame is free and no extra Spark action runs."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    df = spark.createDataFrame(
        [(1,), (2,), (2,), (3,)], "doc_id long"
    )
    out = seeded_shuffle(df, "doc_id", 2)  # builds fine — check is in-plan
    with pytest.raises(
        SparkRuntimeException, match="seeded_shuffle: duplicate 'doc_id'"
    ):
        out.collect()
    # deduplicated upstream, the same key column shuffles cleanly
    assert (
        seeded_shuffle(df.dropDuplicates(["doc_id"]), "doc_id", 2).count()
        == 3
    )
