"""Bloom-shard layer: no false negatives ever, bounded false positives,
incremental executor-side build, saved-shards roundtrip (F1 tier;
reference analogue Slave.py:112,118-142)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from artemis_spark.functions.urls import host_partition_key
from artemis_spark.operators.bloom import (
    BloomShards,
    update_and_save_shards,
    with_bloom_maybe_seen,
    with_bloom_maybe_seen_shard_local,
)


def test_no_false_negatives_and_low_fp():
    bs = BloomShards(4, bits_per_shard=1 << 16, n_hashes=7)
    urls = pd.Series([f"http://h{i%37}.test/p{i}" for i in range(2000)])
    shards = np.array([i % 4 for i in range(2000)], dtype=np.int64)
    for s in range(4):
        bs.add(s, urls[shards == s])
    assert bs.might_contain(shards, urls).all()  # zero false negatives
    other = pd.Series([f"http://h{i%37}.test/OTHER{i}" for i in range(2000)])
    fp = bs.might_contain(shards, other).mean()
    assert fp < 0.05, f"false-positive rate too high: {fp}"


def test_shard_isolation():
    bs = BloomShards(2, bits_per_shard=1 << 14)
    bs.add(0, pd.Series(["http://a.test/x"]))
    assert bs.might_contain(np.array([0]), pd.Series(["http://a.test/x"]))[0]
    assert not bs.might_contain(np.array([1]), pd.Series(["http://a.test/x"]))[0]


def _urls(spark, tag, n=500):
    return spark.createDataFrame(
        [(f"http://h{i%11}.test/{tag}{i}", f"h{i%11}.test") for i in range(n)],
        "url string, host string",
    )


def test_distributed_build_and_probe(spark, tmp_path):
    df = _urls(spark, "p")
    v0, v1 = str(tmp_path / "v0"), str(tmp_path / "v1")
    update_and_save_shards(df, v0, None, 8, 1 << 16)
    bs = BloomShards.load_dir(v0)
    probed = with_bloom_maybe_seen(spark, df, bs)
    assert probed.where(~F.col("maybe_seen")).count() == 0  # all known
    fresh = _urls(spark, "NEW")
    fp = with_bloom_maybe_seen(spark, fresh, bs).where(F.col("maybe_seen")).count()
    assert fp < 25  # <5% false positives skip the anti-join bypass

    # incremental: second update must not lose the first round's URLs
    update_and_save_shards(fresh, v1, v0, 8, 1 << 16)
    bs = BloomShards.load_dir(v1)
    assert with_bloom_maybe_seen(spark, df, bs).where(~F.col("maybe_seen")).count() == 0
    assert with_bloom_maybe_seen(spark, fresh, bs).where(~F.col("maybe_seen")).count() == 0


def test_saved_shards_roundtrip_and_hardlink_reuse(spark, tmp_path):
    """update_and_save_shards writes exactly the bits an in-memory filter
    holds after the same adds; shards a round does not touch are
    hard-linked from the previous version, dirty ones rewritten."""
    import os

    S, m, k = 4, 1 << 14, 5

    def expected(df, into):
        rows = df.select(
            "url", host_partition_key(F.col("host"), S).alias("s")
        ).collect()
        for s in {r["s"] for r in rows}:
            into.add(s, pd.Series([r["url"] for r in rows if r["s"] == s]))
        return {r["s"] for r in rows}

    mem = BloomShards(S, m, k)
    first = spark.createDataFrame(
        [("http://a.test/1", "a.test"), ("http://a.test/2", "a.test")],
        "url string, host string",
    )
    p1, p2 = str(tmp_path / "v0"), str(tmp_path / "v1")
    assert update_and_save_shards(first, p1, None, S, m, k) == expected(first, mem)
    assert (BloomShards.load(p1).bits == mem.bits).all()  # load() reads the dir

    second = spark.createDataFrame([("http://b.test/3", "b.test")], "url string, host string")
    dirty = update_and_save_shards(second, p2, p1, S, m, k)
    assert dirty == expected(second, mem) and len(dirty) == 1
    assert (BloomShards.load_dir(p2).bits == mem.bits).all()
    ino = lambda p, s: os.stat(os.path.join(p, f"shard_{s:05d}.npy")).st_ino
    for s in range(S):
        if s in dirty:
            assert ino(p2, s) != ino(p1, s)  # dirty: rewritten
        else:
            assert ino(p2, s) == ino(p1, s)  # clean: linked


def test_shard_local_probe_equals_broadcast(spark, tmp_path):
    df = _urls(spark, "p")
    bdir = str(tmp_path / "bloomdir")
    update_and_save_shards(df, bdir, None, 8, 1 << 16)
    bs = BloomShards.load_dir(bdir)
    mixed = df.union(_urls(spark, "NEW"))
    via_bc = {
        (r["url"], r["maybe_seen"])
        for r in with_bloom_maybe_seen(spark, mixed, bs).collect()
    }
    via_local = {
        (r["url"], r["maybe_seen"])
        for r in with_bloom_maybe_seen_shard_local(mixed, bdir, 4).collect()
    }
    assert via_local == via_bc


def test_shard_key_matches_engine(spark):
    df = spark.createDataFrame([("h%d.test" % i,) for i in range(50)], "host string")
    got = df.select(host_partition_key(F.col("host"), 8).alias("s")).collect()
    assert all(0 <= r["s"] < 8 for r in got)
