"""Bloom-shard layer: no false negatives ever, bounded false positives,
incremental distributed build, save/load roundtrip (F1 tier;
reference analogue Slave.py:112,118-142)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from artemis_spark.functions.urls import host_partition_key
from artemis_spark.operators.bloom import (
    BloomShards,
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


def test_distributed_build_and_probe(spark):
    bs = BloomShards(8, bits_per_shard=1 << 16)
    df = spark.createDataFrame(
        [(f"http://h{i%11}.test/p{i}", f"h{i%11}.test") for i in range(500)],
        "url string, host string",
    )
    bs.update_from_df(df)
    probed = with_bloom_maybe_seen(spark, df, bs)
    assert probed.where(~F.col("maybe_seen")).count() == 0  # all known
    fresh = spark.createDataFrame(
        [(f"http://h{i%11}.test/NEW{i}", f"h{i%11}.test") for i in range(500)],
        "url string, host string",
    )
    fp = with_bloom_maybe_seen(spark, fresh, bs).where(F.col("maybe_seen")).count()
    assert fp < 25  # <5% false positives skip the anti-join bypass

    # incremental: second update must not lose the first round's URLs
    bs.update_from_df(fresh)
    assert with_bloom_maybe_seen(spark, df, bs).where(~F.col("maybe_seen")).count() == 0
    assert with_bloom_maybe_seen(spark, fresh, bs).where(~F.col("maybe_seen")).count() == 0


def test_save_dir_roundtrip_and_hardlink_reuse(tmp_path):
    import os

    bs = BloomShards(4, bits_per_shard=1 << 14, n_hashes=5)
    bs.add(1, pd.Series(["u1", "u2"]))
    p1 = str(tmp_path / "v0")
    bs.save_dir(p1)
    assert (BloomShards.load(p1).bits == bs.bits).all()  # load() dispatches on dir

    bs.add(2, pd.Series(["u3"]))
    p2 = str(tmp_path / "v1")
    bs.save_dir(p2, prev_path=p1, dirty_shards={2})
    assert (BloomShards.load_dir(p2).bits == bs.bits).all()
    ino = lambda p, s: os.stat(os.path.join(p, f"shard_{s:05d}.npy")).st_ino
    assert ino(p2, 0) == ino(p1, 0) and ino(p2, 1) == ino(p1, 1)  # clean: linked
    assert ino(p2, 2) != ino(p1, 2)  # dirty: rewritten


def test_shard_local_probe_equals_broadcast(spark, tmp_path):
    bs = BloomShards(8, bits_per_shard=1 << 16)
    df = spark.createDataFrame(
        [(f"http://h{i%11}.test/p{i}", f"h{i%11}.test") for i in range(500)],
        "url string, host string",
    )
    bs.update_from_df(df)
    bdir = str(tmp_path / "bloomdir")
    bs.save_dir(bdir)
    mixed = df.union(
        spark.createDataFrame(
            [(f"http://h{i%11}.test/NEW{i}", f"h{i%11}.test") for i in range(500)],
            "url string, host string",
        )
    )
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
