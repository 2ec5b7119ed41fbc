"""Host-bucketed state: compacted bases are stored partitioned by
pmod(xxhash64(host), state_buckets).  The bucket modulus is pinned in
the manifest, a pre-bucketing flat state dir migrates without losing
rows, and the modulus changes no crawl output."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from artemis_spark.plans.crawl import CrawlConfig, CrawlEngine  # noqa: E402


def test_resume_from_legacy_flat_state_keeps_all_rows(spark, tmp_path, tiny_web):
    """A pre-bucketing state dir stores url_seen as flat files (no bucket=
    dirs).  Resuming must migrate it with a one-round full rewrite — not
    hard-link nothing and silently drop every clean-bucket row."""
    cfg = CrawlConfig(politeness_budget=5, num_partitions=4, bloom_shards=8)
    state = str(tmp_path / "state")
    eng = CrawlEngine(spark, tiny_web, state, cfg)
    eng.run(2)

    # rewrite the committed url_seen version in the legacy flat layout
    store = eng.store
    seen = store.read("url_seen").drop("bucket").collect()
    v = store.write_version(
        "url_seen", spark.createDataFrame(seen, store.read("url_seen").drop("bucket").schema)
    )
    store.commit(store.last_round(), {"url_seen": v})
    before = {r["url"] for r in seen}

    resumed = CrawlEngine(spark, tiny_web, state, cfg)
    resumed.run(1)
    after_df = resumed.store.read("url_seen")
    after = {r["url"] for r in after_df.collect()}
    assert before <= after, f"legacy rows lost on resume: {sorted(before - after)[:5]}"
    assert after_df.count() == after_df.select("url").distinct().count()
    assert "bucket" in after_df.columns  # migrated to the bucketed layout


def test_resume_with_different_state_buckets_uses_pinned_modulus(
    spark, tmp_path, tiny_web
):
    """The bucket modulus is pinned in the manifest at first commit; a
    resume with a different cfg.state_buckets must adopt the stored value
    (mixed-modulus pruning would duplicate URLs across buckets)."""
    state = str(tmp_path / "state")
    a = CrawlEngine(
        spark, tiny_web, state,
        CrawlConfig(politeness_budget=5, num_partitions=4, bloom_shards=8,
                    state_buckets=64),
    )
    a.run(2)
    b = CrawlEngine(
        spark, tiny_web, state,
        CrawlConfig(politeness_budget=5, num_partitions=4, bloom_shards=8,
                    state_buckets=256),  # conflicting config on resume
    )
    b.run(1)
    df = b.store.read("url_seen")
    assert df.count() == df.select("url").distinct().count()
    # every row's bucket still matches the PINNED modulus (64)
    bad = df.filter(
        F.col("bucket") != F.pmod(F.xxhash64("host"), F.lit(64)).cast("int")
    ).count()
    assert bad == 0
    assert int(b.store.manifest()["state_buckets"]) == 64


def test_bucketed_state_equals_single_bucket_run(spark, tmp_path, tiny_web):
    """state_buckets is a physical layout knob only: B=1 (full rewrite,
    round-1 behavior) and B=64 must produce identical crawls."""
    a = CrawlEngine(
        spark, tiny_web, str(tmp_path / "b1"),
        CrawlConfig(politeness_budget=5, num_partitions=4, bloom_shards=8,
                    state_buckets=1),
    )
    a.run(2)
    b = CrawlEngine(
        spark, tiny_web, str(tmp_path / "b64"),
        CrawlConfig(politeness_budget=5, num_partitions=4, bloom_shards=8,
                    state_buckets=64),
    )
    b.run(2)

    def seen(eng):
        return {
            (r["url"], r["last_hash"], r["refresh_rate"], r["depth"])
            for r in eng.store.read("url_seen").collect()
        }

    def log(eng):
        return {
            (r["round"], r["url"], r["status"])
            for r in eng.store.read_appended("crawl_log").collect()
        }

    assert seen(a) == seen(b)
    assert log(a) == log(b)
