"""Workloads: seeded synthetic webs, crawl configs and the model oracle.

Every knob a workload sets is a constant of the workload.  Nothing is
derived from the core count, so two runs that differ only in
``master`` do the same work and carry the same config hash.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import math
import os
import shutil

OUTPUT_LOG_COLS = ("status", "image_id", "phash", "caption", "auth")


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    n_hosts: int
    pages_per_host: int
    # the web's own seeds (page 0 of a quarter of the hosts, torrent files)
    # plus pages 0..N-1 of every host: every host's budget fills from round
    # 0, so wave sizes do not depend on the seed
    dense_seeds_per_host: int
    politeness_budget: int
    revisit_delay_rounds: int
    state_delta_max_chain: int
    # rounds >= 1 a run measures per 10 s of --seconds
    measured_rounds: int = 1
    master: str = "local[4]"
    num_partitions: int = 4
    shuffle_partitions: int = 4
    bloom_shards: int = 8
    bloom_fp_target: float = 0.01
    state_buckets: int = 16

    @property
    def seeding(self) -> str:
        return f"dense{self.dense_seeds_per_host}"

    def web_spec(self, seed: int):
        from artemis_spark.datagen import WebSpec

        pages = self.n_hosts * self.pages_per_host
        return WebSpec(
            n_hosts=self.n_hosts,
            pages_per_host=self.pages_per_host,
            n_payloads=pages // 8,
            n_seeds=self.n_hosts // 4,
            seed=seed,
        )

    def expected_distinct_urls(self) -> int:
        # pages plus headroom for sitemap, torrent, magnet and login URLs
        return self.n_hosts * self.pages_per_host * 5 // 4

    def bloom_bits_per_shard(self) -> int:
        """m = -n ln p / ln^2 2 over all shards, rounded up to 64-bit words."""
        n, p = self.expected_distinct_urls(), self.bloom_fp_target
        m_total = -n * math.log(p) / math.log(2) ** 2
        return int(math.ceil(m_total / self.bloom_shards / 64.0)) * 64

    def crawl_config(self):
        from artemis_spark.plans.crawl import CrawlConfig

        return CrawlConfig(
            politeness_budget=self.politeness_budget,
            revisit_delay_rounds=self.revisit_delay_rounds,
            num_partitions=self.num_partitions,
            bloom_shards=self.bloom_shards,
            bloom_bits_per_shard=self.bloom_bits_per_shard(),
            state_buckets=self.state_buckets,
            state_delta_max_chain=self.state_delta_max_chain,
            light_stats=True,
        )

    def model_config(self):
        from artemis_spark.model import ModelConfig

        return ModelConfig(
            politeness_budget=self.politeness_budget,
            revisit_delay_rounds=self.revisit_delay_rounds,
        )

    def config_hash(self, seed: int) -> str:
        """Hash of everything that defines the work; ``master`` excluded."""
        doc = {
            "crawl": dataclasses.asdict(self.crawl_config()),
            "web": dataclasses.asdict(self.web_spec(seed)),
            "seeding": self.seeding,
            "shuffle_partitions": self.shuffle_partitions,
            "measured_rounds": self.measured_rounds,
        }
        blob = json.dumps(doc, sort_keys=True, default=list).encode()
        return hashlib.sha256(blob).hexdigest()[:16]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="wide_recrawl",
            n_hosts=64,
            pages_per_host=128,
            dense_seeds_per_host=64,
            politeness_budget=64,
            revisit_delay_rounds=1,
            state_delta_max_chain=8,
            measured_rounds=2,
        ),
        Workload(
            name="narrow_discover",
            n_hosts=64,
            pages_per_host=128,
            dense_seeds_per_host=4,
            politeness_budget=4,
            revisit_delay_rounds=10**6,
            state_delta_max_chain=2,
        ),
    )
}


# --------------------------------------------------------------------- webs


def ensure_web(wl: Workload, seed: int, cache_root: str) -> str:
    """Generate (once) the web for (shape, seed, seeding) and return its dir.

    The seed reaches ``WebSpec.seed`` through a spec registered under a
    benchmark-owned tier name for the duration of the call."""
    from artemis_spark import datagen

    key = f"{wl.n_hosts}x{wl.pages_per_host}-s{seed}-{wl.seeding}"
    out = os.path.join(cache_root, "webs", key)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tier = f"perfbench:{key}"
    datagen.TIERS[tier] = wl.web_spec(seed)
    try:
        datagen.generate(tier, tmp)
    finally:
        datagen.TIERS.pop(tier, None)
    _write_dense_seeds(tmp, wl)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def _write_dense_seeds(web_dir: str, wl: Workload) -> None:
    """Replace seeds.parquet with the web's seeds plus pages 0..N-1 of every
    host, so the engine and the model read the same seed table."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from artemis_spark.datagen import page_url

    path = os.path.join(web_dir, "seeds.parquet")
    own = pq.read_table(path).to_pandas()
    dense = pd.DataFrame(
        [
            {"url": page_url(k, j), "depth": 0, "nature": "web_static"}
            for k in range(wl.n_hosts)
            for j in range(min(wl.dense_seeds_per_host, wl.pages_per_host))
        ]
    )
    seeds = pd.concat([own, dense]).drop_duplicates("url", ignore_index=True)
    pq.write_table(pa.Table.from_pandas(seeds, preserve_index=False), path)


# -------------------------------------------------------------------- model


def model_result(
    wl: Workload, seed: int, web_dir: str, n_rounds: int, cache_root: str
) -> dict:
    """ReferenceModel output for ``n_rounds`` rounds, cached on disk.

    Returns ``{"log": {(round, url): (status, image_id, phash, caption,
    auth)}, "seen": {url: (last_hash, refresh_rate, depth)}}``."""
    from artemis_spark.model import ReferenceModel

    path = os.path.join(
        cache_root, "models", f"{wl.name}-s{seed}-r{n_rounds}-{wl.config_hash(seed)}.json"
    )
    if not os.path.exists(path):
        res = ReferenceModel(web_dir, wl.model_config()).run(n_rounds)
        doc = {
            "log": [
                [r["round"], r["url"], *[r[c] for c in OUTPUT_LOG_COLS]]
                for r in res["crawl_log"]
            ],
            "seen": [
                [u, e["last_hash"], e["refresh_rate"], e["depth"]]
                for u, e in res["url_seen"].items()
            ],
        }
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(doc, f)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        doc = json.load(f)
    return {
        "log": {(r[0], r[1]): tuple(r[2:]) for r in doc["log"]},
        "seen": {r[0]: tuple(r[1:]) for r in doc["seen"]},
    }


def failed_rounds(engine_log: dict, engine_seen: dict, model: dict, n_rounds: int) -> set[int]:
    """Rounds whose crawl_log rows differ from the model's; a final
    url_seen mismatch fails the last round."""
    bad = set()
    for r in range(n_rounds):
        eng = {k: v for k, v in engine_log.items() if k[0] == r}
        mod = {k: v for k, v in model["log"].items() if k[0] == r}
        if eng != mod:
            bad.add(r)
    if engine_seen != model["seen"] and n_rounds:
        bad.add(n_rounds - 1)
    return bad
