"""The crawl round loop — one Catalyst DAG per round.

This is the engine's flagship "query", the Spark re-expression of the
reference's full slave→master→slave cycle (SURVEY.md §3.1).
``CrawlEngine.run_round`` drives one ``_Round`` through ten named
phases, in order:

    read_state   url_seen; frontier ∪ recrawl-due rows (A2, merge-on-read)
    route        scheme/domain rules (F2,F3) -> host routing shuffle (P2)
                 -> within-batch dedupe
    probe_bloom  bloom pre-filter (F1)
    validate     exact validate against url_seen (F4,A1)
    gate         robots TTL cache + broadcast flags (F5), auth sessions
    schedule     score + per-host politeness top-k (§2.6)
    fetch        fetch wave (S2/S3, synthetic join in-sandbox)
                 -> content gates (F6 fmt, F7 unchanged-hash)
                 -> payload decode/phash pandas UDF (input_hint)
                 -> .torrent magnet parse (S6)
    extract      outlink extraction (T2/T3) + redirects + sitemap
                 side-emit -> next candidates
    persist      MERGE url_seen, host_stats, robots_cache, auth_sessions,
                 frontier and bloom; append crawl_log + lineage_metrics
    commit       atomic manifest swap, vacuum, round totals

Each round commits atomically through the StateStore manifest, so a run
is resumable from any completed round (north_rule).  The reference's
equivalents are cited per stage in the operator modules.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.urls import (
    canonicalize,
    classify_nature,
    host_of,
    host_partition_key,
    resolve_url,
    salted_host,
    scheme_of,
)
from ..functions.images import decode_validate_image
from ..functions.markup import extract_outlinks, first_login_form
from ..operators.bloom import (
    BloomShards,
    update_and_save_shards,
    with_bloom_maybe_seen,
    with_bloom_maybe_seen_shard_local,
)
from ..operators.dedup import (
    as_new,
    bump_refresh_rate,
    dedupe_within_batch,
    split_by_bloom,
    validate_against_seen,
)
from ..operators.politeness import politeness_ranked, with_score
from ..operators.robots import apply_robots_flags, sitemap_candidates
from ..rounds import EPOCH_SQL, ROUND_SECONDS, round_ts
from ..schemas import MAX_REFRESH_RATE, URL_SEEN_SCHEMA
from ..sources.fetch import build_payload_cache, build_web, synthetic_fetch
from ..sources.state import StateStore
from ..sources.torrents import magnet_of_torrent
from .. import schemas as S

ROBOTS_BLOCKED_STATUS = 999  # crawl_log marker for robots-rejected URLs
AUTH_DEFERRED_STATUS = 998  # crawl_log marker for auth-gated (deferred) URLs
TORRENT_QUEUED_STATUS = 997  # crawl_log marker for magnet tasks queued from .torrent payloads

CANDIDATE_COLS = ["url", "host", "depth", "nature", "round_added"]

import pyspark.sql.types as T

HOST_STATS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("inlinks", T.LongType(), True),
    ]
)

CANDIDATES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("depth", T.IntegerType(), True),
        T.StructField("nature", T.StringType(), True),
        T.StructField("round_added", T.IntegerType(), True),
    ]
)


@dataclass
class CrawlConfig:
    politeness_budget: int = 8  # per (host, round) — north_rule's explicit budget
    revisit_delay_rounds: int = 10**6  # effectively crawl-once; tests override (A2)
    num_partitions: int = 32
    allowed_schemes: tuple[str, ...] = ("http", "https")  # F2 protocolRules
    allowed_fmts: tuple[str, ...] = ("png", "jpeg")  # F6 content-type gate
    bloom_bits_per_shard: int = 1 << 20
    bloom_shards: int = 64
    # Scale-path probe: repartition candidates by shard id, each task loads
    # only its shard file (no S*m/8 broadcast).  Default False: at sandbox
    # shard sizes the broadcast is cheaper; at 4096x3MB it is mandatory.
    bloom_shard_local: bool = False
    # compacted state bases are stored partitioned by
    # pmod(xxhash64(host), state_buckets), so wave-sliced reads prune
    # whole bucket dirs.  256 by default (pinned in the manifest on first
    # commit, so raising it never mixes moduli within one state dir); at
    # 10^10 URLs use 4096+.
    state_buckets: int = 256
    # delta-log state layout (sources/state.py): each round appends only
    # its update rows as a delta version (write cost O(|wave|) even when
    # every bucket is dirty); reads reconstruct per key, and a chain of
    # this many versions is compacted to one bucketed base on the next
    # round to bound read amplification.  Must be >= 1; 1 compacts every
    # round.
    state_delta_max_chain: int = 8
    decode_payloads: bool = True  # disable for pure scheduler benchmarks
    # T2/T3: extract outlinks from the fetched page BYTES (html/sitemap
    # markup grammar, functions/markup.py) when the web fixture carries
    # bodies; False falls back to the link_graph.outlinks join.
    extract_markup: bool = True
    # salt>0 shapes the wave for a real per-host HTTP fetcher; the
    # synthetic join path leaves it 0 (the join partitions by url).
    fetch_salt: int = 0
    light_stats: bool = False  # skip info-only frontier-size count (bench mode)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        web_dir: str,
        state_dir: str,
        config: CrawlConfig | None = None,
        seeds_path: str | None = None,
    ):
        self.spark = spark
        self.web_dir = web_dir
        self.cfg = config or CrawlConfig()
        if self.cfg.state_delta_max_chain < 1:
            raise ValueError(
                "CrawlConfig.state_delta_max_chain must be >= 1 (1 compacts "
                f"every round), got {self.cfg.state_delta_max_chain}"
            )
        self.seeds_path = seeds_path or f"{web_dir}/seeds.parquet"
        self.store = StateStore(spark, state_dir)
        self.link_graph = spark.read.parquet(f"{web_dir}/link_graph.parquet")
        self.payloads = spark.read.parquet(f"{web_dir}/payloads.parquet")
        # Two caches, not one pre-joined table: pages hash-partitioned by
        # host (co-located with the wave — per-round fetch joins are
        # exchange-free) and payload bytes hash-partitioned by image_id
        # (bytes attach per round only for fetched rows; pre-joining them
        # would replicate each shared image ~10x into a multi-GB cache).
        # On a cluster the same effect comes from Iceberg bucketed tables.
        self.use_markup = self.cfg.extract_markup and "body" in self.link_graph.columns
        self.web = build_web(
            self.link_graph,
            self.cfg.num_partitions,
            # body and outlinks carry the same links twice; cache only the
            # one the configured extraction path (T2/T3) actually reads
            include_outlinks=not self.use_markup,
            include_body=self.use_markup,
        ).persist()
        self.payload_cache = build_payload_cache(
            self.payloads, self.cfg.num_partitions
        ).persist()
        self.robots = spark.read.parquet(f"{web_dir}/robots_rules.parquet")
        self.domain_rules = spark.read.parquet(f"{web_dir}/domain_rules.parquet")
        # per-host accreditation rules (reference Task.py:12,41); absent
        # file (pre-auth fixtures) == empty table == everything auth='no'.
        # Explicit casts: empty/all-NULL parquet columns arrive VOID-typed.
        auth_path = f"{web_dir}/auth_rules.parquet"
        if os.path.exists(auth_path):
            self.auth_rules = spark.read.parquet(auth_path).select(
                F.col("host").cast("string").alias("host"),
                F.col("auth").cast("string").alias("auth"),
            )
        else:
            self.auth_rules = spark.createDataFrame([], S.AUTH_RULES_SCHEMA)
        # per-host login credentials (reference users table,
        # /root/reference/src/accreditation/User.py:28-37); absent file ==
        # no accounts == every auth-gated host stays deferred (r02 shape).
        creds_path = f"{web_dir}/credentials.parquet"
        if os.path.exists(creds_path):
            self.credentials = spark.read.parquet(creds_path).select(
                F.col("host").cast("string").alias("host"),
                F.col("auth").cast("string").alias("auth"),
                F.col("login").cast("string").alias("login"),
                F.col("password").cast("string").alias("password"),
                F.col("lifetime_s").cast("int").alias("lifetime_s"),
            )
        else:
            self.credentials = spark.createDataFrame([], S.CREDENTIALS_SCHEMA)
        # login pages for 'form' hosts (reference FormHandler.extractOne
        # fetches the form URL and parses the real markup,
        # /root/reference/src/accreditation/FormHandler.py:26-39).
        # self.loginable = hosts whose login can actually be PERFORMED:
        # an account exists AND (http_basic, which needs no form, OR the
        # host's login page parses to a fillable login form — password
        # input present, user/password fields elected per
        # SigInForm.pick_fields, Form.py:43-57).  Hosts whose form cannot
        # be filled (NoUserField/NoPassField) are excluded: they defer
        # forever exactly like credential-less hosts.  Legacy webs
        # without a login_pages table keep the pre-r04 behavior (every
        # account loginable).  All lazy DataFrames: nothing is parsed
        # until a round actually consults it.
        _null_form = [
            F.lit(None).cast("string").alias(c)
            for c in ("form_action", "user_field", "pass_field")
        ]
        lp_path = f"{web_dir}/login_pages.parquet"
        if os.path.exists(lp_path):
            parsed = (
                spark.read.parquet(lp_path)
                .select(
                    F.col("host").cast("string").alias("host"),
                    F.col("url").cast("string").alias("url"),
                    first_login_form(F.col("body").cast("string")).alias("_f"),
                )
                .select(
                    "host",
                    # fill_form action fallback: form.action or base_url
                    # (= the login page URL), Form.py:76-78
                    F.coalesce(F.col("_f.action"), F.col("url")).alias("form_action"),
                    F.col("_f.user_field").alias("user_field"),
                    F.col("_f.pass_field").alias("pass_field"),
                )
                .filter(
                    F.col("user_field").isNotNull()
                    & F.col("pass_field").isNotNull()
                )
            )
            self.loginable = (
                self.credentials.filter(F.col("auth") != "form")
                .select("host", "auth", "login", "lifetime_s", *_null_form)
                .unionByName(
                    self.credentials.filter(F.col("auth") == "form")
                    .join(parsed, "host", "inner")
                    .select(
                        "host", "auth", "login", "lifetime_s",
                        "form_action", "user_field", "pass_field",
                    )
                )
            )
        else:
            self.loginable = self.credentials.select(
                "host", "auth", "login", "lifetime_s", *_null_form
            )
        self.seeds = spark.read.parquet(self.seeds_path)
        self._bloom: BloomShards | None = None

    def close(self) -> None:
        """Release the persisted web/payload caches.  Cached plans live in
        the session's CacheManager until explicitly unpersisted — they do
        NOT die with the engine object, so a long-lived session running
        many engines (test suites, notebook reuse) leaks heap without
        this.  Each round releases its own pins and broadcasts."""
        for df in (self.web, self.payload_cache):
            try:
                df.unpersist()
            except Exception:
                pass

    # ------------------------------------------------------------------ state

    def _bloom_path(self, v: int) -> str:
        return f"{self.store.root}/bloom/v{v}"

    @property
    def bloom(self) -> BloomShards:
        if self._bloom is None:
            v = self.store.current_version("bloom")
            if v >= 0:
                self._bloom = BloomShards.load(self._bloom_path(v))
            else:
                self._bloom = BloomShards(self.cfg.bloom_shards, self.cfg.bloom_bits_per_shard)
        return self._bloom

    def bootstrap(self) -> None:
        """Round -1: frontier v0 = canonicalized seeds (S1,
        /root/reference/gateway.py:32-60)."""
        if self.store.last_round() >= -1 and self.store.current_version("frontier") >= 0:
            return
        seeds = self.seeds.select(
            canonicalize(F.col("url")).alias("url"),
            F.col("depth").cast("int").alias("depth"),
            # explicit cast: an all-null seeds.nature column type-infers as
            # non-string in parquet and coalesce would fail under ANSI
            # normalize: any unknown/missing nature is re-derived from the
            # URL so downstream code can assume the closed enum
            # (/root/reference/src/Task.py:16-20)
            F.when(
                F.col("nature").cast("string").isin(*S.NATURES),
                F.col("nature").cast("string"),
            ).otherwise(classify_nature(F.col("url"))).alias("nature"),
            F.lit(0).alias("round_added"),
        ).filter(F.col("url").isNotNull())
        seeds = seeds.withColumn("host", host_of(F.col("url"))).select(*CANDIDATE_COLS)
        fv = self.store.write_version("frontier", seeds)
        uv = self.store.write_version(
            "url_seen", self.spark.createDataFrame([], URL_SEEN_SCHEMA)
        )
        hv = self.store.write_version(
            "host_stats", self.spark.createDataFrame([], HOST_STATS_SCHEMA)
        )
        self.store.commit(-1, {"frontier": fv, "url_seen": uv, "host_stats": hv})

    # ------------------------------------------------------------------ round

    @staticmethod
    def _stale(df: DataFrame, at_round: int, delay_rounds: int) -> DataFrame:
        """A2 staleness (/root/reference/src/Task.py:94-95 inverted):
        at_round - last_controlled_round >= refresh_rate * delay."""
        return df.filter(
            (
                F.lit(at_round)
                - (
                    (
                        F.unix_timestamp("last_controlled")
                        - F.unix_timestamp(F.lit(EPOCH_SQL))
                    )
                    / F.lit(ROUND_SECONDS)
                ).cast("long")
            )
            >= F.col("refresh_rate").cast("long") * F.lit(delay_rounds)
        )

    def run_round(self) -> dict:
        """One crawl round: the phases of ``_Round`` in order.  Every exit
        — a commit, an empty round or an exception — releases the
        round's pins and broadcasts."""
        rnd = _Round(self)
        try:
            url_seen, frontier, recrawl_due = rnd.read_state()
            candidates, n_in, empty = rnd.route(frontier, recrawl_due)
            if empty:
                return rnd.commit_empty()
            definitely_new, maybe_seen = rnd.probe_bloom(candidates)
            schedulable = rnd.validate(definitely_new, maybe_seen, url_seen)
            wave, robots, gated, sessions = rnd.gate(candidates, schedulable)
            host_stats, scheduled, deferred = rnd.schedule(gated.fetchable, wave)
            fetched = rnd.fetch(scheduled)
            extracted, next_frontier, torrents = rnd.extract(
                fetched, scheduled, deferred, robots.rules
            )
            versions, chains, lineage, next_frontier, wall_ms = rnd.persist(
                candidates, gated, scheduled, fetched, extracted, next_frontier,
                torrents, url_seen, host_stats, robots, sessions,
            )
            return rnd.commit(versions, chains, lineage, next_frontier, n_in, wall_ms)
        finally:
            rnd.release()

    def run(self, n_rounds: int) -> list[dict]:
        """Run up to n_rounds, resuming from the last committed round."""
        self.bootstrap()
        out = []
        for _ in range(n_rounds):
            t0 = time.monotonic()
            stats = self.run_round()
            stats["round_wall_ms"] = int((time.monotonic() - t0) * 1000)
            out.append(stats)
            if stats.get("candidates", 0) == 0 and stats.get("new_candidates", 0) == 0:
                break
        return out


class _Wave(NamedTuple):
    """The round's distinct candidate hosts (a pin) and their state buckets."""

    hosts: DataFrame
    buckets: list[int]

    def slice(self, table: DataFrame) -> DataFrame:
        """A host-keyed state read cut to the wave's hosts: a
        PartitionFilter on the STORED bucket column (it pushes through a
        delta-chain reconstruction, whose grouping includes bucket), then
        a broadcast semi-join on the tiny host set."""
        if "bucket" in table.columns:
            table = table.filter(F.col("bucket").isin(self.buckets))
        return table.drop("bucket").join(F.broadcast(self.hosts), "host", "left_semi")


class _Robots(NamedTuple):
    cache: DataFrame  # the stored robots_cache read (chain reconstruction)
    refreshed: DataFrame  # rule sets re-fetched this round (pin)
    rules: DataFrame  # live cached ∪ refreshed rules of the wave's hosts (pin)


class _Gated(NamedTuple):
    """The three branches of the `gated` pin, each a filter scan of it."""

    blocked: DataFrame  # robots-disallowed
    deferred: DataFrame  # auth-gated host without a live session
    fetchable: DataFrame


class _Round:
    """One round's phases and the resources they create.

    Holds the round number, its logical clock, the pinned state-bucket
    modulus, and every pin and bloom broadcast made this round, so that
    :meth:`release` can free them all on any exit path.  Intermediates
    flow between phases as arguments and return values."""

    def __init__(self, engine: CrawlEngine):
        self.eng, self.cfg, self.store = engine, engine.cfg, engine.store
        self.r = self.store.last_round() + 1
        self.now = round_ts(self.r)
        self.t_start = time.monotonic()
        # One bucket modulus for every host-keyed state table (url_seen,
        # robots_cache, host_stats), pinned in the manifest on first
        # commit — a resume with a different cfg.state_buckets would
        # otherwise prune with the stored modulus while writing under the
        # new one, duplicating keys across buckets.
        stored_b = self.store.manifest().get("state_buckets")
        self.n_buckets = int(stored_b) if stored_b else self.cfg.state_buckets
        self.base_parts = max(1, min(self.cfg.num_partitions, self.n_buckets))
        self.pins: list[DataFrame] = []
        self.broadcasts: list = []

    def bucket_of(self, c: Column) -> Column:
        return F.pmod(F.xxhash64(c), F.lit(self.n_buckets)).cast("int")

    def with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn("bucket", self.bucket_of(F.col("host")))

    def pin(self, df: DataFrame) -> DataFrame:
        """Materialize-once node.  A round's tree (chain
        reconstruction ∪ recrawl scan → dedupe → robots/auth →
        politeness → fetch join → markup extraction → MERGE) feeds ~30
        driver actions; with cache() every one of them re-analyzes,
        re-optimizes and AQE-replans the FULL tree on the driver
        (profiled: executors 98% idle).  localCheckpoint truncates the
        lineage so downstream plans see a leaf scan and stay O(1)-
        sized.  Losing RDD lineage is safe by design: the committed
        state store, not Spark recompute, is the recovery mechanism."""
        pinned = df.localCheckpoint(eager=False)
        self.pins.append(pinned)
        return pinned

    def release(self) -> None:
        """Free every pin and broadcast of the round.  A pin's blocks
        belong to the checkpoint RDD under its LogicalRDD leaf;
        DataFrame.unpersist() does not release a localCheckpoint, so the
        RDD itself is unpersisted."""
        for pinned in self.pins:
            pinned._jdf.logicalPlan().rdd().unpersist(False)
        for bc in self.broadcasts:
            bc.destroy()

    # ------------------------------------------------------------ phases

    def read_state(self) -> tuple[DataFrame, DataFrame, DataFrame]:
        """(url_seen, stored frontier, recrawl-due rows)."""
        # A2 recrawl scheduler (/root/reference/src/Master.py:330-342),
        # merge-on-READ: stale URLs are derived from the committed
        # url_seen snapshot when the round starts instead of being
        # re-written into the frontier at round end — the frontier table
        # stays O(|new links|) while recrawl-heavy steady state would
        # otherwise rewrite O(|state|) rows every round (the r02 bench's
        # largest single write).
        url_seen = self.store.read("url_seen", URL_SEEN_SCHEMA)
        if len(self.store.delta_chain("url_seen")) > 1:
            # delta-layout read is a reconstruction aggregate consumed by
            # several jobs this round (recrawl scan, validate join, merge/
            # compaction) — materialize it once instead of recomputing
            url_seen = self.pin(url_seen)
        recrawl_due = CrawlEngine._stale(
            url_seen, self.r, self.cfg.revisit_delay_rounds
        ).select("url", "host", "depth", "nature", F.lit(self.r).alias("round_added"))
        return url_seen, self.store.read("frontier", CANDIDATES_SCHEMA), recrawl_due

    def route(self, frontier: DataFrame, recrawl: DataFrame) -> tuple[DataFrame, int | None, bool]:
        """(candidates pin, count or None under light_stats, empty?)."""
        cfg = self.cfg
        # F2 protocol rules + nature gating (tor/torrent unfetchable
        # in-sandbox) and F3 domain rules (broadcast blocklist anti-join)
        # apply BEFORE the routing exchange: the light_stats emptiness
        # probe below can then take(1) partition-by-partition over the
        # union — frontier splits first, so the common (non-empty) case
        # never evaluates the recrawl member, whose delta-chain
        # reconstruction aggregate would otherwise run a full O(|state|)
        # shuffle every round just to prove the round is non-empty.
        blocked_hosts = self.eng.domain_rules.filter(~F.col("allowed")).select("host")

        def admitted(df):
            return df.filter(
                scheme_of(F.col("url")).isin(*cfg.allowed_schemes)
                & ~F.col("nature").isin("web_static_tor", "web_static_torrent")
            ).join(F.broadcast(blocked_hosts), "host", "left_anti")

        pre_shuffle = admitted(frontier.unionByName(recrawl))
        # THE routing shuffle (reference P2, /root/reference/src/Slave.py:145-172):
        # one hash exchange by host up front; every downstream join/window/
        # groupBy on the wave path keys by (host, ...) so Catalyst reuses
        # this partitioning and plans the rest of the round exchange-free.
        candidates = self.pin(dedupe_within_batch(
            pre_shuffle.repartition(cfg.num_partitions, "host")
        ))
        if cfg.light_stats:
            # emptiness only, two-step: the frontier-only probe is one
            # parquet split's worth of work, and under AQE it is the only
            # shape that stays cheap — isEmpty on the full union would
            # materialize the recrawl member's delta-reconstruction
            # shuffle stage (O(|state|), growing every round) before the
            # limit even runs.  Only a drained frontier (end of crawl)
            # pays for the exact recrawl-inclusive probe.
            return candidates, None, admitted(frontier).isEmpty() and pre_shuffle.isEmpty()
        n_in = candidates.count()
        return candidates, n_in, n_in == 0

    def probe_bloom(self, candidates: DataFrame) -> tuple[DataFrame, DataFrame]:
        """F1: (definitely_new, maybe_seen)."""
        bloom_v = self.store.current_version("bloom")
        if self.cfg.bloom_shard_local and bloom_v >= 0:
            probed = with_bloom_maybe_seen_shard_local(
                candidates, self.eng._bloom_path(bloom_v), self.cfg.num_partitions
            )
        else:
            # broadcast probe (also round 0, where no per-shard directory
            # exists yet)
            probed = with_bloom_maybe_seen(
                self.eng.spark, candidates, self.eng.bloom, bc_registry=self.broadcasts
            )
        return split_by_bloom(probed)

    def validate(self, new: DataFrame, maybe_seen: DataFrame, url_seen: DataFrame) -> DataFrame:
        """F4: bloom negatives plus the exactly-validated maybe-seen rows."""
        return as_new(new).unionByName(
            validate_against_seen(maybe_seen, url_seen, self.r, self.cfg.revisit_delay_rounds)
        )

    def gate(
        self, candidates: DataFrame, schedulable: DataFrame
    ) -> tuple[_Wave, _Robots, _Gated, DataFrame]:
        """F5 robots + auth: (wave, robots, gated branches, auth_sessions
        to write)."""
        now = self.now
        wave, robots = self._robots(candidates)
        # Auth annotation (accreditationRules, reference Task.py:12,41;
        # AuthNature Task.py:22-27): one broadcast join on the schedulable
        # set gives every downstream branch (allowed, robots-blocked,
        # deferred) its auth marker.
        schedulable = schedulable.join(
            F.broadcast(self.eng.auth_rules), "host", "left"
        ).withColumn("auth", F.coalesce(F.col("auth"), F.lit("no")))
        decided = apply_robots_flags(schedulable, robots.rules, now)

        # Auth lifecycle (reference AccreditationCache/FormHandler,
        # /root/reference/src/accreditation/AccreditationCache.py:18-30,
        # FormHandler.py:9-36): an auth-gated host's URLs are fetchable
        # only under a LIVE session (now < established_at + lifetime_s).
        # First contact defers the URLs for one round (the form must be
        # fetched and parsed) while a login establishes the session; the
        # next round's wave fetches them with the session marker.  Hosts
        # with no credentials row defer forever (the r02 behavior).
        auth_sessions = self.store.read("auth_sessions", S.AUTH_SESSIONS_SCHEMA)
        live_sess_hosts = (
            auth_sessions.filter(
                F.unix_timestamp(F.lit(now))
                < F.unix_timestamp("established_at") + F.col("lifetime_s")
            )
            .select("host")
            .distinct()
        )
        # One broadcast LEFT join + flag columns, NOT a union/split of
        # semi/anti branches.  The whole gate chain (bloom probe ->
        # validate join -> robots join -> auth flags) is materialized
        # ONCE as the `gated` pin; every branch below — robots_blocked,
        # auth_deferred, fetchable — is a filter SCAN of that pin (a
        # branch with its own pin would re-run the chain, PLANS.md).
        gated = self.pin(decided.join(
            F.broadcast(live_sess_hosts.withColumn("_live", F.lit(True))),
            "host",
            "left",
        ))
        flags = ("robots_allowed", "_live")
        blocked = gated.filter(~F.col("robots_allowed")).drop(*flags)
        deferred = gated.filter(
            F.col("robots_allowed")
            & (F.col("auth") != "no")
            & F.col("_live").isNull()
        ).drop(*flags)
        fetchable = gated.filter(
            F.col("robots_allowed") & ((F.col("auth") == "no") | F.col("_live"))
        ).drop(*flags)

        # Login round: every deferred host whose login is PERFORMABLE
        # (credentials + parsed fillable form for 'form' hosts — see
        # CrawlEngine.loginable) gets a session stamped this round.  The
        # session id commits to the PARSED form evidence (action +
        # elected field names — FormHandler extractOne -> pick_fields ->
        # fill_form + submit, minus the network); for http_basic hosts
        # the form columns are NULL and concat_ws reduces to the
        # form-less host|login|round id.  The deferred host set (wave-
        # bounded, tiny) is the broadcast side; loginable streams.
        new_sessions = (
            self.eng.loginable.join(
                F.broadcast(deferred.select("host").distinct()),
                "host",
                "left_semi",
            )
            .select(
                "host",
                "auth",
                F.sha2(
                    F.concat_ws(
                        "|",
                        F.col("host"), F.col("login"), F.col("form_action"),
                        F.col("user_field"), F.col("pass_field"), F.lit(str(self.r)),
                    ),
                    224,
                ).alias("session_id"),
                F.lit(now).alias("established_at"),
                F.col("lifetime_s").cast("int").alias("lifetime_s"),
            )
        )
        sessions = auth_sessions.join(
            new_sessions.select("host"), "host", "left_anti"
        ).unionByName(new_sessions)
        return wave, robots, _Gated(blocked, deferred, fetchable), sessions

    def _robots(self, candidates: DataFrame) -> tuple[_Wave, _Robots]:
        """F5 robots with an honest TTL cache (/root/reference/src/Robot.py:91-98).

        Per-host rules carry their REAL fetch time in the persisted
        robots_cache table.  Hosts needed this round whose entry is
        missing or TTL-expired are re-fetched (in-sandbox: re-read from
        the live robots source) and stamped fetched_at=now; live entries
        are served from cache even if the source changed — exactly the
        staleness window a real crawler has.  Rule-less hosts get a
        NULL-pattern sentinel row so they are not re-fetched every round
        (negative caching, ≙ RobotCache caching empty parsers).

        At-scale shape (VERDICT r03 #2/#3): the wave only consults rules
        for ITS OWN hosts, so everything here is wave-bounded: the cache
        slice reads only the wave's buckets and hosts; the robots SOURCE
        is streamed with a broadcast semi-join on the missing/expired
        host set (the full source is NEVER broadcast — at 10^8 hosts that
        broadcast cannot build); ``rules`` (live slice ∪ refreshed) is
        all that apply_robots/sitemap discovery need."""
        now = self.now
        cache = self.store.read("robots_cache", S.ROBOTS_SCHEMA)
        hosts = self.pin(candidates.select("host").distinct())
        wave = _Wave(hosts, sorted(
            int(x["b"])
            for x in hosts.select(self.bucket_of(F.col("host")).alias("b"))
            .distinct()
            .collect()
        ))
        cache_slice = self.pin(wave.slice(cache))
        live_slice = cache_slice.filter(
            F.unix_timestamp(F.lit(now))
            <= F.unix_timestamp("fetched_at") + F.col("ttl_s")
        )
        need = hosts.join(
            F.broadcast(live_slice.select("host").distinct()), "host", "left_anti"
        )
        # explicit casts: an all-NULL column in a user-supplied robots
        # parquet arrives VOID-typed and corrupts downstream unions
        src_rules = self.pin(
            self.eng.robots.drop("fetched_at")
            .join(F.broadcast(need), "host", "left_semi")
            .select(
                "host",
                F.col("pattern").cast("string").alias("pattern"),
                F.col("allow").cast("boolean").alias("allow"),
                F.col("sitemap_url").cast("string").alias("sitemap_url"),
                F.lit(now).alias("fetched_at"),
                F.coalesce(F.col("ttl_s").cast("int"), F.lit(3600)).alias("ttl_s"),
            )
        )
        no_rules = need.join(
            F.broadcast(src_rules.select("host").distinct()), "host", "left_anti"
        ).select(
            "host",
            F.lit(None).cast("string").alias("pattern"),
            F.lit(None).cast("boolean").alias("allow"),
            F.lit(None).cast("string").alias("sitemap_url"),
            F.lit(now).alias("fetched_at"),
            F.lit(3600).alias("ttl_s"),
        )
        refreshed = self.pin(src_rules.unionByName(no_rules))
        return wave, _Robots(cache, refreshed, self.pin(live_slice.unionByName(refreshed)))

    def schedule(self, fetchable: DataFrame, wave: _Wave) -> tuple[DataFrame, DataFrame, DataFrame]:
        """§2.6 priority + politeness top-k: (host_stats read, scheduled,
        politeness-deferred).  The score join consults only wave hosts,
        so with_score broadcasts O(|wave hosts|) rows, never the full
        per-host history."""
        host_stats = self.store.read("host_stats", HOST_STATS_SCHEMA)
        scored = with_score(fetchable, wave.slice(host_stats))
        # one window evaluation (the gated pin preserves the routing
        # exchange's host partitioning through localCheckpoint, so the
        # window plans sort-only); scheduled and deferred are filter
        # scans of the ranked pin
        ranked = self.pin(politeness_ranked(scored))
        budget = self.cfg.politeness_budget
        return (
            host_stats,
            ranked.filter(F.col("_rk") <= budget).drop("_rk"),
            ranked.filter(F.col("_rk") > budget).drop("_rk"),
        )

    def _fmt_ok(self) -> Column:
        """F6 content-type gate (sitemaps carry no image payload).  NULL
        fmt (a 200 row with no image payload at all, e.g. a .torrent
        file) must gate as False, not NULL: the backoff rule's ~fmt_ok
        conjunct would otherwise go NULL and skip the backoff bump."""
        return (F.col("nature") == "web_static_sitemap") | F.coalesce(
            F.col("fmt").isin(*self.cfg.allowed_fmts), F.lit(False)
        )

    def fetch(self, wave: DataFrame) -> DataFrame:
        """S2/S3 fetch of the scheduled wave + content gates, decode and
        magnet parse, as one pin."""
        cfg = self.cfg
        # Co-partitioned join against the cached web.  (cfg.fetch_salt
        # shapes a real-HTTP wave; the synthetic join path keeps host
        # partitioning so the join needs no exchange at all.)
        if cfg.fetch_salt > 0:
            wave = wave.repartition(
                cfg.num_partitions, salted_host(F.col("host"), F.col("url"), cfg.fetch_salt)
            )
        fetched = synthetic_fetch(wave, self.eng.web, self.eng.payload_cache)

        # F7 unchanged-content short-circuit (304 or same sha224)
        unchanged = (F.col("status") == 304) | (
            (F.col("status") == 200)
            & (F.col("last_hash") != "")
            & (F.col("content_sha224") == F.col("last_hash"))
        )
        saved = (F.col("status") == 200) & ~unchanged & self._fmt_ok()
        fetched = (
            fetched.withColumn("unchanged", unchanged)
            .withColumn("saved", saved)
            .withColumn("extractable", saved)
        )

        # S6 .torrent -> magnet (Task.buildFromFile,
        # /root/reference/src/Task.py:47-59): a fetched, changed
        # ``.torrent`` payload is bencode-parsed into a magnet URI inline
        # in the fetch pass — the when()-guard NULLs the bytes for every
        # non-torrent row, so the Arrow transfer ships nulls and the UDF
        # pays only a null check outside the (rare) torrent rows.  NULL
        # magnet == not a torrent fetch / malformed metainfo.
        is_torrent_fetch = (
            (F.col("status") == 200)
            & ~F.col("unchanged")
            & F.col("url").endswith(".torrent")
            & F.col("body").isNotNull()
        )
        fetched = fetched.withColumn(
            "magnet",
            magnet_of_torrent(F.when(is_torrent_fetch, F.col("body"))),
        )

        if cfg.decode_payloads:
            is_sitemap = F.col("nature") == "web_static_sitemap"
            fetched = fetched.withColumn(
                "decoded",
                F.when(
                    F.col("saved") & ~is_sitemap & F.col("bytes").isNotNull(),
                    decode_validate_image(F.col("bytes")),
                ),
            ).withColumn("computed_phash", F.col("decoded.phash"))
        else:
            fetched = fetched.withColumn("computed_phash", F.lit(None).cast("long"))
        if self.eng.use_markup:
            # T1 dispatch + T2/T3 extraction over the real page bytes
            # (html href/src grammar vs sitemap <loc> grammar by nature),
            # evaluated once while the pin materializes: it holds only
            # the small extracted array, never the body bytes.
            fetched = fetched.withColumn(
                "ex",
                F.when(
                    F.col("extractable"),
                    extract_outlinks(F.col("body"), F.col("nature")),
                ),
            ).drop("outlinks")
        return self.pin(fetched.drop("bytes", "body"))

    def extract(
        self, fetched: DataFrame, scheduled: DataFrame, deferred: DataFrame, robots_rules: DataFrame
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """T2/T3: (extracted-links pin, next frontier before its dedupe,
        magnet queue)."""
        # S6 wave-level info-hash dedup: two .torrent URLs serving the
        # SAME metainfo (identical bytes -> identical info-hash) must
        # queue ONE magnet task; the winner is the deterministic
        # min-(depth, host, auth, magnet) parent — struct min == the
        # model's lexicographic tuple min.  Tiny per-wave set (torrent
        # rows only), one hash aggregate.
        torrents = (
            fetched.filter(F.col("magnet").isNotNull())
            .select(
                F.regexp_extract("magnet", "btih:([0-9a-f]{40})", 1).alias("info_hash"),
                F.struct("depth", "host", "auth", "magnet").alias("t"),
            )
            .groupBy("info_hash")
            .agg(F.min("t").alias("t"))
            .select(
                F.col("t.depth").alias("depth"),
                F.col("t.host").alias("host"),
                F.col("t.auth").alias("auth"),
                F.col("t.magnet").alias("magnet"),
            )
        )

        # parent depth is carried through the explode (join-free)
        redirects = (
            fetched.filter(F.col("status").isin(301, 302, 307, 308) & F.col("location").isNotNull())
            .select("depth", resolve_url(F.col("url"), F.col("location")).alias("_abs"))
            .select("depth", canonicalize(F.col("_abs")).alias("url"))
            .filter(F.col("url").isNotNull())
        )
        # Staged projections on purpose: resolve_url and canonicalize each
        # reference their input many times, so fusing them into one Project
        # duplicates every regex ~5x and blows the whole-stage-codegen
        # method limit (Spark then falls back to interpreted eval on the
        # hottest path of the round).  Materializing `_abs` as a column
        # keeps each regex evaluated once per row; CollapseProject leaves
        # multi-referenced non-trivial aliases alone.
        if self.eng.use_markup:
            ex_exploded = fetched.filter(F.col("extractable")).select(
                # resolve_base_href: a <base href> overrides the page URL
                # as resolution parent (ExtractorFactory.py:84-86)
                F.coalesce(F.col("ex.base"), F.col("url")).alias("parent"),
                (F.col("depth") + 1).alias("depth"),
                F.explode_outer("ex.links").alias("raw"),
            )
        else:
            ex_exploded = fetched.filter(F.col("extractable")).select(
                F.col("url").alias("parent"),
                (F.col("depth") + 1).alias("depth"),
                F.explode_outer("outlinks").alias("raw"),
            )
        extracted = self.pin(
            ex_exploded
            .select("depth", resolve_url(F.col("parent"), F.col("raw")).alias("_abs"))
            .select("depth", canonicalize(F.col("_abs")).alias("url"))
            .filter(F.col("url").isNotNull())
            .withColumn("host", host_of(F.col("url")))
        )

        # sitemap discovery reads the robots CACHE (sitemaps are found when
        # robots is fetched/parsed, Robot.py:78-79,134-137)
        sitemaps = sitemap_candidates(robots_rules, scheduled).select(
            "url", host_of(F.col("url")).alias("host"), F.lit(0).alias("depth")
        )
        redirect_cands = redirects.withColumn("host", host_of(F.col("url")))

        next_frontier = (
            extracted.select("url", "host", "depth")
            .unionByName(redirect_cands.select("url", "host", "depth"))
            .unionByName(sitemaps.select("url", "host", "depth"))
            .withColumn("nature", classify_nature(F.col("url")))
            .withColumn("round_added", F.lit(self.r + 1))
            .select(*CANDIDATE_COLS)
            # politeness-deferred rows carry over ONLY when never-seen:
            # a was_seen deferred row sits in url_seen, stays due (its
            # last_controlled did not move), and the merge-on-read
            # recrawl scan re-derives it next round — writing it here
            # too would emit every backlogged recrawl row twice per
            # round (frontier write + scan), the dominant redundant
            # volume of recrawl-heavy steady state.
            .unionByName(
                deferred.filter(~F.col("was_seen")).select(*CANDIDATE_COLS)
            )
        )
        return extracted, next_frontier, torrents

    def persist(
        self, candidates: DataFrame, gated: _Gated, scheduled: DataFrame, fetched: DataFrame,
        extracted: DataFrame, next_frontier: DataFrame, torrents: DataFrame,
        url_seen: DataFrame, host_stats: DataFrame, robots: _Robots, sessions: DataFrame,
    ) -> tuple[dict, dict, DataFrame, DataFrame, int]:
        """Write every table of the round; nothing is visible until the
        manifest commit.  Returns (versions, delta chains, lineage pin,
        next-frontier pin, wall_ms)."""
        crawl_log = self._crawl_log(fetched, gated, torrents)
        seen_updates = self.pin(self._seen_updates(fetched, gated, torrents))
        # host PageRank proxy: inbound links observed this round — the
        # ONLY rows a normal round appends to host_stats; the cumulative
        # view is the delta chain's sum reconstruction.
        inlink_delta = extracted.groupBy("host").agg(
            F.count("*").cast("long").alias("inlinks")
        )

        # Materialize the round's heavy shared parent ONCE (the fetch
        # join + status/extraction projection), then run its consumers
        # as concurrent Spark jobs from driver threads, so the per-job
        # driver overhead overlaps instead of serializing.  The first
        # four: the seen_updates count (which materializes the pin every
        # persist job reuses), the exploded resolve+canonicalize
        # extraction pin (the round's regex-heaviest projection, needed
        # by the frontier and host_stats writes), and the robots_cache
        # and auth_sessions persists — they read only pins the fetch job
        # already materialized, so they overlap the extraction
        # materialize instead of serializing after it in the write tail.
        # Sequencing fetched first matters: two concurrent jobs racing to
        # compute a not-yet-materialized pin would each schedule the full
        # fetch join.
        fetched.count()
        pool = ThreadPoolExecutor(max_workers=8)
        try:
            futures = {
                "robots_cache": pool.submit(self._write_robots, robots),
                "auth_sessions": pool.submit(self._write_sessions, gated.deferred, sessions),
            }
            for f in [pool.submit(seen_updates.count), pool.submit(extracted.count)]:
                f.result()
            # Dedupe before writing: extraction emits the same URL from
            # many parents (3-4x write amplification otherwise).  The
            # dedupe keys on the uniform (url, host) hash — safe under the
            # zipf-heavy target-host skew of the raw extracted stream —
            # and the written frontier stays in that uniform layout: the
            # next round starts with its own routing repartition by host,
            # so a host-grouping shuffle here would move the round's
            # largest intermediate a second time for a layout nothing
            # consumes.
            next_frontier = self.pin(
                dedupe_within_batch(next_frontier.select(*CANDIDATE_COLS))
                .select(*CANDIDATE_COLS)
            )
            wall_ms = int((time.monotonic() - self.t_start) * 1000)
            lineage = self.pin(
                self._lineage(candidates, scheduled, fetched, gated.blocked, wall_ms)
            )
            append = self.store.append_round
            futures.update(
                crawl_log=pool.submit(append, "crawl_log", crawl_log, self.r),
                lineage_metrics=pool.submit(append, "lineage_metrics", lineage, self.r),
                url_seen=pool.submit(self._write_url_seen, url_seen, seen_updates),
                host_stats=pool.submit(self._write_host_stats, host_stats, inlink_delta),
                frontier=pool.submit(self.store.write_version, "frontier", next_frontier),
                bloom=pool.submit(self._write_bloom, seen_updates),
            )
            written = {t: f.result() for t, f in futures.items()}
        finally:
            # wait: a failed round must not release pins (or let a resume
            # rewrite version dirs) under a still-running write
            pool.shutdown(wait=True, cancel_futures=True)
        versions = {t: written[t] for t in ("frontier", "bloom", "auth_sessions")}
        # a chained write is (version, chain), or None when it was skipped
        chained = {
            t: written[t] for t in ("url_seen", "host_stats", "robots_cache") if written[t]
        }
        versions.update({t: v for t, (v, _) in chained.items()})
        return versions, {t: c for t, (_, c) in chained.items()}, lineage, next_frontier, wall_ms

    def commit(
        self, versions: dict, chains: dict, lineage: DataFrame, next_frontier: DataFrame,
        n_in: int | None, wall_ms: int,
    ) -> dict:
        """Atomic manifest swap, vacuum, and the round's stats."""
        self.store.commit(
            self.r, versions, meta={"state_buckets": self.n_buckets}, delta_chains=chains
        )
        # GC: superseded versions are unreachable once the manifest moved on;
        # keep one prior snapshot for post-hoc inspection (Iceberg's
        # expire_snapshots analogue)
        self.store.vacuum(keep_last=2)
        # round totals come from the lineage pin, not separate count jobs
        totals = lineage.groupBy().agg(
            F.sum("urls_scheduled").alias("s"),
            F.sum("urls_fetched").alias("f"),
            F.sum("urls_robots_blocked").alias("b"),
        ).collect()[0]
        # return contract: under cfg.light_stats the info-only counters
        # "candidates"/"new_candidates" are None (not 0, not a sentinel
        # int) — consumers aggregating per-round counts must skip None.
        return {
            "round": self.r,
            "candidates": n_in,
            "scheduled": int(totals["s"] or 0),
            "robots_blocked": int(totals["b"] or 0),
            "fetched": int(totals["f"] or 0),
            "new_candidates": None if self.cfg.light_stats else next_frontier.count(),
            "wall_ms": wall_ms,
        }

    def commit_empty(self) -> dict:
        spark, r = self.eng.spark, self.r
        self.store.append_round("crawl_log", spark.createDataFrame([], S.CRAWL_LOG_SCHEMA), r)
        self.store.append_round(
            "lineage_metrics", spark.createDataFrame([], S.LINEAGE_METRICS_SCHEMA), r
        )
        fv = self.store.write_version("frontier", spark.createDataFrame([], CANDIDATES_SCHEMA))
        self.store.commit(r, {"frontier": fv})
        return {"round": r, "scheduled": 0, "fetched": 0, "new_candidates": 0}

    # --------------------------------------------------- round outputs

    def _crawl_log(self, fetched: DataFrame, gated: _Gated, torrents: DataFrame) -> DataFrame:
        """crawl_log (S8/S9 sink): the fetched wave plus a marker row for
        each robots-blocked, auth-deferred and queued-magnet URL."""
        # payload validation (input_hint): decoded dims + phash must match
        # the fixture metadata; NULL when nothing was decoded this round
        payload_ok = F.when(
            F.col("saved") & F.col("computed_phash").isNotNull(),
            (F.col("computed_phash") == F.col("expected_phash"))
            & (F.col("decoded.w") == F.col("expected_w").cast("int"))
            & (F.col("decoded.h") == F.col("expected_h").cast("int")),
        ) if self.cfg.decode_payloads else F.lit(None).cast("boolean")
        return fetched.select(
            F.lit(self.r).alias("round"),
            "url",
            "host",
            "status",
            F.when(F.col("saved"), F.col("image_id")).alias("image_id"),
            F.when(F.col("saved"), F.col("computed_phash")).alias("phash"),
            F.when(F.col("saved"), F.col("caption")).alias("caption"),
            payload_ok.alias("payload_ok"),
            F.lit(self.now).alias("fetched_at"),
            "auth",  # 'no' for plain rows; auth nature for session fetches
        ).unionByName(
            self._marker_rows(gated.blocked, ROBOTS_BLOCKED_STATUS)
        ).unionByName(
            self._marker_rows(gated.deferred, AUTH_DEFERRED_STATUS)
        ).unionByName(
            # queued magnet tasks (handler-queue marker): host/auth are
            # the winning parent's — the task is attributed to the page
            # that supplied the metainfo, like the reference's task
            # parentage (Task.buildFromFile inherits the parent task)
            self._marker_rows(
                torrents, TORRENT_QUEUED_STATUS, F.col("magnet").alias("url")
            )
        )

    def _marker_rows(self, df: DataFrame, status: int, url="url") -> DataFrame:
        """crawl_log rows that carry a marker status and no payload."""
        return df.select(
            F.lit(self.r).alias("round"),
            url,
            "host",
            F.lit(status).alias("status"),
            F.lit(None).cast("string").alias("image_id"),
            F.lit(None).cast("long").alias("phash"),
            F.lit(None).cast("string").alias("caption"),
            F.lit(None).cast("boolean").alias("payload_ok"),
            F.lit(self.now).alias("fetched_at"),
            "auth",
        )

    def _seen_updates(self, fetched: DataFrame, gated: _Gated, torrents: DataFrame) -> DataFrame:
        """url_seen update rows (A1 MERGE upsert) for every URL the round
        decided: fetched, robots-blocked, auth-deferred, queued magnet."""
        now = self.now
        unchanged = F.col("unchanged")
        backoff_needed = (
            F.col("status").isin(301, 302, 304, 307, 308)
            | (F.col("status") >= 400)
            | unchanged
            | ((F.col("status") == 200) & ~unchanged & ~self._fmt_ok())
        )
        return fetched.select(
            "url",
            "host",
            scheme_of(F.col("url")).alias("scheme"),
            "depth",
            F.col("score"),
            F.lit(now).alias("last_visited"),
            F.lit(now).alias("last_controlled"),
            # a successfully-parsed .torrent also records its content sha
            # even though nothing is "saved": the F7 short-circuit then
            # suppresses re-parsing (and re-queueing) on recrawl while
            # the metainfo is unchanged
            F.when(F.col("saved") | F.col("magnet").isNotNull(), F.col("content_sha224"))
            .otherwise(F.col("last_hash"))
            .alias("last_hash"),
            # greatest(1, ...): a completed session-fetch must clear the
            # refresh_rate=0 retry marker set at deferral time, or the
            # recrawl scan would re-emit the URL every round forever
            F.when(backoff_needed, bump_refresh_rate(F.col("refresh_rate")))
            .otherwise(F.greatest(F.lit(1), F.col("refresh_rate")))
            .cast("int")
            .alias("refresh_rate"),
            "nature",
            F.col("round_added"),
        ).unionByName(
            # robots-blocked URLs back off to MAX (effectively never
            # retried); auth-deferred URLs on LOGINABLE hosts get
            # refresh_rate=0 — the merge-on-read recrawl scan then
            # re-emits them automatically next round, when the login
            # session established this round is live (the deferred-stream
            # consumption the r02 verdict asked for).  Credential-less
            # hosts AND hosts whose login form cannot be filled back off
            # to MAX like robots blocks.
            gated.blocked.withColumn("_rr", F.lit(MAX_REFRESH_RATE))
            .unionByName(
                gated.deferred.join(
                    F.broadcast(
                        self.eng.loginable.select("host").withColumn("_hc", F.lit(True))
                    ),
                    "host",
                    "left",
                ).withColumn(
                    "_rr",
                    F.when(F.col("_hc"), F.lit(0)).otherwise(
                        F.lit(MAX_REFRESH_RATE)
                    ),
                ).drop("_hc")
            )
            .select(
                "url",
                "host",
                scheme_of(F.col("url")).alias("scheme"),
                "depth",
                F.lit(0.0).alias("score"),
                F.lit(None).cast("timestamp").alias("last_visited"),
                F.lit(now).alias("last_controlled"),
                F.col("last_hash"),
                F.col("_rr").alias("refresh_rate"),
                "nature",
                F.col("round_added"),
            )
        ).unionByName(
            # queued magnet tasks MERGE into url_seen keyed on the full
            # magnet URI (info-hash identity): the same torrent is never
            # re-queued while its metainfo is unchanged.  host = winning
            # parent's (magnet URIs have no authority); refresh_rate=MAX —
            # no transmission daemon in-sandbox ever completes them (S6
            # stub), and the F2 nature gate keeps them unfetchable.
            torrents.select(
                F.col("magnet").alias("url"),
                "host",
                F.lit("magnet").alias("scheme"),
                (F.col("depth") + 1).cast("int").alias("depth"),
                F.lit(0.0).alias("score"),
                F.lit(None).cast("timestamp").alias("last_visited"),
                F.lit(now).alias("last_controlled"),
                F.lit("").alias("last_hash"),
                F.lit(MAX_REFRESH_RATE).alias("refresh_rate"),
                F.lit("web_static_torrent").alias("nature"),
                F.lit(self.r + 1).alias("round_added"),
            )
        )

    def _lineage(
        self, candidates: DataFrame, scheduled: DataFrame, fetched: DataFrame,
        blocked: DataFrame, wall_ms: int,
    ) -> DataFrame:
        """lineage_metrics (A3/A4/A6) per host-shard.  One tagged union +
        ONE hash aggregate instead of four groupBys stitched by three
        full-outer joins: the per-partition counters all key on the same
        shard id, so a single shuffle suffices."""
        snapshot = json.dumps(self.store.manifest()["tables"], sort_keys=True)

        shard = host_partition_key(F.col("host"), self.cfg.num_partitions)

        def tagged(df, tag):
            return df.select(shard.alias("partition_id"), F.lit(tag).alias("_k"))

        tally = lambda tag: F.sum(F.when(F.col("_k") == tag, 1).otherwise(0))
        return (
            tagged(candidates, "in")
            .unionByName(tagged(scheduled, "sched"))
            .unionByName(tagged(fetched, "fetch"))
            .unionByName(tagged(blocked, "blocked"))
            .groupBy("partition_id")
            .agg(
                tally("in").alias("urls_in"),
                tally("sched").alias("urls_scheduled"),
                tally("fetch").alias("urls_fetched"),
                tally("blocked").alias("urls_robots_blocked"),
            )
            .select(
                F.lit(self.r).alias("round"),
                F.col("partition_id").cast("int"),
                F.col("urls_in"),
                (F.col("urls_in") - F.col("urls_scheduled")).alias("urls_deduped"),
                F.col("urls_scheduled"),
                F.col("urls_fetched"),
                F.col("urls_robots_blocked"),
                F.lit(wall_ms).alias("wall_ms"),
                F.lit(snapshot).alias("input_snapshot"),
            )
        )

    # ------------------------------------------------------ state writes
    # Every host-keyed table goes through StateStore.write_chained, which
    # either appends this round's update rows as a delta version (write
    # cost O(|updates|), even when every bucket is dirty) or, once the
    # chain is full or the current read predates bucketing, compacts the
    # merged view into one bucketed base.  Each writer below supplies only
    # the physical shape of the two writes.

    def _write_robots(self, robots: _Robots) -> tuple[int, list[int]] | None:
        """(version, chain) for the commit, or None when nothing was
        refreshed: the committed version is already current, so there is
        no write job at all."""
        if "bucket" in robots.cache.columns and robots.refreshed.isEmpty():
            return None

        def compacted():
            # robots.cache IS the chain reconstruction
            full = (
                robots.cache.drop("bucket")
                .join(
                    F.broadcast(robots.refreshed.select("host").distinct()),
                    "host",
                    "left_anti",
                )
                .unionByName(robots.refreshed)
            )
            return self.with_bucket(full).repartition(self.base_parts, "bucket")

        # a delta holds only this round's re-fetched rule sets (tiny):
        # one file beats ~|buckets| one-row files
        return self.store.write_chained(
            "robots_cache", robots.cache, self.cfg.state_delta_max_chain,
            delta=lambda: self.with_bucket(robots.refreshed).coalesce(1),
            compacted=compacted,
        )

    def _write_sessions(self, deferred: DataFrame, sessions: DataFrame) -> int:
        # tiny per-host table (only auth-gated hosts ever get rows);
        # when no URL deferred this round no new session can exist —
        # reuse the committed version, skip the job entirely
        if deferred.isEmpty():
            return self.store.current_version("auth_sessions")
        return self.store.write_version("auth_sessions", sessions)

    def _write_url_seen(self, url_seen: DataFrame, updates: DataFrame) -> tuple[int, list[int]]:
        upd = self.with_bucket(updates)

        def compacted():
            # url alone is the key (primary key of url_seen; host is
            # derived from it) — a single plain-equality key lets the
            # state side reuse the reconstruction's hash(url)
            # partitioning (see dedup.py).
            cur = url_seen if "bucket" in url_seen.columns else self.with_bucket(url_seen)
            upd_keys = updates.select(F.col("url").alias("u_url"))
            seen_cols = [f.name for f in URL_SEEN_SCHEMA.fields]
            return (
                cur.join(upd_keys, F.col("url") == F.col("u_url"), "left_anti")
                .select(*seen_cols, "bucket")
                .unionByName(upd.select(*seen_cols, "bucket"))
                .repartition(self.cfg.num_partitions, "bucket")
            )

        # the delta keeps the pin's existing wave partitioning:
        # skipping a repartition drops a per-round O(|wave|) shuffle
        return self.store.write_chained(
            "url_seen", url_seen, self.cfg.state_delta_max_chain,
            delta=lambda: upd, compacted=compacted,
        )

    def _write_host_stats(self, host_stats: DataFrame, inlinks: DataFrame) -> tuple[int, list[int]]:
        def compacted():
            # the only round that touches all hosts: the cumulative
            # view (host_stats IS the chain-sum reconstruction)
            merged = (
                host_stats.drop("bucket")
                .withColumnRenamed("inlinks", "_old")
                .join(inlinks.withColumnRenamed("inlinks", "_new"), "host", "full")
                .select(
                    "host",
                    (
                        F.coalesce(F.col("_old"), F.lit(0))
                        + F.coalesce(F.col("_new"), F.lit(0))
                    ).cast("long").alias("inlinks"),
                )
            )
            return self.with_bucket(merged).repartition(self.base_parts, "bucket")

        # coalesce, not repartition: no shuffle, just fewer output
        # files for an O(|wave hosts|) delta
        return self.store.write_chained(
            "host_stats", host_stats, self.cfg.state_delta_max_chain,
            delta=lambda: self.with_bucket(inlinks).coalesce(
                max(1, self.cfg.num_partitions // 4)
            ),
            compacted=compacted,
        )

    def _write_bloom(self, seen_updates: DataFrame) -> int:
        """Incremental bloom update with this round's newly-seen URLs:
        OR-merge + write happen INSIDE the executor task per shard
        (update_and_save_shards); the driver only links untouched shards
        — no S*m/8 array in driver memory."""
        eng = self.eng
        v = self.store.current_version("bloom")
        if v >= 0:
            prev_dir = eng._bloom_path(v)
            meta = BloomShards.dir_meta(prev_dir)
            shards, m, k = meta["num_shards"], meta["m"], meta["k"]
        else:
            prev_dir = None
            shards, m, k = self.cfg.bloom_shards, self.cfg.bloom_bits_per_shard, 7
        update_and_save_shards(
            seen_updates.select("url", "host"), eng._bloom_path(v + 1), prev_dir, shards, m, k
        )
        # invalidate the lazily-loaded driver copy (broadcast-probe
        # path reloads the new version's shard files next round)
        eng._bloom = None
        return v + 1
