"""Versioned table store with atomic round commits — the Iceberg stand-in.

The north_rule calls for Iceberg tables (MERGE INTO url_seen, snapshot
isolation, resume-from-any-round).  Iceberg jars are absent in this
environment (session.py:ICEBERG_AVAILABLE), so this module provides the
same contract over plain parquet:

  * every mutable table (url_seen, host_stats, frontier, bloom bits)
    is written as a new immutable version directory ``<table>/v{n}``;
  * a round is committed by atomically replacing ``MANIFEST.json``
    (os.replace) pointing at the exact version of every table plus the
    round high-water mark — the snapshot;
  * append-only outputs (crawl_log, lineage_metrics) land in
    ``<table>/round={r}`` partition dirs, idempotently overwritten if a
    crashed round re-runs.

The host-keyed state tables (url_seen, host_stats, robots_cache) share
one layout, a delta log: a base version stored partitioned by
``bucket = pmod(xxhash64(host), B)`` plus a chain of small
unpartitioned delta versions holding only each round's update rows.
Reads reconstruct the table per key (``DELTA_MERGE``); a bucket
predicate above the read still prunes the base's ``bucket=N`` dirs.
:meth:`StateStore.write_chained` is the one place that decides, per
table and round, whether to append a delta (write cost O(|updates|))
or compact the chain into a new bucketed base — the parquet emulation
of Iceberg merge-on-read with periodic rewrite.

Crash anywhere before the manifest swap leaves the previous snapshot
intact; resume re-runs the incomplete round from its inputs.  On a real
cluster the same interface maps 1:1 onto Iceberg MERGE + snapshot ids.

Reference analogue: there is none — the reference's state is RAM-only
ARC caches that die with the process (/root/reference/src/Cache.py:54-135);
resumability is a capability the rebuild adds per north_rule.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Per-table primary key for delta-chain reconstruction.  Only tables
# registered here may use write_version_delta.
DELTA_KEYS = {"url_seen": "url", "host_stats": "host", "robots_cache": "host"}
# How chain members combine per key: "last" = last-writer-wins (full
# row replacement, url_seen MERGE semantics); "sum" = additive counters
# (host_stats inlink deltas — each round appends only the hosts that
# gained inlinks, reconstruction sums the chain); "group_last" = the key
# groups MULTIPLE rows and a refresh replaces the whole group (robots
# rules: a re-fetched host contributes its complete rule set, so
# reconstruction keeps only the newest version that mentions the host).
DELTA_MERGE = {"url_seen": "last", "host_stats": "sum", "robots_cache": "group_last"}


class StateStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._manifest_path = os.path.join(root, "MANIFEST.json")

    # -- manifest ------------------------------------------------------------

    def manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"round": -1, "tables": {}}
        with open(self._manifest_path) as f:
            return json.load(f)

    def commit(
        self,
        round_no: int,
        table_versions: dict[str, int],
        meta: dict | None = None,
        delta_chains: dict[str, list[int]] | None = None,
    ) -> None:
        """Atomically publish a round: the snapshot pointer swap.

        ``meta`` entries (e.g. the pinned state_buckets modulus) are
        merged into the manifest top level.  ``delta_chains`` records,
        per delta-layout table, the ordered version list (base first)
        that reconstructs the current state; a compaction resets the
        chain to ``[new_base]``."""
        m = self.manifest()
        m["round"] = round_no
        m["tables"].update({k: int(v) for k, v in table_versions.items()})
        if meta:
            m.update(meta)
        if delta_chains:
            m.setdefault("delta_chains", {}).update(
                {t: [int(v) for v in c] for t, c in delta_chains.items()}
            )
        # a table committed WITHOUT an explicit chain entry was plain-
        # written: its new version supersedes any prior delta chain, so
        # drop the stale chain instead of reconstructing from old versions
        for t in table_versions:
            if not (delta_chains and t in delta_chains):
                m.get("delta_chains", {}).pop(t, None)
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)

    def last_round(self) -> int:
        return int(self.manifest()["round"])

    # -- versioned tables ------------------------------------------------------

    def _vdir(self, table: str, version: int) -> str:
        return os.path.join(self.root, table, f"v{version}")

    def current_version(self, table: str) -> int:
        return int(self.manifest()["tables"].get(table, -1))

    def delta_chain(self, table: str) -> list[int]:
        return [int(v) for v in self.manifest().get("delta_chains", {}).get(table, [])]

    def _has_files(self, path: str) -> bool:
        return any(
            f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
        )

    def read(self, table: str, schema=None) -> DataFrame | None:
        chain = self.delta_chain(table)
        if len(chain) > 1:
            live = [v for v in chain if self._has_files(self._vdir(table, v))]
            if live:
                return self._read_chain(table, live)
            # fall through: an entirely-empty chain behaves like an
            # empty table (schema-typed below)
        v = self.current_version(table)
        if v < 0:
            if schema is not None:
                return self.spark.createDataFrame([], schema)
            return None
        path = self._vdir(table, v)
        # a bucketed write of an empty update set leaves a version dir with
        # no parquet files — schema inference would fail on it
        if schema is not None and not self._has_files(path):
            return self.spark.createDataFrame([], schema)
        return self.spark.read.parquet(path)

    def _read_chain(self, table: str, chain: list[int]) -> DataFrame:
        """Merge-on-read for a delta-layout table: base + deltas unioned
        with a chain sequence number, then last-writer-wins per key via
        one ``max_by`` hash aggregate.  Grouping includes the stored
        ``bucket`` partition column (functionally dependent on the key's
        host), so bucket predicates above this read still prune the
        scan.  This is the read-side cost of O(|updates|)-per-round
        writes; compaction bounds the chain length."""
        key = DELTA_KEYS[table]
        dfs = [
            self.spark.read.parquet(self._vdir(table, v)).withColumn("_seq", F.lit(i))
            for i, v in enumerate(chain)
        ]
        u = dfs[0]
        for d in dfs[1:]:
            u = u.unionByName(d)
        if DELTA_MERGE.get(table, "last") == "group_last":
            # the key groups multiple rows (robots: one row per pattern)
            # and a refresh replaces the whole group, so the winner is
            # every row of the key's NEWEST chain member.  Window over
            # (bucket, key): a bucket predicate above this read still
            # pushes through the window's partitionBy into the member
            # scans as a PartitionFilter.
            from pyspark.sql import Window

            w = Window.partitionBy("bucket", key)
            return (
                u.withColumn("_mx", F.max("_seq").over(w))
                .filter(F.col("_seq") == F.col("_mx"))
                .drop("_seq", "_mx")
            )
        if DELTA_MERGE.get(table, "last") == "sum":
            # additive counters: one hash aggregate sums the chain.  The
            # stored ``bucket`` partition column joins the GROUP BY (it is
            # functionally dependent on the key's host), so a bucket
            # predicate above this read pushes through the aggregate and
            # the union into every chain member's scan as a
            # PartitionFilter — wave-sliced readers stay O(|wave buckets|)
            # however long the chain is.
            val_cols = [c for c in u.columns if c not in (key, "bucket", "_seq")]
            return (
                u.groupBy(key, "bucket")
                .agg(*[F.sum(c).alias(c) for c in val_cols])
                .select(key, *val_cols, "bucket")
            )
        # Group on the key ALONE (bucket, functionally dependent on the
        # key's host, is folded in via max()): the reconstruction then
        # leaves the state hash-partitioned on exactly the key its
        # downstream joins use (validate-against-seen, compaction MERGE
        # anti-join), so those joins reuse this aggregate's exchange
        # instead of re-shuffling the full state once more per round.
        val_cols = [c for c in u.columns if c not in (key, "bucket", "_seq")]
        return (
            u.groupBy(key)
            .agg(
                F.max_by(F.struct(*val_cols), F.col("_seq")).alias("_r"),
                F.max("bucket").alias("bucket"),
            )
            .select(key, "_r.*", "bucket")
        )

    def _next_vdir(self, table: str) -> tuple[int, str]:
        """Number and (emptied) dir of the table's next version."""
        v = self.current_version(table) + 1
        path = self._vdir(table, v)
        if os.path.exists(path):  # leftover from a crashed round
            shutil.rmtree(path)
        return v, path

    def write_version(self, table: str, df: DataFrame) -> int:
        """Write df as the next version dir; returns the version number
        (caller passes it to commit()). Not visible until committed."""
        v, path = self._next_vdir(table)
        df.write.mode("overwrite").parquet(path)
        return v

    def write_version_delta(self, table: str, upd_df: DataFrame) -> int:
        """Append-only delta version for a delta-chain table: writes ONLY
        the round's update rows, UNPARTITIONED (``bucket`` stays a plain
        column) — per-round write cost is O(|updates|) regardless of how
        many buckets they touch.  A 256-bucket wave written as bucket=N
        dirs would shatter every delta into ~256 tiny files and the
        per-round chain scan degenerates into file-open overhead
        (measured: 12-33 s/round at local[1] by chain length 6); wave-
        sliced reads keep PartitionFilter pruning on the bucketed base
        and filter the small deltas by column stats."""
        if table not in DELTA_KEYS:
            raise ValueError(f"no delta key registered for table {table!r}")
        v, path = self._next_vdir(table)
        upd_df.write.mode("overwrite").parquet(path)
        return v

    def write_version_bucketed(self, table: str, df: DataFrame) -> int:
        """Compacted base version: ``df`` (the table's full merged view,
        with a ``bucket`` int column) written partitioned by bucket, so
        reads under a bucket predicate skip whole directories."""
        v, path = self._next_vdir(table)
        df.write.mode("overwrite").partitionBy("bucket").parquet(path)
        return v

    def write_chained(
        self,
        table: str,
        current: DataFrame,
        max_chain: int,
        delta: Callable[[], DataFrame],
        compacted: Callable[[], DataFrame],
    ) -> tuple[int, list[int]]:
        """Persist one round of a delta-chain table — the single
        append-or-compact rule.

        ``current`` is this round's read of the table.  The round
        compacts, writing ``compacted()`` as a new bucketed base, when
        that read has no ``bucket`` column (the typed empty read of a
        table with no rows yet, as on round 0, or a pre-bucketing flat
        state dir) or when the chain
        already holds ``max_chain`` versions; otherwise it appends
        ``delta()``.  Returns ``(version, chain)`` for commit()."""
        chain = self.delta_chain(table) or [self.current_version(table)]
        if "bucket" in current.columns and len(chain) < max_chain:
            v = self.write_version_delta(table, delta())
            return v, chain + [v]
        v = self.write_version_bucketed(table, compacted())
        return v, [v]

    def merge_upsert(self, table: str, updates: DataFrame, key: str, schema) -> int:
        """MERGE INTO emulation: rows in ``updates`` replace same-key rows.

        Iceberg path: ``MERGE INTO <table> t USING updates u ON t.url =
        u.url WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN
        INSERT *``.  Fallback: current anti-join updates, union, write
        next version.  Matches A1 tasksMap upsert semantics
        (/root/reference/src/Master.py:313,322-328).
        """
        current = self.read(table, schema)
        cols = [f.name for f in schema.fields]
        upd = updates.select(*cols)
        merged = current.join(upd.select(key), on=key, how="left_anti").select(*cols).unionByName(upd)
        return self.write_version(table, merged)

    # -- append-only outputs ---------------------------------------------------

    def append_round(self, table: str, df: DataFrame, round_no: int) -> None:
        """Idempotent per-round append: overwrite the round's partition dir."""
        path = os.path.join(self.root, table, f"round={round_no}")
        df.drop("round").write.mode("overwrite").parquet(path)

    def read_appended(self, table: str) -> DataFrame | None:
        base = os.path.join(self.root, table)
        if not os.path.exists(base):
            return None
        # mergeSchema: append-only tables may gain columns across engine
        # versions (e.g. payload_ok); without it the inferred schema depends
        # on which round-dir Spark samples.
        return (
            self.spark.read.option("basePath", base)
            .option("mergeSchema", "true")
            .parquet(base)
        )

    # -- GC ----------------------------------------------------------------------

    def vacuum(self, keep_last: int = 2) -> None:
        """Drop version dirs older than the committed one (minus keep_last).

        Versions referenced by a live delta chain are never dropped — a
        chain's base stays reachable however many deltas follow it."""
        m = self.manifest()
        chains = m.get("delta_chains", {})
        for table, v in m["tables"].items():
            tdir = os.path.join(self.root, table)
            if not os.path.isdir(tdir):
                continue
            pinned = {int(x) for x in chains.get(table, [])}
            for d in os.listdir(tdir):
                if (
                    d.startswith("v")
                    and d[1:].isdigit()
                    and int(d[1:]) < v - keep_last + 1
                    and int(d[1:]) not in pinned
                ):
                    shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
