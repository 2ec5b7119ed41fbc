"""Crawl benchmark entry point.

    python3 perfbench/run.py --workload wide_recrawl --seed 1 --seconds 10 --trace 0

Run from the repository root.  One run:

1. generates (or reuses) the seeded synthetic web for the workload;
2. sets up: session start (launching the JVM) + ``CrawlEngine(...)`` +
   ``bootstrap()`` on a fresh state dir;
3. runs round 0;
4. runs the workload's ``measured_rounds`` more rounds per 10 s of
   ``--seconds``, each on a new ``CrawlEngine`` opened on the committed
   state dir (a resume); the count never depends on how fast rounds go;
5. checks crawl_log and the final url_seen against ``ReferenceModel``;
6. prints the end-to-end metrics (``--trace 0``) or the per-layer
   metrics of a traced run (``--trace 1``) as the last stdout line.

Everything the run writes stays under ``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")
DRIVER_MEM = "2g"
# the most rounds a run makes (the model horizon)
MAX_ROUNDS = 6

END_TO_END_UNITS = {
    "setup_s": "s",
    "first_round_s": "s",
    "crawl_urls_per_s": "URLs/s",
    "round_s_p50": "s",
    "resume_s": "s",
    "peak_rss_mb": "MB",
    "state_bytes_per_url": "B/URL",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Keep every file the run (JVM, Spark, Python workers) writes inside
    the checkout, and drop engine overrides inherited from the caller."""
    for k in [k for k in os.environ if k.startswith("ARTEMIS_")]:
        del os.environ[k]
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update(
        TMPDIR=tmp,
        ARTEMIS_DRIVER_MEM=DRIVER_MEM,
        ARTEMIS_LOCAL_DIR=local,
        SPARK_LOCAL_DIRS=local,
        SPARK_LAUNCHER_OPTS=jvm_opts,
        PYSPARK_PYTHON=sys.executable,
    )
    tempfile.tempdir = None


def spark_conf(run_dir: str, event_dir: str | None) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    if event_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return conf


class RoundFailed(Exception):
    pass


def steady_rounds(wl, seconds: float) -> int:
    """Rounds >= 1 a run measures: the workload's ``measured_rounds`` for
    every 10 s of ``--seconds``.  The count depends on the workload and the
    argument only, never on how fast the rounds go, so every run of a
    workload does the same work."""
    return max(1, min(MAX_ROUNDS - 1, wl.measured_rounds * int(seconds // 10)))


def crawl(wl, web: str, run_dir: str, conf: dict, n_steady: int) -> dict:
    """Set up, run round 0, then ``n_steady`` rounds, each on a new
    ``CrawlEngine`` opened on the committed state dir (a resume).
    Returns the raw timings."""
    from artemis_spark import session
    from artemis_spark.plans.crawl import CrawlEngine

    from perfbench.procfs import host_cpu_s, tree_cpu_s

    cfg = wl.crawl_config()
    state = os.path.join(run_dir, "state")
    out = {"rounds": [], "resume_s": [], "chain": [], "error": None, "state_dir": state}
    t0 = time.perf_counter()
    spark = session.get_spark(
        "perfbench",
        master=wl.master,
        shuffle_partitions=wl.shuffle_partitions,
        extra_conf=conf,
    )
    eng = CrawlEngine(spark, web, state, cfg)
    eng.bootstrap()
    out["setup_s"] = time.perf_counter() - t0

    def one_round(engine) -> None:
        cpu0, host0 = tree_cpu_s(os.getpid()), host_cpu_s()
        t0 = time.perf_counter()
        try:
            stats = engine.run_round()
        except Exception:
            out["rounds"].append({"wall_s": time.perf_counter() - t0, "error": True})
            out["error"] = traceback.format_exc()
            raise RoundFailed
        out["rounds"].append(
            {
                "round": stats["round"],
                "wall_s": time.perf_counter() - t0,
                "fetched": stats["fetched"],
                "scheduled": stats["scheduled"],
                "cpu_s": tree_cpu_s(os.getpid()) - cpu0,
                "host_s": {k: round(v - host0[k], 2) for k, v in host_cpu_s().items()},
            }
        )
        out["chain"].append(len(engine.store.delta_chain("url_seen")))

    try:
        one_round(eng)
        for _ in range(n_steady):
            # resume: a new engine opens the committed state dir
            t0 = time.perf_counter()
            eng = CrawlEngine(spark, web, state, cfg)
            eng.bootstrap()
            one_round(eng)
            out["resume_s"].append(time.perf_counter() - t0)
    except RoundFailed:
        pass
    out["engine"] = eng
    return out


def read_outputs(eng) -> dict:
    """Committed crawl_log and url_seen, keyed as the model's output is."""
    from perfbench.workloads import OUTPUT_LOG_COLS

    log_rows = (
        eng.store.read_appended("crawl_log")
        .select("round", "url", *OUTPUT_LOG_COLS)
        .collect()
    )
    seen_rows = eng.store.read("url_seen").select(
        "url", "last_hash", "refresh_rate", "depth"
    ).collect()
    return {
        "log": {(r["round"], r["url"]): tuple(r[c] for c in OUTPUT_LOG_COLS) for r in log_rows},
        "log_rows": len(log_rows),
        "seen": {r["url"]: (r["last_hash"], r["refresh_rate"], r["depth"]) for r in seen_rows},
        "seen_rows": len(seen_rows),
    }


def committed_tables(eng) -> dict[str, float]:
    """Per-layer numbers read back from the committed tables: the gate
    funnel from lineage_metrics and the final bloom's fill."""
    import numpy as np

    from artemis_spark.operators.bloom import BloomShards

    urls_in, deduped, blocked = eng.store.read_appended("lineage_metrics").groupBy().sum(
        "urls_in", "urls_deduped", "urls_robots_blocked"
    ).collect()[0]
    bloom = BloomShards.load_dir(eng._bloom_path(eng.store.current_version("bloom")))
    fill = float(np.unpackbits(bloom.bits).sum()) / (bloom.num_shards * bloom.m)
    return {
        "operators.bloom.fill_ratio": fill,
        "operators.bloom.est_fp": fill**bloom.k,
        "operators.dedup.dup_frac": (deduped or 0) / max(1, urls_in or 0),
        "operators.robots.blocked_frac": (blocked or 0) / max(1, urls_in or 0),
    }


def dir_bytes(path: str) -> int:
    """Bytes under path, counting each hard-linked inode once."""
    seen, total = set(), 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            st = os.lstat(os.path.join(root, fn))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total


def stop_spark() -> None:
    """Stop the SparkContext and the JVM, then wait for every child."""
    from pyspark import SparkContext

    from perfbench.procfs import wait_for_children

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    left = wait_for_children()
    if left:
        print(f"perfbench: child processes still alive: {left}", file=sys.stderr)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    # no .pyc files outside the checkout (workers inherit the variable)
    sys.dont_write_bytecode = True
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import artemis_spark  # noqa: F401
        import scaling_bench  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, "runs", f"{wl.name}-s{args.seed}-{os.getpid()}")
    try:
        return run(args, wl, run_dir, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, wl, run_dir: str, t_start: float) -> int:
    from perfbench.workloads import ensure_web, failed_rounds, model_result

    prepare_env(run_dir)
    event_dir = None
    if args.trace:
        event_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(event_dir)

    from perfbench.procfs import PeakRss, host_context

    phases = {}
    t0 = time.perf_counter()
    host = host_context()
    web = ensure_web(wl, args.seed, WORK)
    phases["prepare_s"] = time.perf_counter() - t0
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "master": wl.master,
        "config_hash": wl.config_hash(args.seed),
        "host": host,
    }
    print("perfbench: " + json.dumps(record), flush=True)

    tracer = None
    if args.trace:
        from perfbench.tracing import Tracer

        tracer = Tracer()
        tracer.install()
    try:
        with PeakRss() as rss:
            raw = crawl(
                wl, web, run_dir, spark_conf(run_dir, event_dir), steady_rounds(wl, args.seconds)
            )
        crawl_end = time.time()
        if tracer is not None:
            tracer.enabled = False
            tables = committed_tables(raw["engine"])
        rounds = raw["rounds"]
        n_ok = sum(1 for r in rounds if not r.get("error"))
        t0 = time.perf_counter()
        outputs = read_outputs(raw["engine"])
        state_bytes = dir_bytes(raw["state_dir"])
        phases["read_outputs_s"] = time.perf_counter() - t0
    finally:
        t0 = time.perf_counter()
        stop_spark()
        phases["stop_s"] = time.perf_counter() - t0
        if tracer is not None:
            tracer.uninstall()

    t0 = time.perf_counter()
    model = model_result(wl, args.seed, web, n_ok, WORK)
    phases["model_s"] = time.perf_counter() - t0
    bad = failed_rounds(outputs["log"], outputs["seen"], model, n_ok)
    if outputs["log_rows"] != len(outputs["log"]) or outputs["seen_rows"] != len(outputs["seen"]):
        bad.add(n_ok - 1)  # duplicate keys in the engine's output
    failed = len(bad) + (len(rounds) - n_ok)
    if raw["error"]:
        print(raw["error"], file=sys.stderr)
    if bad:
        print(f"perfbench: output differs from ReferenceModel in rounds {sorted(bad)}",
              file=sys.stderr)

    steady = rounds[1:n_ok]
    e2e = {
        "setup_s": raw["setup_s"],
        "first_round_s": rounds[0]["wall_s"] if rounds else 0.0,
        "crawl_urls_per_s": (
            sum(r["fetched"] for r in steady) / sum(r["wall_s"] for r in steady)
            if steady else 0.0
        ),
        "round_s_p50": statistics.median(r["wall_s"] for r in steady) if steady else 0.0,
        "resume_s": statistics.median(raw["resume_s"]) if raw["resume_s"] else 0.0,
        "peak_rss_mb": rss.peak / 2**20,
        "state_bytes_per_url": state_bytes / max(1, outputs["seen_rows"]),
    }
    detail = {
        "rounds": rounds,
        "resume_s": raw["resume_s"],
        "url_seen_chain": raw["chain"],
        "fail_ratio": failed / max(1, len(rounds)),
        "peak_rss_mb_by_process": {
            name: [n, round(b / 2**20)] for name, (n, b) in rss.at_peak.items()
        },
        "peak_rss_at_s": rss.peak_at_s,
        "phases": phases,
    }

    if args.trace:
        from perfbench.tracing import (
            PER_LAYER_UNITS,
            format_table,
            layer_report,
            read_event_logs,
        )

        jobs, udf = read_event_logs(event_dir)
        cores = int(wl.master.split("[")[1].rstrip("]"))
        jobs = [j for j in jobs if j["submit"] <= crawl_end]
        metrics, per_round, table = layer_report(tracer.spans, jobs, udf, cores)
        metrics.update(tables)
        metrics.update(
            {
                "sources.state.chain_len": max(raw["chain"] or [0]),
                "trace.spans": len(tracer.spans),
                "trace.bookkeeping_s": tracer.bookkeeping_s,
                "trace.round_s_p50": e2e["round_s_p50"],
                "trace.first_round_s": e2e["first_round_s"],
                "trace.setup_s": e2e["setup_s"],
            }
        )
        out_dir = os.path.join(WORK, "traces", f"{wl.name}-s{args.seed}")
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        with open(os.path.join(out_dir, "spans.jsonl"), "w") as f:
            for s in tracer.spans:
                f.write(json.dumps(s) + "\n")
        with open(os.path.join(out_dir, "rounds.json"), "w") as f:
            json.dump(per_round, f, indent=1)
        with open(os.path.join(out_dir, "layers.txt"), "w") as f:
            f.write(format_table(table))
        print(format_table(table), end="")
        print(f"perfbench: trace written to {os.path.relpath(out_dir, ROOT)}")
        result_metrics = {
            n: {"value": metrics[n], "unit": u} for n, u in PER_LAYER_UNITS.items()
        }
    else:
        result_metrics = {
            n: {"value": e2e[n], "unit": u} for n, u in END_TO_END_UNITS.items()
        }
    detail["total_s"] = time.perf_counter() - t_start
    print("perfbench: " + json.dumps(detail), flush=True)
    result = {
        "correct": failed == 0,
        "attempted": max(1, len(rounds)),
        "failed": failed,
        "metrics": result_metrics,
    }
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
