#!/usr/bin/env python3
"""Seeded crawl + curation benchmark.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 10 --trace 0

Builds the workload's inputs from ``--seed`` (workloads.py), starts a
``local[<cores>]`` session (cores from the CPU affinity mask unless
``--cores`` says otherwise), warms up on a small slice, then runs
whole crawls (or corpus builds) back to back, one driver thread, until
``--seconds`` have passed. Every run checks the program's outputs
(check.py); a failed check counts every generation of that crawl (or
that build) as a failed operation. It prints each metric by name with
its unit, the check verdict and, last, one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark event log, replays the seen probe and dispatch directly, writes
the spans to .perfbench_run/traces/ and reports the per-layer metrics
with a per-generation table whose parts add up to the generation wall.

End-to-end metrics (every workload reports each one):
  setup_s         session start + warm-up + Crawler construction and
                  init(seeds) (curate: + reading the documents)
  pages_per_s     pages fetched and parsed per second of timed step()
                  calls (curate: documents curated per second)
  docs_per_s      documents produced per second: fetched pages with an
                  ok extraction (curate: documents curated per second)
  gen_s_p50       median generation wall, step() call to manifest
                  commit (curate: one build_corpus call)
  fetch_lag_s_p50/p99  per URL, commit of the generation that discovered
                  it to commit of the generation that fetched it (curate:
                  per document, build start to corpus commit)
  peak_rss_mb     peak resident memory of driver, JVM and Python workers,
                  summed as proportional set size (shared pages once)
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

END_TO_END = {
    "setup_s": "s", "pages_per_s": "1/s", "docs_per_s": "1/s",
    "gen_s_p50": "s", "fetch_lag_s_p50": "s", "fetch_lag_s_p99": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "crawl.plan_s": "s", "crawl.eager_s": "s", "crawl.driver_gap_s": "s",
    "crawl.jobs_per_gen": "count", "crawl.stages_per_gen": "count",
    "crawl.generations": "count", "crawl.parts_err_max": "ratio",
    "politeness.dispatched": "count", "politeness.held": "count",
    "politeness.robots_checked": "count", "politeness.disallowed": "count",
    "politeness.dispatch_s": "s",
    "fetch.rows": "count", "fetch.misses": "count", "fetch.scan_bytes": "B",
    "extract.pages": "count", "extract.imgs": "count",
    "extract.python_s": "s", "extract.kernel_s": "s",
    "extract.arrow_bytes": "B", "extract.kernel_share": "ratio",
    "seen.probes": "count", "seen.inserts": "count",
    "seen.new_ratio": "ratio", "seen.probe_s": "s",
    "seen.load_factor_max": "ratio", "seen.blob_bytes": "B",
    "seen.fp_misses": "count",
    "sink.extracted_write_s": "s", "sink.state_write_s": "s",
    "sink.bytes_written": "B", "sink.files_written": "count",
    "sink.commit_s": "s",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B", "spark.tasks": "count",
    "spark.probe_partition_skew": "ratio",
    "textquality.s": "s", "dedup.exact_s": "s", "dedup.minhash_s": "s",
    "dedup.lsh_candidate_pairs": "count", "dedup.confirmed_pairs": "count",
    "dedup.pair_yield": "ratio", "dedup.max_bucket": "count",
    "corpus.write_s": "s",
    "failed_ratio": "ratio", "trace.gen_s_p50": "s",
    "trace.pages_per_s": "1/s",
}
NEAR_DUP = 0.8
MAX_BUCKET = 10_000


def affinity_cores() -> int:
    return len(os.sched_getaffinity(0))


def median(values: list) -> float:
    return statistics.median(values) if values else 0.0


def quantile(values: list, q: float) -> float:
    """Nearest-rank quantile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(q * len(s) + 0.999999) - 1))]


# ---------------------------------------------------------------- session
def start_session(cores: int, work: str, eventlog: str | None):
    from pyspark.sql import SparkSession

    from img_spark.plans.session import engine_defaults

    tmp = os.path.join(work, "tmp")
    b = engine_defaults(
        SparkSession.builder.appName("perfbench").master(f"local[{cores}]"),
        cores,
    )
    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if eventlog:
        os.makedirs(eventlog, exist_ok=True)
        conf.update(tracing.eventlog_conf(eventlog))
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM: closing its stdin makes the gateway
    exit; wait until it has."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def force(df) -> int:
    """Compute every column of ``df``; returns the row count."""
    from pyspark.sql import functions as F

    return df.select(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(struct(*)))").alias("x"),
    ).collect()[0]["n"]


def write_parquet(rows: list, schema, path: str, files: int = 16) -> None:
    """Write ``rows`` as ``files`` parquet files: the scan then has that
    many splits, so the program's tasks can run in parallel (one small
    file would be one split and one task at any core count)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // files)
    for i in range(files):
        part = rows[i * step:(i + 1) * step]
        cols = list(zip(*part)) if part else [[] for _ in schema]
        table = pa.table(
            {f.name: pa.array(c, f.type) for f, c in zip(schema, cols)},
            schema=schema,
        )
        pq.write_table(table, os.path.join(path, f"part-{i:03d}.parquet"))


def read_dir(path: str, columns: list) -> list:
    """Rows of a (hive-partitioned) parquet directory, [] if absent."""
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return []
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns
    )
    return list(zip(*[t.column(c).to_pylist() for c in columns]))


def dir_bytes(path: str) -> tuple:
    n = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            n += os.path.getsize(os.path.join(d, f))
            files += 1
    return n, files


# ------------------------------------------------------------------ crawl
class CrawlRun:
    def __init__(self, spark, web, pages_path: str, tracer, ck: str):
        from img_spark.operators.politeness import robots_df
        from img_spark.plans.crawl import CrawlConfig, Crawler
        from img_spark.sources.site_config import rows_from_config

        self.ck, self.tracer = ck, tracer
        self.gens: list = []        # (g, start, end, ok)
        with tracer.span("crawl.Crawler", trace=ck):
            self.crawler = Crawler(
                spark, spark.read.parquet(pages_path),
                rows_from_config(web.config), robots_df(spark, web.robots),
                CrawlConfig(checkpoint_dir=ck, host_budget=web.host_budget),
            )
        with tracer.span("crawl.init", trace=ck):
            self.crawler.init(web.seeds)

    def run(self, max_generations: int = 10_000) -> bool:
        """Step until the frontier drains; False if a step raised."""
        for _ in range(max_generations):
            g = self.crawler.generation + 1
            with self.tracer.span("crawl.step", trace=self.ck, g=g) as s:
                try:
                    stats = self.crawler.step()
                except Exception as e:  # a failed operation, reported
                    print(f"generation {g} raised: {e!r}"[:400])
                    self.gens.append((g, s["start"], time.time(), False))
                    return False
            self.gens.append((g, s["start"], s["end"], True))
            if not stats.get("pending"):
                break
        return True


def read_crawl(ck: str, gens: list) -> dict:
    """The program's own outputs of one crawl: frontier state, extracted
    deltas, manifests and seen blobs, per generation."""
    out = {"gen": {}}
    for g in [0] + [x[0] for x in gens]:
        d = {"rows": read_dir(os.path.join(ck, "frontier", f"g{g}"),
                              ["url", "generation", "status", "path"])}
        mpath = os.path.join(ck, f"manifest-g{g}.json")
        if os.path.exists(mpath):
            with open(mpath) as f:
                d["manifest"] = json.load(f)
            d["commit"] = os.stat(mpath).st_mtime
        if g:
            d["extracted"] = read_dir(
                os.path.join(ck, "extracted", f"g{g}"),
                ["page_url", "status", "img_url"],
            )
        out["gen"][g] = d
    return out


def xxhash64(spark, urls: list) -> dict:
    """Spark's xxhash64 of each URL (the seen set's hash)."""
    from pyspark.sql import functions as F

    if not urls:
        return {}
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return {r[0]: r[1] for r in
            df.select("url", F.xxhash64("url")).collect()}


def crawl_workload(args, name: str, spark_box: list, tracer, work: str,
                   sampler) -> dict:
    import pyarrow as pa

    web = workloads.build(name, args.seed)
    warm = workloads.build(name, args.seed, warmup=True)
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    pages_path = os.path.join(work, "pages")
    warm_path = os.path.join(work, "warm_pages")
    write_parquet(workloads.pages_rows(web), schema, pages_path)
    write_parquet(workloads.pages_rows(warm), schema, warm_path)

    t0 = time.perf_counter()
    sampler.start()
    with tracer.span("setup.session"):
        spark = start_session(args.cores, work, args.eventlog)
    spark_box.append(spark)
    # warm-up: a Crawler and its init() on a two-host slice. A warm-up
    # step or a near-dup build (curate) would cost more set-up time than
    # it takes out of the measured window.
    with tracer.span("setup.warmup"):
        CrawlRun(spark, warm, warm_path, tracer, os.path.join(work, "ck-warm"))
    n_crawl = 0
    cr = CrawlRun(spark, web, pages_path, tracer,
                  os.path.join(work, f"ck{n_crawl}"))
    setup_s = time.perf_counter() - t0

    crawls = []
    t_start = time.time()
    while True:
        ok = cr.run()
        crawls.append(cr)
        if not ok or time.time() - t_start >= args.seconds:
            break
        n_crawl += 1
        cr = CrawlRun(spark, web, pages_path, tracer,
                      os.path.join(work, f"ck{n_crawl}"))
    peak_mb = sampler.stop()

    # ---- outputs and their check
    outs = [read_crawl(c.ck, c.gens) for c in crawls]
    fetched_all = sorted({r[0] for o in outs for g, d in o["gen"].items()
                          for r in d["rows"] if r[2] == "fetched"})
    expected, kernel_s = check.kernel_images(web, fetched_all)
    attempted = failed = 0
    verdicts = []
    for c, o in zip(crawls, outs):
        rows = [r for d in o["gen"].values() for r in d["rows"]]
        fetched = [r[0] for r in rows if r[2] == "fetched"]
        extracted: dict = {}
        for g, d in o["gen"].items():
            for page, _, img in d.get("extracted", []):
                lst = extracted.setdefault(page, [])
                if img is not None:
                    lst.append(img)
        keys = None
        if web.reachable - set(fetched):
            keys = fp_keys(spark, web, c, o, fetched)
        v = check.check_crawl(
            web, fetched, [r[0] for r in rows if r[2] == "fetch_failed"],
            {r[0] for r in rows if r[2] == "disallowed"},
            extracted, expected, keys,
        )
        if not all(ok for *_, ok in c.gens):
            v.fail("a generation raised")
        verdicts.append(v)
        attempted += len(c.gens)
        failed += 0 if v.ok else len(c.gens)

    # ---- end-to-end metrics (a generation that raised still took its
    # wall time; it fetched nothing)
    walls = [e - s for c in crawls for _, s, e, _ in c.gens]
    fetched_n = docs_n = 0
    lags = []
    for c, o in zip(crawls, outs):
        for g, s, e, ok in c.gens:
            if not ok:
                continue
            d = o["gen"][g]
            fetched_n += sum(1 for r in d["rows"] if r[2] == "fetched")
            docs_n += len({p for p, st, _ in d["extracted"] if st == "ok"})
            disc = {r[0]: r[1] for r in o["gen"][g - 1]["rows"]
                    if r[2] == "pending"}
            for r in d["rows"]:
                if r[2] == "fetched":
                    lags.append(d["commit"] - o["gen"][disc[r[0]]]["commit"])
    busy = sum(walls)
    metrics = {
        "setup_s": setup_s,
        "pages_per_s": fetched_n / busy,
        "docs_per_s": docs_n / busy,
        "gen_s_p50": median(walls),
        "fetch_lag_s_p50": quantile(lags or [0.0], 0.5),
        "fetch_lag_s_p99": quantile(lags or [0.0], 0.99),
        "peak_rss_mb": peak_mb,
    }
    notes = {
        "pages_per_s": f"{fetched_n} pages over {len(walls)} generations",
        "gen_s_p50": f"n={len(walls)}: "
                     + " ".join(f"{w:.2f}" for w in walls),
        "fetch_lag_s_p50": f"n={len(lags)}",
        "fetch_lag_s_p99": f"n={len(lags)}",
    }
    res = {"metrics": metrics, "notes": notes, "attempted": attempted,
           "failed": failed, "verdicts": verdicts, "crawls": crawls,
           "outs": outs, "kernel_s": kernel_s}
    if args.trace:
        res["replay"] = crawl_replays(spark, crawls, outs, tracer)
    return res


def fp_keys(spark, web, crawl, out, fetched) -> dict:
    """Cuckoo keys of every admitted or missing URL (see check_crawl)."""
    from img_spark.operators.seen import CuckooFilter

    committed = [d for _, d in sorted(out["gen"].items()) if "manifest" in d]
    blobs = committed[-1]["manifest"]["seen_blobs"]
    nb = CuckooFilter.load(next(iter(blobs.values()))).nbuckets
    parts = crawl.crawler.cfg.partitions
    urls = sorted(web.reachable | set(fetched) | web.dead)
    return {u: check.cuckoo_key(h, parts, nb)
            for u, h in xxhash64(spark, urls).items()}


def crawl_replays(spark, crawls, outs, tracer) -> dict:
    """Direct calls into the politeness and seen layers on each timed
    generation's recorded inputs."""
    import numpy as np

    from img_spark.operators.politeness import dispatch_top_k
    from img_spark.operators.seen import CuckooFilter
    from img_spark.plans.crawl import read_pending

    res = {"dispatch_s": 0.0, "probe_s": 0.0, "per_salt": {},
           "mismatch": 0}
    probed = {}
    for c, o in zip(crawls, outs):
        cfg = c.crawler.cfg
        for g, *_ in c.gens:
            pending = read_pending(spark, c.ck, g - 1)
            with tracer.span("politeness.dispatch_top_k", trace=c.ck,
                             g=g) as s:
                force(dispatch_top_k(pending, cfg.host_budget,
                                     cfg.batch_window_s, order=cfg.priority))
            res["dispatch_s"] += s["end"] - s["start"]
            probed[(c.ck, g)] = [
                r for r in o["gen"][g]["rows"]
                if r[1] == g and r[2] in ("pending", "duplicate")
            ]
    hashes = xxhash64(spark, sorted({r[0] for rows in probed.values()
                                     for r in rows}))
    for c, o in zip(crawls, outs):
        cfg = c.crawler.cfg
        for g, *_ in c.gens:
            prev = o["gen"][g - 1].get("manifest", {}).get("seen_blobs", {})
            by_salt: dict = {}
            for r in probed[(c.ck, g)]:
                by_salt.setdefault(hashes[r[0]] % cfg.partitions, []).append(r)
            for salt, rows in sorted(by_salt.items()):
                rows.sort(key=lambda r: r[3])  # DFS-first occurrence wins
                f = CuckooFilter.load(prev.get(str(salt), ""),
                                      cfg.cuckoo_capacity)
                h = np.array([hashes[r[0]] for r in rows],
                             dtype=np.int64).astype(np.uint64)
                with tracer.span("seen.probe_and_insert", trace=c.ck, g=g,
                                 salt=salt) as s:
                    new = f.probe_and_insert(h)
                res["probe_s"] += s["end"] - s["start"]
                res["mismatch"] += int(sum(
                    bool(n) != (r[2] == "pending") for n, r in zip(new, rows)
                ))
                res["per_salt"][salt] = res["per_salt"].get(salt, 0) + len(rows)
    return res


def crawl_layers(res: dict, ev) -> tuple:
    """Per-layer metrics and the per-generation parts table."""
    from img_spark.operators.seen import CuckooFilter

    m = {k: 0.0 for k in PER_LAYER}
    table = []
    plan, eager, gaps, jobs, stages, errs = [], [], [], [], [], []

    def layer_of(path):
        if path is None:
            return "other_jobs"
        if "/extracted/" in path:
            return "extract_job"
        if "/frontier/" in path:
            return "state_job"
        return "other_jobs"

    for c, o in zip(res["crawls"], res["outs"]):
        for g, s, e, ok in c.gens:
            if not ok:
                continue
            d = o["gen"][g]
            st = d["manifest"].get("step_times", {})
            w = ev.window(s, e, layer_of)
            parts = {"driver_gap": w["driver_gap_s"], **w["layers"]}
            total = sum(parts.values())
            errs.append(abs(total - (e - s)) / (e - s))
            table.append((c.ck, g, e - s, parts, total, st))
            plan.append(st.get("plan", 0.0))
            eager.append(st.get("eager", 0.0))
            gaps.append(w["driver_gap_s"])
            jobs.append(w["jobs"])
            stages.append(w["stages"])
            rows = d["rows"]
            m["politeness.dispatched"] += sum(
                r[2] in ("fetched", "fetch_failed") for r in rows)
            m["politeness.held"] += sum(
                r[2] == "pending" and r[1] < g for r in rows)
            m["politeness.robots_checked"] += sum(
                r[1] == g and r[2] in ("pending", "duplicate", "disallowed")
                for r in rows)
            m["politeness.disallowed"] += sum(
                r[1] == g and r[2] == "disallowed" for r in rows)
            m["fetch.rows"] += sum(r[2] == "fetched" for r in rows)
            m["fetch.misses"] += sum(r[2] == "fetch_failed" for r in rows)
            m["fetch.scan_bytes"] += w["input"]
            m["extract.pages"] += len({p for p, *_ in d["extracted"]})
            m["extract.imgs"] += sum(i is not None for *_, i in d["extracted"])
            for (node, name), val in w["sql"].items():
                if node == "MapInPandas":
                    if name == "time to run Python workers":
                        m["extract.python_s"] += val
                    elif name.startswith("data "):
                        m["extract.arrow_bytes"] += val
            probes = sum(r[1] == g and r[2] in ("pending", "duplicate")
                         for r in rows)
            m["seen.probes"] += probes
            m["seen.inserts"] += sum(r[1] == g and r[2] == "pending"
                                     for r in rows)
            m["sink.extracted_write_s"] += st.get("extract", 0.0)
            m["sink.state_write_s"] += st.get("state", 0.0)
            for sub in ("extracted", "frontier", "seen"):
                b, n = dir_bytes(os.path.join(c.ck, sub, f"g{g}"))
                m["sink.bytes_written"] += b
                m["sink.files_written"] += n
                if sub == "seen":
                    m["seen.blob_bytes"] += b
            m["sink.bytes_written"] += os.path.getsize(
                os.path.join(c.ck, f"manifest-g{g}.json"))
            m["sink.files_written"] += 1
            m["sink.commit_s"] += d["commit"] - d["manifest"]["ts"]
            m["spark.executor_run_s"] += w["run_s"]
            m["spark.executor_cpu_s"] += w["cpu_s"]
            m["spark.shuffle_read_bytes"] += w["shuffle_read"]
            m["spark.shuffle_write_bytes"] += w["shuffle_write"]
            m["spark.spill_bytes"] += w["spill"]
            m["spark.tasks"] += w["tasks"]
        last = o["gen"][max(g for g, *_ in c.gens)]
        for path in last.get("manifest", {}).get("seen_blobs", {}).values():
            f = CuckooFilter.load(path)
            m["seen.load_factor_max"] = max(
                m["seen.load_factor_max"], f.count / (f.nbuckets * 4))
    m["crawl.plan_s"] = median(plan)
    m["crawl.eager_s"] = median(eager)
    m["crawl.driver_gap_s"] = median(gaps)
    m["crawl.jobs_per_gen"] = median(jobs)
    m["crawl.stages_per_gen"] = median(stages)
    m["crawl.generations"] = len(plan)
    m["crawl.parts_err_max"] = max(errs, default=0.0)
    m["politeness.dispatch_s"] = res["replay"]["dispatch_s"]
    m["extract.kernel_s"] = res["kernel_s"]
    if m["extract.python_s"]:
        m["extract.kernel_share"] = m["extract.kernel_s"] / m["extract.python_s"]
    if m["seen.probes"]:
        m["seen.new_ratio"] = m["seen.inserts"] / m["seen.probes"]
    m["seen.probe_s"] = res["replay"]["probe_s"]
    per_salt = list(res["replay"]["per_salt"].values())
    if per_salt:
        m["spark.probe_partition_skew"] = max(per_salt) / median(per_salt)
    return m, table


# ----------------------------------------------------------------- curate
def curate_workload(args, name: str, spark_box: list, tracer, work: str,
                    sampler) -> dict:
    import pyarrow as pa

    from img_spark.plans.corpus import build_corpus

    corpus = workloads.build(name, args.seed)
    warm = workloads.build(name, args.seed, warmup=True)
    schema = pa.schema([("doc_id", pa.string()), ("host", pa.string()),
                        ("title", pa.string()), ("text", pa.string()),
                        ("generation", pa.int32())])
    docs_path = os.path.join(work, "docs")
    warm_path = os.path.join(work, "warm_docs")
    write_parquet(corpus.docs, schema, docs_path)
    write_parquet(warm.docs, schema, warm_path)

    t0 = time.perf_counter()
    sampler.start()
    with tracer.span("setup.session"):
        spark = start_session(args.cores, work, args.eventlog)
    spark_box.append(spark)
    with tracer.span("setup.warmup"):
        build_corpus(spark, None, os.path.join(work, "corpus-warm"),
                     write_state=False,
                     documents=spark.read.parquet(warm_path))
    docs = spark.read.parquet(docs_path)
    setup_s = time.perf_counter() - t0

    builds = []     # (out_dir, start, end, ok)
    t_start = time.time()
    while True:
        out = os.path.join(work, f"corpus{len(builds)}")
        with tracer.span("corpus.build_corpus", trace=out) as s:
            try:
                build_corpus(spark, None, out, near_dup_threshold=NEAR_DUP,
                             near_dup_max_bucket=MAX_BUCKET, documents=docs)
                ok = True
            except Exception as e:  # a failed operation, reported
                print(f"build_corpus raised: {e!r}"[:400])
                ok = False
        builds.append((out, s["start"], s["end"], ok))
        if not ok or time.time() - t_start >= args.seconds:
            break
    peak_mb = sampler.stop()

    verdicts = []
    for out, _, _, ok in builds:
        if not ok:
            v = check.Verdict()
            v.fail("build_corpus raised")
        else:
            rows = read_dir(out, ["doc_id", "is_dup", "is_near_dup"])
            comps = dict(read_dir(os.path.join(out, "_state", "comps"),
                                  ["doc_id", "rep_id"]))
            v = check.check_curate(corpus, rows, comps, NEAR_DUP)
        verdicts.append(v)
    walls = [e - s for _, s, e, _ in builds]
    n = len(corpus.docs)
    lags = [e - s for _, s, e, ok in builds if ok for _ in range(n)]
    rate = n * sum(ok for *_, ok in builds) / sum(walls)
    metrics = {
        "setup_s": setup_s, "pages_per_s": rate, "docs_per_s": rate,
        "gen_s_p50": median(walls),
        "fetch_lag_s_p50": quantile(lags or [0.0], 0.5),
        "fetch_lag_s_p99": quantile(lags or [0.0], 0.99),
        "peak_rss_mb": peak_mb,
    }
    notes = {"docs_per_s": f"{n} documents x {len(walls)} builds",
             "gen_s_p50": f"n={len(walls)} builds"}
    res = {"metrics": metrics, "notes": notes, "attempted": len(builds),
           "failed": sum(not v.ok for v in verdicts), "verdicts": verdicts,
           "builds": builds}
    if args.trace:
        res["direct"] = curate_direct(spark, docs, tracer)
    return res


def curate_direct(spark, docs, tracer) -> dict:
    """Direct calls into textquality and dedup on the same documents."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from img_spark.operators.dedup import (
        exact_dedup, minhash_bands, minhash_dedup, minhash_lsh_candidates,
    )
    from img_spark.operators.textquality import quality_signals

    docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
    force(docs)
    out = {}

    def timed(name, fn):
        with tracer.span(name) as s:
            val = fn()
        out[name] = s["end"] - s["start"]
        return val

    timed("textquality.s", lambda: force(quality_signals(docs)))
    timed("dedup.exact_s", lambda: force(exact_dedup(docs)))
    banded = minhash_bands(docs).persist(StorageLevel.MEMORY_AND_DISK)
    timed("dedup.minhash_s", lambda: force(banded))
    out["dedup.lsh_candidate_pairs"] = minhash_lsh_candidates(
        docs, max_bucket=MAX_BUCKET, banded=banded).count()
    out["dedup.confirmed_pairs"] = minhash_dedup(
        docs, threshold=NEAR_DUP, max_bucket=MAX_BUCKET,
        banded=banded).count()
    out["dedup.max_bucket"] = banded.groupBy("band", "bucket").count().agg(
        F.max("count")).collect()[0][0]
    banded.unpersist()
    docs.unpersist()
    return out


def curate_layers(res: dict, ev) -> tuple:
    m = {k: 0.0 for k in PER_LAYER}
    for out, s, e, ok in res["builds"]:
        if not ok:
            continue
        w = ev.window(s, e, lambda p: "job")
        m["spark.executor_run_s"] += w["run_s"]
        m["spark.executor_cpu_s"] += w["cpu_s"]
        m["spark.shuffle_read_bytes"] += w["shuffle_read"]
        m["spark.shuffle_write_bytes"] += w["shuffle_write"]
        m["spark.spill_bytes"] += w["spill"]
        m["spark.tasks"] += w["tasks"]
        data = os.path.abspath(out)
        m["corpus.write_s"] += ev.exec_seconds(
            s, e, lambda p, d=data: p.rstrip("/").endswith(d))
    m.update(res["direct"])
    if m["dedup.lsh_candidate_pairs"]:
        m["dedup.pair_yield"] = (m["dedup.confirmed_pairs"]
                                 / m["dedup.lsh_candidate_pairs"])
    return m, []


# ------------------------------------------------------------------- main
def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=None,
                   help="local[N] parallelism (default: the CPU affinity "
                        "mask)")
    return p.parse_args(argv)


def print_table(table: list, layers: dict) -> None:
    if table:
        print("per-generation parts (s): wall | driver_gap extract_job "
              "state_job other_jobs | sum sum/wall | manifest step_times")
        for ck, g, wall, parts, total, st in table:
            p = " ".join(f"{parts.get(k, 0.0):.3f}" for k in (
                "driver_gap", "extract_job", "state_job", "other_jobs"))
            print(f"  {os.path.basename(ck)} g{g}: {wall:.3f} | {p} | "
                  f"{total:.3f} {total / wall:.3f} | {json.dumps(st)}")
    print("per-layer metrics:")
    for k, v in layers.items():
        print(f"  {k:28s} {v:.6g} {PER_LAYER[k]}")


def main(argv=None) -> int:
    args = parse_args(argv)
    # the program must be importable from the checkout before anything
    # runs; a tree without it fails here, before any result is printed
    import img_spark.plans.crawl  # noqa: F401

    args.cores = args.cores or affinity_cores()
    work = os.path.join(ROOT, ".perfbench_run",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({
        "PYTHONPATH": ROOT, "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(args.cores),
        # the launcher JVM spark-submit starts first would otherwise
        # leave its perf-data file under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "OPENBLAS_NUM_THREADS": "1", "OMP_NUM_THREADS": "1",
    })
    args.eventlog = os.path.join(work, "eventlog") if args.trace else None
    tracer = tracing.Tracer()
    sampler = tracing.RssSampler()
    spark_box: list = []
    kind = workloads.WORKLOADS[args.workload].kind
    fn = crawl_workload if kind == "crawl" else curate_workload
    try:
        res = fn(args, args.workload, spark_box, tracer, work, sampler)
        layers = table = None
        if args.trace:
            stop_session(spark_box.pop())
            ev = tracing.EventLog(tracing.find_eventlog(args.eventlog))
            layers, table = (crawl_layers if kind == "crawl"
                             else curate_layers)(res, ev)
            tracer.dump(os.path.join(
                ROOT, ".perfbench_run", "traces",
                f"{args.workload}-{args.seed}.json"))
    finally:
        if spark_box:
            stop_session(spark_box.pop())
        shutil.rmtree(work, ignore_errors=True)

    m = res["metrics"]
    print(f"workload {args.workload} seed {args.seed} local[{args.cores}] "
          f"trace {args.trace}")
    for k, unit in END_TO_END.items():
        note = res["notes"].get(k)
        print(f"  {k:18s} {m[k]:.6g} {unit}" + (f"  ({note})" if note else ""))
    ratio = res["failed"] / res["attempted"]
    print(f"  {'failed_ratio':18s} {ratio:.6g} ratio  "
          f"({res['failed']} of {res['attempted']} operations)")
    fp = sum(v.fp_misses for v in res["verdicts"])
    correct = res["failed"] == 0
    print("check: " + ("PASS" if correct else "FAIL")
          + f" ({len(res['verdicts'])} checked, {fp} seen-set "
            f"false-positive misses)")
    for v in res["verdicts"]:
        for p in v.problems:
            print("  " + p)
    if args.trace:
        layers["failed_ratio"] = ratio
        layers["seen.fp_misses"] = fp
        layers["trace.gen_s_p50"] = m["gen_s_p50"]
        layers["trace.pages_per_s"] = m["pages_per_s"]
        print_table(table, layers)
        if res.get("replay", {}).get("mismatch"):
            print(f"  seen replay disagreed on {res['replay']['mismatch']} "
                  f"rows")
        out = {k: {"value": float(v), "unit": PER_LAYER[k]}
               for k, v in layers.items()}
    else:
        out = {k: {"value": float(m[k]), "unit": u}
               for k, u in END_TO_END.items()}
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
