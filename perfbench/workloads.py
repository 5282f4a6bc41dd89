"""The sparksearch workloads, driven only through the engine's public
calls, plus the one-time preparation of the persisted serving index.

Every workload is one closed-loop client in one process on local[nproc].
Its timed work is sized from --seconds at a fixed nominal rate, so a run
does the same work on any host and two commits are compared on identical
operations. See NOTES.md for why each workload exists.
"""

from __future__ import annotations

import cProfile
import hashlib
import json
import os
import pstats
import resource
import shutil
import subprocess
import sys
import time
import traceback
from statistics import median

from perfbench import measure as M

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
PREP = os.path.join(WORK, "prep")

# the persisted serving index uses one fixed corpus, so a run never has to
# rebuild it; --seed picks the query stream that is served
CORPUS_SEED = 13
SHARD_SPAN = 1 << 9
K = 10
ALGO = "block_max_wand"
# doc-range span of the kernels: below SHARD_SPAN, so range skipping and
# threshold pruning engage inside each shard (as in bench.py)
RANGE_SPAN = 256
# driver heap for a 4-core, 15 GB host (local mode: executors share it)
DRIVER_MEM = "3g"

BUILD_DOCS = 4_000            # seeded corpus of the build workload
QUERY_DOCS = 20_000           # persisted index of the query workload
# nominal rates that turn --seconds into a fixed amount of timed work
BUILD_NOMINAL_S = 4.0        # seconds per build
QUERIES_PER_S = 20 / 3       # distinct queries per second of --seconds
TIMED_PASSES = 2             # timed passes; a query's latency is its fastest
WARM_BATCH = 20              # queries in the untimed batch call of the warm-up
BATCH_REPS = 2               # timed batch calls; throughput uses the fastest
CHECK_SAMPLE = 20            # queries compared with the exhaustive executor
PROFILE_SAMPLE = 50          # queries given to profile_queries when tracing
# micro-batch ingest after the timed builds: the staged build corpus split
# by url hash into segments, each followed by a reload and a few queries
INGEST_SEGMENTS = 2
INGEST_QUERIES = 5

E2E_UNITS = {
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "index_bytes_per_posting": "B",
    "setup_s": "s",
    "driver_peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "build.url_cuts_s": "s", "build.tokenize_rank_s": "s",
    "build.encode_postings_s": "s", "build.lexicon_s": "s",
    "build.shards_s": "s", "build.unattributed_s": "s",
    "build.tokenize.python_run_s": "s",
    "build.tokenize.python_bytes_in": "B",
    "build.tokenize.python_bytes_out": "B",
    "build.encode.python_run_s": "s",
    "build.encode.shuffle_write_bytes": "B",
    "index.postings": "count", "index.rows": "count", "index.vocab": "count",
    "index.docs_bin_bytes": "B", "index.tfs_bin_bytes": "B",
    "index.block_meta_bytes": "B", "index.bytes_per_posting": "B",
    "index.budget_share": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.python_run_s": "s", "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B", "spark.fetch_wait_s": "s",
    "spark.spill_bytes": "B", "spark.idle_core_s": "s",
    "serve.call_ms": "ms", "serve.collect_ms": "ms",
    "serve.spark_jobs_per_query": "count",
    "serve.fetch_jobs_per_query": "count",
    "serve.self.topk_ms": "ms", "serve.self.codecs_ms": "ms",
    "serve.self.scoring_ms": "ms", "serve.self.tokenize_ms": "ms",
    "serve.self.pyspark_ms": "ms", "serve.self.py4j_ms": "ms",
    "serve.self.other_ms": "ms",
    "serve.tail_ms": "ms", "serve.tail_level": "%",
    "serve.prefetch_s": "s", "serve.cached_postings": "count",
    "ingest.docs_per_s": "docs/s", "ingest.searchable_p50_s": "s",
    "ingest.call_s": "s", "ingest.load_s": "s", "ingest.first_query_s": "s",
    "ingest.jobs_per_segment": "count", "ingest.output_bytes": "B",
    "ingest.new_terms_per_segment": "count",
    "kernel.postings_decoded_per_q": "count",
    "kernel.blocks_decoded_per_q": "count",
    "kernel.docs_scored_per_q": "count",
    "kernel.ranges_skipped_share": "ratio",
    "batch.python_run_s": "s", "batch.python_bytes_in": "B",
    "batch.shuffle_bytes": "B", "batch.tasks": "count",
    "batch.idle_core_s": "s",
    "setup.session_s": "s", "setup.stage_s": "s", "setup.warm_s": "s",
    "prep.wall_s": "s",
    "query.term_repeat_share": "ratio", "query.unknown_term_share": "ratio",
    "trace.overhead_share": "ratio", "trace.unattributed_share": "ratio",
    "op_error_rate": "ratio",
}


def now() -> float:
    return time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_hash() -> str:
    """Hash of the engine's source tree: prepared inputs built by one
    version of the engine are never served by another."""
    h = hashlib.sha256()
    base = os.path.join(ROOT, "pisa_spark")
    for dirpath, dirnames, files in os.walk(base):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, base).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def prep_dir() -> str:
    """Key of the persisted query index: corpus seed, size, engine source."""
    return os.path.join(PREP, f"query-c{CORPUS_SEED}-n{QUERY_DOCS}-"
                        f"{source_hash()}")


def cores() -> int:
    """Cores this process may run on (what nproc reports)."""
    return len(os.sched_getaffinity(0))


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


# ---------------------------------------------------------------- session

def start_spark(run_dir: str, cores: int, eventlog_dir: str | None = None):
    """SparkSession confined to the run directory. The repository root goes
    on PYTHONPATH so the Python workers can import pisa_spark from any
    working directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every JVM spark-submit starts (its launcher too) keeps its temporary
    # files in the run directory and writes no hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"]))
    extra = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        # uncompressed, one file: the default zstd codec needs a Python
        # package this benchmark does not assume
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from pisa_spark.session import get_spark

    return get_spark(app_name="perfbench", cores=cores, extra=extra)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ----------------------------------------------------------------- index

def index_facts(index) -> dict:
    """Exact size counts and order-independent digests of an index, in two
    aggregate jobs."""
    from pyspark.sql import functions as F

    p = index.postings
    cols = [F.col(c) for c in p.columns]
    meta = (F.size("block_last_docs") * 8 + F.size("block_doc_offs") * 4
            + F.size("block_tf_offs") * 4 + F.size("block_max_part") * 4)
    pr = p.agg(
        F.sum("n").alias("postings"), F.count(F.lit(1)).alias("rows"),
        F.sum(F.length("docs_bin")).alias("docs_bin"),
        F.sum(F.length("tfs_bin")).alias("tfs_bin"),
        F.sum(meta).alias("meta"),
        F.sum(F.xxhash64(*cols).bitwiseAND(F.lit(0xFFFFFFFF))).alias("dig"),
    ).first()
    lex = index.lexicon
    lr = lex.agg(
        F.count(F.lit(1)).alias("vocab"), F.sum("df").alias("df"),
        F.sum(F.xxhash64(*[F.col(c) for c in lex.columns])
              .bitwiseAND(F.lit(0xFFFFFFFF))).alias("dig"),
    ).first()
    postings = int(pr["postings"] or 0)
    # fixed-width row header: shard_id, term_id, n, sum_tf, base_doc, last_doc
    header = 6 * 8 * int(pr["rows"])
    total = int(pr["docs_bin"]) + int(pr["tfs_bin"]) + int(pr["meta"]) + header
    return {
        "postings": postings, "rows": int(pr["rows"]),
        "vocab": int(lr["vocab"]), "df_sum": int(lr["df"] or 0),
        "docs_bin_bytes": int(pr["docs_bin"]),
        "tfs_bin_bytes": int(pr["tfs_bin"]),
        "block_meta_bytes": int(pr["meta"]),
        "bytes_per_posting": total / postings if postings else 0.0,
        "digest": (int(pr["dig"]), int(lr["dig"])),
    }


def _ranked(rows) -> dict[str, list]:
    """qid -> [(rank, doc_id)] from collected (qid, doc_id, score, rank)."""
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r["qid"], []).append((int(r["rank"]), int(r["doc_id"])))
    return {q: sorted(v) for q, v in out.items()}


# ---------------------------------------------------------- preparation

def prepare() -> None:
    """Build the persisted serving index if it is missing (one-time; its
    wall is recorded in READY.json and kept out of every run's metrics)."""
    final = prep_dir()
    if os.path.exists(os.path.join(final, "READY.json")):
        return
    from pisa_spark.config import IndexConfig
    from pisa_spark.plans.build import build_index
    from pisa_spark.sources import webtext

    run_dir = os.path.join(WORK, f"prep-run-{os.getpid()}")
    spark = start_spark(run_dir, cores())
    try:
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        n = QUERY_DOCS
        t0 = now()
        corpus = os.path.join(tmp, "corpus")
        webtext.generate(spark, n, seed=CORPUS_SEED).write.parquet(corpus)
        t1 = now()
        idx = build_index(spark.read.parquet(corpus),
                          IndexConfig(shard_span=SHARD_SPAN),
                          out_dir=os.path.join(tmp, "index"), html_col="html")
        t2 = now()
        shutil.rmtree(corpus)
        facts = index_facts(idx)
        facts.pop("digest")
        info = {"docs": n, "corpus_seed": CORPUS_SEED, "corpus_s": t1 - t0,
                "build_s": t2 - t1, "wall_s": now() - t0, **facts}
        with open(os.path.join(tmp, "READY.json"), "w") as fh:
            json.dump(info, fh, indent=1)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
        log(f"prepared the query index: {json.dumps(info)}")
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def ensure_prepared() -> None:
    """Run preparation in its own process, so every measured run starts the
    same way whether or not the prepared input already existed."""
    if os.path.exists(os.path.join(prep_dir(), "READY.json")):
        return
    subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                    "--prepare"], check=True, stdout=sys.stderr, timeout=850)


# ------------------------------------------------------------- the run

class Run:
    """State of one benchmark run: session, spans, counters and metrics."""

    def __init__(self, seed: int, seconds: int, trace: bool):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = cores()
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        self.eventlog_dir = (os.path.join(self.run_dir, "eventlog")
                             if trace else None)
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = dict.fromkeys(LAYER_UNITS, 0.0)
        self.profile = cProfile.Profile() if trace else None
        self.build_windows: list[tuple] = []
        self.traced_builds = 0
        self.spans = M.Spans(enabled=False)
        self.spark = None

    def start(self) -> None:
        t0 = now()
        self.spark = start_spark(self.run_dir, self.cores, self.eventlog_dir)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["setup.session_s"] = now() - t0
        self.spans = M.Spans(self.spark.sparkContext, enabled=self.trace)

    def stop(self) -> None:
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None

    def op(self, what: str, fn):
        """One attempted operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            self.failed += 1
            log(f"{what} raised:\n{traceback.format_exc()}")
            return None

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            log(f"output check failed: {what}")

    def traced(self, i: int) -> bool:
        """Traced runs alternate traced and untraced operations; the ratio
        of their medians is the tracing overhead."""
        return self.trace and i % 2 == 1


def _overhead(r: Run, walls: list[float], flags: list[bool]) -> None:
    on = [w for w, f in zip(walls, flags) if f]
    off = [w for w, f in zip(walls, flags) if not f]
    if on and off:
        r.layer["trace.overhead_share"] = median(on) / median(off) - 1.0


def _set_index_layers(r: Run, facts: dict) -> None:
    from pisa_spark.operators.topk import SERVE_CACHE_MAX_POSTINGS

    for k in ("postings", "rows", "vocab", "docs_bin_bytes", "tfs_bin_bytes",
              "block_meta_bytes", "bytes_per_posting"):
        r.layer[f"index.{k}"] = facts[k]
    r.layer["index.budget_share"] = (facts["postings"]
                                     / SERVE_CACHE_MAX_POSTINGS)
    r.e2e["index_bytes_per_posting"] = facts["bytes_per_posting"]


# ------------------------------------------------------------------ build

def run_build(r: Run) -> None:
    from pisa_spark.config import IndexConfig
    from pisa_spark.plans.build import build_index
    from pisa_spark.sources import webtext

    spark = r.spark
    cfg = IndexConfig(shard_span=SHARD_SPAN)
    n = BUILD_DOCS
    with r.spans.span("setup"):
        path = os.path.join(r.run_dir, "corpus")
        t0 = now()
        webtext.generate(spark, n, seed=r.seed).write.parquet(path)
        pages = spark.read.parquet(path)
        seg_docs = _segment_sizes(pages)
        r.layer["setup.stage_s"] = now() - t0
        t0 = now()
        build_index(pages, cfg, html_col="html", eager=True)
        spark.catalog.clearCache()
        r.layer["setup.warm_s"] = now() - t0
    log(f"set-up done: stage {r.layer['setup.stage_s']:.1f} s, "
        f"warm {r.layer['setup.warm_s']:.1f} s")

    n_builds = max(3, round(r.seconds / BUILD_NOMINAL_S))
    walls, flags, digests, phases = [], [], [], []
    with r.spans.span("timed"):
        for i in range(n_builds):
            traced = r.traced(i)
            with r.spans.span("build", on=traced) as rec:
                t0 = now()
                idx = r.op("build_index", lambda: build_index(
                    pages, cfg, html_col="html", eager=True))
                wall = now() - t0
            if idx is None:
                continue
            walls.append(wall)
            flags.append(traced)
            ph = dict(idx.stats.get("phase_seconds", {}))
            phases.append((wall, ph))
            if rec is not None:
                r.build_windows.extend(M.phase_windows(rec["start"], ph))
                r.traced_builds += 1
            with r.spans.span("check"):
                facts = index_facts(idx)
                r.check(idx.stats["num_docs"] == n,
                        f"num_docs {idx.stats['num_docs']} != corpus rows {n}")
                r.check(facts["df_sum"] == facts["postings"],
                        f"sum df {facts['df_sum']} != sum n "
                        f"{facts['postings']}")
                digests.append(facts["digest"])
                spark.catalog.clearCache()
    r.check(len(set(digests)) <= 1, f"index digests differ: {set(digests)}")
    log("build walls (s): " + " ".join(f"{w:.3f}" for w in walls))
    if walls:
        med = median(walls)
        r.e2e["latency_p50_ms"] = med * 1e3
        r.e2e["throughput_per_s"] = n / med
        _set_index_layers(r, facts)
    _overhead(r, walls, flags)
    if phases:
        keys = {"url_cuts": ["url_cuts"], "tokenize_rank": ["tokenize_rank"],
                "encode_postings": ["encode_postings"],
                "lexicon": ["lexicon_base", "lexicon_meta"],
                "shards": ["shards"]}
        for name, parts in keys.items():
            r.layer[f"build.{name}_s"] = median(
                [sum(float(ph.get(p, 0.0)) for p in parts)
                 for _w, ph in phases])
        r.layer["build.unattributed_s"] = median(
            [w - sum(float(v) for v in ph.values()) for w, ph in phases])
        r.layer["trace.unattributed_share"] = (
            r.layer["build.unattributed_s"] / median([w for w, _ in phases]))
    _run_ingest(r, cfg, pages, seg_docs)


# ----------------------------------------------------------------- ingest

def _segment_of():
    """Ingest segment of a page: its url hash mod INGEST_SEGMENTS."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64("url"), F.lit(INGEST_SEGMENTS))


def _segment_sizes(pages) -> list[int]:
    """Docs in each ingest segment of the staged corpus (one job)."""
    got = {int(row["s"]): int(row["count"]) for row in pages.groupBy(
        _segment_of().alias("s")).count().collect()}
    return [got.get(i, 0) for i in range(INGEST_SEGMENTS)]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(path) for f in files)


def _run_ingest(r: Run, cfg, pages, seg_docs: list[int]) -> None:
    """Micro-batch ingest: every segment goes through ingest_batch, then
    load_stream_index reloads the grown index and a few queries run on it.
    A segment is searchable when the first query over the reloaded index
    has returned. The previous index is released (its cached DataFrames
    dropped) before each segment, as a server swapping in a fresh index
    would; see NOTES.md for what happens when it is kept."""
    from pisa_spark.operators.topk import topk_search
    from pisa_spark.sources import webtext
    from pisa_spark.streaming.incremental import (ingest_batch,
                                                  load_stream_index)

    spark = r.spark
    out_dir = os.path.join(r.run_dir, "stream_index")
    queries = webtext.synth_queries(INGEST_QUERIES, seed=r.seed)
    calls, loads, firsts, searchable = [], [], [], []
    total = vocab = 0
    with r.spans.span("ingest"):
        for i in range(INGEST_SEGMENTS):
            spark.catalog.clearCache()
            t0 = now()
            with r.spans.span("ingest.call"):
                seg = r.op("ingest_batch", lambda: ingest_batch(
                    pages.where(_segment_of() == i), out_dir, cfg,
                    html_col="html", batch_id=i))
            t1 = now()
            if seg is None:
                continue
            total += seg_docs[i]
            calls.append(t1 - t0)
            with r.spans.span("ingest.load"):
                sidx = r.op("load_stream_index",
                            lambda: load_stream_index(spark, out_dir, cfg))
            t2 = now()
            if sidx is None:
                continue
            with r.spans.span("ingest.query"):
                first = r.op("topk_search", lambda: _serve_one(
                    sidx, queries[0]))
                t3 = now()
                rest = [r.op("topk_search", lambda q=q: _serve_one(sidx, q))
                        for q in queries[1:]]
            loads.append(t2 - t1)
            if first is not None:
                firsts.append(t3 - t2)
                searchable.append(t3 - t0)
            with r.spans.span("check"):
                r.check(sidx.stats["num_docs"] == total,
                        f"stream index num_docs {sidx.stats['num_docs']} "
                        f"!= docs ingested {total}")
                exh = r.op("ranked_or", lambda: _ranked(topk_search(
                    sidx, queries, k=K, algorithm="ranked_or",
                    range_span=RANGE_SPAN, with_urls=False).collect()))
                for q, rows in zip(queries, [first] + rest):
                    qid = q.split(":", 1)[0]
                    if rows is not None and exh is not None:
                        r.check(_ranked(rows).get(qid, []) == exh.get(qid, []),
                                f"segment {i}: {ALGO} != ranked_or for {qid}")
                if r.trace:
                    vocab = sidx.lexicon.count()
        spark.catalog.clearCache()
    log("ingest (s): call " + " ".join(f"{c:.3f}" for c in calls)
        + ", searchable " + " ".join(f"{c:.3f}" for c in searchable))
    if calls:
        r.layer["ingest.docs_per_s"] = total / sum(calls)
        r.layer["ingest.call_s"] = median(calls)
        r.layer["ingest.output_bytes"] = _dir_bytes(out_dir) / len(calls)
        r.layer["ingest.new_terms_per_segment"] = vocab / len(calls)
    if loads:
        r.layer["ingest.load_s"] = median(loads)
    if searchable:
        r.layer["ingest.first_query_s"] = median(firsts)
        r.layer["ingest.searchable_p50_s"] = median(searchable)


# ------------------------------------------------------------------ serve

def _serve_one(idx, q: str):
    from pisa_spark.operators.topk import topk_search

    return topk_search(idx, [q], k=K, algorithm=ALGO, range_span=RANGE_SPAN,
                       with_urls=False).collect()


def _query_props(r: Run, idx, queries: list[str]) -> None:
    """Share of query terms already used by an earlier query of the set
    (work queries share), and share not in the lexicon (one untimed job)."""
    from pyspark.sql import functions as F

    from pisa_spark.functions.tokenize import analyze_query_terms

    seen: set = set()
    terms, repeats = [], 0
    for _qid, term, _w in analyze_query_terms(queries, idx.cfg):
        terms.append(term)
        repeats += term in seen
        seen.add(term)
    if not terms:
        return
    vocab = set(terms)
    known = {row["term"] for row in idx.lexicon.select("term")
             .filter(F.col("term").isin(list(vocab))).collect()}
    r.layer["query.term_repeat_share"] = repeats / len(terms)
    r.layer["query.unknown_term_share"] = (
        sum(t not in known for t in terms) / len(terms))


def _kernel_counts(r: Run, idx, queries: list[str]) -> None:
    from pisa_spark.operators.topk import profile_queries

    rows = profile_queries(idx, queries, k=K, algorithm=ALGO,
                           range_span=RANGE_SPAN).collect()
    per_q: dict[str, list] = {}
    for row in rows:
        acc = per_q.setdefault(row["qid"], [0, 0, 0, 0, 0])
        for j, c in enumerate(("postings_decoded", "blocks_decoded",
                               "docs_scored", "ranges", "ranges_skipped")):
            acc[j] += int(row[c])
    nq = max(1, len(queries))
    tot = [sum(v[j] for v in per_q.values()) for j in range(5)]
    r.layer["kernel.postings_decoded_per_q"] = tot[0] / nq
    r.layer["kernel.blocks_decoded_per_q"] = tot[1] / nq
    r.layer["kernel.docs_scored_per_q"] = tot[2] / nq
    r.layer["kernel.ranges_skipped_share"] = tot[4] / tot[3] if tot[3] else 0.0


def run_query(r: Run) -> None:
    """The reference `queries` tool protocol: one untimed pass over the
    query set warms the serve caches, then every query is timed once per
    pass for TIMED_PASSES passes. A query's latency is its fastest
    untraced pass, which a short burst of CPU steal on a shared host does
    not move."""
    from pisa_spark.operators.topk import topk_search, topk_search_batch
    from pisa_spark.plans.build import load_index
    from pisa_spark.sources import webtext

    spark = r.spark
    idx_dir = os.path.join(prep_dir(), "index")
    with open(os.path.join(prep_dir(), "READY.json")) as fh:
        ready = json.load(fh)
    r.layer["prep.wall_s"] = ready["wall_s"]
    n_q = max(50, round(r.seconds * QUERIES_PER_S))
    queries = webtext.synth_queries(n_q, seed=r.seed)
    qids = [q.split(":", 1)[0] for q in queries]

    with r.spans.span("setup"):
        # load the persisted index and answer the first query, which builds
        # the driver serve state and prefetches every posting row (the index
        # fits the serve cache budget)
        t0 = now()
        idx = load_index(spark, idx_dir)
        t1 = now()
        _serve_one(idx, queries[0])
        r.layer["setup.stage_s"] = now() - t0
        r.layer["serve.prefetch_s"] = now() - t1
        t0 = now()
        for q in queries:
            _serve_one(idx, q)
        topk_search_batch(idx, queries[:WARM_BATCH], k=K, algorithm=ALGO,
                          range_span=RANGE_SPAN).collect()
        r.layer["setup.warm_s"] = now() - t0
    log(f"set-up done: load {r.layer['setup.stage_s']:.1f} s, "
        f"warm {r.layer['setup.warm_s']:.1f} s")

    served: list[tuple] = []
    per_q: dict[str, list] = {qid: [] for qid in qids}
    walls, flags, calls, collects = [], [], [], []
    with r.spans.span("timed"):
        for p in range(TIMED_PASSES):
            traced = r.traced(p)
            for q, qid in zip(queries, qids):

                def serve_op():
                    t0 = now()
                    with r.spans.span("serve.call", on=traced):
                        df = topk_search(idx, [q], k=K, algorithm=ALGO,
                                         range_span=RANGE_SPAN,
                                         with_urls=False)
                    t1 = now()
                    with r.spans.span("serve.collect", on=traced):
                        rows = df.collect()
                    return rows, t0, t1, now()

                if traced:
                    r.profile.enable()
                with r.spans.span("serve.query", on=traced):
                    out = r.op("topk_search", serve_op)
                if traced:
                    r.profile.disable()
                if out is None:
                    continue
                rows, t0, t1, t2 = out
                walls.append(t2 - t0)
                flags.append(traced)
                if traced:
                    calls.append(t1 - t0)
                    collects.append(t2 - t1)
                else:
                    per_q[qid].append(t2 - t0)
                served.append((qid, _ranked(rows).get(qid, [])))
        batches, batch_s = [], []
        for _ in range(BATCH_REPS):
            with r.spans.span("batch"):
                t0 = now()
                got = r.op("topk_search_batch", lambda: topk_search_batch(
                    idx, queries, k=K, algorithm=ALGO,
                    range_span=RANGE_SPAN).collect())
                if got is not None:
                    batch_s.append(now() - t0)
                    batches.append(_ranked(got))

    # ---- output checks (untimed): every served result against the batch
    # executor, and a sample against the exhaustive ranked_or kernel
    if batches:
        ref = batches[0]
        for other in batches[1:]:
            r.check(other == ref, "batch results differ between calls")
        for qid, got in served:
            r.check(got == ref.get(qid, []), f"serve != batch for {qid}")
    sample = queries[:CHECK_SAMPLE]
    exh = _ranked(topk_search(idx, sample, k=K, algorithm="ranked_or",
                              range_span=RANGE_SPAN,
                              with_urls=False).collect())
    last = dict(served)
    for qid in qids[:CHECK_SAMPLE]:
        if qid in last:
            r.check(last[qid] == exh.get(qid, []),
                    f"block_max_wand != ranked_or for {qid}")

    st = getattr(idx, "_serve_state", None)
    r.layer["serve.cached_postings"] = float(getattr(st, "cached_postings", 0))
    lat = [min(v) for v in per_q.values() if v]
    if lat:
        r.e2e["latency_p50_ms"] = median(lat) * 1e3
        lvl = M.tail_level(len(lat))
        if lvl is not None:
            r.layer["serve.tail_level"] = lvl
            r.layer["serve.tail_ms"] = M.percentile(lat, lvl) * 1e3
        log(f"serve: {len(lat)} queries x {len(walls) // max(1, len(lat))} "
            f"passes, p50 {median(lat) * 1e3:.2f} ms"
            + (f", p{lvl:g} {r.layer['serve.tail_ms']:.2f} ms" if lvl else ""))
    if batch_s:
        log("batch walls (s): " + " ".join(f"{b:.3f}" for b in batch_s))
        r.e2e["throughput_per_s"] = len(queries) / min(batch_s)
    _overhead(r, walls, flags)
    if r.trace:
        n_tr = max(1, len(calls))
        r.layer["serve.call_ms"] = median(calls) * 1e3 if calls else 0.0
        r.layer["serve.collect_ms"] = (median(collects) * 1e3
                                       if collects else 0.0)
        pst = pstats.Stats(r.profile)
        for b, s in M.self_time_by_bucket(pst.stats).items():
            r.layer[f"serve.self.{b}_ms"] = s * 1e3 / n_tr
        top = sorted(pst.stats.items(), key=lambda kv: -kv[1][2])[:12]
        log("serve self time per query, top functions: " + "; ".join(
            f"{f[0].split('site-packages/')[-1]}:{f[2]} "
            f"{v[2] * 1e3 / n_tr:.2f} ms" for f, v in top))
        _query_props(r, idx, queries)
        _kernel_counts(r, idx, queries[:PROFILE_SAMPLE])
    # exact counts of the persisted index, taken when it was prepared
    _set_index_layers(r, ready)


WORKLOADS = {"build": run_build, "query": run_query}


# ------------------------------------------------------------ attribution

def attribute_trace(r: Run) -> None:
    """Per-layer Spark metrics from the event log, after the session ended."""
    logs = [os.path.join(r.eventlog_dir, f)
            for f in os.listdir(r.eventlog_dir)]
    if not logs:
        log("no event log written; Spark per-layer metrics unavailable")
        return
    ev = M.read_eventlog(logs[0])
    spans = [s for s in r.spans.records if s["end"] is not None]
    by = M.attribute(ev, spans, r.cores)
    n_seg = sum(1 for s in spans if s["name"] == "ingest.call")
    if n_seg:
        r.layer["ingest.jobs_per_segment"] = (
            by.get("ingest.call", {}).get("jobs", 0) / n_seg)
    timed = [s for s in spans if s["name"] == "timed"]
    if not timed:
        return
    tid = timed[0]["id"]
    parent = {s["id"]: s["parent"] for s in spans}

    def under_timed(sid):
        while sid is not None:
            if sid == tid:
                return True
            sid = parent[sid]
        return False

    # output checks run between timed operations but are not measured
    names = {s["name"] for s in spans if under_timed(s["id"])} - {"check"}
    tot = M.total(by[n] for n in names if n in by)
    wall = (timed[0]["end"] - timed[0]["start"]
            - by.get("check", {}).get("wall_s", 0.0))
    renamed = {"executor_run_s": "run_s", "executor_cpu_s": "cpu_s"}
    for k in ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
              "executor_cpu_s", "gc_s", "python_run_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "fetch_wait_s", "spill_bytes"):
        r.layer[f"spark.{k}"] = tot[renamed.get(k, k)]
    r.layer["spark.idle_core_s"] = max(0.0, r.cores * wall - tot["run_s"])

    n_q = sum(1 for s in spans if s["name"] == "serve.query")
    if n_q:
        r.layer["serve.fetch_jobs_per_query"] = (
            by.get("serve.call", {}).get("jobs", 0) / n_q)
        r.layer["serve.spark_jobs_per_query"] = sum(
            by.get(n, {}).get("jobs", 0)
            for n in ("serve.query", "serve.call", "serve.collect")) / n_q
        q_wall = by["serve.query"]["wall_s"]
        covered = (by.get("serve.call", {}).get("wall_s", 0.0)
                   + by.get("serve.collect", {}).get("wall_s", 0.0))
        r.layer["trace.unattributed_share"] = 1.0 - covered / q_wall
    if "batch" in by:
        b = by["batch"]
        r.layer["batch.python_run_s"] = b["python_run_s"]
        r.layer["batch.python_bytes_in"] = b["python_bytes_in"]
        r.layer["batch.shuffle_bytes"] = b["shuffle_write_bytes"]
        r.layer["batch.tasks"] = b["tasks"]
        r.layer["batch.idle_core_s"] = b["idle_core_s"]
    if r.build_windows:
        # per traced build
        ph = M.attribute_phases(ev, r.build_windows)
        tok = ph.get("tokenize_rank", {})
        enc = ph.get("encode_postings", {})
        n_b = max(1, r.traced_builds)
        for key, agg, src in (
                ("build.tokenize.python_run_s", tok, "python_run_s"),
                ("build.tokenize.python_bytes_in", tok, "python_bytes_in"),
                ("build.tokenize.python_bytes_out", tok, "python_bytes_out"),
                ("build.encode.python_run_s", enc, "python_run_s"),
                ("build.encode.shuffle_write_bytes", enc,
                 "shuffle_write_bytes")):
            r.layer[key] = agg.get(src, 0.0) / n_b
