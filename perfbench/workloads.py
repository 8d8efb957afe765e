"""The benchmark's workloads, driven through the package's public API.

One process, Spark at ``local[nproc]``, one client thread in a closed loop:
each operation starts when the previous one has returned.

* ``lookup`` — flat BM25 top-10 queries of 1-4 corpus-frequency terms.
  Every one passes the driver fast-path gates, so the work is term stats,
  driver decode and result materialization; the compiler and the
  distributed plan are bypassed. It is the no-change control for changes
  to the distributed query path and to the segment build modes.
* ``ingest`` — writes beside reads. Each round appends a staged batch,
  tombstones two base conversations, reopens the engine and runs a flat
  BM25 probe that must see the appended turns and must not see the
  deleted ones, then a read the fast path declines, BM25 #SUM with #SYN.
  The run ends with ``compact_index`` and ``purge_deletes``. It is the only user of the
  shuffle segment mode and of multi-generation reads with tombstone
  masking.

Both workloads start with a full ``build_index`` of the seeded corpus,
timed as part of set-up; tokenize, encode, merge shuffle and Parquet
write are measured there.
"""

from __future__ import annotations

import json
import os
import statistics
import traceback
from contextlib import nullcontext
from time import perf_counter

import numpy as np

import search_engine_framework_spark.engine as engine_mod
import search_engine_framework_spark.fastpath as fastpath_mod
import search_engine_framework_spark.index.build as build_mod
import search_engine_framework_spark.index.deletes as deletes_mod
import search_engine_framework_spark.index.reader as reader_mod
import search_engine_framework_spark.plans.compiler as compiler_mod
import search_engine_framework_spark.streaming.incremental as incr_mod
from search_engine_framework_spark.session import get_spark

import inputs
from check import MODEL, Golden, matches, rows_of
from inputs import FIELDS, K, Query
from tracing import Tracer

# Layout for a ~1k-turn corpus: the bucket/salt counts the test suite
# uses for its small indexes (the defaults size a cluster-scale corpus).
N_BUCKETS = 8
N_SALTS = 4
LOOKUP_POOL = 60
LOOKUP_WARMUP = 3


class Run:
    """One benchmark run: the session, the counters and the samples."""

    def __init__(self, seed: int, seconds: int, trace: bool, work: str):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.index_dir = os.path.join(work, "index")
        self.rng = np.random.default_rng(seed)
        self.attempted = 0
        self.failures: list[dict] = []
        self.lat_ms: list[float] = []  # untraced query latencies
        self.traced_lat_ms: list[float] = []
        self.values: dict[str, float | None] = {}
        self.samples: dict[str, int] = {}
        self.engines: list = []
        self.n_queries = 0
        self.tracer: Tracer | None = None
        self.ops: list[tuple[str, float]] = []  # (kind, seconds) per operation

    # -- operations ---------------------------------------------------------
    def do(self, kind: str, what: str, fn, traced: bool = True):
        """Run one operation → (ok, result, seconds). An exception counts
        the operation as failed; the run goes on."""
        self.attempted += 1
        tr = self.tracer
        if tr is not None:
            if traced and not tr.installed:
                tr.install()
            elif not traced and tr.installed:
                tr.uninstall()
        ctx = tr.span(f"op.{kind}", input=what) if tr and traced else nullcontext()
        t0 = perf_counter()
        try:
            with ctx:
                out = fn()
        except Exception as e:  # a failed operation is a result, not a crash
            self.fail(kind, what, f"{type(e).__name__}: {e}", traceback.format_exc())
            return False, None, perf_counter() - t0
        secs = perf_counter() - t0
        self.ops.append((kind, secs))
        return True, out, secs

    def fail(self, kind: str, what: str, reason: str, tb: str | None = None) -> None:
        """Record why the current operation failed (it may fail several
        checks; it counts once)."""
        self.failures.append({"op_no": self.attempted, "op": kind, "input": what,
                              "reason": reason, "traceback": tb})

    @property
    def failed(self) -> int:
        return len({f["op_no"] for f in self.failures})

    def span(self, name: str):
        tr = self.tracer
        return tr.span(name) if tr is not None and tr.installed else nullcontext()

    def query(self, eng, q: Query, want, traced: bool = True, sample: bool = True) -> None:
        """One search plus collecting its rows: what a caller receives.
        ``sample=False`` checks the result without adding a latency sample."""

        def fn():
            df = eng.search(q.text, MODEL, k=K)
            with self.span("engine.result_collect"):
                return df.collect()

        ok, rows, secs = self.do("query", q.text, fn, traced)
        self.n_queries += 1
        if not ok:
            return
        if sample:
            (self.traced_lat_ms if self.tracer and traced else self.lat_ms).append(secs * 1000.0)
        got = rows_of(rows)
        if not matches(got, want):
            self.fail("query", q.text, f"got {got[:3]}..., oracle {want[:3]}...")

    # -- set-up -------------------------------------------------------------
    def start(self) -> None:
        """Stage the seed's inputs (untimed), then start Spark (timed)."""
        self.staged = inputs.stage(self.seed, self.work)
        t0 = perf_counter()
        self.spark = start_session(self.work)
        self.values["session.start_s"] = perf_counter() - t0
        inputs.check_schema(self.spark, self.staged)
        if self.trace:
            self.tracer = Tracer(self.spark.sparkContext)
            register_targets(self.tracer)

    def setup(self, warm: list[Query], warm_golden: Golden) -> None:
        """Build, open, warm-up queries; ``setup_s`` adds session start."""
        corpus = self.spark.read.parquet(self.staged.corpus_dir)
        reset_peak_rss()
        ok, _, build_s = self.do("build", "corpus", lambda: build_mod.build_index(
            self.spark, corpus, self.index_dir, fields=FIELDS,
            n_buckets=N_BUCKETS, n_salts=N_SALTS))
        if not ok:
            raise RuntimeError(f"build failed: {self.failures[-1]['reason']}")
        eng, open_s = self.open()
        wants = [warm_golden.expected(q, K) for q in warm]
        t0 = perf_counter()
        for q, want in zip(warm, wants):
            self.query(eng, q, want)
        warm_s = perf_counter() - t0
        self.lat_ms.clear()
        self.traced_lat_ms.clear()
        self.values["setup_s"] = self.values["session.start_s"] + build_s + open_s + warm_s
        self.values["build_turns_per_s"] = inputs.BASE_TURNS / build_s
        self.values["index_bytes_per_text_byte"] = (
            tree_bytes(self.index_dir) / self.staged.text_bytes
        )
        self.build_manifests = read_manifests(self.index_dir)
        self.check_build(eng, warm_golden)
        self.eng = eng

    def open(self):
        ok, eng, secs = self.do(
            "open", "index", lambda: engine_mod.SearchEngine(self.spark, self.index_dir))
        if not ok:
            raise RuntimeError(f"open failed: {self.failures[-1]['reason']}")
        self.engines.append(eng)
        return eng, secs

    def check_build(self, eng, golden: Golden) -> None:
        """N equals the turn count; Σ df over segments equals the oracle's
        posting count."""
        import pyarrow.parquet as pq

        self.attempted += 1
        n = eng.reader.num_docs
        seg = pq.read_table(os.path.join(self.index_dir, "segments"), columns=["df"])
        sum_df = int(sum(seg["df"].to_pylist()))
        if n != inputs.BASE_TURNS or sum_df != golden.n_postings:
            self.fail("build", "corpus",
                      f"N={n} (want {inputs.BASE_TURNS}), sum df={sum_df} "
                      f"(oracle {golden.n_postings})")

    def stop(self) -> None:
        stop_session(self.spark)

    # -- results ------------------------------------------------------------
    def end_to_end(self, loop_s: float) -> None:
        lat = self.lat_ms
        self.values["query_p50_ms"] = statistics.median(lat) if lat else None
        self.samples["query_p50_ms"] = len(lat)
        tail, pct, n = tail_percentile(lat)
        self.values["query_tail_ms"] = tail
        self.values["query_tail_pct"] = pct
        self.samples["query_tail_ms"] = n
        n_loop = len(lat) + len(self.traced_lat_ms)
        self.values["queries_per_s"] = n_loop / loop_s if loop_s > 0 else None
        self.samples["queries_per_s"] = n_loop
        self.values["driver_peak_rss_mb"] = peak_rss_mb()


# -- workloads --------------------------------------------------------------
def run_lookup(run: Run) -> None:
    base = Golden(run.staged.base_rows)
    sampler = inputs.TermSampler(run.staged.base_rows, run.rng)
    pool = inputs.lookup_queries(sampler, LOOKUP_POOL)
    goldens = {q.qid: base.expected(q, K) for q in pool}
    # the first fast-path calls in a fresh JVM run slow for a few queries
    run.setup(pool[:LOOKUP_WARMUP], base)
    deadline = perf_counter() + run.seconds
    t0 = perf_counter()
    i = LOOKUP_WARMUP
    while perf_counter() < deadline:
        q = pool[i % len(pool)]
        # the traced run alternates traced and untraced queries: the
        # difference of their medians is the tracing overhead
        run.query(run.eng, q, goldens[q.qid], traced=i % 2 == 0)
        i += 1
    run.end_to_end(perf_counter() - t0)


def run_ingest(run: Run) -> None:
    staged = run.staged
    base = Golden(staged.base_rows)
    sampler = inputs.TermSampler(staged.base_rows, run.rng)
    # docids: dense (conv_id, turn_idx) rank over base + every batch —
    # batches sort after the base and are appended in order
    every = staged.base_rows + [r for b in staged.batch_rows for r in b]
    doc_id = {ext(r): i for i, r in enumerate(every)}
    raw_df: dict[str, int] = {}
    for r in every:
        for w in set((r["text"] or "").split()):
            raw_df[w] = raw_df.get(w, 0) + 1
    base_convs = sorted({r["conv_id"] for r in staged.base_rows})
    victims = [list(v) for v in run.rng.choice(
        base_convs, size=(inputs.N_BATCHES, 2), replace=False)]

    # per round: the golden of the state after it, and its queries
    rounds = []
    dead: set[int] = set()
    for b in range(inputs.N_BATCHES):
        rows = staged.base_rows + [r for bb in staged.batch_rows[:b + 1] for r in bb]
        killed = [r for r in staged.base_rows if r["conv_id"] in victims[b]]
        dead |= {doc_id[ext(r)] for r in killed}
        golden = Golden(rows, dead=frozenset(dead))
        new_turn = staged.batch_rows[b][int(run.rng.integers(len(staged.batch_rows[b])))]
        dead_turn = killed[int(run.rng.integers(len(killed)))]
        # the rarest words of an appended and of a deleted turn: the oracle
        # ranks the first on top and never returns the second
        probe = inputs.rare_terms(new_turn, 3, raw_df) + inputs.rare_terms(dead_turn, 3, raw_df)
        qs = [Query(f"P{b}", " ".join(probe)), inputs.structured_query(sampler)]
        rounds.append({
            "queries": [(q, golden.expected(q, K)) for q in qs],
            "victims": victims[b],
            "killed": killed,
        })

    run.setup(inputs.lookup_queries(sampler, 1), base)
    eng = run.eng
    deadline = perf_counter() + run.seconds
    t0 = perf_counter()
    append_s, appended, generations = 0.0, 0, 1
    done = 0
    while done == 0 or (perf_counter() < deadline and done < inputs.N_BATCHES):
        rd = rounds[done]
        batch_df = run.spark.read.parquet(staged.batch_dirs[done])
        ok, n, secs = run.do("append", f"batch-{done}", lambda: incr_mod.append_index(
            run.spark, batch_df, run.index_dir))
        if ok:
            append_s += secs
            appended += n
            if n != inputs.BATCH_TURNS:
                run.fail("append", f"batch-{done}", f"indexed {n}, want {inputs.BATCH_TURNS}")
        ok, n, _ = run.do("delete", str(rd["victims"]), lambda: deletes_mod.delete_docs(
            run.spark, run.index_dir, conv_ids=rd["victims"]))
        if ok and n != len(rd["killed"]):
            run.fail("delete", str(rd["victims"]), f"marked {n}, want {len(rd['killed'])}")
        eng, _ = run.open()
        # the probe is a check; the structured read is the latency sample
        (probe, want_probe), (structured, want) = rd["queries"]
        run.query(eng, probe, want_probe, sample=False)
        run.query(eng, structured, want)
        generations = 1 + sum(
            f.startswith("gen-")
            for f in os.listdir(build_mod.IndexPaths(run.index_dir).manifests))
        done += 1
    run.end_to_end(perf_counter() - t0)
    run.values["append_turns_per_s"] = appended / append_s if append_s else None
    run.samples["append_turns_per_s"] = done
    run.values["index.reader.generations"] = generations

    # compaction, then purge: afterwards N drops to the live docs, which
    # keep their ids
    run.do("compact", "index", lambda: incr_mod.compact_index(run.spark, run.index_dir))
    dead_keys = {ext(r) for rd in rounds[:done] for r in rd["killed"]}
    live_rows = [
        r for r in every[:inputs.BASE_TURNS + done * inputs.BATCH_TURNS]
        if ext(r) not in dead_keys
    ]
    ok, res, _ = run.do("purge", "index", lambda: deletes_mod.purge_deletes(
        run.spark, run.index_dir))
    if ok and (res["purged"] != len(dead_keys) or res["remaining"] != len(live_rows)):
        run.fail("purge", "index", f"got {res}, want purged={len(dead_keys)} "
                 f"remaining={len(live_rows)}")
    purged = Golden(live_rows, doc_ids=doc_id)
    eng, _ = run.open()
    probe = rounds[done - 1]["queries"][0][0]
    run.query(eng, probe, purged.expected(probe, K), sample=False)



WORKLOADS = {"lookup": run_lookup, "ingest": run_ingest}

def ext(row: dict) -> str:
    return f"{row['conv_id']}:{row['turn_idx']}"


def tail_percentile(xs: list[float]):
    """The highest percentile with at least ten samples beyond it →
    (value, percentile, n); (None, None, n) below eleven samples."""
    n = len(xs)
    if n < 11:
        return None, None, n
    return sorted(xs)[n - 11], 100.0 * (n - 10) / n, n


def tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(root)
        for f in files
    )


def reset_peak_rss() -> None:
    """Restart VmHWM from the current RSS (Linux clear_refs 5), so the peak
    excludes input staging and oracle goldens that ran before."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass  # the peak then also covers staging; the value stays valid


def peak_rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc/self/status")


def start_session(work: str):
    """Spark at local[nproc]; every temporary file stays under ``work``."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # HotSpot writes its perf-data file under /tmp whatever java.io.tmpdir
    # says; the spark-submit launcher JVM reads these options
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp
    n = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.hadoop.hadoop.tmp.dir": tmp,
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job, stage and task back at exit
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "10000000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    import subprocess

    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def register_targets(tr: Tracer) -> None:
    """The public calls the traced run wraps in spans."""

    def sum_df(span, stats):
        span["attrs"]["sum_df"] = sum(s["df"] for s in stats.values())

    def accepted(span, hit):
        span["attrs"]["accepted"] = hit is not None

    tr.target(engine_mod.SearchEngine, "__init__", "engine.open")
    tr.target(engine_mod.SearchEngine, "search", "engine.search")
    # engine.py binds parse_query at import; wrap the name it calls
    tr.target(engine_mod, "parse_query", "plans.parser.parse")
    tr.target(reader_mod.IndexReader, "term_stats", "index.reader.term_stats", sum_df)
    for table in ("segments", "docmap", "tombstones"):
        tr.target(reader_mod.IndexReader, table, "index.reader.table_open")
    tr.target(fastpath_mod, "bm25_topk_driver", "fastpath.topk", accepted)
    tr.target(compiler_mod.QueryCompiler, "prepare", "plans.compiler.prepare")
    tr.target(compiler_mod.QueryCompiler, "compile_query", "plans.compiler.compile")
    tr.target(build_mod, "build_index", "index.build.build_index")
    tr.target(incr_mod, "append_index", "streaming.incremental.append_index")
    tr.target(incr_mod, "compact_index", "streaming.incremental.compact_index")
    tr.target(deletes_mod, "delete_docs", "index.deletes.delete_docs")
    tr.target(deletes_mod, "purge_deletes", "index.deletes.purge_deletes")


def read_manifests(index_dir: str) -> tuple[dict, list[dict]]:
    """(base manifest, bucket manifests) of an index."""
    mdir = build_mod.IndexPaths(index_dir).manifests
    with open(os.path.join(mdir, "base.json")) as fh:
        base = json.load(fh)
    buckets = []
    for f in sorted(os.listdir(mdir)):
        if f.startswith("bucket-"):
            with open(os.path.join(mdir, f)) as fh:
                buckets.append(json.load(fh))
    return base, buckets
