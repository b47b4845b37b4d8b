"""Codesearch benchmark: one run of one workload.

    python3 csbench/run.py --workload search --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The engine is driven only through its
public API on ``local[nproc]`` from this single process, one caller in a
closed loop.  Every timed operation's answer is checked against
``oracle.OracleIndex``; a wrong answer is a failed operation.  The last
stdout line is the JSON result; the line before it is the run context.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics from spans around the same calls.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import asdict, dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from csbench import inputs as inp  # noqa: E402
from csbench.spans import (MemSampler, Span, Tracer, descendants,  # noqa: E402
                           heap_after_gc_peak, pss_bytes, self_times)

WORKLOADS = ("search", "ingest")
# untimed ops before the timed window, read off the measured warm-up
# curves (README): search in 4-query groups, ingest in builds
WARMUP = {"search": 3, "ingest": 3}
K = 50
# A timed op during which the hypervisor stole more than this share of
# the runnable CPU time is set aside, and the window runs on to replace
# it (README: search ops under 4-8% steal read about 20% slower) ...
STEAL_MAX = 0.02
# ... until the timed ops add up to this many times ``--seconds``.
WINDOW_CAP = 1.5

E2E_METRICS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
    "peak_mem_mb": "MB",
    "index_bytes_per_corpus_byte": "ratio",
}
PER_LAYER_METRICS = {
    "session.start_s": "s",
    "analysis.analyze_s": "s",
    "analysis.terms_per_query": "count",
    "build.tokenize_s": "s",
    "build.tokenize_cpu_s": "s",
    "build.partials_bytes": "bytes",
    "build.stats_s": "s",
    "build.merge_s": "s",
    "build.merge_tasks": "count",
    "build.merge_shuffle_bytes": "bytes",
    "build.merge_spill_bytes": "bytes",
    "build.term_stats_s": "s",
    "build.term_dict_s": "s",
    "build.core_util": "ratio",
    "build.write_amp": "ratio",
    "codec.postings": "count",
    "codec.bytes_per_posting": "bytes",
    "bm25.open_s": "s",
    "bm25.plan_s": "s",
    "bm25.exec_s": "s",
    "bm25.jobs_per_query": "count",
    "bm25.tasks_per_query": "count",
    "bm25.scan_bytes_per_query": "bytes",
    "bm25.shuffle_bytes_per_query": "bytes",
    "bm25.scorer_cpu_s_per_query": "s",
    "bm25.rows_read_per_result": "ratio",
    "bm25.p50_s.hot": "s",
    "bm25.p50_s.rare": "s",
    "bm25.p50_s.mixed": "s",
    "bm25.p50_s.miss": "s",
    "bm25.batch_s_per_query": "s",
    "workers.peak_pss_mb": "MB",
    "jvm.heap_after_gc_mb": "MB",
    "incremental.append_s": "s",
    "delete.s": "s",
    "compact.s": "s",
    "compact.bytes_rewritten": "bytes",
    "trace.overhead_share": "ratio",
}


class Run:
    """State of one benchmark run: session, tracer, checks, samples."""

    def __init__(self, args, cache: str):
        self.sizes = inp.SIZES[args.workload]
        self.inputs = inp.Inputs(cache, args.seed, self.sizes)
        self.work = os.path.join(cache, f"run-{os.getpid()}")
        self.tracer = Tracer(enabled=bool(args.trace))
        self.gc_log = os.path.join(cache, "tmp", f"gc-{os.getpid()}.log")
        self.jvm_nonheap = 0
        self.jvm_pss = 0
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.samples: list[Sample] = []    # timed ops
        self.warmup_curve: list[float] = []
        self.index_dir = ""
        self.spark = None
        self.eng = None

    # ---------------- session and engine calls ------------------------

    def start_session(self, cache: str) -> None:
        from auctus_spark.session import get_spark
        tmp = os.path.join(cache, "tmp")
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                "csbench", cores=self.cores,
                extra_confs={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.local.dir": os.path.join(cache, "spark-local"),
                    "spark.sql.warehouse.dir": os.path.join(cache,
                                                            "warehouse"),
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                        f"-Xlog:gc:file={self.gc_log}",
                })
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.attach(self.spark)
        self.corpus = self.spark.read.parquet(self.inputs.base_dir)

    def builder(self, out: str):
        """An ``IndexBuilder`` with the benchmark's parameters; the base
        corpus fills exactly one chunk, so the maintenance append lands
        in a new one.  Traced runs wrap its public stage methods."""
        from auctus_spark.index.build import IndexBuilder
        b = IndexBuilder(self.spark, out, doc_bucket=self.sizes.doc_bucket,
                         chunk_docs=self.sizes.base_docs,
                         term_buckets=self.sizes.term_buckets)
        if self.tracer.enabled:
            for attr, name in (
                    ("tokenize_chunks", "build.tokenize"),
                    ("finalize_stats", "build.stats"),
                    ("encode_segments", "build.merge"),
                    ("finalize_term_stats_from_partials", "build.term_stats")):
                setattr(b, attr, self.tracer.wrap(getattr(b, attr), name))
        return b

    def build(self, out: str, corpus=None, n_docs: int = 0) -> float:
        """One full build of ``corpus`` (default: the whole base corpus)
        into an empty ``out``; returns its seconds."""
        t = time.perf_counter()
        with self.tracer.span("build"):
            stats = self.builder(out).build(corpus or self.corpus)
        dt = time.perf_counter() - t
        n_docs = n_docs or self.sizes.base_docs
        self.check(stats["n_docs"] == n_docs,
                   f"build into {out} indexed {stats['n_docs']} docs, "
                   f"not {n_docs}")
        return dt

    def open(self, index_dir: str):
        from auctus_spark.query.bm25 import SearchEngine
        with self.tracer.span("bm25.open"):
            return SearchEngine(self.spark, index_dir,
                                term_buckets=self.sizes.term_buckets)

    def query(self, eng, cls: str, q: str) -> tuple[float, list]:
        """``search_wand(q, k=50)`` + ``collect()``; returns (seconds,
        [[doc_id, score], ...])."""
        from auctus_spark.analysis import analyze_query
        with self.tracer.span("analysis.analyze") as s:
            terms = analyze_query(q, stem=eng.stem)
        if s is not None:
            s.attrs["terms"] = len(terms)
        t = time.perf_counter()
        with self.tracer.span("query", cls=cls) as s:
            with self.tracer.span("bm25.plan"):
                df = eng.search_wand(q, k=K)
            with self.tracer.span("bm25.exec"):
                rows = df.collect()
        dt = time.perf_counter() - t
        if s is not None:
            s.attrs["results"] = len(rows)
        return dt, [[int(r.doc_id), float(r.score)] for r in rows]

    # ---------------- checks ------------------------------------------

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; report a mismatch on stderr."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"csbench: WRONG {what}", file=sys.stderr, flush=True)

    # ---------------- timed window ------------------------------------

    def start_window(self) -> None:
        """End set-up: warm-up is done, the next op is timed."""
        self.tracer.phase = "timed"
        self.first_op = time.perf_counter()
        self.first_op_cpu = cpu_times()

    def timed(self, op, items: int):
        """Run one timed op; ``op()`` returns (seconds, result).  The
        hypervisor's steal share over the op is kept with the sample."""
        c0 = cpu_times()
        dt, result = op()
        self.samples.append(Sample(dt, items, steal_share(c0, cpu_times())))
        return result

    def window_open(self, seconds: float) -> bool:
        """Whether to run another timed op: until the clean ops add up
        to ``seconds``, or all ops to ``WINDOW_CAP * seconds``."""
        return (sum(s.wall for s in self.samples if s.steal <= STEAL_MAX)
                < seconds
                and sum(s.wall for s in self.samples) < WINDOW_CAP * seconds)

    def kept(self) -> list["Sample"]:
        """The ops the metrics use: those under ``STEAL_MAX`` steal, or
        every op if none is."""
        return ([s for s in self.samples if s.steal <= STEAL_MAX]
                or self.samples)

    # ---------------- workloads ---------------------------------------

    def run_search(self, seconds: float) -> None:
        """Single queries on the prebuilt base index.  One op is a group
        of four queries, one per class in strict rotation (hot, rare,
        mixed, miss), so every timed op holds each class once and the
        op median does not depend on where the class latencies fall."""
        self.index_dir = os.path.join(self.work, "base")
        self.build(self.index_dir)
        self.eng = eng = self.open(self.index_dir)
        expected = self.inputs.answers("base")
        pool = self.inputs.pool
        self.tracer.phase = "warmup"
        for g in range(WARMUP["search"]):
            self.warmup_curve.append(sum(
                self.query(eng, c, q)[0] for c, q in inp.group(pool, g)))
        self.start_window()
        g = WARMUP["search"]

        def op():
            runs = [(c, q, *self.query(eng, c, q))
                    for c, q in inp.group(pool, g)]
            return sum(r[2] for r in runs), runs

        while self.window_open(seconds):
            for c, q, _, got in self.timed(op, len(inp.CLASSES)):
                self.check(got == expected[q], f"search {c} {q!r}")
            self.tracer.collect_spark()
            g += 1

    def run_ingest(self, seconds: float) -> None:
        """Repeated full builds of the base corpus into fresh dirs; each
        build passes ``verify_lineage`` and one probe query (classes
        rotate across builds)."""
        expected = self.inputs.answers("base")
        pool = self.inputs.pool
        self.tracer.phase = "warmup"
        # warm up on the first quarter of the files, the same code paths
        # at a quarter of the cost, then once on all of them (README: the
        # first full-size build is slow even after warm-up on a quarter)
        files = self.inputs.base_files()
        part = files[:len(files) // 4]
        warm = self.spark.read.parquet(*part)
        n_warm = self.sizes.base_docs * len(part) // len(files)
        for i in range(WARMUP["ingest"]):
            out = os.path.join(self.work, f"warm-{i}")
            last = i == WARMUP["ingest"] - 1
            self.warmup_curve.append(
                self.build(out) if last else self.build(out, warm, n_warm))
            shutil.rmtree(out)
        self.start_window()
        i, prev = 0, None
        while self.window_open(seconds):
            out = os.path.join(self.work, f"ingest-{i}")
            self.timed(lambda: (self.build(out), None), self.sizes.base_docs)
            b = self.builder(out)
            self.check(b.verify_lineage(self.corpus), f"lineage build {i}")
            c, q = inp.group(pool, i)[i % len(inp.CLASSES)]
            eng = self.open(out)
            self.check(self.query(eng, c, q)[1] == expected[q],
                       f"probe {c} {q!r} on build {i}")
            self.tracer.collect_spark()
            if prev:
                shutil.rmtree(prev)
            prev, i = out, i + 1
        self.index_dir = prev

    # ---------------- traced extras -----------------------------------

    def run_extras(self) -> None:
        """Traced runs only, after the timed window: one batched search
        and one maintenance cycle (append, delete, reopen + probes,
        compact, reopen + probes), all checked, so every per-layer
        metric is measured on every workload."""
        from auctus_spark.index.build import compact, delete_docs
        from auctus_spark.query.bm25 import search_many
        from auctus_spark.streaming.incremental import incremental_update
        self.tracer.phase = "extra"
        expected = self.inputs.answers("base")
        batch = inp.batch(self.inputs.pool)
        eng = self.eng or self.open(self.index_dir)
        for _ in range(2):          # the first call warms the batch path
            t = time.perf_counter()
            with self.tracer.span("bm25.batch"):
                rows = search_many(eng, batch, k=K).collect()
            self.batch_s = time.perf_counter() - t
        got = {qid: [] for qid in batch}
        for r in sorted(rows, key=lambda r: (r.query_id, -r.score,
                                             r.doc_id)):
            got[r.query_id].append([int(r.doc_id), float(r.score)])
        for qid, q in batch.items():
            self.check(got[qid] == expected[q], f"batch {qid} {q!r}")
        self.tracer.collect_spark()

        m = self.inputs.answers("maintenance")
        d = self.index_dir
        append = self.spark.read.parquet(self.inputs.append_dir)
        with self.tracer.span("incremental.append"):
            incremental_update(self.builder(d), append)
        with self.tracer.span("delete"):
            delete_docs(self.spark, d, m["deleted"])
        for state in ("masked", "live"):
            eng = self.open(d)
            for c, q in self.inputs.probes():
                self.check(self.query(eng, c, q)[1] == m[state][q],
                           f"{state} probe {c} {q!r}")
            self.tracer.collect_spark()
            if state == "masked":
                with self.tracer.span("compact"):
                    compact(self.spark, d,
                            term_buckets=self.sizes.term_buckets)
                self.tracer.collect_spark()

    # ---------------- teardown and metrics ----------------------------

    def stop(self) -> None:
        """Stop Spark, end the JVM (it exits when its stdin closes) and
        wait until every process this run started has ended."""
        if self.spark is None:
            return
        mx = self.spark._jvm.java.lang.management.ManagementFactory
        self.jvm_nonheap = mx.getMemoryMXBean().getNonHeapMemoryUsage() \
            .getCommitted()
        gw = self.spark.sparkContext._gateway
        self.jvm_pss = pss_bytes(gw.proc.pid)
        me = os.getpid()
        started = [p for p in descendants(me) if p != me]
        self.spark.stop()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while started and time.monotonic() < deadline:
            started = [p for p in started if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in started:
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while (any(os.path.exists(f"/proc/{p}") for p in started)
               and time.monotonic() < deadline):
            time.sleep(0.1)
        self.spark = None


@dataclass
class Sample:
    wall: float       # op latency as measured
    items: int        # queries or files the op handled
    steal: float      # steal share over the op (see ``steal_share``)

    @property
    def s(self) -> float:
        """The latency without the time the hypervisor stole."""
        return unstolen(self.wall, self.steal)


def _median(xs):
    return statistics.median(xs) if xs else None


def layer_metrics(spans: list[Span], cores: int, corpus_bytes: int,
                  measured: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics from the span tree, plus ``measured``: those
    taken outside any span (codec sizes, batch time, worker memory,
    tracer overhead).  Warm-up spans are left out; where a layer ran in
    the timed window only those spans count, else every non-warm-up
    span (e.g. the search workload's base build).  Times are self
    times: a span's duration minus its children's."""
    st = self_times(spans)
    by_id = {s.sid: s for s in spans}

    def ancestors(s):
        while s.parent is not None:
            s = by_id[s.parent]
            yield s

    def pick(name, under=None, cls=None):
        got = [s for s in spans if s.name == name
               and s.attrs["phase"] != "warmup"
               and (cls is None or s.attrs["cls"] == cls)
               and (under is None or any(a.name == under
                                         for a in ancestors(s)))]
        timed = [s for s in got if s.attrs["phase"] == "timed"]
        return timed or got

    def subtree(root):
        return [s for s in spans
                if s is root or any(a is root for a in ancestors(s))]

    def sp(s, key):
        return s.spark.get(key, 0)

    out: dict[str, float] = {}
    out["session.start_s"] = _median([s.duration for s in
                                      pick("session.start")])
    an = pick("analysis.analyze")
    out["analysis.analyze_s"] = _median([st[s.sid] for s in an])
    out["analysis.terms_per_query"] = statistics.fmean(
        s.attrs["terms"] for s in an)
    tok = pick("build.tokenize", "build")
    out["build.tokenize_s"] = _median([st[s.sid] for s in tok])
    out["build.tokenize_cpu_s"] = _median([s.worker_cpu_s for s in tok])
    out["build.partials_bytes"] = _median([sp(s, "output_bytes")
                                           for s in tok])
    out["build.stats_s"] = _median([st[s.sid] for s in
                                    pick("build.stats", "build")])
    mg = pick("build.merge", "build")
    out["build.merge_s"] = _median([st[s.sid] for s in mg])
    out["build.merge_tasks"] = _median([sp(s, "tasks") for s in mg])
    out["build.merge_shuffle_bytes"] = _median(
        [sp(s, "shuffle_write_bytes") for s in mg])
    out["build.merge_spill_bytes"] = _median([sp(s, "spill_bytes")
                                              for s in mg])
    out["build.term_stats_s"] = _median([st[s.sid] for s in
                                         pick("build.term_stats", "build")])
    out["build.term_dict_s"] = _median([st[s.sid] for s in
                                        pick("build.term_dict", "build")])
    builds = pick("build")
    out["build.core_util"] = _median([
        sum(sp(x, "run_s") for x in subtree(b)) / (b.duration * cores)
        for b in builds])
    out["build.write_amp"] = _median([
        sum(sp(x, "output_bytes") + sp(x, "shuffle_write_bytes")
            for x in subtree(b)) / corpus_bytes for b in builds])
    out["bm25.open_s"] = _median([s.duration for s in pick("bm25.open")])
    out["bm25.plan_s"] = _median([st[s.sid] for s in pick("bm25.plan")])
    ex = pick("bm25.exec")
    out["bm25.exec_s"] = _median([st[s.sid] for s in ex])
    for key, field in (("jobs_per_query", "jobs"),
                       ("tasks_per_query", "tasks"),
                       ("scan_bytes_per_query", "input_bytes"),
                       ("shuffle_bytes_per_query", "shuffle_write_bytes")):
        out[f"bm25.{key}"] = statistics.fmean(sp(s, field) for s in ex)
    out["bm25.scorer_cpu_s_per_query"] = statistics.fmean(
        s.worker_cpu_s for s in ex)
    qs = pick("query")
    results = sum(s.attrs["results"] for s in qs)
    out["bm25.rows_read_per_result"] = (
        sum(sp(s, "input_rows") for s in ex) / max(results, 1))
    for c in inp.CLASSES:
        out[f"bm25.p50_s.{c}"] = _median([s.duration for s in
                                          pick("query", cls=c)])
    out["incremental.append_s"] = _median([s.duration for s in
                                           pick("incremental.append")])
    out["delete.s"] = _median([s.duration for s in pick("delete")])
    cp = pick("compact")
    out["compact.s"] = _median([s.duration for s in cp])
    out["compact.bytes_rewritten"] = _median([
        sum(sp(x, "output_bytes") for x in subtree(c)) for c in cp])
    out.update(measured)
    return out


def codec_stats(index_dir: str) -> dict[str, float]:
    """Postings (sum of df over terms) and segment bytes per posting:
    deterministic for a seed, read driver-side outside any span."""
    import pyarrow.dataset as pads
    from auctus_spark.index.build import IndexPaths
    paths = IndexPaths(index_dir)
    t = pads.dataset(paths.term_stats, format="parquet",
                     partitioning="hive").to_table(columns=["df"])
    postings = int(t["df"].to_numpy().sum())
    return {"codec.postings": postings,
            "codec.bytes_per_posting":
                inp.dir_bytes(paths.segments) / postings}


def host_probe() -> dict[str, float]:
    """Host-noise probe: single-core memory copy bandwidth, best of five
    64 MiB copies.  The hypervisor steal share comes from ``cpu_times``
    read before and after the run."""
    buf = bytearray(64 << 20)
    best = min(_timed_copy(buf) for _ in range(5))
    return {"copy_gbps": len(buf) / best / 1e9}


def _timed_copy(buf) -> float:
    t = time.perf_counter()
    bytes(buf)
    return time.perf_counter() - t


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def unstolen(wall: float, steal: float) -> float:
    """``wall`` less the stolen share of it, the time the op would take
    if it only stretched by 1 / (1 - steal).  Query ops stretch more than
    that (README), so under steal this still reads high; on a quiet host,
    where ``steal`` is 0, it is the wall time."""
    return wall * (1.0 - steal)


def steal_share(c0: list[int], c1: list[int]) -> float:
    """Share of the runnable CPU time the hypervisor stole between two
    ``cpu_times`` readings: steal / (user + nice + system + irq +
    softirq + steal).  Idle time is left out (an idle vCPU is not
    stolen from), so a serial op and a parallel op under the same steal
    read about the same."""
    d = [b - a for a, b in zip(c0, c1)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return d[7] / max(busy + d[7], 1)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    cache = os.path.join(os.getcwd(), ".csbench")
    os.makedirs(os.path.join(cache, "tmp"), exist_ok=True)
    # keep every temp file of Python, Spark and the JVM in the checkout
    os.environ["TMPDIR"] = os.path.join(cache, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(cache, "spark-local")
    # the launcher JVM that spark-submit starts first would otherwise
    # write its perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    run = Run(args, cache)
    t = time.perf_counter()
    run.inputs.prepare(maintenance=bool(args.trace))
    prep_s = time.perf_counter() - t
    host = host_probe()
    shutil.rmtree(run.work, ignore_errors=True)
    os.makedirs(run.work)
    if args.trace:
        import auctus_spark.index.build as build_mod
        build_mod.write_term_dict = run.tracer.wrap(
            build_mod.write_term_dict, "build.term_dict")
    cpu0 = cpu_times()
    t_setup = time.perf_counter()
    try:
        with MemSampler() as mem:
            run.tracer.phase = "setup"
            run.start_session(cache)
            mem.jvm_pid = run.spark.sparkContext._gateway.proc.pid
            getattr(run, f"run_{args.workload}")(args.seconds)
            t_end = time.perf_counter()
            index_bytes = inp.dir_bytes(run.index_dir)
            if args.trace:
                codec = codec_stats(run.index_dir)
                run.run_extras()
            t_extras = time.perf_counter()
    finally:
        run.stop()
        shutil.rmtree(run.work, ignore_errors=True)
    steal = steal_share(cpu0, cpu_times())
    heap = heap_after_gc_peak(run.gc_log)
    os.remove(run.gc_log)
    mem_mb = {**{k: v / 2**20 for k, v in mem.parts.items()},
              "jvm_heap_after_gc": heap / 2**20,
              "jvm_nonheap": run.jvm_nonheap / 2**20,
              "jvm_pss_at_end": run.jvm_pss / 2**20}
    setup_steal = steal_share(cpu0, run.first_op_cpu)
    corpus_bytes = run.inputs.corpus_bytes()
    if args.trace:
        metrics = layer_metrics(run.tracer.spans, run.cores, corpus_bytes, {
            **codec,
            "bm25.batch_s_per_query":
                run.batch_s / len(inp.batch(run.inputs.pool)),
            "workers.peak_pss_mb": mem_mb["workers"],
            "jvm.heap_after_gc_mb": mem_mb["jvm_heap_after_gc"],
            "trace.overhead_share":
                run.tracer.overhead_s / (t_extras - t_setup)})
        units = PER_LAYER_METRICS
    else:
        kept = run.kept()
        metrics = {
            "setup_s": unstolen(run.first_op - t_setup, setup_steal),
            "op_p50_s": statistics.median(s.s for s in kept),
            "items_per_s": sum(s.items for s in kept)
            / sum(s.s for s in kept),
            "peak_mem_mb": mem_mb["driver"] + mem_mb["workers"]
            + mem_mb["jvm_heap_after_gc"] + mem_mb["jvm_nonheap"],
            "index_bytes_per_corpus_byte": index_bytes / corpus_bytes,
        }
        units = E2E_METRICS
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "nproc": run.cores,
        "sizes": asdict(run.sizes), "chunk_docs": run.sizes.base_docs,
        "corpus_bytes": corpus_bytes, "input_prep_s": round(prep_s, 3),
        "warmup_ops": WARMUP[args.workload],
        "warmup_curve_s": [round(x, 4) for x in run.warmup_curve],
        "timed_ops": len(run.samples),
        "op_wall_s": [round(x.wall, 4) for x in run.samples],
        "op_steal_share": [round(x.steal, 4) for x in run.samples],
        "kept_ops": len(run.kept()),
        "mem_mb": {k: round(v, 1) for k, v in mem_mb.items()},
        "max_workers": mem.max_workers,
        "setup_wall_s": round(run.first_op - t_setup, 3),
        "timed_window_s": round(t_end - run.first_op, 3),
        "host": {"copy_gbps": round(host["copy_gbps"], 3),
                 "steal_share": round(steal, 5),
                 "setup_steal_share": round(setup_steal, 5)},
    }
    print("context: " + json.dumps(context))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
