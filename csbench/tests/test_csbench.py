"""Tests of the benchmark itself (no Spark session needed).

    python -m pytest csbench/tests -q
"""

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from csbench import inputs as inp  # noqa: E402
from csbench import run  # noqa: E402
from csbench.spans import Span, self_times, union_length  # noqa: E402


def test_query_pool_deterministic_per_seed():
    sizes = inp.Sizes()
    assert inp.query_pool(7, sizes) == inp.query_pool(7, sizes)
    assert inp.query_pool(7, sizes) != inp.query_pool(8, sizes)


def test_query_pool_balanced_in_every_group():
    sizes = inp.Sizes()
    pool = inp.query_pool(3, sizes)
    assert all(len(pool[c]) == sizes.per_class for c in inp.CLASSES)
    for g in range(3 * sizes.per_class):
        assert [c for c, _ in inp.group(pool, g)] == list(inp.CLASSES)
    batch = inp.batch(pool)
    assert len(batch) == len(inp.CLASSES) * sizes.per_class
    for c in inp.CLASSES:
        assert sum(k.startswith(c + ".") for k in batch) == sizes.per_class


def test_query_classes_have_their_shape():
    from auctus_spark.analysis import analyze_query
    from auctus_spark.corpus import HOT_KEYWORDS, _vocab
    sizes = inp.Sizes()
    pool = inp.query_pool(5, sizes)
    vocab = _vocab(sizes.vocab_size)
    for q in pool["hot"]:
        terms = analyze_query(q)
        assert len(terms) == 3 and set(terms) <= set(HOT_KEYWORDS[:4])
    for q in pool["rare"]:
        d = int(q.rsplit("_", 1)[1])
        assert d % 11 == 0 and d % 97 > 1 and d < sizes.base_docs
    for q in pool["mixed"]:
        hot, rare = analyze_query(q)
        assert hot in HOT_KEYWORDS[:4] and rare.startswith("uniq_token_")
    for q in pool["miss"]:
        assert analyze_query(q) == [q]
        assert not any(str(w).lower().startswith("zq") for w in vocab)


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == run.E2E_METRICS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == run.PER_LAYER_METRICS
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert any(m["name"] == "setup_s" and m["unit"] == "s"
               and m["better"] == "lower" for m in spec["end_to_end"])


def test_steal_share_counts_runnable_time_only():
    # /proc/stat order: user nice system idle iowait irq softirq steal ...
    c0 = [0] * 10
    c1 = [300, 0, 100, 5000, 50, 0, 0, 100, 0, 0]
    assert run.steal_share(c0, c1) == 100 / 500
    assert run.steal_share(c1, c1) == 0.0
    assert run.unstolen(10.0, 0.2) == 8.0
    assert run.Sample(10.0, 4, 0.0).s == 10.0


def test_heap_after_gc_peak_reads_gc_log(tmp_path):
    from csbench.spans import heap_after_gc_peak
    log = tmp_path / "gc.log"
    log.write_text(
        "[0.5s][info][gc] Using G1\n"
        "[1.0s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause)"
        " 24M->3M(256M) 2.1ms\n"
        "[2.0s][info][gc] GC(1) Pause Young (Concurrent Start) (G1 Humongous"
        " Allocation) 900M->1G(2G) 5.0ms\n"
        "[3.0s][info][gc] GC(2) Pause Remark 700M->512K(2G) 1.0ms\n")
    assert heap_after_gc_peak(str(log)) == 1 << 30


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(1, 4), (2, 3)]) == 3.0


def test_self_time_on_synthetic_tree():
    spans = [
        Span(0, "root", None, 0.0, 10.0),
        Span(1, "a", 0, 1.0, 4.0),
        Span(2, "b", 0, 3.0, 6.0),      # overlaps a (concurrent stage)
        Span(3, "a.child", 1, 1.5, 2.5),
        Span(4, "late", 0, 9.0, 11.0),  # clipped to the parent's end
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - (5.0 + 1.0)
    assert st[1] == 3.0 - 1.0
    assert st[2] == 3.0
    assert st[3] == 1.0
    assert st[4] == 2.0


def _span(spans, name, parent, start, end, **attrs):
    s = Span(len(spans), name, parent, start, end,
             attrs={"phase": "timed", **attrs})
    s.spark = {"jobs": 1, "tasks": 4, "run_s": 2.0, "input_bytes": 100,
               "input_rows": 10, "output_bytes": 50,
               "shuffle_write_bytes": 20, "spill_bytes": 0}
    spans.append(s)
    return s.sid


def test_layer_metrics_emit_every_per_layer_name():
    spans: list[Span] = []
    _span(spans, "session.start", None, 0.0, 5.0, phase="setup")
    b = _span(spans, "build", None, 5.0, 15.0)
    _span(spans, "build.tokenize", b, 5.0, 9.0)
    _span(spans, "build.stats", b, 9.0, 9.1)
    _span(spans, "build.merge", b, 9.1, 14.0)
    ts = _span(spans, "build.term_stats", b, 9.1, 13.0)
    _span(spans, "build.term_dict", ts, 12.0, 13.0)
    _span(spans, "bm25.open", None, 15.0, 15.5)
    for i, c in enumerate(inp.CLASSES):
        t = 16.0 + i
        _span(spans, "analysis.analyze", None, t, t + 0.01, terms=2)
        q = _span(spans, "query", None, t + 0.1, t + 0.9, cls=c, results=5)
        _span(spans, "bm25.plan", q, t + 0.1, t + 0.2)
        _span(spans, "bm25.exec", q, t + 0.2, t + 0.9)
    _span(spans, "incremental.append", None, 30.0, 33.0, phase="extra")
    _span(spans, "delete", None, 33.0, 33.2, phase="extra")
    _span(spans, "compact", None, 34.0, 38.0, phase="extra")
    measured = {"codec.postings": 10, "codec.bytes_per_posting": 3.0,
                "bm25.batch_s_per_query": 0.02, "workers.peak_pss_mb": 900.0,
                "jvm.heap_after_gc_mb": 300.0,
                "trace.overhead_share": 0.01}
    out = run.layer_metrics(spans, cores=4, corpus_bytes=1000,
                            measured=measured)
    assert set(out) == set(run.PER_LAYER_METRICS)
    assert all(v is not None for v in out.values())
    assert abs(out["build.term_stats_s"] - 2.9) < 1e-9
    assert abs(out["build.core_util"] - 6 * 2.0 / (10.0 * 4)) < 1e-9
    assert abs(out["bm25.p50_s.rare"] - 0.8) < 1e-9
    assert {k: out[k] for k in measured} == measured
