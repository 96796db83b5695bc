"""Output checks: a failed or wrong call is counted, never raised."""

import time
from pathlib import Path

from corpus import Doc
from tracing import Tracer
from workloads import (
    PREP_KEYS,
    PROBE_REF_MS,
    Run,
    check_fetch,
    check_search,
    op_ms,
    run_window,
    written,
)


def _run() -> Run:
    return Run(spark=None, gen=None, tracer=Tracer(), work=Path("."), seconds=1, traced=False)


def test_failures_are_counted_not_raised():
    run = _run()

    def boom():
        raise KeyError("d000001")

    assert run.call("fetcher.fetch", boom, lambda out: None, "fetch_ms") is None
    assert run.call("searcher.hybrid", lambda: [], check_search, "search_ms") is None
    rows = [{"doc_rank": 1}, {"doc_rank": 2}]
    assert run.call("searcher.hybrid", lambda: rows, check_search, "search_ms") == rows
    assert (run.attempted, run.failed) == (3, 2)
    assert len(run.samples["search_ms"]) == 1
    assert len(run.samples["search_cpu_ms"]) == 1
    assert "fetch_ms" not in run.samples
    assert run.failures[0].startswith("fetcher.fetch: KeyError")
    # every call, failed or not, left a closed span
    assert [s.name for s in run.tracer.spans] == ["fetcher.fetch"] + ["searcher.hybrid"] * 2
    assert all(s.end is not None for s in run.tracer.spans)


class _FixedMeter:
    """Each read advances the program's CPU by ``step`` ms."""

    def __init__(self, step: float):
        self.app, self.step = 0.0, step

    def read(self):
        self.app += self.step
        return {"app": self.app, "jit": 0.0, "gc": 0.0}


def test_probe_runs_after_calls_with_ref_only():
    run = _run()
    run.meter = _FixedMeter(100.0)  # every call costs 100 ms of CPU
    run.host_probe = lambda: 42.0
    run.call("searcher.hybrid", lambda: [{"doc_rank": 1}], check_search, "search_ms", ref=True)
    run.call("fetcher.fetch", lambda: {}, lambda out: None, "fetch_ms")
    run.call("searcher.hybrid", lambda: [], check_search, "search_ms", ref=True)  # wrong output
    assert run.samples["search_cpu_ms"] == [100.0]
    assert run.samples["fetch_cpu_ms"] == [100.0]
    assert run.samples["probe_cpu_ms"] == [42.0]


def test_search_rows_must_be_ordered_by_doc_rank():
    assert check_search([{"doc_rank": 2}, {"doc_rank": 1}])
    assert check_search(None)
    assert check_search([{"doc_rank": 1}, {"doc_rank": 3}]) is None


def test_fetch_must_return_the_requested_lines():
    doc = Doc(1, "a b\nc d\ne f\ng h", "en", "src0")
    check = check_fetch(doc, 2, 3)
    assert check({"text_slice": "c d\ne f"}) is None
    assert check({"text_slice": "a b\nc d"})
    assert check_fetch(doc, 9, 12)({"text_slice": ""}) is None


def test_window_makes_the_minimum_calls_and_stops_in_time():
    run = _run()
    run.seconds = 0.0
    calls = []
    run_window(run, calls.append, min_calls=3)
    assert calls == [0, 1, 2]
    run.seconds = 0.05
    calls.clear()
    run_window(run, lambda i: (calls.append(i), time.sleep(0.01)))
    assert 3 <= len(calls) <= 6


def test_paused_without_spark_records_no_span():
    run = _run()
    with run.tracer.paused():
        run.call("searcher.hybrid", lambda: [{"doc_rank": 1}], check_search, "search_ms")
    assert run.tracer.spans == []
    assert run.samples["search_ms"]


def test_op_is_search_median_or_sum_of_per_key_medians():
    samples = {"search_ms": [3.0, 1.0, 2.0], "search_untraced_ms": [1.0], "search_cpu_ms": [5.0]}
    assert op_ms("serve", samples) == 2.0
    assert op_ms("serve", samples, untraced=True) == 1.0
    assert op_ms("prep", samples) is None
    probe = [PROBE_REF_MS, PROBE_REF_MS * 2, PROBE_REF_MS * 3]
    # serve's CPU is not scaled by the host probe
    assert op_ms("serve", samples, cpu=True) == 5.0
    assert op_ms("serve", {**samples, "probe_cpu_ms": probe}, cpu=True) == 5.0
    # prep's is, and needs the probe: at twice the reference probe time
    # the host ran at half speed, so the pass's CPU halves
    cpu = {f"{k}_cpu_ms": [10.0] for k in PREP_KEYS}
    assert op_ms("prep", cpu, cpu=True) is None
    assert op_ms("prep", {**cpu, "probe_cpu_ms": probe}, cpu=True) == 15.0
    per_key = {f"{k}_ms": [10.0 * (i + 1), 99.0, 1.0] for i, k in enumerate(PREP_KEYS)}
    assert op_ms("prep", per_key) == 10.0 + 20.0 + 30.0
    # a key without samples leaves no pass
    assert op_ms("prep", {f"{PREP_KEYS[0]}_ms": [1.0]}) is None


def test_written_counts_new_and_rewritten_files():
    before = {"t/_pb=1/a": (10, 1), "t/_pb=2/b": (20, 1), "t/_pb=3/c": (5, 1)}
    after = {"t/_pb=1/a": (10, 1), "t/_pb=2/b": (21, 2), "t/_pb=2/d": (7, 2)}
    assert written(before, after) == {
        "bytes_written": 28, "files_written": 2, "dirs_rewritten": 1,
    }
