"""The benchmark's workloads: closed loops driving the program's public API.

One client thread makes each call and waits for its reply, as an MCP
stdio or CLI caller does. Every call is timed from outside and, when
tracing is on, wrapped in a span (see tracing.py). Every call's output
is checked; a failed or wrong call is counted, never raised.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from pathlib import Path

from corpus import Doc, Generator
from cpu import CpuMeter, HostProbe
from stats import highest_reportable, median, percentile
from tracing import Tracer

COLLECTION = "bench"
SEARCH_KINDS = {
    "hybrid": {},
    "hybrid_filtered": {"metadata_filter": 'lang = "en"'},
    "bm25": {"indexes": ["bm25"]},
    "vector": {"indexes": ["vector"]},
}
MAX_CHUNKS = 15
MAX_DOCUMENTS = 10
FETCH_LINES = (2, 6)
BATCH_Q = 16
# the first searches in a fresh JVM run 1.5-3x their later latency and
# keep drifting down for tens of searches; warm-up passes the steep part
SERVE_WARMUP = 8
# a window takes at least this many searches (serve; a traced run at
# least 3 of each call it alternates) or calls per key (prep), however
# slow the host: a window cut short by a slow host would otherwise sample
# only the early, slower part of the JIT decay
SERVE_MIN_SEARCHES = 6
PREP_MIN_CALLS = 2
# prep's keys keep getting faster for their first few calls in a fresh
# JVM (CPU per call falls ~30% over the first four passes); set-up makes
# this many passes, the first of which fixes the expected row counts
PREP_WARMUP_PASSES = 4
BATCH_SIZES = (1, 4, 16, 64)
UPDATE_DOCS = 3
DELETE_DOCS = 2
# a run must end within 180 s: a traced serve run starts each stage after
# its window only while about 1.5x the stage's usual time still fits
# before TRACED_LIMIT_S after session start; a skipped stage counts as
# failed
TRACED_LIMIT_S = 165
STAGE_S = {"serve_trace_extras": 40, "maintain": 45}
# corpus_prep (the composed pipeline) costs as much as the other three
# keys together (~20 s in a fresh JVM), more than an untraced run can
# spend; traced runs call it once, after the window
PREP_TRACED_KEYS = ("corpus_prep",)
# CPU ms the host probe (cpu.HostProbe) takes on the 4-core host the
# benchmark was built on, at its usual speed: prep's op_cpu_ms reports
# CPU at this host speed
PROBE_REF_MS = 220.0
# workloads whose op_cpu_ms the host probe scales. The probe's CPU
# tracks prep's (parallel executor work like the probe's sort) but only
# partly serve's (mostly single-threaded planning and code generation on
# the driver): in two ten-seed sets scaling narrowed prep's run-to-run
# spread from 0.28 and 0.19 to 0.12 and 0.09, and widened serve's from
# 0.13 and 0.15 to 0.14 and 0.23. Serve still runs the probe, so its
# host_probe_ms shows the host's state beside its CPU figures.
PROBE_SCALED = ("prep",)
PREP_KEYS = ("dedup_minhash", "decontaminate", "vocab_stats")


def cpu_sample(sample: str) -> str:
    """The CPU-time twin of a latency sample: ``search_ms`` ->
    ``search_cpu_ms``."""
    return sample.removesuffix("_ms") + "_cpu_ms"


def jit_sample(sample: str) -> str:
    """The JIT-compiler-time twin of a latency sample: ``search_ms`` ->
    ``search_jit_ms``."""
    return sample.removesuffix("_ms") + "_jit_ms"


@dataclass
class Run:
    """Shared state of one run: session, inputs, tracer, samples, checks."""

    spark: object
    gen: Generator
    tracer: Tracer
    work: Path
    seconds: float
    traced: bool
    samples: dict[str, list[float]] = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    meter: CpuMeter = field(default_factory=CpuMeter)
    host_probe: HostProbe | None = None

    def call(self, span: str, fn, check, sample: str | None = None, ref: bool = False):
        """One checked operation: time ``fn()`` inside a span named
        ``span``; ``check(result)`` returns an error string or None. The
        latency goes to ``samples[sample]``, the CPU time the program
        spent outside the JIT compiler and the garbage collector to
        ``samples[cpu_sample(sample)]`` and the JIT compiler's to
        ``samples[jit_sample(sample)]`` (see cpu.py), only when the call
        succeeded with a correct result. With ``ref`` and a host probe,
        the probe runs right after the call and its CPU goes to
        ``samples["probe_cpu_ms"]`` (see op_ms)."""
        self.attempted += 1
        c0 = self.meter.read()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span):
                out = fn()
        except Exception as exc:  # noqa: BLE001 — a failed call is counted
            self.fail(span, f"{type(exc).__name__}: {exc}")
            return None
        ms = (time.perf_counter() - t0) * 1000.0
        c1 = self.meter.read()
        err = check(out)
        if err:
            self.fail(span, err)
            return None
        if sample:
            self.samples.setdefault(sample, []).append(ms)
            self.samples.setdefault(cpu_sample(sample), []).append(c1["app"] - c0["app"])
            self.samples.setdefault(jit_sample(sample), []).append(c1["jit"] - c0["jit"])
            if ref and self.host_probe is not None:
                self.samples.setdefault("probe_cpu_ms", []).append(self.host_probe())
        return out

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(f"{what}: {why[:300]}")


def run_window(run: "Run", op, min_calls: int = 1) -> float:
    """Call ``op(i)`` for i = 0, 1, ... back to back for ``run.seconds``:
    another call starts only while it is expected (at the median call
    time so far) to end inside the window, so a slow call never
    stretches the run by a whole extra call. At least ``min_calls``
    calls are made. Returns the time taken."""
    t0 = time.perf_counter()
    took: list[float] = []
    while len(took) < min_calls or (
        (time.perf_counter() - t0) + median(took) <= run.seconds
    ):
        t = time.perf_counter()
        op(len(took))
        took.append(time.perf_counter() - t)
    return time.perf_counter() - t0


def check_search(rows) -> str | None:
    if not isinstance(rows, list) or not rows:
        return "no rows for an in-vocabulary query"
    ranks = [r["doc_rank"] for r in rows]
    if ranks != sorted(ranks):
        return f"rows not ordered by doc_rank: {ranks}"
    return None


def check_fetch(doc: Doc, start: int, end: int):
    want = "\n".join(doc.text.split("\n")[start - 1 : end])

    def check(out) -> str | None:
        if out.get("text_slice") != want:
            return f"fetch {doc.key} lines {start}-{end} returned other text"
        return None

    return check


def data_files(root: Path) -> dict[str, tuple[int, int]]:
    """path -> (bytes, mtime_ns) of the data files under root
    (checksums excluded)."""
    out = {}
    for p in root.rglob("*"):
        if p.is_file() and not p.name.endswith(".crc"):
            st = p.stat()
            out[str(p)] = (st.st_size, st.st_mtime_ns)
    return out


def dir_bytes(root: Path) -> tuple[int, int]:
    """(bytes, files) of the data files under root."""
    files = data_files(root)
    return sum(size for size, _ in files.values()), len(files)


def written(before: dict, after: dict) -> dict[str, int]:
    """Data files a call wrote between two data_files() snapshots: new
    or rewritten files, their bytes and the directories holding them."""
    new = [p for p, st in after.items() if before.get(p) != st]
    return {
        "bytes_written": sum(after[p][0] for p in new),
        "files_written": len(new),
        "dirs_rewritten": len({str(Path(p).parent) for p in new}),
    }


def storage_mb(spark) -> float:
    """Executor storage memory held by cached data, in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 1e6


def source_frame(spark, docs_path: Path):
    """The generated corpus file as a canonical-document DataFrame."""
    from pyspark.sql import functions as F

    return spark.read.parquet(str(docs_path)).select(
        F.format_string("d%06d", F.col("doc_id")).alias("id"),
        F.format_string("doc://d%06d", F.col("doc_id")).alias("url"),
        F.create_map(
            F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
        ).alias("metadata"),
        F.col("text"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("last_modified_at"),
        F.lit("perfbench").alias("source_type"),
    )


# -- serve ------------------------------------------------------------------
def serve_setup(run: Run, docs_path: Path):
    from documents_vector_search_spark import serving
    from documents_vector_search_spark.collection import Collection, create_collection

    base = run.work / "collections"
    coll = Collection(run.spark, str(base), COLLECTION)
    with run.tracer.span("creator.create"):
        create_collection(coll, source_frame(run.spark, docs_path))
    run.info["create_bytes"], run.info["create_files"] = dir_bytes(coll.root)
    registry = serving.CollectionRegistry(run.spark, str(base), cache_tables=True)
    with run.tracer.span("searcher.init"):
        registry.searcher(COLLECTION)
    run.info["cache_mb"] = storage_mb(run.spark)
    return registry


def _search_op(run: Run, registry, kind: str, query: str, sample: str | None):
    from documents_vector_search_spark import serving

    return run.call(
        f"searcher.{kind}",
        lambda: serving.search_in_collection(
            registry, COLLECTION, query, max_chunks=MAX_CHUNKS,
            max_documents=MAX_DOCUMENTS, **SEARCH_KINDS[kind],
        ),
        check_search,
        sample,
        ref=True,
    )


def _fetch_op(run: Run, registry, doc: Doc, sample: str | None):
    from documents_vector_search_spark import serving

    start, end = FETCH_LINES
    run.call(
        "fetcher.fetch",
        lambda: serving.fetch_from_collection(registry, COLLECTION, doc.key, start, end),
        check_fetch(doc, start, end),
        sample,
    )


def _batch_op(run: Run, registry, queries: list[str], sample: str | None):
    from documents_vector_search_spark import serving

    def check(out) -> str | None:
        for qid in (f"q{i}" for i in range(len(queries))):
            err = check_search(out.get(qid))
            if err:
                return f"{qid}: {err}"
        return None

    return run.call(
        f"searcher.many_q{len(queries)}",
        lambda: serving.search_many_in_collection(
            registry, COLLECTION, queries, max_chunks=MAX_CHUNKS,
            max_documents=MAX_DOCUMENTS,
        ),
        check,
        sample,
    )


def _decomposed(run: Run, searcher, kind: str, query: str, span: str, sample: str | None):
    """One search of ``kind`` split into plan construction (``search()``
    returning a DataFrame) and execution (``collect``), under ``span``.
    Samples go to ``construct_<kind>_ms``, ``exec_<kind>_ms`` and
    ``sample`` (their sum)."""
    kwargs = SEARCH_KINDS[kind]
    opts = {"indexes": tuple(kwargs["indexes"])} if "indexes" in kwargs else {}
    t0 = time.perf_counter()
    with run.tracer.span(span):
        df = run.call(
            f"searcher.{kind}.construct",
            lambda: searcher.search(
                query, max_chunks=MAX_CHUNKS, max_documents=MAX_DOCUMENTS,
                metadata_filter=kwargs.get("metadata_filter"), **opts,
            ),
            lambda df: None,
            f"construct_{kind}_ms",
        )
        rows = df is not None and run.call(
            f"searcher.{kind}.exec",
            lambda: [r.asDict(recursive=True) for r in df.collect()],
            check_search,
            f"exec_{kind}_ms",
        )
    if rows and sample:
        run.samples.setdefault(sample, []).append((time.perf_counter() - t0) * 1000.0)


def serve(run: Run, docs_path: Path) -> None:
    """Read-only serving against a warmed cached registry: default
    (hybrid) search tool calls, each followed by a fetch of the top
    document.

    A traced run's window cycles through a traced tool call, the same
    call untraced (Tracer.paused) and a traced search split into
    construction and execution, so tracing overhead and serving-layer
    overhead compare calls from the same phase of the run. After the
    window it measures the other search kinds, the batch path and one
    maintenance round (serve_trace_extras, maintain)."""
    gen = run.gen
    registry = serve_setup(run, docs_path)
    by_key = {d.key: d for d in gen.docs}
    queries = iter(q for _, q in gen.queries("serve", 10_000))

    def single(search_sample: str | None = None, fetch_sample: str | None = None):
        rows = _search_op(run, registry, "hybrid", next(queries), search_sample)
        if rows:
            hit = by_key[rows[0]["document_id"]]
            _fetch_op(run, registry, hit, fetch_sample)

    for _ in range(SERVE_WARMUP):
        single()
    run.info["setup_end"] = time.time()
    if not run.traced:
        run.info["measure_s"] = run_window(
            run, lambda i: single("search_ms", "fetch_ms"), min_calls=SERVE_MIN_SEARCHES
        )
        run.info["stored_bytes"], _ = dir_bytes(registry.collection(COLLECTION).root)
        return

    searcher = registry.searcher(COLLECTION)

    def cycle(i: int) -> None:
        if i % 3 == 0:
            single("search_ms", "fetch_ms")
        elif i % 3 == 1:
            with run.tracer.paused():
                single("search_untraced_ms", "fetch_untraced_ms")
        else:
            _decomposed(
                run, searcher, "hybrid", next(queries),
                "searcher.hybrid.decomposed", "decomposed_hybrid_ms",
            )

    run.info["measure_s"] = run_window(run, cycle, min_calls=9)
    run.info["stored_bytes"], _ = dir_bytes(registry.collection(COLLECTION).root)
    stages = {
        "serve_trace_extras": lambda: serve_trace_extras(run, registry, queries),
        "maintain": lambda: maintain(run, registry),
    }
    for name, stage in stages.items():
        if time.time() - run.info["started"] + STAGE_S[name] > TRACED_LIMIT_S:
            run.attempted += 1
            run.fail(name, f"skipped: would end past {TRACED_LIMIT_S} s")
        else:
            stage()


def serve_trace_extras(run: Run, registry, queries) -> None:
    """Traced run only, after the window: one decomposed search per
    other kind, ``search_chunks`` alone, and ``search_many`` at each of
    BATCH_SIZES."""
    searcher = registry.searcher(COLLECTION)
    for kind in SEARCH_KINDS:
        if kind != "hybrid":
            _decomposed(run, searcher, kind, next(queries), f"searcher.{kind}", None)
    run.call(
        "searcher.chunks",
        lambda: searcher.search_chunks(next(queries), MAX_CHUNKS).collect(),
        lambda rows: None if rows else "search_chunks returned no rows",
    )
    _batch_op(run, registry, [next(queries) for _ in range(2)], None)  # warm-up
    for q in BATCH_SIZES:
        _batch_op(run, registry, [next(queries) for _ in range(q)], f"batch_q{q}_ms")


def maintain(run: Run, registry) -> None:
    """Traced serve run only: one seeded maintenance round on the
    served collection, each step checked.

    1. ``update_collection`` of UPDATE_DOCS documents, each gaining a
       line with a marker term no generated word contains, then
       ``CollectionRegistry.refresh``;
    2. ``delete_documents`` of DELETE_DOCS others, then ``refresh`` and
       the first search after it, for the marker term, which must find
       every updated document;
    4. fetches: an updated document returns its new last line, a
       deleted one raises ``DocumentNotFoundError``;
    5. ``compact_collection``.
    The manifest's ``numberOfDocuments`` is checked after each write.

    The registry is refreshed after every write, as its docstring asks:
    a write made while the registry still caches the tables reads the
    cached pre-write rows (Spark substitutes the cached plan for a
    re-read of the same path), so a delete right after an update
    rewrites a shared bucket from the pre-update rows and loses the
    update."""
    from documents_vector_search_spark import serving
    from documents_vector_search_spark.collection import (
        compact_collection,
        delete_documents,
        update_collection,
    )
    from documents_vector_search_spark.collection.fetcher import DocumentNotFoundError

    from corpus import MARKER, write_docs

    coll = registry.collection(COLLECTION)
    n_docs = len(run.gen.docs)
    updated, deleted = run.gen.maintain_batch(UPDATE_DOCS, DELETE_DOCS)
    batch_path = run.work / "data" / "update" / "documents.parquet"
    batch_path.parent.mkdir(parents=True)
    write_docs(updated, batch_path)

    def count_is(want: int):
        def check(_) -> str | None:
            got = coll.manifest().numberOfDocuments
            return None if got == want else f"numberOfDocuments {got}, expected {want}"

        return check

    def write_step(span: str, fn, check, batch_docs) -> None:
        before = data_files(coll.root)
        if run.call(span, fn, check, f"{span}_ms") is not None:
            io = written(before, data_files(coll.root))
            text_bytes = sum(len(d.text.encode()) for d in batch_docs)
            io["write_amp"] = io["bytes_written"] / text_bytes
            run.info[span] = io

    write_step(
        "updater.update",
        lambda: update_collection(coll, source_frame(run.spark, batch_path)),
        count_is(n_docs),
        updated,
    )
    run.call("searcher.refresh", lambda: registry.refresh(COLLECTION), lambda _: None)
    write_step(
        "updater.delete",
        lambda: delete_documents(coll, [d.key for d in deleted]),
        count_is(n_docs - len(deleted)),
        deleted,
    )

    t0 = time.perf_counter()
    run.call("searcher.refresh", lambda: registry.refresh(COLLECTION), lambda _: None)

    def finds_updated(rows) -> str | None:
        err = check_search(rows)
        missing = {d.key for d in updated} - {r["document_id"] for r in rows or []}
        return err or (f"updated documents not found: {sorted(missing)}" if missing else None)

    if run.call(
        "searcher.first_after_refresh",
        lambda: serving.search_in_collection(
            registry, COLLECTION, MARKER, max_chunks=MAX_CHUNKS,
            max_documents=MAX_DOCUMENTS,
        ),
        finds_updated,
    ) is not None:
        run.samples["refresh_search_ms"] = [(time.perf_counter() - t0) * 1000.0]

    for doc in updated:
        last = doc.text.count("\n") + 1
        run.call(
            "fetcher.fetch_updated",
            lambda doc=doc, last=last: serving.fetch_from_collection(
                registry, COLLECTION, doc.key, last, last
            ),
            check_fetch(doc, last, last),
        )

    def fetch_deleted(key: str):
        try:
            serving.fetch_from_collection(registry, COLLECTION, key, *FETCH_LINES)
        except DocumentNotFoundError:
            return "not found"
        return "found"

    for doc in deleted:
        run.call(
            "fetcher.fetch_deleted",
            lambda key=doc.key: fetch_deleted(key),
            lambda out: None if out == "not found" else "deleted document still fetched",
        )

    files_before = len(data_files(coll.root))
    if run.call(
        "compactor.compact",
        lambda: compact_collection(coll),
        count_is(n_docs - len(deleted)),
        "compactor.compact_ms",
    ) is not None:
        run.info["compactor.compact"] = {
            "files_before": files_before,
            "files_after": len(data_files(coll.root)),
        }


# -- prep -------------------------------------------------------------------
def prep(run: Run, docs_path: Path) -> None:
    """Batch curation: registry keys, each into the noop sink, reading
    the generated corpus in the documents.parquet schema.

    Set-up is PREP_WARMUP_PASSES passes over PREP_KEYS; the first
    pass's row counts are the reference every later call must
    reproduce. The window then calls PREP_KEYS in
    rotation, one sample per call (``<key>_ms``); a pass is the sum of
    the per-key medians. A traced run calls each key twice in a row,
    traced then untraced (``<key>_untraced_ms``), and after the window
    calls PREP_TRACED_KEYS once."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from documents_vector_search_spark import registry

    keys = registry.queries()
    sf_dir = str(docs_path.parent)
    expected: dict[str, int] = {}

    def key_call(key: str, sample: str | None) -> None:
        def go():
            obs = Observation(key)
            keys[key](run.spark, sf_dir).observe(
                obs, F.count(F.lit(1)).alias("rows")
            ).write.format("noop").mode("overwrite").save()
            return obs.get["rows"]

        def check(rows):
            want = expected.setdefault(key, rows)
            if rows != want:
                return f"{rows} rows, first pass had {want}"
            return None if rows else "no rows"

        run.call(f"registry.{key}", go, check, sample, ref=True)

    for _ in range(PREP_WARMUP_PASSES):
        for key in PREP_KEYS:
            key_call(key, None)
    run.info["setup_end"] = time.time()

    def window_call(i: int) -> None:
        if not run.traced:
            key = PREP_KEYS[i % len(PREP_KEYS)]
            key_call(key, f"{key}_ms")
            return
        key = PREP_KEYS[(i // 2) % len(PREP_KEYS)]
        if i % 2 == 0:
            key_call(key, f"{key}_ms")
        else:
            with run.tracer.paused():
                key_call(key, f"{key}_untraced_ms")

    calls = len(PREP_KEYS) * (2 if run.traced else 1) * PREP_MIN_CALLS
    run.info["measure_s"] = run_window(run, window_call, min_calls=calls)
    if run.traced:
        for key in PREP_TRACED_KEYS:
            key_call(key, None)
    run.info["prep_rows"] = expected


def pass_ms(samples: dict[str, list[float]], suffix: str = "_ms") -> float | None:
    """A prep pass: the sum over PREP_KEYS of each key's median call."""
    per_key = [samples.get(f"{k}{suffix}") for k in PREP_KEYS]
    return sum(median(v) for v in per_key) if all(per_key) else None


def op_ms(
    workload: str, samples: dict[str, list[float]], untraced: bool = False, cpu: bool = False
) -> float | None:
    """The workload's op_p50_ms: the median search tool call (serve) or
    a prep pass (pass_ms). With ``cpu``, op_cpu_ms: the same from the
    program's CPU time, for PROBE_SCALED workloads scaled to the
    reference host speed by the run's median host probe (CPU *
    PROBE_REF_MS / probe CPU). ``untraced`` reads the samples a traced
    run took with tracing paused."""
    suffix = ("_untraced" if untraced else "") + ("_cpu" if cpu else "") + "_ms"
    if workload == "prep":
        v = pass_ms(samples, suffix)
    else:
        v = median(samples[f"search{suffix}"]) if samples.get(f"search{suffix}") else None
    if v is None or not cpu or workload not in PROBE_SCALED:
        return v
    probe = samples.get("probe_cpu_ms")
    return v * PROBE_REF_MS / median(probe) if probe else None


WORKLOADS = {"serve": serve, "prep": prep}


def summary_metrics(workload: str, run: Run) -> dict[str, dict]:
    """Every end-to-end figure of the workload, with unit and sample
    count (``value`` None when the run took no or too few samples)."""
    s = run.samples

    def med(name: str, scale: float = 1.0) -> tuple[float | None, int]:
        v = s.get(name) or []
        return (median(v) * scale if v else None), len(v)

    # name -> (value, sample count, unit)
    rows: dict[str, tuple] = {"setup_s": (run.info["setup_s"], 1, "s")}
    if workload == "serve":
        search = s.get("search_ms", [])
        batch = s.get(f"batch_q{BATCH_Q}_ms")
        rows.update(
            search_p50_ms=(*med("search_ms"), "ms"),
            search_cpu_p50_ms=(*med("search_cpu_ms"), "ms"),
            search_jit_p50_ms=(*med("search_jit_ms"), "ms"),
            search_p90_ms=(percentile(search, 90), len(search), "ms"),
            fetch_p50_ms=(*med("fetch_ms"), "ms"),
            batch_qps=(
                BATCH_Q / (batch[0] / 1000.0) if batch else None,
                BATCH_Q * len(batch or []),
                "queries/s",
            ),
            cache_mb=(run.info["cache_mb"], 1, "MB"),
            stored_bytes_per_text_byte=(
                run.info["stored_bytes"] / run.gen.stats()["text_bytes"], 1, "ratio"
            ),
            update_s=(*med("updater.update_ms", 1e-3), "s"),
            delete_s=(*med("updater.delete_ms", 1e-3), "s"),
            refresh_search_ms=(*med("refresh_search_ms"), "ms"),
        )
    else:
        n = min((len(s.get(f"{k}_ms", [])) for k in PREP_KEYS), default=0)
        p = pass_ms(s)
        rows["prep_pass_s"] = (p / 1000.0 if p is not None else None, n, "s")
        for name, suffix in (("cpu", "_cpu_ms"), ("jit", "_jit_ms")):
            c = pass_ms(s, suffix)
            rows[f"prep_pass_{name}_s"] = (c / 1000.0 if c is not None else None, n, "s")
        c = op_ms("prep", s, cpu=True)
        rows["prep_pass_ref_cpu_s"] = (c / 1000.0 if c is not None else None, n, "s")
    rows["host_probe_ms"] = (*med("probe_cpu_ms"), "ms")
    rows["failed_ops_ratio"] = (run.failed / max(1, run.attempted), run.attempted, "ratio")
    out = {k: {"value": v, "unit": unit, "n": n} for k, (v, n, unit) in rows.items()}
    if workload == "serve" and out["search_p90_ms"]["value"] is None:
        q = highest_reportable(out["search_p90_ms"]["n"])
        out["search_p90_ms"]["note"] = (
            "needs >= 100 samples for 10 beyond p90; highest reportable: "
            + ("p%d" % q if q else "none")
        )
    if workload == "serve" and not run.traced:
        for k in ("batch_qps", "update_s", "delete_s", "refresh_search_ms"):
            out[k]["note"] = "traced runs only"
    return out
