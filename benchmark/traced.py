"""Traced run: the job's steps called in-process through the package's
public functions, with one span around each call.

The spans are the benchmark's own; nothing inside ``pdf2doi_spark`` is
instrumented (``ship_package`` is timed by wrapping the module attribute
that ``build_session`` calls). A DataFrame a step returns is forced into
Spark's ``noop`` sink, except where the job itself writes it and except
the job's input: that is persisted and materialised inside its read span,
so ``run_resumable`` and the extraction probes read the same in-memory
pages and neither repeats the input read.

Per-layer metrics whose layer is not on a workload's path are reported as
0 for that workload (e.g. ``sources.warc.*`` on ``pages_hitheavy``).
"""
from __future__ import annotations

import os
import statistics
import tempfile
import time
import warnings

import pyarrow.parquet as pq

import run as bench
from spans import Tracer, duration, self_time_by_name, self_times

# name -> unit; the order is the report's
PER_LAYER = {
    "session.build_s": "s",
    "session.ship_package_s": "s",
    "sources.io.scan_s": "s",
    "sources.io.write_s": "s",
    "sources.io.merge_cache_s": "s",
    "sources.io.sealed_read_s": "s",
    "sources.io.result_files": "count",
    "sources.io.bytes_written_per_input_byte": "ratio",
    "restart_s": "s",
    "sources.warc.cdx_read_s": "s",
    "sources.warc.cdx_count_s": "s",
    "sources.warc.read_indexed_s": "s",
    "sources.warc.ranges": "count",
    "sources.warc.records": "count",
    "operators.extract.boundary_s": "s",
    "operators.extract.ids_only_s": "s",
    "operators.extract.full_s": "s",
    "operators.extract.tasks": "count",
    "operators.extract.candidate_ratio": "ratio",
    "operators.extract.hit_ratio": "ratio",
    "extract_docs_per_s": "1/s",
    "core.extract_meta_us": "us",
    "core.extract_one_us": "us",
    "core.main_content_us": "us",
    "operators.dedup.signature_s": "s",
    "operators.dedup_index.probe_s": "s",
    "operators.dedup_index.dups_write_s": "s",
    "operators.dedup_index.merge_s": "s",
    "operators.dedup_index.flagged": "count",
    "operators.dedup_index.index_bytes": "bytes",
    "operators.dedup_index.index_files": "count",
    "operators.dedup_index.max_bucket": "count",
    "operators.dedup_index.postings_per_sig_band": "ratio",
}

# the warc reader's default split size: one range per (archive, bucket)
_WARC_SPLIT_BYTES = 128 * 1024 * 1024
_CORE_SAMPLE_ROWS = 400
_CORE_REPS = 3
# an untraced cold pass for the overhead line is only started when the run
# can still end well inside its time limit
_UNTRACED_DEADLINE_S = 100.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _tree_bytes(path: str) -> tuple:
    """(files, bytes) of the parquet data files under ``path``."""
    n = size = 0
    for root, _d, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _session(state, tracer: Tracer):
    """``build_session`` at local[N] with ``ship_package`` as a child
    span. The JVM inherits the invocation's temp dirs."""
    os.environ.update({k: v for k, v in state.env.items()
                       if k in ("TMPDIR", "SPARK_LOCAL_DIRS", "PYSPARK_PYTHON",
                                "PYSPARK_DRIVER_PYTHON")})
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tempfile.tempdir = state.tmp
    import pdf2doi_spark.session as session_mod

    orig = session_mod.ship_package

    def traced_ship(spark):
        with tracer.span("session.ship_package"):
            return orig(spark)

    session_mod.ship_package = traced_ship
    try:
        with tracer.span("session.build_session"):
            return session_mod.build_session(
                master=f"local[{bench.CORES}]", app_name="benchmark-traced",
                shuffle_partitions=bench.SHUFFLE_PARTITIONS,
                extra_conf={"spark.driver.memory": bench.DRIVER_MEMORY,
                            "spark.driver.extraJavaOptions": state.java_opts})
    finally:
        session_mod.ship_package = orig


def _stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM this process launched, and
    wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)


def _method_metrics(tracer, spark, results, out: str) -> None:
    from pdf2doi_spark.operators.extract import method_metrics

    with tracer.span("operators.extract.method_metrics"):
        path = os.path.join(out, "metrics")
        method_metrics(results).write.mode("overwrite").parquet(path)
        spark.read.parquet(path).collect()


def _pages_job(tracer, spark, state, cfg) -> dict:
    """job.py --input --cache --shards, step by step."""
    from pdf2doi_spark.sources.io import (
        fs_exists,
        merge_cache,
        resolve_pages_source,
        run_resumable,
    )

    inp = os.path.join(state.inputs, "pages")
    out, cache_path = state.path("out"), state.path("cache")
    with tracer.span("sources.io.resolve_pages_source"):
        pages = resolve_pages_source(spark, inp).persist()
        pages.count()
    cache = spark.read.parquet(cache_path) \
        if fs_exists(spark, cache_path) else None
    with tracer.span("sources.io.run_resumable"):
        results = run_resumable(spark, pages, out, n_shards=cfg["shards"],
                                cache=cache)
    with tracer.span("sources.io.merge_cache"):
        merge_cache(spark, cache_path, results)
    _method_metrics(tracer, spark, results, out)
    return {"pages": pages}


def _warc_dedup_job(tracer, spark, state, cfg) -> dict:
    """job.py --cdx-index --warc-base --dedup-index, step by step."""
    from pyspark.sql import functions as F

    from pdf2doi_spark.operators.dedup_index import (
        bootstrap_index_if_absent,
        incremental_near_dups,
        merge_minhash_index,
    )
    from pdf2doi_spark.sources.io import run_resumable
    from pdf2doi_spark.sources.warc import read_cdx_index, read_warc_indexed

    out, index = state.path("out"), state.path("index")
    with tracer.span("sources.warc.read_cdx_index"):
        idx = read_cdx_index(
            spark, os.path.join(state.inputs, "cdx"),
            warc_base=os.path.join(state.inputs, "warc") + "/")
        _noop(idx)
    with tracer.span("sources.warc.cdx_count"):
        idx.count()
    with tracer.span("sources.warc.read_warc_indexed"):
        pages = read_warc_indexed(spark, idx.select("path", "offset",
                                                     "length")).persist()
        records = pages.count()
    with tracer.span("sources.io.run_resumable"):
        results = run_resumable(spark, pages, out, n_shards=cfg["shards"])
    docs = (results.filter(F.col("extracted_text").isNotNull())
            .select(F.xxhash64("url").alias("doc_id"),
                    F.col("extracted_text").alias("text"), "url"))
    spark.sparkContext.setCheckpointDir(os.path.join(out, "_checkpoints"))
    with tracer.span("operators.dedup_index.bootstrap_index_if_absent"):
        bootstrap_index_if_absent(spark, index, docs, hash_fn="xxhash64")
    with tracer.span("operators.dedup_index.incremental_near_dups"):
        dups, sigs = incremental_near_dups(spark, index, docs,
                                           return_sigs=True)
    dups_path = os.path.join(out, "dups")
    with tracer.span("operators.dedup_index.dups_write"):
        (dups.join(docs.select("doc_id", "url"), "doc_id")
             .select("url", "doc_id", "dup_of", "est_jaccard", "source")
             .write.mode("overwrite").parquet(dups_path))
    written = spark.read.parquet(dups_path)
    with tracer.span("operators.dedup_index.merge_minhash_index"):
        merge_minhash_index(spark, index, docs,
                            exclude=written.select("doc_id"), sigs=sigs)
    flagged = written.select("doc_id").distinct().count()
    _method_metrics(tracer, spark, results, out)
    ranges = idx.select("path", (F.col("offset") / _WARC_SPLIT_BYTES)
                        .cast("long")).distinct().count()
    return {"sources.warc.records": records, "sources.warc.ranges": ranges,
            "operators.dedup_index.flagged": flagged, "docs": docs,
            "pages": pages}


def _index_layer(tracer, spark, state, docs) -> dict:
    """Index health after the merge, and the signature pass on its own."""
    from pyspark.sql import functions as F

    from pdf2doi_spark.operators.dedup import (
        has_min_words,
        minhash_signature,
        word_shingles,
    )
    from pdf2doi_spark.operators.dedup_index import (
        load_index_params,
        minhash_index_profile,
    )

    index = state.path("index")
    params = load_index_params(spark, index)
    with tracer.span("operators.dedup_index.minhash_index_profile"):
        prof = minhash_index_profile(spark, index).collect()
    # the index's own signature pass: shingles once, then the k minhashes
    shingled = docs.filter(has_min_words(F.col("text"))).select(
        "doc_id", word_shingles(F.col("text")).alias("sh"))
    with tracer.span("operators.dedup.minhash_signature"):
        _noop(shingled.select("doc_id", *minhash_signature(
            F.col("sh"), params["num_hashes"], params["hash_fn"])))
    n_sigs = spark.read.parquet(os.path.join(index, "sigs")).count()
    n_posts = spark.read.parquet(os.path.join(index, "postings")).count()
    files, size = _tree_bytes(index)
    return {
        "operators.dedup_index.max_bucket":
            max((r["bucket_size"] for r in prof), default=0),
        "operators.dedup_index.postings_per_sig_band":
            n_posts / (n_sigs * params["bands"]) if n_sigs else 0.0,
        "operators.dedup_index.index_files": files,
        "operators.dedup_index.index_bytes": size,
    }


def _sealed_restart(tracer, spark, state, cfg) -> None:
    """The restart path in-process: the sealed short-circuit and a read
    of the stored results it returns."""
    from pdf2doi_spark.sources.io import resolve_pages_source, run_resumable

    pages = resolve_pages_source(spark, os.path.join(state.inputs, "pages"))
    with tracer.span("sources.io.sealed_read"):
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            results = run_resumable(spark, pages, state.path("out"),
                                    n_shards=cfg["shards"])
        _noop(results)


def _extract_probes(tracer, spark, pages) -> dict:
    """Boundary cost (identity mapInPandas over the kernel's columns), the
    ids-only kernel and the full kernel, each into noop over the job's
    persisted input and its partitions, in a session the job steps have
    already warmed."""
    from pdf2doi_spark.operators.extract import (
        ExtractionCounters,
        extract_identifiers,
    )

    src = pages.select("url", "html", "text")

    def identity(batches):
        yield from batches

    with tracer.span("operators.extract.boundary"):
        _noop(src.mapInPandas(identity, schema=src.schema))
    with tracer.span("operators.extract.ids_only"):
        _noop(extract_identifiers(src, with_text=False))
    counters = ExtractionCounters(spark.sparkContext)
    full = extract_identifiers(src, counters=counters)
    with tracer.span("operators.extract.full") as sp:
        _noop(full)
    c = counters.as_dict()
    return {
        "operators.extract.tasks": full.rdd.getNumPartitions(),
        "operators.extract.candidate_ratio":
            c["n_candidates"] / c["n_docs"] if c["n_docs"] else 0.0,
        "operators.extract.hit_ratio":
            c["n_hits"] / c["n_candidates"] if c["n_candidates"] else 0.0,
        "extract_docs_per_s": c["n_docs"] / duration(sp),
    }


def core_per_row(pages_path: str) -> dict:
    """Per-row cost of the pure-Python kernel, single process, no Spark:
    microseconds per row, median over ``_CORE_REPS`` passes of a fixed
    sample."""
    from pdf2doi_spark.core.kernel import extract_one
    from pdf2doi_spark.core.webmeta import (
        extract_main_content,
        extract_meta,
        page_text_units,
    )

    table = pq.read_table(pages_path, columns=["url", "html", "text"])
    rows = table.slice(0, _CORE_SAMPLE_ROWS).to_pylist()
    per = {"core.extract_meta_us": [], "core.extract_one_us": [],
           "core.main_content_us": []}
    clock = time.perf_counter
    for _ in range(_CORE_REPS):
        t_meta = t_one = t_main = 0.0
        for r in rows:
            t0 = clock()
            meta = extract_meta(r["html"])
            t1 = clock()
            units = page_text_units(r["html"], r["text"])
            t2 = clock()
            extract_one(r["url"], meta, units)
            t3 = clock()
            extract_main_content(r["html"])
            t4 = clock()
            t_meta += t1 - t0
            t_one += t3 - t2
            t_main += t4 - t3
        for k, t in zip(per, (t_meta, t_one, t_main)):
            per[k].append(t / len(rows) * 1e6)
    return {k: statistics.median(v) for k, v in per.items()}


def run(workload: str, state, truth: dict, spark_submit: str) -> tuple:
    t_start = time.perf_counter()
    cfg = bench.WORKLOADS[workload]
    tracer = Tracer(run_id=state.key)
    metrics = {name: 0.0 for name in PER_LAYER}
    pages_path = os.path.join(state.inputs, "pages")

    with tracer.span("job") as root:
        spark = _session(state, tracer)
        step = _pages_job if workload == "pages_hitheavy" \
            else _warc_dedup_job
        found = step(tracer, spark, state, cfg)
    docs = found.pop("docs", None)
    pages = found.pop("pages")
    metrics.update(found)
    try:
        if docs is not None:
            metrics.update(_index_layer(tracer, spark, state, docs))
        _sealed_restart(tracer, spark, state, cfg)
        metrics.update(_extract_probes(tracer, spark, pages))
    finally:
        _stop_jvm(spark)
    metrics.update(core_per_row(pages_path))

    selfs = self_time_by_name(tracer.spans)
    for metric, span in (
        ("session.build_s", "session.build_session"),
        ("session.ship_package_s", "session.ship_package"),
        ("sources.io.scan_s", "sources.io.resolve_pages_source"),
        ("sources.io.merge_cache_s", "sources.io.merge_cache"),
        ("sources.io.sealed_read_s", "sources.io.sealed_read"),
        ("sources.warc.cdx_read_s", "sources.warc.read_cdx_index"),
        ("sources.warc.cdx_count_s", "sources.warc.cdx_count"),
        ("sources.warc.read_indexed_s", "sources.warc.read_warc_indexed"),
        ("operators.extract.boundary_s", "operators.extract.boundary"),
        ("operators.extract.ids_only_s", "operators.extract.ids_only"),
        ("operators.extract.full_s", "operators.extract.full"),
        ("operators.dedup.signature_s", "operators.dedup.minhash_signature"),
        ("operators.dedup_index.probe_s",
         "operators.dedup_index.incremental_near_dups"),
        ("operators.dedup_index.dups_write_s",
         "operators.dedup_index.dups_write"),
        ("operators.dedup_index.merge_s",
         "operators.dedup_index.merge_minhash_index"),
    ):
        metrics[metric] = selfs.get(span, 0.0)
    # run_resumable's own time minus the kernel's, the kernel being the
    # full-extraction probe over the same persisted pages in the warm
    # session; what is left is the sharding, shuffle, result and manifest
    # writes (and the first start of the Python workers)
    metrics["sources.io.write_s"] = (selfs["sources.io.run_resumable"]
                                     - metrics["operators.extract.full_s"])
    files, written = _tree_bytes(os.path.join(state.path("out"), "results"))
    _m, manifest = _tree_bytes(os.path.join(state.path("out"), "manifest"))
    metrics["sources.io.result_files"] = files
    metrics["sources.io.bytes_written_per_input_byte"] = \
        (written + manifest) / truth["input_bytes"]

    passes = []
    if workload == "pages_hitheavy":
        # cold re-submit against the sealed output the traced steps left
        passes.append(bench.submit(state, spark_submit,
                                   bench.job_args(workload, state),
                                   "restart"))
        metrics["restart_s"] = passes[-1]["wall_s"]
        if time.perf_counter() - t_start < _UNTRACED_DEADLINE_S:
            state.reset("out", "cache", "index")
            passes.append(bench.submit(state, spark_submit,
                                       bench.job_args(workload, state),
                                       "untraced"))

    spans_path = os.path.join(state.out_dir, f"{state.key}.spans.json")
    tracer.dump(spans_path)
    print_layers(workload, truth, tracer, root, metrics, passes, spans_path)
    failed = sum(p["rc"] != 0 for p in passes)
    # the output left by the last step (traced steps or a cold pass)
    outcome = bench.check(workload, state, truth) if failed == 0 \
        else {"correct": False}
    print(f"  output checks: {outcome}")
    result = {
        "correct": failed == 0 and outcome["correct"],
        "attempted": 1 + len(passes), "failed": failed,
        "metrics": {k: {"value": v, "unit": PER_LAYER[k]}
                    for k, v in metrics.items()},
    }
    return result, {"passes": passes, "checks": outcome,
                    "per_layer": metrics}


def print_layers(workload, truth, tracer, root, metrics, passes,
                 spans_path) -> None:
    print(f"traced run: workload {workload}, {truth['n_pages']} pages, "
          f"local[{bench.CORES}]; spans in "
          f"{os.path.relpath(spans_path, bench.ROOT)}")
    st = self_times(tracer.spans)
    width = max(len(s["name"]) for s in tracer.spans)
    print(f"  {'span':<{width}}  {'self s':>8}  {'total s':>8}")
    for s in tracer.spans:
        depth, p = 0, s["parent"]
        while p is not None:
            depth, p = depth + 1, tracer.spans[p]["parent"]
        name = "  " * depth + s["name"]
        print(f"  {name:<{width + 6}}  {st[s['id']]:8.3f}  "
              f"{duration(s):8.3f}")
    for k, v in metrics.items():
        print(f"  {k:<44} {v:12.6g} {PER_LAYER[k]}")
    wall, outside = duration(root), st[root["id"]]
    print(f"  job step self times sum to {wall - outside:.2f} s of the traced "
          f"job wall {wall:.2f} s; {outside:.2f} s of driver time is outside "
          "any step (every step is a span, so this holds by construction)")
    untraced = [p for p in passes if p["tag"] == "untraced" and p["rc"] == 0]
    if untraced:
        u = untraced[0]["wall_s"]
        print(f"  tracing overhead: traced job {truth['n_pages'] / wall:.1f} "
              f"pages/s in {wall:.2f} s vs untraced cold submit "
              f"{truth['n_pages'] / u:.1f} pages/s in {u:.2f} s "
              f"(traced/untraced wall {wall / u:.3f}; the traced job runs "
              "in-process without a JVM launch, persists the input and "
              "adds the noop forces of each layer's output)")
    elif workload == "pages_hitheavy":
        print("  tracing overhead: untraced pass skipped, run near its "
              "time limit")
