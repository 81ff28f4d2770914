"""Per-layer metrics of a traced run.

Layer timings are the spans the benchmark records around its calls into
each module; Spark counts come from the session's event log, charged to
spans through their job groups. ``collect`` runs the extra layer probes on
the live session after the measured window; ``finish`` reads the event log
once the session has stopped.

Every traced run reports every metric in ``PER_LAYER``. A Spark operator
layer that the workload's ops never call reports 0: the workload does no
work there. The in-process kernel probes (charset, functions), the scan and
the extraction probe run on every workload's own inputs; the curation
layers run on a seeded curation corpus in the book_requests traced run.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
import traceback

from pyspark.sql import functions as F

S, COUNT, BYTES, US, RATIO = "s", "count", "bytes", "us", "ratio"
PER_LAYER = {
    "session.start_s": S,
    "session.warmup_s": S,
    "sources.scan_s": S,
    "sources.input_bytes": BYTES,
    "charset.decode_us_per_doc": US,
    "charset.fallback_pages": COUNT,
    "functions.dom_us_per_doc": US,
    "functions.chunk_us_per_doc": US,
    "functions.subs_us_per_doc": US,
    "functions.ssml_us_per_doc": US,
    "functions.split_us_per_chunk": US,
    "functions.subtitles_us_per_chunk": US,
    "functions.chunks_per_doc": COUNT,
    "extract.wall_s": S,
    "extract.request_s": S,
    "extract.kernel_share": RATIO,
    "extract.shuffle_write_bytes": BYTES,
    "extract.task_max_over_median": RATIO,
    "extract.gc_s": S,
    "extract.spill_bytes": BYTES,
    "lineage.run_s": S,
    "lineage.rerun_s": S,
    "lineage.output_files": COUNT,
    "lineage.output_bytes_per_input_byte": RATIO,
    "lineage.jobs": COUNT,
    "validate.s": S,
    "validate.jobs": COUNT,
    "validate.findings_per_chunk": RATIO,
    "polly.sink_s": S,
    "polly.files": COUNT,
    "align.srt_s": S,
    "align.subtitles": COUNT,
    "curate.manifest_s": S,
    "dedup.clusters_s": S,
    "dedup.candidate_pairs": COUNT,
    "dedup.verified_pairs": COUNT,
    "dedup.pair_yield": RATIO,
    "graph.cc_rounds": COUNT,
    "dedup.shuffle_bytes": BYTES,
    "spark.jobs_per_op": COUNT,
    "spark.tasks_per_op": COUNT,
    "spark.scheduler_delay_s": S,
    "spark.leaked_rdds": COUNT,
    "error_rate": RATIO,
    "peak_rss_mb": "MB",
    "trace.overhead_s": S,
}
KERNEL_SAMPLE = 600  # pages in the single-process kernel probe


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def kernel_probe(payloads: list[bytes | str]) -> dict:
    """Single-process timings of the charset decode and the functions/
    kernels the fused extraction UDF applies, per document or chunk."""
    from textractssmlprocessor_spark.functions.chunking import (
        chunk_text_with_spans,
        split_ssml,
    )
    from textractssmlprocessor_spark.functions.cleaning import is_html
    from textractssmlprocessor_spark.functions.dom import convert_html_to_ssml
    from textractssmlprocessor_spark.functions.ssml import normalize_ssml
    from textractssmlprocessor_spark.functions.subs import expand_substitutions
    from textractssmlprocessor_spark.functions.subtitles import chunk_subtitles
    from textractssmlprocessor_spark.operators.charset import decode_payload

    t = dict.fromkeys(("charset", "dom", "chunk", "subs", "ssml", "split",
                       "subtitles"), 0.0)
    pc = time.perf_counter
    chunks_total = 0
    for p in payloads:
        raw = p if isinstance(p, bytes) else p.encode("utf-8")
        t0 = pc()
        text = decode_payload(raw)[0]
        t1 = pc()
        cleaned = convert_html_to_ssml(text) if is_html(text) else text
        t2 = pc()
        chunks = chunk_text_with_spans(cleaned)
        t3 = pc()
        t["charset"] += t1 - t0
        t["dom"] += t2 - t1
        t["chunk"] += t3 - t2
        chunks_total += len(chunks)
        for c, _, _ in chunks:
            t0 = pc()
            subbed = expand_substitutions(c)
            t1 = pc()
            ssml = normalize_ssml(subbed)
            t2 = pc()
            split_ssml(ssml)
            t3 = pc()
            chunk_subtitles(ssml, 0.0, len(c) * 0.06, "english", True)
            t4 = pc()
            t["subs"] += t1 - t0
            t["ssml"] += t2 - t1
            t["split"] += t3 - t2
            t["subtitles"] += t4 - t3
    n = max(1, len(payloads))
    nc = max(1, chunks_total)
    return {
        "charset.decode_us_per_doc": t["charset"] / n * 1e6,
        "functions.dom_us_per_doc": t["dom"] / n * 1e6,
        "functions.chunk_us_per_doc": t["chunk"] / n * 1e6,
        "functions.subs_us_per_doc": t["subs"] / n * 1e6,
        "functions.ssml_us_per_doc": t["ssml"] / n * 1e6,
        "functions.split_us_per_chunk": t["split"] / nc * 1e6,
        "functions.subtitles_us_per_chunk": t["subtitles"] / nc * 1e6,
        "functions.chunks_per_doc": chunks_total / n,
    }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_files(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for name in names:
            if name.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(d, name))
    return files, size


def collect(run, spark, ops: list[dict]) -> dict:
    """Layer probes on the live traced session, after the measured window."""
    from textractssmlprocessor_spark.operators.extract import extract_chunks
    from textractssmlprocessor_spark.sources import read_pages

    from perfbench import gen
    from perfbench.workloads import release_persistent_rdds

    wl = run.wl
    tr = run.tracer
    out: dict = {}
    rng = random.Random(f"kernel-{wl.seed}")
    if wl.name == "crawl_batch":
        rows = list(wl.by_url.values())
        sample = rng.sample(rows, min(KERNEL_SAMPLE, len(rows)))
        payloads = [gen.page_bytes(r) if r["html"] is not None else r["text"]
                    for r in sample]
        n_docs, scan_path = len(rows), wl.pages_path
    else:
        rows = wl.rows
        payloads = [r["html"] if r["html"] is not None else r["text"]
                    for r in rows[:4]]
        n_docs, scan_path = 1, wl.paths[0]
    all_raw = [r["html"] for r in rows if r["html"] is not None]
    out.update(kernel_probe(payloads))
    out["charset.fallback_pages"] = sum(map(_is_fallback, all_raw))
    out["_n_docs"] = n_docs

    with tr.span("sources.scan"):
        t0 = time.perf_counter()
        df = read_pages(spark, scan_path)
        # an aggregate over every column, so the scan reads every byte
        df.agg(*[F.sum(F.octet_length(c)) if t in ("string", "binary")
                 else F.count(c) for c, t in df.dtypes]).collect()
        out["sources.scan_s"] = time.perf_counter() - t0
    out["sources.input_bytes"] = sum(os.path.getsize(os.path.join(d, f))
                                     for d, _, fs in os.walk(scan_path) for f in fs)

    pages = read_pages(spark, scan_path).cache()
    pages.count()
    parts = wl.partitions if wl.name == "crawl_batch" else run.cores
    with tr.span("extract.noop") as sp:
        t0 = time.perf_counter()
        _noop(extract_chunks(pages, num_partitions=parts))
        out["extract.wall_s"] = time.perf_counter() - t0
        out["_extract_span"] = sp["id"]
    pages.unpersist()

    if wl.name == "crawl_batch":
        files, size = _dir_files(wl.out(str(run.keep_op), "chunks"))
        out["lineage.output_files"] = files
        out["lineage.output_bytes_per_input_byte"] = size / wl.inputs["input_bytes"]

    if wl.name == "book_requests":
        out.update(curate_probe(run, spark))
    return out


def curate_probe(run, spark) -> dict:
    """The curation layers (operators.curate, operators.dedup,
    operators.graph) on the seeded curation corpus: one build_manifest op,
    counted and checked like a workload op, then the dedup layer calls."""
    from textractssmlprocessor_spark.operators.dedup import (
        minhash_band_table,
        minhash_lsh_pairs,
    )
    from textractssmlprocessor_spark.operators.graph import dedup_clusters

    from perfbench import gen
    from perfbench.workloads import (
        CurateDedup,
        persistent_rdds,
        release_persistent_rdds,
    )

    tr = run.tracer
    out: dict = {}
    cd = CurateDedup(run.wl.seed, run.workdir, gen.load_sentences(), run.cores)
    run.attempted += 1
    try:
        rec = cd.run(spark, "probe", tr)
        run.leaked.append(persistent_rdds(spark))
        release_persistent_rdds(spark)
        errors = cd.check(spark, rec)
        out["curate.manifest_s"] = rec["wall_s"]
    except Exception:
        traceback.print_exc()
        errors = ["exception"]
    if errors:
        run.failed += 1
        print(f"curation probe FAILED: {errors[:5]}", file=sys.stderr)

    docs = spark.read.parquet(cd.docs_path).filter(
        F.col("lang").isin(gen.CURATE["languages"]))
    with tr.span("dedup.clusters") as sp:
        t0 = time.perf_counter()
        _noop(dedup_clusters(docs, threshold=0.8))
        out["dedup.clusters_s"] = time.perf_counter() - t0
        out["_dedup_span"] = sp["id"]
    release_persistent_rdds(spark)
    with tr.span("dedup.candidates"):
        bands = minhash_band_table(docs)
        a = bands.select("bucket", F.col("id").alias("a"))
        b = bands.select("bucket", F.col("id").alias("b"))
        out["dedup.candidate_pairs"] = (
            a.join(b, "bucket").filter(F.col("a") < F.col("b"))
            .select("a", "b").distinct().count())
    with tr.span("dedup.verified"):
        out["dedup.verified_pairs"] = minhash_lsh_pairs(
            docs, threshold=0.8).count()
    release_persistent_rdds(spark)
    return out


def _is_fallback(raw: bytes) -> bool:
    """A page the decoder could only read through the cp1252 fallback: no
    BOM or meta charset, and not valid UTF-8."""
    if b"charset" in raw[:1024]:
        return False
    try:
        raw.decode("utf-8")
    except UnicodeDecodeError:
        return True
    return False


def finish(run, ops: list[dict], baseline: list[dict], probes: dict,
           event_log: str, peak_rss_mb: float) -> dict:
    """All PER_LAYER metrics, from spans, the event log and the probes."""
    from perfbench.tracing import merge_groups, read_event_log

    tr = run.tracer
    groups = read_event_log(event_log)
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({k: v for k, v in probes.items() if k in PER_LAYER})
    m["session.start_s"] = _median(s for s, _ in run.setup)
    m["session.warmup_s"] = _median(w for _, w in run.setup)
    m["error_rate"] = run.failed / max(1, run.attempted)
    m["peak_rss_mb"] = peak_rss_mb
    # the largest count left after any op, the curation probe's included
    m["spark.leaked_rdds"] = max(run.leaked, default=0)
    if baseline and ops:
        m["trace.overhead_s"] = (_median(r["wall_s"] for r in ops)
                                 - _median(r["wall_s"] for r in baseline))

    def span_agg(span) -> dict:
        return merge_groups(groups, tr.descendants(span))

    op_roots = [s for s in tr.spans if s["op"] and s["parent"] is None]
    n_ops = max(1, len({s["op"] for s in op_roots}))
    per_op = merge_groups(groups, {i for s in op_roots for i in tr.descendants(s)})
    m["spark.jobs_per_op"] = per_op["jobs"] / n_ops
    m["spark.tasks_per_op"] = per_op["tasks"] / n_ops
    m["spark.scheduler_delay_s"] = per_op["scheduler_delay_s"] / n_ops

    if "_extract_span" in probes:
        ex = span_agg(tr.spans[probes["_extract_span"]])
        m["extract.shuffle_write_bytes"] = ex["shuffle_write_bytes"]
        m["extract.gc_s"] = ex["gc_s"]
        m["extract.spill_bytes"] = ex["spill_bytes"]
        widest = max(ex["stage_task_s"].values(), key=len, default=[])
        if widest and statistics.median(widest) > 0:
            m["extract.task_max_over_median"] = max(widest) / statistics.median(widest)
        kernel_us = sum(probes[k] for k in (
            "charset.decode_us_per_doc", "functions.dom_us_per_doc",
            "functions.chunk_us_per_doc", "functions.subs_us_per_doc",
            "functions.ssml_us_per_doc"))
        m["extract.kernel_share"] = (kernel_us * 1e-6 * probes["_n_docs"]
                                     / run.cores / probes["extract.wall_s"])

    def span_median(name: str, key: str | None = None) -> float:
        """Median over the window's ops of a span's self time, or of one of
        its event-log aggregates."""
        spans = [s for s in tr.named(name) if s["op"]]
        if key is None:
            return _median(tr.self_time(s) for s in spans)
        return _median(span_agg(s)[key] for s in spans)

    if run.wl.name == "crawl_batch":
        m["lineage.run_s"] = span_median("lineage.run")
        m["lineage.rerun_s"] = span_median("lineage.rerun")
        m["lineage.jobs"] = span_median("lineage.run", "jobs")
    elif run.wl.name == "book_requests":
        m["extract.request_s"] = span_median("extract.request")
        m["validate.s"] = span_median("validate")
        m["validate.jobs"] = span_median("validate", "jobs")
        m["polly.sink_s"] = span_median("polly.sink")
        m["align.srt_s"] = span_median("align.srt")
        chunks = sum(r["n_chunks"] for r in ops)
        m["validate.findings_per_chunk"] = sum(r["n_findings"] for r in ops) / max(1, chunks)
        m["polly.files"] = _median(r["n_files"] for r in ops)
        m["align.subtitles"] = _median(r["n_subtitles"] for r in ops)
    if "_dedup_span" in probes:
        dd = span_agg(tr.spans[probes["_dedup_span"]])
        m["dedup.shuffle_bytes"] = dd["shuffle_write_bytes"]
        # connected_components fingerprints the edge set with one first()
        # before its rounds and one after each round
        fingerprints = sum(len(ex) for site, ex in dd["actions"].items()
                           if site.startswith("first at") and "graph.py" in site)
        m["graph.cc_rounds"] = max(0, fingerprints - 1)
    if m["dedup.candidate_pairs"]:
        m["dedup.pair_yield"] = m["dedup.verified_pairs"] / m["dedup.candidate_pairs"]
    return m
