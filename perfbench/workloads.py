"""The benchmark workloads, the curation op, and their correctness gates.

Every workload reads only the parquet inputs ``gen`` wrote, calls the
program's public functions, and checks the outputs against the in-process
composition of ``textractssmlprocessor_spark.functions`` (the single-process
oracle; the pure ``operators.charset.decode_payload`` decodes page bytes).

An op is one unit of measured work: one crawl job with its resume rerun, one
book request, or one curation manifest. ``run`` times the op; ``check``
returns the list of defects found in its outputs (empty when correct).
"""

from __future__ import annotations

import os
import random
import shutil
import time

from pyspark.sql import functions as F

from textractssmlprocessor_spark.functions.chunking import (
    chunk_text_with_spans,
    split_ssml,
)
from textractssmlprocessor_spark.functions.cleaning import is_html
from textractssmlprocessor_spark.functions.dom import convert_html_to_ssml
from textractssmlprocessor_spark.functions.ssml import normalize_ssml
from textractssmlprocessor_spark.functions.subs import expand_substitutions
from textractssmlprocessor_spark.functions.subtitles import (
    chunk_subtitles,
    srt_block,
)
from textractssmlprocessor_spark.operators.charset import decode_payload
from textractssmlprocessor_spark.operators.polly import synthesize_fake

from . import gen

VOICE, ENGINE = "Matthew", "generative"  # polly.assign_voices' default voice
SECONDS_PER_CHAR = 0.06                  # fake audio duration of a chunk


def oracle_extract(payload: str) -> list[tuple[int, str, str, int, int]]:
    """(chunk_number, chunk, ssml, start, end) rows the Spark plan must
    produce for one page: clean -> chunk with spans -> substitute ->
    normalize."""
    cleaned = convert_html_to_ssml(payload) if is_html(payload) else payload
    return [
        (i, chunk, normalize_ssml(expand_substitutions(chunk)), s, e)
        for i, (chunk, s, e) in enumerate(chunk_text_with_spans(cleaned), 1)
    ]


def payload_of(row: dict) -> str | None:
    if row["html"] is not None:
        return decode_payload(row["html"])[0]
    return row["text"]


def compare_chunks(url: str, expected, got_rows) -> list[str]:
    got = sorted(
        (r["chunk_number"], r["extracted_text"], r["ssml"],
         r["spans"][0]["start"], r["spans"][0]["end"])
        for r in got_rows
    )
    if got == expected:
        return []
    if len(got) != len(expected):
        return [f"{url}: {len(got)} chunks, expected {len(expected)}"]
    bad = next(g[0] for g, e in zip(got, expected) if g != e)
    return [f"{url}: chunk {bad} differs from the oracle"]


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def release_persistent_rdds(spark) -> None:
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()


class Workload:
    name = ""
    unit_docs = 0  # input documents committed by one op
    # Ops the window runs at least. Timing starts with the first op after
    # set-up, cold JIT and plan compilation included: every production job
    # is a fresh spark-submit that pays them again, and a service pays them
    # on its first request. A request workload takes the median of three
    # requests, so its p50 is a warm request and its tail the first one.
    min_ops = 1

    def __init__(self, seed: int, workdir: str, pool, cores: int):
        self.seed = seed
        self.workdir = workdir
        self.cores = cores
        self.inputs: dict = {}
        self.prepare(pool)

    def out(self, *parts: str) -> str:
        return os.path.join(self.workdir, "out", self.name, *parts)


class CrawlBatch(Workload):
    """sources.read_pages -> lineage.run_with_lineage (chunks + lineage
    written), then the resume rerun, which must write nothing. Salt
    partitions and buckets are set for the local cores, as extract_job's
    --partitions and --buckets would be for this machine."""

    name = "crawl_batch"
    SAMPLE_URLS = 12
    BUCKETS = 16

    @property
    def partitions(self) -> int:
        return 4 * self.cores

    def prepare(self, pool) -> None:
        rows, self.inputs = gen.crawl_pages(self.seed, pool)
        self.pages_path = os.path.join(self.workdir, "in", "pages")
        gen.write_pages(rows, self.pages_path, gen.CRAWL["files"])
        self.unit_docs = len(rows)
        self.by_url = {r["url"]: r for r in rows}
        rng = random.Random(f"sample-{self.seed}")
        tail = [u for u in self.by_url if gen.TAIL_HOST in u]
        cp1252 = [u for u, r in self.by_url.items()
                  if r["html"] is not None and b"\x93" in r["html"]]
        self.sample = sorted(set(rng.sample(sorted(self.by_url), self.SAMPLE_URLS))
                             | set(tail[:1]) | set(cp1252[:1]))
        self.expected = {u: oracle_extract(payload_of(self.by_url[u]))
                         for u in self.sample}

    def run(self, spark, i: int, tracer) -> dict:
        from textractssmlprocessor_spark import lineage
        from textractssmlprocessor_spark.sources import read_pages

        out, lin = self.out(str(i), "chunks"), self.out(str(i), "lineage")
        first: dict = {}
        rerun: dict = {}
        t0 = time.perf_counter()
        with tracer.span("lineage.run"):
            with tracer.span("sources.read_pages"):
                pages = read_pages(spark, self.pages_path)
            lineage.run_with_lineage(
                pages, spark, out, lin, n_buckets=self.BUCKETS,
                num_partitions=self.partitions, metrics_out=first)
        t1 = time.perf_counter()
        with tracer.span("lineage.rerun"):
            with tracer.span("sources.read_pages"):
                pages = read_pages(spark, self.pages_path)
            lineage.run_with_lineage(
                pages, spark, out, lin, n_buckets=self.BUCKETS,
                num_partitions=self.partitions, metrics_out=rerun)
        t2 = time.perf_counter()
        return {"wall_s": t2 - t0, "run_s": t1 - t0, "rerun_s": t2 - t1,
                "out": out, "lineage": lin, "first": first, "rerun": rerun}

    def check(self, spark, rec: dict) -> list[str]:
        from textractssmlprocessor_spark.lineage import lineage_rows

        errors = []
        written = spark.read.parquet(rec["out"])
        lin = spark.read.parquet(rec["lineage"]).collect()
        lin_rows = {r["bucket"]: r for r in lin}
        if len(lin_rows) != len(lin):
            errors.append("lineage holds a bucket twice")
        recomputed = {r["bucket"]: r for r in lineage_rows(written).collect()}
        n_rows = sum(r["n_chunks"] for r in recomputed.values())
        rec["rows"] = n_rows
        if sum(r["n_chunks"] for r in lin) != n_rows:
            errors.append("lineage n_chunks sum != rows written")
        for b, r in recomputed.items():
            got = lin_rows.get(b)
            if got is None or (got["n_chunks"], got["n_docs"], got["checksum"]) != (
                    r["n_chunks"], r["n_docs"], r["checksum"]):
                errors.append(f"lineage bucket {b} disagrees with its files")
        if rec["first"].get("n_chunks") != n_rows:
            errors.append("observed n_chunks != rows written")
        if rec["rerun"].get("n_chunks") != 0:
            errors.append(f"rerun wrote {rec['rerun'].get('n_chunks')} rows")
        got: dict[str, list] = {u: [] for u in self.sample}
        for r in written.filter(F.col("url").isin(self.sample)).collect():
            got[r["url"]].append(r)
        for u in self.sample:
            errors += compare_chunks(u, self.expected[u], got[u])
        return errors

    def cleanup(self, rec: dict) -> None:
        shutil.rmtree(os.path.dirname(rec["out"]), ignore_errors=True)


class BookRequests(Workload):
    """Closed loop, one client: each request reads one book and runs
    extract_chunks -> validate -> split_ssml_chunks -> assign_voices +
    polly_sink (fake synthesis) -> generate_srt, collecting every result.
    The salt shuffle is sized to the cores, as a one-document caller would."""

    name = "book_requests"
    unit_docs = 1
    min_ops = 3

    def prepare(self, pool) -> None:
        rows, self.inputs = gen.books(self.seed, pool)
        self.rows = rows
        self.paths = []
        for r in rows:
            p = os.path.join(self.workdir, "in", "books", r["url"])
            gen.write_pages([r], p, 1)
            self.paths.append(p)
        self.expected: dict[str, list] = {}

    def run(self, spark, i: int, tracer) -> dict:
        from textractssmlprocessor_spark.operators.align import generate_srt
        from textractssmlprocessor_spark.operators.extract import (
            extract_chunks,
            split_ssml_chunks,
        )
        from textractssmlprocessor_spark.operators.polly import (
            assign_voices,
            polly_sink,
        )
        from textractssmlprocessor_spark.operators.validate import validate
        from textractssmlprocessor_spark.sources import read_pages

        k = i % len(self.rows)
        audio = self.out(str(i), "audio")
        rec = {"book": k, "audio": audio}
        t0 = time.perf_counter()
        with tracer.span("extract.request"):
            with tracer.span("sources.read_pages"):
                pages = read_pages(spark, self.paths[k])
            chunks = extract_chunks(pages, num_partitions=self.cores).cache()
            rec["chunks"] = chunks.collect()
        with tracer.span("validate"):
            rec["findings"] = validate(chunks).collect()
        with tracer.span("polly.sink"):
            parts = split_ssml_chunks(chunks).select(
                "url",
                # one sequence over (chunk, part): assign_voices numbers
                # parts in chunk_number order
                (F.col("chunk_number") * 1000 + F.col("part_number")).alias(
                    "chunk_number"),
                F.col("ssml_part").alias("ssml"),
            )
            polly_sink(assign_voices(parts), audio)
        with tracer.span("align.srt"):
            manifest = chunks.select(
                "url", F.col("chunk_number").alias("part_no"),
                (F.length("extracted_text") * SECONDS_PER_CHAR).alias("duration"),
            )
            rec["srt"] = generate_srt(chunks, manifest, "english", True).collect()
        t1 = time.perf_counter()
        chunks.unpersist()
        rec["wall_s"] = t1 - t0
        return rec

    def _expected(self, k: int):
        row = self.rows[k]
        if row["url"] not in self.expected:
            chunks = oracle_extract(payload_of(row))
            files = {}
            part_no = 0
            for _, _, ssml, _, _ in chunks:
                for part in split_ssml(ssml):
                    part_no += 1
                    name = f"{row['url']}_part{part_no:03d}_{VOICE}.mp3"
                    files[name] = synthesize_fake(part, VOICE, ENGINE)
            srt = []
            end = 0.0
            index = 0
            for _, chunk, ssml, _, _ in chunks:
                duration = len(chunk) * SECONDS_PER_CHAR
                end += duration
                for sub in chunk_subtitles(ssml, end - duration, end, "english", True):
                    index += 1
                    srt.append(srt_block(index, sub["start"], sub["end"], sub["text"]))
            self.expected[row["url"]] = (chunks, files, "".join(srt))
        return self.expected[row["url"]]

    def check(self, spark, rec: dict) -> list[str]:
        row = self.rows[rec["book"]]
        url = row["url"]
        chunks, files, srt = self._expected(rec["book"])
        errors = compare_chunks(url, chunks, rec["chunks"])
        numbers = {r["chunk_number"] for r in rec["chunks"]}
        if any(f["url"] != url or f["chunk_number"] not in numbers
               for f in rec["findings"]):
            errors.append(f"{url}: finding on a chunk that does not exist")
        got = {}
        if os.path.isdir(rec["audio"]):
            for name in os.listdir(rec["audio"]):
                with open(os.path.join(rec["audio"], name), "rb") as f:
                    got[name] = f.read()
        if got != files:
            errors.append(f"{url}: audio parts differ ({len(got)} vs {len(files)})")
        got_srt = [r["srt"] for r in rec["srt"]]
        if got_srt != [srt]:
            errors.append(f"{url}: SRT differs from the oracle")
        rec["n_chunks"] = len(rec["chunks"])
        rec["n_findings"] = len(rec["findings"])
        rec["n_files"] = len(got)
        rec["n_subtitles"] = srt.count(" --> ")
        return errors

    def cleanup(self, rec: dict) -> None:
        shutil.rmtree(os.path.dirname(rec["audio"]), ignore_errors=True)


class CurateDedup(Workload):
    """jobs.curate_job.build_manifest with a language allowlist, a host cap
    and near-duplicate clustering, written to parquet. It runs as a layer
    probe of a traced run (layers.curate_probe), not as a timed workload."""

    name = "curate_dedup"

    def prepare(self, pool) -> None:
        rows, self.inputs, self.planted = gen.curate_docs(self.seed, pool)
        self.docs_path = os.path.join(self.workdir, "in", "docs")
        gen.write_docs(rows, self.docs_path, gen.CURATE["files"])
        self.unit_docs = len(rows)

    def manifest(self, spark):
        from textractssmlprocessor_spark.jobs.curate_job import build_manifest

        docs = spark.read.parquet(self.docs_path)
        return build_manifest(
            docs, languages=gen.CURATE["languages"], near_dup=True,
            url_col="url", max_per_host=gen.CURATE["max_per_host"],
        )

    def run(self, spark, i: int, tracer) -> dict:
        out = self.out(str(i), "manifest")
        t0 = time.perf_counter()
        with tracer.span("curate.manifest"):
            self.manifest(spark).write.mode("overwrite").parquet(out)
        return {"wall_s": time.perf_counter() - t0, "out": out}

    def check(self, spark, rec: dict) -> list[str]:
        errors = []
        rows = spark.read.parquet(rec["out"]).collect()
        ids = [r["id"] for r in rows]
        if sorted(ids) != list(range(self.unit_docs)):
            errors.append(f"manifest is not total: {len(ids)} rows, "
                          f"{len(set(ids))} distinct ids for {self.unit_docs} docs")
        kept = {r["id"]: r["kept"] for r in rows}
        if any(k is None for k in kept.values()):
            errors.append("manifest has a NULL verdict")
        survivors = [i for i in self.planted["exact"] if kept.get(i)]
        if survivors:
            errors.append(f"{len(survivors)} planted exact duplicates kept")
        reasons: dict = {}
        for r in rows:
            reasons[r["drop_reason"]] = reasons.get(r["drop_reason"], 0) + 1
        rec["reasons"] = reasons
        return errors

    def cleanup(self, rec: dict) -> None:
        shutil.rmtree(os.path.dirname(rec["out"]), ignore_errors=True)


WORKLOADS = {w.name: w for w in (CrawlBatch, BookRequests)}
