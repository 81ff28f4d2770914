"""Tier-2/3/4: end-to-end Spark pipeline vs single-process oracle, validator
invariants, and checkpoint-resume (SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from textractssmlprocessor_spark.corpus import pages_from_documents
from textractssmlprocessor_spark.functions.chunking import chunk_text_with_spans
from textractssmlprocessor_spark.functions.cleaning import is_html
from textractssmlprocessor_spark.functions.dom import convert_html_to_ssml
from textractssmlprocessor_spark.functions.ssml import normalize_ssml
from textractssmlprocessor_spark.functions.subs import expand_substitutions
from textractssmlprocessor_spark.operators.extract import clean_pages, extract_chunks


def oracle_extract(payload: str) -> list[tuple[int, str, str, int, int]]:
    """Single-process composition mirroring the Spark plan: the byte-level
    oracle for tier-2 (reference lifecycle utils.py:278-319 with the
    deterministic substitution path)."""
    cleaned = convert_html_to_ssml(payload) if is_html(payload) else payload
    out = []
    for i, (chunk, s, e) in enumerate(chunk_text_with_spans(cleaned), 1):
        out.append((i, chunk, normalize_ssml(expand_substitutions(chunk)), s, e))
    return out


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    return pages_from_documents(spark, sf_dir).cache()


def test_extracted_text_byte_identity(spark, pages):
    """Per-url byte identity of extracted_text vs the in-process oracle."""
    raw = {
        r["url"]: (bytes(r["html"]).decode("utf-8") if r["html"] is not None else r["text"])
        for r in pages.collect()
    }
    got = {
        r["url"]: r["extracted_text"]
        for r in clean_pages(pages, num_partitions=8).collect()
    }
    assert set(got) == set(raw)
    for url, payload in raw.items():
        expected = convert_html_to_ssml(payload) if is_html(payload) else payload
        assert got[url] == expected, url


def test_chunks_and_ssml_byte_identity(spark, pages):
    """Per-(url, chunk_number) byte identity of chunk text AND normalized
    SSML vs the oracle, including span offsets."""
    raw = {
        r["url"]: (bytes(r["html"]).decode("utf-8") if r["html"] is not None else r["text"])
        for r in pages.collect()
    }
    rows = extract_chunks(pages, num_partitions=8).collect()
    got = {}
    for r in rows:
        got.setdefault(r["url"], {})[r["chunk_number"]] = r

    for url, payload in raw.items():
        expected = oracle_extract(payload)
        assert len(got.get(url, {})) == len(expected), url
        for (i, chunk, ssml, s, e) in expected:
            row = got[url][i]
            assert row["extracted_text"] == chunk, (url, i)
            assert row["ssml"] == ssml, (url, i)
            span = row["spans"][0]
            assert (span["start"], span["end"], span["kind"]) == (s, e, "chunk")


def test_all_ssml_speak_wrapped(spark, pages):
    chunks = extract_chunks(pages, num_partitions=8)
    bad = chunks.filter(
        ~(F.col("ssml").startswith("<speak>") & F.col("ssml").endswith("</speak>"))
    ).count()
    assert bad == 0


def test_validator_on_clean_corpus(spark):
    """Tier-3: hand-built clean chunks yield zero findings; seeded-dirty rows
    trigger exactly the expected rules."""
    from textractssmlprocessor_spark.operators.validate import validate

    clean = [
        ("u1", 1, "<speak>A clean sentence here.</speak>", "original one"),
        ("u2", 1, "<speak>Another unique line entirely.</speak>", "original two"),
    ]
    dirty = [
        # punctuation after closing tag + unbalanced + stray letter
        ("u3", 1, "<speak>bad</s>. tail q here<p></speak>", "original three"),
        # double speak
        ("u4", 1, "<speak><speak>x</speak>", "original four"),
    ]
    df = spark.createDataFrame(
        clean + dirty, ["url", "chunk_number", "ssml", "extracted_text"]
    )
    findings = validate(df).collect()
    by_url = {}
    for f in findings:
        by_url.setdefault(f["url"], set()).add(f["rule"])
    assert "u1" not in by_url and "u2" not in by_url
    assert "punctuation" in by_url["u3"]
    assert "misplaced_closing_tags" in by_url["u3"]
    assert "random_single_letters" in by_url["u3"]
    assert "balanced_tags" in by_url["u3"]
    assert "speak_tags" in by_url["u4"]


def test_validator_matches_reference_rules(spark):
    """Rule-level parity: Spark findings counts == reference validator counts
    on the same ssml list."""
    from reference_oracle import ref_ssml_validator

    ssml_list = [
        "<speak>one sentence. repeated line.</speak>",
        "<speak>repeated line. the english word outside.</speak>",
        "<speak>café résumé non-ascii</speak>",
        "<speak>tag</s>, punct</speak>",
        "<speak>q stray letters x</speak>",
        "<speak><p><p>nested</p></p></speak>",
    ]
    ref = ref_ssml_validator()
    df = spark.createDataFrame(
        [(f"u{i}", i + 1, s) for i, s in enumerate(ssml_list)],
        ["url", "chunk_number", "ssml"],
    )
    from textractssmlprocessor_spark.operators import validate as V

    checks = [
        (V.rule_punctuation, ref.test_punctuation),
        (V.rule_speak_tags, ref.test_speak_tags),
        (V.rule_non_standard_characters, ref.test_non_standard_characters_outside_tags),
        (V.rule_misplaced_closing_tags, ref.test_misplaced_closing_tags),
        (V.rule_random_single_letters, ref.test_random_single_letters_outside_tags),
        (V.rule_english_word, ref.test_english_word),
        (V.rule_balanced_tags, ref.test_balanced_tags),
        (V.rule_nested_tags, ref.test_nested_tags),
        (V.rule_duplicates, ref.test_duplicates),
    ]
    for spark_rule, ref_rule in checks:
        ours = spark_rule(df).count()
        theirs = len(ref_rule(ssml_list))
        assert ours == theirs, spark_rule.__name__


def test_lineage_resume(spark, pages, tmp_path):
    """Tier-4: run on a subset, then rerun on the full corpus; completed
    buckets are skipped and the final output equals a fresh full run."""
    from textractssmlprocessor_spark import lineage

    out = str(tmp_path / "chunks")
    lin = str(tmp_path / "lineage")

    # first (partial) run: only a slice of pages, as if the job died early
    part = pages.limit(120)
    first = lineage.run_with_lineage(part, spark, out, lin, n_buckets=8)
    n_first = first.count()
    assert n_first > 0
    done_before = lineage.completed_buckets(spark, lin).count()
    assert done_before == 8  # every bucket got at least a lineage row

    # resume over the FULL corpus: everything is skipped (all buckets done)
    resumed = lineage.resume_filter(pages, spark, lin, n_buckets=8)
    assert resumed.count() == 0


def test_lineage_partial_resume(spark, pages, tmp_path):
    """Buckets missing from lineage re-run; completed ones don't."""
    from textractssmlprocessor_spark import lineage

    lin = str(tmp_path / "lineage2")
    out = str(tmp_path / "chunks2")

    bucketed = lineage.with_bucket(pages, 8)
    half = bucketed.filter(F.col("bucket") < 4).drop("bucket")
    lineage.run_with_lineage(half, spark, out, lin, n_buckets=8)

    todo = lineage.resume_filter(pages, spark, lin, n_buckets=8)
    remaining_buckets = {r["bucket"] for r in todo.select("bucket").distinct().collect()}
    assert remaining_buckets == {4, 5, 6, 7}

    # finish the job; now nothing remains
    lineage.run_with_lineage(pages, spark, out, lin, n_buckets=8)
    assert lineage.resume_filter(pages, spark, lin, n_buckets=8).count() == 0


@pytest.mark.parametrize("n_partitions, n_buckets", [(8, 4), (8, 8), (4, 8)])
def test_lineage_bucket_is_salt_partition(spark, pages, n_partitions, n_buckets):
    """The bucket is the salt partition modulo n_buckets when n divides P,
    and the partition is the bucket modulo P when P divides n."""
    from textractssmlprocessor_spark import lineage

    chunks = lineage.with_bucket(
        extract_chunks(pages.limit(200), num_partitions=n_partitions), n_buckets
    ).select("bucket", F.spark_partition_id().alias("pid"))
    modulus = min(n_partitions, n_buckets)
    rows = chunks.collect()
    assert len({r["bucket"] for r in rows}) == n_buckets
    assert all(r["bucket"] % modulus == r["pid"] % modulus for r in rows)


def test_lineage_aligned_write_one_file_per_bucket(spark, pages, tmp_path):
    """With P == n_buckets each write task owns one bucket: one parquet
    file per bucket directory, not one per (task, bucket) pair."""
    from textractssmlprocessor_spark import lineage

    out = tmp_path / "chunks_aligned"
    lineage.run_with_lineage(
        pages, spark, str(out), str(tmp_path / "lineage_aligned"),
        n_buckets=8, num_partitions=8,
    )
    dirs = sorted(p for p in out.iterdir() if p.name.startswith("bucket="))
    assert len(dirs) == 8
    for d in dirs:
        assert len(list(d.glob("part-*.parquet"))) == 1, d.name


def test_lineage_rerun_with_every_bucket_done_starts_no_job(spark, pages, tmp_path):
    """A rerun with nothing to do runs the lineage collect and nothing more:
    no scan, UDF, write, read-back or lineage append."""
    from textractssmlprocessor_spark import lineage

    out, lin = str(tmp_path / "chunks_noop"), str(tmp_path / "lineage_noop")
    lineage.run_with_lineage(pages, spark, out, lin, n_buckets=4, num_partitions=4)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_of(group, fn):
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(tracker.getJobIdsForGroup(group)), result

    n_collect, _ = jobs_of(
        "noop-collect",
        lambda: lineage.completed_buckets(spark, lin).select("bucket").collect(),
    )
    metrics: dict = {}
    n_rerun, rerun = jobs_of(
        "noop-rerun",
        lambda: lineage.run_with_lineage(
            pages, spark, out, lin, n_buckets=4, num_partitions=4,
            metrics_out=metrics,
        ),
    )
    assert n_rerun == n_collect
    assert metrics["n_chunks"] == 0
    assert rerun.count() == 0
    assert "bucket" in rerun.columns
    assert spark.read.parquet(lin).count() == 4  # no lineage row appended


def test_lineage_crash_between_write_and_lineage_is_idempotent(spark, pages, tmp_path):
    """Crash window: bucket data written but lineage row missing -> the
    rerun must REPLACE the partition, not append duplicates."""
    from textractssmlprocessor_spark import lineage
    from textractssmlprocessor_spark.operators.extract import extract_chunks

    out = str(tmp_path / "chunks3")
    lin = str(tmp_path / "lineage3")

    # simulate the crashed first run: chunks written for some buckets, but
    # NO lineage rows recorded
    partial = lineage.with_bucket(
        extract_chunks(pages.limit(100), num_partitions=8), 8
    )
    partial.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("bucket").parquet(out)

    # full rerun: every bucket reprocesses (lineage empty) and overwrites
    lineage.run_with_lineage(pages, spark, out, lin, n_buckets=8)
    final = spark.read.parquet(out)
    total = final.count()
    distinct = final.select("url", "chunk_number").distinct().count()
    assert total == distinct, "duplicate (url, chunk_number) rows after resume"
    # and the rerun covered the whole corpus
    n_urls = final.select("url").distinct().count()
    assert n_urls == pages.count()


def test_malformed_utf8_html_degrades_not_fails(spark):
    """A mis-encoded crawl page must never kill the job (strict decode
    raises MALFORMED_CHARACTER_CODING since Spark 3.5 — fatal at web
    scale). With charset sniffing fused into the extract UDF the legacy
    tail now DECODES instead of degrading: undeclared non-UTF-8 bytes get
    the windows-1252 browser fallback (u1, u4), and only bytes undefined
    in the sniffed codec degrade to U+FFFD (u1's 0x81)."""
    from textractssmlprocessor_spark.operators.extract import extract_chunks

    rows = [
        # 0x81 is invalid UTF-8 AND undefined in cp1252 -> one replacement
        # char, rest of the page survives
        ("u1", b"\x81<p>after invalid bytes</p>", None, "en"),
        ("u2", "<p>clean page</p>".encode(), None, "en"),
        ("u3", None, "plain text row", "en"),
        # undeclared cp1252 page: E9 + space is invalid UTF-8, the cp1252
        # fallback recovers the intended accent end-to-end
        ("u4", b"caf\xe9 plain legacy row", None, "en"),
    ]
    df = spark.createDataFrame(
        rows, "url string, html binary, text string, lang string"
    )
    got = {r["url"]: r["ssml"] for r in extract_chunks(df, num_partitions=2).collect()}
    assert "�" in got["u1"] and got["u1"].endswith("after invalid bytes</speak>")
    assert got["u2"] == "<speak>clean page</speak>"
    assert got["u3"] == "<speak>plain text row</speak>"
    assert got["u4"] == "<speak>café plain legacy row</speak>"


def test_run_with_lineage_observed_metrics(spark, pages, tmp_path):
    """metrics_out counters are observed during the write action (no
    extra pass) and must agree with the durable outputs."""
    from textractssmlprocessor_spark import lineage

    out = str(tmp_path / "chunks_m")
    lin = str(tmp_path / "lineage_m")
    metrics = {}
    written = lineage.run_with_lineage(
        pages.limit(60), spark, out, lin, n_buckets=8, metrics_out=metrics
    )
    assert metrics["n_chunks"] == written.count() > 0
    # approx distinct (observe forbids exact distinct aggs): sanity band
    n_docs = written.select("url").distinct().count()
    assert 0.8 * n_docs <= metrics["n_docs_approx"] <= 1.2 * n_docs
    assert metrics["ssml_bytes"] > 0
