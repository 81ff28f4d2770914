"""The benchmark's own tests: seeded inputs, the correctness gate, and the
metric names it emits. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen, layers, run  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    BookRequests,
    compare_chunks,
    oracle_extract,
    payload_of,
)

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.fixture(scope="module")
def pool():
    return gen.load_sentences()


@pytest.mark.parametrize("make", [gen.crawl_pages, gen.books, gen.curate_docs])
def test_generator_is_deterministic(pool, make):
    first = make(7, pool, 200 if make is not gen.books else 3)
    again = make(7, pool, 200 if make is not gen.books else 3)
    other = make(8, pool, 200 if make is not gen.books else 3)
    assert first == again
    assert first[0] != other[0]


def test_crawl_inputs_carry_the_planted_shares(pool):
    _, measured = gen.crawl_pages(3, pool)
    assert 1500 <= measured["size_p50_bytes"] <= 2600
    assert measured["tail_share"] >= 0.005 and measured["tail_hosts"] == 1
    assert 0.5 <= measured["html_share"] <= 0.7
    assert measured["cp1252_share"] > 0 and measured["meta_charset_share"] > 0
    assert 0.02 <= measured["exact_dup_share"] <= 0.08


def _book_outputs(wl: BookRequests, k: int, tmp_path) -> dict:
    """A request record holding exactly what the oracle expects."""
    chunks, files, srt = wl._expected(k)
    url = wl.rows[k]["url"]
    rows = [{"url": url, "chunk_number": i, "extracted_text": c, "ssml": s,
             "spans": [{"start": a, "end": b, "kind": "chunk"}]}
            for i, c, s, a, b in chunks]
    audio = tmp_path / "audio"
    audio.mkdir()
    for name, data in files.items():
        (audio / name).write_bytes(data)
    return {"book": k, "audio": str(audio), "chunks": rows, "findings": [],
            "srt": [{"url": url, "srt": srt}]}


def test_gate_flags_one_corrupted_chunk(pool, tmp_path):
    wl = BookRequests(5, str(tmp_path / "work"), pool, 4)
    rec = _book_outputs(wl, 0, tmp_path)
    assert wl.check(None, rec) == []
    victim = rec["chunks"][len(rec["chunks"]) // 2]
    victim["ssml"] = victim["ssml"].replace("<speak>", "<speak> ", 1)
    errors = wl.check(None, rec)
    assert errors == [f"{wl.rows[0]['url']}: chunk {victim['chunk_number']} "
                      "differs from the oracle"]


def test_gate_flags_a_missing_chunk(pool):
    rows, _ = gen.crawl_pages(4, pool, 50)
    page = max(rows, key=lambda r: len(gen.page_bytes(r)))
    expected = oracle_extract(payload_of(page))
    got = [{"chunk_number": i, "extracted_text": c, "ssml": s,
            "spans": [{"start": a, "end": b}]} for i, c, s, a, b in expected]
    assert compare_chunks(page["url"], expected, got) == []
    assert compare_chunks(page["url"], expected, got[:-1]) != []


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_emitted_metric_names_are_declared():
    bench = _benchmark_json()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    emitted_e2e = {k: run.UNITS[k] for k in run.END_TO_END}
    for name in list(emitted_e2e) + list(layers.PER_LAYER):
        assert NAME_RE.fullmatch(name), name
    assert emitted_e2e == e2e
    assert layers.PER_LAYER == per_layer
    from perfbench.workloads import WORKLOADS

    assert sorted(w["name"] for w in bench["workloads"]) == sorted(WORKLOADS)


def test_tail_has_ten_samples_beyond_it():
    values = [float(v) for v in range(1, 41)]
    pct, value = run.tail(values)
    assert sum(v > value for v in values) == run.TAIL_MIN_BEYOND
    assert pct == 75.0
    assert run.tail([3.0, 1.0, 2.0]) == (100.0, 3.0)


def test_recorded_input_properties_match_the_generator():
    with open(os.path.join(ROOT, "perfbench", "inputs.json")) as f:
        recorded = json.load(f)
    assert json.loads(json.dumps(gen.describe([1]))) == {
        name: {"stated": w["stated"], "measured": {"1": w["measured"]["1"]}}
        for name, w in recorded.items()
    }
