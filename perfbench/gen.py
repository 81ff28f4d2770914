"""Seeded inputs for the benchmark workloads.

Pages, books and curation documents are built from sentences cut out of the
project's synthetic ``documents`` table (``data/documents.json.gz``: 5
languages, 4,992 distinct texts). The seed picks the sentences and every
planted property; the same seed gives byte-identical parquet inputs.

Each generator plants stated shares (page sizes with a 64x tail on one host,
HTML versus plain text, cp1252 and meta-charset pages, exact and near
duplicates) and returns the values it measured on what it wrote, so a later
gain that depends on repeated or skewed inputs can name its share.
"""

from __future__ import annotations

import gzip
import json
import os
import random
import statistics
from datetime import datetime, timedelta, timezone

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                    "documents.json.gz")

# The source texts are word lists without function words; weaving in
# English stop words keeps the Gopher stop-word rule from dropping every
# curation document.
STOPWORDS = ("the", "of", "and", "to", "in", "is", "with", "that")
ACCENTED = ("café", "déjà", "naïve", "façade", "über", "Straße", "año",
            "niño", "señor", "élan")
CP1252_MARKS = ("“quoted”", "it’s", "—", "œuvre")

# Stated input shapes. The measured values are returned by the generators.
CRAWL = {
    "pages": 1600,
    "median_bytes": 1800,
    "tail_share": 0.01,          # pages >= 64x the median, all on one host
    "tail_factor": 64,
    "html_share": 0.6,           # of all pages; the rest are plain text
    "cp1252_share": 0.1,         # of HTML pages, half with a meta charset
    "meta_utf8_share": 0.25,     # of HTML pages, utf-8 with a meta charset
    "exact_dup_share": 0.05,
    "files": 8,
}
BOOKS = {"books": 24, "min_bytes": 100_000, "max_bytes": 300_000,
         "html_share": 0.5}  # even-numbered books are HTML
CURATE = {
    "docs": 1200,
    "exact_dup_share": 0.08,
    "near_dup_share": 0.08,
    "mega_host_share": 0.1,
    "max_per_host": 100,
    "languages": ["en", "fr", "de", "es"],
    "files": 4,
}
TAIL_HOST = "bulk.example"
MEGA_HOST = "mega.example"
WARC_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def load_sentences() -> dict[str, list[str]]:
    """Source documents cut into sentences of 6 to 17 words, grouped by
    language. The cuts depend on the document alone, so every seed samples
    the same pool."""
    with open(DATA, "rb") as f:
        rows = json.loads(gzip.decompress(f.read()))
    pool: dict[str, list[str]] = {}
    for i, (text, lang) in enumerate(rows):
        words = text.split()
        j = k = 0
        while j < len(words):
            n = 6 + (i * 7 + k * 5) % 12
            part = words[j:j + n]
            j += n
            k += 1
            if len(part) < 4:
                continue
            part.insert(len(part) // 2, STOPWORDS[(i + k) % 8])
            part.insert(1, STOPWORDS[(i + 3 * k) % 8])
            s = " ".join(part)
            pool.setdefault(lang, []).append(s[0].upper() + s[1:] + ".")
    return pool


class _Writer:
    """Sentence sampler bound to one seeded random stream."""

    def __init__(self, rng: random.Random, pool: dict[str, list[str]]):
        self.rng = rng
        self.pool = pool
        self.langs = sorted(pool)
        self.weights = [len(pool[lang]) for lang in self.langs]

    def lang(self) -> str:
        return self.rng.choices(self.langs, self.weights)[0]

    def sentence(self, lang: str, marks: tuple[str, ...] = ()) -> str:
        s = self.rng.choice(self.pool[lang])
        if lang not in ("en", "zh") and self.rng.random() < 0.3:
            s = s[:-1] + " " + self.rng.choice(ACCENTED) + "."
        if marks and self.rng.random() < 0.3:
            s = s[:-1] + " " + self.rng.choice(marks) + "."
        return s

    def paragraph(self, lang: str, marks: tuple[str, ...] = ()) -> str:
        return " ".join(self.sentence(lang, marks)
                        for _ in range(self.rng.randint(2, 6)))

    def plain(self, lang: str, target: int) -> str:
        """OCR-style text: paragraphs, ALL-CAPS headers, [Note:] blocks."""
        out: list[str] = []
        size = 0
        while size < target:
            r = self.rng.random()
            if r < 0.08:
                block = self.rng.choice(
                    ("CHAPTER ", "PART ", "BOOK ")) + str(self.rng.randint(1, 40))
            elif r < 0.14:
                block = f"[Note: {self.sentence(lang)}]"
            else:
                block = self.paragraph(lang)
            out.append(block)
            size += len(block) + 2
        return "\n\n".join(out)

    def html_body(self, lang: str, target: int, marks: tuple[str, ...] = ()) -> str:
        """Chapters of <h4> titles, <p> paragraphs and em/strong pairs."""
        out: list[str] = []
        size = 0
        while size < target:
            r = self.rng.random()
            if r < 0.1:
                block = f"<h4>Chapter {self.rng.randint(1, 40)}</h4>"
            elif r < 0.2:
                block = (f"<em>{self.paragraph(lang, marks)}</em>"
                         f"<strong>{self.sentence(lang)}</strong>")
            elif r < 0.25:
                block = (f"<em>{self.rng.choice(self.pool[lang])}</em>"
                         "<strong>Attribution</strong>")
            else:
                block = f"<p>{self.paragraph(lang, marks)}</p>"
            out.append(block)
            size += len(block) + 1
        return "\n".join(out)


def _write_parquet(rows: list[dict], schema, path: str, files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    per = -(-len(rows) // files)
    for f in range(files):
        part = rows[f * per:(f + 1) * per]
        table = pa.Table.from_pylist(part, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))


def pages_schema():
    import pyarrow as pa

    return pa.schema([
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ])


def _page_html(w: _Writer, lang: str, target: int, meta: str | None,
               marks: tuple[str, ...]) -> str:
    head = f'<meta charset="{meta}">' if meta else ""
    body = w.html_body(lang, target, marks)
    return (f"<html><head>{head}<title>{w.sentence(lang)[:40]}</title></head>"
            f"<body>{body}</body></html>")


def crawl_pages(seed: int, pool: dict[str, list[str]], n: int | None = None
                ) -> tuple[list[dict], dict]:
    """Pages rows plus the measured input properties."""
    spec = CRAWL
    n = spec["pages"] if n is None else n
    rng = random.Random(f"crawl-{seed}")
    w = _Writer(rng, pool)
    # URLs, and with them the salted partition of every page, depend on
    # the page index only; the seed changes content. Where the tail pages
    # land, and so how many share one UDF batch, is the same in every run.
    every = round(1 / spec["tail_share"])
    tail = {i for i in range(n) if i % every == every // 2}
    hosts = [f"host-{h:04d}.example" for h in range(max(1, n // 20))]
    rows: list[dict] = []
    for i in range(n):
        url_host = TAIL_HOST if i in tail else hosts[(i * 7919) % len(hosts)]
        row = {
            "url": f"https://{url_host}/page/{i:06d}",
            "warc_ts": WARC_EPOCH + timedelta(seconds=i),
        }
        non_tail = [r for r in rows[-50:] if TAIL_HOST not in r["url"]]
        if i not in tail and non_tail and rng.random() < spec["exact_dup_share"]:
            src = rng.choice(non_tail)
            row.update(html=src["html"], text=src["text"], lang=src["lang"])
            rows.append(row)
            continue
        lang = w.lang()
        if i in tail:
            target = int(spec["median_bytes"] * spec["tail_factor"]
                         * (1.3 + rng.random() * 0.5))
        else:
            target = int(spec["median_bytes"]
                         * min(8.0, max(0.25, rng.lognormvariate(0, 0.5))))
        if rng.random() < spec["html_share"]:
            r = rng.random()
            if r < spec["cp1252_share"]:
                meta = "windows-1252" if rng.random() < 0.5 else None
                doc = _page_html(w, lang, target, meta, CP1252_MARKS)
                # one mark is always present, so the bytes are not UTF-8
                doc = doc.replace("</body>", f"<p>{CP1252_MARKS[0]}</p></body>")
                payload = doc.encode("cp1252")
            else:
                meta = "utf-8" if r < spec["cp1252_share"] + spec["meta_utf8_share"] else None
                payload = _page_html(w, lang, target, meta, ()).encode("utf-8")
            row.update(html=payload, text=None, lang=lang)
        else:
            row.update(html=None, text=w.plain(lang, target), lang=lang)
        rows.append(row)
    return rows, measure_pages(rows)


def page_bytes(row: dict) -> bytes:
    return row["html"] if row["html"] is not None else row["text"].encode("utf-8")


def measure_pages(rows: list[dict]) -> dict:
    sizes = [len(page_bytes(r)) for r in rows]
    median = statistics.median(sizes)
    tail = [r for r, s in zip(rows, sizes) if s >= CRAWL["tail_factor"] * median]
    seen: set[bytes] = set()
    dups = 0
    cp1252 = meta = 0
    for r in rows:
        b = page_bytes(r)
        dups += b in seen
        seen.add(b)
        if r["html"] is not None:
            meta += b"<meta charset=" in b[:1024]
            try:
                b.decode("utf-8")
            except UnicodeDecodeError:
                cp1252 += 1
    n = len(rows)
    return {
        "pages": n,
        "input_bytes": sum(sizes),
        "size_p50_bytes": median,
        "size_p99_bytes": round(
            statistics.quantiles(sizes, n=100, method="inclusive")[98]),
        "tail_share": round(len(tail) / n, 4),
        "tail_hosts": len({r["url"].split("/")[2] for r in tail}),
        "html_share": round(sum(r["html"] is not None for r in rows) / n, 4),
        "cp1252_share": round(cp1252 / n, 4),
        "meta_charset_share": round(meta / n, 4),
        "exact_dup_share": round(dups / n, 4),
        "distinct_payload_share": round(len(seen) / n, 4),
    }


def books(seed: int, pool: dict[str, list[str]], n: int | None = None
          ) -> tuple[list[dict], dict]:
    """One long book per request: OCR-style plain text or HTML chapters."""
    spec = BOOKS
    n = spec["books"] if n is None else n
    rng = random.Random(f"books-{seed}")
    w = _Writer(rng, pool)
    rows = []
    for i in range(n):
        lang = w.lang()
        # sizes cycle with the request index, so every run's requests carry
        # the same amount of text whatever the seed
        step = (spec["max_bytes"] - spec["min_bytes"]) // 4
        target = spec["min_bytes"] + step * (i * 3 % 5)
        row = {"url": f"book-{seed}-{i:03d}", "warc_ts": WARC_EPOCH,
               "lang": lang, "html": None, "text": None}
        if i % 2 == 0:
            row["html"] = (f"<html><body>{w.html_body(lang, target)}"
                           "</body></html>").encode("utf-8")
        else:
            row["text"] = w.plain(lang, target)
        rows.append(row)
    sizes = [len(page_bytes(r)) for r in rows]
    return rows, {
        "books": n,
        "input_bytes": sum(sizes),
        "size_p50_bytes": statistics.median(sizes),
        "size_min_bytes": min(sizes),
        "size_max_bytes": max(sizes),
        "html_share": round(sum(r["html"] is not None for r in rows) / n, 4),
        "distinct_payload_share": round(
            len({page_bytes(r) for r in rows}) / n, 4),
    }


def curate_docs(seed: int, pool: dict[str, list[str]], n: int | None = None
                ) -> tuple[list[dict], dict, dict]:
    """Curation documents, the measured properties, and the planted
    duplicate ids ({"exact": [...], "near": [...]}) the gate checks."""
    spec = CURATE
    n = spec["docs"] if n is None else n
    rng = random.Random(f"curate-{seed}")
    w = _Writer(rng, pool)
    hosts = [f"site-{h:04d}.example" for h in range(max(1, n // 10))]
    rows: list[dict] = []
    originals: list[dict] = []
    planted: dict[str, list[int]] = {"exact": [], "near": []}
    for i in range(n):
        host = MEGA_HOST if rng.random() < spec["mega_host_share"] else rng.choice(hosts)
        row = {"doc_id": i, "url": f"https://{host}/doc/{seed}/{i:06d}"}
        r = rng.random()
        # copies are made of originals only: every duplicate cluster is a
        # star, so the number of connected-component rounds does not swing
        # with the seed
        if originals and r < spec["exact_dup_share"]:
            src = rng.choice(originals)
            row.update(text=src["text"], lang=src["lang"])
            planted["exact"].append(i)
        elif originals and r < spec["exact_dup_share"] + spec["near_dup_share"]:
            src = rng.choice(originals)
            sentences = src["text"].split(". ")
            k = rng.randrange(len(sentences))
            sentences[k] = w.sentence(src["lang"])[:-1]
            row.update(text=". ".join(sentences), lang=src["lang"])
            planted["near"].append(i)
        else:
            lang = w.lang()
            target = rng.randint(800, 3000)
            text = ""
            while len(text) < target:
                text += w.sentence(lang) + " "
            row.update(text=text.strip(), lang=lang)
            originals.append(row)
        rows.append(row)
    texts = [r["text"] for r in rows]
    host_counts: dict[str, int] = {}
    for r in rows:
        h = r["url"].split("/")[2]
        host_counts[h] = host_counts.get(h, 0) + 1
    sizes = [len(t.encode("utf-8")) for t in texts]
    measured = {
        "docs": n,
        "input_bytes": sum(sizes),
        "size_p50_bytes": statistics.median(sizes),
        "allowlisted_share": round(
            sum(r["lang"] in spec["languages"] for r in rows) / n, 4),
        "exact_dup_share": round(1 - len(set(texts)) / n, 4),
        "near_dup_share": round(len(planted["near"]) / n, 4),
        "largest_host_share": round(max(host_counts.values()) / n, 4),
        "hosts_over_cap": sum(c > spec["max_per_host"] for c in host_counts.values()),
    }
    return rows, measured, planted


def docs_schema():
    import pyarrow as pa

    return pa.schema([
        pa.field("doc_id", pa.int64(), nullable=False),
        pa.field("url", pa.string()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ])


def write_pages(rows: list[dict], path: str, files: int) -> None:
    _write_parquet(rows, pages_schema(), path, files)


def write_docs(rows: list[dict], path: str, files: int) -> None:
    _write_parquet(rows, docs_schema(), path, files)


def describe(seeds) -> dict:
    """Stated shapes and measured properties of the inputs of both workloads
    and of the curation probe for ``seeds``; ``perfbench/inputs.json``
    records them for seeds 1 to 10."""
    pool = load_sentences()
    return {
        "crawl_batch": {"stated": CRAWL, "measured": {
            str(s): crawl_pages(s, pool)[1] for s in seeds}},
        "book_requests": {"stated": BOOKS, "measured": {
            str(s): books(s, pool)[1] for s in seeds}},
        "curate_dedup": {"stated": CURATE, "measured": {
            str(s): curate_docs(s, pool)[1] for s in seeds}},
    }
