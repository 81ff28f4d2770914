"""Rebuild ``data/documents.json.gz``, the benchmark's sentence source.

    python3 perfbench/vendor_documents.py <path to documents.parquet>

The source table is the project's synthetic ``documents.parquet`` test table
(doc_id, text, lang, source, n_chars: 5,000 documents, 5 languages, 4,992
distinct texts). The benchmark keeps a copy of its (text, lang) columns in
doc_id order, because a benchmark run may read only files of its own checkout.
"""

from __future__ import annotations

import gzip
import json
import os
import sys


def main() -> None:
    import pyarrow.parquet as pq

    if len(sys.argv) != 2:
        sys.exit(__doc__)
    table = pq.read_table(sys.argv[1], columns=["doc_id", "text", "lang"])
    frame = table.to_pandas().sort_values("doc_id")
    rows = [[text, lang] for text, lang in zip(frame.text, frame.lang)]
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                       "documents.json.gz")
    payload = json.dumps(rows, separators=(",", ":")).encode()
    with open(out, "wb") as f:
        f.write(gzip.compress(payload, 9, mtime=0))


if __name__ == "__main__":
    main()
