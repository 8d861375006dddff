"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files.  The program under test only ever sees the files
written here; the checkers in ``check.py`` recompute the expected
outputs from the same in-memory rows, never from the program.
"""

from __future__ import annotations

import json
import os
import random

ETL_FILES = 10
ETL_RECORDS_PER_FILE = 2_000
ETL_RECORDS = ETL_FILES * ETL_RECORDS_PER_FILE
MAPPING_ROWS = 40
# codes 0..MAPPING_ROWS-1 exist in the referential; the rest do not
CODE_SPACE = MAPPING_ROWS + 2

SA_DOCS = 200
SA_SOURCES = 20
SA_LANGS = ("en", "fr", "de", "es", "zh")

# the word list of the documents table the SA flagship was built on
WORDS = (
    "a the data spark stream batch table row column key value hash join "
    "sort merge filter group agg window scan query order line part "
    "customer vector fast slow big small"
).split()


def etl_rows(seed: int, n: int = ETL_RECORDS) -> list[dict]:
    """Records shaped like the reference's canonical ``record`` fixture.
    ``string`` is three words out of 30, so about 30% of the records
    repeat a text seen earlier.  Drawn with numpy's legacy
    ``RandomState``, whose streams are frozen across numpy versions."""
    import numpy as np

    rs = np.random.RandomState(seed)
    number = rs.randint(-20, 1001, n).tolist()
    group = rs.randint(1, 51, n).tolist()
    words = rs.randint(0, len(WORDS), (n, 3)).tolist()
    n_letters = rs.randint(2, 6, n).tolist()
    letters = rs.randint(0, 10, (n, 5)).tolist()
    code = rs.randint(0, CODE_SPACE, n).tolist()
    rnd = (rs.randint(0, 1_000_000, n) / 1000).tolist()
    year = rs.randint(10, 30, n).tolist()
    month = rs.randint(1, 13, n).tolist()
    day = rs.randint(1, 29, n).tolist()
    return [
        {
            "id": i,
            "number": number[i],
            "group": group[i],
            "string": " ".join(WORDS[w] for w in words[i]),
            "list_to_sort": ",".join("ABCDEFGHIJ"[c] for c in letters[i][:n_letters[i]]),
            "code": f"code_{code[i]}",
            "round": rnd[i],
            "date": f"20{year[i]}-{month[i]:02d}-{day[i]:02d}",
        }
        for i in range(n)
    ]


def mapping_rows() -> list[dict]:
    return [
        {"mapping_code": f"code_{k}", "mapping_value": f"value mapped {k}"}
        for k in range(MAPPING_ROWS)
    ]


def sa_rows(seed: int, n: int = SA_DOCS) -> list[dict]:
    """Documents shaped like the ``documents`` table (``doc_id, text,
    lang, source, n_chars``; single-line texts of space-separated
    words).  Random word runs alone share almost no 30-char run, so
    phrases from a boilerplate pool are planted across documents: that
    gives the tiled suffix array whole repeats to cut and, because even
    ids form the benchmark slice, contamination to find."""
    rng = random.Random(seed)
    boiler = [" ".join(rng.choices(WORDS, k=rng.randint(7, 14))) for _ in range(40)]
    rows = []
    for i in range(n):
        parts = []
        for _ in range(rng.randint(2, 6)):
            if rng.random() < 0.3:
                parts.append(rng.choice(boiler))
            else:
                parts.append(" ".join(rng.choices(WORDS, k=rng.randint(4, 16))))
        text = " ".join(parts)
        rows.append({
            "doc_id": i,
            "text": text,
            "lang": rng.choice(SA_LANGS),
            "source": f"src{rng.randrange(SA_SOURCES)}",
            "n_chars": len(text),
        })
    return rows


def _write_jsonl(path: str, rows: list[dict]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for r in rows:
            fh.write(json.dumps(r, separators=(",", ":")))
            fh.write("\n")


def etl_line(r: dict) -> str:
    """One ETL record as a jsonl line.  Formatted directly (json.dumps is
    four times slower here); the string fields come from fixed ASCII
    alphabets, so they need no escaping."""
    return (
        f'{{"id":{r["id"]},"number":{r["number"]},"group":{r["group"]},'
        f'"string":"{r["string"]}","list_to_sort":"{r["list_to_sort"]}",'
        f'"code":"{r["code"]}","round":{r["round"]!r},"date":"{r["date"]}"}}\n'
    )


def write_etl(rows: list[dict], root: str) -> dict:
    """``ETL_FILES`` jsonl files of consecutive records plus the
    ``mapping`` referential.  Each file lists its records in reverse id
    order, so the lowest id of a repeated text is not simply the first
    one the stream sees."""
    paths = {"records": os.path.join(root, "records"),
             "mapping": os.path.join(root, "mapping.jsonl")}
    os.makedirs(paths["records"], exist_ok=True)
    step = -(-len(rows) // ETL_FILES)
    for k in range(ETL_FILES):
        path = os.path.join(paths["records"], f"part-{k:03d}.jsonl")
        with open(path, "w", encoding="utf-8") as fh:
            fh.writelines(etl_line(r) for r in reversed(rows[k * step:(k + 1) * step]))
    _write_jsonl(paths["mapping"], mapping_rows())
    return paths


def write_sa(rows: list[dict], root: str) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    paths = {"documents": os.path.join(root, "documents.parquet")}
    os.makedirs(root, exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ]))
    pq.write_table(table, paths["documents"])
    return paths
