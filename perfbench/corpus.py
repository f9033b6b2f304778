"""Seeded corpus for the curation mix, in the schema of the repository's
test tables (TESTDATA.md: ``documents``, ``embeddings``), and the output check
against each query's DuckDB oracle (``plans.oracles()``)."""

from __future__ import annotations

import datetime
import decimal
import math
import os
import random

CURATION_QUERIES = ["repetition_ratio", "curation_funnel", "decontaminate",
                    "dedup_minhash_lsh", "dedup_word_ngram", "cosine_topk",
                    "ivfpq_topk", "bm25_topk"]

_VOCAB = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()
_LANGS = ["en"] * 8 + ["zh", "zh", "zh", "es", "es", "es", "de", "de", "de",
                       "fr", "fr", "fr"]


def write_corpus(out_dir: str, seed: int | str, n_docs: int, n_vecs: int) -> None:
    """documents(doc_id, text, lang, source, n_chars) with ~6% near
    duplicates, and embeddings(vec_id, embedding[64] unit-norm, label)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    r = random.Random(seed)
    texts = []
    for i in range(n_docs):
        if i > 10 and r.random() < 0.06:
            words = texts[r.randrange(len(texts))].split(" ")
            words[r.randrange(len(words))] = r.choice(_VOCAB)
        else:
            words = [r.choice(_VOCAB) for _ in range(r.randint(10, 100))]
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [r.choice(_LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs, labels = [], []
    for _ in range(n_vecs):
        v = [r.gauss(0.0, 1.0) for _ in range(64)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(r.randrange(10))
    emb = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(float(v))
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, bool):
        return f"bool:{v}"
    return repr(v)


def _multiset(cols, rows) -> dict:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out: dict = {}
    for row in rows:
        key = tuple(_norm(row[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


class OracleCheck:
    """Runs a query's DuckDB oracle over the same parquet files and compares
    row count, column names and the value multiset, order-insensitively."""

    def __init__(self, corpus_dir: str, work_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{os.path.join(work_dir, 'duckdb')}'")
        for t in ("documents", "embeddings"):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")

    def check(self, oracle_sql: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when equal, else a one-line description of the difference."""
        res = self.con.execute(oracle_sql)
        dcols = [d[0] for d in res.description]
        drows = [tuple(r[c] for c in dcols)
                 for r in res.fetch_arrow_table().to_pylist()]
        if sorted(cols) != sorted(dcols):
            return f"columns {sorted(cols)} != {sorted(dcols)}"
        if len(rows) != len(drows):
            return f"rows {len(rows)} != {len(drows)}"
        if _multiset(cols, rows) != _multiset(dcols, drows):
            return "values differ"
        return None

    def close(self) -> None:
        self.con.close()
