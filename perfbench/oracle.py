"""Expected answers, computed without the engine.

The ingest oracle is the registry's DuckDB replay of the streaming-
ingest composition. The serve oracle reads the lake with pyarrow and
DuckDB: document rows, the exact sentence chunking (the registry's
DuckDB recursive-CTE oracle), and cosine top-k in numpy over a query
embedding recomputed here from the embedder's published definition.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

SCORE_TOL = 2e-6  # scores are rounded to 6 places; summation order may differ
CHUNK_SIZE = 500
DIM = 64


def _duck(lake: str, doc_ids=None):
    """DuckDB over the lake; `doc_ids` restricts the documents view."""
    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    con.execute("SET enable_progress_bar = false")
    for name in ("documents", "embeddings"):
        path = os.path.join(lake, f"{name}.parquet")
        where = ""
        if name == "documents" and doc_ids is not None:
            where = f" WHERE doc_id IN ({', '.join(str(int(d)) for d in doc_ids)})"
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'{where}")
    return con


def _oracle_sql(key: str) -> str:
    from data_pipeline2_spark.registry import _QUERIES

    return next(q.sql for q in _QUERIES if q.name == key)


def ingest_expected(lake: str, key: str) -> list[tuple]:
    con = _duck(lake)
    return rows_key(con.sql(_oracle_sql(key)).df().to_dict("records"))


def rows_key(rows: list[dict]) -> list[tuple]:
    """Order-insensitive, column-order-insensitive comparison key."""
    return sorted(tuple(sorted((k, _plain(v)) for k, v in r.items())) for r in rows)


def _plain(v):
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    return v


def hash_embed(text: str, dim: int = DIM) -> np.ndarray:
    """sha256(text | counter) byte stream → 2-byte big-endian values
    mapped to [-1, 1) → L2-normalised."""
    out: list[float] = []
    raw = text.encode("utf-8", errors="replace")
    counter = 0
    while len(out) < dim:
        h = hashlib.sha256(raw + b"|" + str(counter).encode()).digest()
        out += [int.from_bytes(h[i:i + 2], "big") / 32768.0 - 1.0
                for i in range(0, len(h) - 1, 2)]
        counter += 1
    v = out[:dim]
    norm = math.sqrt(sum(x * x for x in v)) or 1.0
    return np.array([x / norm for x in v])


class ServeOracle:
    """Checks serve responses. Chunkings are computed for `chunk_docs`
    only (the recursive-CTE oracle is slow over the whole corpus)."""

    def __init__(self, lake: str, chunk_docs):
        docs = pq.read_table(os.path.join(lake, "documents.parquet")).to_pylist()
        self.docs = {d["doc_id"]: d for d in docs}
        emb = pq.read_table(os.path.join(lake, "embeddings.parquet")).to_pydict()
        self.vec_ids = np.array(emb["vec_id"])
        mat = np.array(emb["embedding"], dtype=np.float32).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        self.unit = mat / np.where(norms > 0, norms, 1.0)[:, None]
        self.valid = norms > 0
        self.chunks: dict[int, list[str]] = {}
        sql = _oracle_sql("chunk_sentence_exact")
        con = _duck(lake, sorted(set(chunk_docs)))
        for doc_id, pos, content in con.sql(
            f"SELECT doc_id, pos, content FROM ({sql}) ORDER BY doc_id, pos"
        ).fetchall():
            self.chunks.setdefault(doc_id, []).append(content)

    def search_ok(self, query: str, k: int, results: list[dict]) -> bool:
        q = hash_embed(query)
        scores = np.round(self.unit @ (q / np.linalg.norm(q)), 6)
        scores = np.where(self.valid, scores, -np.inf)
        by_id = dict(zip(self.vec_ids.tolist(), scores.tolist()))
        order = np.lexsort((self.vec_ids, -scores))[:k]
        want = scores[order]
        got_ids = [r["vec_id"] for r in results]
        return (
            len(results) == len(want)
            and len(set(got_ids)) == len(got_ids)
            and all(
                abs(r["score"] - by_id.get(r["vec_id"], math.inf)) <= SCORE_TOL
                and abs(r["score"] - w) <= SCORE_TOL
                for r, w in zip(results, want)
            )
        )

    def lookup_ok(self, doc_id: int, body: dict) -> bool:
        d = self.docs[doc_id]
        return body == {
            "doc_id": doc_id, "filename": None, "lang": d["lang"],
            "source": d["source"], "n_chars": d["n_chars"],
            "status": "completed", "origin": "corpus",
        }

    def status_ok(self, doc_id: int, body: dict) -> bool:
        return body == {"doc_id": doc_id, "status": "completed"}

    def chunks_ok(self, doc_id: int, body: dict) -> bool:
        want = self.chunks[doc_id]
        got = sorted(body.get("chunks") or [], key=lambda c: c["pos"])
        return body.get("doc_id") == doc_id and len(got) == len(want) and all(
            c["content"] == w and c["pos"] == i and c["chunk_number"] == i + 1
            and c["total_chunks"] == len(want) and c["chunk_id"] == f"{doc_id}-{i}"
            for i, (c, w) in enumerate(zip(got, want))
        )

    def upload_ok(self, filename: str, source_doc: int, body: dict) -> bool:
        payload = self.docs[source_doc]["text"].encode("utf-8")
        doc_id = int.from_bytes(
            hashlib.sha256(filename.encode() + payload).digest()[:6], "big"
        )
        return body == {"doc_id": doc_id, "status": "completed",
                        "n_chunks": len(self.chunks[source_doc])}
