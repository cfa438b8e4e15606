"""Seeded inputs and NumPy ground truth for the benchmark.

Nothing here imports the library: the library only ever reads the
Parquet files this module writes, and every answer it returns is checked
against the arrays this module keeps in memory.

The same seed gives byte-identical files; ``digest`` hashes them.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

K = 10


@dataclass
class Corpus:
    ids: np.ndarray  # int64 (n,)
    vecs: np.ndarray  # float32 (n, dim)


def clustered(rng: np.random.Generator, n: int, dim: int, centers: np.ndarray) -> np.ndarray:
    """Gaussian blobs around ``centers``: nearest neighbours are mostly
    members of the query's own blob, as in embedding data."""
    which = rng.integers(0, len(centers), size=n)
    noise = rng.standard_normal((n, dim), dtype=np.float32) * np.float32(0.35)
    return (centers[which] + noise).astype(np.float32)


def make_centers(rng: np.random.Generator, n_centers: int, dim: int) -> np.ndarray:
    return rng.standard_normal((n_centers, dim), dtype=np.float32)


def write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray, files: int, id_name: str = "id",
                  vec_name: str = "emb") -> list[str]:
    """Write (id BIGINT, vec ARRAY<FLOAT>) as ``files`` Parquet files so a
    scan splits across the session's cores. Returns the file paths."""
    os.makedirs(path, exist_ok=True)
    out = []
    dim = vecs.shape[1]
    for i, (ci, cv) in enumerate(zip(np.array_split(ids, files), np.array_split(vecs, files))):
        flat = pa.array(np.ascontiguousarray(cv).reshape(-1), type=pa.float32())
        offsets = pa.array(np.arange(0, (len(ci) + 1) * dim, dim, dtype=np.int32))
        table = pa.table({id_name: pa.array(ci, type=pa.int64()),
                          vec_name: pa.ListArray.from_arrays(offsets, flat)})
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table, f, compression="snappy")
        out.append(f)
    return out


def write_ids(path: str, ids: np.ndarray) -> str:
    os.makedirs(path, exist_ok=True)
    f = os.path.join(path, "part-00000.parquet")
    pq.write_table(pa.table({"id": pa.array(ids, type=pa.int64())}), f, compression="snappy")
    return f


def read_vectors(path: str, vec_name: str = "emb") -> np.ndarray:
    """The float32 vectors of a file written by ``write_vectors``."""
    col = pq.read_table(path, columns=[vec_name]).column(vec_name).combine_chunks()
    return col.values.to_numpy().reshape(len(col), -1)


def digest(paths: list[str]) -> str:
    """sha256 over the files' names and bytes, in the given order."""
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def exact_topk(corpus: Corpus, queries: np.ndarray, k: int = K) -> tuple[np.ndarray, np.ndarray]:
    """L2 top-k per query in float64, ties broken by ascending id.
    Returns (ids (q, k), distances (q, k))."""
    x = corpus.vecs.astype(np.float64)
    xx = (x * x).sum(axis=1)
    out_ids, out_d = [], []
    for q in queries.astype(np.float64):
        # ranking by the expanded form, then exact distances for the
        # shortlist, so a rounding difference cannot reorder the answer
        approx = xx - 2.0 * (x @ q)
        short = np.argpartition(approx, min(len(x) - 1, 4 * k))[: 4 * k]
        d = np.sqrt(((x[short] - q) ** 2).sum(axis=1))
        order = np.lexsort((corpus.ids[short], d))[:k]
        out_ids.append(corpus.ids[short][order])
        out_d.append(d[order])
    return np.array(out_ids), np.array(out_d)


def s8_scale(vecs: np.ndarray) -> float:
    """The reference's symmetric 8-bit scale, 127 / max|x|, in float64
    (QUANTIZATION.md); the generated data always has negative values."""
    return 127.0 / float(np.abs(vecs).max())


def s8_codes(vecs: np.ndarray, scale: float) -> np.ndarray:
    """Round half away from zero, then saturate to [-128, 127]."""
    s = vecs.astype(np.float64) * scale
    r = np.trunc(s + np.where(s >= 0.0, 0.5, -0.5))
    return np.clip(r, -128, 127).astype(np.int16)


def code_topk(ids: np.ndarray, codes: np.ndarray, qcode: np.ndarray, k: int = K) -> tuple[np.ndarray, np.ndarray]:
    """Top-k of the quantized tier: L2 over integer codes (exact in
    float64), ties broken by ascending id."""
    diff = codes.astype(np.float64) - qcode.astype(np.float64)
    d = np.sqrt((diff * diff).sum(axis=1))
    order = np.lexsort((ids, d))[:k]
    return ids[order], d[order]


def vec_text(v: np.ndarray) -> str:
    """JSON text of a float32 vector whose parse gives back the same
    float32 values."""
    return json.dumps([float(x) for x in v.astype(np.float32)])


# ------------------------------------------------------------------ workloads


@dataclass
class BatchJoinInputs:
    corpus: Corpus
    batch_files: list[str]  # one Parquet file per batch
    truth: list[tuple[np.ndarray, np.ndarray]]  # per batch: (ids (q,k), d (q,k))
    files: list[str]


@dataclass
class ChurnInputs:
    corpus: Corpus
    scale: float
    appends: list[Corpus]  # one batch per cycle
    deletes: list[np.ndarray]  # ids to delete per cycle
    queries: np.ndarray  # a pool the searches cycle through
    append_files: list[str]
    delete_files: list[str]
    files: list[str]


def batch_join(root: str, seed: int, n: int, dim: int, batch: int, n_batches: int) -> BatchJoinInputs:
    rng = np.random.default_rng([seed, 2])
    centers = make_centers(rng, 64, dim)
    corpus = Corpus(np.arange(n, dtype=np.int64), clustered(rng, n, dim, centers))
    files = write_vectors(os.path.join(root, "corpus"), corpus.ids, corpus.vecs, files=6)
    batch_files, truth = [], []
    for b in range(n_batches):
        qv = clustered(rng, batch, dim, centers)
        qids = np.arange(b * batch, (b + 1) * batch, dtype=np.int64)
        batch_files += write_vectors(os.path.join(root, f"queries-{b:03d}"), qids, qv, files=1,
                                     id_name="qid", vec_name="qv")
        truth.append(exact_topk(corpus, qv))
    return BatchJoinInputs(corpus, batch_files, truth, files + batch_files)


def churn(root: str, seed: int, n: int, dim: int, batch: int, cycles: int, n_queries: int) -> ChurnInputs:
    rng = np.random.default_rng([seed, 3])
    centers = make_centers(rng, 64, dim)
    corpus = Corpus(np.arange(n, dtype=np.int64), clustered(rng, n, dim, centers))
    files = write_vectors(os.path.join(root, "docs"), corpus.ids, corpus.vecs, files=6)
    appends, deletes, append_files, delete_files = [], [], [], []
    live = list(corpus.ids)
    for c in range(cycles):
        ids = np.arange(n + c * batch, n + (c + 1) * batch, dtype=np.int64)
        appends.append(Corpus(ids, clustered(rng, batch, dim, centers)))
        append_files += write_vectors(os.path.join(root, f"append-{c:03d}"), ids, appends[-1].vecs,
                                      files=1)
        # delete older rows only: ids live before this cycle's append
        pick = rng.choice(len(live), size=batch, replace=False)
        deletes.append(np.sort(np.array([live[i] for i in pick], dtype=np.int64)))
        delete_files.append(write_ids(os.path.join(root, f"delete-{c:03d}"), deletes[-1]))
        gone = set(pick.tolist())
        live = [x for i, x in enumerate(live) if i not in gone] + ids.tolist()
    queries = clustered(rng, n_queries, dim, centers)
    files += write_vectors(os.path.join(root, "queries"), np.arange(n_queries, dtype=np.int64), queries, files=1)
    return ChurnInputs(corpus, s8_scale(corpus.vecs), appends, deletes, queries, append_files,
                       delete_files, files + append_files + delete_files)
