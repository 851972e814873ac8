"""FAISS index export seam (SURVEY §2.1 "FAISS index save/load").

The engine's source of truth for vectors is the embeddings Parquet
table — queries never touch FAISS.  This module is the *serving export*
seam that replaces the reference's LocalFaiss.save/load
(reference: knowledge_model/embeddings/vector_store.py:59-127, which
writes ``faiss.idx`` + a pickled metadata list whose layout drifted
from its reader — eval_snapshot.py:86-87 expects ``faiss.index`` +
``meta.npy``; a single canonical export removes that bug class).

Layout written by :func:`export_embeddings` (one directory):

    vectors/              partitioned Parquet (id, vector) — written
                          DISTRIBUTED; the only step that scales with
                          corpus size
    manifest.json         {"dim": D, "count": N, "id_col": ..., "vec_col": ...}

:func:`build_faiss_index` is the driver-side finisher: it streams the
Parquet batches into ``faiss.IndexFlatIP`` when faiss is importable
(not in this container) and otherwise writes the deterministic numpy
fallback (``ids.npy`` + ``vectors.npy``) that :func:`load_export` reads
back — so the seam is exercised end-to-end in tests without faiss.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # pragma: no cover - faiss is absent from the test container
    import faiss  # type: ignore
except Exception:  # noqa: BLE001
    faiss = None


def export_embeddings(df: DataFrame, path: str) -> dict:
    """Distributed export of ``df``'s (vec_id, embedding) rows as
    (id, vector) + manifest; returns the manifest."""
    vec_dir = os.path.join(path, "vectors")
    out = df.select(
        F.col("vec_id").cast("long").alias("id"),
        F.col("embedding").cast("array<float>").alias("vector"),
    ).filter(F.col("vector").isNotNull())
    out.write.mode("overwrite").parquet(vec_dir)
    dim_count = out.select(
        F.first(F.size("vector")).alias("dim"), F.count("*").alias("count")
    ).first()
    manifest = {
        "dim": int(dim_count["dim"]),
        "count": int(dim_count["count"]),
        "id_col": "vec_id",
        "vec_col": "embedding",
        "metric": "ip",  # IndexFlatIP parity (vector_store.py:44-47)
    }
    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def _iter_batches(vec_dir: str):
    import pyarrow.dataset as ds

    for batch in ds.dataset(vec_dir, format="parquet").to_batches(
        columns=["id", "vector"], batch_size=65536
    ):
        ids = batch.column("id").to_numpy(zero_copy_only=False)
        vecs = np.stack(batch.column("vector").to_pylist()).astype(np.float32)
        yield ids, vecs


def build_faiss_index(path: str) -> str:
    """Driver-side finisher: Parquet export → serving artifact.

    With faiss: streams batches into IndexFlatIP, writes ``faiss.index``
    + ``ids.npy``.  Without (this container): writes the numpy fallback
    ``vectors.npy`` + ``ids.npy`` — same ordering contract, loadable by
    :func:`load_export`.  Returns the artifact path.
    """
    with open(os.path.join(path, "manifest.json")) as f:
        manifest = json.load(f)
    vec_dir = os.path.join(path, "vectors")
    all_ids, all_vecs = [], []
    index = faiss.IndexFlatIP(manifest["dim"]) if faiss is not None else None
    for ids, vecs in _iter_batches(vec_dir):
        if index is not None:
            index.add(vecs)
            all_ids.append(ids)
        else:
            all_ids.append(ids)
            all_vecs.append(vecs)
    ids_arr = np.concatenate(all_ids) if all_ids else np.empty(0, dtype=np.int64)
    np.save(os.path.join(path, "ids.npy"), ids_arr)
    if index is not None:
        out = os.path.join(path, "faiss.index")
        faiss.write_index(index, out)
        return out
    out = os.path.join(path, "vectors.npy")
    np.save(out, np.concatenate(all_vecs) if all_vecs else np.empty((0, manifest["dim"]), np.float32))
    return out


def load_export(path: str) -> tuple[np.ndarray, np.ndarray]:
    """Load the numpy-fallback export: (ids, vectors) aligned by row."""
    return (
        np.load(os.path.join(path, "ids.npy")),
        np.load(os.path.join(path, "vectors.npy")),
    )
