"""Per-executor model-artifact loading — the production embedding
pattern with a REAL weights file (SURVEY.md §2.12; reference local
model path ``src/core/embedding_client.py:103-124``).

``functions/embed.py`` demonstrates the iterator-UDF shape with a
dependency-free stand-in constructed in-process. This module closes
the remaining gap: the model here is a genuine serialized artifact —
an ``.npz`` holding a (vocab_dim × dim) random-projection matrix plus
config — that must be shipped to executors, deserialized there, and
cached across Arrow batches and across UDF invocations. Swap the
``ProjectionModel`` class for sentence-transformers (and the ``.npz``
for its checkpoint directory) and every other line stays.

The moving parts, each the real cluster mechanism:

- **Ship**: ``distribute_model`` registers the artifact with
  ``SparkContext.addFile`` — Spark's file-distribution channel (works
  identically on YARN/K8s); executors resolve it with
  ``SparkFiles.get``.
- **Load once per executor process**: module-level ``_MODEL_CACHE``
  keyed by (path, mtime) — a Python worker that survives across
  batches/jobs (``spark.python.worker.reuse``, default on) pays the
  deserialization exactly once; an updated artifact (new mtime) is
  picked up without restarting workers.
- **Count loads honestly**: an optional accumulator increments only
  on cache MISS, so tests can assert loads ≤ workers while batches
  run into the hundreds.

Inference itself is a vectorized matmul over hashed token counts —
the same rough shape (tokenize → ids → matrix math → normalize) as a
real encoder forward pass, deterministic by construction (seeded
weights, integer token hashing).
"""

from __future__ import annotations

import hashlib
import io
import os
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import storage

_SPLIT = re.compile("[^a-z0-9]+")

DEFAULT_DIM = 32
DEFAULT_VOCAB_DIM = 1024


class ProjectionModel:
    """Hashed-bag-of-words → random projection → L2 normalize."""

    FORMAT_VERSION = 1

    def __init__(self, weights: np.ndarray):
        if weights.ndim != 2:
            raise ValueError("weights must be (vocab_dim, dim)")
        self.weights = weights.astype(np.float32)
        self.vocab_dim, self.dim = weights.shape

    # -- artifact lifecycle -------------------------------------------------

    @classmethod
    def init_random(cls, dim: int = DEFAULT_DIM,
                    vocab_dim: int = DEFAULT_VOCAB_DIM,
                    seed: int = 13) -> "ProjectionModel":
        rng = np.random.default_rng(seed)
        w = rng.standard_normal((vocab_dim, dim)).astype(np.float32)
        return cls(w)

    def save(self, path: str) -> str:
        """Serialize to a single ``.npz`` artifact (atomic write)."""
        buf = io.BytesIO()
        np.savez(buf, weights=self.weights,
                 format_version=np.int64(self.FORMAT_VERSION))
        storage.write_atomic(path, buf.getvalue())
        return path

    @classmethod
    def load(cls, path: str) -> "ProjectionModel":
        with np.load(path) as z:
            ver = int(z["format_version"])
            if ver != cls.FORMAT_VERSION:
                raise ValueError(f"unsupported model format {ver}")
            return cls(z["weights"])

    # -- inference ----------------------------------------------------------

    def _token_ids(self, text: str) -> np.ndarray:
        return np.fromiter(
            (
                int.from_bytes(hashlib.md5(t.encode()).digest()[:4], "big")
                % self.vocab_dim
                for t in _SPLIT.split((text or "").lower()) if t
            ),
            dtype=np.int64,
        )

    def encode_batch(self, texts: list[str]) -> np.ndarray:
        out = np.zeros((len(texts), self.dim), dtype=np.float32)
        for i, text in enumerate(texts):
            ids = self._token_ids(text)
            if ids.size == 0:
                continue
            counts = np.bincount(ids, minlength=self.vocab_dim).astype(np.float32)
            v = counts @ self.weights
            n = float(np.linalg.norm(v))
            if n > 0:
                out[i] = v / n
        return out


# -- per-executor cache -----------------------------------------------------

_MODEL_CACHE: dict[tuple[str, float], ProjectionModel] = {}


def _resolve(path_or_name: str) -> str:
    """Executor-side path resolution: a bare filename came through
    ``SparkContext.addFile`` → ``SparkFiles.get``; an absolute path is
    shared storage (NFS/object store) and used as-is."""
    if os.path.isabs(path_or_name):
        return path_or_name
    from pyspark import SparkFiles

    return SparkFiles.get(path_or_name)


def load_cached(path_or_name: str, loads_acc=None) -> ProjectionModel:
    path = _resolve(path_or_name)
    key = (path, os.path.getmtime(path))
    model = _MODEL_CACHE.get(key)
    if model is None:
        model = ProjectionModel.load(path)
        # evict stale versions of the same artifact, keep other models
        for k in [k for k in _MODEL_CACHE if k[0] == path]:
            del _MODEL_CACHE[k]
        _MODEL_CACHE[key] = model
        if loads_acc is not None:
            loads_acc += 1
    return model


def distribute_model(spark: SparkSession, path: str) -> str:
    """Ship the artifact to executors; returns the name to hand to
    :func:`projection_embed_udf` (resolved per-executor via
    ``SparkFiles.get``)."""
    spark.sparkContext.addFile(path)
    return os.path.basename(path)


def projection_embed_udf(path_or_name: str, loads_acc=None):
    """Iterator pandas UDF over the distributed artifact: resolve +
    deserialize once per executor process (cached across batches AND
    across separate queries in reused workers), then stream Arrow
    batches through the model. ``loads_acc`` (a Spark accumulator)
    counts actual deserializations for observability/tests."""
    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        model = load_cached(path_or_name, loads_acc)
        for texts in batches:
            mat = model.encode_batch(texts.tolist())
            yield pd.Series(list(mat))
    return embed


def embed_with_model(df, text_col: Column | str, path_or_name: str,
                     out_col: str = "embedding", loads_acc=None):
    """Attach model embeddings as one narrow projection — no shuffle;
    at 100 TB this is the map stage of the embedding backfill, written
    back partitioned identically to its source."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return df.withColumn(out_col, projection_embed_udf(path_or_name, loads_acc)(col))
