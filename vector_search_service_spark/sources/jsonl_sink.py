"""JSONL corpus sink — the export half of the training-data loop
(curate → dedup → pack → SHIP: one .jsonl shard family plus a
manifest, the layout Dolma/RedPajama-style dumps use and what a
tokenizer fleet consumes).

Spark-native design:

- **deterministic sharding**: shard = ``xxhash64(id) mod n`` (stable
  across runs and cluster sizes — re-exporting the same corpus yields
  byte-identical shard membership, so downstream caches stay valid),
  one output file per shard via ``repartition(n, shard)`` — the only
  shuffle, sized by the writer count;
- **one JSON object per line** rendered with ``to_json`` JVM-side (no
  Python in the write path) and written with the text writer, so the
  payload column is exactly the line;
- **manifest**: per-shard line counts + total, written atomically
  (``storage.write_json``) AFTER the data (a reader that sees the
  manifest sees complete shards — the poor man's commit protocol, same
  role as ``_SUCCESS`` but content-aware).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import storage


def write_jsonl_shards(df: DataFrame, path: str, *, n_shards: int = 8,
                       id_col: str = "id") -> dict:
    """Export ``df`` as ``shard=K/part-*.txt`` JSONL + ``MANIFEST.json``.
    Returns the manifest dict. All non-id columns are carried in the
    JSON object; column order is pinned (sorted) so lines are
    byte-stable."""
    cols = sorted(df.columns)
    shard = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_shards))
    lines = (
        df.withColumn("shard", shard)
          .withColumn("line", F.to_json(F.struct(*[F.col(c) for c in cols])))
          .select("shard", "line")
          .repartition(n_shards, "shard")
    )
    lines.write.mode("overwrite").partitionBy("shard").text(path)
    counts = {
        int(r["shard"]): r["n"]
        for r in lines.groupBy("shard").agg(F.count("*").alias("n")).collect()
    }
    manifest = {
        "n_shards": n_shards,
        "total_lines": int(sum(counts.values())),
        "lines_per_shard": {str(k): int(v) for k, v in sorted(counts.items())},
        "columns": cols,
    }
    storage.write_json(os.path.join(path, "MANIFEST.json"), manifest,
                       indent=1, sort_keys=True)
    return manifest


def read_jsonl_shards(spark: SparkSession, path: str, schema) -> DataFrame:
    """Read an exported shard family back (schema-pinned, like
    ``read_documents_jsonl``)."""
    return (
        spark.read.schema(schema)
        .json(os.path.join(path, "shard=*"))
    )
