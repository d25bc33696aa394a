"""Output checks, run outside the timed region.

Search results are replayed in DuckDB with the engine's own SQL mirrors
of its analyzer (``functions.analysis.sql_*``) over the catalog's
parquet files. The same connection serves the registry rows' oracle SQL
(``tests/oracle_harness.compare``).
"""

from __future__ import annotations

import os

import duckdb

from vector_search_service_spark.functions.analysis import (
    analyze_terms,
    sql_match_expr,
    sql_raw_tokens_expr,
    sql_tf_rank_expr,
)


class Replay:
    def __init__(self, catalog_root: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.docs_glob = os.path.join(catalog_root, "documents", "*", "*.parquet")

    def register_documents_table(self, path: str) -> None:
        """Expose a test-layout ``documents`` table to oracle SQL."""
        self.con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")

    def _docs(self) -> str:
        return f"read_parquet('{self.docs_glob}', hive_partitioning = true)"

    def topk(self, cid: int, query: str, limit: int, min_score=None,
             metadata_filter: dict | None = None) -> list[tuple[str, float]]:
        """The service's similarity search, in SQL: AND-match of the
        query lexemes, TF rank, ties broken by id, limit clamped 1..100."""
        terms = analyze_terms(query)
        toks = sql_raw_tokens_expr("content")
        where = [f"collection_id = {int(cid)}", sql_match_expr(toks, terms)]
        for k, v in (metadata_filter or {}).items():
            where.append(f"map_extract(doc_metadata, '{k}')[1] = '{v}'")
        having = "" if min_score is None else f"WHERE score >= {float(min_score)!r}"
        sql = (
            f"SELECT document_id, score FROM ("
            f"SELECT document_id, {sql_tf_rank_expr(toks, terms)} AS score "
            f"FROM {self._docs()} WHERE {' AND '.join(where)}) {having} "
            f"ORDER BY score DESC, document_id ASC LIMIT {max(1, min(int(limit), 100))}"
        )
        return [(r[0], r[1]) for r in self.con.execute(sql).fetchall()]

    def keyset(self, cid: int, after: str, limit: int) -> list[str]:
        return [r[0] for r in self.con.execute(
            f"SELECT document_id FROM {self._docs()} WHERE collection_id = ? "
            f"AND document_id > ? ORDER BY document_id LIMIT ?",
            [int(cid), after, int(limit)]).fetchall()]

    def count(self, cid: int) -> int:
        return self.con.execute(
            f"SELECT count(*) FROM {self._docs()} WHERE collection_id = ?",
            [int(cid)]).fetchone()[0]

    def present(self, cid: int, ids: list[str]) -> int:
        if not ids:
            return 0
        return self.con.execute(
            f"SELECT count(*) FROM {self._docs()} WHERE collection_id = ? "
            f"AND list_contains(?, document_id)", [int(cid), ids]).fetchone()[0]

    def contents_match(self, cid: int, texts: list[str]) -> bool:
        """The stored chunks of a collection are exactly ``texts``
        (documents shorter than the chunk size are stored whole)."""
        stored = sorted(r[0] for r in self.con.execute(
            f"SELECT content FROM {self._docs()} WHERE collection_id = ?",
            [int(cid)]).fetchall())
        return stored == sorted(texts)


def hits(response: dict) -> list[tuple[str, float]]:
    return [(r["document_id"], r["score"]) for r in response["results"]]
