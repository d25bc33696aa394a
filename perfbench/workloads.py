"""The two workloads: set-up, warm-up, closed-loop clients and checks.

Every request goes through the engine's public entry points: the HTTP
app (``api.create_app(service).test_client()``), ``SearchService`` and
the query registry. Each operation is recorded with its latency and
outcome; a failure is an exception, an unexpected status or a wrong
output, and is never retried.
"""

from __future__ import annotations

import itertools
import os
import random
import threading
import time

from corpus import Corpus, write_documents_table
from checks import Replay, hits

API = "/api/v1"


class Failed(Exception):
    """An operation returned a wrong status or a wrong output."""


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (0 for an empty list)."""
    if not xs:
        return 0.0
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for f in names:
            size += os.path.getsize(os.path.join(d, f))
            files += f.endswith(".parquet")
    return size, files


class Workload:
    """State shared by both workloads: the service, the HTTP app, the
    operation log and the optional tracer."""

    clients = 1

    def __init__(self, spark, work_dir: str, seed: int, tracer=None):
        from vector_search_service_spark.api import create_app
        from vector_search_service_spark.service import SearchService

        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.catalog_root = os.path.join(work_dir, "catalog")
        self.tables_dir = os.path.join(work_dir, "tables")
        os.makedirs(self.tables_dir, exist_ok=True)
        self.service = SearchService(spark, self.catalog_root, maintain_fts_index=True)
        self.app = create_app(self.service)
        self.corpus = Corpus(seed)
        self.replay = Replay(self.catalog_root)
        self.ops: list[dict] = []
        self._rid = itertools.count(1)
        self._lock = threading.Lock()
        self.cids: dict[str, int] = {}
        self.input_bytes = 0  # document text handed to the service

    # -- requests ------------------------------------------------------

    def http(self, client, method: str, path: str, body=None,
             expect: int = 200):
        if self.tracer is not None:
            with self.tracer.span("api", f"{method} {path.split('?')[0]}"):
                resp = client.open(API + path, method=method, json=body)
        else:
            resp = client.open(API + path, method=method, json=body)
        if resp.status_code != expect:
            raise Failed(f"{method} {path}: status {resp.status_code}, "
                         f"expected {expect}: {resp.get_data(as_text=True)[:200]}")
        return resp.get_json()

    def run_op(self, kind: str, fn, record: bool = True) -> dict:
        """Run one operation, timed; returns its record."""
        rid = next(self._rid)
        t0 = time.perf_counter()
        error, out = None, None
        try:
            if self.tracer is not None:
                with self.tracer.span("client", kind, rid=rid):
                    out = fn()
            else:
                out = fn()
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            error = f"{type(e).__name__}: {str(e)[:300]}"
        ms = (time.perf_counter() - t0) * 1e3
        rec = {"kind": kind, "rid": rid, "ms": ms, "error": error, "out": out}
        if record:
            with self._lock:
                self.ops.append(rec)
        return rec

    def check(self, rec: dict, fn) -> None:
        """Run an output check on a recorded operation; a wrong output
        marks the operation failed."""
        if rec["error"] is not None:
            return
        try:
            fn(rec["out"])
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            rec["error"] = f"check: {type(e).__name__}: {str(e)[:300]}"

    def create_collection(self, client, name: str) -> None:
        self.http(client, "POST", "/collections", {"name": name}, expect=201)
        self.cids[name] = int(self.service.catalog.get_collection(name)["id"])

    def bulk_load(self, name: str, docs: list[dict]) -> None:
        """Bulk base load through the library's ingest pipeline (the
        HTTP batch route is capped at 50 documents)."""
        from vector_search_service_spark.ingest import ingest_into

        raw = self.spark.createDataFrame(
            [(d["content"], d["metadata"]["source"], d["metadata"]["type"]) for d in docs],
            "text string, source string, type string")
        out = ingest_into(self.service.catalog, name, raw, metadata_cols=("source", "type"))
        if out["chunks_created"] != len(docs):
            raise Failed(f"bulk load of {name}: {out}")
        self.input_bytes += sum(len(d["content"]) for d in docs)

    def similarity(self, client, spec: dict) -> dict:
        body = {k: spec[k] for k in ("query", "collection_id", "limit",
                                     "min_score", "metadata_filter") if k in spec}
        return self.http(client, "POST", "/search/similarity", body)

    def check_similarity(self, spec: dict, resp: dict) -> None:
        want = self.replay.topk(self.cids[spec["collection_id"]], spec["query"],
                                spec["limit"], spec.get("min_score"),
                                spec.get("metadata_filter"))
        if hits(resp) != want:
            raise Failed(f"search {spec}: got {hits(resp)[:3]}, want {want[:3]}")

    # -- figures -------------------------------------------------------

    def state(self) -> dict:
        """End-of-run catalog and ingest figures for the traced run."""
        store = self.service.catalog.postings
        return {
            "live_files": dir_bytes(os.path.join(self.catalog_root, "documents"))[1],
            "postings_files": sum(dir_bytes(store.live_dir(cid))[1]
                                  for cid in self.cids.values() if store.live_dir(cid)),
            "chunks_per_doc": 0.0, "accepted_ratio": 0.0,
        }

    def latencies(self, kind: str) -> list[float]:
        return [o["ms"] for o in self.ops if o["kind"] == kind and o["error"] is None]

    def common_metrics(self) -> dict:
        stored = sum(
            dir_bytes(os.path.join(self.catalog_root, "documents", f"collection_id={cid}"))[0]
            + dir_bytes(os.path.join(self.catalog_root, "postings", str(cid)))[0]
            for cid in self.cids.values())
        return {
            "search_p50_ms": quantile(self.latencies("similarity"), 0.5),
            "stored_bytes_per_input_byte": stored / self.input_bytes,
        }

    def op_summary(self) -> dict:
        out = {}
        for kind in sorted({o["kind"] for o in self.ops}):
            lat = [o["ms"] for o in self.ops if o["kind"] == kind]
            out[kind] = {"n": len(lat),
                         "failed": sum(o["error"] is not None
                                       for o in self.ops if o["kind"] == kind),
                         "p50_ms": round(quantile(lat, 0.5), 3),
                         "p90_ms": round(quantile(lat, 0.9), 3),
                         "p50_ms_by_collection": {
                             c: round(quantile([o["ms"] for o in self.ops if o["kind"] == kind
                                                and o.get("coll") == c], 0.5), 3)
                             for c in self.cids}}
        return out


# ---------------------------------------------------------------------------
# search: read-only, 2 clients, multi-tenant catalog with maintained postings
# ---------------------------------------------------------------------------

#: tenants and their document counts (a 16x span): the small ones are
#: dominated by fixed per-request cost, the large one by scan and rank
TENANTS = (("tenant-s", 150), ("tenant-m", 600), ("tenant-l", 2400))
#: the registry's FTS rows over a ``documents`` table; they read it
#: through ``sources.tables`` and are checked against their oracle SQL
REGISTRY_ROWS = ("fts_topk", "fts_metadata_filter", "fts_match_count_by_lang",
                 "fts_phrase_topk")
REGISTRY_DOCS = 2000
#: one block of operations. The order of kinds, tenants, variants and
#: term counts is fixed per client and the same for every seed; the seed
#: draws only the inputs (queries, filter values, cursors), so two seeds
#: differ in what is searched, not in the mix a run's window holds
SEARCH_BLOCK = (("similarity", 16), ("batch", 1), ("list", 2),
                ("collection", 1), ("health", 6), ("registry", 1))
#: similarity variants within a block: 4 with a metadata filter, 3 with
#: a minimum score, the rest plain
SIMILARITY_VARIANTS = ("filter",) * 4 + ("min_score",) * 3 + ("plain",) * 9
#: untimed operations before the run: the first ~50 searches of a fresh
#: session run up to 1.6x slower while the JVM compiles hot paths. Four
#: warm-up clients do them in less wall time than the run's two.
SEARCH_WARM_CLIENTS = 4
SEARCH_WARM_OPS = 10
WARM_KINDS = ("similarity", "health", "collection", "list")


class SearchWorkload(Workload):
    clients = 2

    def setup(self) -> None:
        client = self.app.test_client()
        self.texts: dict[str, list[str]] = {}
        for name, n in TENANTS:
            self.create_collection(client, name)
            docs = [self.corpus.document() for _ in range(n)]
            self.bulk_load(name, docs)
            self.texts[name] = [d["content"] for d in docs]
        table = os.path.join(self.tables_dir, "documents.parquet")
        write_documents_table(table, self.corpus, REGISTRY_DOCS)
        self.replay.register_documents_table(table)
        from vector_search_service_spark.registry import all_queries, oracle_sql

        specs = all_queries()
        self.registry = {n: specs[n] for n in REGISTRY_ROWS}
        self.oracles = {n: oracle_sql()[n] for n in REGISTRY_ROWS}

    def schedule(self, tag: str, client: int, n_ops: int, kinds=None) -> list[dict]:
        order = random.Random(f"{tag}:{client}")
        rng = random.Random(f"{self.seed}:{tag}:{client}")
        corpus = Corpus(rng.randrange(2**31))
        names = [t for t, _ in TENANTS]
        terms = itertools.cycle((1, 2, 2, 3))
        limits = itertools.cycle((5, 10, 20))
        rows = itertools.cycle(REGISTRY_ROWS)
        out: list[dict] = []
        while len(out) < n_ops:
            block = [k for k, c in SEARCH_BLOCK for _ in range(c)
                     if kinds is None or k in kinds]
            order.shuffle(block)
            tenants = itertools.cycle(order.sample(names, len(names)))
            variants = iter(order.sample(SIMILARITY_VARIANTS, len(SIMILARITY_VARIANTS)))
            for kind in block:
                spec = {"kind": kind, "collection_id": next(tenants)}
                if kind == "similarity":
                    spec.update(query=corpus.query(next(terms)), limit=next(limits))
                    variant = next(variants)
                    if variant == "filter":
                        spec["metadata_filter"] = {"source": rng.choice(("src0", "src1"))}
                    elif variant == "min_score":
                        spec["min_score"] = rng.choice((0.5, 0.6, 0.75))
                elif kind == "batch":
                    spec.update(queries=[corpus.query(n) for n in (1, 2, 3)], limit=5)
                elif kind == "list":
                    spec.update(after=corpus.hex_key(), limit=20)
                elif kind == "registry":
                    spec["row"] = next(rows)
                out.append(spec)
        return out[:n_ops]

    def execute(self, client, spec: dict):
        kind, coll = spec["kind"], spec["collection_id"]
        if kind == "similarity":
            return self.similarity(client, spec)
        if kind == "batch":
            return self.http(client, "POST", "/search/batch", {
                "queries": spec["queries"], "collection_id": coll,
                "limit": spec["limit"]})
        if kind == "list":
            return self.http(client, "GET", f"/collections/{coll}/documents"
                             f"?limit={spec['limit']}&after={spec['after']}")
        if kind == "collection":
            return self.http(client, "GET", f"/collections/{coll}")
        if kind == "health":
            return self.http(client, "GET", "/health")
        if kind == "registry":
            fn = self.registry[spec["row"]].fn
            if self.tracer is not None:
                with self.tracer.span("registry", "construct") as sp:
                    df = fn(self.spark, self.tables_dir)
                self.tracer.frames[sp["rid"]].append(df)
            else:
                df = fn(self.spark, self.tables_dir)
            return {"rows": len(df.collect()), "df": df}
        raise ValueError(kind)

    def _client_loop(self, specs: list[dict], deadline: float | None,
                     record: bool) -> None:
        client = self.app.test_client()
        for spec in specs:
            if deadline is not None and time.perf_counter() >= deadline:
                break
            rec = self.run_op(spec["kind"], lambda s=spec: self.execute(client, s),
                              record=record)
            rec["spec"], rec["coll"] = spec, spec["collection_id"]
            if spec["kind"] == "similarity" and rec["out"]:
                rec["n_results"] = len(rec["out"]["results"])

    def _run_clients(self, schedules, deadline, record) -> None:
        threads = [threading.Thread(target=self._client_loop, args=(s, deadline, record))
                   for s in schedules]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def warm(self) -> None:
        self._run_clients([self.schedule("warm", c, SEARCH_WARM_OPS, WARM_KINDS)
                           for c in range(SEARCH_WARM_CLIENTS)], None, record=False)

    def run(self, seconds: float) -> float:
        schedules = [self.schedule("run", c, 4000) for c in range(self.clients)]
        t0 = time.perf_counter()
        self._run_clients(schedules, t0 + seconds, record=True)
        return time.perf_counter() - t0

    def verify(self) -> None:
        for name, _ in TENANTS:
            if not self.replay.contents_match(self.cids[name], self.texts[name]):
                raise Failed(f"stored corpus of {name} differs from the generated one")
        n_docs = dict(TENANTS)
        oracle_checked: set[str] = set()
        for rec in self.ops:
            spec, kind = rec["spec"], rec["kind"]
            coll = spec["collection_id"]
            if kind == "similarity":
                self.check(rec, lambda r, s=spec: self.check_similarity(s, r))
            elif kind == "batch":
                def _batch(r, s=spec):
                    if r["queries_processed"] != len(s["queries"]):
                        raise Failed(f"batch processed {r['queries_processed']}")
                    for q, res in zip(s["queries"], r["results"]):
                        self.check_similarity({"query": q, "collection_id": s["collection_id"],
                                               "limit": s["limit"]}, res)
                self.check(rec, _batch)
            elif kind == "list":
                def _list(r, s=spec):
                    want = self.replay.keyset(self.cids[s["collection_id"]],
                                              s["after"], s["limit"])
                    if [d["id"] for d in r] != want:
                        raise Failed(f"keyset page after {s['after']} differs")
                self.check(rec, _list)
            elif kind == "collection":
                def _coll(r, n=n_docs[coll]):
                    if r["document_count"] != n:
                        raise Failed(f"document_count {r['document_count']} != {n}")
                self.check(rec, _coll)
            elif kind == "health":
                def _health(r):
                    if r["status"] != "healthy":
                        raise Failed(f"health {r['status']}")
                self.check(rec, _health)
            elif kind == "registry" and spec["row"] not in oracle_checked:
                # one oracle compare per row: it executes the query again
                oracle_checked.add(spec["row"])

                def _oracle(r, row=spec["row"]):
                    from tests.oracle_harness import compare

                    ok, msg = compare(r["df"], self.replay.con, self.oracles[row])
                    if not ok:
                        raise Failed(f"{row}: {msg}")
                self.check(rec, _oracle)

    def metrics(self, wall_s: float) -> tuple[dict, dict]:
        m = self.common_metrics()
        m["requests_per_s"] = len(self.ops) / wall_s
        return m, {"search_p90_ms": quantile(self.latencies("similarity"), 0.9),
                   "health_p50_ms": quantile(self.latencies("health"), 0.5)}


# ---------------------------------------------------------------------------
# ingest: 1 client, writes and reads interleaved on the same collections
# ---------------------------------------------------------------------------

BASE_DOCS = 300
BATCH_DOCS = 50
INVALID_SHARE = 0.1
CHUNK_SIZES = (300, 500, 700, 1000)
#: the service reads an overlap of 0 as "use the default", so none is 0
CHUNK_OVERLAPS = (50, 100, 150)
HOT, COLD = "ingest-a", "ingest-b"
INGEST_WARM_SEARCHES = 4
#: a round is two cycles, one writing to each collection; a run is at
#: least this many rounds, so it holds four batches, two single-document
#: ingests and two deletes however short ``--seconds`` is
MIN_ROUNDS = 2


class IngestWorkload(Workload):
    clients = 1

    def setup(self) -> None:
        from vector_search_service_spark.operators.chunker import chunk_text

        self.chunk_text = chunk_text
        self.client = self.app.test_client()
        self.expected = {}
        self.deleted: dict[str, list[str]] = {HOT: [], COLD: []}
        for name in (HOT, COLD):
            self.create_collection(self.client, name)
            docs = [self.corpus.document() for _ in range(BASE_DOCS)]
            self.bulk_load(name, docs)
            self.expected[name] = BASE_DOCS
        self.rng = random.Random(f"{self.seed}:ingest")
        self.terms = itertools.cycle((1, 2, 2, 3))
        self.crossed = False

    def warm(self) -> None:
        """A write and a delete on the second collection, then searches on
        both: the first dozens of searches in a fresh JVM run slower while
        hot paths compile."""
        for kind in ("batch", "list_delete"):
            self.step(kind, COLD, record=False)
        for i in range(INGEST_WARM_SEARCHES):
            self.step("similarity", (HOT, COLD)[i % 2], record=False)
        self.preposition()

    def preposition(self) -> None:
        """Leave the hot collection's live postings snapshot one small
        file short of ``PostingsStore.AUTO_COMPACT_SMALL_FILES``, as a
        history of small appends would, so the first timed batch into
        it crosses the auto-compaction threshold exactly once per run.
        The extra files re-post stored documents; matching counts
        distinct lexemes, so they change no result."""
        store = self.service.catalog.postings
        cid = self.cids[HOT]
        missing = store.AUTO_COMPACT_SMALL_FILES - 1 - store.small_file_count(cid)
        if missing > 0:
            docs = self.service.catalog.documents(HOT)
            store.append(cid, docs.repartition(missing))
        if store.small_file_count(cid) != store.AUTO_COMPACT_SMALL_FILES - 1:
            raise Failed("could not position the postings snapshot")

    # -- operations ----------------------------------------------------

    def _doc(self) -> tuple[dict, str | None]:
        """One batch document and the error the service should report."""
        doc = self.corpus.document()
        doc["chunk_size"] = self.rng.choice(CHUNK_SIZES)
        doc["chunk_overlap"] = self.rng.choice(CHUNK_OVERLAPS)
        r = self.rng.random()
        if r < INVALID_SHARE / 2:
            doc["content"] = "   "
            return doc, "empty"
        if r < INVALID_SHARE:
            doc["metadata"]["chunk_index"] = "7"
            return doc, "reserved"
        return doc, None

    def _chunks(self, doc: dict) -> int:
        return len(self.chunk_text(doc["content"], doc["chunk_size"], doc["chunk_overlap"]))

    def step(self, kind: str, coll: str, record: bool = True) -> list[dict]:
        """One operation (two for list-then-delete) with its inline
        output check; checks run outside the operation's timing."""
        recs = self._step(kind, coll, record)
        for rec in recs:
            rec["coll"] = coll
        return recs

    def _step(self, kind: str, coll: str, record: bool) -> list[dict]:
        c = self.client
        if kind == "batch":
            docs = [self._doc() for _ in range(BATCH_DOCS)]
            rec = self.run_op("batch", lambda: self.http(
                c, "POST", f"/collections/{coll}/documents/batch",
                {"documents": [d for d, _ in docs], "processing_mode": "sync"}), record)
            valid = [d for d, err in docs if err is None]
            want = {"successful": len(valid), "failed": BATCH_DOCS - len(valid)}

            def _batch(_r):
                job = self.service.list_jobs(limit=1)[0]
                if job["status"] != "completed" or job["result"] != want:
                    raise Failed(f"batch job {job['status']} {job['result']}, want {want}")
            self.check(rec, _batch)
            if rec["error"] is None:
                rec["chunks"] = sum(self._chunks(d) for d in valid)
                self.expected[coll] += rec["chunks"]
                self.input_bytes += sum(len(d["content"]) for d in valid)
                rec["docs"] = len(valid)
            return [rec]
        if kind == "similarity":
            spec = {"query": self.corpus.query(next(self.terms)), "collection_id": coll,
                    "limit": 10}
            rec = self.run_op("similarity", lambda: self.similarity(c, spec), record)
            self.check(rec, lambda r: self.check_similarity(spec, r))
            return [rec]
        if kind == "single":
            doc, err = self._doc()
            if err == "reserved":
                err = None
                del doc["metadata"]["chunk_index"]
            rec = self.run_op("single", lambda: self.http(
                c, "POST", f"/collections/{coll}/documents", doc,
                expect=400 if err else 200), record)
            if err is None:
                n = self._chunks(doc)

                def _single(r):
                    if r["status"] != "completed" or r["chunks_created"] != n:
                        raise Failed(f"single ingest {r}, want {n} chunks")
                self.check(rec, _single)
                if rec["error"] is None:
                    self.expected[coll] += n
                    self.input_bytes += len(doc["content"])
                    rec["docs"], rec["chunks"] = 1, n
            return [rec]
        if kind == "list_delete":
            after = self.corpus.hex_key()[:1]
            page = self.run_op("list", lambda: self.http(
                c, "GET", f"/collections/{coll}/documents?limit=5&after={after}"), record)

            def _page(r):
                want = self.replay.keyset(self.cids[coll], after, 5)
                if not r or [d["id"] for d in r] != want:
                    raise Failed(f"keyset page after {after} differs")
            self.check(page, _page)
            if page["error"] is not None:
                return [page]
            ids = [d["id"] for d in page["out"]]
            rec = self.run_op("delete", lambda: self.http(
                c, "DELETE", f"/collections/{coll}/documents", {"document_ids": ids}),
                record)

            def _delete(r):
                if r["documents_deleted"] != len(ids):
                    raise Failed(f"deleted {r['documents_deleted']} of {len(ids)}")
            self.check(rec, _delete)
            if rec["error"] is None:
                self.expected[coll] -= len(ids)
                self.deleted[coll] += ids
            return [page, rec]
        if kind == "collection":
            rec = self.run_op("collection", lambda: self.http(
                c, "GET", f"/collections/{coll}"), record)

            def _coll(r):
                if r["document_count"] != self.expected[coll]:
                    raise Failed(f"document_count {r['document_count']}, "
                                 f"want {self.expected[coll]}")
            self.check(rec, _coll)
            return [rec]
        raise ValueError(kind)

    def cycle(self, i: int) -> list[tuple[str, bool]]:
        """The operations of cycle ``i`` and whether each targets the
        collection the cycle writes to (else the other one). Even
        cycles add a single-document ingest, odd ones a list-then-delete."""
        kinds = [("batch", True)] + [
            ("similarity", own) for own in (True, False)
        ] + [("collection", True)]
        kinds.append(("single", True) if i % 2 == 0 else ("list_delete", True))
        return kinds

    def run(self, seconds: float) -> float:
        """Closed loop on a busy clock: the inline checks between
        operations do not count against ``seconds``. The run ends after
        whole rounds (an even number of cycles), so every run has the
        same mix, and after no fewer than ``MIN_ROUNDS``."""
        busy = 0.0
        store = self.service.catalog.postings
        for i in itertools.count():
            coll, other = (HOT, COLD) if i % 2 == 0 else (COLD, HOT)
            for kind, own in self.cycle(i):
                for rec in self.step(kind, coll if own else other):
                    busy += rec["ms"] / 1e3
                if i == 0 and kind == "batch":
                    self.crossed = store.small_file_count(self.cids[HOT]) <= 1
            if i % 2 == 1 and i + 1 >= 2 * MIN_ROUNDS and busy >= seconds:
                return busy
        raise AssertionError("unreachable")

    def verify(self) -> None:
        if not self.crossed:
            raise Failed("the first batch did not trigger postings auto-compaction")
        for coll in (HOT, COLD):
            cid = self.cids[coll]
            if self.replay.present(cid, self.deleted[coll]):
                raise Failed(f"deleted ids still stored in {coll}")
            stats = self.service.collection_stats(coll)["document_count"]
            recount = self.replay.count(cid)
            if not stats == recount == self.expected[coll]:
                raise Failed(f"{coll}: stats {stats}, recount {recount}, "
                             f"expected {self.expected[coll]}")

    def metrics(self, busy_s: float) -> tuple[dict, dict]:
        m = self.common_metrics()
        m["requests_per_s"] = len(self.ops) / busy_s
        docs = sum(o.get("docs", 0) for o in self.ops)
        batches = self.latencies("batch")
        ctx = {
            "ingest_batch_p50_ms": quantile(batches, 0.5),
            "ingest_batch_p75_ms": quantile(batches, 0.75),
            "ingest_docs_per_s": docs / busy_s,
            "delete_p50_ms": quantile(self.latencies("delete"), 0.5),
        }
        return m, ctx

    def state(self) -> dict:
        accepted = sum(o.get("docs", 0) for o in self.ops)
        attempted = sum(BATCH_DOCS if o["kind"] == "batch" else 1
                        for o in self.ops if o["kind"] in ("batch", "single"))
        chunks = sum(o.get("chunks", 0) for o in self.ops)
        return {**super().state(),
                "chunks_per_doc": chunks / max(1, accepted),
                "accepted_ratio": accepted / max(1, attempted)}


WORKLOADS = {"search": SearchWorkload, "ingest": IngestWorkload}
