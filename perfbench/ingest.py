"""``ingest``: writes beside reads, every read right after a write.

The document index starts empty next to a standing vector index. Each
round upserts one batch of fresh documents plus existing URIs with new
text (split, embed and the partition-scoped MERGE) and deletes two
documents, each write followed by a ``render_document_sections`` read;
then it stages five item upserts and a delete on the vector index,
commits, and runs a filtered ``query_items``. Every read pays for the
cache the write before it invalidated. After each round, untimed, both
indexes are checked against the generator's ledger.
"""

from __future__ import annotations

import statistics
import time
from pathlib import Path

from perfbench import checks, gen, ops
from perfbench.harness import Bench

N_ITEMS = 20_000
FRESH = 100
REUPSERTS = 10
DELETES = 2
VEC_UPSERTS = 5
DOC_BYTES = (1024, 8192)  # 1-4 chunks of 512 tokens each
N_BUCKETS = 16
WARM_FRESH = 20  # the warm-up round needs each call once, not the volume
MAX_ROUNDS = 4


class Ledger:
    """The documents that should be live, and those deleted."""

    def __init__(self) -> None:
        self.live: dict[str, str] = {}
        self.deleted: set[str] = set()


def run(bench: Bench) -> dict:
    from pyspark.sql import types as T

    from vectra_py_spark.document_index import SparkDocumentIndex
    from vectra_py_spark.index import SparkVectorIndex

    data = bench.work / "data"
    inp = gen.make_ingest(bench.seed, data, N_ITEMS, MAX_ROUNDS + 1, FRESH, REUPSERTS,
                          DELETES, VEC_UPSERTS, DOC_BYTES, WARM_FRESH)
    probe_q = gen.unit_normal(gen.rng_for(bench.seed, "schedule"), ops.BATCH_Q)
    vectors = ops.VectorLedger(inp.vecs, inp.cats)
    docs = Ledger()
    cache = ops.ItemsCache()

    session_s = bench.start_spark()
    spark = bench.spark
    t0 = time.perf_counter()
    with bench.traced():
        with bench.setup_phase("vector_index"):
            ix = SparkVectorIndex(spark, str(bench.work / "index"), vector_dim=gen.DIM,
                                  indexed_fields={"cat": T.IntegerType()}, n_buckets=N_BUCKETS)
            ix.create()
            ix.merge_batch(spark.read.parquet(str(inp.items_path)))
        with bench.setup_phase("document_index"):
            di = SparkDocumentIndex(spark, str(bench.work / "docs"), vector_dim=gen.DIM)
            di.create()
        with bench.setup_phase("warmup"):  # round 0: the first call of every op type
            run_round(bench, inp.rounds[0], "warm", ix, di, cache, vectors, docs,
                      phase="warmup")
    setup_s = session_s + (time.perf_counter() - t0)
    verify_round(bench, "warm", inp.rounds[0], ix, di, vectors, docs)

    def round_(i, r):
        wall = run_round(bench, r, f"r{i}", ix, di, cache, vectors, docs)
        verify_round(bench, f"r{i}", r, ix, di, vectors, docs)
        return wall

    def probe():
        ops.probe_text(bench, di, inp.rounds[1].docs_path)
        emb = ops.serving_cache(spark, data / "embeddings.parquet")
        unit = ops.unit_rows(inp.vecs)
        res = bench.op("batch", "probe-batch", ops.batch_op(bench, emb, probe_q),
                       lambda res: ops.check_batch(res, unit, probe_q), phase="probe")[1]
        ops.after_batch(bench, res)
        ops.probe_entry_queries(bench, data, list(inp.rounds[0].fresh.values()))

    bench.run_phases(((i, r) for i, r in enumerate(inp.rounds[1:], 1)), round_, probe)
    return {"session_start_s": session_s, "setup_s": setup_s,
            "report": report(bench, inp, docs, vectors)}


def run_round(bench, r: gen.IngestRound, tag, ix, di, cache, vectors, docs,
              phase="op") -> float:
    spark = bench.spark
    times = []
    texts = iter(r.rag_texts)

    def timed(kind, fn, check=None):
        dt, _ = bench.op(kind, f"{tag}.{len(times)}", fn, check, phase)
        times.append(dt or 0.0)

    def rag():
        timed("rag", ops.rag_op(cache, di, next(texts)),
              lambda res: checks.check_rag(res, docs.live, docs.deleted, ops.MAX_DOCUMENTS))

    timed("upsert_docs", lambda s: di.upsert_documents_df(spark.read.parquet(str(r.docs_path))))
    docs.live.update(r.fresh)
    docs.live.update(r.reup)
    rag()
    for uri in r.deletes:
        timed("delete_doc", lambda s, uri=uri: di.delete_document(uri))
        docs.live.pop(uri)
        docs.deleted.add(uri)
        rag()

    def commit(_span):
        for item, v, cat in r.item_upserts:
            ix.upsert_item({"id": item, "vector": [float(x) for x in v], "metadata": {"cat": cat}})
        ix.delete_item(r.item_delete)
        ix.commit()

    timed("commit", commit)
    for item, v, cat in r.item_upserts:
        vectors.upsert(item, v, cat)
    vectors.delete(r.item_delete)
    vec, cats = r.query
    timed("query", ops.query_op(bench, cache, ix, vec, cats),
          lambda got: vectors.check_query(got, vec, cats))
    return sum(times)


def verify_round(bench, tag, r: gen.IngestRound, ix, di, vectors, docs) -> None:
    """Untimed: both indexes hold exactly what the ledger says."""
    from pyspark.sql import functions as F

    def catalog():
        n = di.get_catalog_stats()["documents"]
        return None if n == len(docs.live) else f"{n} documents, ledger {len(docs.live)}"

    def chunks():
        have = {row[0] for row in di.index.items().select("document_id").distinct().collect()}
        want = {checks.doc_id(u) for u in docs.live}
        return None if have == want else (
            f"{len(have - want)} documents with chunks not in the ledger, "
            f"{len(want - have)} live documents without chunks")

    def items():
        n = ix.get_index_stats()["items"]
        return None if n == int(vectors.live.sum()) else f"{n} items, ledger {vectors.live.sum()}"

    def written():
        ids = [u[0] for u in r.item_upserts] + [r.item_delete]
        got = {row["id"]: row["vector"] for row in
               ix.items().filter(F.col("id").isin(ids)).select("id", "vector").collect()}
        if r.item_delete in got:
            return f"deleted item {r.item_delete} still present"
        for item, v, _cat in r.item_upserts:
            if got.get(item) != [float(x) for x in v]:
                return f"item {item} does not hold its upserted vector"
        return None

    for name, fn in (("catalog", catalog), ("chunks", chunks), ("items", items),
                     ("upserted", written)):
        bench.verify(f"verify.{name}", tag, fn)


def _disk_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def report(bench: Bench, inp: gen.IngestInputs, docs: Ledger, vectors) -> dict:
    """The ingest-specific numbers printed beside the gated metrics."""
    up = bench.samples.get("upsert_docs", [])
    commits = bench.samples.get("commit", [])
    user = sum(len(t.encode()) for t in docs.live.values()) + int(vectors.live.sum()) * gen.DIM * 8
    stored = _disk_bytes(bench.work / "docs") + _disk_bytes(bench.work / "index")
    return {
        "ingest_docs_per_s": {"value": (FRESH + REUPSERTS) * len(up) / sum(up) if up else 0.0,
                              "unit": "1/s", "n": len(up)},
        "commit_p50_ms": {"value": statistics.median(commits) * 1e3 if commits else 0.0,
                          "unit": "ms", "n": len(commits)},
        "stored_bytes_per_user_byte": {"value": stored / user, "unit": "ratio", "n": 1},
    }
