"""``serve``: read-only requests against warm, cached standing indexes.

Each round is the 6:1:3 mix of filtered ``query_items`` (the per-plan
driver floor and the HOF cosine scan), ``cosine_topk_batch`` at Q=200
(the Arrow boundary and the numpy kernel) and
``render_document_sections`` (the RAG read path), shuffled by the seed.
Nothing writes after set-up, so every read finds its cache warm.
"""

from __future__ import annotations

import time

from perfbench import checks, gen, ops
from perfbench.harness import Bench

N_ITEMS = 50_000
N_DOCS = 200
DOC_BYTES = (1024, 3072)
N_BUCKETS = 16
# Latencies keep falling for about five rounds after the first call of
# each op (JIT compilation of the hot paths), so set-up runs whole rounds.
WARM_ROUNDS = 2
MAX_ROUNDS = 100


def run(bench: Bench) -> dict:
    from pyspark.sql import types as T

    from vectra_py_spark.document_index import SparkDocumentIndex
    from vectra_py_spark.index import SparkVectorIndex

    data = bench.work / "data"
    inp = gen.make_serve(bench.seed, data, N_ITEMS, N_DOCS, DOC_BYTES,
                         WARM_ROUNDS + MAX_ROUNDS, ops.BATCH_Q)
    unit_items = ops.unit_rows(inp.vecs)
    ledger = ops.VectorLedger(inp.vecs, inp.cats)
    live = dict(zip(inp.uris, inp.texts))
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
            di.upsert_documents_df(spark.read.parquet(str(inp.corpus_path)))
        with bench.setup_phase("serving_cache"):
            emb = ops.serving_cache(spark, data / "embeddings.parquet")
        with bench.setup_phase("warmup"):
            for i in range(WARM_ROUNDS):
                run_round(bench, inp.rounds[i], f"warm{i}", ix, di, emb, cache, ledger, live,
                          unit_items, phase="warmup")
    setup_s = session_s + (time.perf_counter() - t0)
    bench.verify("setup", "setup", lambda: None if ix.get_index_stats()["items"] == N_ITEMS
                 else "standing index lost items")

    def probe():
        ops.probe_text(bench, di, inp.corpus_path)
        ops.probe_entry_queries(bench, data, inp.texts)

    bench.run_phases(
        ((i, r) for i, r in enumerate(inp.rounds[WARM_ROUNDS:], WARM_ROUNDS)),
        lambda i, r: run_round(bench, r, f"r{i}", ix, di, emb, cache, ledger, live, unit_items),
        probe,
    )
    return {"session_start_s": session_s, "setup_s": setup_s, "report": report(bench)}


def run_round(bench, ops_, tag, ix, di, emb, cache, ledger, live, unit_items,
              phase="op") -> float:
    wall = 0.0
    for n, (kind, *params) in enumerate(ops_):
        rid = f"{tag}.{n}"
        if kind == "query":
            vec, cats = params
            dt, _ = bench.op("query", rid, ops.query_op(bench, cache, ix, vec, cats),
                             lambda got: ledger.check_query(got, vec, cats), phase)
        elif kind == "batch":
            (q,) = params
            dt, res = bench.op("batch", rid, ops.batch_op(bench, emb, q),
                               lambda res: ops.check_batch(res, unit_items, q), phase)
            ops.after_batch(bench, res)
        else:
            (text,) = params
            dt, _ = bench.op("rag", rid, ops.rag_op(cache, di, text),
                             lambda res: checks.check_rag(res, live, set(), ops.MAX_DOCUMENTS),
                             phase)
        wall += dt or 0.0
    return wall


def report(bench: Bench) -> dict:
    """The serve-specific numbers printed beside the gated metrics."""
    batch = bench.samples.get("batch", [])
    return {
        "batch_qps": {"value": ops.BATCH_Q * len(batch) / sum(batch) if batch else 0.0,
                      "unit": "1/s", "n": len(batch)},
    }
