"""Operations both workloads issue, with their checks, and the layer
probes of a traced run."""

from __future__ import annotations

from pathlib import Path

import numpy as np

from perfbench import checks, gen, tracing
from perfbench.harness import Bench

MAX_DOCUMENTS = 10
BATCH_Q = 200


class VectorLedger:
    """The vectors the standing index should hold: brute-force truth."""

    def __init__(self, vecs: np.ndarray, cats: np.ndarray) -> None:
        self.vecs = vecs.copy()
        self.cats = cats.copy()
        self.ids = np.array([gen.item_id(i) for i in range(len(vecs))])
        self.live = np.ones(len(vecs), dtype=bool)
        self.row = {str(i): n for n, i in enumerate(self.ids)}

    def upsert(self, item: str, vec: np.ndarray, cat: int) -> None:
        n = self.row.get(item)
        if n is None:
            self.row[item] = len(self.ids)
            self.vecs = np.vstack([self.vecs, vec[None, :]])
            self.cats = np.append(self.cats, np.int32(cat))
            self.ids = np.append(self.ids, item)
            self.live = np.append(self.live, True)
        else:
            self.vecs[n], self.cats[n], self.live[n] = vec, cat, True

    def delete(self, item: str) -> None:
        self.live[self.row[item]] = False

    def check_query(self, got, vec: np.ndarray, cats: tuple[int, ...]) -> str | None:
        mask = self.live & np.isin(self.cats, cats)
        scores = checks.cosine_scores(self.vecs[mask], vec)
        return checks.check_topk(got, self.ids[mask], scores, gen.TOP_K, checks.RAW_TOL)


class ItemsCache:
    """Whether a read found its index's items already cached: ``items()``
    hands back the same DataFrame object until a write invalidates it."""

    def __init__(self) -> None:
        self.last: dict[int, object] = {}

    def hit(self, ix) -> bool:
        df = ix.items()
        hit = df is self.last.get(id(ix))
        self.last[id(ix)] = df
        return hit


def query_op(bench: Bench, cache: ItemsCache, ix, vec: np.ndarray, cats: tuple[int, ...]):
    """``query_items`` with a ``cat`` filter, collected: ``[(id, score)]``."""

    def run(span):
        span["attrs"]["items_cache_hit"] = cache.hit(ix)
        with bench.span("index.query_items.build"):
            df = ix.query_items([float(x) for x in vec], gen.TOP_K, {"cat": {"$in": list(cats)}})
        with bench.span("index.query_items.collect"):
            rows = df.collect()
        return [(r["id"], r["score"]) for r in rows]

    return run


def rag_op(cache: ItemsCache, di, text: str):
    def run(span):
        span["attrs"]["items_cache_hit"] = cache.hit(di.index)
        return di.render_document_sections(text, max_documents=MAX_DOCUMENTS)

    return run


def batch_op(bench: Bench, emb, queries: np.ndarray):
    """``cosine_topk_batch`` collected; returns (rows, df, collect span)."""
    from vectra_py_spark.operators import similarity as sim

    def run(_span):
        with bench.span("similarity.cosine_topk_batch.build"):
            df = sim.cosine_topk_batch(emb, queries.tolist(), gen.TOP_K)
        with bench.span("similarity.cosine_topk_batch.collect") as c:
            rows = df.collect()
        return rows, df, c

    return run


def after_batch(bench: Bench, result) -> None:
    """Python-boundary bytes of a batch, read off its executed plan
    (outside the op's timing)."""
    if bench.tracer is not None and result is not None:
        rows, df, span = result
        span["attrs"]["python_bytes_in"], span["attrs"]["python_bytes_out"] = \
            tracing.python_bytes(df)


def check_batch(result, unit_items: np.ndarray, queries: np.ndarray) -> str | None:
    """Against a brute force with the engine's rounding, ties by vec_id."""
    rows = result[0]
    q = np.asarray(queries, dtype=np.float64)
    qn = np.linalg.norm(q, axis=1)
    qn[qn == 0.0] = 1.0
    scores = checks.round_half_away(unit_items @ (q / qn[:, None]).T)
    ids = np.arange(len(unit_items))
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
    if sorted(got) != list(range(len(q))):
        return f"answers for {len(got)} of {len(q)} queries"
    for qi in range(len(q)):
        err = checks.check_topk(sorted(got[qi], key=lambda t: (-t[1], t[0])),
                                ids, scores[:, qi], gen.TOP_K, 0)
        if err:
            return f"query {qi}: {err}"
    return None


def unit_rows(vecs: np.ndarray) -> np.ndarray:
    m = np.asarray(vecs, dtype=np.float64)
    n = np.linalg.norm(m, axis=1)
    n[n == 0.0] = 1.0
    return m / n[:, None]


def serving_cache(spark, path: Path):
    """The cached embeddings table batch serving scans, laid out as the
    engine's serving path expects (about 50k rows per partition)."""
    raw = spark.read.parquet(str(path))
    df = raw.repartition(max(1, raw.count() // 50_000 + 1)).cache()
    df.count()
    return df


# -- layer probes (traced runs only) ------------------------------------------


def probe_text(bench: Bench, di, docs_path: Path) -> None:
    """Standalone split, then embed, over one document batch: rows/s of
    the text and embeddings layers without the MERGE around them."""
    from pyspark.sql import functions as F

    from vectra_py_spark.embeddings import embed_chunks
    from vectra_py_spark.text.splitter import split_documents

    docs = bench.spark.read.parquet(str(docs_path)).select(
        F.md5("uri").alias("document_id"), "text", F.lit("txt").alias("doc_type"))
    with bench.span("text.split_documents") as s:
        chunks = split_documents(docs, id_col="document_id", text_col="text",
                                 doc_type_col="doc_type", chunk_size=di.chunk_size,
                                 chunk_overlap=di.chunk_overlap, keep_separators=True)
        chunks = chunks.localCheckpoint(eager=True)
    s["attrs"]["rows"] = n = chunks.count()
    with bench.span("embeddings.embed_chunks") as s:
        embed_chunks(chunks, text_col="text", n_tokens_col="n_tokens",
                     provider_factory=di.embedder_factory, dim=di.vector_dim,
                     ).write.format("noop").mode("overwrite").save()
    s["attrs"]["rows"] = n


def probe_entry_queries(bench: Bench, data_dir: Path, texts: list[str]) -> None:
    """Registry queries over the workload's own tables in the registry's
    schemas: ``vector_topk_filtered`` against its DuckDB oracle, and
    ``doc_chunks`` against the document text it slices."""
    import duckdb

    from vectra_py_spark.plans.entry_queries import ORACLES, QUERIES

    for q in tracing.ENTRY_QUERIES:
        def run(_span, q=q):
            with bench.span(f"entry_queries.{q}"):
                return QUERIES[q](bench.spark, str(data_dir)).toPandas()

        if q in ORACLES:
            def check(pdf, q=q):
                con = duckdb.connect()
                try:
                    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                                f"'{data_dir / 'embeddings.parquet'}'")
                    return checks.check_frame(pdf, con.execute(ORACLES[q]).df())
                finally:
                    con.close()
        else:
            def check(pdf):
                return checks.check_chunks(pdf, texts)
        bench.op(f"entry.{q}", f"probe-{q}", run, check, phase="probe")
