"""Document pipeline e2e: ingest → query → render (SURVEY.md §3.2/3.3)
with the deterministic embedder (hermetic, §5.4)."""

from __future__ import annotations

import math
import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from vectra_py_spark.document_index import (
    DOCUMENT_SCHEMA,
    SparkDocumentIndex,
    infer_doc_type,
)
from vectra_py_spark.embeddings import scrub_newlines
from vectra_py_spark.render import ScoredChunk, render_sections
from vectra_py_spark.text.tokenizers import get_tokenizer

DOCS = [
    {
        "uri": "file:///corpus/fruit.md",
        "text": "Apples are sweet red fruit.\n\nOranges are citrus fruit with vitamin C.\n\n"
        "Bananas are yellow tropical fruit loved worldwide.",
        "metadata": {"topic": "fruit"},
    },
    {
        "uri": "file:///corpus/colors.txt",
        "text": "Red is a warm color.\n\nBlue is a cool color of sky and sea.\n\n"
        "Green is the color of grass and leaves.",
        "metadata": {"topic": "color"},
    },
    {
        "uri": "file:///corpus/space.txt",
        "text": "Planets orbit the sun.\n\nStars shine in distant galaxies.\n\n"
        "Telescopes observe the universe.",
        "metadata": {"topic": "space"},
    },
]


@pytest.fixture(scope="module")
def doc_index(spark):
    d = tempfile.mkdtemp()
    idx = SparkDocumentIndex(spark, f"{d}/docidx", vector_dim=64, chunk_size=64)
    idx.create()
    idx.upsert_documents(DOCS)
    yield idx
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_infer_doc_type():
    assert infer_doc_type("http://x/a.md") == "md"
    assert infer_doc_type("http://x/a.HTML") == "html"
    assert infer_doc_type("file:///y/noext") is None
    assert infer_doc_type("a.md", explicit="py") == "py"


@pytest.mark.slow
def test_ingest_created_chunks(doc_index):
    stats = doc_index.get_catalog_stats()
    assert stats["documents"] == 3
    assert stats["chunks"] >= 3
    items = doc_index.index.items().collect()
    docs_text = {d["uri"]: d["text"] for d in DOCS}
    uri_by_id = {
        r.document_id: r.uri for r in doc_index.documents().collect()
    }
    for it in items:
        assert len(it.vector) == 64
        assert it.norm == pytest.approx(1.0, rel=1e-9)
        # positions re-slice the source text exactly
        src = docs_text[uri_by_id[it.document_id]]
        assert src[int(it.start_pos) : int(it.end_pos) + 1]


@pytest.mark.slow
def test_uri_id_roundtrip(doc_index):
    doc_id = doc_index.get_document_id("file:///corpus/fruit.md")
    assert doc_id is not None
    assert doc_index.get_document_uri(doc_id) == "file:///corpus/fruit.md"
    assert doc_index.get_document_id("file:///nope") is None


@pytest.mark.slow
def test_query_documents_ranking(doc_index):
    res = doc_index.query_documents("citrus fruit vitamin", max_documents=2).collect()
    assert 1 <= len(res) <= 2
    # the fruit doc must win for a fruit query (word-hash embedder keeps
    # lexical overlap → similarity)
    assert res[0].uri == "file:///corpus/fruit.md"
    assert res[0].doc_score >= res[-1].doc_score


@pytest.mark.slow
def test_render_sections_end_to_end(doc_index):
    rendered = doc_index.render_document_sections(
        "blue sky color", max_documents=1, max_tokens=2000
    )
    assert len(rendered) == 1
    doc_id, uri, score, sections = rendered[0]
    assert uri == "file:///corpus/colors.txt"
    assert sections and sections[0].text  # W1: whole doc fits budget
    assert sections[0].score == 1.0


def _brute_force_ranking(idx, query_text, max_documents, max_chunks):
    """D7 over ``items().toPandas()``: the engine's cosine summed left to
    right in doubles, chunk top-k by (score desc, id), the fsum mean per
    document, documents by (doc_score desc, document_id)."""
    qvec = [
        float(x)
        for x in idx.embedder_factory().create_embeddings(
            [scrub_newlines(query_text)]
        )[0]
    ]
    q_norm = sum(x * x for x in qvec) ** 0.5
    scored = []
    for r in idx.index.items().toPandas().itertuples():
        d = 0.0
        for a, b in zip(r.vector, qvec):
            d += float(a) * b
        scored.append(
            (d / (r.norm * q_norm), r.id, r.document_id, int(r.start_pos), int(r.end_pos))
        )
    scored.sort(key=lambda t: (-t[0], t[1]))
    by_doc = {}
    for score, cid, doc_id, start, end in scored[:max_chunks]:
        by_doc.setdefault(doc_id, []).append((start, end, score, cid))
    ranked = sorted(
        (
            (doc_id, math.fsum(c[2] for c in cs) / len(cs), sorted(cs))
            for doc_id, cs in by_doc.items()
        ),
        key=lambda t: (-t[1], t[0]),
    )[:max_documents]
    docs = {r.document_id: r for r in idx.documents().toPandas().itertuples()}
    return [
        (doc_id, docs[doc_id].uri, score, chunks, docs[doc_id].text)
        for doc_id, score, chunks in ranked
    ]


@pytest.mark.slow
@pytest.mark.parametrize(
    "query_text", ["citrus fruit vitamin", "blue sky color", "stars orbit sun"]
)
def test_query_documents_matches_brute_force(doc_index, query_text):
    want = _brute_force_ranking(doc_index, query_text, max_documents=2, max_chunks=4)
    got = doc_index.query_documents(
        query_text, max_documents=2, max_chunks=4
    ).collect()
    assert [
        (r.document_id, r.uri, r.doc_score, [tuple(c) for c in r.chunks], r.text)
        for r in got
    ] == want

    tokenizer = get_tokenizer()
    rendered = doc_index.render_document_sections(
        query_text, max_documents=2, max_chunks=4, max_tokens=8, max_sections=2
    )
    assert [(d, u, s) for d, u, s, _ in rendered] == [w[:3] for w in want]
    for (_, _, _, sections), (_, _, _, chunks, text) in zip(rendered, want):
        expect = render_sections(
            text,
            [ScoredChunk("", c[2], c[0], c[1]) for c in chunks],
            tokenizer,
            8,
            2,
        )
        assert sections == expect


@pytest.mark.slow
def test_warm_rag_read_runs_two_jobs(spark, doc_index):
    """A warm RAG read is the chunk top-k collect plus the winners'
    uri/text collect."""
    doc_index.render_document_sections("blue sky color")  # warm the items cache
    sc = spark.sparkContext
    group = f"rag-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "warm render_document_sections")
    try:
        out = doc_index.render_document_sections("citrus fruit vitamin")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


@pytest.mark.slow
def test_chunk_without_document_row_has_null_uri_and_text(spark, tmp_path):
    idx = SparkDocumentIndex(
        spark, str(tmp_path / "orphan"), vector_dim=64, chunk_size=64
    )
    idx.create()
    idx.upsert_documents(DOCS)
    fruit = idx.get_document_id("file:///corpus/fruit.md")
    kept = [r for r in idx.documents().collect() if r.document_id != fruit]
    spark.createDataFrame(kept, DOCUMENT_SCHEMA).write.mode("overwrite").parquet(
        idx.docs_path
    )
    res = idx.query_documents("citrus fruit vitamin", max_documents=3).collect()
    orphans = [r for r in res if r.document_id == fruit]
    assert len(orphans) == 1
    assert orphans[0].uri is None and orphans[0].text is None
    assert orphans[0].chunks
    assert all(r.uri is not None for r in res if r.document_id != fruit)


@pytest.mark.slow
def test_reupsert_replaces_chunks(doc_index):
    before = doc_index.get_catalog_stats()
    doc_index.upsert_document(
        "file:///corpus/space.txt", "Rockets launch to orbit."
    )
    after = doc_index.get_catalog_stats()
    assert after["documents"] == before["documents"]
    assert after["chunks"] <= before["chunks"]
    res = doc_index.query_documents("rockets orbit", max_documents=1).collect()
    assert res[0].uri == "file:///corpus/space.txt"


@pytest.mark.slow
def test_delete_document(doc_index):
    doc_index.upsert_document("file:///tmp/extra.txt", "Extra doc about cheese.")
    n = doc_index.get_catalog_stats()["documents"]
    doc_index.delete_document("file:///tmp/extra.txt")
    stats = doc_index.get_catalog_stats()
    assert stats["documents"] == n - 1
    assert doc_index.get_document_id("file:///tmp/extra.txt") is None


@pytest.mark.slow
def test_reupsert_then_delete_leaves_no_stale_chunks(spark, tmp_path):
    """Documents and chunks are written through a hidden staging
    directory and swapped in: after upsert, re-upsert of the same uris
    and a delete, no staging directory is left behind, the catalog
    counts match the tables, and no chunk of a replaced or deleted
    document survives in any bucket."""
    base = str(tmp_path / "swapidx")
    idx = SparkDocumentIndex(spark, base, vector_dim=16, chunk_size=32)
    idx.create()
    first = idx.upsert_documents(DOCS)
    second = idx.upsert_documents(
        [{"uri": d["uri"], "text": d["text"].upper()} for d in DOCS]
    )
    idx.delete_document(DOCS[0]["uri"])

    leftovers = [
        os.path.join(root, d)
        for root, dirs, _files in os.walk(base)
        for d in dirs
        if d.startswith("_staging-")
    ]
    assert leftovers == []
    live = {r.document_id for r in idx.documents().collect()}
    assert live == set(second[1:])
    chunk_docs = [
        r.document_id
        for r in spark.read.parquet(idx.index.path).select("document_id").collect()
    ]
    assert set(chunk_docs) == live  # nothing of first[*] or second[0]
    stats = idx.get_catalog_stats()
    assert stats["documents"] == len(live) == len(DOCS) - 1
    assert stats["chunks"] == len(chunk_docs)
    assert not set(first) & set(chunk_docs)


@pytest.mark.slow
def test_bulk_ingest_dataframe_path(spark, tmp_path):
    """upsert_documents_df: corpus DataFrame in, same query surface
    out; deterministic ids make re-ingest idempotent."""
    idx = SparkDocumentIndex(spark, str(tmp_path / "bulkidx"), vector_dim=16)
    idx.create()
    corpus = spark.createDataFrame(
        [
            ("s3://c/a.md", "alpha document body text here", "web"),
            ("s3://c/b.txt", "beta document entirely different", "web"),
            ("s3://c/noext", "gamma third text", "book"),
        ],
        ["uri", "text", "src"],
    )
    idx.upsert_documents_df(corpus, metadata_cols=("src",))
    docs = {r.uri: r for r in idx.documents().collect()}
    assert len(docs) == 3
    assert docs["s3://c/a.md"].doc_type == "md"
    assert docs["s3://c/noext"].doc_type is None
    assert docs["s3://c/b.txt"].metadata["src"] == "web"
    assert idx.get_catalog_stats()["documents"] == 3

    # re-ingest with one changed doc: replaced in place, not duplicated
    idx.upsert_documents_df(
        corpus.withColumn(
            "text",
            F.when(F.col("uri") == "s3://c/a.md",
                   F.lit("alpha body REVISED")).otherwise(F.col("text")),
        ),
        metadata_cols=("src",),
    )
    docs2 = idx.documents().collect()
    assert len(docs2) == 3
    assert {r.text for r in docs2 if r.uri == "s3://c/a.md"} == {
        "alpha body REVISED"
    }
    # retrieval works over the bulk-ingested corpus
    ranked = idx.query_documents("beta document", max_documents=2)
    assert len(ranked.collect()) >= 1


@pytest.mark.slow
def test_bulk_ingest_batch_hygiene(spark, tmp_path):
    """NULL uris raise; duplicate uris keep one deterministic winner;
    blank explicit doc_type falls back to extension inference; default
    metadata is an empty map like the list path."""
    idx = SparkDocumentIndex(spark, str(tmp_path / "hyg"), vector_dim=16)
    idx.create()

    with pytest.raises(ValueError, match="NULL uri"):
        idx.upsert_documents_df(
            spark.createDataFrame(
                [(None, "text body")], "uri string, text string"
            )
        )

    dup = spark.createDataFrame(
        [
            ("u://a.md", "bbb later crawl content", ""),
            ("u://a.md", "aaa earlier crawl content", ""),
        ],
        ["uri", "text", "dt"],
    )
    idx.upsert_documents_df(dup, doc_type_col="dt")
    rows = idx.documents().collect()
    assert len(rows) == 1
    assert rows[0].text == "aaa earlier crawl content"  # deterministic
    assert rows[0].doc_type == "md"  # blank explicit → inferred
    assert rows[0].metadata == {}    # empty map, not NULL
    # exactly one uri's chunks in the items table
    assert idx.get_catalog_stats()["chunks"] >= 1
    doc_ids = {
        r.document_id for r in idx.index.items().select("document_id").collect()
    }
    assert doc_ids == {rows[0].document_id}


@pytest.mark.slow
def test_query_documents_hybrid_lexical_arm_finds_exact_terms(spark, tmp_path):
    """Hybrid retrieval: the lexical arm must surface the document that
    literally contains the query terms even when the (deterministic)
    dense arm has no semantic signal. Uses its OWN index — the shared
    module fixture is mutated by earlier tests (space.txt's text is
    replaced), and with no lexical target the ranking would fall to
    dense ties broken by per-run random chunk uuids.

    Strict-win argument (uuid-proof): k_each ≥ total chunks, so every
    chunk is in the dense list; the lexical-rank-1 chunk therefore
    scores 1/(60+1) + 1/(60+r_dense) under max-pooling, strictly above
    any other document's best single-arm 1/(60+1)."""
    idx = SparkDocumentIndex(
        spark, f"{tmp_path}/hybidx", vector_dim=64, chunk_size=64
    )
    idx.create()
    for d in DOCS:
        idx.upsert_document(d["uri"], d["text"], metadata=d["metadata"])

    out = idx.query_documents_hybrid(
        "telescopes observe galaxies", max_documents=3
    ).collect()
    assert out and out[0].uri == "file:///corpus/space.txt"
    for r in out:
        assert r.doc_score > 0.0 and r.n_chunks >= 1

    # a different literal query flips the winner — lexical evidence,
    # not a fixture accident
    out2 = idx.query_documents_hybrid(
        "oranges citrus vitamin", max_documents=3
    ).collect()
    assert out2 and out2[0].uri == "file:///corpus/fruit.md"

    # filter_ast applies to BOTH arms. Chunk metadata carries
    # document_id/start_pos/end_pos (doc-level metadata lives in the
    # documents table — same split as the reference), so filter on the
    # chunk surface: restrict to the colors doc and the lexical space
    # winner cannot appear.
    colors_id = idx.get_document_id("file:///corpus/colors.txt")
    out3 = idx.query_documents_hybrid(
        "telescopes observe galaxies",
        max_documents=3,
        filter_ast={"document_id": {"$eq": colors_id}},
    ).collect()
    assert out3 and all(r.uri == "file:///corpus/colors.txt" for r in out3)


def test_upsert_batch_job_budget(spark, tmp_path):
    """Smoke-tier job budget for a document upsert: a 20-document
    DataFrame batch that replaces 2 stored uris runs at most 8 Spark
    jobs: two (an exchange, then the step's own job) for each of the
    uri-deduped docs checkpoint, the documents MERGE, the split+embed
    chunk checkpoint (which also runs every batch check) and the chunk
    MERGE. The
    batch's ~1000 chunks cover all 64 buckets, so the replaced chunks
    need no bucket probe. The session lists the 64 bucket directories
    without a listing job, as ``get_spark`` configures it."""
    listing = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    saved = spark.conf.get(listing)
    spark.conf.set(listing, "4096")
    try:
        idx = SparkDocumentIndex(
            spark, str(tmp_path / "docidx"), vector_dim=16, chunk_size=16
        )
        idx.create()

        def docs(uris, salt):
            text = " ".join(f"w{(salt * 31 + i) % 97}" for i in range(200))
            return [{"uri": u, "text": f"{u} {text}"} for u in uris]

        idx.upsert_documents(docs(["file:///a.txt", "file:///b.txt"], 0))
        batch = spark.createDataFrame(
            docs(["file:///a.txt", "file:///b.txt"], 1)
            + docs([f"file:///new{i}.txt" for i in range(18)], 2)
        )
        sc = spark.sparkContext
        group = f"upsert-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "20-document upsert replacing 2 uris")
        try:
            idx.upsert_documents_df(batch)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    finally:
        spark.conf.set(listing, saved)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 8
    assert idx.documents().count() == 20
    chunks = idx.index.items()
    assert chunks.count() >= 800
    assert chunks.select("document_id").distinct().count() == 20
    assert chunks.filter(F.col("start_pos") == 0).count() == 20  # old chunks gone
