"""Seeded input generation for the benchmark workloads.

Everything a workload feeds the engine comes from here: item vectors,
query vectors, document text and the operation schedule. One seed gives
byte-identical Parquet files and an identical schedule; each input kind
draws from its own child stream of the seed, so adding a draw to one
kind does not shift the others. Inputs are written with pyarrow before
any timing starts, and the engine reads only these files (plus the
query vectors and texts it is handed as call arguments).
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
N_CATS = 10
TOP_K = 10
FILTER_CATS = 3

_STREAMS = {"vectors": 1, "corpus": 2, "schedule": 3, "rounds": 4}


def _vocab(n: int = 600) -> tuple[str, ...]:
    """A fixed pseudo-word vocabulary (independent of the run seed)."""
    rng = np.random.default_rng(20240601)
    syll = ["ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "qu",
            "bra", "cle", "dro", "fen", "gal", "hix", "jor", "lum"]
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(1, 4))
        words.add("".join(syll[int(i)] for i in rng.integers(0, len(syll), k)))
    return tuple(sorted(words))


VOCAB = _vocab()
# Zipf-like word frequencies, so documents share words and a query's
# embedding lands near some documents more than others.
_WEIGHTS = 1.0 / (np.arange(len(VOCAB)) + 10.0)
_WEIGHTS /= _WEIGHTS.sum()


def rng_for(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, _STREAMS[stream]]))


def make_text(rng: np.random.Generator, nbytes: int) -> str:
    """About ``nbytes`` of ASCII prose: sentences of vocabulary words,
    paragraphs separated by blank lines (the splitter's separators)."""
    words = rng.choice(len(VOCAB), size=max(4, nbytes // 5), p=_WEIGHTS)
    parts, size, i = [], 0, 0
    while size < nbytes and i < len(words):
        n = int(rng.integers(6, 16))
        sent = " ".join(VOCAB[int(w)] for w in words[i:i + n]).capitalize() + "."
        i += n
        sep = "\n\n" if rng.random() < 0.2 else " "
        parts.append(sent + sep)
        size += len(sent) + len(sep)
    return "".join(parts).strip()[:nbytes]


def query_text(rng: np.random.Generator) -> str:
    return " ".join(VOCAB[int(w)] for w in rng.choice(len(VOCAB), 3, p=_WEIGHTS))


def unit_normal(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.standard_normal((n, DIM)).astype(np.float32)


def query_filter(rng: np.random.Generator) -> tuple[int, ...]:
    return tuple(sorted(int(c) for c in rng.choice(N_CATS, FILTER_CATS, replace=False)))


def item_id(n: int) -> str:
    # zero-padded, so string order (the engine's tie-break) is numeric order
    return f"v{n:07d}"


def _vec_list(vecs: np.ndarray, dtype) -> pa.Array:
    flat = pa.array(np.ascontiguousarray(vecs, dtype=np.float32).ravel())
    return pa.FixedSizeListArray.from_arrays(flat, DIM).cast(pa.list_(dtype))


def write_items(path: Path, ids: list[str], vecs: np.ndarray, cats: np.ndarray) -> None:
    """Vector-index input: ``id``, ``vector ARRAY<DOUBLE>``, indexed ``cat``."""
    pq.write_table(
        pa.table({
            "id": pa.array(ids, pa.string()),
            "vector": _vec_list(vecs, pa.float64()),
            "cat": pa.array(cats, pa.int32()),
        }),
        path,
    )


def write_embeddings(path: Path, vecs: np.ndarray, cats: np.ndarray) -> None:
    """The registry's ``embeddings`` table schema: vec_id, embedding, label."""
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(len(vecs)), pa.int64()),
            "embedding": _vec_list(vecs, pa.float32()),
            "label": pa.array(cats, pa.int32()),
        }),
        path,
    )


def write_docs(path: Path, uris: list[str], texts: list[str]) -> None:
    pq.write_table(pa.table({"uri": pa.array(uris), "text": pa.array(texts)}), path)


def write_registry_docs(path: Path, texts: list[str]) -> None:
    """The registry's ``documents`` table schema."""
    n = len(texts)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * n),
            "source": pa.array([f"src{i % 5}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        path,
    )


def doc_uri(seed: int, n: int) -> str:
    return f"doc://s{seed}/{n:06d}.txt"


# -- serve ------------------------------------------------------------------

SERVE_MIX = ("query",) * 6 + ("batch",) + ("rag",) * 3


@dataclass
class ServeInputs:
    data_dir: Path
    vecs: np.ndarray                  # item vectors, row i is item_id(i)
    cats: np.ndarray
    uris: list[str]
    texts: list[str]
    rounds: list[list[tuple]]         # (kind, *params) per op

    @property
    def items_path(self) -> Path:
        return self.data_dir / "items.parquet"

    @property
    def corpus_path(self) -> Path:
        return self.data_dir / "corpus.parquet"


def make_serve(seed: int, data_dir: Path, n_items: int, n_docs: int,
               doc_bytes: tuple[int, int], n_rounds: int, batch_q: int) -> ServeInputs:
    """Standing index + corpus, and ``n_rounds`` rounds of the 6:1:3
    query / batch / rag mix, each round shuffled."""
    data_dir.mkdir(parents=True, exist_ok=True)
    rv = rng_for(seed, "vectors")
    vecs = unit_normal(rv, n_items)
    cats = rv.integers(0, N_CATS, n_items).astype(np.int32)
    rc = rng_for(seed, "corpus")
    uris = [doc_uri(seed, i) for i in range(n_docs)]
    texts = [make_text(rc, int(rc.integers(*doc_bytes))) for _ in range(n_docs)]
    write_items(data_dir / "items.parquet", [item_id(i) for i in range(n_items)], vecs, cats)
    write_embeddings(data_dir / "embeddings.parquet", vecs, cats)
    write_docs(data_dir / "corpus.parquet", uris, texts)
    write_registry_docs(data_dir / "documents.parquet", texts)

    rs = rng_for(seed, "schedule")
    rounds = []
    for _ in range(n_rounds):
        ops = []
        for kind in rs.permutation(np.array(SERVE_MIX)):
            if kind == "query":
                ops.append(("query", unit_normal(rs, 1)[0], query_filter(rs)))
            elif kind == "batch":
                ops.append(("batch", unit_normal(rs, batch_q)))
            else:
                ops.append(("rag", query_text(rs)))
        rounds.append(ops)
    return ServeInputs(data_dir, vecs, cats, uris, texts, rounds)


# -- ingest -----------------------------------------------------------------


@dataclass
class IngestRound:
    docs_path: Path                   # one upsert batch: fresh and re-upserted
    fresh: dict[str, str]             # uri -> text, new documents
    reup: dict[str, str]              # uri -> new text, existing documents
    deletes: list[str]                # uris of live documents
    rag_texts: list[str]              # one read after each document write
    item_upserts: list[tuple[str, np.ndarray, int]]  # (id, vector, cat)
    item_delete: str
    query: tuple[np.ndarray, tuple[int, ...]]        # read after the commit


@dataclass
class IngestInputs:
    data_dir: Path
    vecs: np.ndarray
    cats: np.ndarray
    rounds: list[IngestRound]

    @property
    def items_path(self) -> Path:
        return self.data_dir / "items.parquet"


def make_ingest(seed: int, data_dir: Path, n_items: int, n_rounds: int,
                fresh: int, reupserts: int, deletes: int, vec_upserts: int,
                doc_bytes: tuple[int, int], warm_fresh: int) -> IngestInputs:
    """A standing vector index plus ``n_rounds`` write rounds. The
    choices of which documents to re-upsert or delete and which items to
    update are drawn from a simulated ledger, so every write targets a
    live document or item. Round 0 is the warm-up: one call of each op
    type, upserting ``warm_fresh`` documents."""
    data_dir.mkdir(parents=True, exist_ok=True)
    rv = rng_for(seed, "vectors")
    vecs = unit_normal(rv, n_items)
    cats = rv.integers(0, N_CATS, n_items).astype(np.int32)
    write_items(data_dir / "items.parquet", [item_id(i) for i in range(n_items)], vecs, cats)
    write_embeddings(data_dir / "embeddings.parquet", vecs, cats)

    rr = rng_for(seed, "rounds")
    live_docs: list[str] = []
    live_items = list(range(n_items))
    next_doc, next_item = 0, n_items
    rounds = []
    for r in range(n_rounds):
        new = {}
        for _ in range(fresh if r else warm_fresh):
            new[doc_uri(seed, next_doc)] = make_text(rr, int(rr.integers(*doc_bytes)))
            next_doc += 1
        # re-upserts target documents live before this round; deletes run
        # after the upsert, so round 0 deletes one of its own documents
        n_reup = reupserts if live_docs else 0
        pool = live_docs or list(new)
        n_del = deletes if r else 1
        picked = rr.choice(len(pool), n_reup + n_del, replace=False)
        reup = {pool[int(i)]: make_text(rr, int(rr.integers(*doc_bytes)))
                for i in picked[:n_reup]}
        dels = [pool[int(i)] for i in picked[n_reup:]]
        live_docs = [u for u in live_docs + list(new) if u not in set(dels)]
        # item writes: updates of live items, then inserts of new ids
        n_upd = vec_upserts - vec_upserts // 2
        picked = rr.choice(len(live_items), n_upd + 1, replace=False)
        ups = [(item_id(live_items[int(i)]), unit_normal(rr, 1)[0], int(rr.integers(N_CATS)))
               for i in picked[:n_upd]]
        for _ in range(vec_upserts - n_upd):
            ups.append((item_id(next_item), unit_normal(rr, 1)[0], int(rr.integers(N_CATS))))
            live_items.append(next_item)
            next_item += 1
        vdel_n = live_items[int(picked[n_upd])]
        live_items.remove(vdel_n)
        path = data_dir / f"round{r}_docs.parquet"
        batch = {**new, **reup}
        write_docs(path, list(batch), list(batch.values()))
        rounds.append(IngestRound(
            path, new, reup, dels, [query_text(rr) for _ in range(1 + len(dels))],
            ups, item_id(vdel_n), (unit_normal(rr, 1)[0], query_filter(rr)),
        ))
    write_registry_docs(data_dir / "documents.parquet", list(rounds[0].fresh.values()))
    return IngestInputs(data_dir, vecs, cats, rounds)
