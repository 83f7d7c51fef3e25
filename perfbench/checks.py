"""Correctness checks for benchmark outputs, run outside the timed regions.

Top-k results are checked against a numpy brute force over the generated
vectors: same filter, ties broken by id, and for ``cosine_topk_batch``
the same round-half-away-from-zero to 6 decimals. Engine and numpy sum
in different orders, so a result that differs from the exact brute force
is still accepted when it is a valid top-k within a float tolerance.
Every check returns None when the output is correct, else a one-line
reason.
"""

from __future__ import annotations

import hashlib
from collections.abc import Mapping, Sequence

import numpy as np

SCORE_DP = 6
RAW_TOL = 1e-9                 # engine vs numpy, unrounded cosine
CONNECTOR = "\n\n...\n\n"      # what the renderer puts between chunks


def round_half_away(a: np.ndarray, dp: int = SCORE_DP) -> np.ndarray:
    """Round half away from zero (Spark ``round`` semantics; numpy's
    ``round`` is half-to-even)."""
    f = 10.0 ** dp
    return np.sign(a) * np.floor(np.abs(a) * f + 0.5) / f


def cosine_scores(vecs: np.ndarray, q: np.ndarray) -> np.ndarray:
    m = np.asarray(vecs, dtype=np.float64)
    qv = np.asarray(q, dtype=np.float64)
    mn = np.linalg.norm(m, axis=1)
    mn[mn == 0.0] = 1.0
    qn = np.linalg.norm(qv) or 1.0
    return (m / mn[:, None]) @ (qv / qn)


def expected_topk(ids: Sequence, scores: np.ndarray, k: int) -> list[tuple]:
    """Top ``k`` of ``(id, score)`` by score descending, ties by id."""
    ids = np.asarray(ids)
    n = len(scores)
    take = min(k, n)
    if take == 0:
        return []
    kth = np.partition(scores, n - take)[n - take]
    cand = np.flatnonzero(scores >= kth)  # every row tied with the k-th
    order = cand[np.lexsort((ids[cand], -scores[cand]))][:take]
    return [(ids[i].item(), float(scores[i])) for i in order]


def check_topk(got: Sequence[tuple], ids: Sequence, scores: np.ndarray,
               k: int, tol: float) -> str | None:
    """``got`` is the engine's ``[(id, score)]``; ``ids``/``scores`` the
    brute-force candidates (already filtered). With ``tol == 0`` (rounded
    scores, where ties are real and must break by id) only the exact
    brute force passes."""
    want = expected_topk(ids, scores, k)
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for g, w in zip(got, want):
        if g[0] != w[0] or abs(g[1] - w[1]) > tol:
            break
    else:
        return None
    if tol == 0:
        return f"got {g}, brute force {w}"
    # Not the exact brute force: accept a valid top-k under near-ties.
    truth = dict(zip(ids, (float(s) for s in scores)))
    for gid, gs in got:
        if gid not in truth:
            return f"id {gid} is not a filtered candidate"
        if abs(truth[gid] - gs) > tol:
            return f"id {gid} scored {gs}, brute force {truth[gid]}"
    for a, b in zip(got, got[1:]):
        if (-a[1], a[0]) > (-b[1], b[0]):
            return f"rows out of order at {a[0]}, {b[0]}"
    floor = min(truth[g[0]] for g in got)
    chosen = {g[0] for g in got}
    missed = [i for i, s in truth.items() if i not in chosen and s > floor + tol]
    if missed:
        return f"missed {missed[0]} scoring {truth[missed[0]]} above the k-th {floor}"
    return None


def doc_id(uri: str) -> str:
    """The document index's id for a uri (md5 of the uri)."""
    return hashlib.md5(uri.encode()).hexdigest()


def check_rag(result: Sequence[tuple], live: Mapping[str, str],
              deleted: set[str], max_documents: int) -> str | None:
    """``render_document_sections`` output against the ledger of live
    documents (uri -> current text)."""
    if not result:
        return "no documents returned"
    if len(result) > max_documents:
        return f"{len(result)} documents, limit {max_documents}"
    for did, uri, score, sections in result:
        if uri in deleted:
            return f"deleted document {uri} returned"
        if uri not in live:
            return f"unknown document {uri} returned"
        if did != doc_id(uri):
            return f"document id {did} does not match uri {uri}"
        if not sections:
            return f"no sections for {uri}"
        text = live[uri]
        for sec in sections:
            pieces = [p for p in sec.text.split(CONNECTOR) if p]
            if not pieces or any(p not in text for p in pieces):
                return f"section of {uri} is not from its current text"
    scores = [r[2] for r in result]
    if scores != sorted(scores, reverse=True):
        return "documents not ordered by score"
    return None


def canonical_rows(pdf) -> list[tuple[str, ...]]:
    """Columns sorted by name, rows sorted, cells as pandas typed them —
    the registry's oracle comparison."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    if len(pdf):
        pdf = pdf.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    return [tuple(str(v) for v in row) for row in pdf.itertuples(index=False, name=None)]


def check_frame(got, want) -> str | None:
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows, oracle {len(want)}"
    if canonical_rows(got) != canonical_rows(want):
        return "values differ from the oracle"
    return None


def check_chunks(pdf, texts: Sequence[str]) -> str | None:
    """``doc_chunks`` rows: each chunk is the slice of its document's text
    at its positions (end inclusive), and every document has a chunk."""
    seen = set()
    for did, text, start, end in zip(pdf["document_id"], pdf["text"],
                                     pdf["start_pos"], pdf["end_pos"]):
        doc = texts[int(did)]
        if doc[int(start):int(end) + 1] != text:
            return f"chunk of document {did} at {start}..{end} is not its text"
        seen.add(int(did))
    missing = [i for i, t in enumerate(texts) if t and i not in seen]
    if missing:
        return f"document {missing[0]} has no chunks"
    return None
