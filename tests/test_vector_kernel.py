"""The shared brute-force cosine kernel of ``operators/similarity.py``.

Pure-numpy checks of its parts (rounding, zero norms, tie-breaks,
blocking), then a small Spark matrix over the four operators built on
it: results must not depend on Arrow batch size or input partitioning,
a NULL or ragged vector raises one clear error, and the matmul join
streams its driver collect.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectra_py_spark.operators import similarity as sim

DIM = 6
SCHEMA = "vec_id BIGINT, embedding ARRAY<DOUBLE>"


# -- pure numpy ---------------------------------------------------------------


def _scores(rows: np.ndarray, queries: np.ndarray) -> np.ndarray:
    """Rounded rows×queries cosines from the kernel's blocks."""
    blocks = list(sim._sim_blocks(sim._unit(rows), sim._unit(queries)))
    return np.vstack([b for _, b in blocks])


def test_exact_half_rounds_away_from_zero():
    x = np.array([0.0000025, -0.0000025, 0.1234565, 0.0000005])
    assert (np.abs(x) * 1e6 % 1 == 0.5).all()  # exact halves in float
    np.testing.assert_array_equal(
        sim._round_half_away(x), [0.000003, -0.000003, 0.123457, 0.000001]
    )
    assert np.round(x[0], 6) == 0.000002  # numpy would round to even


def test_zero_norm_row_scores_zero():
    rows = np.array([[0.0, 0.0, 0.0], [1.0, 2.0, 2.0]])
    got = _scores(rows, np.array([[3.0, 0.0, 4.0], [0.0, 0.0, 0.0]]))
    assert not np.isnan(got).any()
    np.testing.assert_array_equal(got[0], [0.0, 0.0])
    np.testing.assert_array_equal(got[:, 1], [0.0, 0.0])
    assert got[1, 0] == sim._round_half_away(np.array([11.0 / 15.0]))[0]


def test_rounded_tie_at_k_boundary_keeps_smaller_id():
    # ids 9 and 3 differ before rounding (9 is ahead) but tie at 6 dp
    cos = {5: 0.9, 9: 0.7000001, 3: 0.6999999, 4: 0.1}
    ids = np.array(list(cos))
    rows = np.array([[c, np.sqrt(1.0 - c * c)] for c in cos.values()])
    s = _scores(rows, np.array([[1.0, 0.0]]))
    assert s[1, 0] == s[2, 0] == 0.7
    q, r = sim._top_k(s.T, ids, 2)
    assert q.tolist() == [0, 0]
    assert ids[r].tolist() == [5, 3]


def test_top_k_matches_full_sort_reference():
    """The loop-free top-k equals a full (score desc, key asc) sort of
    each row, and the finisher's rank-cut over two partial top-k sets
    gives the same answer."""
    rng = np.random.default_rng(0)
    s = rng.integers(0, 5, size=(40, 30)) / 4.0  # many exact ties
    key = rng.permutation(30)
    rows, cols = sim._top_k(s, key, 4)
    ref = np.lexsort((np.tile(key, (40, 1)), -s), axis=1)[:, :4]
    np.testing.assert_array_equal(rows, np.repeat(np.arange(40), 4))
    np.testing.assert_array_equal(cols, ref.ravel())
    grp, kk, sc = [], [], []
    for p in (np.arange(0, 15), np.arange(15, 30)):
        r, c = sim._top_k(s[:, p], key[p], 4)
        grp.append(r)
        kk.append(key[p][c])
        sc.append(s[r, p[c]])
    grp, kk, sc = map(np.concatenate, (grp, kk, sc))
    keep = sim._rank_cut(grp, kk, sc, 4)
    np.testing.assert_array_equal(kk[keep], key[ref.ravel()])


def test_blocked_equals_unblocked():
    rng = np.random.default_rng(1)
    a = sim._unit(rng.normal(size=(100, 4)))
    b = sim._unit(rng.normal(size=(100_000, 4)))
    blocks = list(sim._sim_blocks(a, b))
    assert len(blocks) > 1
    assert [s for s, _ in blocks] == list(range(0, 100, len(blocks[0][1])))
    np.testing.assert_array_equal(
        np.vstack([blk for _, blk in blocks]), sim._round_half_away(a @ b.T)
    )


# -- Spark: the four operators on the kernel ---------------------------------

QUERIES = np.random.default_rng(7).normal(size=(5, DIM)).tolist()
OPERATORS = {
    "cosine_topk_batch": lambda df: sim.cosine_topk_batch(df, QUERIES, k=4),
    "cosine_similarity_join": lambda df: sim.cosine_similarity_join(
        df, 0.5, strategy="matmul"
    ),
    "semantic_dedup": lambda df: sim.semantic_dedup(
        df, threshold=0.5, n_cells=2, dim=DIM, extra_cols=()
    ),
    "margin_bitext_mine": lambda df: sim.margin_bitext_mine(
        df.filter(F.col("vec_id") % 2 == 0),
        df.filter(F.col("vec_id") % 2 == 1),
        k=3, strategy="matmul",
    ),
}


def _rows() -> list:
    """48 rows: shuffled ids, exact duplicates (rounded ties broken by
    id) and one zero vector."""
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(48, DIM))
    vecs[5] = vecs[17]
    vecs[30] = vecs[17]
    vecs[8] = 0.0
    ids = rng.permutation(48)
    return [(int(i), v.tolist()) for i, v in zip(ids, vecs)]


@pytest.fixture(scope="module")
def vectors(spark):
    return spark.createDataFrame(_rows(), SCHEMA)


@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_rows_invariant_to_batch_size_and_partitioning(spark, vectors, op):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    got = {}
    try:
        for batch_rows in (7, 10000):
            spark.conf.set(key, str(batch_rows))
            for layout in ("coalesce(1)", "repartition(4)"):
                df = (vectors.coalesce(1) if layout == "coalesce(1)"
                      else vectors.repartition(4))
                got[(batch_rows, layout)] = sorted(
                    map(tuple, OPERATORS[op](df).collect())
                )
    finally:
        spark.conf.set(key, saved)
    first = got[(10000, "coalesce(1)")]
    assert first
    for cfg, rows in got.items():
        assert rows == first, cfg


@pytest.mark.parametrize(
    "bad", [None, [1.0, 2.0, 3.0]], ids=["null", "ragged"]
)
@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_null_or_ragged_vector_raises_one_clear_error(spark, op, bad):
    rows = _rows() + [(48, bad)]
    df = spark.createDataFrame(rows, SCHEMA)
    msg = f"{op}: the vector column must hold non-NULL vectors of one dim"
    with pytest.raises(Exception, match=msg):
        OPERATORS[op](df).collect()


def test_matmul_join_streams_its_driver_collect(vectors, monkeypatch):
    want = sorted(map(tuple, sim.cosine_similarity_join(
        vectors, 0.5, strategy="matmul").collect()))

    def refuse(self, *args, **kwargs):
        raise AssertionError("DataFrame.collect on the matmul join path")

    monkeypatch.setattr(DataFrame, "collect", refuse)
    out = sim.cosine_similarity_join(vectors, 0.5, strategy="matmul")
    monkeypatch.undo()
    assert want and sorted(map(tuple, out.collect())) == want


def test_bitext_matmul_with_an_empty_side_mines_nothing(vectors):
    src = vectors.filter(F.col("vec_id") % 2 == 0)
    empty = vectors.filter(F.col("vec_id") < 0)
    out = sim.margin_bitext_mine(src, empty, k=3, strategy="matmul")
    assert out.collect() == []
