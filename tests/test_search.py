"""KNN invariants from the reference test suite
(/root/reference/tests/test_flight.py:88-114): exactly k rows, schema =
selected columns + __DISTANCE__, plus exactness vs numpy brute force —
which the reference never asserts (SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fenix_spark.operators.search import DISTANCE_COL, knn, similarity_join


@pytest.fixture(scope="module")
def emb_np(embeddings):
    rows = embeddings.select("vec_id", "embedding", "label").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype="float64")
    labels = np.array([r["label"] for r in rows])
    return ids, mat, labels


@pytest.fixture(scope="module")
def target(emb_np):
    ids, mat, _ = emb_np
    return mat[list(ids).index(0)]


@pytest.mark.parametrize("metric", ["l2", "cosine", "dot"])
def test_knn_matches_numpy(embeddings, emb_np, target, metric):
    ids, mat, _ = emb_np
    if metric == "l2":
        d = np.linalg.norm(mat - target, axis=1)
    elif metric == "cosine":
        d = 0.5 - 0.5 * (mat @ target) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(target))
    else:
        d = -(mat @ target)
    expect = ids[np.lexsort((ids, d))][:10].tolist()

    got = knn(embeddings, "embedding", target, metric=metric, k=10, id_col="vec_id")
    assert [r["vec_id"] for r in got.collect()] == expect


def test_knn_row_count_and_schema(embeddings, target):
    out = knn(embeddings, "embedding", target, k=7, id_col="vec_id")
    assert out.count() == 7
    assert out.columns == embeddings.columns + [DISTANCE_COL]


def test_knn_filter_and_select(embeddings, emb_np, target):
    ids, mat, labels = emb_np
    out = knn(
        embeddings,
        "embedding",
        target,
        metric="l2",
        k=5,
        filter=F.col("label") == 3,
        select=["vec_id", "label"],
        id_col="vec_id",
    )
    rows = out.collect()
    assert out.columns == ["vec_id", "label", DISTANCE_COL]
    assert all(r["label"] == 3 for r in rows)
    mask = labels == 3
    d = np.linalg.norm(mat[mask] - target, axis=1)
    expect = ids[mask][np.lexsort((ids[mask], d))][:5].tolist()
    assert [r["vec_id"] for r in rows] == expect


def test_knn_plan_has_no_shuffle(embeddings, target):
    """C1 must compile to TakeOrderedAndProject (per-partition top-k +
    driver merge) — no Exchange, no global Sort. This is the plan that
    survives a 100 TB scan."""
    plan = knn(embeddings, "embedding", target, k=10)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_similarity_join_brute_guards_oversized_right(embeddings):
    """The BLAS path collects + broadcasts the right side; above the
    row bound it must fail fast BEFORE collecting, pointing at the
    large×large alternative."""
    import pytest

    from fenix_spark.operators.search import similarity_join_brute

    with pytest.raises(ValueError, match="batch_probe_search"):
        similarity_join_brute(
            embeddings, embeddings, "embedding", k=1, max_broadcast_rows=10
        )


def test_similarity_join_self_top1(embeddings, emb_np):
    """Self-join top-1 under l2 must return each row paired with itself
    (distance 0)."""
    n = embeddings.count()
    out = similarity_join(embeddings, embeddings, "embedding", metric="l2", k=1).collect()
    assert len(out) == n
    assert all(r["left_id"] == r["right_id"] and r[DISTANCE_COL] == 0.0 for r in out)


def test_exclude_self_disjoint_ids_gets_full_k(spark):
    """ADVICE r03: with exclude_self=True and k == |right|, a left id
    ABSENT from the right side masks nothing, so it must still receive
    all |right| candidates — not |right|-1."""
    from fenix_spark.operators.search import similarity_join_brute

    right = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(3)], "vec_id bigint, embedding array<double>"
    )
    left = spark.createDataFrame(
        [(100, [0.0, 0.0]), (1, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    out = similarity_join_brute(
        left, right, "embedding", metric="l2", k=3, exclude_self=True
    ).collect()
    by_left = {}
    for r in out:
        by_left.setdefault(r["left_id"], set()).add(r["right_id"])
    assert by_left[100] == {0, 1, 2}  # disjoint id: full k
    assert by_left[1] == {0, 2}  # present id: self masked, k shrinks


def test_similarity_join_brute_empty_right(spark):
    from fenix_spark.operators.search import similarity_join_brute

    right = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    left = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    assert similarity_join_brute(left, right, "embedding", k=2).count() == 0


@pytest.mark.parametrize("metric", ["l2", "cosine", "dot"])
def test_batch_knn_brute_matches_numpy(embeddings, emb_np, metric):
    """Transposed brute batch-KNN (query-side broadcast, one corpus
    scan): every query's top-k equals the numpy exact answer with the
    (distance, id) tie order."""
    from fenix_spark.operators.search import batch_knn_brute

    ids, mat, _ = emb_np
    targets = [mat[i].tolist() for i in range(0, 40, 7)]
    out = batch_knn_brute(
        embeddings, "embedding", targets, metric=metric, k=5, right_id="vec_id"
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_index"], []).append(r["vec_id"])
    t = np.array(targets)
    if metric == "l2":
        d = np.sqrt(((mat[None, :, :] - t[:, None, :]) ** 2).sum(axis=2))
    elif metric == "cosine":
        d = 0.5 - 0.5 * (t @ mat.T) / (
            np.linalg.norm(t, axis=1)[:, None] * np.linalg.norm(mat, axis=1)[None, :]
        )
    else:
        d = -(t @ mat.T)
    for qi in range(len(targets)):
        order = np.lexsort((ids, d[qi]))[:5]
        assert by_q[qi] == list(ids[order]), (metric, qi)


def test_batch_knn_brute_tie_break_is_id_stable(spark):
    """Many corpus rows at EXACTLY the same distance: the returned k
    must be the lowest ids, independent of partitioning/chunking —
    the stable-argsort + id-sorted-chunk contract."""
    from fenix_spark.operators.search import batch_knn_brute

    # 60 identical vectors (distance ties everywhere), shuffled layout
    rows = [(int(i), [1.0, 2.0]) for i in range(59, -1, -1)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>").repartition(7)
    out = batch_knn_brute(
        df, "embedding", [[1.0, 2.0]], metric="l2", k=4, right_id="vec_id",
        chunk_rows=3,  # force many chunks inside each partition
    ).collect()
    assert [r["vec_id"] for r in out] == [0, 1, 2, 3]
    assert all(r["rank"] == i + 1 for i, r in enumerate(out))


def test_batch_knn_brute_guards(spark, embeddings):
    from fenix_spark.operators.search import batch_knn_brute

    with pytest.raises(ValueError, match="max_targets"):
        batch_knn_brute(
            embeddings, "embedding", [[0.0] * 4] * 11, k=2, max_targets=10
        )
    with pytest.raises(ValueError, match="non-empty"):
        batch_knn_brute(embeddings, "embedding", [], k=2)


def test_batch_knn_brute_string_ids_and_buffer_reduction(spark):
    """String id columns keep their type end-to-end, and the in-scan
    candidate-buffer reduction (forced by tiny chunk_rows on many
    chunks) changes nothing about the result."""
    from fenix_spark.operators.search import batch_knn_brute

    rows = [(f"doc-{i:04d}", [float(i), float(i % 13)]) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id string, v array<double>").repartition(3)
    out = batch_knn_brute(
        df, "v", [[7.0, 7.0], [250.0, 3.0]], metric="l2", k=3,
        right_id="doc_id", chunk_rows=16,  # ~9 chunks/partition → reductions fire
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_index"], []).append(r["doc_id"])
    mat = np.array([v for _, v in rows])
    ids = np.array([d for d, _ in rows])
    for qi, t in enumerate([[7.0, 7.0], [250.0, 3.0]]):
        d = np.sqrt(((mat - np.array(t)) ** 2).sum(axis=1))
        want = [ids[i] for i in sorted(range(len(ids)), key=lambda i: (d[i], ids[i]))[:3]]
        assert by_q[qi] == want, qi


def test_batch_knn_brute_probe_cells_match_numpy_masked_topk(spark):
    """With ``probe_cells`` each target's answer is the exact top-k
    over the rows of its own cells only: ids in (distance, id) order,
    distances to rtol 1e-9, short answers when the cells hold fewer
    than k rows, none for a target probing no cell."""
    from fenix_spark.operators.search import batch_knn_brute

    rng = np.random.default_rng(5)
    n, k = 400, 6
    mat = rng.standard_normal((n, 8))
    cell = rng.integers(0, 9, n)
    cell[cell == 8] = 7  # cell 8 is empty
    df = spark.createDataFrame(
        [(i, mat[i].tolist(), int(cell[i])) for i in range(n)],
        "vec_id bigint, embedding array<double>, __CODED_ID__ int",
    ).repartition(3)
    targets = rng.standard_normal((5, 8))
    probe = [[0, 3], [5], [8], [], [1, 2, 4, 6]]
    few = [i for i in range(n) if cell[i] == 5][k - 2 :]
    df = df.where(~F.col("vec_id").isin(few))  # cell 5 holds k-2 rows
    out = batch_knn_brute(
        df, "embedding", targets.tolist(), k=k, right_id="vec_id",
        chunk_rows=16, probe_cells=probe,  # many chunks: reductions fire
    ).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r["query_index"], []).append((r["vec_id"], r[DISTANCE_COL]))
    ids = np.setdiff1d(np.arange(n), few)
    d = np.sqrt(((mat[ids][None, :, :] - targets[:, None, :]) ** 2).sum(axis=2))
    for qi, cells in enumerate(probe):
        m = np.isin(cell[ids], cells)
        order = np.lexsort((ids[m], d[qi][m]))[:k]
        got = by_q.get(qi, [])
        assert [i for i, _ in got] == list(ids[m][order]), qi
        np.testing.assert_allclose([x for _, x in got], d[qi][m][order], rtol=1e-9)
    assert len(by_q[1]) == k - 2 and 2 not in by_q and 3 not in by_q
    with pytest.raises(ValueError, match="one cell list per target"):
        batch_knn_brute(df, "embedding", targets.tolist(), probe_cells=probe[:2])


def test_batch_knn_brute_skips_null_vectors(spark):
    from fenix_spark.operators.search import batch_knn_brute

    rows = [(1, [0.0, 0.0]), (2, None), (3, [1.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, v array<double>")
    out = batch_knn_brute(df, "v", [[0.0, 0.0]], k=5, right_id="vec_id").collect()
    assert [r["vec_id"] for r in out] == [1, 3]
