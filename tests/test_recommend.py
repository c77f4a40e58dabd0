"""ALS pipeline gates (SURVEY.md §5.2 item 2): the RMSE tolerance check
mirroring the reference's printed metric (model-als.py:127-129), plus shape
invariants of the flattened recommendation output."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from recommendation_system_big_data_spark.catalog import table_fingerprint
from recommendation_system_big_data_spark.operators.recommend import (
    TOP_K,
    als_recommend_topk,
    als_recommend_user_subset,
    als_rmse,
    ratings_from_events,
)


def test_rmse_within_tolerance(spark, sf_dir):
    row = als_rmse(spark, sf_dir).collect()[0]
    assert row["metric"] == "rmse"
    # ratings are value/40 ∈ [0, ~5]; a sane factorization lands well under
    # the ratings' own stddev. Generous bound — this is a sanity gate, not
    # a model-quality benchmark. The same band is now enforced IN-QUERY
    # (recommend.RMSE_BAND, VERDICT r11 #7) so the driver's rows-only
    # check errors on a broken factorization too.
    from recommendation_system_big_data_spark.operators.recommend import (
        RMSE_BAND,
    )

    lo, hi = RMSE_BAND
    assert lo < row["value"] < hi, row


def test_recommend_user_subset_shape(spark, sf_dir):
    """model-als.py:131-139 parity: exactly one user, 30 flat rows with
    contiguous rank positions, and the user is the requested (minimum) id."""
    rows = als_recommend_user_subset(spark, sf_dir).collect()
    assert len(rows) == 30, len(rows)
    users = {r["user_id"] for r in rows}
    min_user = (
        ratings_from_events(spark, sf_dir).agg({"user_id": "min"}).collect()[0][0]
    )
    assert users == {min_user}
    assert sorted(r["rank_pos"] for r in rows) == list(range(1, 31))


def test_recommend_topk_shape(spark, sf_dir):
    recs = als_recommend_topk(spark, sf_dir)
    n_users = ratings_from_events(spark, sf_dir).select("user_id").distinct().count()
    rows = recs.collect()
    assert len(rows) == n_users * TOP_K
    per_user = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append(r["rank_pos"])
    for user, ranks in per_user.items():
        assert sorted(ranks) == list(range(1, TOP_K + 1)), (user, ranks)


def test_als_param_grid_deterministic_and_flags_best(spark, sf_dir):
    """Seeded fits → identical grid on rerun; exactly one is_best row and
    it carries the minimum validation RMSE."""
    from recommendation_system_big_data_spark.operators.recommend import (
        als_param_grid,
    )

    rows = sorted(als_param_grid(spark, sf_dir).collect())
    assert len(rows) == 4
    best = [r for r in rows if r["is_best"] == 1]
    assert len(best) == 1
    assert best[0]["val_rmse"] == min(r["val_rmse"] for r in rows)
    rows2 = sorted(als_param_grid(spark, sf_dir).collect())
    assert rows == rows2


def test_als_item_similarity_invariants(spark, sf_dir):
    """Factor cosine item-kNN: no self-neighbours, exactly 5 ranked
    neighbours per item, cosines in [-1, 1] and non-increasing by rank."""
    from recommendation_system_big_data_spark.operators.recommend import (
        als_item_similarity,
    )

    rows = als_item_similarity(spark, sf_dir).collect()
    assert rows
    by_item = {}
    for r in rows:
        assert r["item_id"] != r["similar_item_id"]
        assert -1.0 - 1e-9 <= r["cosine"] <= 1.0 + 1e-9
        by_item.setdefault(r["item_id"], []).append((r["rank_pos"], r["cosine"]))
    for item, ranked in by_item.items():
        ranked.sort()
        assert [p for p, _ in ranked] == list(range(1, len(ranked) + 1))
        assert len(ranked) == 5, (item, ranked)
        cosines = [c for _, c in ranked]
        assert cosines == sorted(cosines, reverse=True), (item, cosines)


# --- session ALS model cache (recommend.fitted_als) -------------------------


def _count_fits(monkeypatch, fit=None):
    """Replace recommend.train_als with a counting wrapper around ``fit``
    (the real fit by default); the cache reaches it by module lookup."""
    from recommendation_system_big_data_spark.operators import recommend as R

    calls = {"n": 0}
    real = fit or R.train_als

    def counted(ratings):
        calls["n"] += 1
        return real(ratings)

    monkeypatch.setattr(R, "train_als", counted)
    return calls


def _rmse(model, test) -> float:
    from pyspark.ml.evaluation import RegressionEvaluator

    preds = model.transform(test).where(~F.isnan("prediction"))
    return RegressionEvaluator(
        metricName="rmse", labelCol="rating", predictionCol="prediction"
    ).evaluate(preds)


def _copy_events(src_dir: str, dst_dir) -> str:
    import shutil

    dst_dir.mkdir(parents=True, exist_ok=True)
    shutil.copy(f"{src_dir}/events.parquet", dst_dir / "events.parquet")
    return str(dst_dir)


def test_als_cache_is_pure_memo(spark, sf_dir, monkeypatch):
    """A second als_predict in the session fits nothing and returns the
    same rows, and the cached split model's held-out RMSE is that of a
    fresh train_als fit of the same seeded split."""
    from recommendation_system_big_data_spark.operators import recommend as R

    first = sorted(R.als_predict(spark, sf_dir).collect())
    calls = _count_fits(monkeypatch)
    again = sorted(R.als_predict(spark, sf_dir).collect())
    assert calls["n"] == 0
    assert first == again and first

    model, held_out = R.fitted_als(spark, sf_dir, R.HOLDOUT_SPLIT)
    train, test = ratings_from_events(spark, sf_dir).randomSplit(
        list(R.HOLDOUT_SPLIT), seed=R.SEED
    )
    assert sorted(held_out.collect()) == sorted(test.collect())
    fresh = R.train_als(train)
    assert calls["n"] == 1  # the fresh fit above, nothing from the cache
    assert _rmse(model, held_out) == pytest.approx(_rmse(fresh, test), abs=1e-6)


def test_als_jobs_fit_twice_per_session(spark, sf_dir, monkeypatch):
    """The seven reference-hyperparameter ALS jobs share two fits: the
    80/20 split and the full ratings, under distinct cache keys."""
    from recommendation_system_big_data_spark.operators import recommend as R

    R._FITTED_ALS.clear()
    calls = _count_fits(monkeypatch)
    for job in (
        R.als_predict,
        R.als_rmse,
        R.als_recommend_topk,
        R.als_recommend_user_subset,
        R.als_enriched_recs,
        R.als_item_similarity,
        R.als_eval_coverage_novelty,
    ):
        assert job(spark, sf_dir).count() > 0, job.__name__
    assert calls["n"] == 2

    app_id = spark.sparkContext.applicationId
    fp = table_fingerprint(sf_dir, "events")
    split = R._FITTED_ALS[(app_id, sf_dir, (fp,), R.HOLDOUT_SPLIT)]
    full = R._FITTED_ALS[(app_id, sf_dir, (fp,), None)]
    assert split.model is not full.model
    assert split.held_out is not None and full.held_out is None


def test_als_cache_refits_rewritten_events(spark, sf_dir, tmp_path, monkeypatch):
    """Rewriting events.parquet inside the session changes its fingerprint,
    so the next job refits instead of serving the stale model."""
    import pyarrow.parquet as pq

    from recommendation_system_big_data_spark.operators import recommend as R

    d = _copy_events(sf_dir, tmp_path / "corpus")
    calls = _count_fits(monkeypatch)
    stale = R.fitted_als(spark, d).model
    assert R.fitted_als(spark, d).model is stale
    assert calls["n"] == 1

    path = f"{d}/events.parquet"
    before = table_fingerprint(d, "events")
    table = pq.read_table(path)
    pq.write_table(table.slice(0, table.num_rows * 3 // 4), path)
    assert table_fingerprint(d, "events") != before

    fresh = R.fitted_als(spark, d).model
    assert calls["n"] == 2 and fresh is not stale
    n_users = ratings_from_events(spark, d).select("user_id").distinct().count()
    assert fresh.userFactors.count() == n_users
    R._FITTED_ALS.clear()


def test_als_cache_bounded_and_session_scoped(spark, sf_dir, tmp_path, monkeypatch):
    """The cache evicts least-recently-used entries at _FITTED_ALS_MAX and
    refits an evicted corpus; entries of another applicationId go first."""
    from recommendation_system_big_data_spark.operators import recommend as R

    R._FITTED_ALS.clear()
    calls = _count_fits(monkeypatch, fit=lambda ratings: object())
    R._FITTED_ALS[("stopped-app", sf_dir, ((0, 0),), None)] = None
    dirs = [
        _copy_events(sf_dir, tmp_path / f"c{i}") for i in range(R._FITTED_ALS_MAX + 2)
    ]
    for d in dirs:
        R.fitted_als(spark, d)
    assert all(k[0] != "stopped-app" for k in R._FITTED_ALS)
    assert len(R._FITTED_ALS) == R._FITTED_ALS_MAX
    assert calls["n"] == len(dirs)
    R.fitted_als(spark, dirs[-1])  # hit
    R.fitted_als(spark, dirs[0])  # evicted: refit
    assert calls["n"] == len(dirs) + 1
    R._FITTED_ALS.clear()
