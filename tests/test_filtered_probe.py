"""Round-10 filtered-ANN probing tiers (verdict r09 items 3 & 6):

* the DISTRIBUTED probe tier (large offline query batches) produces the
  same output as the bounded-driver serving tier — same nearest-first
  stable ordering, same chunk boundaries, same merge — and runs with NO
  per-query driver loop (the driver tier is monkeypatch-poisoned);
* the selectivity-sized first probe set (stats sidecar) changes no
  output while collapsing the fill-driven round trips on selective
  filters;
* build/append/delete/re-split keep the stats sidecar's counts TRUE
  (the output-identity proof needs real counts, not estimates).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from postgres_etl_pipeline_spark.operators import similarity as S
from postgres_etl_pipeline_spark.queries import spread, t


def _selective_corpus(spark):
    """The under-fill corpus from test_ivf_maintenance: the query's
    label (7) has exactly 5 matches, all in lists FAR from the query, so
    n_probe=1 forces multi-round expansion."""
    rows = []
    for i in range(30):
        vec = [0.0] * 8
        vec[0] = 100.0 + (i % 7)
        rows.append((i, vec, 7 if i == 0 else 1))
    for vid, axis in [(40, 2), (41, 2), (42, 4), (43, 4), (44, 6)]:
        vec = [0.0] * 8
        vec[axis] = 100.0 + (vid % 5)
        rows.append((vid, vec, 7))
    for i in range(50, 70):
        vec = [0.0] * 8
        vec[(i % 3) * 2 + 2] = 100.0 + (i % 7)
        rows.append((i, vec, 1))
    return spark.createDataFrame(
        [(i, [float(x) for x in v], int(lab)) for i, v, lab in rows],
        "vec_id long, embedding array<float>, label int",
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_distributed_tier_matches_driver_tier(spark, sf_small, tmp_path):
    """Same output through both tiers on the ordinary corpus (probe-all
    AND n_probe<all with expansion), with the driver tier poisoned so
    the test proves the distributed path never falls back to a per-query
    driver loop."""
    emb = spread(t(spark, sf_small, "embeddings"))
    q = emb.filter(F.col("vec_id") < 20)
    path = str(tmp_path / "idx")
    S.write_ivf_index(
        emb, path, n_centroids=8, kmeans_max_iter=1, kmeans_init="random",
        extra_cols=("label",),
    )
    for n_probe in (8, 2):
        via_driver = _rows(
            S.filtered_ivf_topk(
                spark, path, q, filter_col="label", k=5, n_probe=n_probe,
            )
        )
        orig = S._filtered_topk_driver
        try:
            def boom(*a, **k):
                raise AssertionError("driver tier ran above the cut")

            S._filtered_topk_driver = boom
            via_dist = _rows(
                S.filtered_ivf_topk(
                    spark, path, q, filter_col="label", k=5, n_probe=n_probe,
                    distributed_cut=0,
                )
            )
        finally:
            S._filtered_topk_driver = orig
        assert via_dist == via_driver, n_probe


def test_distributed_tier_fills_selective_label(spark, tmp_path):
    """The expansion semantics survive the tier change: the selective
    label still fills k at n_probe=1 through the distributed path, and
    the answer equals the filtered brute force (unique by construction)."""
    emb = _selective_corpus(spark)
    q = emb.filter(F.col("vec_id") == 0)
    path = str(tmp_path / "idx")
    S.write_ivf_index(
        emb, path, n_centroids=4, kmeans_max_iter=5, extra_cols=("label",)
    )
    got = _rows(
        S.filtered_ivf_topk(
            spark, path, q, filter_col="label", k=5, n_probe=1,
            distributed_cut=0,
        )
    )
    assert len(got) == 5
    assert {g[1] for g in got} == {40, 41, 42, 43, 44}
    assert got == _rows(S.filtered_topk(emb, q, filter_col="label", k=5))


def test_probe_jump_same_output_fewer_rounds(spark, tmp_path):
    """Verdict r09 item 6's done-criterion: with the stats sidecar the
    selective query jumps straight to the covering prefix (1 round where
    fill-driven pays several), and the output is hash-identical —
    fill(p) ≤ cum(p) means the fill-driven loop can never stop before
    the jump target."""
    import shutil

    emb = _selective_corpus(spark)
    q = emb.filter(F.col("vec_id") == 0)
    path = str(tmp_path / "idx")
    S.write_ivf_index(
        emb, path, n_centroids=4, kmeans_max_iter=5, extra_cols=("label",)
    )
    assert S.read_ivf_list_stats(spark, path, "label") is not None
    with_stats = _rows(
        S.filtered_ivf_topk(spark, path, q, filter_col="label", k=5, n_probe=1)
    )
    jump_rounds = S._filtered_topk_driver.last_rounds
    # remove the sidecar → pure fill-driven expansion
    shutil.rmtree(path + "_stats_label")
    no_stats = _rows(
        S.filtered_ivf_topk(spark, path, q, filter_col="label", k=5, n_probe=1)
    )
    fill_rounds = S._filtered_topk_driver.last_rounds
    assert with_stats == no_stats
    assert jump_rounds < fill_rounds, (jump_rounds, fill_rounds)
    assert jump_rounds == 1  # selective label fills in ONE round trip


def test_stats_sidecar_stays_true_under_maintenance(spark, tmp_path):
    """Append merges the batch's counts; delete and re-split recount the
    affected cells — after any mix, the sidecar equals a from-scratch
    recount of the live layout (the jump's correctness precondition)."""
    emb = _selective_corpus(spark)
    path = str(tmp_path / "idx")
    S.write_ivf_index(
        emb.filter(F.col("vec_id") < 45), path,
        n_centroids=4, kmeans_max_iter=5, extra_cols=("label",),
    )
    S.append_to_ivf_index(
        emb.filter(F.col("vec_id") >= 45), path, extra_cols=("label",)
    )
    S.delete_from_ivf_index(spark, path, emb.filter(F.col("vec_id") % 6 == 1))
    S.resplit_ivf_cell(spark, path, n_sub=2, kmeans_max_iter=2)

    def recount():
        return _rows(
            spark.read.parquet(path)
            .groupBy("cid", F.col("label").alias("value"))
            .agg(F.count(F.lit(1)).alias("n"))
        )

    stored = _rows(S.read_ivf_list_stats(spark, path, "label"))
    assert stored == recount()


def test_append_refuses_to_drop_layout_metadata(spark, tmp_path):
    """The silent-null gap: appending without the build's extra_cols
    would write rows filtered search can never match — must raise."""
    emb = _selective_corpus(spark)
    path = str(tmp_path / "idx")
    S.write_ivf_index(
        emb, path, n_centroids=4, kmeans_max_iter=2, extra_cols=("label",)
    )
    with pytest.raises(ValueError, match="extra_cols"):
        S.append_to_ivf_index(emb.limit(3), path)


# ---------------------------------------------------------------------------
# Compressed tier (IVFADC) twins of the above
# ---------------------------------------------------------------------------


def test_ivfpq_distributed_tier_matches_driver_tier(spark, sf_small, tmp_path):
    """ADC is exact int64 in both tiers (per-query LUT gather vs
    per-pair recompute), so the outputs must be IDENTICAL — at probe-all
    and through multi-round expansion — and the distributed path must
    never fall back to the per-query driver loop (poisoned)."""
    emb = spread(t(spark, sf_small, "embeddings"))
    q = emb.filter(F.col("vec_id") < 20)
    path = str(tmp_path / "idx")
    S.write_ivfpq_index(
        emb, path, n_centroids=8, coarse="anchor", extra_cols=("label",)
    )
    for n_probe in (8, 2):
        via_driver = _rows(
            S.filtered_ivfpq_topk(
                spark, path, q, filter_col="label", k=5, rerank=4,
                n_probe=n_probe,
            )
        )
        orig = S._filtered_topk_driver
        try:
            def boom(*a, **kw):
                raise AssertionError("driver tier ran above the cut")

            S._filtered_topk_driver = boom
            via_dist = _rows(
                S.filtered_ivfpq_topk(
                    spark, path, q, filter_col="label", k=5, rerank=4,
                    n_probe=n_probe, distributed_cut=0,
                )
            )
        finally:
            S._filtered_topk_driver = orig
        assert via_dist == via_driver, n_probe


def test_ivfpq_probe_jump_same_output(spark, tmp_path):
    """The compressed tier's stats-sized first probe set changes no
    output on the selective corpus (jump target = the k·rerank pool)."""
    import shutil

    emb = _selective_corpus(spark)
    q = emb.filter(F.col("vec_id") == 0)
    path = str(tmp_path / "idx")
    S.write_ivfpq_index(
        emb, path, n_centroids=4, coarse="lloyd", kmeans_max_iter=5,
        extra_cols=("label",),
    )
    assert S.read_ivf_list_stats(spark, path, "label") is not None
    with_stats = _rows(
        S.filtered_ivfpq_topk(
            spark, path, q, filter_col="label", k=5, rerank=1, n_probe=1
        )
    )
    shutil.rmtree(path + "_stats_label")
    no_stats = _rows(
        S.filtered_ivfpq_topk(
            spark, path, q, filter_col="label", k=5, rerank=1, n_probe=1
        )
    )
    assert with_stats == no_stats
    assert len(with_stats) == 5  # the selective label still fills k


def test_distributed_tiers_take_the_selectivity_jump(spark, tmp_path):
    """SCALE.md r10 gap #1 closed in-round: the DISTRIBUTED tiers size
    their first probe set from the stats sidecar too (one cumsum window
    over probe-order ⋈ stats) — the selective query fills in ONE round
    through both tiers, with output unchanged (brute-force-equal)."""
    emb = _selective_corpus(spark)
    q = emb.filter(F.col("vec_id") == 0)
    raw = str(tmp_path / "raw")
    S.write_ivf_index(
        emb, raw, n_centroids=4, kmeans_max_iter=5, extra_cols=("label",)
    )
    got = _rows(
        S.filtered_ivf_topk(
            spark, raw, q, filter_col="label", k=5, n_probe=1,
            distributed_cut=0,
        )
    )
    assert S._filtered_topk_distributed.last_rounds == 1
    assert {g[1] for g in got} == {40, 41, 42, 43, 44}
    assert got == _rows(S.filtered_topk(emb, q, filter_col="label", k=5))
    # compressed tier: pool-targeted jump (rerank=1 → pool = k)
    pq = str(tmp_path / "pq")
    S.write_ivfpq_index(
        emb, pq, n_centroids=4, coarse="lloyd", kmeans_max_iter=5,
        extra_cols=("label",),
    )
    got2 = _rows(
        S.filtered_ivfpq_topk(
            spark, pq, q, filter_col="label", k=5, rerank=1, n_probe=1,
            distributed_cut=0,
        )
    )
    assert S._filtered_topk_distributed.last_rounds == 1
    assert len(got2) == 5
    # and the non-jumping fill-driven path (sidecar removed) agrees
    import shutil

    shutil.rmtree(pq + "_stats_label")
    assert got2 == _rows(
        S.filtered_ivfpq_topk(
            spark, pq, q, filter_col="label", k=5, rerank=1, n_probe=1,
            distributed_cut=0,
        )
    )
    assert S._filtered_topk_distributed.last_rounds > 1


# ---------------------------------------------------------------------------
# Stats survive RETRAIN and REBUILD (verdict r10 item 6 — until now
# unasserted: retrain swaps every live cell, rebuild writes a fresh
# layout; either could silently strand or drop the sidecar)
# ---------------------------------------------------------------------------


def _recount(spark, path):
    return _rows(
        spark.read.parquet(path)
        .groupBy("cid", F.col("label").alias("value"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def test_stats_stay_true_through_codebook_retrain(spark, tmp_path):
    """A forced retrain rewrites every live cell through the staged
    swap with codes-only changes — per-(cid, value) counts are
    invariant, so the sidecar must still equal a from-scratch recount
    and filtered search must produce identical output after it."""
    emb = _selective_corpus(spark)
    q = emb.filter(F.col("vec_id") == 0)
    path = str(tmp_path / "pq")
    S.write_ivfpq_index(emb, path, n_centroids=4, extra_cols=("label",))
    want = _rows(
        S.filtered_ivfpq_topk(spark, path, q, filter_col="label",
                              k=5, n_probe=1)
    )
    assert S.retrain_ivfpq_codebook(spark, path, force=True, mode="anchor")
    assert S.read_ivf_list_stats(spark, path, "label") is not None
    assert _rows(S.read_ivf_list_stats(spark, path, "label")) == _recount(
        spark, path
    )
    got = _rows(
        S.filtered_ivfpq_topk(spark, path, q, filter_col="label",
                              k=5, n_probe=1)
    )
    assert got == want


def test_stats_regenerate_through_versioned_rebuild(spark, tmp_path):
    """A blue/green rebuild carries the layout's metadata columns
    automatically (verdict r10 nit (c)) and REGENERATES their stats
    sidecars for the new geometry — the selectivity jump still fires
    (1 round on the selective label) when searching through the
    ROOT."""
    emb = _selective_corpus(spark)
    q = emb.filter(F.col("vec_id") == 0)
    root = str(tmp_path / "idx")
    S.build_ivf_index_versioned(
        emb, root, n_centroids=4, kmeans_max_iter=5, extra_cols=("label",)
    )
    want = _rows(S.filtered_topk(emb, q, filter_col="label", k=5))
    v2 = S.rebuild_ivf_index_versioned(
        spark, root, force=True, n_centroids=4, kmeans_max_iter=5
    )
    assert v2 is not None
    # fresh stats for the fresh geometry, true against a recount
    assert _rows(S.read_ivf_list_stats(spark, v2, "label")) == _recount(
        spark, v2
    )
    got = _rows(
        S.filtered_ivf_topk(spark, root, q, filter_col="label",
                            k=5, n_probe=1)
    )
    assert got == want
    # the sized first probe is intact post-rebuild: one round trip
    assert S._filtered_topk_driver.last_rounds == 1
