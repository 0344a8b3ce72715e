"""Round-10 ANN index lifecycle: the persisted-scale stamp, the
crash-safe staged partition swap, tombstone deletes, and drift-triggered
codebook retraining.

Contracts pinned here:
* the lattice scale survives the persistence boundary — maintenance and
  serving read it from the ``_meta`` sidecar and an explicit mismatch
  dies loudly instead of silently mixing lattices (advice r09 #1);
* every per-partition rewrite goes stage-then-rename: a crash at any
  point leaves either the old or the new cells readable, and
  recover_interrupted_partition_swap completes or rolls back the window
  (advice r09 #2);
* delete-then-search equals rebuild-from-surviving-rows at probe-all,
  only affected cid directories are rewritten, and an unmatched
  tombstone set touches zero files (verdict r09 item 2);
* drift-append-retrain-then-search equals a ONE-SHOT build at probe-all
  (anchor mode — codes are a pure function of (vector, sidecars)), and
  below the drift threshold the retrain is a guaranteed no-op with zero
  files rewritten (verdict r09 item 1).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from postgres_etl_pipeline_spark.operators import similarity as S
from postgres_etl_pipeline_spark.queries import spread, t


def _emb(spark, sf_small):
    return spread(t(spark, sf_small, "embeddings"))


def _q(emb):
    return emb.filter(F.col("vec_id") < 20)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _mtimes(path):
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            fp = os.path.join(root, f)
            out[fp] = os.path.getmtime(fp)
    return out


# ---------------------------------------------------------------------------
# Persisted lattice scale (advice r09 #1)
# ---------------------------------------------------------------------------


def test_scale_stamp_survives_persistence(spark, sf_small, tmp_path):
    """An index built on a NON-default lattice must be served and
    maintained on that lattice with no caller cooperation — and an
    explicit wrong scale must raise, not mis-encode."""
    emb = _emb(spark, sf_small)
    path = str(tmp_path / "s500")
    S.write_ivfpq_index(emb.filter(F.col("vec_id") % 5 != 4), path,
                        n_centroids=8, scale=500)
    Cc, As, scale = S.read_ivfpq_sidecars(spark, path)
    assert scale == 500
    assert getattr(As, "scale", None) == 500  # stamped codebook
    # maintenance with NO scale argument re-encodes on the stored lattice
    S.append_to_ivfpq_index(emb.filter(F.col("vec_id") % 5 == 4), path)
    # ... bit-identically to a one-shot scale-500 build
    full = str(tmp_path / "full500")
    S.write_ivfpq_index(emb, full, coarse_cents=Cc,
                        codebook=S.LatticeCodebook(As, 500), scale=500)
    q = _q(emb)
    assert _rows(S.ivfpq_index_topk(spark, path, q, k=5, n_probe=8)) == _rows(
        S.ivfpq_index_topk(spark, full, q, k=5, n_probe=8)
    )
    # explicit mismatch: every maintenance/serving surface dies loudly
    for fn in (
        lambda: S.append_to_ivfpq_index(emb.limit(1), path, scale=1000),
        lambda: S.ivfpq_index_topk(spark, path, q, scale=1000),
        lambda: S.filtered_ivfpq_topk(spark, path, q, scale=1000),
        lambda: S.resplit_ivfpq_cell(spark, path, scale=1000),
    ):
        with pytest.raises(ValueError, match="shared-scale"):
            fn()


def test_unstamped_layout_is_rejected(spark, sf_small, tmp_path):
    """A layout missing the _meta sidecar must never silently become a
    default-scale index."""
    emb = _emb(spark, sf_small)
    path = str(tmp_path / "idx")
    S.write_ivfpq_index(emb, path, n_centroids=8)
    import shutil

    shutil.rmtree(path + "_meta")
    with pytest.raises(ValueError, match="_meta sidecar"):
        S.read_ivfpq_sidecars(spark, path)


# ---------------------------------------------------------------------------
# Crash-safe staged partition swap (advice r09 #2)
# ---------------------------------------------------------------------------


def test_resplit_crash_window_leaves_old_cell_readable(
    spark, sf_small, tmp_path, monkeypatch
):
    """Kill the swap right after the staging write commits (before any
    rename): the LIVE layout must be untouched, and recovery must roll
    the orphan stage back."""
    emb = _emb(spark, sf_small)
    path = str(tmp_path / "idx")
    S.write_ivf_index(emb, path, n_centroids=8, kmeans_max_iter=1,
                      kmeans_init="random")
    before = _rows(spark.read.parquet(path).select("neighbor_id", "cid"))

    def boom(*a, **k):
        raise RuntimeError("injected crash before the first rename")

    monkeypatch.setattr(S, "_finish_partition_swap", boom)
    with pytest.raises(RuntimeError, match="injected"):
        S.resplit_ivf_cell(spark, path, n_sub=2, kmeans_max_iter=1,
                           kmeans_init="random")
    monkeypatch.undo()
    # live layout unchanged; one orphan stage dir exists
    assert _rows(spark.read.parquet(path).select("neighbor_id", "cid")) == before
    parent = os.path.dirname(path)
    orphans = [e for e in os.listdir(parent) if e.startswith("idx.__")]
    assert len(orphans) == 1
    # the manifest was written, so recovery COMPLETES the swap (the
    # finish steps are idempotent renames, sidecar included) — after it
    # the layout holds every row, the centroid sidecar matches the new
    # geometry (the tail cell is NOT invisible), and probe-all search is
    # still exact
    assert S.recover_interrupted_partition_swap(spark, path) is True
    assert not [e for e in os.listdir(parent) if e.startswith("idx.__")]
    assert spark.read.parquet(path).count() == emb.count()
    cents = S.read_ivf_centroids(spark, path)
    assert len(cents) == 9  # 8 + the split's tail cell
    q = _q(emb)
    got = _rows(S.ivf_index_topk(spark, path, q, k=5, n_probe=9))
    assert got == _rows(S.brute_force_topk(emb, q, k=5))


def test_recovery_rolls_back_uncommitted_and_manifestless_stages(
    spark, sf_small, tmp_path
):
    emb = _emb(spark, sf_small)
    path = str(tmp_path / "idx")
    S.write_ivf_index(emb, path, n_centroids=4, kmeans_max_iter=1,
                      kmeans_init="random")
    before = _rows(spark.read.parquet(path).select("neighbor_id", "cid"))
    # uncommitted stage: data but no _SUCCESS
    os.makedirs(path + ".__t_aaaa/cid=0")
    with open(path + ".__t_aaaa/cid=0/junk", "w") as f:
        f.write("partial")
    # committed stage whose swap never started: _SUCCESS, no manifest
    os.makedirs(path + ".__t_bbbb")
    open(path + ".__t_bbbb/_SUCCESS", "w").close()
    assert S.recover_interrupted_partition_swap(spark, path) is True
    parent = os.path.dirname(path)
    assert not [e for e in os.listdir(parent) if e.startswith("idx.__")]
    assert _rows(spark.read.parquet(path).select("neighbor_id", "cid")) == before
    # nothing left to repair
    assert S.recover_interrupted_partition_swap(spark, path) is False


# ---------------------------------------------------------------------------
# Tombstone deletes (verdict r09 item 2)
# ---------------------------------------------------------------------------


def _file_sets(path):
    out = {}
    for entry in os.listdir(path):
        full = os.path.join(path, entry)
        if os.path.isdir(full):
            out[entry] = frozenset(os.listdir(full))
    return out


def test_delete_rewrites_only_affected_cells(spark, sf_small, tmp_path):
    emb = _emb(spark, sf_small)
    path = str(tmp_path / "idx")
    S.write_ivf_index(emb, path, n_centroids=8, kmeans_max_iter=1,
                      kmeans_init="random")
    # tombstone exactly one stored row → exactly its cell rewrites
    victim = spark.read.parquet(path).select("neighbor_id", "cid").limit(1).collect()[0]
    dirs_before = _file_sets(path)
    affected = S.delete_from_ivf_index(
        spark, path, emb.filter(F.col("vec_id") == victim["neighbor_id"])
    )
    assert affected == [int(victim["cid"])]
    dirs_after = _file_sets(path)
    for dname, files in dirs_before.items():
        if dname != f"cid={victim['cid']}":
            assert dirs_after[dname] == files, dname
    assert spark.read.parquet(path).count() == emb.count() - 1


def test_delete_then_search_equals_rebuild_from_survivors(
    spark, sf_small, tmp_path
):
    emb = _emb(spark, sf_small)
    q = _q(emb)
    path = str(tmp_path / "idx")
    S.write_ivf_index(emb, path, n_centroids=8, kmeans_max_iter=1,
                      kmeans_init="random")
    tombs = emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    S.delete_from_ivf_index(spark, path, tombs)
    got = _rows(S.ivf_index_topk(spark, path, q, k=5, n_probe=8))
    exact = _rows(S.brute_force_topk(emb.filter(F.col("vec_id") % 7 != 3), q, k=5))
    assert got == exact
    # idempotent: re-deleting the same ids touches zero files
    m = _mtimes(path)
    assert S.delete_from_ivf_index(spark, path, tombs) == []
    assert _mtimes(path) == m


def test_delete_can_empty_a_cell(spark, sf_small, tmp_path):
    """A fully-deleted inverted list becomes EMPTY (centroid stays in
    the sidecar, probing it scans nothing) — search still works."""
    emb = _emb(spark, sf_small)
    path = str(tmp_path / "idx")
    S.write_ivf_index(emb, path, n_centroids=4, kmeans_max_iter=1,
                      kmeans_init="random")
    # materialize the doomed ids FIRST — a lazy plan over the index would
    # chase renamed-away files after the swap
    ids0 = sorted(
        r["neighbor_id"]
        for r in spark.read.parquet(path)
        .filter(F.col("cid") == 0)
        .select("neighbor_id")
        .collect()
    )
    assert ids0
    S.delete_from_ivf_index(
        spark, path,
        spark.createDataFrame([(int(i),) for i in ids0], "vec_id long"),
    )
    assert spark.read.parquet(path).filter(F.col("cid") == 0).count() == 0
    q = _q(emb)
    got = _rows(S.ivf_index_topk(spark, path, q, k=5, n_probe=4))
    survivors = emb.filter(~F.col("vec_id").isin([int(i) for i in ids0]))
    assert got == _rows(S.brute_force_topk(survivors, q, k=5))


def test_ivfpq_delete_twin(spark, sf_small, tmp_path):
    """Compressed tier: deletion never touches codes or sidecars, so
    delete-then-search equals a rebuild from survivors with the SAME
    sidecars held fixed."""
    emb = _emb(spark, sf_small)
    q = _q(emb)
    path = str(tmp_path / "idx")
    Cc, As = S.write_ivfpq_index(emb, path, n_centroids=8, coarse="anchor")
    tombs = emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    S.delete_from_ivfpq_index(spark, path, tombs)
    rebuilt = str(tmp_path / "rebuilt")
    S.write_ivfpq_index(
        emb.filter(F.col("vec_id") % 7 != 3), rebuilt,
        coarse_cents=Cc, codebook=S.LatticeCodebook(As, 1000),
    )
    assert _rows(S.ivfpq_index_topk(spark, path, q, k=5, n_probe=8)) == _rows(
        S.ivfpq_index_topk(spark, rebuilt, q, k=5, n_probe=8)
    )
    # the twin refuses a raw (unstamped) layout
    raw = str(tmp_path / "raw")
    S.write_ivf_index(emb, raw, n_centroids=4, kmeans_max_iter=1,
                      kmeans_init="random")
    with pytest.raises(ValueError, match="_meta sidecar"):
        S.delete_from_ivfpq_index(spark, raw, tombs)


# ---------------------------------------------------------------------------
# Drift-triggered codebook retraining (verdict r09 item 1)
# ---------------------------------------------------------------------------


def test_retrain_equals_one_shot_build(spark, sf_small, tmp_path):
    """Build with a deliberately STALE codebook (trained on the build
    slice only), append the rest, retrain in anchor mode: the layout's
    probe-all search must hash-equal a one-shot build over the full
    corpus — codes are a pure function of (vector, sidecars)."""
    emb = _emb(spark, sf_small)
    q = _q(emb)
    Cc = S.lattice_anchor_centroids(emb, 8)
    full = str(tmp_path / "full")
    S.write_ivfpq_index(emb, full, coarse_cents=Cc,
                        codebook=S.anchor_residual_codebook(emb, Cc))
    split = str(tmp_path / "split")
    sliceA = emb.filter(F.col("vec_id") % 5 != 4)
    S.write_ivfpq_index(sliceA, split, coarse_cents=Cc,
                        codebook=S.anchor_residual_codebook(sliceA, Cc))
    S.append_to_ivfpq_index(emb.filter(F.col("vec_id") % 5 == 4), split)
    assert S.retrain_ivfpq_codebook(
        spark, split, drift_threshold=0.0, mode="anchor"
    ) is True
    assert _rows(S.ivfpq_index_topk(spark, split, q, k=5, n_probe=8)) == _rows(
        S.ivfpq_index_topk(spark, full, q, k=5, n_probe=8)
    )


def test_retrain_below_threshold_is_a_guaranteed_noop(
    spark, sf_small, tmp_path
):
    emb = _emb(spark, sf_small)
    path = str(tmp_path / "idx")
    S.write_ivfpq_index(emb, path, n_centroids=8)
    before = _mtimes(path)
    before_side = {
        p: _mtimes(path + p) for p in ("_centroids", "_codebook", "_meta")
    }
    assert S.retrain_ivfpq_codebook(spark, path, drift_threshold=1e9) is False
    assert _mtimes(path) == before
    assert {
        p: _mtimes(path + p) for p in ("_centroids", "_codebook", "_meta")
    } == before_side


def test_retrain_rebaselines_the_drift_trigger(spark, sf_small, tmp_path):
    """After a retrain, _meta's train_err is the NEW codebook's error —
    an immediate second call below the same threshold must no-op."""
    emb = _emb(spark, sf_small)
    Cc = S.lattice_anchor_centroids(emb, 8)
    path = str(tmp_path / "idx")
    sliceA = emb.filter(F.col("vec_id") % 5 != 4)
    S.write_ivfpq_index(sliceA, path, coarse_cents=Cc,
                        codebook=S.anchor_residual_codebook(sliceA, Cc))
    S.append_to_ivfpq_index(emb.filter(F.col("vec_id") % 5 == 4), path)
    assert S.retrain_ivfpq_codebook(
        spark, path, drift_threshold=0.0, mode="anchor"
    ) is True
    err, train_err = S.measure_ivfpq_drift(spark, path)
    assert err <= 1.05 * train_err  # re-baselined: current ≈ training error
    m = _mtimes(path)
    assert S.retrain_ivfpq_codebook(spark, path, drift_threshold=1.1) is False
    assert _mtimes(path) == m


def test_streaming_sink_validates_arguments(spark, sf_small, tmp_path):
    from postgres_etl_pipeline_spark.streaming import runner

    emb = _emb(spark, sf_small)
    src = str(tmp_path / "src")
    emb.limit(4).write.parquet(src)
    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>, label int"
    ).parquet(src)
    with pytest.raises(ValueError, match="state_dir is required"):
        runner.run_ivf_maintenance_sink(
            stream, str(tmp_path / "idx"), queries=emb.limit(2)
        )
    with pytest.raises(ValueError, match="append-only"):
        runner.run_ivf_maintenance_sink(
            stream, str(tmp_path / "idx"), queries=emb.limit(2),
            state_dir=str(tmp_path / "state"), op_col="op",
        )


def test_streaming_drain_with_tombstones(spark, sf_small, tmp_path):
    """CDC-shaped maintenance drain: insert batches and tombstone
    batches through ONE foreachBatch sink — the drained index's
    probe-all search equals brute force over (initial + inserted −
    deleted)."""
    from postgres_etl_pipeline_spark.streaming import runner

    emb = _emb(spark, sf_small)
    path = str(tmp_path / "idx")
    base = emb.filter(F.col("vec_id") % 3 == 0)
    S.write_ivf_index(base, path, n_centroids=4, kmeans_max_iter=1,
                      kmeans_init="random")
    # the stream: the % 3 != 0 rows as inserts, plus tombstones for the
    # % 7 == 3 ids (some of which are also inserted in the SAME drain)
    inserts = emb.filter(F.col("vec_id") % 3 != 0).withColumn("op", F.lit("I"))
    tombs = emb.filter(F.col("vec_id") % 7 == 3).withColumn("op", F.lit("D"))
    src = str(tmp_path / "src")
    inserts.unionByName(tombs).write.parquet(src)
    stream = (
        spark.readStream.schema(
            "vec_id long, embedding array<float>, label int, op string"
        )
        .parquet(src)
    )
    runner.run_ivf_maintenance_sink(
        stream, path, op_col="op",
        checkpoint=str(tmp_path / "ckpt"),
    )
    q = _q(emb)
    survivors = emb.filter(F.col("vec_id") % 7 != 3)
    got = _rows(S.ivf_index_topk(spark, path, q, k=5, n_probe=4))
    assert got == _rows(S.brute_force_topk(survivors, q, k=5))


# ---------------------------------------------------------------------------
# Small-files compaction (round 10 addition)
# ---------------------------------------------------------------------------


def test_compaction_shrinks_files_not_content(spark, sf_small, tmp_path):
    """Many tiny appends → compact → per-cell file counts drop to the
    size-targeted number, row content is identical, probe-all search is
    hash-equal, and cells below the threshold keep byte-identical
    files."""
    emb = _emb(spark, sf_small)
    path = str(tmp_path / "idx")
    S.write_ivf_index(
        emb.filter(F.col("vec_id") % 10 == 0), path,
        n_centroids=4, kmeans_max_iter=1, kmeans_init="random",
    )
    # ten tiny appends — the streaming-drain file-count shape
    for r in range(1, 10):
        S.append_to_ivf_index(emb.filter(F.col("vec_id") % 10 == r), path)
    before_rows = _rows(spark.read.parquet(path).select("neighbor_id", "cid"))
    q = _q(emb)
    before_search = _rows(S.ivf_index_topk(spark, path, q, k=5, n_probe=4))

    def file_counts():
        out = {}
        for entry in os.listdir(path):
            full = os.path.join(path, entry)
            if os.path.isdir(full) and entry.startswith("cid="):
                out[entry] = len(
                    [f for f in os.listdir(full) if not f.startswith(("_", "."))]
                )
        return out

    fc_before = file_counts()
    assert max(fc_before.values()) >= 10  # the problem exists
    compacted = S.compact_ivf_cells(spark, path, target_bytes=1 << 30)
    assert compacted  # something was compacted
    fc_after = file_counts()
    for entry, n in fc_after.items():
        cid = int(entry[len("cid="):])
        if cid in compacted:
            assert n == 1, (entry, n)  # 1 GiB target → one file per cell
    assert _rows(spark.read.parquet(path).select("neighbor_id", "cid")) == before_rows
    assert _rows(S.ivf_index_topk(spark, path, q, k=5, n_probe=4)) == before_search
    # idempotent: a second pass has nothing to do, zero files touched
    m = _mtimes(path)
    assert S.compact_ivf_cells(spark, path, target_bytes=1 << 30) == []
    assert _mtimes(path) == m


def test_compaction_batches_all_cells_into_one_swap(
    spark, sf_small, tmp_path, monkeypatch
):
    """N fragmented cells → ONE staged swap (one manifest, one
    recoverable unit) and one Spark write job — not N serial jobs
    (verdict r10 item 3). Per-cell file counts still hit the
    size-targeted number."""
    emb = _emb(spark, sf_small)
    path = str(tmp_path / "idx")
    S.write_ivf_index(
        emb.filter(F.col("vec_id") % 10 == 0), path,
        n_centroids=8, kmeans_max_iter=1, kmeans_init="random",
    )
    for r in range(1, 10):
        S.append_to_ivf_index(emb.filter(F.col("vec_id") % 10 == r), path)
    before = _rows(spark.read.parquet(path).select("neighbor_id", "cid"))
    calls = []
    real = S._stage_and_swap_partitions

    def spy(spark_, path_, replaced_cids, *a, **k):
        calls.append(sorted(int(c) for c in replaced_cids))
        return real(spark_, path_, replaced_cids, *a, **k)

    monkeypatch.setattr(S, "_stage_and_swap_partitions", spy)
    compacted = S.compact_ivf_cells(spark, path, target_bytes=1 << 30)
    monkeypatch.undo()
    assert len(compacted) >= 2  # several cells were fragmented
    # ONE swap carried every compacted cell
    assert calls == [sorted(compacted)]
    assert _rows(spark.read.parquet(path).select("neighbor_id", "cid")) == before
    for entry in os.listdir(path):
        if entry.startswith("cid=") and int(entry[len("cid="):]) in compacted:
            full = os.path.join(path, entry)
            files = [f for f in os.listdir(full) if not f.startswith(("_", "."))]
            assert len(files) == 1, (entry, files)


def test_predicate_delete_matches_id_delete(spark, sf_small, tmp_path):
    """delete_where is the same rewrite fed by a predicate scan — the
    retention/licensing form."""
    emb = _emb(spark, sf_small)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    for p in (a, b):
        S.write_ivf_index(emb, p, n_centroids=4, kmeans_max_iter=1,
                          kmeans_init="random", extra_cols=("label",))
    S.delete_where_from_ivf_index(spark, a, F.col("label") == 3)
    S.delete_from_ivf_index(
        spark, b, emb.filter(F.col("label") == 3).select("vec_id")
    )
    assert _rows(spark.read.parquet(a).drop("cv")) == _rows(
        spark.read.parquet(b).drop("cv")
    )


# ---------------------------------------------------------------------------
# Global re-cluster trigger (round 10 addition — the last SCALE.md gap)
# ---------------------------------------------------------------------------


def test_global_recluster_trigger_and_blue_green_rebuild(
    spark, sf_small, tmp_path
):
    """Wholesale structure change (a domain at 3× the magnitude arriving
    in an old corpus — scaling is CONFORMAL for cosine, so the search
    semantics keep no tie artifacts, while every coarse distance grows
    ~9×) must trip the COARSE drift trigger — per-cell re-splits and
    codebook retrains don't cover it — and the blue/green rebuild must
    restore coarse quantization quality; below threshold the trigger
    writes nothing."""
    emb = _emb(spark, sf_small).select("vec_id", "embedding")
    drifted = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x.cast("double") * 3.0
        ).alias("embedding"),
    )
    old = str(tmp_path / "v1")
    S.write_ivf_index(emb, old, n_centroids=8, kmeans_max_iter=4,
                      kmeans_init="random")
    # undrifted: below threshold → no-op, nothing written
    assert S.rebuild_ivf_index(
        spark, old, str(tmp_path / "v2"), drift_threshold=1.5
    ) is None
    assert not os.path.exists(str(tmp_path / "v2"))
    # the drifted domain lands in cells trained on the old corpus
    S.append_to_ivf_index(drifted, old)
    err, train_err = S.measure_ivf_coarse_drift(spark, old, sample_of=drifted)
    assert err > 1.5 * train_err, (err, train_err)
    new = str(tmp_path / "v2")
    cents = S.rebuild_ivf_index(
        spark, old, new, drift_threshold=1.5, sample_of=drifted,
        n_centroids=16, kmeans_max_iter=4, kmeans_init="random",
    )
    assert cents is not None and len(cents) == 16
    # the old layout stayed live and untouched (blue/green: serving
    # flips a pointer when ready)
    assert spark.read.parquet(old).count() == 2 * emb.count()
    assert spark.read.parquet(new).count() == 2 * emb.count()
    # the rebuild restored coarse quality for the drifted domain
    err2, _ = S.measure_ivf_coarse_drift(spark, new, sample_of=drifted)
    assert err2 < err, (err, err2)
    # and probe-all search over the rebuild is still exact
    q = drifted.filter(F.col("vec_id") < 1_000_010)
    full = emb.unionByName(drifted)
    got = _rows(S.ivf_index_topk(spark, new, q, k=5, n_probe=16))
    assert got == _rows(S.brute_force_topk(full, q, k=5))


def test_compaction_works_on_the_ivfpq_layout_too(spark, sf_small, tmp_path):
    """compact_ivf_cells is layout-agnostic over cid partitioning: on an
    IVFADC index the coalesce carries codes (and sidecars are
    untouched), so the compacted layout's ADC search is hash-equal."""
    emb = _emb(spark, sf_small)
    q = _q(emb)
    path = str(tmp_path / "idx")
    Cc = S.lattice_anchor_centroids(emb, 8)
    As = S.anchor_residual_codebook(emb, Cc)
    S.write_ivfpq_index(
        emb.filter(F.col("vec_id") % 5 == 0), path,
        coarse_cents=Cc, codebook=As,
    )
    for r in range(1, 5):
        S.append_to_ivfpq_index(emb.filter(F.col("vec_id") % 5 == r), path)
    before = _rows(S.ivfpq_index_topk(spark, path, q, k=5, n_probe=8))
    assert S.compact_ivf_cells(spark, path, target_bytes=1 << 30)
    assert _rows(S.ivfpq_index_topk(spark, path, q, k=5, n_probe=8)) == before
    # sidecars untouched by compaction
    Cc2, As2, scale2 = S.read_ivfpq_sidecars(spark, path)
    import numpy as np

    assert (Cc2 == Cc).all() and (np.asarray(As2) == np.asarray(As)).all()


# ---------------------------------------------------------------------------
# Versioned roots: the serving pointer, GC, and the compressed-tier
# coarse-drift trigger (round 11 — verdict r10 items 1 & 2)
# ---------------------------------------------------------------------------


def test_version_pointer_lifecycle(spark, sf_small, tmp_path):
    """build → publish → search through the ROOT; forced rebuild flips
    the pointer atomically; the retired version survives until GC; GC
    never touches the live version; probe-all through the root stays
    exact across the whole lifecycle."""
    emb = _emb(spark, sf_small).select("vec_id", "embedding")
    root = str(tmp_path / "idx")
    q = _q(emb)
    S.build_ivf_index_versioned(emb, root, n_centroids=8,
                                kmeans_max_iter=1, kmeans_init="random")
    v1 = S.resolve_index_path(spark, root)
    assert v1.endswith("/index") and v1.startswith(root)
    exact = _rows(S.brute_force_topk(emb, q, k=5))
    assert _rows(S.ivf_index_topk(spark, root, q, k=5, n_probe=8)) == exact
    # below threshold: the versioned rebuild is a no-op (no new version,
    # pointer unmoved)
    assert S.rebuild_ivf_index_versioned(spark, root,
                                         drift_threshold=10.0) is None
    assert S.resolve_index_path(spark, root) == v1
    # forced rebuild: new version, pointer flips, OLD subtree untouched
    v2 = S.rebuild_ivf_index_versioned(
        spark, root, force=True,
        n_centroids=16, kmeans_max_iter=1, kmeans_init="random",
    )
    assert v2 is not None and v2 != v1
    assert S.resolve_index_path(spark, root) == v2
    assert os.path.exists(os.path.dirname(v1))  # rollback window is real
    assert _rows(S.ivf_index_topk(spark, root, q, k=5, n_probe=16)) == exact
    # GC: retired v1 goes, live v2 stays — even with keep=0
    deleted = S.gc_retired_versions(spark, root, keep=0, min_age_sec=0.0)
    assert deleted == [os.path.dirname(v1)]
    assert not os.path.exists(os.path.dirname(v1))
    assert S.resolve_index_path(spark, root) == v2
    assert _rows(S.ivf_index_topk(spark, root, q, k=5, n_probe=16)) == exact
    # second GC pass: nothing left to do
    assert S.gc_retired_versions(spark, root, keep=0, min_age_sec=0.0) == []


def test_crashed_rebuild_leaves_pointer_readable_and_gc_cleans(
    spark, sf_small, tmp_path, monkeypatch
):
    """A crash at ANY point of a versioned rebuild leaves the pointer on
    the old, fully-readable version; the half-built subtree (no
    _SUCCESS) is exactly what gc_retired_versions removes — the
    round-10 leak closed. The min_age guard protects an in-flight
    build."""
    emb = _emb(spark, sf_small).select("vec_id", "embedding")
    root = str(tmp_path / "idx")
    q = _q(emb)
    S.build_ivf_index_versioned(emb, root, n_centroids=4,
                                kmeans_max_iter=1, kmeans_init="random")
    v1 = S.resolve_index_path(spark, root)

    # crash mid-build: the new version dir exists but never committed
    real = S.write_ivf_index

    def boom(corpus, path, **kw):
        os.makedirs(path)
        with open(path + "/part-junk", "w") as f:
            f.write("partial")
        raise RuntimeError("injected crash mid-build")

    monkeypatch.setattr(S, "write_ivf_index", boom)
    with pytest.raises(RuntimeError, match="injected"):
        S.rebuild_ivf_index_versioned(spark, root, force=True)
    monkeypatch.undo()
    # pointer untouched, serving unaffected
    assert S.resolve_index_path(spark, root) == v1
    exact = _rows(S.brute_force_topk(emb, q, k=5))
    assert _rows(S.ivf_index_topk(spark, root, q, k=5, n_probe=4)) == exact
    orphans = [e for e in os.listdir(root)
               if e != "_current" and e != os.path.basename(os.path.dirname(v1))]
    assert len(orphans) == 1
    # young orphan: the age guard refuses (it could be an in-flight build)
    assert S.gc_retired_versions(spark, root, keep=1, min_age_sec=3600) == []
    assert len([e for e in os.listdir(root) if e != "_current"]) == 2
    # old enough: the crashed subtree is removed, the live one never
    deleted = S.gc_retired_versions(spark, root, keep=1, min_age_sec=0.0)
    assert deleted == [f"{root}/{orphans[0]}"]
    assert S.resolve_index_path(spark, root) == v1
    assert _rows(S.ivf_index_topk(spark, root, q, k=5, n_probe=4)) == exact

    # crash between build and publish: complete but unpublished — GC
    # leaves it alone (operator's call), pointer still serves v1
    def publish_boom(*a, **k):
        raise RuntimeError("injected crash before the pointer flip")

    monkeypatch.setattr(S, "publish_index_version", publish_boom)
    with pytest.raises(RuntimeError, match="injected"):
        S.rebuild_ivf_index_versioned(spark, root, force=True,
                                      n_centroids=4, kmeans_max_iter=1,
                                      kmeans_init="random")
    monkeypatch.undo()
    assert S.resolve_index_path(spark, root) == v1
    assert S.gc_retired_versions(spark, root, keep=1, min_age_sec=0.0) == []


def test_rebuild_carries_metadata_and_stats_sidecars(
    spark, sf_small, tmp_path
):
    """verdict r10 nit (c): a rebuild must not silently drop the
    layout's metadata columns or their selectivity sidecars — they ride
    automatically, and filtered search through the ROOT works after the
    flip with the sized first probe intact."""
    emb = _emb(spark, sf_small)
    root = str(tmp_path / "idx")
    S.build_ivf_index_versioned(
        emb, root, n_centroids=4, kmeans_max_iter=1, kmeans_init="random",
        extra_cols=("label",),
    )
    v2 = S.rebuild_ivf_index_versioned(
        spark, root, force=True,
        n_centroids=8, kmeans_max_iter=1, kmeans_init="random",
    )
    assert v2 is not None
    assert "label" in spark.read.parquet(v2).columns
    assert os.path.exists(v2 + "_stats_label")  # sidecar regenerated
    q = _q(emb)
    got = _rows(S.filtered_ivf_topk(spark, root, q, filter_col="label",
                                    k=5, n_probe=8))
    want = _rows(S.filtered_topk(emb, q, filter_col="label", k=5))
    assert got == want


def test_ivfpq_coarse_drift_trigger_and_versioned_rebuild(
    spark, sf_small, tmp_path
):
    """The compressed tier's wholesale-structure detector (verdict r10
    item 2): conformal 3x drift trips measure_ivfpq_coarse_drift while
    a codebook RETRAIN alone cannot repair it (and must not re-baseline
    it away); the versioned rebuild restores coarse quality and flips
    the pointer; below threshold nothing is written."""
    emb = _emb(spark, sf_small).select("vec_id", "embedding")
    drifted = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 3.0)
        .alias("embedding"),
    )
    root = str(tmp_path / "idx")
    S.build_ivfpq_index_versioned(emb, root, n_centroids=8)
    v1 = S.resolve_index_path(spark, root)
    # below threshold: no-op, no new version dir
    assert S.rebuild_ivfpq_index_versioned(
        spark, root, drift_threshold=10.0) is None
    assert S.resolve_index_path(spark, root) == v1
    # wholesale drift arrives through the normal append path
    S.append_to_ivfpq_index(drifted, v1)
    err, train = S.measure_ivfpq_coarse_drift(spark, root, sample_of=drifted)
    assert err > 1.5 * train, (err, train)
    # a codebook retrain does NOT silence the structure trigger: the
    # coarse baseline is carried forward, not re-measured (else the
    # drift this trigger exists to catch would be masked)
    assert S.retrain_ivfpq_codebook(spark, v1, force=True, mode="anchor")
    err2, train2 = S.measure_ivfpq_coarse_drift(spark, root,
                                                sample_of=drifted)
    assert train2 == train
    assert err2 > 1.5 * train2
    # the versioned rebuild re-clusters (production mode: Lloyd coarse,
    # more cells — the structural repair) and restores coarse quality
    v2 = S.rebuild_ivfpq_index_versioned(
        spark, root, drift_threshold=1.5, sample_of=drifted,
        coarse="lloyd", n_centroids=16, kmeans_max_iter=4,
        kmeans_init="random",
    )
    assert v2 is not None and S.resolve_index_path(spark, root) == v2
    err3, _ = S.measure_ivfpq_coarse_drift(spark, root, sample_of=drifted)
    assert err3 < err2, (err2, err3)
    # probe-all + rerank-everything through the root is exact over the
    # full (old + drifted) corpus
    full = emb.unionByName(drifted)
    q = drifted.filter(F.col("vec_id") < 1_000_005)
    got = _rows(S.ivfpq_index_topk(spark, root, q, k=5,
                                   rerank=10_000, n_probe=16))
    assert got == _rows(S.brute_force_topk(full, q, k=5))


def test_layout_without_coarse_baseline_guides_rebuild(
    spark, sf_small, tmp_path
):
    """A pre-round-11 IVFADC layout (no train_coarse_err) must fail the
    coarse trigger loudly with rebuild guidance — never default to a
    fabricated baseline."""
    emb = _emb(spark, sf_small)
    path = str(tmp_path / "idx")
    S.write_ivfpq_index(emb, path, n_centroids=8)
    # simulate the old stamp: rewrite _meta without the coarse column
    meta = S._read_ivfpq_meta(spark, path)
    import shutil

    shutil.rmtree(path + "_meta")
    spark.createDataFrame(
        [(meta["scale"], meta["m"], meta["d"], meta["train_err"])],
        "scale int, m int, d int, train_err double",
    ).coalesce(1).write.parquet(path + "_meta")
    with pytest.raises(ValueError, match="coarse-drift baseline"):
        S.measure_ivfpq_coarse_drift(spark, path)
    # the residual trigger and serving still work on the old stamp
    err, train = S.measure_ivfpq_drift(spark, path)
    assert train > 0.0 or err >= 0.0


# ---------------------------------------------------------------------------
# Writer lease — the single-writer contract made loud (verdict r10 item 4)
# ---------------------------------------------------------------------------


def test_second_concurrent_writer_raises(spark, sf_small, tmp_path):
    """Two maintenance writers on one layout used to interleave stage
    dirs and manifests silently; now the second raises WriterLeaseHeld,
    and releasing the lease unblocks it."""
    emb = _emb(spark, sf_small)
    path = str(tmp_path / "idx")
    S.write_ivf_index(emb, path, n_centroids=4, kmeans_max_iter=1,
                      kmeans_init="random")
    token, stole = S.acquire_writer_lease(spark, path)  # writer 1 is live
    assert not stole
    tomb = emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    with pytest.raises(S.WriterLeaseHeld, match="one maintenance writer"):
        S.delete_from_ivf_index(spark, path, tomb)
    # recovery under a live FOREIGN lease refuses too (racing an active
    # writer's stage would corrupt it)
    with pytest.raises(S.WriterLeaseHeld):
        S.recover_interrupted_partition_swap(spark, path)
    # layout untouched by the refused writer
    assert spark.read.parquet(path).count() == emb.count()
    assert S.release_writer_lease(spark, path, token) is True
    assert S.delete_from_ivf_index(spark, path, tomb)  # now it proceeds
    # the lease does not outlive the op
    assert not os.path.exists(path + "__writer_lease")


def test_stale_lease_is_stolen_and_recovery_runs(spark, sf_small, tmp_path):
    """A lease whose holder crashed (timestamp past the TTL) is stolen
    by the next writer, which first completes/rolls back the crashed
    writer's orphan stage — the post-crash path needs no operator
    intervention."""
    emb = _emb(spark, sf_small)
    path = str(tmp_path / "idx")
    S.write_ivf_index(emb, path, n_centroids=4, kmeans_max_iter=1,
                      kmeans_init="random")
    # the crashed writer's debris: an epoch-old lease + a committed,
    # manifest-less stage (swap never started → recovery rolls it back)
    with open(path + "__writer_lease", "w") as f:
        f.write("dead-writer\n1000")
    os.makedirs(path + ".__t_dead")
    open(path + ".__t_dead/_SUCCESS", "w").close()
    tomb = emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    assert S.delete_from_ivf_index(spark, path, tomb)  # steals + recovers
    parent = os.path.dirname(path)
    assert not [e for e in os.listdir(parent) if e.startswith("idx.__")]
    assert not os.path.exists(path + "__writer_lease")
    # the delete itself really happened under the stolen lease
    got = _rows(spark.read.parquet(path).select("neighbor_id"))
    want = _rows(emb.filter(F.col("vec_id") % 7 != 3).select("vec_id"))
    assert got == want


def test_zombie_writer_cannot_release_a_stolen_lease(
    spark, sf_small, tmp_path, monkeypatch
):
    """A writer that exceeded its TTL and was superseded must not evict
    the new holder: release is owner-checked, and the zombie's next
    lease-guarded step dies loudly."""
    emb = _emb(spark, sf_small)
    path = str(tmp_path / "idx")
    S.write_ivf_index(emb, path, n_centroids=4, kmeans_max_iter=1,
                      kmeans_init="random")
    zombie, _ = S.acquire_writer_lease(spark, path)
    monkeypatch.setattr(S, "WRITER_LEASE_TTL_SEC", 0.0)
    current, stole = S.acquire_writer_lease(spark, path)
    assert stole
    monkeypatch.undo()
    assert S.release_writer_lease(spark, path, zombie) is False
    with pytest.raises(S.WriterLeaseHeld, match="superseded"):
        S._refresh_writer_lease(spark, path, zombie)
    assert S.release_writer_lease(spark, path, current) is True


# ---------------------------------------------------------------------------
# Delete affected-cell scan bounding (verdict r10 nit (b)): bounded
# tombstone batches push a literal IN to the parquet scan — row-group
# min/max stats prune non-matching cells with zero extra sidecar state
# ---------------------------------------------------------------------------


def test_delete_pushdown_path_matches_join_path(
    spark, sf_small, tmp_path, monkeypatch
):
    """Both tombstone resolutions (literal-IN pushdown for bounded
    batches, shuffle join for unbounded) must rewrite the same cells to
    the same survivors; the pushdown path's probe and survivor scans
    must actually carry the In predicate into PushedFilters (what lets
    parquet skip row groups whose id range can't match)."""
    import re

    from postgres_etl_pipeline_spark.plans import plan_string

    emb = _emb(spark, sf_small)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    for p in (a, b):
        S.write_ivf_index(emb, p, n_centroids=4, kmeans_max_iter=1,
                          kmeans_init="random")
    tomb = emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    captured = []
    real = S._stage_and_swap_partitions

    def spy(spark_, path_, cids, new_rows, *args, **kw):
        captured.append(new_rows)
        return real(spark_, path_, cids, new_rows, *args, **kw)

    monkeypatch.setattr(S, "_stage_and_swap_partitions", spy)
    got_a = S.delete_from_ivf_index(spark, a, tomb)       # pushdown path
    monkeypatch.setattr(S, "DELETE_PUSHDOWN_CUT", 0)
    got_b = S.delete_from_ivf_index(spark, b, tomb)       # join path
    monkeypatch.undo()
    assert got_a == got_b and got_a
    assert _rows(spark.read.parquet(a).drop("cv")) == _rows(
        spark.read.parquet(b).drop("cv")
    )
    # the pushdown survivors scan: neighbor_id NOT-IN reached the reader
    pushed = re.findall(
        r"PushedFilters: \[[^\]]*\]", plan_string(captured[0], "formatted")
    )
    assert any("In(neighbor_id" in p for p in pushed), pushed
    # the join path shuffles instead — no literal In pushed
    pushed_b = re.findall(
        r"PushedFilters: \[[^\]]*\]", plan_string(captured[1], "formatted")
    )
    assert not any("In(neighbor_id" in p for p in pushed_b), pushed_b


def test_append_during_rebuild_raises_instead_of_losing_rows(
    spark, sf_small, tmp_path, monkeypatch
):
    """The lost-append race (round 11): an append landing on the live
    version AFTER a blue/green rebuild's corpus read would be absent
    from the new version and silently gone once the old one is GC'd.
    The versioned rebuild holds the live layout's writer lease for its
    whole measure->build->publish span, so the racing append raises;
    retried after the flip, it lands on the NEW live version and is
    searchable through the root."""
    emb = _emb(spark, sf_small).select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 10 != 0)
    late = emb.filter(F.col("vec_id") % 10 == 0)
    root = str(tmp_path / "idx")
    S.build_ivf_index_versioned(base, root, n_centroids=4,
                                kmeans_max_iter=1, kmeans_init="random")
    live_v1 = S.resolve_index_path(spark, root)
    seen = {}
    real_write = S.write_ivf_index

    def write_with_racing_append(corpus, path, **kw):
        # mid-build, a streaming drain tries to append to the LIVE
        # version — must die loudly, not vanish behind the flip
        with pytest.raises(S.WriterLeaseHeld):
            S.append_to_ivf_index(late, live_v1)
        seen["raced"] = True
        return real_write(corpus, path, **kw)

    monkeypatch.setattr(S, "write_ivf_index", write_with_racing_append)
    v2 = S.rebuild_ivf_index_versioned(
        spark, root, force=True,
        n_centroids=4, kmeans_max_iter=1, kmeans_init="random",
    )
    monkeypatch.undo()
    assert seen.get("raced") and v2 is not None
    # the lease died with the rebuild; the retried append lands on the
    # new live version and the full corpus is served through the root
    assert not os.path.exists(v2 + "__writer_lease")
    S.append_to_ivf_index(late, S.resolve_index_path(spark, root))
    q = _q(emb)
    got = _rows(S.ivf_index_topk(spark, root, q, k=5, n_probe=4))
    assert got == _rows(S.brute_force_topk(emb, q, k=5))


# ---------------------------------------------------------------------------
# Versioned-root acceptance: every public entry point of both tiers
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("tier", ["ivf", "ivfpq"])
def test_every_entry_point_accepts_a_versioned_root(
    spark, sf_small, tmp_path, tier
):
    """Every public ANN entry point takes a versioned ROOT and acts on
    its live version — append, delete, predicate delete, re-split,
    coarse-drift measure, rebuild, index search and filtered search —
    at both tiers (the raw-tier rebuild and predicate delete used to
    read the root as a layout and fail)."""
    pq = tier == "ivfpq"
    emb = _emb(spark, sf_small)
    q = _q(emb)
    root = str(tmp_path / "idx")
    if pq:
        S.build_ivfpq_index_versioned(
            emb.filter(F.col("vec_id") % 2 == 0), root, n_centroids=4,
            extra_cols=("label",),
        )
    else:
        S.build_ivf_index_versioned(
            emb.filter(F.col("vec_id") % 2 == 0), root, n_centroids=4,
            kmeans_max_iter=1, kmeans_init="random", extra_cols=("label",),
        )
    live = S.resolve_index_path(spark, root)
    append = S.append_to_ivfpq_index if pq else S.append_to_ivf_index
    append(emb.filter(F.col("vec_id") % 2 == 1), root, extra_cols=("label",))
    gone = {int(r[0]) for r in emb.select("vec_id").orderBy("vec_id").limit(2).collect()}
    first, second = sorted(gone)
    delete = S.delete_from_ivfpq_index if pq else S.delete_from_ivf_index
    assert delete(spark, root, emb.filter(F.col("vec_id") == first))
    assert S.delete_where_from_ivf_index(
        spark, root, F.col("neighbor_id") == second
    )
    resplit = S.resplit_ivfpq_cell if pq else S.resplit_ivf_cell
    assert len(resplit(spark, root, n_sub=2, kmeans_max_iter=1)) == 5
    stored = {
        int(r[0])
        for r in spark.read.parquet(live).select("neighbor_id").collect()
    }
    assert stored == {int(r[0]) for r in emb.select("vec_id").collect()} - gone
    measure = S.measure_ivfpq_coarse_drift if pq else S.measure_ivf_coarse_drift
    err, base = measure(spark, root)
    assert err > 0 and base > 0
    rebuild = S.rebuild_ivfpq_index if pq else S.rebuild_ivf_index
    assert rebuild(spark, root, str(tmp_path / "blue"), force=True) is not None
    qids = {int(r[0]) for r in q.select("vec_id").collect()}
    if pq:
        hits = S.ivfpq_index_topk(spark, root, q, k=5, n_probe=5)
        filtered = S.filtered_ivfpq_topk(
            spark, root, q, filter_col="label", k=5, n_probe=2
        )
    else:
        hits = S.ivf_index_topk(spark, root, q, k=5, n_probe=5)
        filtered = S.filtered_ivf_topk(
            spark, root, q, filter_col="label", k=5, n_probe=2
        )
    for rows in (_rows(hits), _rows(filtered)):
        assert {r[0] for r in rows} == qids
        assert not {r[1] for r in rows} & gone
