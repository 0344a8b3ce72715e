"""Sinks (SURVEY §2.2).

K1 atomic artifact write, K3/K4 NDJSON/JSON stage writes, K5 keyed upsert
(the one genuinely custom sink — SURVEY §4.2), K8/K9 view/table
materialization.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def atomic_write_text(path: str, text: str) -> None:
    """K1 — write-to-tmp + fsync + rename, all-or-nothing
    (``grocery_lib/io_utils.py:66-73``). For driver-side artifacts (raw
    payload files, reconcile reports); distributed writes get atomicity from
    Spark's output-commit protocol instead."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path) or ".")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def torn_write_text(path: str, text: str) -> None:
    """K2 — deliberately torn write (fault injector twin of
    ``io_utils.py:76-89``): first half only, no rename. Test harness only —
    produces the artifact the PERMISSIVE reader must quarantine."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        f.write(text[: max(1, len(text) // 2)])
        f.flush()
        os.fsync(f.fileno())


def write_ndjson(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K3 — NDJSON staging write (``grocery_validate_dag.py:65-79``).
    Spark's JSON sink is NDJSON natively; the commit protocol renames the
    task files atomically (K1 for free)."""
    df.write.mode(mode).json(path)


def write_table(
    df: DataFrame, name: str, mode: str = "overwrite", partition_by: list[str] | None = None
) -> None:
    """K9 — dbt 'table' materialization: CTAS a managed parquet table
    (``dbt_project.yml:23-25``). Partitioning is the 100 TB lever: daily
    marts partitioned by day prune to one partition per day-scoped query."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.saveAsTable(name)


def _union_with_target(
    spark: SparkSession, incoming: DataFrame, target_path: str
) -> DataFrame:
    """Tag ``incoming`` with ``__src = 1`` and union the existing target
    beneath it (``__src = 0``) — the shared front half of every
    merge-by-rewrite sink.

    "First write" is decided by an explicit existence check, NEVER by
    catching read/union errors: a schema-drifted batch or transient IO
    failure inside a blanket except would silently overwrite the target
    with only the incoming rows (destroying the table). A schema mismatch
    in the union PROPAGATES for the same reason.

    A missing target with orphan ``.__merge_*``/``.__cdc_*`` sibling dirs
    present is NOT a first write either — it is the crash window of
    :func:`_swap_into_place` (delete done, rename not): treating it as
    fresh would silently reinitialize the table from only the incoming
    batch, losing all stored state and tombstones. That case FAILS LOUDLY
    with the orphan paths, so an operator (or a recovery wrapper) renames
    the completed merged copy into place before retrying.
    """
    inc = incoming.withColumn("__src", F.lit(1))
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(target_path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jvm_path):
        current = spark.read.parquet(target_path).withColumn("__src", F.lit(0))
        return current.unionByName(inc)
    orphans = _orphan_swap_dirs(spark, target_path)
    if orphans:
        raise IOError(
            f"target {target_path} is missing but interrupted-swap temp dirs "
            f"exist: {orphans}. A previous merge crashed between delete and "
            "rename — run recover_interrupted_swap (it promotes the newest "
            "orphan carrying a _SUCCESS commit marker and refuses "
            "uncommitted partials) before merging again; never promote an "
            "orphan without its _SUCCESS marker."
        )
    return inc


def _orphan_swap_dirs(spark: SparkSession, target_path: str) -> list[str]:
    """Leftover ``<target>.__<tag>_<hex>`` sibling dirs from an interrupted
    :func:`_swap_into_place` (any tag — merge, cdc, future sinks)."""
    glob = spark._jvm.org.apache.hadoop.fs.Path(
        target_path.rstrip("/") + ".__*"
    )
    fs = glob.getFileSystem(spark._jsc.hadoopConfiguration())
    statuses = fs.globStatus(glob)
    if statuses is None:
        return []
    return sorted(str(s.getPath()) for s in statuses)


def recover_interrupted_swap(spark: SparkSession, target_path: str) -> bool:
    """Recover a merge-by-rewrite table from :func:`_swap_into_place`'s
    crash window (delete done, rename not): if the target is missing but
    orphan swap dirs exist, rename the most recently modified COMPLETE
    orphan — one carrying the ``_SUCCESS`` commit marker the Spark writer
    leaves after a successful job — into place and drop the stale rest.
    Returns True when a recovery happened, False when there was nothing
    to do (target present, or genuinely no table yet). Run it before a
    merge loop starts, or after catching the interrupted-swap error the
    merge sinks raise.

    The ``_SUCCESS`` check distinguishes the two crash windows (review
    finding r07): a crash DURING the temp write leaves an uncommitted
    orphan (no marker — possibly just ``_temporary/`` junk) that must
    never be promoted to the live table; a crash between delete and
    rename leaves a committed one. When only uncommitted orphans exist
    the function raises rather than guessing — on a deployment that
    disabled success markers, promoting by mtime alone could enshrine a
    half-written table.

    Single-writer contract, same as the sinks themselves: concurrent
    writers racing this rename need a real transactional table format
    (Delta/Iceberg), not a directory swap.
    """
    jvm = spark._jvm
    jvm_path = jvm.org.apache.hadoop.fs.Path(target_path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jvm_path):
        return False
    orphans = _orphan_swap_dirs(spark, target_path)
    if not orphans:
        return False
    complete = [
        p
        for p in orphans
        if fs.exists(jvm.org.apache.hadoop.fs.Path(p + "/_SUCCESS"))
    ]
    if not complete:
        raise IOError(
            f"target {target_path} is missing and the orphan swap dirs "
            f"{orphans} carry no _SUCCESS commit marker — they are "
            "uncommitted partial writes (crash during the temp write, or "
            "success markers disabled). Nothing safe to promote; inspect "
            "and remove them manually."
        )
    by_mtime = sorted(
        complete,
        key=lambda p: fs.getFileStatus(
            jvm.org.apache.hadoop.fs.Path(p)
        ).getModificationTime(),
    )
    newest = by_mtime[-1]
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(newest), jvm_path):
        raise IOError(f"recovery rename {newest} -> {target_path} failed")
    for stale in set(orphans) - {newest}:
        fs.delete(jvm.org.apache.hadoop.fs.Path(stale), True)
    return True


def _sql_str(v: str) -> str:
    """Escape a value for splicing into a single-quoted SQL string
    literal (``'`` → ``''``, the one escape ANSI defines). Statement
    builders here ship SQL TEXT over JDBC (no parameter binding on that
    path), so every interpolated VALUE must pass through this; bare
    f-string splicing breaks — or worse, reinterprets — the statement the
    moment the value contains a quote (advice r08 #3)."""
    return str(v).replace("'", "''")


def _swap_into_place(
    spark: SparkSession, df: DataFrame, target_path: str, tag: str
) -> DataFrame:
    """Write ``df`` BESIDE the target, then swap — the shared back half of
    every merge-by-rewrite sink.

    Writing directly over ``target_path`` would destroy the table if the
    job died mid-write (and would recompute from a half-overwritten source
    without a checkpoint). With the sibling write, the target stays intact
    and readable for the whole merge; the swap is two metadata ops, and a
    crash between them leaves the complete merged copy at the temp path
    for recovery.
    """
    tmp_path = target_path.rstrip("/") + f".__{tag}_{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp_path)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(target_path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    tmp_jvm = spark._jvm.org.apache.hadoop.fs.Path(tmp_path)
    fs.delete(jvm_path, True)
    if not fs.rename(tmp_jvm, jvm_path):
        raise IOError(
            f"rename {tmp_path} -> {target_path} failed; merged data at {tmp_path}"
        )
    return spark.read.parquet(target_path)


def upsert_parquet(
    spark: SparkSession,
    incoming: DataFrame,
    target_path: str,
    keys: list[str],
    order_by: list[Column],
) -> DataFrame:
    """K5 — keyed upsert: ``INSERT … ON CONFLICT (keys) DO UPDATE`` semantics
    onto a parquet-backed table (``grocery_lib/pg.py:33-60``).

    Batch algorithm: union(target, incoming) → row_number over (keys,
    order_by) → keep rn=1 → write merged result to a SIBLING temp directory
    → swap into place. The target is never the write destination while it is
    still the read source, so there is no lineage hazard and no torn-table
    window during the (long) merge write; the only non-atomic step is the
    final delete+rename, and a crash between those two leaves the complete
    merged copy on disk at the temp path for recovery. Incoming rows order
    AFTER existing ones at equal ordering columns, preserving the
    reference's sequential last-write-wins (``pg.py:56-59``; SURVEY §2.9
    caution 5).

    Scale: full rewrite is O(table) — correct-but-naive for parquet. The
    scale path is a transactional table format (Delta/Iceberg MERGE INTO,
    which shuffles only matched files) or the JDBC staging merge below. The
    row-at-a-time loop of the reference is the one pattern we never copy.
    """
    merged = _union_with_target(spark, incoming, target_path)
    w = Window.partitionBy(*keys).orderBy(*(list(order_by) + [F.col("__src").desc()]))
    deduped = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )
    return _swap_into_place(spark, deduped, target_path, "merge")


def upsert_sql(table: str, cols: list[str], keys: list[str]) -> str:
    """K5 (JDBC flavor) — the single batched ``INSERT … ON CONFLICT … DO
    UPDATE`` statement a ``foreachBatch`` sink ships after staging a batch
    (replaces ``pg.py:44-52``'s per-row loop with one set-based merge).

    Usage at scale: ``df.foreachBatch`` → write batch to a staging table via
    JDBC (``batchsize`` tuned), then execute this statement on one
    connection — idempotent under retries because the key match makes
    re-application a no-op update.
    """
    collist = ", ".join(cols)
    placeholders = ", ".join(f":{c}" for c in cols)
    conflict = ", ".join(keys)
    updates = ", ".join(f"{c} = EXCLUDED.{c}" for c in cols if c not in keys)
    return (
        f"INSERT INTO {table} ({collist}) VALUES ({placeholders}) "
        f"ON CONFLICT ({conflict}) DO UPDATE SET {updates}"
    )


def cdc_merge_sql(
    target: str,
    staging: str,
    cols: list[str],
    keys: list[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
    hard_delete: bool = True,
) -> str:
    """K5+CDC (JDBC flavor, verdict r06 item 8) — one ANSI ``MERGE``
    statement applying a COLLAPSED changelog batch (exactly one change
    per key — :func:`~..operators.cdc.apply_changelog` with
    ``keep_deletes=True`` produces it; MERGE requires a unique source row
    per target row) from a staging table onto the live table, deletes
    included. Runs on Derby (tested live), Postgres 15+, and any
    SQL:2003 MERGE engine; pre-15 Postgres needs the upsert + separate
    ``DELETE … USING`` pair instead.

    Every matched clause carries ``s.seq >= t.seq``, so a REDELIVERED
    older batch is a per-row no-op — the same effectively-once contract
    as :func:`upsert_parquet` (the reference's sequential last-write-wins,
    ``pg.py:56-59``).

    ``hard_delete=True`` physically deletes the key — the conventional
    relational shape, with the documented caveat that the tombstone is
    gone: a redelivered PRE-delete insert would re-insert the key via the
    NOT MATCHED branch, so hard deletes require the upstream to never
    redeliver across a delete (e.g. per-key ordered delivery with
    committed offsets). ``hard_delete=False`` keeps the tombstone as a
    stored row (op = delete_op) exactly like :func:`cdc_merge_parquet` —
    resurrection-proof under arbitrary redelivery; readers filter
    ``op <> '{delete_op}'`` and GC uses the same horizon rule as
    :func:`compact_cdc_tombstones`.
    """
    # Column identifiers are DOUBLE-QUOTED: the Spark JDBC writer creates
    # tables with quoted (case-preserved, typically lowercase) column
    # names, which an unquoted reference would fold to uppercase and miss
    # on Derby/Postgres alike.
    def q(c: str) -> str:
        return f'"{c}"'

    on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in keys)
    updates = ", ".join(f"{q(c)} = s.{q(c)}" for c in cols if c not in keys)
    collist = ", ".join(q(c) for c in cols)
    values = ", ".join(f"s.{q(c)}" for c in cols)
    newer = f"s.{q(seq_col)} >= t.{q(seq_col)}"
    opref = f"s.{q(op_col)}"
    dop = _sql_str(delete_op)
    if hard_delete:
        return (
            f"MERGE INTO {target} t USING {staging} s ON ({on}) "
            f"WHEN MATCHED AND {opref} = '{dop}' AND {newer} "
            f"THEN DELETE "
            f"WHEN MATCHED AND {opref} <> '{dop}' AND {newer} "
            f"THEN UPDATE SET {updates} "
            f"WHEN NOT MATCHED AND {opref} <> '{dop}' "
            f"THEN INSERT ({collist}) VALUES ({values})"
        )
    return (
        f"MERGE INTO {target} t USING {staging} s ON ({on}) "
        f"WHEN MATCHED AND {newer} THEN UPDATE SET {updates} "
        f"WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({values})"
    )


def execute_jdbc_statement(
    spark: SparkSession,
    url: str,
    sql: str,
    properties: dict | None = None,
    driver: str | None = None,
) -> int:
    """Run one DML/DDL statement on a JDBC database through the driver
    JVM's ``DriverManager`` (the connection the Spark JDBC source already
    proved reachable). Returns the update count. This is the execution
    half of the staging-merge pattern: Spark writes the batch via the
    JDBC sink (parallel, ``batchsize``-tuned), then ONE statement on ONE
    connection merges it set-based — never a row-at-a-time loop.

    ``properties`` carries connection properties (``user``, ``password``,
    vendor options) exactly like the Spark JDBC reader's — an
    authenticated database needs them HERE too, not only on the staging
    write (review finding r07: credentials passed only via write options
    would authenticate the staging write and then fail the merge).
    ``driver`` names the JDBC driver class to load first: DriverManager
    only finds drivers registered via the service loader, and passing the
    class name as a connection property is inert — Class.forName is the
    registration path, same as the Spark writer's own driver option."""
    if driver:
        spark._jvm.java.lang.Class.forName(driver)
    props = spark._jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        props.setProperty(str(k), str(v))
    conn = spark._jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        stmt = conn.createStatement()
        try:
            return stmt.executeUpdate(sql)
        finally:
            stmt.close()
    finally:
        conn.close()


def drain_changelog_jdbc(
    spark: SparkSession,
    changes: DataFrame,
    url: str,
    target: str,
    keys: list[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
    hard_delete: bool = True,
    staging: str | None = None,
    write_options: dict | None = None,
) -> None:
    """Apply one changelog batch onto a JDBC table, deletes included —
    the composition the reference's Postgres sink needs for full CDC
    (verdict r06 item 8): collapse the batch to one change per key
    (:func:`~..operators.cdc.apply_changelog`, tombstones kept so the
    MERGE sees deletes), stage it via the Spark JDBC sink, then execute
    ONE :func:`cdc_merge_sql` statement. ``foreachBatch``-ready: call
    this per micro-batch (idempotent under retries via the seq guard —
    with ``hard_delete=False`` also under cross-delete redelivery).

    Authentication: ``user``/``password``/``driver`` entries in
    ``write_options`` are forwarded to the MERGE connection too, so one
    option dict drives both the staging write and the statement.
    """
    from ..operators.cdc import apply_changelog

    staging = staging or f"{target}_stage"
    collapsed = apply_changelog(
        changes,
        keys,
        [F.col(seq_col)],
        op_col=op_col,
        delete_op=delete_op,
        keep_deletes=True,
    )
    w = collapsed.write.format("jdbc").option("url", url).option(
        "dbtable", staging
    )
    for k, v in (write_options or {}).items():
        w = w.option(k, v)
    w.mode("overwrite").save()
    merge = cdc_merge_sql(
        target,
        staging,
        cols=collapsed.columns,
        keys=keys,
        seq_col=seq_col,
        op_col=op_col,
        delete_op=delete_op,
        hard_delete=hard_delete,
    )
    # Forward EVERY write option that is a connection property — the
    # Spark JDBC writer passes unknown options straight to the driver, so
    # an allowlist would drop vendor props (ssl/sslmode/currentSchema/...)
    # and the merge connection would differ from the staging one (review
    # finding r07). Only the writer-level options that are NOT connection
    # properties are excluded.
    _writer_only = {
        "dbtable", "query", "url", "createTableColumnTypes",
        "createTableOptions", "truncate", "batchsize", "isolationLevel",
        "numPartitions", "customSchema", "cascadeTruncate",
    }
    conn_props = {
        k: v for k, v in (write_options or {}).items()
        if k.lower() not in _writer_only and k.lower() != "driver"
    }
    driver = (write_options or {}).get("driver")
    execute_jdbc_statement(
        spark, url, merge, properties=conn_props, driver=driver
    )


def cdc_merge_parquet(
    spark: SparkSession,
    changes: DataFrame,
    target_path: str,
    keys: list[str],
    order_by: list[str],
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """K5+CDC — apply an insert/update/delete changelog batch onto a
    parquet-backed table, WITH tombstone retention.

    The delete-capable sibling of :func:`upsert_parquet` (the reference's
    ``pg.py:33-60`` upsert has no delete path at all). Per batch:

    - the current table unions with the incoming changes and collapses via
      ``operators.cdc.apply_changelog`` in ONE key-partitioned window —
      ordering is (``order_by`` …, incoming-beats-stored) so a REDELIVERED
      old change can never regress a newer stored state (same contract as
      upsert_parquet, which makes at-least-once delivery effectively-once);
    - a key's terminal delete is STORED as a tombstone row (op = D, its
      sequence retained) instead of being dropped: a late redelivery of a
      pre-delete insert loses to the tombstone by sequence and cannot
      resurrect the key. Tombstone GC (dropping tombstones older than the
      redelivery horizon) is a compaction concern, same bucket as
      :func:`compact_files`;
    - the merged state writes to a sibling temp dir and swaps in — the
      target stays intact and readable during the whole merge.

    Readers consume :func:`read_cdc_table`, which filters tombstones.
    The stored schema is the change schema (keys + order columns + op +
    payload); ``order_by`` names ascending sequence columns.
    """
    from ..operators.cdc import apply_changelog

    merged = _union_with_target(spark, changes, target_path)
    final = apply_changelog(
        merged,
        keys,
        [F.col(c) for c in order_by] + [F.col("__src")],
        op_col=op_col,
        delete_op=delete_op,
        keep_deletes=True,
    ).drop("__src")
    return _swap_into_place(spark, final, target_path, "cdc")


def read_cdc_table(
    spark: SparkSession,
    target_path: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Live rows of a :func:`cdc_merge_parquet` table (tombstones filtered,
    bookkeeping op column dropped)."""
    df = spark.read.parquet(target_path)
    return df.filter(F.col(op_col) != F.lit(delete_op)).drop(op_col)


def compact_cdc_tombstones(
    spark: SparkSession,
    target_path: str,
    seq_col: str,
    horizon: int,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Tombstone GC for a :func:`cdc_merge_parquet` table: drop tombstones
    whose sequence is STRICTLY BELOW the redelivery ``horizon`` (verdict
    r06 item 7 — without GC the table retains every deleted key's
    tombstone forever).

    Why the strict bound is safe: a tombstone at sequence ``s_d`` only
    exists to out-sequence REDELIVERED pre-delete changes, which by
    definition carry sequences ``< s_d``. ``horizon`` is the caller's
    at-least-once delivery guarantee — "no change with ``seq_col`` <
    horizon will ever arrive again" (a Kafka committed offset, a WAL LSN
    low-water mark). If ``s_d < horizon`` then every change the tombstone
    could ever have to defeat satisfies ``seq < s_d < horizon`` and is
    guaranteed never to arrive — the tombstone is dead weight. A tombstone
    with ``s_d >= horizon`` is RETAINED: some pre-delete change may still
    be redelivered, and it must keep losing (pinned in test_cdc).

    Same rewrite contract as the merge itself: sibling temp write + swap,
    target readable throughout. Scale: the compaction is a pure filter —
    one scan, no shuffle; run it on the same cadence as file compaction.
    """
    df = spark.read.parquet(target_path)
    kept = df.filter(
        (F.col(op_col) != F.lit(delete_op)) | (F.col(seq_col) >= F.lit(horizon))
    )
    return _swap_into_place(spark, kept, target_path, "cdc_gc")


def compact_cdc_tombstones_jdbc(
    spark: SparkSession,
    url: str,
    target: str,
    seq_col: str,
    horizon: int,
    op_col: str = "op",
    delete_op: str = "D",
    properties: dict | None = None,
    driver: str | None = None,
) -> None:
    """Tombstone GC for a soft-delete (``hard_delete=False``)
    :func:`drain_changelog_jdbc` target — the relational flavor of
    :func:`compact_cdc_tombstones` (verdict r07 item 9: drain and GC were
    verified separately; this composes them so the REMOTE sink also
    compacts). One set-based ``DELETE`` removes tombstones whose sequence
    is strictly below the redelivery ``horizon``; the safety argument is
    identical to the parquet GC's docstring (a tombstone at ``s_d <
    horizon`` can only ever defeat changes with ``seq < s_d < horizon``,
    which the horizon contract says will never arrive again), and a
    tombstone at ``seq >= horizon`` is retained so a still-possible
    redelivered pre-delete change keeps losing the MERGE's seq guard.

    Identifier quoting matches :func:`cdc_merge_sql` (the Spark JDBC
    writer creates case-preserved column names that unquoted references
    would fold to uppercase on Derby/Postgres); the ``delete_op`` VALUE
    is single-quote-escaped (advice r08 #3 — an op marker containing a
    quote must produce a correct literal, never broken/injectable SQL),
    and ``target`` carries the same trusted-caller-identifier contract
    :func:`cdc_merge_sql` documents.
    """
    stmt = (
        f"DELETE FROM {target} "
        f"WHERE \"{op_col}\" = '{_sql_str(delete_op)}' "
        f'AND "{seq_col}" < {int(horizon)}'
    )
    execute_jdbc_statement(
        spark, url, stmt, properties=properties, driver=driver
    )


def overwrite_partitions(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Incremental mart refresh: replace ONLY the partitions present in
    ``df``, leaving all other partitions' files untouched.

    This is the 100 TB maintenance path for the daily mart (A1,
    ``mart_daily_sales.sql:6-15``): late or corrected transactions for day D
    recompute and rewrite partition day=D alone — O(changed days), not
    O(table) like a full CTAS, and not a row-level merge either (the mart is
    a pure function of its day's inputs, so partition replacement is exact).

    Uses dynamic partition overwrite (write-local option, not session conf,
    so concurrent full-overwrite writers are unaffected): Spark stages new
    files per touched partition and commits by swapping just those
    directories.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed external table — the co-located-join layout (SURVEY §4.2).

    Both sides of a repeat join written with the same (bucket_cols,
    n_buckets) join WITHOUT an exchange: each bucket pairs off by file.
    This is the 100 TB answer to 'we join these two huge tables every run'
    — pay the shuffle once at write time, never again at read time
    (asserted plan-level in tests/test_bucketing.py).
    """
    w = df.write.mode("overwrite").option("path", path).bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(name)


def _partition_by_literal_cuts(
    df: DataFrame, key_col: str, n_parts: int
) -> DataFrame:
    """Deterministically range-partition ``df`` on numeric ``key_col``
    into ``n_parts`` EXACT equal-rank slices — the determinism fix for the
    layout writers (round-2 flake, round-4 verdict item 7):
    ``repartitionByRange`` re-SAMPLES split points per execution, so two
    writes of the same data could land rows in different files and smear
    file boundaries. Here every row gets an exact global rank from the
    distributed ranking kernel (operators/ranking.py — literal
    approxQuantile buckets + partitioned window + offset map; the
    approximation moves only internal bucket BALANCE, never the rank), and
    file id = ``((rank-1)·n_parts) div n_total`` — sharp, byte-
    deterministic splits with no sampling anywhere.

    Ties: equal key values may split across adjacent files (their file
    min/max then TOUCH at that one value, never overlap past it); which
    duplicate lands where is immaterial to the footer stats, which are a
    pure function of the value multiset.

    Routing: ``repartition(n, col)`` places a row at
    ``pmod(murmur3(col), n)``, so each file id is mapped to a TOKEN whose
    murmur3 pmod n equals it (preimages via one tiny driver job;
    ``F.hash`` IS the Murmur3Hash that HashPartitioning applies). Each
    output partition then holds exactly one rank slice.
    """
    from ..operators.ranking import global_rank

    spark = df.sparkSession
    rf = global_rank(
        df, key_col, tie_cols=[], key_cols=[key_col], n_buckets=n_parts
    )
    if rf.n_total == 0:
        return df.withColumn("__routed_tok", F.lit(0).cast("int"))
    fid = F.expr(f"CAST(((_rank - 1) * {n_parts}) DIV {rf.n_total} AS INT)")
    tok_map = _identity_partition_tokens(spark, n_parts)
    return (
        rf.df.withColumn("__routed_tok", tok_map[fid].cast("int"))
        .repartition(n_parts, "__routed_tok")
        .drop("_bkt", "_rank")
    )


def _identity_partition_tokens(spark: SparkSession, n_parts: int) -> Column:
    """Literal map ``partition_id → token`` with ``pmod(murmur3(token),
    n_parts) == partition_id`` — routing a computed id column through
    ``repartition(n, tok)`` then lands each id on exactly its own
    partition (``F.hash`` IS the Murmur3Hash HashPartitioning applies).
    Preimages come from one tiny driver job over candidate ints."""
    cand = spark.range(0, 64 * n_parts).select(
        F.col("id").cast("int").alias("tok"),
        F.pmod(F.hash(F.col("id").cast("int")), F.lit(n_parts)).alias("p"),
    )
    toks = {
        r["p"]: r["tok"]
        for r in cand.groupBy("p").agg(F.min("tok").alias("tok")).collect()
    }
    missing = set(range(n_parts)) - set(toks)
    if missing:  # P(miss) ~ n*e^-64 — defensive, not expected
        raise RuntimeError(f"no murmur preimage found for buckets {missing}")
    return F.create_map(
        *[F.lit(x) for b in range(n_parts) for x in (b, toks[b])]
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    sort_within: list[str] | None = None,
) -> dict:
    """Deterministic sharded export — the LAST step of a dataset-assembly
    pipeline (split/sample/pack live upstream): every row lands in shard
    ``pmod(xxhash64(id), n_shards)``, one parquet file per shard, plus a
    ``manifest.json`` recording per-shard row counts and an
    order-insensitive content hash.

    Properties a training loader relies on, all tested:
    - assignment is a pure function of the row id — independent of input
      partitioning, cluster size, or re-runs (two writes are identical);
    - shard count is FIXED by the caller (loaders address shards by
      index), enforced via identity partition routing — exactly
      ``n_shards`` files regardless of executor count; a shard with zero
      rows writes no ``__shard=K`` directory (parquet has no empty
      partition dirs) but still appears in the manifest with ``rows: 0``,
      so loaders can distinguish "empty" from "missing/corrupt";
    - the manifest makes partial/corrupt copies detectable without
      re-reading payloads.

    Scale: one hash exchange on the shard id; the manifest aggregate is
    map-side combined (n_shards rows to the driver). At 100 TB raise
    ``n_shards`` so shards stay ~file-sized; the assignment stays stable
    under ANY n_shards change only for ids, not rows — re-sharding is a
    rewrite by design (as with every webdataset-style layout).
    """
    spark = df.sparkSession
    shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)).cast("int")
    tok_map = _identity_partition_tokens(spark, n_shards)
    routed = (
        df.withColumn("__shard", shard)
        .withColumn("__tok", tok_map[F.col("__shard")].cast("int"))
        .repartition(n_shards, "__tok")
    )
    if sort_within:
        routed = routed.sortWithinPartitions(*sort_within)
    (
        routed.drop("__tok")
        .write.mode("overwrite")
        .partitionBy("__shard")
        .parquet(path)
    )
    stats = (
        spark.read.parquet(path)
        .groupBy("__shard")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.bit_xor(F.xxhash64(F.col(id_col))).alias("content_hash"),
        )
        .collect()
    )
    present = {
        int(r["__shard"]): {
            "rows": int(r["rows"]),
            "content_hash": int(r["content_hash"]),
        }
        for r in stats
    }
    manifest = {
        "n_shards": n_shards,
        "id_col": id_col,
        "total_rows": int(sum(r["rows"] for r in stats)),
        # every index 0..n_shards-1, zero-row shards included (advice r05):
        # an absent key would be indistinguishable from a lost shard
        "shards": {
            k: present.get(k, {"rows": 0, "content_hash": 0})
            for k in range(n_shards)
        },
    }
    import json as _json

    # leading underscore: Spark/Hadoop input listing skips _-prefixed files
    # (the _SUCCESS convention), so the manifest never shadows data files
    atomic_write_text(
        os.path.join(path, "_manifest.json"), _json.dumps(manifest, sort_keys=True)
    )
    return manifest


def write_range_layout(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int | None = None,
) -> None:
    """Data-skipping layout: range-partition by ``sort_cols`` + sort
    within partitions, so each output parquet file owns a DISJOINT value
    range and its row-group min/max statistics actually prune.

    A hash-partitioned write scatters every key range across every file —
    min/max spans everything, the reader skips nothing. After this layout,
    a point/range predicate on ``sort_cols`` touches only the files whose
    stats overlap (file- and row-group-level pruning in the parquet
    reader). This is the open-source answer to clustering/z-order for the
    single-column case, and the 100 TB lever for scan-heavy predicates that
    partition directories are too coarse for. Disjointness is asserted
    file-by-file in tests via parquet footer stats.

    DETERMINISTIC for a numeric leading sort column: split points are
    literal quantile cutpoints (see :func:`_partition_by_literal_cuts`),
    so writing the same input twice yields byte-identical file ranges.
    Non-numeric leading columns fall back to ``repartitionByRange``
    (disjoint, but boundaries are re-sampled per run).
    """
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    if isinstance(df.schema[sort_cols[0]].dataType, T.NumericType):
        routed = _partition_by_literal_cuts(df, sort_cols[0], n)
    else:  # approxQuantile only handles numeric columns
        routed = df.repartitionByRange(n, *sort_cols)
    (
        routed.sortWithinPartitions(*sort_cols)
        .drop("__routed_tok")
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_value(cols: list[Column | str], bits: int = 16) -> Column:
    """Z-order (Morton) key: interleave the low ``bits`` of each column's
    non-negative integer representation, so files sorted by this ONE value
    cluster in ALL dimensions at once.

    Pure Column expression (shift/mask/or chain — whole-stage codegen, no
    UDF). Caller maps each column to a bounded non-negative int first
    (direct for keys; rank- or bucket-encode otherwise). bits·n_cols must
    fit a long (≤ 63).
    """
    ncols = [F.col(c) if isinstance(c, str) else c for c in cols]
    n = len(ncols)
    if bits * n > 63:
        raise ValueError(f"{bits} bits × {n} cols exceeds a long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(ncols):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def write_zorder_layout(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    n_files: int | None = None,
    bits: int = 16,
) -> None:
    """Multi-dimensional data-skipping layout: range-partition + sort by the
    interleaved z-value, then drop the helper column on write.

    `write_range_layout` makes ONE column's file min/max disjoint — perfect
    1-D pruning, zero 2-D help. Z-ordering trades a little 1-D sharpness
    for bounded min/max ranges on EVERY z-ordered column, so conjunctive
    range predicates across dimensions prune files the parquet reader would
    otherwise have to read. The open-source answer to Delta/Iceberg
    OPTIMIZE ZORDER for plain parquet dirs (asserted file-footer-level in
    tests/test_skew_and_layout.py).

    DETERMINISTIC: the Morton key is split at literal quantile cutpoints
    (:func:`_partition_by_literal_cuts`, never ``repartitionByRange``'s
    per-run sampling), so two writes of the same input produce identical
    file boundaries — asserted run-vs-run in tests.
    """
    zdf = df.withColumn("__z", zorder_value(zorder_cols, bits=bits))
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    (
        _partition_by_literal_cuts(zdf, "__z", n)
        .sortWithinPartitions("__z")
        .drop("__z", "__routed_tok")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_files(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ⌈total_bytes / target_mb⌉ files, preserving (or imposing) a sort layout.
    Returns the new file count.

    The operational 100 TB problem this solves: streaming/incremental sinks
    accrete thousands of KB-sized files per partition; every reader then
    pays per-file open/footer costs and the scheduler per-split overhead.
    Compaction is a pure rewrite — coalesce to the byte-budgeted file count
    (no shuffle) unless a sort layout is requested, in which case the
    range-partition shuffle re-establishes data-skipping stats at the same
    pass. Writes to a sibling temp dir and swaps via rename, same crash
    contract as upsert_parquet.
    """
    import math
    import os
    import shutil

    df = spark.read.parquet(path)
    total = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    tmp = f"{path}__compact_tmp"
    if sort_cols:
        out = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        out = df.coalesce(n_files)
    out.write.mode("overwrite").parquet(tmp)
    old = f"{path}__compact_old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_files
