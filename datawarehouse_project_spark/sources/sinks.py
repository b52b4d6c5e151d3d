"""Write paths: partitioned parquet and upsert-merge.

The reference's only sink is per-row JDBC upsert (MeshJoin.java:79,145,207,
374 — one round-trip per row, the dominant cost of its ETL). The Spark
equivalents:

* ``write_partitioned`` — columnar parquet laid out by partition columns
  (date is the natural choice for the fact table: enables partition
  pruning for every year/quarter/month query in the catalog);
* ``upsert_parquet`` — the S7 PK upsert as a deterministic read-merge-write
  (last-write-wins vs the incumbent rows). On a mutable table format
  (Delta/Iceberg — not in this container) this is ``MERGE INTO``; the
  semantics here are identical and idempotent, which is what the streaming
  sink needs for exactly-once effect.
* ``VersionedParquetTable`` — the multi-writer-safe form of the same
  upsert: immutable versioned snapshots + an exclusive-create commit log
  + an atomic ``CURRENT`` pointer (manifest-pointer protocol; snapshot
  isolation for readers, serialized optimistic commits for writers).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .csv_ingest import dedup_last_wins


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Partition-pruned parquet layout. At 100 TB, choose partition columns
    with bounded cardinality (date, not user_id) — small-file explosion is
    the classic failure; AQE coalescing keeps file counts sane per
    partition."""
    df.write.partitionBy(*partition_cols).mode(mode).parquet(path)


def upsert_parquet(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    pk: list[str],
) -> None:
    """Last-write-wins upsert into a parquet target: incoming rows beat
    incumbent rows on PK collision; otherwise union. Idempotent (replaying
    the same batch changes nothing) — the property the reference's
    ON DUPLICATE KEY UPDATE provided and our streaming sink contract
    requires."""
    # Within-batch ordinal: monotonically_increasing_id over the incoming
    # frame — duplicates INSIDE one batch resolve deterministically by the
    # batch's own (partition, offset) order, the only row order a
    # distributed batch has (same input plan => same winner on replay,
    # which is what idempotence needs). Incumbent rows sit below every
    # incoming row (-1), so any incoming PK beats the stored one.
    ordered = incoming.withColumn("_ordinal", F.monotonically_increasing_id())
    incumbent = (
        spark.read.parquet(path).select(incoming.columns)
        if os.path.exists(path)
        else None
    )
    merged = _merge_last_wins(incumbent, ordered, pk)
    # parquet cannot overwrite in place from its own scan: stage fully,
    # then swap via RENAMES (one write, not a second full copy).
    # Crash-recovery story: the incumbent is renamed ASIDE (path._old),
    # the staged result renamed into place, THEN ._old is deleted — a
    # crash between any two steps leaves at least one complete copy on
    # disk (._staged before the swap, ._old during it), never zero live
    # data; recovery is "rename whichever complete dir back". The swap
    # window is still not atomic under CONCURRENT writers — for that,
    # use VersionedParquetTable below (manifest-pointer commits, the
    # same protocol shape a table format's transaction log provides).
    tmp = path.rstrip("/") + "._staged"
    old = path.rstrip("/") + "._old"
    merged.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(old, ignore_errors=True)  # leftover from a prior crash
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def _nullable_form(dt):
    """A DataType with every nullability flag (field nullable, array
    containsNull, map valueContainsNull) forced True, recursively — the
    comparison form for schema-evolution conflict checks: nullability
    differences are representationally compatible (union resolves them),
    only genuine TYPE differences should refuse an upsert."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _nullable_form(f.dataType), True)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable_form(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _nullable_form(dt.keyType), _nullable_form(dt.valueType), True
        )
    return dt


def _write_synced(path: str, text: str) -> None:
    """Write ``text`` to ``path`` and fsync it before returning."""
    with open(path, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())


def _snapshot(spark: SparkSession, data_dir: str) -> DataFrame:
    """Read one committed snapshot dir with the schema its commit stored
    in ``_schema`` — no parquet footer read, so building the scan launches
    no Spark job. A snapshot without ``_schema`` (committed before the
    file existed) is read by parquet schema inference."""
    try:
        with open(os.path.join(data_dir, "_schema")) as fh:
            schema = T.StructType.fromJson(json.load(fh))
    except FileNotFoundError:
        return spark.read.parquet(data_dir)
    return spark.read.schema(schema).parquet(data_dir)


def _drop_keys(df: DataFrame, keys: DataFrame, pk: list[str]) -> DataFrame:
    """``df`` without the rows whose ``pk`` appears in ``keys``: a LEFT
    ANTI join, null-safe so NULL-keyed rows match too."""
    cond = None
    for k in pk:
        c = df[k].eqNullSafe(keys[k])
        cond = c if cond is None else cond & c
    return df.join(keys, cond, "left_anti")


def _merge_last_wins(
    incumbent: DataFrame | None, ordered: DataFrame, pk: list[str]
) -> DataFrame:
    """Last-write-wins merge of ``ordered`` over ``incumbent`` (None for an
    empty table): one last-wins window over their union, where
    ``ordered`` carries an ``_ordinal`` >= 0 and incumbent rows rank below
    it at -1, so any incoming PK beats the stored one. NULL keys form one
    group, as in GROUP BY. Columns come in ``ordered``'s order; the two
    sides must hold the same column names.

    The window's one exchange sits above the union, so AQE coalesces
    incumbent and incoming rows as one shuffle. Pre-partitioning the
    incumbent on ``pk`` to reuse a batch's own partitioning (the ingest
    dedup's) was measured and left out: AQE coalesces union sides
    separately and drops the union's partitioning unless both land on the
    same boundaries, so past about 1 MB of incumbent it coalesces neither
    and each commit writes ``spark.sql.shuffle.partitions`` files."""
    if incumbent is not None:
        ordered = ordered.unionByName(
            incumbent.withColumn("_ordinal", F.lit(-1).cast("bigint"))
        )
    return dedup_last_wins(ordered, pk, ordinal="_ordinal").drop("_ordinal")


class ConcurrentWriteError(RuntimeError):
    """Raised by ``VersionedParquetTable.upsert(expected_base=...)`` when
    another writer committed first: the caller's merge was derived from a
    snapshot that is no longer current and must be recomputed — a
    last-write-wins retry inside upsert would silently drop the other
    writer's effect for read-modify-write callers (additive rollups)."""


class VersionedParquetTable:
    """Transactionally atomic multi-writer upsert over plain parquet —
    the manifest-pointer commit protocol the single-dir ``upsert_parquet``
    documents as its missing piece (reference analog: per-row
    ``ON DUPLICATE KEY UPDATE``, MeshJoin.java:358, whose row-level
    atomicity came for free from MySQL).

    Layout under ``root``::

        _versions/<uuid>/      immutable parquet snapshots (never mutated)
            _schema            the snapshot's Spark schema (JSON), so reads
                               skip parquet schema inference
            _txn_<app_id>      writer ledger: last txn version applied by
                               <app_id> (see ``upsert(txn=...)``)
        _commits/<n>           commit manifest: file CONTENT is the uuid
                               dir holding version n's data
        CURRENT                pointer file: highest committed version (a
                               read fast-path; commits are authoritative)

    Commit protocol (optimistic concurrency, serializable):

    1. read the current version ``n`` and its data dir;
    2. merge ``incoming`` over that snapshot (last-write-wins on PK) and
       write the result, its schema and its ledger to a FRESH uuid dir —
       staging never touches live data;
    3. claim version ``n+1`` by **exclusive hard-link** of a fully
       written+fsynced manifest into ``_commits/<n+1>`` — the POSIX CAS:
       exactly one writer can create that name, and because the manifest
       is linked (not written in place) a reader can never observe a
       truncated manifest;
    4. on a lost race (``FileExistsError``): another writer committed
       ``n+1`` first, and the merge MUST be redone on top of their
       snapshot (their rows may collide with ours) — drop the staged dir
       and retry from step 1;
    5. advance ``CURRENT`` via write-tmp + atomic ``rename``.

    Crash windows: a crash before step 3 leaves an orphan uuid dir
    (garbage, collected by ``vacuum``); after 3 / before 5 leaves
    ``CURRENT`` stale — readers take ``max(CURRENT, max(_commits))`` so
    a stale or racily-regressed pointer is only ever a hint, and the
    next successful commit heals it. At every instant, every committed
    version's data dir is complete and immutable, so concurrent readers
    always see a consistent snapshot (snapshot isolation for free).

    This is deliberately the same shape as a table format's transaction
    log (Delta/Iceberg); on a real deployment those replace this class,
    but the protocol here needs only a filesystem with atomic link() +
    rename() — HDFS and POSIX both qualify. (S3 needs a DynamoDB-style
    lock service for step 3 — documented limitation, same as Delta's.)
    """

    def __init__(self, root: str) -> None:
        self.root = root.rstrip("/")
        self._versions = os.path.join(self.root, "_versions")
        self._commits = os.path.join(self.root, "_commits")
        os.makedirs(self._versions, exist_ok=True)
        os.makedirs(self._commits, exist_ok=True)

    # -- read side ---------------------------------------------------------
    def _committed_versions(self) -> list[int]:
        return sorted(
            int(f) for f in os.listdir(self._commits) if f.isdigit()
        )

    def current_version(self) -> int:
        """Highest committed version (0 = empty table). ``CURRENT`` is a
        fast-path hint; the commit log is authoritative."""
        versions = self._committed_versions()
        return versions[-1] if versions else 0

    def versions(self) -> list[int]:
        """All committed versions, oldest first (the readable history —
        a version stays readable until ``vacuum`` reclaims its data)."""
        return self._committed_versions()

    def version_path(self, version: int) -> str | None:
        """Data dir of a specific committed version (None for 0/unknown).

        The manifest is immutable once hard-linked, so this lookup never
        races a writer; whether the DATA still exists is a separate
        question — ``vacuum`` keeps manifests (history) but may have
        reclaimed old data dirs, in which case ``read`` raises like any
        expired-snapshot read in a table format would."""
        if version == 0 or version not in self._committed_versions():
            return None
        manifest = os.path.join(self._commits, str(version))
        with open(manifest) as fh:
            return os.path.join(self._versions, fh.read().strip())

    def current_path(self) -> str | None:
        return self.version_path(self.current_version())

    def read(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame | None:
        """Snapshot read: the current version by default, or any committed
        ``version`` (time travel). Every committed snapshot is immutable,
        so a long-running job reading version N is never affected by
        concurrent commits of N+1... — snapshot isolation without locks.
        Lazy: the stored schema means no Spark job runs before an action.

        Raises ``ValueError`` for a version that was never committed;
        raises the underlying read error for a vacuumed one."""
        if version is None:
            path = self.current_path()
            return None if path is None else _snapshot(spark, path)
        path = self.version_path(version)
        if path is None:
            raise ValueError(
                f"version {version} was never committed to {self.root} "
                f"(history: {self.versions() or 'empty'})"
            )
        return _snapshot(spark, path)

    # -- idempotent-writer ledger -----------------------------------------
    def _read_txns(self, data_dir: str) -> dict[str, int]:
        """Writer-ledger of a snapshot: ``{app_id: last_applied_version}``
        from the ``_txn_<app>`` files stored INSIDE the version's data
        dir. Underscore-prefixed files are invisible to Spark's parquet
        file index, and living in the immutable snapshot makes the
        ledger exactly as atomic as the data it describes."""
        out: dict[str, int] = {}
        try:
            names = os.listdir(data_dir)
        except FileNotFoundError:
            return out
        for f in names:
            if f.startswith("_txn_"):
                with open(os.path.join(data_dir, f)) as fh:
                    out[f[len("_txn_"):]] = int(fh.read().strip())
        return out

    def last_txn(self, app_id: str) -> int | None:
        """Highest transaction version committed by ``app_id`` (None if it
        never wrote) — the idempotence watermark for monotonic writers
        like Structured Streaming's foreachBatch epochs."""
        path = self.current_path()
        return None if path is None else self._read_txns(path).get(app_id)

    # -- write side --------------------------------------------------------
    def _commit(
        self,
        op: str,
        derive: Callable[[str | None], DataFrame | None],
        max_retries: int,
        txn: tuple[str, int] | None = None,
        expected_base: int | None = None,
    ) -> int | None:
        """The optimistic commit loop every writer shares: take the
        current version, let ``derive(base_path)`` build the next
        snapshot from its data dir (None for an empty table), stage it
        with the advanced ledger and CAS-commit it; on a lost race,
        re-derive over the winner's snapshot. Returns the committed
        version, the current one when ``txn`` was already applied (a
        replay no-op), or None when ``derive`` has nothing to write."""
        for _ in range(max_retries):
            base_version = self.current_version()
            if expected_base is not None and base_version != expected_base:
                raise ConcurrentWriteError(
                    f"table {self.root} is at version {base_version}, "
                    f"caller derived its merge from {expected_base} — "
                    "re-read and recompute"
                )
            base_path = self.version_path(base_version)
            ledger = {} if base_path is None else self._read_txns(base_path)
            if txn is not None:
                app_id, txn_version = txn
                if not re.fullmatch(r"[A-Za-z0-9._-]+", app_id):
                    raise ValueError(
                        f"txn app_id {app_id!r} must match [A-Za-z0-9._-]+ "
                        "(it becomes a ledger filename)"
                    )
                last = ledger.get(app_id)
                if last is not None and txn_version <= last:
                    return base_version  # already applied — idempotent no-op
                ledger = {**ledger, app_id: txn_version}
            merged = derive(base_path)
            if merged is None:
                return None
            committed = self._try_commit(merged, ledger, base_version)
            if committed is not None:
                return committed
        raise RuntimeError(
            f"{op} lost the commit race {max_retries} times in a row — "
            f"writer contention on {self.root} exceeds the retry budget"
        )

    def upsert(
        self,
        spark: SparkSession,
        incoming: DataFrame,
        pk: list[str],
        max_retries: int = 10,
        txn: tuple[str, int] | None = None,
        expected_base: int | None = None,
    ) -> int:
        """Last-write-wins upsert as an atomic versioned commit; safe
        under concurrent writers (each retries on a lost CAS and re-merges
        over the winner's snapshot, so no update is ever lost). Returns
        the committed version number.

        ``txn=(app_id, version)`` makes the write IDEMPOTENT for a
        monotonic writer (the Delta ``txnAppId``/``txnVersion`` pattern):
        if the current snapshot's ledger already records ``>= version``
        for ``app_id`` the call is a no-op returning the current table
        version. The ledger travels inside each immutable snapshot (and
        is copied forward on every commit), so "data applied" and
        "version recorded" are one atomic event — the property that makes
        at-least-once replay (a restarted stream re-running an epoch)
        exactly-once in effect, even for NON-idempotent merges like
        additive rollups.

        ``expected_base`` turns the call into a table-level compare-and-
        swap for read-modify-write callers: if the current version is no
        longer ``expected_base`` (another writer committed first), the
        call raises :class:`ConcurrentWriteError` instead of silently
        last-write-wins-ing over the other writer's effect — the caller
        must re-read, re-derive ``incoming``, and retry. Plain upserts
        (incoming rows ARE the truth for their PKs) leave it None and get
        the internal retry."""
        cols = incoming.columns
        missing_pk = [k for k in pk if k not in cols]
        if missing_pk:
            # never NULL-fill a primary key: the evolution alignment would
            # collapse the whole batch onto one NULL-key row silently
            raise ValueError(
                f"incoming batch lacks primary-key column(s) {missing_pk} — "
                "schema evolution applies to payload columns only"
            )
        ordered = incoming.withColumn("_ordinal", F.monotonically_increasing_id())

        def merge(base_path: str | None) -> DataFrame:
            if base_path is None:
                return _merge_last_wins(None, ordered, pk)
            # additive schema evolution (Delta mergeSchema semantics):
            # align BOTH sides to the union of columns — a column one
            # side lacks becomes typed NULLs there. Same-name columns
            # with different types are refused loudly: implicit casts
            # silently corrupt a table, an explicit migration doesn't.
            incumbent = _snapshot(spark, base_path)
            inc_types = {f.name: f.dataType for f in incumbent.schema.fields}
            new_types = {f.name: f.dataType for f in incoming.schema.fields}
            conflicts = sorted(
                n
                for n, t in new_types.items()
                if n in inc_types
                and _nullable_form(inc_types[n]) != _nullable_form(t)
            )
            if conflicts:
                raise ValueError(
                    f"schema evolution type conflict on {conflicts}: "
                    "incoming and incumbent disagree — migrate "
                    "explicitly instead of upserting"
                )

            def padded(df: DataFrame, lacks: dict) -> DataFrame:
                nulls = {n: F.lit(None).cast(t) for n, t in lacks.items()}
                return df.withColumns(nulls) if nulls else df

            return _merge_last_wins(
                padded(incumbent, {n: t for n, t in new_types.items() if n not in inc_types}),
                padded(ordered, {n: t for n, t in inc_types.items() if n not in new_types}),
                pk,
            )

        return self._commit("upsert", merge, max_retries, txn, expected_base)

    def _try_commit(
        self, merged: DataFrame, ledger: dict[str, int], base_version: int
    ) -> int | None:
        """Stage ``merged``, its schema and the ledger, and attempt the
        CAS commit of ``base_version + 1``. Returns the new version, or
        None when the race was lost (the staged data is cleaned up;
        caller re-derives over the winner's snapshot and retries)."""
        data_dir = uuid.uuid4().hex
        staged = os.path.join(self._versions, data_dir)
        merged.write.mode("overwrite").parquet(staged)
        _write_synced(os.path.join(staged, "_schema"), merged.schema.json())
        for app_id, v in ledger.items():
            _write_synced(os.path.join(staged, f"_txn_{app_id}"), str(v))

        manifest_tmp = os.path.join(
            self._commits, f".tmp-{uuid.uuid4().hex}"
        )
        _write_synced(manifest_tmp, data_dir)
        commit = os.path.join(self._commits, str(base_version + 1))
        try:
            os.link(manifest_tmp, commit)  # the CAS
        except FileExistsError:
            # lost the race: someone committed base_version+1 first
            os.unlink(manifest_tmp)
            shutil.rmtree(staged, ignore_errors=True)
            return None
        os.unlink(manifest_tmp)
        self._advance_current(base_version + 1)
        return base_version + 1

    def compact(
        self,
        spark: SparkSession,
        target_files: int | None = None,
        target_bytes: int = 128 << 20,
        cluster_key: str | None = None,
        max_retries: int = 10,
    ) -> int | None:
        """OPTIMIZE: rewrite the CURRENT snapshot into few large files as
        a new version — same rows, same writer ledger, layout only. The
        maintenance step every streaming upsert table needs: each micro-
        batch commit writes its own small files, and scan cost degrades
        with file count; compaction restores ~``target_bytes`` files
        (explicit ``target_files`` overrides). Snapshot isolation means
        readers are never disturbed, time travel still reaches the
        pre-compaction layout until ``vacuum``, and the copied ledger
        keeps replayed batches idempotent ACROSS the compaction. Runs
        under the same CAS as upsert — a concurrent writer landing first
        makes the rewrite stale, so it re-reads and retries. Returns the
        committed version (None on an empty table).

        ``cluster_key`` range-clusters the rewrite: disjoint per-file key
        ranges, rows sorted within files, so range and IN predicates on
        the key prune the compacted files' row groups. Costs one range
        exchange and a local sort; plain compaction stays a shuffle-free
        coalesce."""

        def rewrite(base_path: str | None) -> DataFrame | None:
            if base_path is None:
                return None
            if target_files is not None:
                n_out = target_files
            else:
                total = sum(
                    e.stat().st_size
                    for e in os.scandir(base_path)
                    if e.name.endswith(".parquet")
                )
                n_out = max(1, -(-total // target_bytes))
            df = _snapshot(spark, base_path)
            if cluster_key is None:
                return df.coalesce(n_out)
            return df.repartitionByRange(n_out, cluster_key).sortWithinPartitions(
                cluster_key
            )

        return self._commit("compact", rewrite, max_retries)

    def delete(
        self,
        spark: SparkSession,
        keys: DataFrame,
        pk: list[str],
        max_retries: int = 10,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """DELETE FROM ... WHERE pk IN (keys): commit a new version
        without the rows whose primary key appears in ``keys`` — a
        LEFT ANTI join, null-safe on the key so NULL-keyed rows are
        deletable too. Same ledger (``txn``) and CAS/retry protocol as
        upsert; deleting absent keys is a no-op commit of identical
        rows. Completes the table's CRUD surface (the reference's MySQL
        tables had DELETE for free; a snapshot store must write it)."""
        key_frame = keys.select(*pk).distinct()

        def remaining(base_path: str | None) -> DataFrame:
            if base_path is None:
                raise ValueError(
                    f"delete on empty table {self.root}: nothing committed yet"
                )
            return _drop_keys(_snapshot(spark, base_path), key_frame, pk)

        return self._commit("delete", remaining, max_retries, txn)

    def replace_by_key(
        self,
        spark: SparkSession,
        incoming: DataFrame,
        pk: list[str],
        keys: DataFrame | None = None,
        max_retries: int = 10,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """REPLACE WHERE key IN (keys): ONE atomic commit that drops every
        incumbent row whose ``pk`` appears in ``keys`` and appends
        ``incoming`` — the maintenance primitive for tables with MULTIPLE
        rows per key (a changed parent entity replaces ALL its child
        rows: an order's fact lines, a document's chunks). ``keys``
        defaults to ``incoming``'s distinct keys; pass it explicitly when
        the replacement must also DELETE keys that produce no new rows
        (an order removed at the source re-enriches to zero lines — its
        key must still be in ``keys`` for the old rows to go away).
        Row-level ``upsert`` cannot express this (it is 1-row-per-pk
        last-wins); delete-then-upsert as two commits can, but exposes a
        rows-missing intermediate snapshot and splits the ledger entry.
        Same txn-ledger idempotence and commit/retry protocol as the
        rest of the CRUD surface."""
        key_frame = (keys if keys is not None else incoming).select(*pk).distinct()

        def replaced(base_path: str | None) -> DataFrame:
            if base_path is None:
                return incoming
            incumbent = _snapshot(spark, base_path)
            if set(incumbent.columns) != set(incoming.columns):
                raise ValueError(
                    "replace_by_key requires identical columns: "
                    f"table has {sorted(incumbent.columns)}, batch has "
                    f"{sorted(incoming.columns)} — migrate explicitly"
                )
            return _drop_keys(incumbent, key_frame, pk).unionByName(incoming)

        return self._commit("replace_by_key", replaced, max_retries, txn)

    def _advance_current(self, version: int) -> None:
        """Monotonic best-effort pointer update (atomic rename; readers
        fall back to the commit log, so a race here is self-healing)."""
        current = os.path.join(self.root, "CURRENT")
        try:
            with open(current) as fh:
                if int(fh.read().strip() or 0) >= version:
                    return
        except (FileNotFoundError, ValueError):
            pass
        tmp = os.path.join(self.root, f".CURRENT-{uuid.uuid4().hex}")
        _write_synced(tmp, str(version))
        os.rename(tmp, current)

    def vacuum(self, keep: int = 2, orphan_grace_sec: float = 3600.0) -> int:
        """Remove data dirs for versions older than the newest ``keep``
        plus orphaned (never-committed) staged dirs older than
        ``orphan_grace_sec`` — the grace period keeps vacuum from
        destroying a CONCURRENT writer's in-flight staging (an orphan
        younger than the grace window may still be racing toward its
        CAS). Also reaps ``.tmp-*`` manifest files in ``_commits`` older
        than the same grace window: a writer that crashed between
        ``link`` and ``unlink`` leaves one behind forever otherwise
        (harmless to reads — version lookups filter on ``isdigit`` — but
        unbounded garbage in a long-lived table). Commit manifests are
        retained (bytes, and the version counter's history). Returns the
        number of dirs/files removed."""
        import time
        versions = self._committed_versions()
        live = set()
        for n in versions[-keep:] if keep else []:
            with open(os.path.join(self._commits, str(n))) as fh:
                live.add(fh.read().strip())
        referenced = set()
        for n in versions:
            with open(os.path.join(self._commits, str(n))) as fh:
                referenced.add(fh.read().strip())
        removed = 0
        now = time.time()
        for d in os.listdir(self._versions):
            full = os.path.join(self._versions, d)
            is_old_version = d in referenced and d not in live
            is_stale_orphan = d not in referenced and (
                now - os.path.getmtime(full) > orphan_grace_sec
            )
            if is_old_version or is_stale_orphan:
                shutil.rmtree(full, ignore_errors=True)
                removed += 1
        for f in os.listdir(self._commits):
            full = os.path.join(self._commits, f)
            if f.startswith(".tmp-") and (
                now - os.path.getmtime(full) > orphan_grace_sec
            ):
                try:
                    os.unlink(full)
                    removed += 1
                except FileNotFoundError:
                    pass  # concurrent vacuum got it first
        return removed


def diff_versions(
    spark: SparkSession,
    table: "VersionedParquetTable",
    pk: list[str],
    v_from: int,
    v_to: int | None = None,
) -> DataFrame:
    """Change-data-feed between two committed snapshots (the Delta
    ``table_changes`` analog, computed from immutable snapshots instead
    of logged deltas): one row per primary key whose payload differs,
    with ``_change_type`` in {'insert', 'update', 'delete'} and the
    to-version's payload (the from-version's for deletes).

    Shape: one full-outer equi-join on the PK between the two snapshots
    plus a null-safe payload comparison — shuffle on the PK only, no
    row-by-row diffing. At warehouse scale this is what a downstream
    consumer runs to incrementally sync from a snapshot store that keeps
    no change log; with compaction in the history it still works,
    because compaction changes layout, never rows (diff across a
    compaction commit is empty — pytest-pinned).

    Schema evolution is handled the same way upsert stores it: columns
    absent in the older snapshot read as NULLs there, so rows whose only
    change is a newly-populated evolved column surface as updates."""
    new = table.read(
        spark, version=v_to if v_to is not None else table.current_version()
    )
    # v_from=0 is the empty pre-table state: the bootstrap diff, every
    # current row an insert (read() raises for version 0 — no snapshot
    # dir exists — so it is special-cased here, not there)
    old = new.limit(0) if v_from == 0 else table.read(spark, version=v_from)
    all_cols = new.columns + [c for c in old.columns if c not in new.columns]
    o_types = {f.name: f.dataType for f in old.schema.fields}
    n_types = {f.name: f.dataType for f in new.schema.fields}
    for c in all_cols:
        if c not in o_types:
            old = old.withColumn(c, F.lit(None).cast(n_types[c]))
        if c not in n_types:
            new = new.withColumn(c, F.lit(None).cast(o_types[c]))
    payload = [c for c in all_cols if c not in pk]
    o = old.select(
        *[F.col(c).alias(f"_o_{c}") for c in all_cols],
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        *[F.col(c).alias(f"_n_{c}") for c in all_cols],
        F.lit(True).alias("_in_new"),
    )
    cond = None
    for k in pk:
        c = o[f"_o_{k}"].eqNullSafe(n[f"_n_{k}"])
        cond = c if cond is None else cond & c
    joined = o.join(n, cond, "full_outer")
    same_payload = F.lit(True)
    for c in payload:
        same_payload = same_payload & F.col(f"_o_{c}").eqNullSafe(
            F.col(f"_n_{c}")
        )
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("insert"))
        .when(F.col("_in_new").isNull(), F.lit("delete"))
        .when(~same_payload, F.lit("update"))
        .otherwise(F.lit(None))
    )
    out_side = [
        F.coalesce(F.col(f"_n_{c}"), F.col(f"_o_{c}")).alias(c)
        if c in pk
        else F.when(F.col("_in_new").isNull(), F.col(f"_o_{c}"))
        .otherwise(F.col(f"_n_{c}"))
        .alias(c)
        for c in all_cols
    ]
    return (
        joined.withColumn("_change_type", change)
        .filter(F.col("_change_type").isNotNull())
        .select(*out_side, "_change_type")
    )


def apply_changes(
    spark: SparkSession,
    changes: DataFrame,
    replica: "VersionedParquetTable",
    pk: list[str],
    txn: tuple[str, int] | None = None,
    max_retries: int = 10,
) -> int:
    """Consume a ``diff_versions`` change feed into a downstream replica
    (the CDC-sync consumer) as ONE atomic commit per feed batch:
    ``merged = (incumbent ANTI JOIN deleted-keys) last-wins-merged with
    inserts/updates``. A single commit means a concurrent reader never
    observes a half-applied batch (upserts in, deletes pending), the
    replica gains exactly one version per synced source version, and an
    entirely empty feed commits nothing. With ``txn`` the application is
    idempotent under replay, via the same snapshot-embedded ledger as
    every other writer. Applying the source table's successive diffs
    keeps the replica VALUE-IDENTICAL to the source at each synced
    version (pytest-pinned round trip).

    The feed is eagerly ``localCheckpoint``'d for the duration of the
    call (released in ``finally``): a ``diff_versions`` plan is a
    full-outer diff of two snapshots, and the merge below consumes it
    from multiple subtrees — checkpointing bounds the diff to one
    evaluation. Schema note: the replica mirrors the source's columns by
    construction (the feed IS the source's diff), so no evolution
    alignment happens here — a mismatch fails loudly in the select."""
    from ..io import release_checkpoint

    changes = changes.localCheckpoint(eager=True)
    try:
        upserts = changes.filter(
            F.col("_change_type").isin("insert", "update")
        ).drop("_change_type")
        deletes = (
            changes.filter(F.col("_change_type") == "delete")
            .select(*pk)
            .distinct()
        )
        has_upserts = bool(upserts.limit(1).count())
        has_deletes = bool(deletes.limit(1).count())
        if not has_upserts and not has_deletes:
            return replica.current_version()  # empty feed: no new version
        ordered = upserts.withColumn("_ordinal", F.monotonically_increasing_id())

        def merge(base_path: str | None) -> DataFrame:
            if base_path is None:
                return _merge_last_wins(None, ordered, pk)
            kept = _snapshot(spark, base_path)
            if has_deletes:
                kept = _drop_keys(kept, deletes, pk)
            return _merge_last_wins(kept.select(*upserts.columns), ordered, pk)

        return replica._commit("apply_changes", merge, max_retries, txn)
    finally:
        release_checkpoint(changes)
