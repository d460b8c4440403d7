"""Structured-Streaming CDC pipeline: the end-to-end runtime twin of
bireme's PipeLine → RowCache → ChangeLoader chain
(``pipeline/PipeLine.java:60-200``, ``RowCache.java``,
``ChangeLoader.java``).

Shape:
    readStream (kafka | file) of envelope JSON
      → parse (Maxwell/Debezium from_json)
      → table routing (table_map filter)
      → foreachBatch: per-table compact (cut once) → DELETE+COPY merge

Each micro-batch IS bireme's LoadTask: the batch compaction and the
anti-join merge are exactly the batch operators
(operators/cdc.compact / apply_changes), so batch and streaming
semantics provably agree (tested in tests/test_streaming.py). The
micro-batch is persisted for the whole foreachBatch call; each
table's compacted batch is ``localCheckpoint``-ed once and every
later step (changed-bucket set, anti-join, insert set) reads the
checkpoint. The multi-table pipeline merges its tables concurrently,
one thread per table, as bireme runs one loader per table
(``ChangeLoader.java``).

State layout — PK-hash-bucketed versioned parquet with an atomic
manifest commit:

    <target>/_sb=<b>/_sv=<n>/part-*.parquet
    <target>/_manifest.json        ← bucket→version map, os.replace'd
                                     once per batch (the commit point)

A micro-batch rewrites ONLY the buckets whose keys changed: the
changed-bucket set comes off the compacted batch (≤ num_buckets
values), the base read prunes to those buckets' committed versions,
and the merge stages each changed bucket's next version as one
file — then one manifest replace flips all of them atomically
(readers see the whole batch or none of it; a crash mid-batch leaves
only invisible orphan dirs that the retry skips past and later
retention reaps). Unchanged buckets are never read or written —
per-trigger write amplification is O(|changed buckets|), not
O(|base|). On a cluster you'd swap this sink for Delta/Iceberg MERGE
(same bucket-pruned plan with atomic commit) or a Greenplum/JDBC
DELETE+COPY writer; versioned bucket dirs keep the test environment
dependency-free while exercising the same incremental plan.

Ordering: within a batch, same-key changes fold by
``(produce_time_ms, src_partition, src_offset)``. Maxwell's produce
time is seconds-granular, so the Kafka (partition, offset) pair — the
order the reference consumes in — is the real tiebreaker; CDC topics
are keyed by PK, so per-key order is total. The file/replay source
has no broker offsets; it falls back to ``monotonically_increasing_id``
(deterministic for a fixed file list, the test/replay case).

Kafka ingestion follows the same ``readStream.format("kafka")``
options bireme's consumer config maps to (``KafkaPipeLine.java:
190-208``); the file source is the test/replay path.
"""

from __future__ import annotations

import errno
import functools
import os
import shutil
import threading
from collections.abc import Callable, Sequence

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bireme_spark.config import PipelineConfig, SourceConfig
from bireme_spark.operators.cdc import apply_changes, compact
from bireme_spark.operators.mapping import apply_table_mapping
from bireme_spark.sources.debezium import parse_debezium
from bireme_spark.sources.maxwell import parse_maxwell


# Reserved layout dir prefixes. Writes use _sb=/_sv= (collision-proof:
# user tables may have columns named "bucket"/"v"); reads ALSO accept
# the pre-rename names so an existing target is never read as empty,
# and the writer migrates legacy dirs in place before its first merge.
_LEGACY_BUCKET, _LEGACY_VERSION = "bucket", "v"


def _dir_int(d: str, names: tuple[str, ...]) -> int | None:
    for n in names:
        if d.startswith(n + "="):
            s = d.split("=", 1)[1]
            if s.isdigit():
                return int(s)
    return None


def _latest_version(bucket_dir: str) -> int | None:
    if not os.path.isdir(bucket_dir):
        return None
    versions = [
        v
        for d in os.listdir(bucket_dir)
        if (v := _dir_int(d, ("_sv", _LEGACY_VERSION))) is not None
    ]
    return max(versions) if versions else None


def _bucket_ids(target_dir: str) -> list[int]:
    if not os.path.isdir(target_dir):
        return []
    return sorted(
        b
        for d in os.listdir(target_dir)
        if (b := _dir_int(d, ("_sb", _LEGACY_BUCKET))) is not None
    )


def _bucket_dir(target_dir: str, b: int) -> str:
    legacy = f"{target_dir}/{_LEGACY_BUCKET}={b}"
    new = f"{target_dir}/_sb={b}"
    return legacy if os.path.isdir(legacy) and not os.path.isdir(new) else new


def _version_dir(bucket_dir: str, v: int) -> str:
    legacy = f"{bucket_dir}/{_LEGACY_VERSION}={v}"
    new = f"{bucket_dir}/_sv={v}"
    return legacy if os.path.isdir(legacy) and not os.path.isdir(new) else new


def _migrate_legacy_layout(target_dir: str) -> None:
    """One-time in-place rename of pre-rename layout dirs
    (bucket=/v= → _sb=/_sv=). Metadata-only and idempotent; called by
    the single writer before a merge so post-upgrade state is uniform
    (read paths tolerate both conventions regardless)."""
    if not os.path.isdir(target_dir):
        return
    for d in list(os.listdir(target_dir)):
        b = _dir_int(d, (_LEGACY_BUCKET,))
        if b is not None:
            os.rename(os.path.join(target_dir, d), os.path.join(target_dir, f"_sb={b}"))
    for b in _bucket_ids(target_dir):
        bdir = f"{target_dir}/_sb={b}"
        if not os.path.isdir(bdir):
            continue
        for d in list(os.listdir(bdir)):
            v = _dir_int(d, (_LEGACY_VERSION,))
            if v is not None:
                os.rename(os.path.join(bdir, d), os.path.join(bdir, f"_sv={v}"))


_MANIFEST = "_manifest.json"


def _read_manifest(target_dir: str) -> dict[int, int] | None:
    """Committed bucket→version map; None ONLY when no manifest file
    exists (legacy/new target — max-version-dir fallback is then
    safe: nothing was ever committed through a manifest). A manifest
    that EXISTS but cannot be parsed raises: silently downgrading to
    the dir scan would adopt uncommitted orphan v-dirs as committed
    state — the exact exposure the manifest prevents."""
    import json

    path = os.path.join(target_dir, _MANIFEST)
    if not os.path.exists(path):
        return None
    try:
        with open(path, encoding="utf-8") as f:
            doc = json.load(f)
        versions = doc["versions"] if isinstance(doc, dict) else None
        if not isinstance(versions, dict):
            raise ValueError("manifest body is not {versions: {...}}")
        return {int(k): int(v) for k, v in versions.items()}
    except (OSError, ValueError, KeyError, TypeError) as e:
        raise ValueError(
            f"corrupt sink manifest {path!r}: {e} — refusing to fall back to "
            "the version-dir scan (it could surface uncommitted batches); "
            "restore the manifest or delete it to re-adopt the visible dirs"
        ) from e


def _read_committed_batch(target_dir: str) -> int | None:
    """batch_id recorded by the last manifest commit (None when no
    manifest exists)."""
    import json

    path = os.path.join(target_dir, _MANIFEST)
    if not os.path.exists(path):
        return None
    try:
        with open(path, encoding="utf-8") as f:
            doc = json.load(f)
        b = doc.get("committed_batch") if isinstance(doc, dict) else None
        return int(b) if b is not None else None
    except (OSError, ValueError, TypeError):
        return None


class StaleWriterError(RuntimeError):
    """A writer presented a batch_id OLDER than the committed one —
    the zombie-writer signature (a superseded job attempting to
    clobber a newer epoch's commit). The sink refuses; only the
    current epoch may advance the manifest."""


def _write_manifest(target_dir: str, versions: dict[int, int], batch_id: int) -> None:
    """THE commit point of a micro-batch: the bucket version dirs are
    staged first, then this single ``os.replace`` (atomic on POSIX)
    flips every bucket at once. Readers see the whole batch or none
    of it — per-bucket renames alone expose mixed versions to a
    reader that lands mid-batch, and a crash between renames would
    otherwise make the half-written state look current."""
    import json

    os.makedirs(target_dir, exist_ok=True)
    tmp = os.path.join(target_dir, f".{_MANIFEST}.tmp-{batch_id}")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(
            {"committed_batch": batch_id, "versions": {str(k): v for k, v in versions.items()}},
            f,
        )
    os.replace(tmp, os.path.join(target_dir, _MANIFEST))


def _latest_paths(target_dir: str, buckets: Sequence[int] | None = None) -> list[str]:
    """Paths of the COMMITTED version of each bucket: the manifest
    when present (crash-consistent snapshot), else the max version
    dir (legacy layout). An orphan v-dir from a crashed batch is
    invisible until a later batch supersedes and reaps it."""
    manifest = _read_manifest(target_dir)
    if manifest is not None:
        out = []
        for b, v in sorted(manifest.items()):
            if buckets is not None and b not in buckets:
                continue
            p = _version_dir(_bucket_dir(target_dir, b), v)
            if os.path.isdir(p):
                out.append(p)
        return out
    paths = []
    for b in _bucket_ids(target_dir):
        if buckets is not None and b not in buckets:
            continue
        bdir = _bucket_dir(target_dir, b)
        v = _latest_version(bdir)
        if v is not None:
            paths.append(_version_dir(bdir, v))
    return paths


def vacuum_versions(target_dir: str, keep: int = 1) -> dict[str, int]:
    """Sink VACUUM (Delta ``VACUUM`` / Iceberg ``expire_snapshots``
    twin): reap (a) ORPHAN version dirs above the committed version —
    debris of batches that crashed between the per-bucket renames and
    the manifest commit (safe to drop: ``_write_changed_buckets``
    computes ``next_v`` past any existing dir, committed state never
    references them) — and (b) SUPERSEDED versions beyond a retention
    window of ``keep`` versions up to and including the committed one
    (readers pinned to an older manifest snapshot need
    ``keep > 1`` to keep their basis alive; the committed version
    itself is never deleted).

    Metadata-only: walks version DIRECTORIES, no data read — at any
    scale this is an O(#buckets) filesystem pass, never a Spark job.
    Returns exact counts so a scheduler can alert on runaway debris.
    """
    manifest = _read_manifest(target_dir) or {}
    stats = {
        "n_buckets": 0,
        "versions_before": 0,
        "versions_after": 0,
        "orphans_removed": 0,
        "superseded_removed": 0,
    }
    for b in _bucket_ids(target_dir):
        bdir = _bucket_dir(target_dir, b)
        committed = manifest.get(b)
        vs = sorted(
            v
            for d in os.listdir(bdir)
            if (v := _dir_int(d, ("_sv", _LEGACY_VERSION))) is not None
        )
        stats["n_buckets"] += 1
        stats["versions_before"] += len(vs)
        if committed is None:  # legacy / unmanifested: treat max as committed
            committed = vs[-1] if vs else 0
        retained_floor_idx = max(0, len([v for v in vs if v <= committed]) - keep)
        retained = set(vs[retained_floor_idx:])
        for v in vs:
            if v > committed:
                shutil.rmtree(_version_dir(bdir, v), ignore_errors=True)
                stats["orphans_removed"] += 1
            elif v not in retained:
                shutil.rmtree(_version_dir(bdir, v), ignore_errors=True)
                stats["superseded_removed"] += 1
            else:
                stats["versions_after"] += 1
    return stats


def _bucket_col(key_col, num_buckets: int):
    """PK-hash bucket: hash the STRING form of the key so base rows
    (typed PK) and changelog rows (concatenated string key) agree."""
    return F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(num_buckets)).cast("int")


def erase_predicate(
    spark: SparkSession,
    target_dir: str,
    predicate,
    batch_id: int,
) -> dict[str, int]:
    """GDPR / retention erase — DELETE every committed row matching
    ``predicate`` (a Column or SQL string), the maintenance verb a
    warehouse operator reaches for next to compaction and vacuum
    (Delta ``DELETE FROM t WHERE ...`` twin for the manifest sink).

    Two-phase, bucket-minimal:

    1. ONE scan of the committed state aggregates per-bucket match
       counts (map-side combined; O(#buckets) rows to the driver) —
       buckets with zero matches are left byte-identical, keeping the
       erase cost proportional to the AFFECTED data, not the sink.
    2. Only affected buckets are re-read (partition-pruned via the
       retained ``_sb`` dir column), filtered to survivors, and
       slotted in as each bucket's next version; ONE atomic manifest
       replace commits the whole erase (``_write_changed_buckets``),
       so a reader never sees a half-erased sink and a crashed erase
       leaves only reapable orphans.

    A NULL predicate keeps the row (DELETE semantics: the condition
    must be TRUE to fire — the merge_into contract). Idempotent: a
    re-run finds zero matches and rewrites nothing. Returns exact
    counts so an erasure job can be audited."""
    manifest = _read_manifest(target_dir)
    paths = _latest_paths(target_dir)
    stats = {"n_buckets": 0, "buckets_rewritten": 0, "rows_erased": 0, "rows_kept": 0}
    if not paths:
        return stats
    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    hit = F.coalesce(cond, F.lit(False))
    state = spark.read.option("basePath", target_dir).parquet(*paths)
    per_bucket = (
        state.groupBy("_sb")
        .agg(
            F.sum(F.when(hit, 1).otherwise(0)).alias("n_match"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .collect()
    )
    stats["n_buckets"] = len(manifest) if manifest is not None else len(per_bucket)
    affected = sorted(int(r["_sb"]) for r in per_bucket if r["n_match"] > 0)
    stats["rows_erased"] = int(sum(r["n_match"] for r in per_bucket))
    stats["rows_kept"] = int(sum(r["n_rows"] - r["n_match"] for r in per_bucket))
    stats["buckets_rewritten"] = len(affected)
    if affected:
        kept = state.where(F.col("_sb").isin(affected)).where(~hit).drop("_sv")
        _write_changed_buckets(spark, target_dir, kept, affected, batch_id)
    return stats


def shallow_clone(src_dir: str, dst_dir: str, batch_id: int = 1) -> dict[str, int]:
    """Zero-copy snapshot clone (Delta ``CREATE TABLE ... SHALLOW
    CLONE`` twin for the manifest sink): replicate ONLY the committed
    version dir of each bucket by HARDLINKING its files (same-device;
    falls back to a byte copy across filesystems), then commit the
    clone with one atomic manifest write. Correctness rests on the
    sink's immutability contract — writers always stage a NEW
    ``_sv=`` dir and never mutate committed files — so origin and
    clone share bytes safely: a later erase/compact/merge on either
    side rewrites into fresh dirs, and reaping an origin dir only
    drops a directory entry (the clone's links keep the inodes
    alive).

    Metadata-only cost: O(#files) link() calls, no data read, no
    Spark job — cloning a 100 TB sink is a filesystem pass. Returns
    exact counts so a caller can assert zero-copy (files_copied ==
    0 on one device)."""
    manifest = _read_manifest(src_dir)
    if manifest is None:  # legacy layout: adopt visible dirs
        manifest = {
            b: v
            for b in _bucket_ids(src_dir)
            if (v := _latest_version(_bucket_dir(src_dir, b))) is not None
        }
    stats = {"n_buckets": len(manifest), "files_linked": 0, "files_copied": 0, "bytes_shared": 0}
    for b, v in sorted(manifest.items()):
        src_v = _version_dir(_bucket_dir(src_dir, b), v)
        dst_v = f"{dst_dir}/_sb={b}/_sv={v}"
        os.makedirs(dst_v, exist_ok=True)
        for name in os.listdir(src_v):
            s, d = os.path.join(src_v, name), os.path.join(dst_v, name)
            if not os.path.isfile(s):
                continue
            try:
                os.link(s, d)
                stats["files_linked"] += 1
            except OSError as exc:
                # copy ONLY for cross-device / no-hardlink filesystems;
                # a pre-existing destination (EEXIST) means a dirty or
                # reused dst_dir and must fail, not be papered over
                if exc.errno not in (errno.EXDEV, errno.EPERM, errno.EOPNOTSUPP):
                    raise
                shutil.copy2(s, d)
                stats["files_copied"] += 1
            stats["bytes_shared"] += os.path.getsize(s)
    _write_manifest(dst_dir, manifest, batch_id)
    return stats


def read_state(spark: SparkSession, target_dir: str) -> DataFrame | None:
    """Latest synced state: union of every bucket's latest version."""
    paths = _latest_paths(target_dir)
    if not paths:
        return None
    # drop whichever partition columns the dir convention injected —
    # NEVER the legacy names on a new-layout target, where "v" could
    # legitimately be a user data column
    legacy = any(f"/{_LEGACY_BUCKET}=" in p for p in paths)
    drop_cols = (_LEGACY_BUCKET, _LEGACY_VERSION) if legacy else ("_sb", "_sv")
    return spark.read.option("basePath", target_dir).parquet(*paths).drop(*drop_cols)


def kafka_reader_options(source: SourceConfig, max_events: int | None = None) -> dict[str, str]:
    """Structured-Streaming option dict for a bireme Kafka source —
    the twin of the reference consumer config (``KafkaPipeLine.java:
    198-207`` createConsumer), mapped knob-for-knob:

    | reference (consumer props)      | Spark kafka source option      |
    | ------------------------------- | ------------------------------ |
    | bootstrap.servers               | kafka.bootstrap.servers        |
    | group.id                        | kafka.group.id                 |
    | auto.offset.reset = earliest    | startingOffsets = earliest     |
    | session.timeout.ms = 60000      | kafka.session.timeout.ms       |
    | enable.auto.commit = false      | (implicit: the source NEVER    |
    |                                 | auto-commits — progress lives  |
    |                                 | in the checkpoint, committed   |
    |                                 | after the batch is applied,    |
    |                                 | bireme's commit-after-load)    |
    | batch_size (RowCache)           | maxOffsetsPerTrigger           |

    ``failOnDataLoss=false`` mirrors the reference's tolerance of
    expired offsets on reconnect (it resumes from earliest retained).
    Pure function so the wiring is unit-testable without a broker —
    the sandbox has none, which is the documented seam: on a real
    deployment ``_open_stream`` feeds these straight into
    ``readStream.format("kafka")``.
    """
    if not source.kafka_server or not source.kafka_topic:
        raise ValueError(
            f"source {source.name!r}: kafka transport needs kafka_server + kafka_topic"
        )
    opts = {
        "kafka.bootstrap.servers": source.kafka_server,
        "subscribe": source.kafka_topic,
        "kafka.group.id": source.kafka_groupid,
        "kafka.session.timeout.ms": "60000",
        "startingOffsets": "earliest",
        "failOnDataLoss": "false",
    }
    if max_events:
        opts["maxOffsetsPerTrigger"] = str(max_events)
    return opts


def _open_stream(spark: SparkSession, source: SourceConfig, max_files: int | None):
    """Envelope stream with provenance order columns
    ``(src_partition, src_offset)`` — Kafka's real consume order; the
    file source substitutes a deterministic per-batch row id."""
    if source.kind == "file" or source.path:
        reader = spark.readStream.format("text")
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        # File replay's offset twin: file mtime orders across files
        # (the replay batch order); within a file the text source has
        # no row index (_metadata.row_index is parquet-only), so
        # src_offset stays null and merge_batch falls back to a
        # batch-local id — the documented file-source fallback.
        return reader.load(source.path).select(
            F.col("value"),
            F.unix_millis(F.col("_metadata.file_modification_time")).alias("src_partition"),
            F.lit(None).cast("long").alias("src_offset"),
        )
    # Kafka transport (no path configured): bireme's consumer
    # settings via the unit-tested option builder. max_files doubles
    # as the per-trigger row cap (batch_size twin) on this path.
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(source, max_files).items():
        reader = reader.option(k, v)
    return reader.load().selectExpr(
        "CAST(value AS STRING) AS value",
        "partition AS src_partition",
        "offset AS src_offset",
    )


def _write_changed_buckets(
    bspark: SparkSession,
    target_dir: str,
    merged: DataFrame,
    changed: Sequence[int],
    batch_id: int,
    fence: bool = False,
) -> None:
    """One job writes every changed bucket's rows, one file per
    bucket; renames slot each bucket dir in as its next version
    (empty buckets — all keys deleted — get an explicit empty version
    so stale state clears);
    then ONE atomic manifest replace commits the whole batch
    (``_write_manifest``). Retention keeps (committed, next): readers
    holding the old manifest keep their snapshot, anything older —
    including orphan versions from a crashed batch that never reached
    its manifest commit — is garbage.

    Crash/retry safety: a batch that dies after some renames leaves
    orphan v-dirs but the manifest still points at the committed
    state, so the foreachBatch re-run reads the SAME base it read the
    first time (``next_v`` skips past orphans to avoid collisions)."""
    _migrate_legacy_layout(target_dir)  # idempotent; writer-side only
    # OPT-IN writer fencing (Delta txn-version twin): with fence=True a
    # batch_id BELOW the committed one is treated as a zombie — a
    # superseded writer epoch racing a newer one — and refused. EQUAL
    # is always allowed (a foreachBatch retry replays the same
    # batch_id; merges are value-idempotent on the same input). The
    # default stays unfenced because deliberate FULL REPLAY after
    # checkpoint loss re-presents old batch ids by design
    # (tests/test_streaming.py replay-idempotence contract) — fence
    # only when writer epochs are externally managed.
    if fence:
        committed_batch = _read_committed_batch(target_dir)
        if committed_batch is not None and batch_id < committed_batch:
            raise StaleWriterError(
                f"stale writer fenced: batch {batch_id} < committed {committed_batch}"
                f" at {target_dir!r}"
            )
    versions = _read_manifest(target_dir)
    if versions is None:  # legacy target: adopt the visible dirs
        versions = {
            b: v
            for b in _bucket_ids(target_dir)
            if (v := _latest_version(f"{target_dir}/_sb={b}")) is not None
        }
    staging = f"{target_dir}/.staging-{batch_id}"
    # one task per bucket, so each bucket version is one file
    merged.repartition("_sb").write.partitionBy("_sb").mode("overwrite").parquet(staging)
    for b in changed:
        bdir = f"{target_dir}/_sb={b}"
        committed = versions.get(b)
        # past any orphan dirs a crashed attempt left behind
        next_v = max(_latest_version(bdir) or 0, committed or 0) + 1
        os.makedirs(bdir, exist_ok=True)
        src = f"{staging}/_sb={b}"
        if os.path.isdir(src):
            os.rename(src, f"{bdir}/_sv={next_v}")
        else:
            empty = bspark.createDataFrame([], merged.drop("_sb").schema)
            empty.write.parquet(f"{bdir}/_sv={next_v}")
        for d in os.listdir(bdir):
            if d.startswith("_sv=") and int(d.split("=", 1)[1]) < (committed or next_v):
                shutil.rmtree(f"{bdir}/{d}", ignore_errors=True)
        versions[b] = next_v
    _write_manifest(target_dir, versions, batch_id)
    shutil.rmtree(staging, ignore_errors=True)


def _persisted_batch(fn: Callable[[DataFrame, int], None]) -> Callable[[DataFrame, int], None]:
    """foreachBatch wrapper that persists the micro-batch around
    ``fn`` and releases it after. The merge scans the batch several
    times (routing, compaction, the empty probe); uncached, every scan
    re-reads the SOURCE (re-polls Kafka) and re-derives the
    ``monotonically_increasing_id`` offsets, which must be stable
    within the batch."""

    @functools.wraps(fn)
    def run(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            fn(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    return run


def _run_concurrently(tasks: Sequence[Callable[[], None]], limit: int) -> None:
    """Run each task on its own ``InheritableThread``, at most
    ``limit`` at once (bireme runs one loader per table,
    ``ChangeLoader.java``). The thread inherits the caller's JVM local
    properties, so the streaming query's job group and SQL execution
    carry over. Every thread is joined before the first failure is
    re-raised, so no task is still writing when the batch fails."""
    slots = threading.BoundedSemaphore(limit)
    errors: list[Exception | None] = [None] * len(tasks)

    def run(i: int) -> None:
        with slots:
            try:
                tasks[i]()
            except Exception as e:  # re-raised on the calling thread
                errors[i] = e

    threads = [InheritableThread(target=run, args=(i,)) for i in range(len(tasks))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e


def run_cdc_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    data_schema: StructType,
    key_fields: Sequence[str],
    base_columns: Sequence[str],
    available_now: bool = False,
):
    """Launch the CDC sync for one source (the multi-source case runs
    one query per source, like bireme's one PipeLine per partition).

    ``base_columns``: target-table column order (key first); payload
    columns are taken from the parsed ``data`` struct.
    """
    source = config.sources[0]
    raw = _open_stream(spark, source, config.max_events_per_trigger)

    if source.kind == "debezium":
        parsed = parse_debezium(raw, "value", data_schema, key_fields, source=source.name)
    else:
        parsed = parse_maxwell(raw, "value", data_schema, key_fields, source=source.name)
    if source.table_map:
        parsed = apply_table_mapping(parsed, source.table_map)

    key_col = key_fields[0]
    payload_cols = [f.name for f in data_schema.fields if f.name not in key_fields]
    nb = config.num_buckets

    @_persisted_batch
    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        compacted = _compact_parsed(batch_df, payload_cols)
        if config.target_jdbc_url:
            # Greenplum/warehouse path: DELETE+COPY merge through
            # the staged-key JDBC transaction (ChangeLoader
            # semantics).
            from bireme_spark.sinks.jdbc import JdbcMergeSink

            sink = JdbcMergeSink(
                url=config.target_jdbc_url,
                target_table=config.target_table or "public.target",
                key_cols=("key",),
                payload_cols=("key", *payload_cols),
                properties=config.jdbc_properties,
            )
            sink(compacted.withColumnRenamed("final_op", "op"), batch_id)
            return
        _merge_compacted_versioned(
            batch_df.sparkSession,
            config.target_dir,
            compacted,
            data_schema,
            key_fields,
            base_columns,
            nb,
            batch_id,
        )

    writer = (
        parsed.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", config.checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=config.trigger_interval)
    return writer.start()


def _ddl(schema: StructType, col: str, key_fields: Sequence[str], key_col: str) -> str:
    if col in {f.name for f in schema.fields}:
        return schema[col].dataType.simpleString()
    # key column of the base table keeps the parsed-string key type
    return "string"


def _compact_parsed(batch_df: DataFrame, payload_cols: Sequence[str]) -> DataFrame:
    """Parsed ChangeRow micro-batch → compacted delete/insert sets
    (the per-batch RowBatchMerger fold, shared by every sink)."""
    changes = batch_df.select(
        F.col("key"),
        F.col("op"),
        F.col("produce_time_ms"),
        F.col("src_partition"),
        # Kafka: the real broker offset. File: batch-local row id
        # (deterministic for a fixed file list read order).
        F.coalesce(F.col("src_offset"), F.monotonically_increasing_id()).alias("src_offset"),
        F.col("old_key")
        if "old_key" in batch_df.columns
        else F.lit(None).cast("string").alias("old_key"),
        *[F.col(f"data.{c}").alias(c) for c in payload_cols],
    )
    return compact(
        changes,
        key_cols=("key",),
        order_cols=("produce_time_ms", "src_partition", "src_offset"),
        payload_cols=tuple(payload_cols),
        old_key_col="old_key",
    )


def _merge_compacted_versioned(
    bspark: SparkSession,
    target_dir: str,
    compacted: DataFrame,
    data_schema: StructType,
    key_fields: Sequence[str],
    base_columns: Sequence[str],
    nb: int,
    batch_id: int,
) -> None:
    """Merge one table's compacted batch into its bucket-versioned
    parquet state (changed-bucket pruning + atomic manifest commit).

    The compacted batch is cut once: the changed-bucket set, the
    anti-join and the insert set all read the checkpoint instead of
    re-running parse and compaction, and the checkpoint's real size
    lets the planner broadcast it into the anti-join, so the base is
    not shuffled. ``localCheckpoint``, not ``persist``: a cached plan
    keeps its pre-AQE shuffle partition count."""
    _migrate_legacy_layout(target_dir)  # before the base read
    key_col = key_fields[0]
    compacted = compacted.withColumn("_sb", _bucket_col("key", nb)).localCheckpoint()
    changed = sorted(compacted.agg(F.collect_set("_sb")).first()[0])
    if not changed:
        # Empty batch: no base read, no write, no manifest. A mapped
        # table with no rows in the batch still pays its compaction
        # jobs to get here; an up-front per-origin count pass would
        # skip them but costs more per batch than it saves when every
        # mapped table has rows.
        return

    base_paths = _latest_paths(target_dir, changed)
    if base_paths:
        base = (
            bspark.read.option("basePath", target_dir).parquet(*base_paths).drop("_sb", "_sv")
        )
    else:
        base = bspark.createDataFrame(
            [],
            ", ".join(f"{c} {_ddl(data_schema, c, key_fields, key_col)}" for c in base_columns),
        )
    merged = apply_changes(
        base,
        compacted,
        base_key_cols=(base_columns[0],),
        compact_key_cols=("key",),
        payload_map={c: c for c in base_columns[1:]},
        # pessimistic ALWAYS: a foreachBatch retry after a partial
        # bucket write re-applies the same batch against state that
        # already contains its inserts — only the unconditional
        # anti-join keeps that idempotent (parquet has no PK
        # constraint to catch a wrong optimistic guess).
        mode="pessimistic",
    ).withColumn("_sb", _bucket_col(base_columns[0], nb))
    _write_changed_buckets(bspark, target_dir, merged, changed, batch_id)


class TableSpec:
    """Per-table sync spec for the multi-table pipeline."""

    def __init__(
        self,
        data_schema: StructType,
        key_fields: Sequence[str],
        base_columns: Sequence[str],
    ) -> None:
        self.data_schema = data_schema
        self.key_fields = tuple(key_fields)
        self.base_columns = tuple(base_columns)


def run_multi_table_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    tables: dict[str, TableSpec],
    available_now: bool = False,
):
    """ONE streaming query syncs EVERY mapped table of a source —
    bireme's actual deployment shape (a pipeline consumes a whole
    database's binlog topic; Transformers route each change to its
    table's RowCache/loader — ``PipeLine.java`` / per-table caches in
    ``RowCache.java``). ``tables`` maps the mapped target name (the
    table_map right-hand side) to its :class:`TableSpec`; each target
    syncs into ``<target_dir>/<target>/`` with the same changed-bucket
    pruning + atomic manifest commit as the single-table pipeline.

    Routing happens BEFORE JSON payload typing: the envelope's
    database/table fields — Maxwell's top-level ``database``/``table``,
    Debezium's ``payload.source.db``/``payload.source.table`` — are
    extracted with ``get_json_object`` (one cheap JVM projection) so
    each table's ``from_json`` parse runs only over its own rows — N
    small typed parses, not N full-batch parses. Unmapped tables are
    dropped by construction (no mapping entry → no parse), which is
    exactly bireme's filter() semantics.

    The raw batch is persisted for the whole call. Each mapped table
    is routed, parsed, compacted (cut once, see
    ``_merge_compacted_versioned``) and merged on its own thread, at
    most ``defaultParallelism`` tables at once — bireme's one loader
    per table. Tables commit independently: when one table's merge
    fails, the others still commit, the batch raises after every
    thread finished, and the replay after a restart re-applies the
    batch idempotently (pessimistic anti-join) to every table.
    """
    source = config.sources[0]
    raw = _open_stream(spark, source, config.max_events_per_trigger)
    # target → ALL of its origins ("maxwell.db.table"): bireme's
    # table_map is many-to-one (sharded sources consolidate into one
    # target table), so routing must OR across every mapped origin
    mapping = source.table_map or {}
    by_target: dict[str, list[str]] = {}
    for origin, target in mapping.items():
        by_target.setdefault(target, []).append(origin)

    if source.kind == "debezium":
        parse, db_path, tbl_path = parse_debezium, "$.payload.source.db", "$.payload.source.table"
    else:
        parse, db_path, tbl_path = parse_maxwell, "$.database", "$.table"

    def sync_table(batch_df: DataFrame, batch_id: int, target: str, spec: TableSpec) -> None:
        cond = None
        for origin in by_target[target]:
            # origin = "<source>.<database>.<table>"
            _, db, tbl = origin.split(".", 2)
            c = (F.get_json_object("value", db_path) == db) & (
                F.get_json_object("value", tbl_path) == tbl
            )
            cond = c if cond is None else cond | c
        parsed = parse(
            batch_df.where(cond), "value", spec.data_schema, spec.key_fields, source=source.name
        )
        payload_cols = [f.name for f in spec.data_schema.fields if f.name not in spec.key_fields]
        _merge_compacted_versioned(
            batch_df.sparkSession,
            f"{config.target_dir}/{target}",
            _compact_parsed(parsed, payload_cols),
            spec.data_schema,
            spec.key_fields,
            spec.base_columns,
            config.num_buckets,
            batch_id,
        )

    @_persisted_batch
    def multi_batch(batch_df: DataFrame, batch_id: int) -> None:
        # tables without a mapping entry are never parsed at all
        _run_concurrently(
            [
                functools.partial(sync_table, batch_df, batch_id, target, spec)
                for target, spec in tables.items()
                if target in by_target
            ],
            batch_df.sparkSession.sparkContext.defaultParallelism,
        )

    writer = (
        raw.writeStream.foreachBatch(multi_batch)
        .option("checkpointLocation", config.checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=config.trigger_interval)
    return writer.start()


def run_scd2_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    data_schema: StructType,
    key_fields: Sequence[str],
    available_now: bool = False,
):
    """Streaming SCD Type-2 maintenance: where ``run_cdc_pipeline``
    keeps only latest state (bireme's overwrite merge), this sink
    accretes the full version history incrementally — each micro-batch
    appends its own version rows (the batch `scd2` fold) and closes
    the previously-open version of every key the batch touches, with
    the SAME bucket-pruned write path: only buckets containing
    changed keys are read or rewritten, so per-trigger cost is
    O(batch + touched history), never O(|history|).

    Across batches the result provably equals the one-shot batch
    ``scd2`` over the concatenated changelog: within a batch the lead
    window closes versions, and the batch's first change per key
    closes the base's open version at exactly the timestamp lead()
    would have seen (tested; the gate query hash-matches the batch
    oracle).
    """
    source = config.sources[0]
    raw = _open_stream(spark, source, config.max_events_per_trigger)
    if source.kind == "debezium":
        parsed = parse_debezium(raw, "value", data_schema, key_fields, source=source.name)
    else:
        parsed = parse_maxwell(raw, "value", data_schema, key_fields, source=source.name)
    if source.table_map:
        parsed = apply_table_mapping(parsed, source.table_map)

    from bireme_spark.operators.cdc import scd2

    payload_cols = [f.name for f in data_schema.fields if f.name not in key_fields]
    nb = config.num_buckets
    hist_schema = (
        "key string, "
        + ", ".join(f"{c} {data_schema[c].dataType.simpleString()}" for c in payload_cols)
        + ", valid_from long, valid_to long, is_current boolean"
    )

    @_persisted_batch
    def scd2_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bspark = batch_df.sparkSession
        changes = batch_df.select(
            "key",
            "op",
            "produce_time_ms",
            "src_partition",
            F.coalesce(F.col("src_offset"), F.monotonically_increasing_id()).alias(
                "src_offset"
            ),
            *[F.col(f"data.{c}").alias(c) for c in payload_cols],
        )
        hist = scd2(
            changes,
            key_cols=("key",),
            order_cols=("produce_time_ms", "src_partition", "src_offset"),
            payload_cols=tuple(payload_cols),
        ).select(
            "key", *payload_cols, "valid_from", "valid_to", "is_current"
        )
        firsts = changes.groupBy("key").agg(F.min("produce_time_ms").alias("first_ts"))
        firsts = firsts.withColumn("_sb", _bucket_col("key", nb))
        changed = sorted(r._sb for r in firsts.select("_sb").distinct().collect())

        _migrate_legacy_layout(config.target_dir)  # before the base read
        base_paths = _latest_paths(config.target_dir, changed)
        if base_paths:
            base = (
                bspark.read.option("basePath", config.target_dir)
                .parquet(*base_paths)
                .drop("_sb", "_sv")
            )
        else:
            base = bspark.createDataFrame([], hist_schema)
        # Close the open version of every touched key at the batch's
        # first change time; untouched keys in the bucket pass through.
        # RETRY IDEMPOTENCY (the post-manifest-commit, pre-checkpoint-
        # commit window: Structured Streaming re-runs the batch against
        # state that already contains it):
        #  * only close versions that OPENED BEFORE this batch
        #    (valid_from < first_ts) — a replay sees the batch's own
        #    open version (valid_from ≥ first_ts) and leaves it alone;
        #  * anti-join the batch's version rows against the base on the
        #    SCD2 version identity (key, valid_from) so already-applied
        #    rows are not appended twice.
        closing = (
            F.col("is_current")
            & F.col("first_ts").isNotNull()
            & (F.col("valid_from") < F.col("first_ts"))
        )
        closed = (
            base.join(firsts.select("key", "first_ts"), "key", "left")
            .select(
                "key",
                *payload_cols,
                "valid_from",
                F.when(closing, F.col("first_ts")).otherwise(F.col("valid_to")).alias(
                    "valid_to"
                ),
                (F.col("is_current") & (F.col("first_ts").isNull() | ~closing)).alias(
                    "is_current"
                ),
            )
        )
        fresh = hist.join(
            base.select("key", "valid_from"), ["key", "valid_from"], "left_anti"
        )
        merged = closed.unionByName(fresh).withColumn("_sb", _bucket_col("key", nb))
        _write_changed_buckets(bspark, config.target_dir, merged, changed, batch_id)

    writer = (
        parsed.writeStream.foreachBatch(scd2_batch)
        .option("checkpointLocation", config.checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=config.trigger_interval)
    return writer.start()
