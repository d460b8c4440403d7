"""End-to-end Structured Streaming CDC: the streaming pipeline's
final state must equal the batch changelog snapshot (same operators,
same semantics — bireme's LoadTask chain in micro-batches)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bireme_spark.queries.streaming import streaming_cdc_pipeline
from bireme_spark.sources.tables import load_table
from bireme_spark.streaming.stats import PipelineStatListener
import pytest


def test_streaming_equals_batch_snapshot(spark, sf_dir):
    listener = PipelineStatListener()
    spark.streams.addListener(listener)
    try:
        got = {
            (r.o_orderkey, round(r.o_totalprice, 2), r.o_orderstatus)
            for r in streaming_cdc_pipeline(spark, sf_dir).collect()
        }
    finally:
        spark.streams.removeListener(listener)

    o = load_table(spark, sf_dir, "orders").limit(2000)
    expected = {
        (
            r.o_orderkey,
            round(r.o_totalprice + (10.0 if r.o_orderkey % 3 == 0 else 0.0), 2),
            r.o_orderstatus,
        )
        for r in o.collect()
        if r.o_orderkey % 5 != 0
    }
    assert got == expected

    # PipeLineStat twin saw the run
    state = listener.state()["source"]
    assert state, "listener recorded no queries"
    assert sum(s.get("total_rows", 0) for s in state.values()) > 0


def _run_two_batch_pipeline(spark, tmp_path, keys_b1, keys_b2):
    """Two-micro-batch Maxwell replay over a tiny keyed table; returns
    the pipeline config (target layout inspected by callers)."""
    import json as _json

    from bireme_spark.config import PipelineConfig, SourceConfig
    from bireme_spark.streaming.pipeline import run_cdc_pipeline
    from bireme_spark.streaming.replay import stamp_batch_mtime
    from pyspark.sql.types import StructType

    src = str(tmp_path / "in")
    import os

    os.makedirs(src, exist_ok=True)

    def envelope(k, price, op, ts):
        return _json.dumps(
            {
                "database": "testdb",
                "table": "t",
                "type": op,
                "ts": ts,
                "data": {"k": k, "price": price},
            }
        )

    seen: set[str] = set()
    with open(f"{src}/b1.json", "w") as f:
        f.write("\n".join(envelope(k, float(k), "insert", 1000) for k in keys_b1))
    stamp_batch_mtime(src, 0, seen)
    with open(f"{src}/b2.json", "w") as f:
        f.write("\n".join(envelope(k, float(k) + 0.5, "update", 2000) for k in keys_b2))
    stamp_batch_mtime(src, 1, seen)

    cfg = PipelineConfig(
        sources=[SourceConfig(name="maxwell", kind="file", path=src)],
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_events_per_trigger=1,
        num_buckets=8,
    )
    schema = StructType().add("k", "long").add("price", "double")
    q = run_cdc_pipeline(
        spark, cfg, schema, key_fields=("k",), base_columns=("k", "price"),
        available_now=True,
    )
    q.awaitTermination(120)
    return cfg


def test_incremental_sink_rewrites_only_changed_buckets(spark, tmp_path):
    """Batch 2 touches a strict subset of keys: exactly the buckets
    containing those keys get a second version; untouched buckets
    keep v=1 — O(|changed buckets|) write amplification, not O(base)."""
    import os

    from pyspark.sql import functions as F

    from bireme_spark.streaming.pipeline import _bucket_col, read_state

    keys = list(range(1, 41))
    upd = [1, 2, 3]
    cfg = _run_two_batch_pipeline(spark, tmp_path, keys, upd)

    expected_changed = {
        r.b
        for r in spark.createDataFrame([(str(k),) for k in upd], "key string")
        .select(_bucket_col("key", cfg.num_buckets).alias("b"))
        .collect()
    }
    versions = {}
    for d in os.listdir(cfg.target_dir):
        if d.startswith("_sb="):
            b = int(d.split("=")[1])
            versions[b] = {
                int(v.split("=")[1])
                for v in os.listdir(f"{cfg.target_dir}/{d}")
                if v.startswith("_sv=")
            }
    two_versions = {b for b, vs in versions.items() if max(vs) == 2}
    one_version = {b for b, vs in versions.items() if max(vs) == 1}
    assert two_versions == expected_changed
    assert one_version and one_version.isdisjoint(expected_changed)

    state = {(r.k, r.price) for r in read_state(spark, cfg.target_dir).collect()}
    assert state == {(k, float(k) + (0.5 if k in upd else 0.0)) for k in keys}


def test_same_timestamp_fold_is_deterministic(spark, tmp_path):
    """Two same-key changes in one batch with the SAME seconds-level
    produce time must fold by file/offset order every run (ADVICE:
    monotonic-id tiebreak was partition-layout-dependent)."""
    import json as _json
    import os

    from bireme_spark.config import PipelineConfig, SourceConfig
    from bireme_spark.streaming.pipeline import read_state, run_cdc_pipeline
    from pyspark.sql.types import StructType

    for run in range(2):
        work = tmp_path / f"run{run}"
        src = str(work / "in")
        os.makedirs(src)
        rows = []
        # 100 keys × 2 same-second updates each, later line wins
        for k in range(100):
            for price in (1.0, 2.0):
                rows.append(
                    _json.dumps(
                        {
                            "database": "testdb",
                            "table": "t",
                            "type": "insert" if price == 1.0 else "update",
                            "ts": 1000,
                            "data": {"k": k, "price": price},
                        }
                    )
                )
        with open(f"{src}/b.json", "w") as f:
            f.write("\n".join(rows))
        cfg = PipelineConfig(
            sources=[SourceConfig(name="maxwell", kind="file", path=src)],
            target_dir=str(work / "target"),
            checkpoint_dir=str(work / "ckpt"),
            num_buckets=4,
        )
        schema = StructType().add("k", "long").add("price", "double")
        q = run_cdc_pipeline(
            spark, cfg, schema, key_fields=("k",), base_columns=("k", "price"),
            available_now=True,
        )
        q.awaitTermination(120)
        state = {(r.k, r.price) for r in read_state(spark, cfg.target_dir).collect()}
        assert state == {(k, 2.0) for k in range(100)}, f"run {run}"


def test_kafka_reader_options_mirror_reference_consumer():
    """KafkaPipeLine.java:198-207 createConsumer props, knob-for-knob
    (no broker in the sandbox — the option dict IS the testable seam;
    a deployment feeds it into readStream.format("kafka"))."""
    import pytest

    from bireme_spark.config import SourceConfig
    from bireme_spark.streaming.pipeline import kafka_reader_options

    src = SourceConfig(
        name="maxwell1",
        kind="maxwell",
        kafka_server="127.0.0.1:9092",
        kafka_topic="topic_name1",
        kafka_groupid="bireme",
    )
    opts = kafka_reader_options(src, max_events=50_000)
    assert opts == {
        "kafka.bootstrap.servers": "127.0.0.1:9092",  # bootstrap.servers
        "subscribe": "topic_name1",                   # consumer.subscribe(topic)
        "kafka.group.id": "bireme",                   # group.id
        "kafka.session.timeout.ms": "60000",          # session.timeout.ms
        "startingOffsets": "earliest",                # auto.offset.reset
        "failOnDataLoss": "false",
        "maxOffsetsPerTrigger": "50000",              # RowCache batch_size
    }
    # no per-trigger cap configured -> option absent (unbounded trigger)
    assert "maxOffsetsPerTrigger" not in kafka_reader_options(src)
    # transport misconfiguration fails fast, not at stream start
    with pytest.raises(ValueError, match="kafka_server"):
        kafka_reader_options(SourceConfig(name="bad", kind="maxwell"))


def test_reference_etc_config_builds_kafka_options():
    """End-to-end config seam: the reference's own config.properties
    (when present) parses into SourceConfigs whose Kafka option dicts
    are ready for readStream."""
    import os

    import pytest

    from bireme_spark.config import PipelineConfig
    from bireme_spark.streaming.pipeline import kafka_reader_options

    path = "/root/reference/etc/config.properties"
    if not os.path.isfile(path):
        pytest.skip("reference etc not present")
    cfg = PipelineConfig.from_properties_file(path)
    by_name = {s.name: s for s in cfg.sources}
    opts = kafka_reader_options(by_name["maxwell1"], cfg.max_events_per_trigger)
    assert opts["kafka.bootstrap.servers"] == "127.0.0.1:9092"
    assert opts["subscribe"] == "topic_name1"
    assert opts["maxOffsetsPerTrigger"] == "50000"


def test_manifest_commit_is_atomic_and_crash_safe(spark, tmp_path):
    """The versioned-parquet sink's commit point is the single
    manifest replace: a crashed batch that renamed some bucket dirs
    but died before its manifest write must be invisible to readers,
    and the retry must (a) read the committed base, (b) version past
    the orphan dirs, (c) reap them once superseded."""
    from bireme_spark.streaming.pipeline import (
        _latest_paths,
        _read_manifest,
        _write_changed_buckets,
        read_state,
    )

    target = str(tmp_path / "target")
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, val string").withColumn(
        "_sb", F.lit(0)
    )
    _write_changed_buckets(spark, target, b0, [0], batch_id=0)
    assert _read_manifest(target) == {0: 1}
    assert {(r.k, r.val) for r in read_state(spark, target).collect()} == {(1, "a"), (2, "b")}

    # crash simulation: a later attempt staged bucket 0 at v=2 (with
    # rows that must NOT appear) but died before the manifest commit
    orphan = spark.createDataFrame([(9, "ORPHAN")], "k long, val string")
    orphan.write.parquet(f"{target}/_sb=0/_sv=2")
    assert _latest_paths(target) == [f"{target}/_sb=0/_sv=1"]
    assert {(r.k, r.val) for r in read_state(spark, target).collect()} == {(1, "a"), (2, "b")}

    # retry of the batch: versions past the orphan, commits v=3
    b1 = spark.createDataFrame([(1, "a2"), (2, "b")], "k long, val string").withColumn(
        "_sb", F.lit(0)
    )
    _write_changed_buckets(spark, target, b1, [0], batch_id=1)
    assert _read_manifest(target) == {0: 3}
    assert {(r.k, r.val) for r in read_state(spark, target).collect()} == {(1, "a2"), (2, "b")}

    # one more batch: retention reaps everything below the old commit,
    # including the orphan
    b2 = spark.createDataFrame([(1, "a3")], "k long, val string").withColumn(
        "_sb", F.lit(0)
    )
    _write_changed_buckets(spark, target, b2, [0], batch_id=2)
    import os

    left = sorted(os.listdir(f"{target}/_sb=0"))
    assert "_sv=2" not in left and "_sv=1" not in left, left


def test_scd2_pipeline_batch_replay_is_idempotent(spark, tmp_path):
    """The post-manifest-commit / pre-checkpoint-commit retry window:
    re-running the SAME batches against already-committed SCD2 state
    (simulated by deleting the streaming checkpoint and replaying the
    whole input) must leave the history byte-identical — versions are
    neither re-closed at their own valid_from nor appended twice."""
    import json
    import shutil as sh

    from pyspark.sql.types import StructType

    from bireme_spark.config import PipelineConfig, SourceConfig
    from bireme_spark.streaming.pipeline import read_state, run_scd2_pipeline
    from bireme_spark.streaming.replay import stamp_batch_mtime

    def env(op, k, price, ts):
        return json.dumps(
            {"database": "d", "table": "t", "type": op, "ts": ts,
             "data": {"k": k, "price": price}}
        )

    src = tmp_path / "in"
    src.mkdir()
    seen: set[str] = set()
    (src / "b0.txt").write_text("\n".join(env("insert", k, 1.0, 100 + k) for k in range(20)))
    stamp_batch_mtime(str(src), 0, seen)
    (src / "b1.txt").write_text(
        "\n".join(env("update", k, 2.0, 200 + k) for k in range(0, 20, 2))
    )
    stamp_batch_mtime(str(src), 1, seen)

    cfg = PipelineConfig(
        sources=[SourceConfig(name="m", kind="file", path=str(src))],
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_events_per_trigger=1,
        num_buckets=2,
    )
    schema = StructType().add("k", "long").add("price", "double")

    def run():
        q = run_scd2_pipeline(spark, cfg, schema, key_fields=("k",), available_now=True)
        q.awaitTermination(120)
        return sorted(
            (r.key, r.price, r.valid_from, r.valid_to, r.is_current)
            for r in read_state(spark, cfg.target_dir).collect()
        )

    first = run()
    # full replay against committed state = the retry window writ large
    sh.rmtree(cfg.checkpoint_dir)
    second = run()
    assert second == first
    # sanity: updated keys have a closed insert version + open update
    by_key = [row for row in first if row[0] == "0"]
    assert len(by_key) == 2
    closed, opened = sorted(by_key, key=lambda r: r[2])
    assert closed[4] is False and closed[3] == opened[2] and opened[4] is True


def test_corrupt_manifest_raises_not_falls_back(spark, tmp_path):
    """A manifest that EXISTS but is unreadable must fail loudly:
    silently downgrading to the max-version dir scan would adopt
    uncommitted orphan versions as committed state."""
    import pytest

    from bireme_spark.streaming.pipeline import _latest_paths, _write_changed_buckets

    target = str(tmp_path / "t")
    b0 = spark.createDataFrame([(1, "a")], "k long, val string").withColumn(
        "_sb", F.lit(0)
    )
    _write_changed_buckets(spark, target, b0, [0], batch_id=0)
    # orphan from a crashed batch + corrupted manifest
    spark.createDataFrame([(9, "ORPHAN")], "k long, val string").write.parquet(
        f"{target}/_sb=0/_sv=2"
    )
    with open(f"{target}/_manifest.json", "w") as f:
        f.write("{truncated")
    with pytest.raises(Exception, match="corrupt sink manifest"):
        _latest_paths(target)
    # missing manifest (legacy layout) still falls back to the dir scan
    import os

    os.remove(f"{target}/_manifest.json")
    assert _latest_paths(target) == [f"{target}/_sb=0/_sv=2"]


def test_multi_table_pipeline_debezium_envelopes(spark, tmp_path):
    """Whole-database sync with DEBEZIUM envelopes: routing reads
    payload.source.db/table (the real Debezium shape), each table
    parses with its own schema, deletes read their tuple from
    `before` — two tables land in their own versioned targets."""
    import json

    from pyspark.sql.types import StructType

    from bireme_spark.config import PipelineConfig, SourceConfig
    from bireme_spark.streaming.pipeline import (
        TableSpec,
        read_state,
        run_multi_table_pipeline,
    )
    from bireme_spark.streaming.replay import stamp_batch_mtime

    def env(db, table, op, ts, before, after):
        return json.dumps(
            {
                "payload": {
                    "op": op,
                    "ts_ms": ts,
                    "before": before,
                    "after": after,
                    "source": {"db": db, "table": table},
                }
            }
        )

    src = tmp_path / "in"
    src.mkdir()
    seen: set[str] = set()
    b0 = [env("d", "t1", "r", 1000 + i, None, {"k": i, "v": 1.0}) for i in range(10)]
    b0 += [env("d", "t2", "c", 1000 + i, None, {"id": i, "x": "a"}) for i in range(5)]
    (src / "b0.txt").write_text("\n".join(b0))
    stamp_batch_mtime(str(src), 0, seen)
    b1 = [env("d", "t1", "u", 2000 + i, {"k": i, "v": 1.0}, {"k": i, "v": 9.0}) for i in (0, 2)]
    b1 += [env("d", "t2", "d", 2000, {"id": 4, "x": "a"}, None)]
    (src / "b1.txt").write_text("\n".join(b1))
    stamp_batch_mtime(str(src), 1, seen)

    cfg = PipelineConfig(
        sources=[
            SourceConfig(
                name="dbz",
                kind="debezium",
                path=str(src),
                table_map={"dbz.d.t1": "public.t1", "dbz.d.t2": "public.t2"},
            )
        ],
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_events_per_trigger=1,
        num_buckets=2,
    )
    specs = {
        "public.t1": TableSpec(
            StructType().add("k", "long").add("v", "double"), ("k",), ("k", "v")
        ),
        "public.t2": TableSpec(
            StructType().add("id", "long").add("x", "string"), ("id",), ("id", "x")
        ),
    }
    q = run_multi_table_pipeline(spark, cfg, specs, available_now=True)
    q.awaitTermination(120)

    t1 = {(r.k, r.v) for r in read_state(spark, f"{cfg.target_dir}/public.t1").collect()}
    assert t1 == {(i, 9.0 if i in (0, 2) else 1.0) for i in range(10)}
    t2 = {(r.id, r.x) for r in read_state(spark, f"{cfg.target_dir}/public.t2").collect()}
    assert t2 == {(i, "a") for i in range(4)}  # id=4 deleted via `before`


def test_multi_table_pipeline_consolidates_sharded_origins(spark, tmp_path):
    """Many-to-one table_map (sharded source tables t_0/t_1 → one
    target): BOTH origins' changes must land — routing ORs across
    every mapped origin, not just one."""
    import json

    from pyspark.sql.types import StructType

    from bireme_spark.config import PipelineConfig, SourceConfig
    from bireme_spark.streaming.pipeline import (
        TableSpec,
        read_state,
        run_multi_table_pipeline,
    )
    from bireme_spark.streaming.replay import stamp_batch_mtime

    def env(table, k, v, ts):
        return json.dumps(
            {"database": "d", "table": table, "type": "insert", "ts": ts,
             "data": {"k": k, "v": v}}
        )

    src = tmp_path / "in"
    src.mkdir()
    seen: set[str] = set()
    rows = [env("t_0", k, 1.0, 100 + k) for k in range(5)]
    rows += [env("t_1", k, 2.0, 200 + k) for k in range(10, 15)]
    (src / "b0.txt").write_text("\n".join(rows))
    stamp_batch_mtime(str(src), 0, seen)

    cfg = PipelineConfig(
        sources=[
            SourceConfig(
                name="m",
                kind="file",
                path=str(src),
                table_map={"m.d.t_0": "public.t", "m.d.t_1": "public.t"},
            )
        ],
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_events_per_trigger=1,
        num_buckets=2,
    )
    spec = TableSpec(StructType().add("k", "long").add("v", "double"), ("k",), ("k", "v"))
    q = run_multi_table_pipeline(spark, cfg, {"public.t": spec}, available_now=True)
    q.awaitTermination(120)
    got = {(r.k, r.v) for r in read_state(spark, f"{cfg.target_dir}/public.t").collect()}
    assert got == {(k, 1.0) for k in range(5)} | {(k, 2.0) for k in range(10, 15)}


# Two-table Maxwell stream, one micro-batch per inner list:
# (table, type, k, v, ts).
_TWO_TABLE_BATCHES = [
    [("t1", "insert", k, float(k), 1) for k in range(40)]
    + [("t2", "insert", k, 100.0 + k, 1) for k in range(20)],
    [("t1", "update", k, k + 0.5, 2) for k in range(40) if k % 3 == 0]
    + [("t2", "delete", k, 100.0 + k, 2) for k in range(20) if k % 4 == 0]
    + [("t2", "update", k, -float(k), 2) for k in range(20) if k % 4 == 1],
    [("t1", "delete", k, 0.0, 3) for k in range(40) if k % 5 == 0]
    + [("t1", "insert", k, float(k), 3) for k in range(40, 45)]
    + [("t2", "insert", k, 100.0 + k, 3) for k in range(20, 25)],
]


def _start_two_table_stream(spark, tmp_path):
    """Land _TWO_TABLE_BATCHES (one file per batch, on the first
    call only) and start an availableNow multi-table pipeline over
    them from the checkpoint; returns (config, query)."""
    import json

    from pyspark.sql.types import StructType

    from bireme_spark.config import PipelineConfig, SourceConfig
    from bireme_spark.streaming.pipeline import TableSpec, run_multi_table_pipeline
    from bireme_spark.streaming.replay import stamp_batch_mtime

    src = tmp_path / "in"
    if not src.exists():
        src.mkdir()
        seen: set[str] = set()
        for i, batch in enumerate(_TWO_TABLE_BATCHES):
            (src / f"b{i}.txt").write_text(
                "\n".join(
                    json.dumps({"database": "d", "table": t, "type": op, "ts": ts,
                                "data": {"k": k, "v": v}})
                    for t, op, k, v, ts in batch
                )
            )
            stamp_batch_mtime(str(src), i, seen)
    cfg = PipelineConfig(
        sources=[
            SourceConfig(
                name="m",
                kind="maxwell",
                path=str(src),
                table_map={"m.d.t1": "t1", "m.d.t2": "t2"},
            )
        ],
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_events_per_trigger=1,
        num_buckets=4,
    )
    spec = TableSpec(StructType().add("k", "long").add("v", "double"), ("k",), ("k", "v"))
    q = run_multi_table_pipeline(spark, cfg, {"t1": spec, "t2": spec}, available_now=True)
    return cfg, q


def _two_table_snapshot(spark, table, n_batches):
    """The batch `snapshot` operator over the table's first n_batches."""
    from bireme_spark.operators.cdc import snapshot

    ops = {"insert": "I", "update": "U", "delete": "D"}
    rows = [
        (str(k), ops[op], ts * 1000, seq, v)
        for seq, (t, op, k, v, ts) in enumerate(
            c for batch in _TWO_TABLE_BATCHES[:n_batches] for c in batch
        )
        if t == table
    ]
    changes = spark.createDataFrame(
        rows, "key string, op string, produce_time_ms long, seq long, v double"
    )
    return {(int(r.key), r.v) for r in snapshot(changes, payload_cols=("v",)).collect()}


def _synced(spark, cfg, table):
    from bireme_spark.streaming.pipeline import read_state

    return {(r.k, r.v) for r in read_state(spark, f"{cfg.target_dir}/{table}").collect()}


def test_multi_table_sink_writes_one_file_per_bucket_version(spark, tmp_path):
    """Every committed bucket version is exactly one parquet file,
    whatever the partitioning of the merged frame (base survivors
    unioned with the batch's inserts)."""
    import os

    from bireme_spark.streaming import pipeline as pl

    cfg, q = _start_two_table_stream(spark, tmp_path)
    q.awaitTermination(120)
    assert q.exception() is None
    for table in ("t1", "t2"):
        target = f"{cfg.target_dir}/{table}"
        assert pl._read_committed_batch(target) == len(_TWO_TABLE_BATCHES) - 1
        for b, v in pl._read_manifest(target).items():
            files = os.listdir(f"{target}/_sb={b}/_sv={v}")
            assert len([f for f in files if f.endswith(".parquet")]) == 1, (table, b, v, files)
        assert _synced(spark, cfg, table) == _two_table_snapshot(
            spark, table, len(_TWO_TABLE_BATCHES)
        )


def test_multi_table_failure_in_one_table_keeps_the_other_committed(
    spark, tmp_path, monkeypatch
):
    """The tables of a batch merge concurrently and commit on their
    own. When t1's bucket write raises in batch 1, the query surfaces
    the error only after t2 finished: t2's manifest is a committed
    state at batch 1, t1's is still at batch 0. A restart from the
    checkpoint replays batch 1 (idempotent for t2) and brings both
    tables to the batch snapshot of the whole stream."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from bireme_spark.streaming import pipeline as pl

    real_write = pl._write_changed_buckets
    failed: list[str] = []

    def fail_t1_once(bspark, target_dir, merged, changed, batch_id, **kw):
        if target_dir.endswith("/t1") and batch_id == 1 and not failed:
            failed.append(target_dir)
            raise RuntimeError("simulated bucket write failure for t1")
        real_write(bspark, target_dir, merged, changed, batch_id, **kw)

    monkeypatch.setattr(pl, "_write_changed_buckets", fail_t1_once)
    cfg, q = _start_two_table_stream(spark, tmp_path)
    with pytest.raises(StreamingQueryException, match="simulated bucket write failure"):
        q.awaitTermination(120)
    assert len(failed) == 1
    assert pl._read_committed_batch(f"{cfg.target_dir}/t1") == 0
    assert pl._read_committed_batch(f"{cfg.target_dir}/t2") == 1
    assert _synced(spark, cfg, "t1") == _two_table_snapshot(spark, "t1", 1)
    assert _synced(spark, cfg, "t2") == _two_table_snapshot(spark, "t2", 2)

    cfg, q2 = _start_two_table_stream(spark, tmp_path)
    q2.awaitTermination(120)
    assert q2.exception() is None
    for table in ("t1", "t2"):
        assert _synced(spark, cfg, table) == _two_table_snapshot(
            spark, table, len(_TWO_TABLE_BATCHES)
        )


def test_run_concurrently_bounds_threads_and_raises_after_all_finish(spark):
    """The per-table runner: never more than `limit` tasks at once,
    every task runs even when some fail, the first failure (task
    order) is re-raised only after all threads finished, and each
    thread sees the caller's JVM local properties."""
    import sys
    import threading
    import time

    from pyspark import InheritableThread

    from bireme_spark.streaming.pipeline import _run_concurrently

    sc = spark.sparkContext
    lock = threading.Lock()
    state = {"active": 0, "peak": 0, "done": 0}
    props: list[str | None] = []

    def task(i):
        with lock:
            state["active"] += 1
            state["peak"] = max(state["peak"], state["active"])
        time.sleep(0.01)
        props.append(sc.getLocalProperty("bireme.test.prop"))
        with lock:
            state["active"] -= 1
            state["done"] += 1
        if i in (5, 9):
            raise ValueError(f"task {i}")

    raised: list[Exception] = []

    def drive():
        try:
            _run_concurrently([lambda i=i: task(i) for i in range(16)], 3)
        except ValueError as e:
            raised.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    sc.setLocalProperty("bireme.test.prop", "inherited")
    try:
        runner = InheritableThread(target=drive)
        runner.start()
        runner.join(60)
    finally:
        sc.setLocalProperty("bireme.test.prop", None)
        sys.setswitchinterval(interval)
    assert not runner.is_alive()
    assert [str(e) for e in raised] == ["task 5"]
    assert state["done"] == 16 and state["active"] == 0
    assert 1 <= state["peak"] <= 3
    assert props == ["inherited"] * 16


class TestStreamingEwma:
    def test_stream_state_equals_batch_fold_exactly(self, spark, sf_dir):
        """Micro-batch boundaries must be invisible: the carried
        6dp-rounded EWMA state after the replay equals the one-shot
        batch fold bit-for-bit."""
        from bireme_spark.queries.streaming_sessions import streaming_ewma_monitor
        from bireme_spark.sources.tables import load_table
        from bireme_spark.streaming.ewma import ewma_batch

        got = [tuple(r) for r in streaming_ewma_monitor(spark, sf_dir).collect()]
        ev = load_table(spark, sf_dir, "events").select(
            "ts", "event_id", "event_type", "value"
        )
        want = [tuple(r) for r in ewma_batch(ev).collect()]
        assert got == want

    def test_fold_series_rounding_contract(self):
        from bireme_spark.streaming.ewma import fold_series

        assert fold_series([]) is None
        assert fold_series([1.25]) == 1.25
        # second step: 0.2*2 + 0.8*1.25 = 1.4
        assert fold_series([1.25, 2.0]) == 1.4
        # splitting the series at any point with the carried state
        # reproduces the unsplit fold (the stream==batch property)
        vals = [3.7, 1.2, 9.9, 0.4, 5.5]
        whole = fold_series(vals)
        for cut in range(1, len(vals)):
            assert fold_series(vals[cut:], fold_series(vals[:cut])) == whole


class TestCheckpointResume:
    def test_restart_processes_only_new_files(self, spark, sf_dir, tmp_path):
        """Operational contract behind every foreachBatch sink here:
        a restarted query with the same checkpoint directory must NOT
        reprocess already-committed micro-batches — only files that
        arrived while it was down."""
        from bireme_spark.sources.tables import load_table
        from bireme_spark.streaming.replay import stamp_batch_mtime

        ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
        first = ev.where(F.col("event_id") % 2 == 0)
        second = ev.where(F.col("event_id") % 2 == 1)
        src = str(tmp_path / "in")
        ckpt = str(tmp_path / "ckpt")
        seen_files: set = set()
        first.coalesce(1).write.mode("append").parquet(src)
        stamp_batch_mtime(src, 0, seen_files)

        processed: list[int] = []

        def sink(batch_df, batch_id):
            processed.extend(r.event_id for r in batch_df.select("event_id").collect())

        def run_once():
            q = (
                spark.readStream.schema("event_id long, event_type string")
                .parquet(src)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run_once()
        n_first = len(processed)
        assert n_first == first.count()

        second.coalesce(1).write.mode("append").parquet(src)
        stamp_batch_mtime(src, 1, seen_files)
        run_once()

        assert len(processed) == ev.count(), "second run must add only the new file"
        assert len(set(processed)) == len(processed), "no event processed twice"


def test_vacuum_versions_retention_and_orphans(spark, tmp_path):
    """vacuum_versions must (a) always reap orphan versions above the
    committed one, (b) keep exactly `keep` committed-window versions
    per bucket, (c) NEVER delete the manifest-committed version even
    with keep=1, and (d) leave read_state's answer unchanged."""
    import os

    from bireme_spark.streaming.pipeline import (
        _write_manifest,
        read_state,
        vacuum_versions,
    )

    target = str(tmp_path / "t")
    for b in (0, 1):
        for v in (1, 2, 3):
            spark.createDataFrame(
                [(b * 10 + v, f"v{v}")], "k long, val string"
            ).write.parquet(f"{target}/_sb={b}/_sv={v}")
    # bucket 0 also has an orphan above the commit
    spark.createDataFrame([(99, "ORPHAN")], "k long, val string").write.parquet(
        f"{target}/_sb=0/_sv=4"
    )
    _write_manifest(target, {0: 3, 1: 3}, batch_id=0)

    # keep=2: committed + one prior survive; orphan goes
    stats = vacuum_versions(target, keep=2)
    assert stats == {
        "n_buckets": 2,
        "versions_before": 7,
        "versions_after": 4,
        "orphans_removed": 1,
        "superseded_removed": 2,
    }
    assert sorted(os.listdir(f"{target}/_sb=0")) == ["_sv=2", "_sv=3"]
    assert sorted(os.listdir(f"{target}/_sb=1")) == ["_sv=2", "_sv=3"]
    assert {(r.k, r.val) for r in read_state(spark, target).collect()} == {
        (3, "v3"),
        (13, "v3"),
    }

    # keep=1: only the committed version survives; idempotent after
    stats = vacuum_versions(target, keep=1)
    assert stats["versions_after"] == 2 and stats["superseded_removed"] == 2
    assert vacuum_versions(target, keep=1)["superseded_removed"] == 0
    assert {(r.k, r.val) for r in read_state(spark, target).collect()} == {
        (3, "v3"),
        (13, "v3"),
    }


def test_crash_after_sink_commit_resumes_and_stays_idempotent(spark, tmp_path, monkeypatch):
    """Reference restart semantics (`AbstractCommitCallback` persists
    the commit bookkeeping; `KafkaPipeLine` resumes from the last
    committed offset): kill the streaming query in the WORST window —
    after the sink committed micro-batch 1's manifest but before
    Spark wrote the batch's checkpoint commit — then restart from the
    same checkpoint. Spark replays batch 1 against state that already
    contains it; the pessimistic merge must keep that idempotent, and
    the resumed run must finish batch 2 so the final sink state is
    row-identical to a cold batch apply of all three batches."""
    import json as _json
    import os

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from bireme_spark.config import PipelineConfig, SourceConfig
    from bireme_spark.streaming import pipeline as pl
    from bireme_spark.streaming.replay import stamp_batch_mtime
    from pyspark.sql.types import StructType

    src = str(tmp_path / "in")
    os.makedirs(src, exist_ok=True)

    def envelope(k, price, op, ts):
        return _json.dumps(
            {"database": "testdb", "table": "t", "type": op, "ts": ts,
             "data": {"k": k, "price": price}}
        )

    seen: set[str] = set()
    keys = range(1, 41)
    with open(f"{src}/b1.json", "w") as f:
        f.write("\n".join(envelope(k, float(k), "insert", 1000) for k in keys))
    stamp_batch_mtime(src, 0, seen)
    with open(f"{src}/b2.json", "w") as f:
        f.write("\n".join(envelope(k, k + 0.5, "update", 2000) for k in keys if k % 3 == 0))
    stamp_batch_mtime(src, 1, seen)
    with open(f"{src}/b3.json", "w") as f:
        f.write("\n".join(envelope(k, 0.0, "delete", 3000) for k in keys if k % 5 == 0))
    stamp_batch_mtime(src, 2, seen)

    cfg = PipelineConfig(
        sources=[SourceConfig(name="maxwell", kind="file", path=src)],
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_events_per_trigger=1,
        num_buckets=8,
    )
    schema = StructType().add("k", "long").add("price", "double")

    real_merge = pl._merge_compacted_versioned
    merged_batches: list[int] = []

    def crash_after_commit(bspark, target_dir, compacted, *args):
        batch_id = args[-1]
        real_merge(bspark, target_dir, compacted, *args)
        merged_batches.append(batch_id)
        if batch_id == 1:
            raise RuntimeError("simulated crash after sink commit of batch 1")

    monkeypatch.setattr(pl, "_merge_compacted_versioned", crash_after_commit)
    q = pl.run_cdc_pipeline(
        spark, cfg, schema, key_fields=("k",), base_columns=("k", "price"),
        available_now=True,
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    # the sink DID commit batch 1 before the crash
    assert merged_batches == [0, 1]
    assert pl._read_committed_batch(cfg.target_dir) == 1

    # restart from the same checkpoint, crash injector removed
    monkeypatch.setattr(pl, "_merge_compacted_versioned", real_merge)
    q2 = pl.run_cdc_pipeline(
        spark, cfg, schema, key_fields=("k",), base_columns=("k", "price"),
        available_now=True,
    )
    q2.awaitTermination(120)

    got = {(r.k, r.price) for r in pl.read_state(spark, cfg.target_dir).collect()}
    expected = {
        (k, k + 0.5 if k % 3 == 0 else float(k)) for k in keys if k % 5 != 0
    }
    assert got == expected


class TestKafkaSeamExecutesOptions:
    """Drive kafka_reader_options through the protocol-level fake
    (streaming/kafka_fake.py): option names AND semantics execute
    against an in-memory broker, so a key that drifts from
    KafkaPipeLine.java:198-207 / Spark-source semantics fails here
    instead of silently no-opping on a real cluster."""

    def _source(self):
        from bireme_spark.config import SourceConfig

        return SourceConfig(
            name="maxwell1",
            kind="maxwell",
            kafka_server="127.0.0.1:9092",
            kafka_topic="topic_name1",
            kafka_groupid="bireme",
        )

    def _broker(self):
        from bireme_spark.streaming.kafka_fake import FakeBroker

        broker = FakeBroker()
        for i in range(6):
            broker.produce("topic_name1", i % 2, f"m{i}")
        return broker

    def test_options_replay_from_earliest_without_group_commit(self):
        from bireme_spark.streaming.kafka_fake import FakeKafkaSource
        from bireme_spark.streaming.pipeline import kafka_reader_options

        broker = self._broker()
        src = FakeKafkaSource(broker, kafka_reader_options(self._source()))
        got = src.pull_batch()
        # earliest startingOffsets: the full log, both partitions
        assert sorted(got) == [
            (0, 0, "m0"), (0, 1, "m2"), (0, 2, "m4"),
            (1, 0, "m1"), (1, 1, "m3"), (1, 2, "m5"),
        ]
        # consumer props landed where the reference sets them
        assert src.consumer_props["group.id"] == "bireme"
        assert src.consumer_props["session.timeout.ms"] == "60000"
        # progress is checkpoint-side only: NOTHING committed to the
        # broker group (bireme commits after load; Spark never here)
        assert broker.group_commits == []
        assert src.pull_batch() == []  # positions advanced

    def test_max_events_caps_each_trigger(self):
        from bireme_spark.streaming.kafka_fake import FakeKafkaSource
        from bireme_spark.streaming.pipeline import kafka_reader_options

        src = FakeKafkaSource(
            self._broker(), kafka_reader_options(self._source(), max_events=4)
        )
        assert len(src.pull_batch()) == 4  # RowCache batch_size twin
        assert len(src.pull_batch()) == 2  # remainder next trigger

    def test_expired_offsets_resume_from_retained_not_crash(self):
        from bireme_spark.streaming.kafka_fake import FakeKafkaSource
        from bireme_spark.streaming.pipeline import kafka_reader_options

        broker = self._broker()
        src = FakeKafkaSource(broker, kafka_reader_options(self._source(), 2))
        assert len(src.pull_batch()) == 2  # positions now mid-log
        # retention expires offsets the checkpoint still points at
        broker.expire_below("topic_name1", 0, 3)
        broker.expire_below("topic_name1", 1, 2)
        # failOnDataLoss=false (the builder sets it): resume from the
        # earliest retained offset — the reference's reconnect behavior
        got = src.pull_batch()
        assert got == [(1, 2, "m5")]

    def test_drifted_option_key_is_rejected(self):
        import pytest

        from bireme_spark.streaming.kafka_fake import FakeKafkaSource, OptionDriftError
        from bireme_spark.streaming.pipeline import kafka_reader_options

        broker = self._broker()
        good = kafka_reader_options(self._source())
        # a renamed source option (what the real source would IGNORE)
        bad = dict(good)
        bad["starting0ffsets"] = bad.pop("startingOffsets")
        with pytest.raises(OptionDriftError, match="unknown kafka source option"):
            FakeKafkaSource(broker, bad)
        # a consumer prop outside the reference's createConsumer set
        bad2 = dict(good)
        bad2["kafka.sesion.timeout.ms"] = bad2.pop("kafka.session.timeout.ms")
        with pytest.raises(OptionDriftError, match="unknown consumer property"):
            FakeKafkaSource(broker, bad2)
        # losing the kafka. prefix must not silently pass either
        bad3 = dict(good)
        bad3["bootstrap.servers"] = bad3.pop("kafka.bootstrap.servers")
        with pytest.raises(OptionDriftError):
            FakeKafkaSource(broker, bad3)


def test_scd2_crash_after_commit_resumes_correct_history(spark, tmp_path, monkeypatch):
    """SCD2 twin of the CDC crash test: kill the streaming query
    after the HISTORY sink committed micro-batch 1 but before Spark's
    checkpoint commit, restart from the checkpoint (batch 1 replays
    against state that already contains it), and require the final
    version history to be row-identical to an uninterrupted cold run
    — versions neither re-closed nor double-appended."""
    import json as _json
    import os

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql.types import StructType

    from bireme_spark.config import PipelineConfig, SourceConfig
    from bireme_spark.streaming import pipeline as pl
    from bireme_spark.streaming.replay import stamp_batch_mtime

    def env(op, k, price, ts):
        return _json.dumps(
            {"database": "d", "table": "t", "type": op, "ts": ts,
             "data": {"k": k, "price": price}}
        )

    def write_input(src):
        os.makedirs(src, exist_ok=True)
        seen: set[str] = set()
        with open(f"{src}/b0.txt", "w") as f:
            f.write("\n".join(env("insert", k, 1.0, 100 + k) for k in range(20)))
        stamp_batch_mtime(src, 0, seen)
        with open(f"{src}/b1.txt", "w") as f:
            f.write("\n".join(env("update", k, 2.0, 200 + k) for k in range(0, 20, 2)))
        stamp_batch_mtime(src, 1, seen)
        with open(f"{src}/b2.txt", "w") as f:
            f.write("\n".join(env("delete", k, 0.0, 300 + k) for k in range(0, 20, 5)))
        stamp_batch_mtime(src, 2, seen)

    schema = StructType().add("k", "long").add("price", "double")

    def cfg_for(name, src):
        return PipelineConfig(
            sources=[SourceConfig(name="m", kind="file", path=src)],
            target_dir=str(tmp_path / name / "target"),
            checkpoint_dir=str(tmp_path / name / "ckpt"),
            max_events_per_trigger=1,
            num_buckets=2,
        )

    def history(cfg):
        return sorted(
            (r.key, r.price, r.valid_from, r.valid_to, r.is_current)
            for r in pl.read_state(spark, cfg.target_dir).collect()
        )

    # --- reference: uninterrupted cold run ---
    src_ref = str(tmp_path / "in_ref")
    write_input(src_ref)
    cfg_ref = cfg_for("ref", src_ref)
    q = pl.run_scd2_pipeline(spark, cfg_ref, schema, key_fields=("k",), available_now=True)
    q.awaitTermination(120)
    expected = history(cfg_ref)

    # --- crashed run: die after batch 1's sink commit ---
    src = str(tmp_path / "in")
    write_input(src)
    cfg = cfg_for("crash", src)
    real_write = pl._write_changed_buckets

    def crash_after_commit(bspark, target_dir, merged, changed, batch_id, **kw):
        real_write(bspark, target_dir, merged, changed, batch_id, **kw)
        if batch_id == 1:
            raise RuntimeError("simulated crash after scd2 sink commit of batch 1")

    monkeypatch.setattr(pl, "_write_changed_buckets", crash_after_commit)
    q = pl.run_scd2_pipeline(spark, cfg, schema, key_fields=("k",), available_now=True)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    assert pl._read_committed_batch(cfg.target_dir) == 1

    # --- restart from the checkpoint, crash injector removed ---
    monkeypatch.setattr(pl, "_write_changed_buckets", real_write)
    q2 = pl.run_scd2_pipeline(spark, cfg, schema, key_fields=("k",), available_now=True)
    q2.awaitTermination(120)
    assert history(cfg) == expected


def test_kafka_fake_drives_cdc_merge_end_to_end(spark, tmp_path):
    """VERDICT r8 item 6 (`KafkaPipeLine.java:60-120` consume→load→
    commit loop): the protocol Kafka fake as an ACTUAL source for the
    CDC merge, not just option validation. The option dict comes from
    the real wiring (`kafka_reader_options`), each pulled micro-batch
    flows through the SAME parse→compact→merge operators as
    `run_cdc_pipeline`'s foreachBatch, and progress lives ONLY in the
    checkpointed positions: replay-from-committed after a mid-stream
    restart must equal a cold full replay, and the broker's consumer
    group must see ZERO commits (the Spark source never commits —
    bireme commits after load, which the checkpoint models)."""
    import json as _json

    from pyspark.sql.types import StructType

    from bireme_spark.config import SourceConfig
    from bireme_spark.sources.maxwell import parse_maxwell
    from bireme_spark.streaming import pipeline as pl
    from bireme_spark.streaming.kafka_fake import FakeBroker, FakeKafkaSource

    def env(k, price, op, ts):
        return _json.dumps(
            {"database": "testdb", "table": "orders", "type": op, "ts": ts,
             "data": {"k": k, "price": price}}
        )

    broker = FakeBroker()
    topic = "cdc.orders"
    for k in range(1, 41):  # snapshot inserts, 2 partitions
        broker.produce(topic, k % 2, env(k, float(k), "insert", 1000))
    for k in range(3, 41, 3):  # updates
        broker.produce(topic, k % 2, env(k, k + 0.5, "update", 2000))
    for k in range(5, 41, 5):  # deletes
        broker.produce(topic, k % 2, env(k, 0.0, "delete", 3000))

    source = SourceConfig(
        name="maxwell", kind="maxwell",
        kafka_server="fake:9092", kafka_topic=topic,
    )
    opts = pl.kafka_reader_options(source, max_events=25)
    schema = StructType().add("k", "long").add("price", "double")

    def apply_batches(src, target, first_batch_id, max_batches=None):
        """The foreachBatch body, driven by fake pulls: pulled rows →
        the kafka-shape frame `_open_stream` emits → parse_maxwell →
        _compact_parsed → _merge_compacted_versioned."""
        batch_id = first_batch_id
        while max_batches is None or batch_id - first_batch_id < max_batches:
            recs = src.pull_batch()
            if not recs:
                break
            assert len(recs) <= 25  # maxOffsetsPerTrigger honored
            raw = spark.createDataFrame(
                [(v, p, o) for p, o, v in recs],
                "value string, src_partition long, src_offset long",
            )
            parsed = parse_maxwell(raw, "value", schema, ("k",))
            compacted = pl._compact_parsed(parsed, ["price"])
            pl._merge_compacted_versioned(
                spark, target, compacted, schema, ("k",), ("k", "price"), 4, batch_id
            )
            batch_id += 1
        return batch_id

    def state_rows(target):
        return sorted(
            (r.k, r.price) for r in pl.read_state(spark, target).collect()
        )

    # --- run 1: consume TWO micro-batches, then 'crash' -------------
    target_a = str(tmp_path / "target_a")
    src1 = FakeKafkaSource(broker, opts)
    next_id = apply_batches(src1, target_a, first_batch_id=0, max_batches=2)
    committed_positions = dict(src1.positions)  # the checkpoint
    assert pl._read_committed_batch(target_a) == next_id - 1

    # restart: a NEW consumer resumes from the checkpointed positions
    # (NOT from any broker-side group offset) and drains the topic
    src2 = FakeKafkaSource(broker, opts)
    src2.positions = committed_positions
    apply_batches(src2, target_a, first_batch_id=next_id)

    # --- run 2: cold replay from earliest into a fresh target -------
    target_b = str(tmp_path / "target_b")
    apply_batches(FakeKafkaSource(broker, opts), target_b, first_batch_id=0)

    expected = sorted(
        (k, k + 0.5 if k % 3 == 0 else float(k)) for k in range(1, 41) if k % 5 != 0
    )
    assert state_rows(target_a) == expected
    assert state_rows(target_b) == expected

    # --- replay-from-committed idempotency: re-pull the LAST batch --
    # (restart from a stale checkpoint — the batch was already merged)
    src3 = FakeKafkaSource(broker, opts)
    src3.positions = committed_positions
    apply_batches(src3, target_a, first_batch_id=next_id)  # re-applies
    assert state_rows(target_a) == expected

    # the source NEVER commits to the broker's consumer group
    assert broker.group_commits == []
