"""Sync workloads: envelope streams replayed through the CDC pipeline.

* ``sync_bulk``    — ``run_multi_table_pipeline``: one Maxwell topic for
  orders + customer, routed to per-table sinks (bireme's deployment
  shape); large I/U/D batches over uniformly drawn keys.
* ``sync_trickle`` — ``run_cdc_pipeline``: a Debezium stream for orders;
  small batches of Zipf-skewed hot keys.

Both start from the tables' snapshot: ``sync_bulk`` syncs it as the
first batch of the measured stream, ``sync_trickle`` pre-syncs it in
one ``availableNow`` batch. The measured stream is a closed loop: the
file source gets one envelope file per micro-batch, and the next file
lands only after the previous batch committed. Set-up ends with the
snapshot batch (``sync_bulk``: it warms the stream's code up) and one
state scan. A run then feeds as many whole batches as fit in
``seconds`` (at least one), each followed by one full scan of the
synced state; a traced run feeds a fixed number without the scans, so
its counts repeat exactly. After the timed region the synced state
must equal the generator's expected state, row for row (by digest).
"""

from __future__ import annotations

import os
import time
from urllib.parse import urlparse

import gen
from common import Laps, fits, peak_rss_mb, quantile, scan_s, start_session
from observe import BatchListener, Counters, Spans, StatusStore, session_metrics

SYNC_SF = 0.02
# Bulk batch size is set by the run-time budget: a few batches fit in
# the timed window. A bulk batch costs ~4 s fixed plus ~65 us per
# event (traced 10k- and 30k-event batches), so at 10k events the
# batch is mostly per-batch fixed cost (perfbench/README.md).
BATCH_EVENTS = {"sync_bulk": 10_000, "sync_trickle": 200}
ZIPF = {"sync_bulk": None, "sync_trickle": 1.1}
TRACE_BATCHES = {"sync_bulk": 8, "sync_trickle": 30}
# batches/s generated ahead of the timed stream: about twice the rate
# measured when the benchmark was added (~0.2/s bulk, ~0.5/s trickle);
# a program fast enough to use them all ends the run early
MAX_BATCH_RATE = {"sync_bulk": 0.4, "sync_trickle": 1.0}
SNAPSHOT_FILES = 4
BATCH_TIMEOUT_S = 120.0


def _schema(table: str):
    from pyspark.sql.types import StructType

    s = StructType()
    for name, typ in gen.TABLES[table]:
        s = s.add(name, typ)
    return s


def _columns(table: str) -> list[str]:
    return [c for c, _ in gen.TABLES[table]]


class SyncRun:
    """The sink, source and stream of one sync workload run."""

    def __init__(self, spark, kind: str, work: str) -> None:
        self.spark, self.kind, self.work = spark, kind, work
        self.src = os.path.join(work, "src")
        self.target = os.path.join(work, "target")
        self.tables = ["orders", "customer"] if kind == "sync_bulk" else ["orders"]
        os.makedirs(self.src, exist_ok=True)

    def target_dir(self, table: str) -> str:
        return os.path.join(self.target, table) if self.kind == "sync_bulk" else self.target

    def start(self, src: str, ckpt: str, available_now: bool, max_files: int | None):
        from bireme_spark.config import PipelineConfig, SourceConfig
        from bireme_spark.streaming.pipeline import (
            TableSpec,
            run_cdc_pipeline,
            run_multi_table_pipeline,
        )

        if self.kind == "sync_bulk":
            source = SourceConfig(
                name="maxwell",
                kind="maxwell",
                path=src,
                table_map={f"maxwell.shop.{t}": t for t in self.tables},
            )
        else:
            source = SourceConfig(name="dbz", kind="debezium", path=src)
        cfg = PipelineConfig(
            sources=[source],
            target_dir=self.target,
            checkpoint_dir=ckpt,
            trigger_interval="0 seconds",
            max_events_per_trigger=max_files,
        )
        if self.kind == "sync_bulk":
            specs = {t: TableSpec(_schema(t), _columns(t)[:1], _columns(t)) for t in self.tables}
            return run_multi_table_pipeline(self.spark, cfg, specs, available_now=available_now)
        cols = _columns("orders")
        return run_cdc_pipeline(
            self.spark, cfg, _schema("orders"), cols[:1], cols, available_now=available_now
        )

    def presync(self, stream: gen.Stream) -> None:
        """Sync the snapshot (all its files) in one availableNow batch."""
        src = os.path.join(self.work, "base-src")
        os.makedirs(src, exist_ok=True)
        for f in stream.files[0]:
            os.rename(f, os.path.join(src, os.path.basename(f)))
        q = self.start(src, os.path.join(self.work, "base-ckpt"), True, max_files=None)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"snapshot pre-sync failed: {q.exception()}")

    def open(self) -> None:
        """Start the measured stream (one file per micro-batch)."""
        self.listener = BatchListener()
        self.spark.streams.addListener(self.listener)
        self.query = self.start(self.src, os.path.join(self.work, "ckpt"), False, max_files=1)
        self.fed = 0
        self.landed: list[list[str]] = []

    def feed(self, files: list[str]) -> str | None:
        """Land one batch's file(s) and wait for its commit; the
        failure message, or None."""
        landed = [os.path.join(self.src, f"{self.fed:05d}-{os.path.basename(f)}") for f in files]
        for f, to in zip(files, landed):
            os.rename(f, to)
        self.landed.append(landed)
        self.fed += 1
        if not self.listener.wait_for(self.fed, self.query, BATCH_TIMEOUT_S):
            return f"batch {self.fed - 1} did not commit: {self.query.exception()}"
        return None

    def close(self) -> None:
        self.query.stop()
        self.spark.streams.removeListener(self.listener)

    def check(self, expected: dict[str, tuple[int, int]]) -> list[str]:
        """Why the synced state differs from the generator's, per table."""
        from bireme_spark.streaming.pipeline import read_state

        bad = []
        for t in self.tables:
            try:
                df = read_state(self.spark, self.target_dir(t))
                got = (0, 0)
                if df is not None:
                    row = df.agg(*gen.state_digest_expr(_columns(t))).collect()[0]
                    got = (int(row["n"]), int(row["digest"] or 0))
            except Exception as e:  # an unreadable state is a wrong state
                bad.append(f"{t}: reading the synced state: {type(e).__name__}: {str(e)[:300]}")
                continue
            if got != tuple(expected[t]):
                bad.append(f"{t}: synced (rows, digest) {got} != expected {tuple(expected[t])}")
        return bad

    def scan_once(self) -> tuple[float, str | None]:
        """One timed full scan of the synced state; its wall and the
        failure message, or None."""
        from bireme_spark.streaming.pipeline import read_state

        try:
            return scan_s(lambda: [read_state(self.spark, self.target_dir(t)) for t in self.tables]), None
        except Exception as e:  # an unreadable state has no scan time
            return 0.0, f"state scan: {type(e).__name__}: {str(e)[:300]}"

    # -- sink layout (traced runs): the committed files read_state reads

    def committed(self) -> dict[str, dict[str, int]]:
        """Per table, every committed data file and the sink bucket it
        belongs to. Fails loudly when a table has no committed state or
        a file is not where the sink's ``_sb=<bucket>`` layout puts it."""
        from bireme_spark.streaming.pipeline import read_state

        out = {}
        for t in self.tables:
            df = read_state(self.spark, self.target_dir(t))
            if df is None:
                raise RuntimeError(f"{t}: no committed state under {self.target_dir(t)}")
            out[t] = {}
            for uri in df.inputFiles():
                bucket = next((d[4:] for d in uri.split("/") if d.startswith("_sb=")), None)
                if bucket is None:
                    raise RuntimeError(f"{t}: committed file outside a bucket dir: {uri}")
                out[t][uri] = int(bucket)
        return out

    @staticmethod
    def written(before, after) -> dict[str, dict[str, int]]:
        """Per table, the files (with their buckets) committed after a
        batch that were not committed before it."""
        return {t: {f: b for f, b in fs.items() if f not in before[t]} for t, fs in after.items()}


def _file_rows_bytes(uri: str) -> tuple[int, int]:
    import pyarrow.parquet as pq

    path = urlparse(uri).path
    return pq.read_metadata(path).num_rows, os.path.getsize(path)


def run_sync(kind: str, seed: int, seconds: float, trace: bool, cores: int, work: str) -> dict:
    laps = Laps()
    spark = start_session(cores, work)
    laps.lap("session")
    tables_dir = os.path.join(work, "tables")
    gen.make_tables(seed, tables_dir, SYNC_SF)
    laps.lap("tables")
    run = SyncRun(spark, kind, work)
    fmt = "maxwell" if kind == "sync_bulk" else "debezium"
    in_stream = kind == "sync_bulk"  # the snapshot is the stream's first batch
    parts = 1 if in_stream else SNAPSHOT_FILES
    base, state = gen.snapshot(fmt, run.tables, tables_dir, os.path.join(work, "gen-base"), parts)
    laps.lap("snapshot_envelopes")
    if not in_stream:
        try:
            run.presync(base)
        except Exception as e:  # no base to sync against: one failed op
            return _failed_run(f"snapshot pre-sync: {type(e).__name__}: {str(e)[:300]}", laps)
        laps.lap("presync")
    fixed = TRACE_BATCHES[kind] if trace else None
    n = fixed or 4 + int(seconds * MAX_BATCH_RATE[kind])
    stream = gen.changes(
        fmt, seed, state, os.path.join(work, "gen"), n, BATCH_EVENTS[kind], ZIPF[kind]
    )
    laps.lap("envelopes")
    # untimed: the snapshot batch (sync_bulk) and one state scan; then
    # the timed batches, each followed by one scan
    warm = [base.files[0]] if in_stream else []
    batches = stream.files
    run.open()
    spans = Spans()
    records: list[dict] = []
    failures: list[str] = []
    scans: list[float] = []
    walls: list[float] = []
    error = None
    try:
        for files in warm:
            error = error or run.feed(files)
        if error is None:
            error = run.scan_once()[1]
        laps.lap("warmup")
        store = StatusStore(spark) if trace else None
        setup_s = laps.total
        if store is not None and error is None:
            layout = run.committed()
            store.read()  # the jobs committed() ran are not the batch's
        t0 = time.perf_counter()
        while error is None and len(walls) < len(batches):
            if fixed is None and walls and not fits(t0, len(walls), seconds):
                break
            with spans.span("streaming.pipeline.batch") as b:
                error = run.feed(batches[len(walls)])
            walls.append(b["end"] - b["start"])
            if store is not None and error is None:
                counters = store.read()
                after = run.committed()
                store.read()
                written = run.written(layout, after)
                layout = after
                records.append(
                    {
                        "counters": counters,
                        "written": written,
                        # read now: the sink drops old versions later
                        "rows_bytes": [
                            _file_rows_bytes(f) for fs in written.values() for f in fs
                        ],
                        "progress": run.listener.progress[run.fed - 1],
                    }
                )
            if error is None and not trace:
                # after every batch, so scan_s samples the same stretch
                # of the run as the batches do
                secs, error = run.scan_once()
                if error is None:
                    scans.append(secs)
        wall = time.perf_counter() - t0
    finally:
        run.close()
    progress = run.listener.progress[len(warm) : run.fed]

    if error:
        failures.append(error)
    done = len(run.listener.progress) - (1 if in_stream else 0)
    failures += run.check(stream.expected[done - 1] if done > 0 else base.expected[0])
    trigger = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
    events = sum(stream.events[: len(progress)])
    if trace and error is None:
        secs, error = run.scan_once()
        if error is None:
            scans.append(secs)
        else:
            failures.append(error)
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": events / sum(walls[: len(progress)]) if progress else 0.0,
        "op_p50_s": quantile(trigger, 0.5),
        "scan_s": quantile(scans, 0.5),
    }
    info = {
        "failures": failures,
        "setup_phases": laps.laps,
        "warmup_times": [
            p["durationMs"]["triggerExecution"] / 1000.0 for p in run.listener.progress[: len(warm)]
        ],
        "op_times": trigger,
        "scan_times": scans,
        "named": {
            "sync_events_per_s": (e2e["throughput_per_s"], "1/s"),
            "batch_p50_s": (e2e["op_p50_s"], "s"),
            "batch_max_s": (max(trigger, default=0.0), "s"),
            "batches": (len(progress), "count"),
            "state_scan_s": (e2e["scan_s"], "s"),
            "peak_rss_mb": (peak_rss_mb(spark), "MB"),
        },
    }
    layers = None
    if trace:
        try:
            landed = [f for fs in run.landed[len(warm) :] for f in fs]
            layers = sync_layers(run, stream, records, landed, wall, cores, store, spans)
        except Exception as e:  # a sink the layer reads cannot follow
            failures.append(f"traced layers: {type(e).__name__}: {str(e)[:300]}")
            layers = {}
        layers["session.peak_rss_mb"] = info["named"]["peak_rss_mb"][0]
        info["spans"] = spans.dump()
        info["batches_trace"] = [
            {
                "trigger_s": r["progress"]["durationMs"]["triggerExecution"] / 1000.0,
                "add_batch_s": r["progress"]["durationMs"].get("addBatch", 0) / 1000.0,
                "jobs": [j["name"] for j in r["counters"].jobs],
            }
            for r in records
        ]
    return {
        "attempted": max(run.fed, 1),
        "failed": len(failures),
        "e2e": e2e,
        "info": info,
        "layers": layers,
    }


def _failed_run(why: str, laps: Laps) -> dict:
    """The result of a run that stopped in set-up: one failed op and no
    figures but the set-up time."""
    e2e = {"setup_s": laps.total, "throughput_per_s": 0.0, "op_p50_s": 0.0, "scan_s": 0.0}
    info = {"failures": [why], "setup_phases": laps.laps, "named": {}}
    return {"attempted": 1, "failed": 1, "e2e": e2e, "info": info, "layers": {}}


def sync_layers(run: SyncRun, stream, records, landed, wall, cores, store, spans) -> dict:
    n = len(records)
    events = sum(stream.events[:n])
    add_batch = [r["progress"]["durationMs"].get("addBatch", 0) / 1000.0 for r in records]
    trig = [r["progress"]["durationMs"]["triggerExecution"] / 1000.0 for r in records]
    cs = [r["counters"] for r in records]
    writes = [
        sum(j["end"] - j["start"] for j in c.jobs if j["end"] and j["name"].startswith("parquet at"))
        for c in cs
    ]
    written = [r["written"] for r in records]
    rows_bytes = [rb for r in records for rb in r["rows_bytes"]]
    sp = "streaming.pipeline."
    m = {
        sp + "batches": n,
        sp + "add_batch_s": quantile(add_batch, 0.5),
        sp + "add_batch_total_s": sum(add_batch),
        sp + "trigger_overhead_s": quantile([t - a for t, a in zip(trig, add_batch)], 0.5),
        sp + "jobs_per_batch": quantile([len(c.jobs) for c in cs], 0.5),
        sp + "jobs_total": sum(len(c.jobs) for c in cs),
        sp + "stages_per_batch": quantile([len(c.stages) for c in cs], 0.5),
        sp + "tasks_per_batch": quantile([c.tasks for c in cs], 0.5),
        sp + "job_s_per_batch": quantile([c.job_seconds() for c in cs], 0.5),
        sp + "write_job_s": quantile(writes, 0.5),
        sp + "driver_s_per_batch": quantile(
            [a - c.covered_seconds() for a, c in zip(add_batch, cs)], 0.5
        ),
        sp + "source_read_ratio": sum(r["progress"]["numInputRows"] for r in records)
        / max(sum(stream.lines[:n]), 1),
        sp + "buckets_rewritten_per_batch": quantile(
            [sum(len(set(fs.values())) for fs in w.values()) for w in written], 0.5
        ),
        sp + "rows_rewritten_per_event": sum(r for r, _ in rows_bytes) / max(events, 1),
        sp + "bytes_written_per_event": sum(b for _, b in rows_bytes) / max(events, 1),
        sp + "state_files": sum(len(fs) for fs in run.committed().values()),
    }
    m.update(session_metrics(sum(cs, Counters()), wall, cores))
    touched = {t: {b for w in written for b in w[t].values()} for t in run.tables}
    m.update(isolated_layers(run, stream, n, landed, touched, store, spans))
    return m


def isolated_layers(
    run: SyncRun,
    stream,
    n: int,
    files: list[str],
    touched: dict[str, set[int]],
    store: StatusStore,
    spans: Spans,
) -> dict:
    """Time ``parse_*``, ``compact`` and ``apply_changes`` on their own
    over the envelope ``files`` of the traced batches, each into ``noop``;
    ``apply_changes`` runs against the synced state pruned to the
    buckets (``touched``) the traced batches rewrote."""
    from pyspark.sql import functions as F

    from bireme_spark.operators.cdc import apply_changes, compact
    from bireme_spark.sources.debezium import parse_debezium
    from bireme_spark.sources.maxwell import parse_maxwell
    from bireme_spark.streaming.pipeline import read_state

    spark = run.spark
    raw = spark.read.text(files).persist()
    raw.count()

    def noop(name: str, df) -> float:
        with spans.span(name) as s:
            df.write.format("noop").mode("overwrite").save()
        return s["end"] - s["start"]

    m = dict.fromkeys(("parse_s", "compact_s", "apply_s", "rows", "keys", "shuffle"), 0.0)
    for t in run.tables:
        cols = _columns(t)
        if run.kind == "sync_bulk":
            sub = raw.where(
                (F.get_json_object("value", "$.database") == "shop")
                & (F.get_json_object("value", "$.table") == t)
            )
            parsed = parse_maxwell(sub, "value", _schema(t), cols[:1], source="maxwell")
        else:
            parsed = parse_debezium(raw, "value", _schema(t), cols[:1], source="dbz")
        m["parse_s"] += noop("sources.parse", parsed)
        parsed = parsed.persist()
        m["rows"] += parsed.count()
        changes = parsed.select(
            "key",
            "op",
            "produce_time_ms",
            F.lit(0).cast("long").alias("src_partition"),
            F.monotonically_increasing_id().alias("src_offset"),
            (F.col("old_key") if "old_key" in parsed.columns else F.lit(None).cast("string")).alias(
                "old_key"
            ),
            *[F.col(f"data.{c}").alias(c) for c in cols[1:]],
        )
        compacted = compact(
            changes,
            key_cols=("key",),
            order_cols=("produce_time_ms", "src_partition", "src_offset"),
            payload_cols=tuple(cols[1:]),
            old_key_col="old_key",
        )
        store.read()
        m["compact_s"] += noop("operators.cdc.compact", compacted)
        m["shuffle"] += store.read().total("shuffle_write")
        compacted = compacted.persist()
        m["keys"] += compacted.count()
        pruned = [f for f, b in run.committed()[t].items() if b in touched[t]]
        base = read_state(spark, run.target_dir(t)).where(F.input_file_name().isin(pruned))
        merged = apply_changes(
            base,
            compacted,
            base_key_cols=cols[:1],
            compact_key_cols=("key",),
            payload_map={c: c for c in cols[1:]},
            mode="pessimistic",
        )
        store.read()
        m["apply_s"] += noop("operators.cdc.apply", merged)
        m["shuffle"] += store.read().total("shuffle_write")
        parsed.unpersist()
        compacted.unpersist()
    raw.unpersist()
    envelopes = sum(stream.lines[:n])
    return {
        "sources.parse_s": m["parse_s"],
        "sources.envelopes_in": envelopes,
        "sources.change_rows_out": m["rows"],
        "sources.dropped_frac": 1.0 - m["rows"] / max(envelopes, 1),
        "operators.cdc.compact_s": m["compact_s"],
        "operators.cdc.compaction_ratio": m["keys"] / max(m["rows"], 1),
        "operators.cdc.apply_s": m["apply_s"],
        "operators.cdc.shuffle_bytes": m["shuffle"],
    }
