"""The three closed-loop workloads over the four CDC layers.

Each workload function takes a :class:`Run` (session, tracer, work dir,
seed, seconds) and fills ``run.samples`` (lists of measured values) and
``run.layer`` (per-layer figures, traced runs only). Every operation waits
for its reply before the next one starts: the single-writer exactly-once
contract makes the commit loop closed, and readers wait for their rows.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from nifi_dicom_spark.fixtures import GeneratorConfig, generate_change_events, write_event_files
from nifi_dicom_spark.fixtures.oracle import assert_final_state_equal, replay_oracle
from nifi_dicom_spark.model import CHANGE_EVENTS_SCHEMA, KEY_COLUMNS
from nifi_dicom_spark.operators.apply import (
    STORED_COLUMNS,
    apply_changes,
    create_transcripts_table,
    partition_metrics,
    read_final_state,
)
from nifi_dicom_spark.operators.reconcile import conform_to_schema
from nifi_dicom_spark.operators.routing import route_events
from nifi_dicom_spark.sources.changelog import read_change_log

#: every layer the traced run reports on, zero where a workload leaves it idle
LAYER_METRICS = {
    "sources.decode_s": "s",
    "sources.events_in": "count",
    "sources.quarantined": "count",
    "sources.self_s": "s",
    "operators.lineage_s": "s",
    "operators.buckets_touched": "count",
    "operators.lww_ratio": "ratio",
    "operators.self_s": "s",
    "lake.merge_s": "s",
    "lake.files_added": "count",
    "lake.bytes_written": "bytes",
    "lake.manifest_ms": "ms",
    "lake.versions": "count",
    "lake.auto_compactions": "count",
    "lake.compact_bytes_rewritten": "bytes",
    "lake.delta_files_max": "count",
    "lake.lookup_files_read": "count",
    "lake.bloom_skipped": "count",
    "lake.self_s": "s",
    "sources.feed_batch_ms": "ms",
    "sources.feed_rows": "count",
    "streaming.startup_s": "s",
    "streaming.batches": "count",
    "streaming.add_batch_ms.replica": "ms",
    "streaming.add_batch_ms.rollup": "ms",
    "streaming.lag_s.replica": "s",
    "streaming.lag_s.rollup": "s",
    "trace.overhead_pct": "%",
}


@dataclass
class Epoch:
    path: str
    events: pd.DataFrame
    n_bytes: int


@dataclass
class Run:
    spark: object
    tracer: object
    work: str
    seed: int
    seconds: int
    samples: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    #: commit walls by epoch: (traced?, seconds); plain commits call
    #: apply_changes, traced ones run the same composition with spans
    walls: dict = field(default_factory=dict)
    #: wall seconds per phase of the run, for the report
    phases: dict = field(default_factory=dict)

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def check(self, ok: bool, what: str) -> None:
        """One correctness check: counted, and a failure ends the run."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            raise CheckFailed(what)


class CheckFailed(AssertionError):
    pass


# ---------------------------------------------------------------- inputs


def make_epochs(
    out: str, seed: int, n_epochs: int, per_epoch: int, n_conversations: int
) -> list[Epoch]:
    """One seeded change log, split in delivery order into epoch dirs.

    Generator defaults stay on (5% duplicates, 10% late events) plus 30%
    hot keys, 1% malformed events and the ``tool`` schema change half way
    through the log, so early epochs are files without that column.
    """
    n = n_epochs * per_epoch
    log = generate_change_events(
        GeneratorConfig(
            seed=seed,
            n_events=n,
            n_conversations=n_conversations,
            hot_fraction=0.30,
            malformed_ratio=0.01,
            schema_change_at=n // 2,
        )
    )
    epochs = []
    for e in range(n_epochs):
        part = log.iloc[e * per_epoch : (e + 1) * per_epoch]
        d = os.path.join(out, f"epoch-{e:04d}")
        paths = write_event_files(part, d, n_files=max(1, min(8, per_epoch // 2000)))
        epochs.append(Epoch(d, part, sum(os.path.getsize(p) for p in paths)))
    return epochs


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def live_bytes(table) -> int:
    m = table.manifest()
    return sum(
        os.path.getsize(os.path.join(table.data_dir, rel))
        for which in ("files", "delta_files")
        for rels in m.get(which, {}).values()
        for rel in rels
    )


# ---------------------------------------------------------------- set-up


def setup(run: Run, make_inputs, reps: int = 3):
    """Warm the JVM once, then prepare the inputs ``reps`` times and keep
    the last preparation.

    The warm-up applies a 500-event epoch to a throwaway table. One input
    preparation generates and writes the workload's epoch files. ``setup_s``
    is session start + warm-up + the median preparation: everything the
    run does before its measured loop.
    """
    with run.phase("setup"):
        t0 = time.perf_counter()
        base = os.path.join(run.work, "warm")
        warm = make_epochs(base, run.seed + 7919, 1, 500, 100)
        wt = create_transcripts_table(run.spark, os.path.join(base, "table"), 8)
        apply_changes(wt, read_change_log(run.spark, warm[0].path), epoch=0)
        warm_s = time.perf_counter() - t0
        preps = []
        for i in range(reps):
            if i:
                shutil.rmtree(os.path.join(run.work, f"in-{i - 1}"))
            t0 = time.perf_counter()
            inputs = make_inputs(os.path.join(run.work, f"in-{i}"))
            preps.append(time.perf_counter() - t0)
    run.add("setup_s", run.phases["session_start"] + warm_s + float(np.median(preps)))
    return inputs


# ---------------------------------------------------------------- writes


def apply_epoch(run: Run, table, ep: Epoch, epoch: int, traced: bool) -> int:
    """Apply one epoch and wait for its commit; returns the table version.

    Untraced, this is ``apply_changes``. Traced, the same composition runs
    step by step (read, conform, lineage collect, route, manifest, merge)
    with a span around each public call, after a separate decode probe.
    """
    tr = run.tracer
    if not traced:
        t0 = time.perf_counter()
        apply_changes(table, read_change_log(run.spark, ep.path), epoch=epoch)
        run.walls[epoch] = (False, time.perf_counter() - t0)
        return table.current_version()

    with tr.span("sources.decode"):
        conform_to_schema(
            read_change_log(run.spark, ep.path), CHANGE_EVENTS_SCHEMA
        ).write.format("noop").mode("overwrite").save()
    before = table.manifest()
    t0 = time.perf_counter()
    with tr.span("operators.apply_changes"):
        with tr.span("sources.read_change_log"):
            events = read_change_log(run.spark, ep.path)
        with tr.span("operators.conform_to_schema"):
            events = conform_to_schema(events, CHANGE_EVENTS_SCHEMA)
        with tr.span("lake.bucket_expr"):
            bucket = table.bucket_expr(KEY_COLUMNS[0])
        with tr.span("operators.partition_metrics"):
            rows = [
                r.asDict()
                for r in partition_metrics(events, bucket_expr=bucket).collect()
            ]
        touched = sorted({int(b) for r in rows for b in r.pop("_buckets")})
        with tr.span("operators.route_events"):
            valid, _bad = route_events(events)
        with tr.span("lake.manifest"):
            table.manifest()
        with tr.span("lake.merge"):
            stats = table.merge(
                valid.select(*STORED_COLUMNS),
                op_col="op",
                policy="versioned_upsert",
                commit_keys=[(epoch, int(r["partition_id"])) for r in rows],
                touched_buckets=touched,
            )
    run.walls[epoch] = (True, time.perf_counter() - t0)

    # counts at the same boundaries, read from the committed manifests
    old = {r for w in ("files", "delta_files") for rl in before[w].values() for r in rl}
    mine = table.manifest(stats.version)
    ours = [
        r for rl in mine.get("delta_files", {}).values() for r in rl if r not in old
    ]
    now = table.manifest()
    added = [
        r
        for w in ("files", "delta_files")
        for rl in now.get(w, {}).values()
        for r in rl
        if r not in old
    ]
    valid_n = sum(r["n_insert"] + r["n_update"] + r["n_delete"] for r in rows)
    tr.count("sources.events_in", sum(r["n_events"] for r in rows))
    tr.count("sources.quarantined", sum(r["n_quarantined"] for r in rows))
    tr.count("operators.buckets_touched", len(touched))
    tr.count("operators.valid", valid_n)
    tr.count(
        "operators.winners",
        sum(pq.ParquetFile(os.path.join(table.data_dir, r)).metadata.num_rows for r in ours),
    )
    tr.count("lake.files_added", len(added))
    tr.count(
        "lake.bytes_written",
        sum(os.path.getsize(os.path.join(table.data_dir, r)) for r in added),
    )
    return table.current_version()


def run_epochs(run: Run, table, epochs: list[Epoch], first_epoch: int, after=None):
    """Apply ``epochs`` in order; ``after(i, version)`` runs after each
    commit. Traced runs alternate the plain and traced paths so the
    tracing overhead is measured inside one process."""
    for i, ep in enumerate(epochs):
        traced = run.tracer.enabled and (first_epoch + i) % 2 == 1
        t0 = time.perf_counter()
        version = apply_epoch(run, table, ep, first_epoch + i, traced)
        run.attempted += 1
        run.add("apply_ms", (time.perf_counter() - t0) * 1000)
        run.add("events", len(ep.events))
        run.add("input_bytes", ep.n_bytes)
        if after is not None:
            after(i, version)


# ---------------------------------------------------------------- reads


def lookup(run: Run, table, key: str, oracle: pd.DataFrame) -> None:
    """Point lookup of one conversation, checked against the oracle."""
    t0 = time.perf_counter()
    with run.tracer.span("lake.lookup"):
        got = table.lookup([key]).toPandas()
    run.add("lookup_ms", (time.perf_counter() - t0) * 1000)
    run.attempted += 1
    if run.tracer.enabled:
        st = table.lookup_file_stats([key])
        run.tracer.count("lake.lookup_files_read", st["read"])
        run.tracer.count("lake.bloom_skipped", st["bloom_skipped"])
    check_state(
        run,
        got[got["op"] != "delete"],
        oracle[oracle["conv_id"] == key],
        f"lookup({key}) differs from the oracle",
    )


def snapshot_read(run: Run, table) -> pd.DataFrame:
    t0 = time.perf_counter()
    with run.tracer.span("lake.read"):
        pdf = read_final_state(table).toPandas()
    run.add("snapshot_read_s", time.perf_counter() - t0)
    run.attempted += 1
    return pdf


def compact(run: Run, table) -> None:
    t0 = time.perf_counter()
    with run.tracer.span("lake.compact"):
        table.compact()
    run.add("compact_s", time.perf_counter() - t0)
    run.attempted += 1


def check_state(run: Run, actual: pd.DataFrame, expected: pd.DataFrame, what: str):
    try:
        assert_final_state_equal(actual, expected)
        ok = True
    except AssertionError:
        ok = False
    run.check(ok, what)


def finish_table(
    run: Run, table, events: pd.DataFrame, n_lookups: int, n_reads: int, rng
) -> pd.DataFrame:
    """The shared tail of every workload: full compaction, seeded point
    lookups, snapshot reads, the oracle check, and the storage figures
    (stored bytes per live row, bytes written per input byte)."""
    with run.phase("finish"):
        oracle = replay_oracle(events)
        compact(run, table)
        for i in range(n_lookups):
            lookup(run, table, lookup_key(oracle, i, rng), oracle)
        for _ in range(n_reads):
            state = snapshot_read(run, table)
        check_state(run, state, oracle, "final state differs from replay_oracle")
        run.add("bytes_per_row", live_bytes(table) / max(1, len(state)))
        run.add("write_amp", dir_bytes(table.path) / sum(run.samples["input_bytes"]))
        layer_from_history(run, table)
    return state


def lookup_key(oracle: pd.DataFrame, i: int, rng) -> str:
    """The ``i``-th key of a lookup sequence: even turns cycle through the
    generator's three hot conversations, odd turns draw a cold one from
    the live state."""
    hot = [f"conv-{h:06d}" for h in range(3)]
    if i % 2 == 0:
        return hot[i // 2 % 3]
    return rng.choice(sorted(set(oracle["conv_id"]) - set(hot)))


def layer_from_history(run: Run, table) -> None:
    """Compaction and manifest figures from the table's own history."""
    if not run.tracer.enabled:
        return
    hist = table.history()
    compacts = [h["version"] for h in hist if h["policy"] == "compact"]
    rewritten = 0
    for v in compacts:
        prev = table.manifest(v - 1)
        old = {r for rl in prev.get("files", {}).values() for r in rl}
        rewritten += sum(
            os.path.getsize(os.path.join(table.data_dir, r))
            for rl in table.manifest(v).get("files", {}).values()
            for r in rl
            if r not in old
        )
    L = run.layer
    L["lake.versions"] = hist[-1]["version"]
    L["lake.auto_compactions"] = len(compacts) - len(run.samples.get("compact_s", []))
    L["lake.compact_bytes_rewritten"] = rewritten
    L["lake.delta_files_max"] = max(h["n_delta_files"] for h in hist)


# ---------------------------------------------------------------- workloads


def bulk_replay(run: Run) -> None:
    """A few large merge-on-read epochs into 64 buckets, then one full
    compaction. Time goes to decode, the lineage pass and the
    exchange/LWW/write; per-commit fixed cost is amortized."""
    n_epochs = max(2, run.seconds // 10)
    per_epoch = 25_000
    epochs = setup(run, lambda base: make_epochs(base, run.seed, n_epochs, per_epoch, 5_000))
    table = create_transcripts_table(run.spark, os.path.join(run.work, "bulk"), 64)
    with run.phase("epochs"):
        run_epochs(run, table, epochs, 0)
    events = pd.concat([e.events for e in epochs])
    finish_table(run, table, events, 6, 6, random.Random(run.seed))


def trickle_serve(run: Run) -> None:
    """Many small epochs into 16 buckets with auto-compaction live; after
    every commit one point lookup (hot and cold keys in turn), and after
    every second commit a full read of the merge-on-read state.
    Per-commit fixed cost, manifest growth, compaction spikes and
    merge-on-read read amplification dominate."""
    # at least nine commits: auto-compaction (8 deltas per bucket by
    # default) fires inside the loop and the ninth leaves deltas for the
    # final compaction
    n_epochs = max(9, run.seconds // 4)
    per_epoch = 1_000
    epochs = setup(run, lambda base: make_epochs(base, run.seed, n_epochs, per_epoch, 2_000))
    table = create_transcripts_table(run.spark, os.path.join(run.work, "trickle"), 16)
    rng = random.Random(run.seed)

    def serve(i: int, _version: int) -> None:
        oracle = replay_oracle(pd.concat([e.events for e in epochs[: i + 1]]))
        lookup(run, table, lookup_key(oracle, i, rng), oracle)
        if i % 2 == 1:
            snapshot_read(run, table)

    with run.phase("epochs"):
        run_epochs(run, table, epochs, 0, after=serve)
    finish_table(run, table, pd.concat([e.events for e in epochs]), 0, 1, rng)


#: the replica reads state diffs: mode="upserts" replays raw delta rows,
#: so a late or duplicate event that lost LWW in the source (lower op_seq,
#: later commit) overwrites the winner in the replica
REPLICA_MODE = "cdf"
#: each changed bucket is one Python reader partition of the state-diff
#: feed; at 16 buckets a 2,000-event commit took ~17 s to reach the
#: replica on a 4-CPU host, at 4 about 5 s
FEED_BUCKETS = 4


def feed_fanout(run: Run) -> None:
    """A source table with a pre-built backlog; a replica (state-diff mode)
    and a rollup by role tail ``snapshot_cdf`` from version 0 with a zero
    trigger interval. After the backlog drains, each further commit waits
    until both queries' progress reaches its version."""
    from nifi_dicom_spark.streaming.replicate import create_replica_table, replicate_stream
    from nifi_dicom_spark.streaming.rollup import create_rollup_table, rollup_stream

    n_backlog = 3
    n_live = max(1, run.seconds // 30)
    per_epoch = 2_000
    epochs = setup(
        run, lambda base: make_epochs(base, run.seed, n_backlog + n_live, per_epoch, 2_000)
    )
    src = create_transcripts_table(run.spark, os.path.join(run.work, "src"), FEED_BUCKETS)
    with run.phase("backlog"):
        run_epochs(run, src, epochs[:n_backlog], 0)

    replica = create_replica_table(run.spark, os.path.join(run.work, "replica"), src)
    rollup = create_rollup_table(
        run.spark, os.path.join(run.work, "rollup"), src, group_cols=["role"]
    )
    tr = run.tracer
    started, started_wall = time.perf_counter(), time.time()
    with tr.span("streaming.start"):
        queries = {
            "replica": replicate_stream(
                run.spark, src.path, replica, os.path.join(run.work, "ck-replica"),
                starting_version=0, trigger_interval="0 seconds", mode=REPLICA_MODE,
            ),
            "rollup": rollup_stream(
                run.spark, src.path, rollup, os.path.join(run.work, "ck-rollup"),
                group_cols=["role"], starting_version=0, trigger_interval="0 seconds",
            ),
        }
    try:
        with run.phase("backfill"):
            first = wait_for(queries, src.current_version(), started)
        run.add("feed_backfill_s", max(first.values()))
        run.attempted += 1

        def lag(_i: int, version: int) -> None:
            ack = time.perf_counter()
            with tr.span("streaming.wait"):
                got = wait_for(queries, version, ack)
            run.add("mv_lag_s", max(got.values()))
            run.attempted += 1
            for name, t in got.items():
                run.add(f"lag.{name}", t)

        with run.phase("live"):
            run_epochs(run, src, epochs[n_backlog:], n_backlog, after=lag)
        progress = {name: list(q.recentProgress) for name, q in queries.items()}
    finally:
        with run.phase("stop"):
            for q in queries.values():
                q.stop()
    feed_layer(run, progress, started_wall)

    events = pd.concat([e.events for e in epochs])
    source_state = finish_table(run, src, events, 6, 6, random.Random(run.seed))
    rep = replica.read().toPandas()
    check_state(
        run,
        rep[rep["op"] != "delete"],
        source_state,
        "replica differs from the source's final state",
    )
    roll = rollup.read().toPandas()
    roll = roll[roll["op"] != "delete"].set_index("role")["n_rows"].sort_index()
    want = source_state.groupby("role")["conv_id"].count().sort_index()
    run.check(
        roll.astype("int64").to_dict() == want.astype("int64").to_dict(),
        "rollup counts differ from a group-by of the source",
    )


def progress_version(p) -> int | None:
    """Source end version of one progress record (None before any)."""
    src = p["sources"][0] if p and p["sources"] else None
    if not src or src["endOffset"] is None:
        return None
    # the offset is the source's {"version": v}, rendered as text
    m = re.search(r"version\D*(\d+)", str(src["endOffset"]))
    return int(m.group(1)) if m else None


def wait_for(queries: dict, version: int, since: float, timeout: float = 120.0):
    """Poll until every query's progress reaches ``version``; returns the
    seconds each took, counted from ``since``."""
    done: dict[str, float] = {}
    while len(done) < len(queries):
        for name, q in queries.items():
            if name in done:
                continue
            if q.exception() is not None:
                raise RuntimeError(f"{name} query failed: {q.exception()}")
            v = progress_version(q.lastProgress)
            if v is not None and v >= version:
                done[name] = time.perf_counter() - since
        if time.perf_counter() - since > timeout:
            raise TimeoutError(f"feed did not reach version {version}")
        time.sleep(0.01)
    return done


def feed_layer(run: Run, progress: dict, started_wall: float) -> None:
    if not run.tracer.enabled:
        return
    L = run.layer
    batch_ms, rows, batches = [], 0, 0
    for name, recs in progress.items():
        busy = [p for p in recs if p["numInputRows"] > 0]
        batches += len(busy)
        rows += sum(p["numInputRows"] for p in busy)
        batch_ms += [p["durationMs"]["triggerExecution"] for p in busy]
        L[f"streaming.add_batch_ms.{name}"] = float(
            np.median([p["durationMs"].get("addBatch", 0) for p in busy] or [0])
        )
        L[f"streaming.lag_s.{name}"] = float(np.median(run.samples.get(f"lag.{name}", [0])))
    L["sources.feed_batch_ms"] = float(np.median(batch_ms or [0]))
    L["sources.feed_rows"] = rows
    L["streaming.batches"] = batches
    firsts = [
        pd.Timestamp(recs[0]["timestamp"]).timestamp() for recs in progress.values() if recs
    ]
    # a record's timestamp is when its trigger started: the first one is
    # when each query began its first batch
    L["streaming.startup_s"] = max(firsts) - started_wall if firsts else 0.0


WORKLOADS = {
    "bulk_replay": bulk_replay,
    "trickle_serve": trickle_serve,
    "feed_fanout": feed_fanout,
}
