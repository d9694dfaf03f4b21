"""The benchmark's workloads: `trickle` (CDC stream + readers) and `corpus`
(training-data dedup).  Each runs as a closed loop: the next operation
starts only after the previous one committed or returned.

Every workload reports the same end-to-end metrics (see README.md):
  setup_s         median wall of one set-up (session start + object construction)
  records_per_s   input records per second of operation wall
  main_op_p50_s   median wall of the main operation
  side_op_p50_s   median wall of the side operation
and, with tracing on, the per-layer metrics of `PER_LAYER`.  Warm-up
operations run after the set-ups, on the measured session, and are timed
as the per-layer `session.warmup_s`.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time

import numpy as np

from perfbench import inputs, oracles, replay
from perfbench.trace import (
    EventLogFold,
    Spans,
    is_exchange,
    is_python_udf,
    is_reducer,
    is_scan,
    is_wal_scan,
    read_event_log,
)

N_SETUPS = 5  # set-ups per run; setup_s is their median

END_TO_END = {
    "setup_s": "s",
    "records_per_s": "1/s",
    "main_op_p50_s": "s",
    "side_op_p50_s": "s",
}

#: per-layer metric -> unit; a layer the workload does not call reads 0
PER_LAYER = {
    "wal.rows_read": "count",
    "wal.scan_task_s": "s",
    "validate.quarantined": "count",
    "engine.exchange_bytes": "bytes",
    "engine.jobs_per_epoch": "count",
    "engine.tasks_per_epoch": "count",
    "engine.prepare_s": "s",
    "engine.driver_gap_s": "s",
    "engine.epoch_residual_s": "s",
    "engine.epoch_p50_s": "s",
    "dedup.rows_in": "count",
    "dedup.rows_out": "count",
    "dedup.kept_share": "ratio",
    "dedup.task_s": "s",
    "normalize.rows": "count",
    "normalize.python_s": "s",
    "normalize.non_ascii_share": "ratio",
    "parquet_state.apply_s": "s",
    "parquet_state.delta_write_s": "s",
    "parquet_state.compaction_s": "s",
    "parquet_state.compaction_bytes": "bytes",
    "parquet_state.quarantine_write_s": "s",
    "parquet_state.commit_s": "s",
    "parquet_state.epoch_applied_s": "s",
    "parquet_state.manifest_bytes": "bytes",
    "parquet_state.write_amp": "ratio",
    "parquet_state.changelog_p50_s": "s",
    "parquet_state.changelog_rows_scanned": "ratio",
    "parquet_state.changelog_shuffle_bytes": "bytes",
    "parquet_state.lookup_p50_s": "s",
    "parquet_state.lookup_rows_scanned": "ratio",
    "parquet_state.lookup_files": "count",
    "stream.overhead_s": "s",
    "text_dedup.pairs_s": "s",
    "text_dedup.keepers_s": "s",
    "text_dedup.verified": "count",
    "text_dedup.components": "count",
    "similarity.pairs_s": "s",
    "similarity.candidates": "count",
    "similarity.pairs": "count",
    "similarity.max_bucket_rows": "count",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.spill_bytes": "bytes",
    "process.peak_rss_mb": "MB",
    "traced.records_per_s": "1/s",
    "traced.main_op_p50_s": "s",
    "traced.side_op_p50_s": "s",
}


class CheckFailed(AssertionError):
    """The program's output differs from the independent computation."""


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """State shared by a workload run: arguments, scratch dirs, spans, session."""

    def __init__(self, args, scratch: str, cores: int, t_process: float):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.scratch = scratch
        self.cores = cores
        self.t_process = t_process
        self.spans = Spans()
        self.spark = None
        self.setup_samples: list[float] = []
        self.notes: list[str] = []
        self.ops: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.layer = {k: 0.0 for k in PER_LAYER}
        self.eventlog = os.path.join(scratch, "eventlog")

    # ---- session -----------------------------------------------------------

    def start_session(self):
        from nifi_daffodil_spark.session import build_session

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.scratch, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.path.join(self.scratch, "tmp"),
        }
        if self.trace:
            os.makedirs(self.eventlog, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = build_session(app_name="perfbench", cores=self.cores, extra_conf=conf)
        self.spans.sc = self.spark.sparkContext if self.trace else None
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spans.sc = None
            self.spark.stop()
            self.spark = None

    def peak_rss_mb(self) -> float:
        """Peak RSS of this process plus the driver JVM (KiB -> MB)."""
        import resource

        kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        try:
            pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
            with open(f"/proc/{pid}/status") as f:
                kib += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration, AttributeError):
            pass
        return kib / 1024.0

    # ---- set-up samples ------------------------------------------------------

    def timed_setup(self, k: int, t_inputs: float, body) -> None:
        """Set-up `k`: start (or restart) the session and build the
        workload's objects with `body()`.  Sample 0 counts from process
        start (minus the benchmark's own input preparation), so it includes
        interpreter start, imports and the JVM launch; later samples restart
        the session in the running JVM."""
        t0 = time.time()
        self.stop_session()
        with self.spans.span("setup", k=k):
            with self.spans.span("session.start"):
                self.start_session()
            body()
        end = time.time()
        self.setup_samples.append(end - self.t_process - t_inputs if k == 0 else end - t0)

    def record(self, kind: str, seconds: float) -> None:
        self.ops.setdefault(kind, []).append(seconds)
        self.attempted += 1

    def setup_layer_metrics(self) -> None:
        self.layer["session.start_s"] = _median(self.spans.durations("session.start"))
        self.layer["session.warmup_s"] = sum(self.spans.durations("session.warmup"))

    def fold(self) -> EventLogFold:
        return EventLogFold(read_event_log(self.eventlog))

    def groups(self, spans: list[dict]) -> set[str]:
        """Job groups of `spans` and all their descendants."""
        ids = {s["id"] for s in spans}
        grew = True
        while grew:
            more = {s["id"] for s in self.spans.items if s["parent"] in ids} - ids
            ids |= more
            grew = bool(more)
        return {f"pb{i}" for i in ids}


# ---------------------------------------------------------------------------
# trickle: WAL segments trickle in; a consumer reads after every commit
# ---------------------------------------------------------------------------

SEG_EVENTS = 2000  # events per WAL segment
WARM_CYCLES = 2  # micro-batches (with their reads) run before measuring
MAX_DELTAS = 2  # sink's level-0 chain bound: a bucket compacts every 3rd epoch
ROUND_CYCLES = MAX_DELTAS + 1  # measured micro-batches per round: one L0->L1 compaction each
PAIRS = 24  # segment pairs (one v0 + one v1 file) available per run
N_CONVS = 200


def trickle_spec(seed: int):
    from nifi_daffodil_spark.fixtures.walgen import WalSpec

    return WalSpec(
        n_events=SEG_EVENTS * 2 * PAIRS,
        n_convs=N_CONVS,
        turns_per_conv=40,
        n_segments=2 * PAIRS,
        seed=seed,
        hot_frac=0.2,
        p_delete=0.05,
        p_bad=0.02,
        p_late=0.02,
        p_overlong=0.005,
        evolve_at=0.5,
        text_len=600,
    )


class TrickleTable:
    """One table fed by one streaming query, with its replay and timings."""

    def __init__(self, run: Run, name: str, pairs, lookup_convs):
        from nifi_daffodil_spark.engine import CdcEngine
        from nifi_daffodil_spark.sinks.parquet_state import ParquetStateSink

        self.run = run
        self.pairs = pairs
        self.lookup_convs = lookup_convs
        base = os.path.join(run.scratch, name)
        self.table = os.path.join(base, "table")
        self.wal = os.path.join(base, "wal")
        self.ckpt = os.path.join(base, "checkpoint")
        for v in ("v0", "v1", ".staging"):
            os.makedirs(os.path.join(self.wal, v), exist_ok=True)
        self.sink = ParquetStateSink(run.spark, self.table, 32, max_deltas=MAX_DELTAS)
        self.engine = CdcEngine(run.spark, self.sink)
        if run.trace:
            run.spans.wrap(self.sink, "apply_batch", "apply_batch")
            run.spans.wrap(self.sink, "epoch_applied", "epoch_applied")
        self._process_batch = self.engine.process_batch
        self.engine.process_batch = self._on_batch  # the stream's foreachBatch calls this
        self.state = replay.ReplayState()
        self.delivered_bytes = 0
        self.warm = threading.Event()
        self.done = threading.Event()
        self.error: BaseException | None = None
        self.t_measure = None
        self.last_epoch = -1
        self.epoch_ends: list[float] = []
        self.tails: list[float] = []  # consumer + check + delivery time per cycle
        self.callbacks: dict[int, float] = {}
        self.events: list[int] = []
        self.stats: dict[int, object] = {}
        self.non_ascii: list[float] = []
        self.read_rows: dict[str, list[int]] = {"changelog": [], "lookup": []}
        self.query = None

    def deliver(self, i: int) -> None:
        """Producer: append pair `i` to the tailed WAL dirs (atomic renames)."""
        for path, version in self.pairs[i]:
            tmp = os.path.join(self.wal, ".staging", os.path.basename(path))
            shutil.copyfile(path, tmp)
            os.rename(tmp, os.path.join(self.wal, version, os.path.basename(path)))
            self.delivered_bytes += os.path.getsize(path)

    def start(self) -> None:
        self.deliver(0)
        self.query = self.engine.run_stream(self.wal, self.ckpt, available_now=False, max_files_per_trigger=1)

    def wait(self, event: threading.Event, timeout: float) -> None:
        deadline = time.monotonic() + timeout
        while not event.wait(0.2):
            if self.error is not None:
                raise self.error
            if not self.query.isActive:
                raise RuntimeError(f"stream stopped: {self.query.exception()}")
            if time.monotonic() > deadline:
                raise TimeoutError("stream made no progress")
        if self.error is not None:
            raise self.error

    def _on_batch(self, df, epoch_id):
        try:
            self._cycle(df, int(epoch_id))
        except BaseException as e:
            self.error = e
            self.done.set()
            self.warm.set()
            raise

    def _cycle(self, df, i: int) -> None:
        run, spans = self.run, self.run.spans
        t_cb = time.time()
        with spans.span("epoch", epoch=i):
            st = self._process_batch(df, i)
        t_epoch_end = time.time()
        with spans.span("changelog", epoch=i) as sp_changelog:
            changes = self.sink.read_changelog(i - 1, i).collect()
        conv = self.lookup_convs[i]
        with spans.span("lookup", epoch=i) as sp_lookup:
            turns = self.sink.read_conversation(conv).collect()
        self.check(i, st, changes, turns, conv)
        self.stats[i] = st
        measuring = self.t_measure is not None
        if measuring:
            run.record("epoch", t_epoch_end - t_cb)
            run.record("changelog", sp_changelog["end"] - sp_changelog["start"])
            run.record("lookup", sp_lookup["end"] - sp_lookup["start"])
            self.epoch_ends.append(t_epoch_end)
            self.read_rows["changelog"].append(len(changes))
            self.read_rows["lookup"].append(len(turns))
            self.events.append(int(st.extra.get("raw_events", 0)))
            self.last_epoch = i
        if not measuring:
            self.deliver(i + 1)
            if i + 1 >= WARM_CYCLES:
                self.t_measure = time.time()
                self.warm.set()
            self.callbacks[i] = time.time() - t_cb
            return
        n = len(self.epoch_ends)
        last_round = (len(self.pairs) - WARM_CYCLES) // ROUND_CYCLES * ROUND_CYCLES
        if n % ROUND_CYCLES == 0 and (time.time() - self.t_measure >= run.seconds or n >= last_round):
            self.callbacks[i] = time.time() - t_cb
            self.done.set()
            return
        self.deliver(i + 1)
        self.tails.append(time.time() - t_epoch_end)
        self.callbacks[i] = time.time() - t_cb

    def check(self, i, st, changes, turns, conv) -> None:
        batch = replay.load_rows([p for p, _ in self.pairs[i]])
        before_q = self.state.quarantined
        want = self.state.apply(batch)
        got = {(r["conv_id"], int(r["turn_idx"])): r["change"] for r in changes}
        if got != want:
            diff = sorted(set(got.items()) ^ set(want.items()))[:5]
            raise CheckFailed(f"epoch {i}: changelog differs from the replay: {diff}")
        if st.rows_quarantined != self.state.quarantined - before_q:
            raise CheckFailed(f"epoch {i}: {st.rows_quarantined} quarantined, replay says "
                              f"{self.state.quarantined - before_q}")
        if st.rows_in != len(self.state.last_winners):
            raise CheckFailed(f"epoch {i}: batch kept {st.rows_in} rows, replay {len(self.state.last_winners)}")
        if replay.spark_rows(turns) != self.state.visible(conv):
            raise CheckFailed(f"epoch {i}: lookup of {conv} differs from the replay")
        texts = [t for t in self.state.last_winners["text"] if t is not None]
        self.non_ascii.append(sum(not t.isascii() for t in texts) / max(len(texts), 1))

    def final_check(self) -> None:
        got = replay.spark_rows(self.sink.read_transcripts().collect())
        want = self.state.visible()
        if got != want:
            bad = next((g, w) for g, w in zip(got + [None] * len(want), want + [None] * len(got)) if g != w)
            raise CheckFailed(f"final table differs from the replay ({len(got)} vs {len(want)} rows), first: {bad}")
        n_q = self.sink.read_quarantine().count()
        if n_q != self.state.quarantined:
            raise CheckFailed(f"{n_q} quarantined rows, replay says {self.state.quarantined}")

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None


def wait_committed(tab: TrickleTable) -> dict:
    """Let the stream commit the last batch's offsets; returns each batch's
    query-progress `triggerExecution` wall (s)."""
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        p = tab.query.lastProgress
        if p is not None and p["batchId"] >= tab.last_epoch:
            break
        time.sleep(0.05)
    return {p["batchId"]: p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in tab.query.recentProgress}


def trickle_inputs(seed: int, wal_segments) -> tuple[list, list[str]]:
    """Segment pairs (v0 segment i, v1 segment PAIRS+i) and the lookup sequence."""
    v0 = [s for s in wal_segments if s[1] == "v0"]
    v1 = [s for s in wal_segments if s[1] == "v1"]
    rng = np.random.default_rng(seed + 7)
    return list(zip(v0, v1)), [f"conv-{int(c):05d}" for c in rng.integers(0, N_CONVS, size=len(v0))]


def run_trickle(run: Run, t_inputs: float, wal_segments, corpus_data: str | None = None) -> dict:
    pairs, lookup_convs = trickle_inputs(run.seed, wal_segments)

    tables: list[TrickleTable] = []
    for k in range(N_SETUPS):
        if tables:
            shutil.rmtree(os.path.join(run.scratch, f"setup{k - 1}"), ignore_errors=True)
        run.timed_setup(k, t_inputs, lambda k=k: tables.append(
            TrickleTable(run, f"setup{k}", pairs, lookup_convs)))
    tab = tables[-1]
    # warm-up: the stream's first micro-batches and their reads, outside setup_s
    with run.spans.span("session.warmup"):
        tab.start()
        tab.wait(tab.warm, 170)
    tab.wait(tab.done, max(170.0, 4 * run.seconds))
    progress = wait_committed(tab)
    tab.stop()
    tab.final_check()

    epochs = run.ops.get("epoch", [])
    reads = [a + b for a, b in zip(run.ops.get("changelog", []), run.ops.get("lookup", []))]
    wall = tab.epoch_ends[-1] - tab.t_measure - sum(tab.tails[: len(epochs) - 1])
    metrics = {
        "records_per_s": sum(tab.events) / wall,
        "main_op_p50_s": _median(epochs),
        "side_op_p50_s": _median(reads),
    }
    run.notes.append(f"trickle: {len(epochs)} micro-batches of {2 * SEG_EVENTS} events, "
                     f"{sum(tab.events)} events in {wall:.3f} s of ingest wall")
    if run.trace:
        ctx = trickle_collect(run, tab, progress)
        own = [s for s in run.spans.items if s["parent"] is None and s["start"] >= tab.t_measure]
        corpus_probe(run, corpus_data)
        finish_trace(run, ctx, own)
    return metrics


def trickle_collect(run: Run, tab: TrickleTable, progress: dict) -> dict:
    """Trickle's layer figures that need no event log; returns what
    `trickle_fold` needs once the log is flushed."""
    L = run.layer
    after = [s for s in run.spans.items if s["parent"] is None and s["start"] >= tab.t_measure]
    epochs = [s for s in after if s["name"] == "epoch"]
    reads = {k: [s for s in after if s["name"] == k] for k in ("changelog", "lookup")}
    n = len(epochs)
    L["engine.epoch_p50_s"] = _median([s["end"] - s["start"] for s in epochs])
    for k in reads:
        L[f"parquet_state.{k}_p50_s"] = _median([s["end"] - s["start"] for s in reads[k]])
    ids = [s["epoch"] for s in epochs]
    stats = [tab.stats[i] for i in ids]
    L["validate.quarantined"] = sum(st.rows_quarantined for st in stats) / n
    rows_in = sum(int(st.extra.get("raw_events", 0)) - st.rows_quarantined for st in stats)
    rows_out = sum(st.rows_in for st in stats)
    L["dedup.rows_in"] = rows_in / n
    L["dedup.rows_out"] = rows_out / n
    L["dedup.kept_share"] = rows_out / max(rows_in, 1)
    L["normalize.non_ascii_share"] = _median(tab.non_ascii[-n:])
    L["stream.overhead_s"] = _median(
        [progress[i] - tab.callbacks[i] for i in ids if i in progress and i in tab.callbacks]
    )
    data = os.path.join(tab.table, "data")
    L["parquet_state.manifest_bytes"] = os.path.getsize(os.path.join(tab.table, "manifest.json"))
    L["parquet_state.write_amp"] = inputs.tree_bytes(data, ".parquet") / tab.delivered_bytes
    L["parquet_state.compaction_bytes"] = sum(
        inputs.tree_bytes(os.path.join(data, d), ".parquet")
        for d in os.listdir(data)
        if d.startswith(("run-", "snap-"))
    ) / n
    return {"epochs": epochs, "reads": reads, "read_rows": tab.read_rows}


def trickle_fold(run: Run, fold: EventLogFold, ctx: dict) -> None:
    """Trickle's layer figures from the event log, per measured micro-batch."""
    L, spans = run.layer, run.spans
    epochs = ctx["epochs"]
    n = len(epochs)
    epoch_ids = {e["id"] for e in epochs}
    eg = run.groups(epochs)
    L["wal.rows_read"] = fold.sql_metric(eg, is_wal_scan, "number of output rows") / n
    L["wal.scan_task_s"] = fold.codegen_duration_over(eg, is_wal_scan) / n
    L["engine.exchange_bytes"] = fold.sql_metric(
        eg, lambda nd: is_exchange(nd) and "ArrowEvalPython" in nd["ancestors"], "shuffle bytes written"
    ) / n
    L["engine.jobs_per_epoch"] = len(fold.groups_jobs(eg)) / n
    L["engine.tasks_per_epoch"] = fold.task_totals(eg).get("tasks", 0.0) / n
    L["dedup.task_s"] = (
        fold.sql_metric(eg, is_reducer, "sort time") + fold.sql_metric(eg, is_reducer, "time in aggregation build")
    ) / 1000.0 / n
    L["normalize.rows"] = fold.sql_metric(eg, is_python_udf, "number of output rows") / n
    L["normalize.python_s"] = fold.sql_metric(eg, is_python_udf, "time to run Python workers") / 1000.0 / n
    if abs(L["normalize.rows"] - L["dedup.rows_out"]) > 1e-6:
        run.notes.append(f"normalize.rows {L['normalize.rows']} != dedup.rows_out {L['dedup.rows_out']}")
    applies = [s for s in spans.items if s["name"] == "apply_batch" and s["parent"] in epoch_ids]
    ag = run.groups(applies)
    L["parquet_state.apply_s"] = _median([s["end"] - s["start"] for s in applies])
    L["parquet_state.delta_write_s"] = fold.write_seconds(ag, "delta") / n
    L["parquet_state.compaction_s"] = fold.write_seconds(ag, "compaction") / n
    L["parquet_state.quarantine_write_s"] = fold.write_seconds(ag, "quarantine") / n
    L["parquet_state.commit_s"] = _median(
        [(s["end"] - s["start"]) - fold.busy_by_kind(run.groups([s]), s["start"], s["end"]).get("all", 0.0)
         for s in applies]
    )
    L["parquet_state.epoch_applied_s"] = _median(
        [s["end"] - s["start"] for s in spans.items if s["name"] == "epoch_applied" and s["parent"] in epoch_ids]
    )
    gaps, residuals, prepare = [], [], []
    for e in epochs:
        wall = e["end"] - e["start"]
        busy = fold.busy_by_kind(run.groups([e]), e["start"], e["end"])
        gap = wall - busy.get("all", 0.0)
        layers = sum(busy.get(k, 0.0) for k in ("prepare", "delta", "compaction", "quarantine"))
        gaps.append(gap)
        prepare.append(busy.get("prepare", 0.0))
        residuals.append(wall - layers - gap)
    L["engine.driver_gap_s"] = _median(gaps)
    L["engine.prepare_s"] = _median(prepare)
    L["engine.epoch_residual_s"] = _median(residuals)
    reads, read_rows = ctx["reads"], ctx["read_rows"]
    for kind in ("changelog", "lookup"):
        scanned = fold.sql_metric(run.groups(reads[kind]), is_scan, "number of output rows")
        L[f"parquet_state.{kind}_rows_scanned"] = scanned / max(sum(read_rows[kind]), 1)
    n_reads = max(len(reads["lookup"]), 1)
    L["parquet_state.lookup_files"] = fold.sql_metric(run.groups(reads["lookup"]), is_scan, "number of files read") / n_reads
    L["parquet_state.changelog_shuffle_bytes"] = (
        fold.task_totals(run.groups(reads["changelog"])).get("shuffle_write_bytes", 0.0) / n_reads
    )


def trickle_probe(run: Run, pairs, lookup_convs) -> dict:
    """The trickle loop on the current session (one round after its warm-up
    micro-batches), for the CDC layer figures of a corpus traced run."""
    tab = TrickleTable(run, "probe", pairs, lookup_convs)
    tab.start()
    tab.wait(tab.warm, 170)
    tab.wait(tab.done, 170)
    progress = wait_committed(tab)
    tab.stop()
    tab.final_check()
    return trickle_collect(run, tab, progress)


def finish_trace(run: Run, ctx: dict, own: list[dict]) -> None:
    """Flush the event log and fold it: CDC layers from `ctx`, executor
    totals over the workload's own measured spans `own`."""
    run.setup_layer_metrics()
    run.layer["process.peak_rss_mb"] = run.peak_rss_mb()
    run.stop_session()  # flushes the event log
    fold = run.fold()
    trickle_fold(run, fold, ctx)
    tot = fold.task_totals(run.groups(own))
    cycles = max(1, sum(1 for s in own if s["name"] in ("epoch", "dedup")))
    run.layer["executor.cpu_s"] = tot.get("cpu_s", 0.0) / cycles
    run.layer["executor.gc_s"] = tot.get("gc_s", 0.0) / cycles
    run.layer["executor.spill_bytes"] = tot.get("spill_bytes", 0.0) / cycles


# ---------------------------------------------------------------------------
# corpus: cold MinHash and SRP dedup passes over a fixed corpus
# ---------------------------------------------------------------------------

CORPUS = inputs.CorpusSpec(n_docs=2500, n_vecs=1000)  # half the sf0.1 tables


def run_corpus(run: Run, t_inputs: float, data_dir: str, want: dict, wal_segments=None) -> dict:
    from nifi_daffodil_spark.plans import driver_queries as dq

    passes = (("dedup", "dedup_corpus", dq.q_dedup_corpus, CORPUS.n_docs),
              ("semantic", "dedup_semantic", dq.q_dedup_semantic, CORPUS.n_vecs))

    for k in range(N_SETUPS):
        run.timed_setup(k, t_inputs, lambda: None)
    # warm-up: one untimed round on the same corpus, outside setup_s
    with run.spans.span("session.warmup"):
        for _, _, q, _ in passes:
            q(run.spark, data_dir).collect()
    n_setup_spans = len(run.spans.items)
    t0 = time.time()
    records, busy = 0, 0.0
    while True:
        for kind, name, q, n_rows in passes:
            with run.spans.span(kind) as sp:
                rows = q(run.spark, data_dir).collect()
            dt = sp["end"] - sp["start"]
            run.record(kind, dt)
            records += n_rows
            busy += dt
            if oracles.canon(name, rows) != want[name]:
                raise CheckFailed(f"{name}: result differs from the DuckDB oracle")
        if time.time() - t0 >= run.seconds:
            break
    metrics = {
        "records_per_s": records / busy,
        "main_op_p50_s": _median(run.ops["dedup"]),
        "side_op_p50_s": _median(run.ops["semantic"]),
    }
    if run.trace:
        own = [s for s in run.spans.items[n_setup_spans:] if s["parent"] is None]
        corpus_probe(run, data_dir)
        ctx = trickle_probe(run, *trickle_inputs(run.seed, wal_segments))
        finish_trace(run, ctx, own)
    return metrics


def corpus_probe(run: Run, data_dir: str) -> None:
    """Time the dedup operators one at a time, materializing each output."""
    import pyarrow.parquet as pq

    from nifi_daffodil_spark.operators.similarity import as_double_vecs, srp_coefficients, srp_lsh_pairs
    from nifi_daffodil_spark.operators.text_dedup import minhash_lsh_pairs, resolve_keepers
    from nifi_daffodil_spark.plans import driver_queries as dq

    L, spark, spans = run.layer, run.spark, run.spans
    docs = spark.read.parquet(os.path.join(data_dir, "documents.parquet"))
    with spans.span("text_dedup.pairs") as sp:
        pairs = minhash_lsh_pairs(
            docs, "doc_id", "text", n_hashes=dq.N_MINHASH, rows_per_band=1,
            threshold=dq.JACCARD_T, max_bucket_size=dq.MAX_MINHASH_BUCKET,
        ).select("d1", "d2").collect()
    L["text_dedup.pairs_s"] = sp["end"] - sp["start"]
    L["text_dedup.verified"] = len(pairs)
    pdf = spark.createDataFrame([(int(a), int(b)) for a, b in pairs], "d1 long, d2 long")
    with spans.span("text_dedup.keepers") as sp:
        kept = resolve_keepers(pdf).collect()
    L["text_dedup.keepers_s"] = sp["end"] - sp["start"]
    L["text_dedup.components"] = len({r["component"] for r in kept})
    emb = spark.read.parquet(os.path.join(data_dir, "embeddings.parquet"))
    with spans.span("similarity.pairs") as sp:
        sims = srp_lsh_pairs(
            as_double_vecs(emb), dim=64, n_bands=dq.N_SRP_BANDS,
            rows_per_band=dq.SRP_ROWS_PER_BAND, min_cos=dq.SEMDEDUP_T,
        ).collect()
    L["similarity.pairs_s"] = sp["end"] - sp["start"]
    L["similarity.pairs"] = len(sims)
    # bucket shapes the SRP kernel faces, from its public coefficients
    vecs = np.stack(pq.read_table(os.path.join(data_dir, "embeddings.parquet")).column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    r = dq.SRP_ROWS_PER_BAND
    bits = (vecs @ np.array(srp_coefficients(dq.N_SRP_BANDS * r, 64)).T >= 0).astype(np.int64)
    cand: set[int] = set()
    biggest = 0
    n = len(vecs)
    for b in range(dq.N_SRP_BANDS):
        keys = (bits[:, b * r:(b + 1) * r] << np.arange(r)).sum(axis=1)
        for key in np.unique(keys):
            members = np.flatnonzero(keys == key)
            biggest = max(biggest, len(members))
            i, j = np.triu_indices(len(members), 1)
            cand.update((members[i] * n + members[j]).tolist())
    L["similarity.candidates"] = len(cand)
    L["similarity.max_bucket_rows"] = biggest
