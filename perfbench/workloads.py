"""One benchmark run of one workload, in its own process.

``perfbench/run.py`` starts this module with the run's scratch root,
environment and start time; it sets the workload up, measures it,
checks its outputs and writes ``result.json`` into the scratch root.

Workloads (inputs are generated from ``--seed``; the gate inputs are the
fixed tables under ``perfbench/data``):

- ``pubsub_smoke``: closed-loop produce then drain of 500-event cycles
  at the reference smoke shape (16 metadata fields, 128 B payloads,
  producer batch 8, flush every 10, 4 partitions; consumer data
  selector with selectivity 0.5 and proportion 0.8, feed batch 32).
  No Spark session.
- ``stream_live``: an open-loop producer pushes 1000 events/s (2
  partitions, 256 B payloads, flush every 50) while a Structured
  Streaming query (1 s trigger, 2 shuffle partitions) reads the topic
  through the custom ``mofka`` source into a keyed aggregate.
- ``gates``: registered gates at sf0.1 in a fixed order, after one
  warm-up pass, without any cache or persisted-RDD sweep in between.

End-to-end metrics (every workload reports all of them):

==================  ==============================  ==========================  ===========================
metric              pubsub_smoke                    stream_live                 gates
==================  ==============================  ==========================  ===========================
setup_s             process start -> workload ready (incl. warm-up and, for Spark workloads, session start)
latency_p50_ms      ``Producer.flush()`` barrier    delivery: due time -> end   per-gate median time,
                                                    of the covering micro-batch median over gates
latency_tail_ms     flush p98                       delivery p99                slowest gate's median
unit_work_s         produce + drain of one cycle    micro-batch duration        sum of per-gate medians
                    (median over cycles)            (median, non-empty epochs)
==================  ==============================  ==========================  ===========================

The peak resident set of the driver Python and its JVM (sampled by
run.py) is printed with every run and reported as the per-layer metric
``process.peak_rss_mb``: it moves with JVM garbage-collection timing by
more than any end-to-end bound allows.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import tempfile
import time

from mofka_spark.functions.views import DataDescriptor
from perfbench import tracing
from perfbench.digests import digest

HERE = os.path.dirname(os.path.abspath(__file__))
NPROC = len(os.sched_getaffinity(0))


SMOKE = {
    "events": 500, "partitions": 4, "fields": 16, "payload": 128,
    "batch": 8, "flush_every": 10, "selectivity": 0.5, "proportion": 0.8,
    "feed_batch": 32, "min_flushes": 500, "tail_q": 0.98, "warm_cycles": 8,
}
# The query's stateful stage is as wide as the topic (2 tasks) and its
# trigger fires every second, so the query leaves the producer and the
# JVM headroom on a 4-core box. At 8 shuffle partitions and a 100 ms
# trigger the query runs back to back on 3.3 of 4 cores, and its
# delivery latency follows the host's CPU steal by up to 30% between
# runs.
LIVE = {
    "rate": 1000, "partitions": 2, "payload": 256, "flush_every": 50,
    "keys": 64, "feed_batch": 4000, "trigger": "1 second",
    "warm_s": 5,
}
STREAM_GATES = ("streaming_robots_store",)
BATCH_GATES = ("label_propagation", "quality_blend")
GATE_DATA = os.path.join(HERE, "data")

OPERATOR_GROUPS = ("stream_gates", "batch_gates")

# Named end-to-end metrics of each workload (printed, and reported as
# e2e.* in a traced run). Units live in BENCHMARK.json.
NAMED = (
    "produce_events_per_s", "consume_events_per_s", "flush_ms_p50",
    "flush_ms_p98", "delivery_ms_p50", "delivery_ms_p99", "send_lag_ms_p99",
    "stream_gates_s", "batch_gates_s", "failed_fraction",
)


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, in a fixed order."""
    names = ["process.peak_rss_mb", "session.start_ms"]
    for call in ("push", "flush", "pull"):
        names += [f"client.{call}.calls", f"client.{call}.self_ms"]
    names.append("client.rejected_events")
    names += [f"functions.{f}.ms" for f in (
        "validate", "select_partition", "serialize", "deserialize",
        "data_select")]
    names += [
        "log.append_rows.calls", "log.append_rows.ms",
        "log.events_per_append", "log.files_per_1k_events",
        "log.bytes_per_event", "log.fetch_rows.calls", "log.fetch_rows.ms",
        "log.fetch_rows.fill_ratio", "log.quarantined_files",
    ]
    names += [
        "streaming.epochs", "streaming.nonempty_epoch_fraction",
        "streaming.rows_per_epoch",
    ]
    names += [f"streaming.{ph}_ms" for ph in tracing.PHASES]
    names.append("streaming.backlog_events_max")
    for g in OPERATOR_GROUPS:
        names += [f"operators.{g}.{f}" for f in tracing.OPERATOR_FIELDS]
        names.append(f"operators.{g}.persisted_rdds_left")
    names += [f"gate.{g}.s" for g in STREAM_GATES + BATCH_GATES]
    names.append("trace.accounted_fraction")
    names += [f"trace.overhead.{m}" for m in
              ("setup_s", "latency_p50_ms", "latency_tail_ms", "unit_work_s")]
    names += [f"e2e.{m}" for m in NAMED]
    return names


class Outcome:
    """Operations attempted and failed; a failed output check counts as
    a failed operation."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def op(self, ok: bool = True, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def check(self, name: str, ok: bool) -> None:
        self.op(ok, f"check failed: {name}")


def session_conf(scratch: str, event_log: str | None = None) -> dict[str, str]:
    """Session settings of the benchmark: bench.py's shuffle width, and
    every file Spark writes kept under the run's scratch root."""
    tmp = os.path.join(scratch, "tmp")
    conf = {
        "spark.sql.shuffle.partitions": str(max(8, NPROC)),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.local.dir": os.path.join(scratch, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={scratch}",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            # zstd is Spark's default codec and zstandard is not present
            "spark.eventLog.compress": "false",
        })
    return conf


def start_spark(ctx, event_log: str | None = None):
    from mofka_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{ctx.workload}",
        master=f"local[{NPROC}]",
        conf=session_conf(ctx.scratch, event_log),
    )
    ctx.session_start_ms = (time.perf_counter() - t) * 1e3
    spark.sparkContext.setLogLevel("ERROR")
    ctx.default_parallelism = spark.sparkContext.defaultParallelism
    return spark


def _trace_producer(tracer, producer) -> None:
    tracer.wrap_method(producer._validator, "validate", "functions.validate")
    tracer.wrap_method(producer._selector, "select", "functions.select_partition")
    tracer.wrap_method(producer._serializer, "serialize", "functions.serialize")


def _trace_log(tracer, log, partitions: int) -> None:
    append = tracer.wrap("log.append_rows", log.append_rows)
    fetch = tracer.wrap("log.fetch_rows", log.fetch_rows)

    def append_rows(rows, *a, **kw):
        tracer.count("log.append_rows.events", len(rows))
        return append(rows, *a, **kw)

    def fetch_rows(cursors, batch_size, partitions_=None):
        out = fetch(cursors, batch_size, partitions_)
        asked = len(partitions_) if partitions_ is not None else partitions
        tracer.count("log.fetch_rows.requested", batch_size * asked)
        tracer.count("log.fetch_rows.returned", len(out))
        return out

    log.append_rows = append_rows
    log.fetch_rows = fetch_rows


def _log_files(data_path: str) -> tuple[int, int, int]:
    """(parquet files, their bytes, quarantined files) under a log."""
    files = size = quarantined = 0
    for d, _dirs, fs in os.walk(data_path):
        for f in fs:
            if f.endswith(".corrupt"):
                quarantined += 1
            elif f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size, quarantined


def _client_layer(tracer, events: int, wall_s: float | None) -> dict[str, float]:
    """client/functions/log per-layer metrics from a tracer; with the
    wall time of the traced loops, also the share of it the main
    thread spent inside traced calls."""
    summary = tracing.summarize_spans(tracer.spans)
    out: dict[str, float] = {}

    def get(name, key):
        return float(summary.get(name, {}).get(key, 0.0))

    for call in ("push", "flush", "pull"):
        out[f"client.{call}.calls"] = get(f"client.{call}", "calls")
        out[f"client.{call}.self_ms"] = get(f"client.{call}", "self_ms")
    for f in ("validate", "select_partition", "serialize", "deserialize",
              "data_select"):
        out[f"functions.{f}.ms"] = get(f"functions.{f}", "ms")
    appends = get("log.append_rows", "calls")
    out["log.append_rows.calls"] = appends
    out["log.append_rows.ms"] = get("log.append_rows", "ms")
    out["log.events_per_append"] = (
        tracer.counters.get("log.append_rows.events", 0) / appends
        if appends else 0.0
    )
    out["log.fetch_rows.calls"] = get("log.fetch_rows", "calls")
    out["log.fetch_rows.ms"] = get("log.fetch_rows", "ms")
    asked = tracer.counters.get("log.fetch_rows.requested", 0)
    out["log.fetch_rows.fill_ratio"] = (
        tracer.counters.get("log.fetch_rows.returned", 0) / asked if asked else 0.0
    )
    files = tracer.counters.get("log.files", 0)
    out["log.files_per_1k_events"] = files * 1000.0 / events if events else 0.0
    out["log.bytes_per_event"] = (
        tracer.counters.get("log.bytes", 0) / events if events else 0.0
    )
    out["log.quarantined_files"] = tracer.counters.get("log.quarantined", 0)
    out["client.rejected_events"] = tracer.counters.get("client.rejected", 0)
    if wall_s:
        main = tracing.thread_self_ms(tracer.spans, tracer.main_thread)
        out["trace.accounted_fraction"] = main / (wall_s * 1e3)
    return out


# -- pubsub_smoke -----------------------------------------------------------


def smoke_inputs(seed: int, cycle: int, n: int):
    rng = random.Random(f"smoke:{seed}:{cycle}")
    metas, payloads = [], []
    for i in range(n):
        m = {"seq": i, "pick": rng.random()}
        for f in range(SMOKE["fields"] - len(m)):
            m[f"f{f:02d}"] = rng.randrange(1 << 31)
        metas.append(m)
        payloads.append(rng.randbytes(SMOKE["payload"]))
    return metas, payloads


def smoke_selector(metadata, descriptor):
    """Reference consumer-benchmark selector: a ``proportion`` prefix of
    the payload for a ``selectivity`` share of the events."""
    if metadata["pick"] >= SMOKE["selectivity"] or descriptor.size == 0:
        return DataDescriptor.null()
    return descriptor.make_sub_view(
        0, max(1, int(descriptor.size * SMOKE["proportion"]))
    )


def smoke_expected_bytes(meta: dict, payload: bytes) -> bytes:
    if meta["pick"] >= SMOKE["selectivity"]:
        return b""
    return payload[: max(1, int(len(payload) * SMOKE["proportion"]))]


class PubSubSmoke:
    def __init__(self, ctx):
        self.ctx = ctx
        self.cycle_no = 0

    def setup(self) -> None:
        from mofka_spark import client  # noqa: F401  (import cost is set-up)

        # untimed full cycles: first parquet write, pyarrow dataset
        # discovery and serializer paths warm up here, not in the flush
        # tail. Several of them, because file-system and host costs only
        # settle under sustained file churn: on a shared 4-vCPU VM the
        # cycle time spread 31% across runs measured straight after one
        # warm-up cycle, and 2% after about 6 s of warm-up cycles.
        for _ in range(SMOKE["warm_cycles"]):
            self._cycle(SMOKE["events"], None, check=False)

    def _cycle(self, n: int, tracer, check: bool = True) -> dict:
        from mofka_spark.client import Driver, NoMoreEvents
        from mofka_spark.errors import MofkaError

        ctx, out = self.ctx, self.ctx.outcome
        c = self.cycle_no
        self.cycle_no += 1
        metas, payloads = smoke_inputs(ctx.seed, c, n)
        root = tempfile.mkdtemp(prefix=f"smoke{c}-", dir=ctx.scratch)
        topic = Driver(None, root).create_topic(
            f"smoke{c}", num_partitions=SMOKE["partitions"]
        )
        selector = smoke_selector
        producer = topic.producer("bench", batch_size=SMOKE["batch"])
        push, flush = producer.push, producer.flush
        if tracer is not None:
            _trace_log(tracer, topic.log, SMOKE["partitions"])
            _trace_producer(tracer, producer)
            push = tracer.wrap("client.push", push)
            flush = tracer.wrap("client.flush", flush)
            selector = tracer.wrap("functions.data_select", selector)
        flush_ms = []
        every = SMOKE["flush_every"]
        t0 = time.perf_counter()
        with producer:
            for i in range(n):
                try:
                    push(metas[i], payloads[i])
                    out.op()
                except MofkaError as e:
                    out.op(False, f"push rejected: {e}")
                    if tracer is not None:
                        tracer.count("client.rejected")
                if (i + 1) % every == 0 or i + 1 == n:
                    a = time.perf_counter()
                    flush()
                    flush_ms.append((time.perf_counter() - a) * 1e3)
                    out.op()
            produce_s = time.perf_counter() - t0
        topic.mark_as_complete()
        got = []
        saw_end = False
        with topic.consumer("bench", batch_size=SMOKE["feed_batch"],
                            data_selector=selector) as consumer:
            if tracer is not None:
                tracer.wrap_method(consumer._serializer, "deserialize",
                                   "functions.deserialize")
            pull = consumer.pull
            if tracer is not None:
                pull = tracer.wrap("client.pull", pull)
            t1 = time.perf_counter()
            while True:
                ev = pull()
                if ev is NoMoreEvents:
                    saw_end = True
                    break
                if ev is None:  # the topic reads as open: no_more_events fails
                    break
                got.append((ev.partition, ev.offset, ev.metadata, ev.data))
            drain_s = time.perf_counter() - t1
        out.attempted += len(got)
        if tracer is not None:
            files, size, quarantined = _log_files(topic.log.data_path)
            tracer.count("log.files", files)
            tracer.count("log.bytes", size)
            tracer.count("log.quarantined", quarantined)
        if check:
            self._check(n, metas, payloads, got, saw_end)
        # the topic stays on disk until run.py removes the scratch root,
        # so that deleting its files is never inside a timed cycle
        return {"produce_s": produce_s, "drain_s": drain_s,
                "flush_ms": flush_ms, "events": n}

    def _check(self, n, metas, payloads, got, saw_end) -> None:
        out = self.ctx.outcome
        by_part: dict[int, list[int]] = {}
        for p, off, _m, _d in got:
            by_part.setdefault(p, []).append(off)
        out.check("smoke.dense_offsets",
                  len(got) == n and all(sorted(v) == list(range(len(v)))
                                        for v in by_part.values()))
        seqs = [m.get("seq") for _p, _o, m, _d in got]
        out.check("smoke.metadata_roundtrip",
                  sorted(seqs) == list(range(n))
                  and all(m == metas[m["seq"]] for _p, _o, m, _d in got))
        out.check("smoke.selected_bytes", all(
            bytes(d or b"") == smoke_expected_bytes(metas[m["seq"]], payloads[m["seq"]])
            for _p, _o, m, d in got))
        out.check("smoke.no_more_events", saw_end)

    def measure(self, seconds: float, tracer) -> dict:
        cycles = []
        t0 = time.perf_counter()
        while True:
            cycles.append(self._cycle(SMOKE["events"], tracer))
            flushes = sum(len(c["flush_ms"]) for c in cycles)
            elapsed = time.perf_counter() - t0
            if elapsed >= seconds and flushes >= SMOKE["min_flushes"]:
                break
            if elapsed >= 4 * seconds:  # keep a slow program inside the run limit
                break
        flush_ms = [x for c in cycles for x in c["flush_ms"]]
        events = sum(c["events"] for c in cycles)
        produce = sum(c["produce_s"] for c in cycles)
        drain = sum(c["drain_s"] for c in cycles)
        q = SMOKE["tail_q"]  # >= 10 of min_flushes samples lie beyond it
        res = {
            "e2e": {
                "latency_p50_ms": tracing.median(flush_ms),
                "latency_tail_ms": tracing.percentile(flush_ms, q),
                "unit_work_s": tracing.median(
                    [c["produce_s"] + c["drain_s"] for c in cycles]),
            },
            "named": {
                "produce_events_per_s": events / produce,
                "consume_events_per_s": events / drain,
                "flush_ms_p50": tracing.median(flush_ms),
                "flush_ms_p98": tracing.percentile(flush_ms, q),
            },
            "info": {"cycles": len(cycles), "events": events,
                     "flush_samples": len(flush_ms), "tail_quantile": q,
                     "cycle_s": [round(c["produce_s"] + c["drain_s"], 3)
                                 for c in cycles]},
        }
        if tracer is not None:
            res["layer"] = _client_layer(tracer, events, produce + drain)
        return res

    def finish(self) -> dict:
        return {}


# -- stream_live ------------------------------------------------------------


class StreamLive:
    def __init__(self, ctx):
        self.ctx = ctx
        self.phase = 0
        self.expected: dict[str, list[int]] = {}
        self.pushed = 0
        self.recorder = None
        self.query = None
        self.dead_progress: list[dict] = []  # of queries that failed

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from mofka_spark.client import Driver

        ctx = self.ctx
        self.spark = spark = start_spark(ctx)
        # a stateful query keeps the shuffle width it starts with
        spark.conf.set("spark.sql.shuffle.partitions", str(LIVE["partitions"]))
        root = os.path.join(ctx.scratch, "live")
        self.topic = topic = Driver(spark, root).create_topic(
            "live", num_partitions=LIVE["partitions"]
        )
        if ctx.trace:
            self.recorder = tracing.ProgressRecorder(spark, self._backlog)
            self.recorder.__enter__()
        self.ckpt = ckpt = os.path.join(root, "_ckpt")
        stream = topic.read_stream(batch_size=LIVE["feed_batch"], checkpoint=ckpt)
        self.agg = (
            stream.select(
                F.get_json_object("metadata", "$.k").alias("k"),
                F.get_json_object("metadata", "$.v").cast("long").alias("v"),
            )
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("v"))
        )
        self._start_query()
        # the schedule starts after the first epoch: stream start-up is
        # set-up, not delivery latency
        with topic.producer("warm") as p:
            p.push({"seq": -1, "k": "warm", "v": 0}, b"")
        self._account("warm", 0)
        self._wait_caught_up(timeout=150)
        # a few seconds of the same traffic before timing: the first
        # epochs after start-up still compile and size the JVM
        self._schedule(LIVE["warm_s"], None)
        self._wait_caught_up(timeout=60)

    def _start_query(self) -> None:
        self.query = (
            self.agg.writeStream.outputMode("complete").format("memory")
            .queryName("perfbench_live")
            .option("checkpointLocation", self.ckpt)
            .trigger(processingTime=LIVE["trigger"])
            .start()
        )

    def _restart_if_failed(self) -> None:
        """A failed query is a failed operation; the run goes on with a
        restart from the checkpoint, as a streaming application would."""
        exc = self.query.exception()
        if exc is None:
            return
        self.ctx.outcome.op(False, f"stream query failed: {str(exc)[:300]}")
        self.dead_progress += self._query_progress()
        self._start_query()

    def _backlog(self, progress: dict) -> float:
        query = self.query  # None until the first start() returns
        if query is None or progress.get("id") != str(query.id):
            return 0.0
        head = self.topic.snapshot()
        end = tracing.offsets_of(progress, "endOffset")
        return float(sum(max(0, n - end.get(p, 0)) for p, n in head.items()))

    def _account(self, key: str, v: int) -> None:
        e = self.expected.setdefault(key, [0, 0])
        e[0] += 1
        e[1] += v
        self.pushed += 1

    def _query_progress(self) -> list[dict]:
        return [json.loads(p.json) for p in self.query.recentProgress]

    def _progress(self, start: int = 0) -> list[dict]:
        """Progress updates of every query run so far (restarts
        included) from index ``start`` on, as plain dicts."""
        return (self.dead_progress + self._query_progress())[start:]

    def _wait_caught_up(self, timeout: float) -> bool:
        head = self.topic.snapshot()
        deadline = time.time() + timeout
        while time.time() < deadline:
            last = self.query.lastProgress
            if last is not None:
                end = tracing.offsets_of(json.loads(last.json), "endOffset")
                if all(end.get(p, 0) >= n for p, n in head.items()):
                    return True
            self._restart_if_failed()
            time.sleep(0.02)
        return False

    def _schedule(self, seconds: float, tracer):
        """Push ``rate * seconds`` events on the open-loop schedule;
        returns (due times, send times, head before, first progress index)."""
        from mofka_spark.errors import MofkaError

        ctx, out, topic = self.ctx, self.ctx.outcome, self.topic
        phase = self.phase
        self.phase += 1
        rate = LIVE["rate"]
        n = int(rate * seconds)
        rng = random.Random(f"live:{ctx.seed}:{phase}")
        keys = [f"k{rng.randrange(LIVE['keys']):02d}" for _ in range(n)]
        vals = [rng.randrange(1000) for _ in range(n)]
        payloads = [rng.randbytes(LIVE["payload"]) for _ in range(n)]
        first_batch = len(self._progress())
        head0 = topic.snapshot()
        producer = topic.producer(f"gen{phase}")
        push, flush = producer.push, producer.flush
        if tracer is not None:
            _trace_log(tracer, topic.log, LIVE["partitions"])
            _trace_producer(tracer, producer)
            push = tracer.wrap("client.push", push)
            flush = tracer.wrap("client.flush", flush)
        every = LIVE["flush_every"]
        due = tracing.due_times(time.time() + 0.05, rate, n)
        sent = [0.0] * n
        i = 0
        with producer:
            while i < n:
                now = time.time()
                if now < due[i]:
                    time.sleep(due[i] - now)
                    continue
                # open loop: send everything already due, however late
                while i < n and due[i] <= time.time():
                    sent[i] = time.time()
                    meta = {"seq": i, "phase": phase, "k": keys[i],
                            "v": vals[i], "due": due[i]}
                    try:
                        push(meta, payloads[i])
                        self._account(keys[i], vals[i])
                        out.op()
                    except MofkaError as e:
                        out.op(False, f"push rejected: {e}")
                        if tracer is not None:
                            tracer.count("client.rejected")
                    i += 1
                    if i % every == 0:
                        flush()
                        self._restart_if_failed()
            flush()
        return due, sent, head0, first_batch

    def measure(self, seconds: float, tracer) -> dict:
        out, topic = self.ctx.outcome, self.topic
        due, sent, head0, first_batch = self._schedule(seconds, tracer)
        n = len(due)
        caught_up = self._wait_caught_up(timeout=60)
        out.check("live.caught_up", caught_up)
        progress = self._progress(first_batch)
        delivery = self._delivery_ms(head0, progress, due)
        out.attempted += n
        out.failed += sum(1 for d in delivery if d is None)
        got = [d for d in delivery if d is not None]
        lag = tracing.lateness_ms(due, sent)
        epochs = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress
                  if p.get("numInputRows", 0) > 0]
        res = {
            "e2e": {
                "latency_p50_ms": tracing.median(got),
                # rate * seconds >= 1000 events: >= 10 lie beyond p99
                "latency_tail_ms": tracing.percentile(got, 0.99),
                "unit_work_s": tracing.median(epochs),
            },
            "named": {
                "delivery_ms_p50": tracing.median(got),
                "delivery_ms_p99": tracing.percentile(got, 0.99),
                "send_lag_ms_p99": tracing.percentile(lag, 0.99),
            },
            "info": {"events": n, "epochs": len(progress),
                     "delivered": len(got)},
        }
        if tracer is not None:
            layer = _client_layer(tracer, n, None)
            files, size, quarantined = _log_files(topic.log.data_path)
            layer["log.files_per_1k_events"] = files * 1000.0 / self.pushed
            layer["log.bytes_per_event"] = size / self.pushed
            layer["log.quarantined_files"] = float(quarantined)
            if self.recorder is not None:
                ids = {p["batchId"] for p in progress}
                mine = [(p, b) for p, b in zip(self.recorder.progress,
                                               self.recorder.backlogs)
                        if p.get("id") == str(self.query.id) and p["batchId"] in ids]
                layer.update(tracing.streaming_metrics(
                    [p for p, _ in mine], [b for _, b in mine]))
            res["layer"] = layer
        return res

    def _delivery_ms(self, head0, progress, due) -> list[float | None]:
        """Per-event delivery latency: due time to the end of the first
        micro-batch whose end offset covers the event's EventID."""
        import bisect

        ends: dict[int, tuple[list[int], list[float]]] = {}
        for p in sorted(progress, key=lambda x: x["batchId"]):
            if p.get("numInputRows", 0) == 0:
                continue
            t = tracing.progress_end_time(p)
            for part, n in tracing.offsets_of(p, "endOffset").items():
                offs, times = ends.setdefault(part, ([], []))
                offs.append(n)
                times.append(t)
        head = self.topic.snapshot()
        log = self.topic.log
        # the class's method: a traced phase shadows the instance's
        rows = type(log).fetch_rows(log, head0, max(head.values()) + 1, None)
        out: list[float | None] = [None] * len(due)
        for part, off, meta_raw, _data in rows:
            seq = json.loads(meta_raw)["seq"]
            offs, times = ends.get(part, ([], []))
            k = bisect.bisect_right(offs, off)
            if k < len(offs) and 0 <= seq < len(due):
                out[seq] = (times[k] - due[seq]) * 1e3
        return out

    def finish(self) -> dict:
        out, topic, query = self.ctx.outcome, self.topic, self.query
        topic.mark_as_complete()
        done = topic.await_completion(query, timeout=60)
        out.check("live.drained", bool(done))
        progress = self._progress()
        # exactly once: batches tile the offsets with no gap or overlap
        # and every pushed event was read by exactly one batch
        prev: dict[int, int] = {}
        tiled = True
        for p in sorted(progress, key=lambda x: x["batchId"]):
            start = tracing.offsets_of(p, "startOffset")
            end = tracing.offsets_of(p, "endOffset")
            if any(start.get(k, 0) != v for k, v in prev.items()):
                tiled = False
            prev = end
        rows = sum(p.get("numInputRows", 0) for p in progress)
        out.check("live.exactly_once", tiled and rows == self.pushed
                  and prev == topic.snapshot())
        got = {r["k"]: [r["n"], r["v"]]
               for r in self.spark.sql("SELECT * FROM perfbench_live").collect()}
        out.check("live.aggregate", got == self.expected)
        if query.isActive:
            query.stop()
        if self.recorder is not None:
            self.recorder.__exit__(None, None, None)
        self.spark.stop()
        return {}


# -- gates ------------------------------------------------------------------


class Gates:
    def __init__(self, ctx):
        self.ctx = ctx
        self.windows: dict[str, list[tuple[float, float]]] = {
            g: [] for g in OPERATOR_GROUPS}
        self.persisted: dict[str, float] = {}
        self.recorder = None
        with open(os.path.join(HERE, "gate_digests.json")) as f:
            self.expected = json.load(f)["gates"]

    def setup(self) -> None:
        from mofka_spark import queries

        ctx = self.ctx
        self.event_log = os.path.join(ctx.scratch, "eventlog") if ctx.trace else None
        self.spark = start_spark(ctx, self.event_log)
        self.queries = queries.SPARK_QUERIES
        if ctx.trace:
            self.recorder = tracing.ProgressRecorder(self.spark)
            self.recorder.__enter__()
        # warm-up pass: JVM code generation, Python workers, streaming
        # start-up and the shared fixtures the gates build on first use
        self.warm_s = self._pass(None)

    def _run_gate(self, name: str) -> float:
        out = self.ctx.outcome
        t = time.perf_counter()
        try:
            pdf = self.queries[name](self.spark, GATE_DATA).toPandas()
        except Exception as e:  # noqa: BLE001 — a failed gate is a failed op
            out.op(False, f"{name}: {type(e).__name__}: {e}")
            return time.perf_counter() - t
        dt = time.perf_counter() - t
        out.op()
        out.check(f"gate.{name}.digest", digest(pdf) == self.expected[name]["sha256"])
        return dt

    def _persisted(self) -> set[int]:
        """Ids of the RDDs the session holds persisted."""
        return {int(i) for i in
                self.spark.sparkContext._jsc.getPersistentRDDs().keySet()}

    def _pass(self, windows) -> dict[str, float]:
        times = {}
        for group, names in zip(OPERATOR_GROUPS, (STREAM_GATES, BATCH_GATES)):
            before = self._persisted() if windows is not None else set()
            for g in names:
                t0 = time.time()
                times[g] = self._run_gate(g)
                if windows is not None:
                    windows[group].append((t0 * 1e3, time.time() * 1e3))
            if windows is not None:
                # left behind: persisted now, not persisted before
                self.persisted[group] = self.persisted.get(group, 0) + len(
                    self._persisted() - before)
        return times

    def measure(self, seconds: float, tracer) -> dict:
        windows = self.windows if tracer is not None else None
        first = len(self.recorder.progress) if self.recorder is not None else 0
        passes = []
        t0 = time.perf_counter()
        # at least three passes, so that each gate's median drops one
        # slow pass rather than averaging it in
        while len(passes) < 3 or time.perf_counter() - t0 < seconds:
            passes.append(self._pass(windows))
        med = {g: tracing.median([p[g] for p in passes]) for g in passes[0]}
        stream_s = sum(med[g] for g in STREAM_GATES)
        batch_s = sum(med[g] for g in BATCH_GATES)
        res = {
            "e2e": {
                "latency_p50_ms": tracing.median(med.values()) * 1e3,
                "latency_tail_ms": max(med.values()) * 1e3,
                "unit_work_s": stream_s + batch_s,
            },
            "named": {"stream_gates_s": stream_s, "batch_gates_s": batch_s},
            "info": {"passes": len(passes),
                     "gate_s": {g: round(v, 3) for g, v in med.items()},
                     "warm_up_s": {g: round(v, 3) for g, v in self.warm_s.items()}},
        }
        if tracer is not None:
            self.passes = len(passes)
            layer = {f"gate.{g}.s": v for g, v in med.items()}
            if self.recorder is not None:
                layer.update(tracing.streaming_metrics(self.recorder.progress[first:]))
            res["layer"] = layer
        return res

    def finish(self) -> dict:
        if self.recorder is not None:
            self.recorder.__exit__(None, None, None)
        self.spark.stop()
        if self.event_log is None:
            return {}
        events = tracing.read_event_log(self.event_log)
        layer = {}
        for group in OPERATOR_GROUPS:
            m = tracing.operator_metrics(events, self.windows[group])
            for k, v in m.items():
                layer[f"operators.{group}.{k}"] = v / self.passes
            layer[f"operators.{group}.persisted_rdds_left"] = (
                self.persisted.get(group, 0) / self.passes)
        return layer


WORKLOADS = {
    "pubsub_smoke": PubSubSmoke,
    "stream_live": StreamLive,
    "gates": Gates,
}


class Context:
    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.scratch = args.scratch
        self.outcome = Outcome()
        self.session_start_ms = 0.0
        self.default_parallelism = None


def run(args) -> dict:
    """Set the workload up, measure it once (traced with ``--trace 1``),
    check its outputs and return the result run.py reads. The tracing
    overhead is taken by run.py against a separate untraced run, so that
    its baseline has no listener, event log or extra warm-up."""
    ctx = Context(args)
    wl = WORKLOADS[args.workload](ctx)
    wl.setup()
    setup_s = time.time() - args.t0
    tracer = tracing.Tracer() if ctx.trace else None
    res = wl.measure(args.seconds, tracer)
    extra = wl.finish()
    out = ctx.outcome
    named = dict(res["named"])
    named["failed_fraction"] = out.failed / max(1, out.attempted)
    layer = None
    if tracer is not None:
        layer = {n: 0.0 for n in per_layer_names()}
        layer.update(res.get("layer", {}))
        layer.update(extra)
        layer["session.start_ms"] = ctx.session_start_ms
    return {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "failures": out.failures,
        "e2e": dict(res["e2e"], setup_s=setup_s),
        "named": named,
        "layer": layer,
        "info": res["info"],
        "default_parallelism": ctx.default_parallelism,
        "session_start_ms": ctx.session_start_ms,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--t0", type=float, required=True,
                    help="epoch seconds at which the run's process started")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    result = run(args)
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
