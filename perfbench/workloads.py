"""The three workloads. Each drives the engine only through its public API,
checks every output against the generator's ground truth, and reports its
end-to-end numbers from untraced passes and its per-layer numbers from
traced ones.

- ``cdc_backfill``: drain a recorded backlog once with ``availableNow``:
  source read, packed-row decode and Catalyst decode in one micro-batch.
- ``cdc_tail``: open loop. A separate generator process appends
  transactions at a fixed rate while a ``processingTime`` query compacts
  them; latency runs from each event's due time to its delivery.
- ``corpus_curation``: the training-data operators on a synthetic corpus
  with planted duplicates; no source, no streaming.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field

import gen_cdc
import gen_corpus
from harness import (
    StageCensus,
    Tracer,
    fold_progress,
    median,
    percentile,
    source_offsets,
    streaming_metrics,
)

HERE = os.path.dirname(os.path.abspath(__file__))
#: passes per run at least, so that a median pass exists
MIN_PASSES = 3


@dataclass
class Outcome:
    """What a measured phase produced. ``table`` rows are
    (name, value, unit, samples) for the human-readable report."""

    attempted: int = 0
    failed: int = 0
    throughput: float = 0.0
    samples: int = 0  # behind ``throughput``
    latency_ms: list = field(default_factory=list)
    layer: dict = field(default_factory=dict)
    table: list = field(default_factory=list)


class Workload:
    name = ""

    def __init__(self, seed: int, seconds: float, work: str, tracer: Tracer, rss) -> None:
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.rss = rss
        #: the job group of every batch job the measured phase runs
        self.job_group = f"{self.name}-{tracer.run_id}"
        self._n = 0

    def fresh(self, tag: str) -> str:
        """A new, empty directory under the run's work dir."""
        self._n += 1
        path = os.path.join(self.work, f"{tag}-{self._n}")
        os.makedirs(path)
        return path

    def generate(self) -> None:
        raise NotImplementedError

    def warmup(self, spark) -> None:
        raise NotImplementedError

    def measure(self, spark, trace: bool) -> Outcome:
        raise NotImplementedError

    def _passes(self, run_pass, trace: bool):
        """Runs passes until ``seconds`` have elapsed and at least
        ``MIN_PASSES`` ran. With ``trace`` the passes alternate untraced and
        traced, so both kinds are measured under the same conditions."""
        out = []
        deadline = time.perf_counter() + self.seconds
        while len(out) < MIN_PASSES or time.perf_counter() < deadline:
            traced = trace and len(out) % 2 == 1
            self.tracer.enabled = traced
            try:
                out.append(run_pass(traced))
            finally:
                self.tracer.enabled = False
            print(f"{self.name} pass {len(out)} traced={traced} wall={out[-1]['wall']:.3f}s",
                  file=sys.stderr)
        return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def overhead_pct(untraced_walls, traced_walls) -> float:
    """Tracing overhead: traced over untraced median wall, in percent."""
    return (median(traced_walls) / median(untraced_walls) - 1.0) * 100.0


# ---------------------------------------------------------------------------
# CDC shared pieces
# ---------------------------------------------------------------------------

CDC_PROPERTIES = {
    "vitess.keyspace": gen_cdc.KEYSPACE,
    "vitess.shard": ",".join(gen_cdc.SHARDS),
    "topic.prefix": gen_cdc.TOPIC_PREFIX,
}


def cdc_engine(spark):
    from debezium_connector_vitess_spark.engine import VitessCdcEngine

    eng = VitessCdcEngine(spark, CDC_PROPERTIES)
    schemas = [
        eng.schema_from_field_event(
            gen_cdc.KEYSPACE, gen_cdc.SHARDS[0], t, gen_cdc.field_dicts()
        )
        for t in gen_cdc.TABLES
    ]
    return eng, schemas


def cdc_checksum_cols():
    """(op, digest) columns over Kafka-shaped (key, value, topic) records:
    the Spark twin of ``gen_cdc.record_digest``."""
    from pyspark.sql import functions as F

    v = F.col("value")
    op = F.get_json_object(v, "$.op")
    parts = [F.col("topic"), op, F.col("key"), F.get_json_object(v, "$.gtid")]
    for image in ("before", "after"):
        parts += [
            F.coalesce(F.get_json_object(v, f"$.{image}.{c}"), F.lit("~"))
            for c in gen_cdc.COLUMNS
        ]
    digest = F.conv(F.substring(F.md5(F.concat_ws("|", *parts)), 1, 10), 16, 10)
    return op.alias("op"), digest.cast("long").alias("h")


class ChecksumSink:
    """``foreachBatch`` sink: per (topic, op) record counts and checksum sums,
    kept by batch id so that a replayed batch is counted once."""

    def __init__(self) -> None:
        self.batches: dict[int, dict] = {}

    def __call__(self, df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        op, h = cdc_checksum_cols()
        rows = (
            df.select("topic", op, h)
            .groupBy("topic", "op")
            .agg(F.count("*").alias("n"), F.sum("h").alias("s"))
            .collect()
        )
        self.batches[batch_id] = {(r.topic, r.op): (r.n, r.s) for r in rows}

    def totals(self) -> dict:
        out: dict = {}
        for groups in self.batches.values():
            for k, (n, s) in groups.items():
                pn, ps = out.get(k, (0, 0))
                out[k] = (pn + n, ps + s)
        return out


def sink_failures(got: dict, expected: dict) -> int:
    """Records in (topic, op) groups whose count or checksum is off."""
    failed = 0
    for k in set(got) | set(expected):
        if got.get(k) != expected.get(k):
            failed += max(got.get(k, (0, 0))[0], expected.get(k, (0, 0))[0])
    return failed


def layer_probes(spark, eng, schemas, recording: str, tracer: Tracer) -> dict:
    """In-process timings of single layers on one run's recording:
    the replay reader's ``read()`` on one shard, the wire serde and decoder
    per event, and the Catalyst decode over a static copy of the source's
    rows."""
    import pyarrow as pa
    from debezium_connector_vitess_spark.cache import checkpoint_scope
    from debezium_connector_vitess_spark.sources.replay import VitessReplayStreamReader
    from debezium_connector_vitess_spark.sources.wire import (
        VStreamObserver,
        VStreamResponse,
        WireDecoder,
        decode_flush,
        vevent_from_json,
    )

    out = {}
    reader = VitessReplayStreamReader({"path": recording, "wireFormat": "true"})
    end = reader.latestOffset()
    start = reader.initialOffset()
    parts = reader.partitions(start, end)
    shard0 = next(p for p in parts if p.shard == gen_cdc.SHARDS[0])
    rates = []
    for _ in range(3):
        with tracer.span("read", "sources.replay"):
            t = time.perf_counter()
            n = sum(b.num_rows for b in reader.read(shard0))
            rates.append(n / (time.perf_counter() - t))
    out["sources.replay.read_rows_per_s_1core"] = median(rates)

    with open(gen_cdc.shard_path(recording, gen_cdc.SHARDS[0]), encoding="utf-8") as fh:
        lines = [ln for ln in fh.read().splitlines() if ln]
    with tracer.span("vevent_from_json", "sources.wire"):
        t = time.perf_counter()
        events = [vevent_from_json(ln) for ln in lines]
        out["sources.wire.vevent_from_json_us_per_event"] = (
            (time.perf_counter() - t) / len(lines) * 1e6
        )
    responses, cur = [], []
    for ev in events:
        cur.append(ev)
        if ev.type == "COMMIT":
            responses.append(VStreamResponse(events=tuple(cur)))
            cur = []
    decoder, observer = WireDecoder(gen_cdc.KEYSPACE), VStreamObserver()
    with tracer.span("decode_flush", "sources.wire"):
        t = time.perf_counter()
        for resp in responses:
            for flush in observer.on_response(resp):
                for _ in decode_flush(decoder, flush):
                    pass
        out["sources.wire.decode_flush_us_per_event"] = (
            (time.perf_counter() - t) / len(events) * 1e6
        )

    batches = [b for p in parts for b in reader.read(p)]
    n_rows = sum(b.num_rows for b in batches)
    walls = []
    with checkpoint_scope(spark):
        static = spark.createDataFrame(pa.Table.from_batches(batches)).localCheckpoint()
        for _ in range(3):
            with tracer.span("decode_batch", "decode"):
                t = time.perf_counter()
                _noop(eng.topics(eng.envelope(static, schemas)))
                walls.append(time.perf_counter() - t)
    out["decode.batch_rows_per_s"] = n_rows / median(walls)
    return out


# ---------------------------------------------------------------------------
# cdc_backfill
# ---------------------------------------------------------------------------


class CdcBackfill(Workload):
    name = "cdc_backfill"
    N_TX = 3000  # 30k row events, ~11 MB of wire JSON over 4 shards

    def generate(self) -> None:
        txs = gen_cdc.Recorder(self.seed).take(self.N_TX)
        self.backlog = self.fresh("backlog")
        gen_cdc.write_recording(self.backlog, txs)
        self.expected = gen_cdc.expected_sink(txs)
        self.events = self.N_TX * gen_cdc.TX_ROWS
        self.raw_rows = (
            self.N_TX * gen_cdc.RAW_ROWS_PER_TX
            + len(gen_cdc.SHARDS) * gen_cdc.RAW_ROWS_PER_PRELUDE
        )

    def _drain(self, spark, path: str):
        eng, schemas = cdc_engine(spark)
        sink = ChecksumSink()
        t0 = time.perf_counter()
        with self.tracer.span("plan", "decode"):
            raw = eng.raw_stream(
                "vitess-replay", path=path, wireFormat="true", watermarkDir=self.fresh("wm")
            )
            out = eng.topics(eng.envelope(raw, schemas))
        plan_s = time.perf_counter() - t0
        with self.tracer.span("drain", "streaming") as sp:
            q = (
                out.writeStream.foreachBatch(sink)
                .option("checkpointLocation", self.fresh("ck"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        wall = time.perf_counter() - t0
        return sink.totals(), wall, plan_s, q, sp

    def warmup(self, spark) -> None:
        # a drain of the real backlog: after a smaller one the first
        # measured pass still runs a quarter slower than the next
        self._drain(spark, self.backlog)

    def measure(self, spark, trace: bool) -> Outcome:
        census = StageCensus(spark)

        def run_pass(traced):
            first_job = census.max_job_id()
            with self.tracer.span("pass", "bench") as root:
                got, wall, plan_s, q, drain_sp = self._drain(spark, self.backlog)
            res = {"wall": wall, "failed": sink_failures(got, self.expected), "traced": traced}
            if traced:
                progress = q.recentProgress
                fold_progress(self.tracer, progress, drain_sp["id"])
                res["layer"] = {
                    **streaming_metrics(progress),
                    **census.collect(
                        {str(q.runId), self.job_group}, first_job, census.max_job_id()
                    ),
                    "decode.plan_ms": plan_s * 1000.0,
                    "sources.replay.rows_read_per_event": sum(
                        p["numInputRows"] for p in progress
                    ) / self.raw_rows,
                }
                res["self"] = self.tracer.self_seconds([root])
            return res

        passes = self._passes(run_pass, trace)
        walls = [p["wall"] for p in passes if not p["traced"]]
        o = Outcome(
            attempted=self.events * len(passes),
            failed=sum(p["failed"] for p in passes),
            throughput=self.events / median(walls),
            samples=len(walls),
            # every record of a single-batch drain is delivered at its end
            latency_ms=[w * 1000.0 for w in walls],
        )
        o.table = [
            ("events_per_s", o.throughput, "1/s", len(walls)),
            ("backlog_events", self.events, "count", 1),
        ]
        if trace:
            o.layer = _traced_layers(passes)
            o.layer["trace.overhead_pct"] = overhead_pct(
                walls, [p["wall"] for p in passes if p["traced"]]
            )
            eng, schemas = cdc_engine(spark)
            o.layer.update(layer_probes(spark, eng, schemas, self.backlog, self.tracer))
        return o


def _traced_layers(passes) -> dict:
    """Per-layer medians over the traced passes, plus the mean self time per
    layer per pass."""
    traced = [p for p in passes if p["traced"]]
    out = {}
    for name in traced[0]["layer"]:
        out[name] = median([p["layer"][name] for p in traced])
    for p in traced:
        for layer, s in p["self"].items():
            key = f"{layer}.self_ms"
            out[key] = out.get(key, 0.0) + s * 1000.0 / len(traced)
    return out


# ---------------------------------------------------------------------------
# cdc_tail
# ---------------------------------------------------------------------------


class CdcTail(Workload):
    name = "cdc_tail"
    TRIGGER = "500 milliseconds"
    #: p99 latency limit; a missing or wrong record counts as missing it
    LAG_LIMIT_MS = 10_000.0
    START_TIMEOUT_S = 60.0
    DRAIN_TIMEOUT_S = 60.0
    #: the warm-up appends this many chunks of ``WARM_CHUNK_TX`` transactions,
    #: one per batch
    WARM_CHUNKS = 3
    WARM_CHUNK_TX = 100

    def generate(self) -> None:
        self.txs = gen_cdc.tail_txs(self.seed, self.seconds)
        self.truth = {
            (tx.shard, tx.seq, rc.table, rc.id): rc for tx in self.txs for rc in tx.rows
        }
        self.final = {}  # (table, id) -> (shard, seq) of the key's last change
        for tx in self.txs:
            for rc in tx.rows:
                self.final[(rc.table, rc.id)] = (tx.shard, tx.seq)
        self.warm_txs = gen_cdc.Recorder(self.seed + 1).take(
            self.WARM_CHUNKS * self.WARM_CHUNK_TX
        )

    def _query(self, spark, source: str, sink, trigger: dict):
        from debezium_connector_vitess_spark.materialize import materialize_stream

        eng, schemas = cdc_engine(spark)
        t0 = time.perf_counter()
        with self.tracer.span("plan", "decode"):
            raw = eng.raw_stream("vitess-replay", path=source, wireFormat="true")
            env = eng.envelope(raw, schemas)
        with self.tracer.span("plan", "materialize"):
            mat = materialize_stream(env)
        plan_s = time.perf_counter() - t0
        q = (
            mat.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", self.fresh("ck"))
            .trigger(**trigger)
            .start()
        )
        return q, plan_s

    @staticmethod
    def _committed(q) -> dict[str, int]:
        p = q.lastProgress
        return source_offsets(p["sources"][0]["endOffset"]) if p is not None else {}

    def warmup(self, spark) -> None:
        # the measured path for several batches: a processingTime query over a
        # source that grows by one chunk per batch. A single availableNow batch
        # leaves incremental offset scans and state-store growth cold.
        source = self.fresh("warm")
        gen_cdc.write_prelude(source, time.time_ns())
        q, _ = self._query(
            spark, source, lambda df, _id: df.collect(), {"processingTime": self.TRIGGER}
        )
        try:
            for i in range(self.WARM_CHUNKS):
                chunk = self.warm_txs[i * self.WARM_CHUNK_TX : (i + 1) * self.WARM_CHUNK_TX]
                gen_cdc.append_txs(source, chunk, lambda tx: time.time_ns())
                ends = gen_cdc.line_counts(source)
                self._await(q, lambda: self._committed(q) == ends, self.DRAIN_TIMEOUT_S)
        finally:
            q.stop()

    def _image_ok(self, rc, op, after_json) -> bool:
        if rc.op != op:
            return False
        if rc.after is None:
            return after_json is None
        return after_json is not None and json.loads(after_json) == dict(
            zip(gen_cdc.COLUMNS, rc.after)
        )

    def _phase(self, spark, census: StageCensus) -> dict:
        source = self.fresh("tail")
        gen_cdc.write_prelude(source, time.time_ns())
        deliveries: dict[int, tuple] = {}

        def sink(df, batch_id):
            rows = df.collect()
            deliveries[batch_id] = (time.time(), rows)

        first_job = census.max_job_id()
        t_begin = time.perf_counter()
        # the generator starts (imports, precomputes) while the query starts
        gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen_cdc.py"), "--dir", source,
             "--seed", str(self.seed), "--seconds", str(self.seconds)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.rss.exclude.add(gen.pid)
        try:
            with self.tracer.span("phase", "bench") as root:
                q, plan_s = self._query(spark, source, sink, {"processingTime": self.TRIGGER})
                with self.tracer.span("query", "streaming") as qsp:
                    try:
                        self._await(q, lambda: bool(q.recentProgress), self.START_TIMEOUT_S)
                        if gen.stdout.readline().strip() != "ready":
                            raise RuntimeError("load generator failed to start")
                        start = time.time() + 0.2
                        gen.stdin.write(f"{start}\n")
                        gen.stdin.flush()
                        gen_stats = json.loads(gen.stdout.readline())
                        gen.wait(timeout=30)
                        final = gen_cdc.line_counts(source)
                        # stop only once the last transaction is committed
                        self._await(
                            q, lambda: self._committed(q) == final, self.DRAIN_TIMEOUT_S
                        )
                    finally:
                        q.stop()
                stop_t = time.time()
        finally:
            if gen.poll() is None:
                gen.kill()
            gen.wait()
        progress = q.recentProgress
        print(f"{self.name} phase trigger_ms="
              f"{[p['durationMs'].get('triggerExecution') for p in progress]}", file=sys.stderr)
        res = self._evaluate(deliveries, progress, start, stop_t)
        res["wall"] = time.perf_counter() - t_begin
        res["generator"] = gen_stats
        if self.tracer.enabled:
            fold_progress(self.tracer, progress, qsp["id"])
            res["layer"] = {
                **streaming_metrics(progress),
                **census.collect(
                    {str(q.runId), self.job_group}, first_job, census.max_job_id()
                ),
                "decode.plan_ms": plan_s * 1000.0,
                "sources.replay.rows_read_per_event": sum(
                    p["numInputRows"] for p in progress
                ) / (
                    len(self.txs) * gen_cdc.RAW_ROWS_PER_TX
                    + len(gen_cdc.SHARDS) * gen_cdc.RAW_ROWS_PER_PRELUDE
                ),
                "generator.lateness_ms_p99": gen_stats["lateness_ms_p99"],
                "generator.lateness_ms_max": gen_stats["lateness_ms_max"],
            }
            res["self"] = self.tracer.self_seconds([root])
        res["source"] = source
        return res

    @staticmethod
    def _await(q, cond, timeout: float) -> None:
        deadline = time.time() + timeout
        while not cond():
            if q.exception() is not None:
                raise RuntimeError(f"query failed: {q.exception()}")
            if time.time() > deadline:
                return  # what is still missing is counted by _evaluate
            time.sleep(0.05)

    def _evaluate(self, deliveries, progress, start: float, stop_t: float) -> dict:
        tx_rate = gen_cdc.TAIL_RATE / gen_cdc.TX_ROWS
        due = {(tx.shard, tx.seq): start + tx.index / tx_rate for tx in self.txs}
        lags, wrong, last = [], 0, {}
        for batch_id in sorted(deliveries):
            t, rows = deliveries[batch_id]
            for r in rows:
                kid = json.loads(r.key)["id"]
                shard = gen_cdc.SHARDS[kid % len(gen_cdc.SHARDS)]
                rc = self.truth.get((shard, r.seq, r.table_name, kid))
                lag = (t - due[(shard, r.seq)]) * 1000.0 if rc is not None else 0.0
                if rc is None or not self._image_ok(rc, r.op, r.after_json):
                    wrong += 1
                    lag = max(lag, self.LAG_LIMIT_MS)
                lags.append(lag)
                prev = last.get((r.table_name, kid))
                if prev is None or r.seq > prev:
                    last[(r.table_name, kid)] = r.seq
        missing = 0
        for key, (shard, seq) in self.final.items():
            if last.get(key) != seq:
                missing += 1
                lags.append(max(self.LAG_LIMIT_MS, (stop_t - due[(shard, seq)]) * 1000.0))

        # delivered events: from each batch's end offset, at its delivery time
        points = []
        for p in progress:
            b = p.get("batchId")
            if b not in deliveries or not p.get("numInputRows"):
                continue
            ends = source_offsets(p["sources"][0]["endOffset"])
            n = sum(
                max(0, e - gen_cdc.LINES_PER_PRELUDE) // gen_cdc.LINES_PER_TX * gen_cdc.TX_ROWS
                for e in ends.values()
            )
            points.append((deliveries[b][0], n))
        points.sort()
        # the slope between the first and last batch delivered during the
        # fixed-rate phase; it equals the offered rate unless a backlog grows.
        # The first batch after the idle start is shorter than the steady
        # ones, so the slope starts from the second when there is one.
        in_phase = [pt for pt in points if start <= pt[0] <= start + self.seconds]
        if len(in_phase) >= 3:
            in_phase = in_phase[1:]
        if len(in_phase) >= 2:
            rate = (in_phase[-1][1] - in_phase[0][1]) / (in_phase[-1][0] - in_phase[0][0])
        else:
            rate = points[-1][1] / (points[-1][0] - start) if points else 0.0
        return {"lags": lags, "failed": wrong + missing, "rate": rate, "batches": len(points)}

    def measure(self, spark, trace: bool) -> Outcome:
        census = StageCensus(spark)
        plain = self._phase(spark, census)
        o = Outcome(
            attempted=len(self.txs) * gen_cdc.TX_ROWS,
            failed=plain["failed"],
            throughput=plain["rate"],
            samples=plain["batches"],
            latency_ms=plain["lags"],
        )
        g = plain["generator"]
        o.table = [
            ("lag_p50_ms", percentile(o.latency_ms, 0.50), "ms", len(o.latency_ms)),
            ("lag_p99_ms", percentile(o.latency_ms, 0.99), "ms", len(o.latency_ms)),
            ("delivered_events_per_s", o.throughput, "1/s", plain["batches"]),
            ("offered_events_per_s", gen_cdc.TAIL_RATE, "1/s", 1),
            ("generator_lateness_ms_p99", g["lateness_ms_p99"], "ms", g["transactions"]),
            ("generator_lateness_ms_max", g["lateness_ms_max"], "ms", g["transactions"]),
        ]
        if trace:
            self.tracer.enabled = True
            try:
                traced = self._phase(spark, census)
            finally:
                self.tracer.enabled = False
            o.attempted += len(self.txs) * gen_cdc.TX_ROWS
            o.failed += traced["failed"]
            traced["traced"] = True
            o.layer = _traced_layers([traced])
            # a phase's wall is mostly the generator's fixed schedule, which
            # tracing cannot change; the overhead comes from the layer probes
            # instead: two warm-up runs, then untraced, traced, traced, untraced
            eng, schemas = cdc_engine(spark)
            for _ in range(2):
                layer_probes(spark, eng, schemas, traced["source"], self.tracer)
            probes = {False: [], True: []}
            for traced_probe in (False, True, True, False):
                self.tracer.enabled = traced_probe
                try:
                    t = time.perf_counter()
                    values = layer_probes(spark, eng, schemas, traced["source"], self.tracer)
                    probes[traced_probe].append((time.perf_counter() - t, values))
                finally:
                    self.tracer.enabled = False
                print(f"{self.name} probes traced={traced_probe} "
                      f"wall={probes[traced_probe][-1][0]:.3f}s", file=sys.stderr)
            o.layer["trace.overhead_pct"] = overhead_pct(
                [w for w, _ in probes[False]], [w for w, _ in probes[True]]
            )
            runs = [v for _, v in probes[False] + probes[True]]
            o.layer.update({k: median([v[k] for v in runs]) for k in runs[0]})
        return o


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------


class CorpusCuration(Workload):
    name = "corpus_curation"

    def generate(self) -> None:
        self.corpus = gen_corpus.generate(self.seed)

    @staticmethod
    def _load(spark, corpus):
        docs = spark.createDataFrame(
            corpus.rows, "doc_id long, text string, source string, lang string"
        ).localCheckpoint(eager=True)
        weights = spark.createDataFrame(
            corpus.weights, "bucket long, weight double"
        ).localCheckpoint(eager=True)
        return docs, weights

    def _pass(self, spark, docs, weights, corpus, census=None) -> dict:
        from pyspark.sql import functions as F

        from debezium_connector_vitess_spark.cache import checkpoint_scope
        from debezium_connector_vitess_spark.ops.dedup import (
            connected_components,
            exact_dedup,
            minhash_dedup_pairs,
        )
        from debezium_connector_vitess_spark.ops.pipeline import (
            curation_gram_signals,
            pack_sequences,
        )
        from debezium_connector_vitess_spark.ops.text import drop_duplicate_paragraphs

        tr = self.tracer
        first_job = census.max_job_id() if tr.enabled else None
        with checkpoint_scope(spark):
            t0 = time.perf_counter()
            with tr.span("pass", "bench") as root:
                with tr.span("exact_dedup", "ops.dedup"):
                    survivors = exact_dedup(docs, "text", "doc_id").persist()
                    _noop(survivors)
                with tr.span("minhash_dedup_pairs", "ops.dedup"):
                    pairs = minhash_dedup_pairs(docs, "text", "doc_id").persist()
                    _noop(pairs)
                with tr.span("connected_components", "ops.dedup"):
                    labels = connected_components(
                        docs.select("doc_id"), pairs.select("id_a", "id_b"), id_col="doc_id"
                    ).persist()
                    _noop(labels)
                with tr.span("drop_duplicate_paragraphs", "ops.text"):
                    _noop(drop_duplicate_paragraphs(docs, "text", "doc_id", min_chars=20))
                with tr.span("curation_gram_signals", "ops.pipeline"):
                    _noop(
                        curation_gram_signals(
                            docs, "text", "doc_id", weights,
                            target=F.col("lang") == "en",
                            dim_q=gen_corpus.QUALITY_DIM, dim_d=512,
                        )
                    )
                with tr.span("pack_sequences", "ops.pipeline"):
                    packed = pack_sequences(
                        docs, "text", "doc_id", stream_col="source", n_buckets=4
                    ).persist()
                    _noop(packed)
            wall = time.perf_counter() - t0
            last_job = census.max_job_id() if tr.enabled else None
            failed, n_pairs = self._verify(corpus, survivors, pairs, labels, packed)
            for df in (survivors, pairs, labels, packed):
                df.unpersist()
        res = {"wall": wall, "failed": failed, "traced": tr.enabled}
        if tr.enabled:
            res["layer"] = {
                f"{sp['layer']}.{sp['name']}_s": sp["end"] - sp["start"]
                for sp in tr.spans
                if sp["parent"] == root["id"]
            }
            res["layer"]["ops.dedup.verified_pairs"] = float(n_pairs)
            res["layer"].update(census.collect({self.job_group}, first_job, last_job))
            res["self"] = tr.self_seconds([root])
        return res

    @staticmethod
    def _verify(corpus, survivors, pairs, labels, packed) -> tuple[int, int]:
        """Failed docs: survivors that differ from the planted exact
        duplicates' expectation, planted near-duplicate pairs not recalled
        (or split across components), and docs of a stream whose packing
        loses or invents tokens."""
        from pyspark.sql import functions as F

        kept = {r.doc_id for r in survivors.select("doc_id").collect()}
        failed = len(kept ^ corpus.expected_survivors)
        found = {(r.id_a, r.id_b) for r in pairs.select("id_a", "id_b").collect()}
        cluster = {r.doc_id: r.cluster_id for r in labels.collect()}
        for a, b in corpus.near_pairs:
            if (a, b) not in found or cluster.get(a) != cluster.get(b):
                failed += 2
        per_stream = packed.groupBy("source").agg(
            F.count("*").alias("docs"),
            F.sum("n_tokens").alias("tokens"),
            F.max(F.col("start_offset") + F.col("n_tokens")).alias("extent"),
        )
        for r in per_stream.collect():
            want = corpus.tokens_by_source.get(r.source)
            if r.tokens != want or r.extent != want:
                failed += r.docs
        return failed, len(found)

    def warmup(self, spark) -> None:
        # a pass over the real corpus: a fresh context needs one before its
        # per-stage costs settle
        self.inputs = self._load(spark, self.corpus)
        self._pass(spark, *self.inputs, self.corpus)

    def measure(self, spark, trace: bool) -> Outcome:
        docs, weights = self.inputs
        census = StageCensus(spark)
        passes = self._passes(
            lambda traced: self._pass(spark, docs, weights, self.corpus, census), trace
        )
        walls = [p["wall"] for p in passes if not p["traced"]]
        n = len(self.corpus.rows)
        o = Outcome(
            attempted=n * len(passes),
            failed=sum(p["failed"] for p in passes),
            throughput=n / median(walls),
            samples=len(walls),
            latency_ms=[w * 1000.0 for w in walls],
        )
        o.table = [
            ("docs_per_s", o.throughput, "1/s", len(walls)),
            ("corpus_docs", n, "count", 1),
        ]
        if trace:
            o.layer = _traced_layers(passes)
            o.layer["trace.overhead_pct"] = overhead_pct(
                walls, [p["wall"] for p in passes if p["traced"]]
            )
            from debezium_connector_vitess_spark.ops.dedup import minhash_lsh_candidates

            with self.tracer.span("minhash_lsh_candidates", "ops.dedup"):
                cand = minhash_lsh_candidates(docs, "text", "doc_id").count()
            o.layer["ops.dedup.candidate_pairs"] = float(cand)
            o.layer["ops.dedup.candidate_precision"] = (
                o.layer["ops.dedup.verified_pairs"] / cand if cand else 0.0
            )
        return o


WORKLOADS = {w.name: w for w in (CdcBackfill, CdcTail, CorpusCuration)}
