"""Seeded wire-format VStream recordings with ground truth.

The recorder is built only on the public ``sources.wire`` serde
(``pack_row``, ``vevent_to_json``), so an edit to the engine's own fixtures
cannot change the benchmark's inputs.

Shape: one keyspace, 4 shards x 3 tables, 10-row transactions with mixed
c/u/d row events over Zipf-skewed keys. A key ``(table, id)`` lives on shard
``id % 4`` and appears at most once per transaction, so its history is
totally ordered by the shard's GTID sequence. Every shard file opens with a
prelude transaction carrying the three FIELD events.

Run as a script, this module is the open-loop generator of ``cdc_tail``::

    python3 perfbench/gen_cdc.py --dir D --seed S --seconds 15

It precomputes its transactions, prints ``ready``, reads the start time
(epoch seconds) from stdin, then appends transaction ``i`` to its shard file
when it falls due at ``start + i / tx_rate`` (``TAIL_RATE`` row events/s),
whether or not the engine keeps up. Each event is stamped with its due time.
When done it prints one JSON line with the lateness of its writes.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import os
import random
import string
import sys
import time
from dataclasses import dataclass

KEYSPACE = "commerce"
SHARDS = ("-40", "40-80", "80-c0", "c0-")
TABLES = ("orders", "customers", "items")
COLUMNS = ("id", "qty", "name", "price")
TX_ROWS = 10
TOPIC_PREFIX = "bench"
#: raw rows the replay source emits for one data transaction: BEGIN, the
#: ROW events and COMMIT (the VGTID event becomes the position, not a row)
RAW_ROWS_PER_TX = TX_ROWS + 2
#: raw rows of a shard's prelude: BEGIN, one FIELD per table, COMMIT
RAW_ROWS_PER_PRELUDE = len(TABLES) + 2
#: lines (VEvents) in a shard file: the VGTID event has its own line
LINES_PER_TX = RAW_ROWS_PER_TX + 1
LINES_PER_PRELUDE = RAW_ROWS_PER_PRELUDE + 1
BACKFILL_EPOCH_NS = 1_700_000_000 * 10**9
#: row events per second ``cdc_tail`` offers
TAIL_RATE = 1000.0
#: ids per shard per table, and the Zipf exponent of their popularity
KEYS_PER_SHARD = 3000
ZIPF_S = 1.1


def _wire():
    from debezium_connector_vitess_spark.sources import wire

    return wire


def _fields():
    w = _wire()
    return (
        w.WireField("id", "INT64", "bigint(20)", 3),  # NOT_NULL | PRI_KEY
        w.WireField("qty", "INT64", "bigint(20)", 0),
        w.WireField("name", "VARCHAR", "varchar(64)", 0),
        w.WireField("price", "FLOAT64", "double", 0),
    )


def field_dicts() -> list[dict]:
    """The FIELD event columns as ``VitessCdcEngine.schema_from_field_event``
    takes them."""
    return [
        {"name": f.name, "type": f.type, "column_type": f.column_type, "flags": f.flags}
        for f in _fields()
    ]


def cells(image: tuple | None) -> list[str] | None:
    """Row image ``(id, qty, name, price)`` → its text cells, the form both
    the packed row and the JSON record carry."""
    if image is None:
        return None
    i, qty, name, price = image
    return [str(i), str(qty), name, repr(price)]


@dataclass(frozen=True)
class RowChange:
    table: str
    id: int
    op: str  # c | u | d
    before: tuple | None
    after: tuple | None

    @property
    def key(self) -> str:
        return '{"id":%d}' % self.id

    @property
    def topic(self) -> str:
        return f"{TOPIC_PREFIX}.{self.table}"


@dataclass(frozen=True)
class Tx:
    index: int
    shard: str
    seq: int
    rows: tuple[RowChange, ...]

    @property
    def gtid(self) -> str:
        return f"MySQL56/host0:1-{self.seq}"


def record_digest(topic: str, op: str, key: str, gtid: str, before, after) -> int:
    """Order-independent checksum term of one emitted record: the first 40
    bits of the md5 of its canonical text. The sink computes the same term
    from the record's JSON (see ``workloads.cdc_checksum_cols``)."""
    parts = [topic, op, key, gtid]
    for image in (before, after):
        parts.extend(cells(image) or ["~"] * len(COLUMNS))
    return int(hashlib.md5("|".join(parts).encode()).hexdigest()[:10], 16)


class Recorder:
    """Deterministic transaction source: the same seed yields the same
    transactions, in the generator process and in the benchmark."""

    def __init__(self, seed: int):
        self._rng = random.Random(seed)
        weights = [1.0 / (r**ZIPF_S) for r in range(1, KEYS_PER_SHARD + 1)]
        self._cdf = []
        acc = 0.0
        for w in weights:
            acc += w
            self._cdf.append(acc)
        # hot ranks land on scattered ids, not on ids 0..k
        self._slot = list(range(KEYS_PER_SHARD))
        self._rng.shuffle(self._slot)
        self._live: dict[tuple[str, int], tuple] = {}
        self._seq = {s: 1 for s in SHARDS}  # seq 1 is the prelude
        self._n = 0

    def _image(self, key_id: int) -> tuple:
        r = self._rng
        name = "".join(r.choices(string.ascii_lowercase, k=r.randint(6, 14)))
        return (key_id, r.randrange(1, 1000), name, r.randrange(1, 400_000) / 4)

    def next_tx(self) -> Tx:
        shard_i = self._n % len(SHARDS)
        shard = SHARDS[shard_i]
        r = self._rng
        rows = []
        touched = set()
        while len(rows) < TX_ROWS:
            table = TABLES[r.randrange(len(TABLES))]
            rank = bisect.bisect_left(self._cdf, r.random() * self._cdf[-1])
            key_id = self._slot[min(rank, len(self._slot) - 1)] * len(SHARDS) + shard_i
            if (table, key_id) in touched:
                continue
            touched.add((table, key_id))
            old = self._live.get((table, key_id))
            if old is None:
                new = self._image(key_id)
                rows.append(RowChange(table, key_id, "c", None, new))
                self._live[(table, key_id)] = new
            elif r.random() < 0.8:
                new = self._image(key_id)
                rows.append(RowChange(table, key_id, "u", old, new))
                self._live[(table, key_id)] = new
            else:
                rows.append(RowChange(table, key_id, "d", old, None))
                del self._live[(table, key_id)]
        self._seq[shard] += 1
        tx = Tx(self._n, shard, self._seq[shard], tuple(rows))
        self._n += 1
        return tx

    def take(self, n_tx: int) -> list[Tx]:
        return [self.next_tx() for _ in range(n_tx)]


def _vgtid_event(shard: str, seq: int, ts_ns: int):
    from debezium_connector_vitess_spark.vgtid import ShardGtid

    w = _wire()
    return w.WireVEvent(
        "VGTID",
        current_time=ts_ns,
        vgtid=w.WireVgtid(
            shard_gtids=(ShardGtid(KEYSPACE, shard, f"MySQL56/host0:1-{seq}"),)
        ),
    )


def prelude_lines(shard: str, ts_ns: int) -> list[str]:
    """The opening transaction of a shard file: the FIELD events, seq 1."""
    w = _wire()
    fields = _fields()
    evs = [w.WireVEvent("BEGIN", current_time=ts_ns, keyspace=KEYSPACE, shard=shard)]
    for table in TABLES:
        evs.append(
            w.WireVEvent(
                "FIELD",
                current_time=ts_ns,
                field_event=w.WireFieldEvent(
                    table_name=f"{KEYSPACE}.{table}",
                    fields=fields,
                    keyspace=KEYSPACE,
                    shard=shard,
                ),
            )
        )
    evs.append(_vgtid_event(shard, 1, ts_ns))
    evs.append(w.WireVEvent("COMMIT", current_time=ts_ns, keyspace=KEYSPACE, shard=shard))
    return [w.vevent_to_json(ev) for ev in evs]


def tx_lines(tx: Tx, ts_ns: int) -> list[str]:
    """One transaction as wire VEvent JSON lines, every event stamped
    ``ts_ns``."""
    w = _wire()

    def packed(image):
        if image is None:
            return None
        return w.pack_row([c.encode() for c in cells(image)])

    evs = [w.WireVEvent("BEGIN", current_time=ts_ns, keyspace=KEYSPACE, shard=tx.shard)]
    for rc in tx.rows:
        evs.append(
            w.WireVEvent(
                "ROW",
                current_time=ts_ns,
                row_event=w.WireRowEvent(
                    table_name=f"{KEYSPACE}.{rc.table}",
                    row_changes=(w.WireRowChange(packed(rc.before), packed(rc.after)),),
                    keyspace=KEYSPACE,
                    shard=tx.shard,
                ),
            )
        )
    evs.append(_vgtid_event(tx.shard, tx.seq, ts_ns))
    evs.append(w.WireVEvent("COMMIT", current_time=ts_ns, keyspace=KEYSPACE, shard=tx.shard))
    return [w.vevent_to_json(ev) for ev in evs]


def shard_path(directory: str, shard: str) -> str:
    return os.path.join(directory, f"{shard}.jsonl")


def write_prelude(directory: str, ts_ns: int) -> None:
    os.makedirs(directory, exist_ok=True)
    for shard in SHARDS:
        with open(shard_path(directory, shard), "w", encoding="utf-8") as fh:
            fh.write("\n".join(prelude_lines(shard, ts_ns)) + "\n")


def append_txs(directory: str, txs: list[Tx], ts_ns) -> None:
    """Appends ``txs`` to their shard files, each stamped ``ts_ns(tx)``."""
    handles = {s: open(shard_path(directory, s), "a", encoding="utf-8") for s in SHARDS}
    try:
        for tx in txs:
            handles[tx.shard].write("\n".join(tx_lines(tx, ts_ns(tx))) + "\n")
    finally:
        for fh in handles.values():
            fh.close()


def write_recording(directory: str, txs: list[Tx]) -> None:
    """A complete backlog: prelude plus ``txs``, timestamps 10 ms apart."""
    write_prelude(directory, BACKFILL_EPOCH_NS)
    append_txs(directory, txs, lambda tx: BACKFILL_EPOCH_NS + (tx.index + 1) * 10_000_000)


def line_counts(directory: str) -> dict[str, int]:
    """{shard: lines in its file}: a replay-source offset at the file ends."""
    out = {}
    for shard in SHARDS:
        with open(shard_path(directory, shard), "rb") as fh:
            out[shard] = sum(1 for _ in fh)
    return out


def expected_sink(txs: list[Tx]) -> dict[tuple[str, str], tuple[int, int]]:
    """Per (topic, op): the record count and checksum the sink must see."""
    out: dict[tuple[str, str], list[int]] = {}
    for tx in txs:
        for rc in tx.rows:
            acc = out.setdefault((rc.topic, rc.op), [0, 0])
            acc[0] += 1
            acc[1] += record_digest(rc.topic, rc.op, rc.key, tx.gtid, rc.before, rc.after)
    return {k: (v[0], v[1]) for k, v in out.items()}


def tail_txs(seed: int, seconds: float) -> list[Tx]:
    """The transactions ``cdc_tail`` offers in ``seconds``."""
    return Recorder(seed).take(max(1, int(TAIL_RATE * seconds / TX_ROWS)))


def _serve(directory: str, seed: int, seconds: float) -> dict:
    txs = tail_txs(seed, seconds)
    tx_rate = TAIL_RATE / TX_ROWS
    print("ready", flush=True)
    start = float(sys.stdin.readline())
    payloads = [
        "\n".join(tx_lines(tx, int((start + tx.index / tx_rate) * 1e9))) + "\n"
        for tx in txs
    ]
    handles = {s: open(shard_path(directory, s), "a", encoding="utf-8") for s in SHARDS}
    late = []
    try:
        for tx, payload in zip(txs, payloads):
            due = start + tx.index / tx_rate
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            fh = handles[tx.shard]
            fh.write(payload)
            fh.flush()
            late.append(max(0.0, time.time() - due) * 1000.0)
    finally:
        for fh in handles.values():
            fh.close()
    from harness import percentile

    return {
        "transactions": len(txs),
        "lateness_ms_p50": percentile(late, 0.50),
        "lateness_ms_p99": percentile(late, 0.99),
        "lateness_ms_max": max(late),
    }


def main(argv: list[str]) -> int:
    import argparse

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--dir", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    a = p.parse_args(argv)
    print(json.dumps(_serve(a.dir, a.seed, a.seconds)), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main(sys.argv[1:]))
