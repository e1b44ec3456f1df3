"""Seeded DMS envelope stream for the cdc_ingest workload, with its own
last-write-wins model of what the serving view must hold.

The stream has the wire shape of the reference pipeline: one single-line
JSON envelope per row change of testdb.retail_trans (DMS -> Kinesis,
"json-unformatted"), the same field distributions as the reference's fake
data generator, and files sized like Firehose flushes.

The reference generator only inserts. The shares of the classes below that
the repository's CDC fixture also holds are taken from that fixture
(src/main/scala/graft/tools/GenCdcFixture.scala: 250 inserts, 270 updates,
20 same-timestamp pairs, 50 deletes, 10 re-inserts, 10 unselected and 3
control records out of 613), see FIXTURE_MIX. The rest (redelivery, late,
too_late, malformed) and the recency skew of the updates are stress rates
chosen for this benchmark, with no traffic source behind them; see
STRESS_MIX and skewed_key. Every class is there for a reason the engine
has to get right:

  insert       new keys grow the serving state through the run, so per-trigger
               cost can be read against state size.
  update       recency-skewed (a chosen skew): most updates hit recently
               written keys, so a trigger dirties few buckets.
  tie          an update sharing its predecessor's timestamp; the
               (timestamp, transaction-id) order must pick the later txid.
  delete       tombstones: the serving merge keeps them, lookups hide them.
  reinsert     a deleted key comes back; the tombstone must lose to it.
  unselected   changes to other tables/schemas that the selection rule
               must keep out of the serving view; they carry newer
               timestamps for live keys, so a leak shows.
  control      DMS control records, which no data path may apply.
  redelivery   an exact copy of a line already sent (Kinesis/Firehose
               deliver at least once); the dedup state makes it a no-op.
  late         an update stamped 5-30 min behind the stream clock, inside
               the 1 h lateness window: applied by timestamp, not arrival.
  too_late     an insert of a fresh key stamped 2-3 h behind the clock,
               beyond the watermark: dropped and counted, and it would show
               up in the serving view if it were applied.
  malformed    truncated JSON, a missing or unparseable timestamp, a data
               record with no operation: each must land in the DLQ.

Batch sizes are bursty: each pass holds one file of each size in SIZES, in
seeded order, after the set-up files of WARMUP_SIZES. 20 envelopes is the
reference's 0.33 rec/s over one 60 s Firehose flush; 2500 is about one 1 MiB
Firehose buffer.

Usage: python3 cdcgen.py <seed> <passes> <out_dir>   (writes the stream)
"""
import datetime
import json
import os
import random
import sys

LATENESS_S = 3600            # CdcStreamPipeline.start's default lateness
FILE_SPAN_S = 60             # stream clock advance per file (one flush)
SIZES = (20, 60, 150, 500, 2500)
WARMUP_SIZES = (20, 2500, 150)   # the set-up triggers, before any timed pass
LOOKUP_KEYS = 100
T0 = datetime.datetime(2022, 3, 14, 14, 0, 0, tzinfo=datetime.timezone.utc)
EVENTS = ("visit", "view", "cart", "list", "like", "purchase")
DEVICES = ("pc", "mobile", "tablet")
FIELDS = ("trans_id", "customer_id", "event", "sku", "amount", "device",
          "trans_datetime")
# Draws per class in GenCdcFixture's 613 records. A tie draw emits an
# update and its same-timestamp twin, so the fixture's 20 tied records take
# their 20 base updates from its 270: 593 draws make 613 records.
FIXTURE_MIX = (("insert", 250), ("update", 250), ("tie", 20), ("delete", 50),
               ("reinsert", 10), ("unselected", 10), ("control", 3))
# Chosen stress rates, not from any traffic source: the share of draws that
# are one of these; the remaining draws follow FIXTURE_MIX.
STRESS_MIX = (("redelivery", 0.05), ("late", 0.05), ("too_late", 0.005),
              ("malformed", 0.01))
# Recency skew of updates, also chosen: an update picks a hot key with
# HOT_SHARE, otherwise the i-th newest live key with i ~ Exp(mean
# RECENT_MEAN); an updated key joins the hot set with HOT_PROMOTE.
HOT_SHARE, RECENT_MEAN, HOT_PROMOTE = 0.3, 40.0, 0.05


def draw_kind(rnd):
    """One record class: a stress class at its chosen rate, otherwise a
    fixture class in the fixture's proportions."""
    r = rnd.random()
    for name, share in STRESS_MIX:
        if r < share:
            return name
        r -= share
    return rnd.choices([k for k, _ in FIXTURE_MIX],
                       weights=[n for _, n in FIXTURE_MIX])[0]


def ts_str(us):
    """Fixed-width ISO-8601 with 6-digit microseconds, as DMS writes it."""
    t = T0 + datetime.timedelta(microseconds=us)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + "%06dZ" % t.microsecond


class Stream:
    """The generated stream plus the model's expectations.

    files[i]        lines of the i-th file; the first len(WARMUP_SIZES) are
                    the set-up triggers
    lookups[i]      keys looked up after file i commits
    answers[i]      {key: row} the lookup after file i must return
    snapshot        {key: row} of the final serving view
    dlq_lines       lines that must reach the DLQ
    late_dropped    records the watermark must drop
    """

    def __init__(self):
        self.files, self.lookups, self.answers = [], [], []
        self.snapshot, self.dlq_lines, self.late_dropped = {}, 0, 0


def generate(seed, passes):
    rnd = random.Random(seed)
    out = Stream()
    state = {}          # key -> (ts, txid, op, row): the model's LWW state
    row_of = {}         # key -> newest row image the source table holds
    deleted = []        # keys whose newest source change is a delete
    live = []           # keys alive in the source, oldest first
    hot = []            # keys updated most, the skew target
    sent = []           # (line, record) of this file and the one before
    next_key = [1]
    next_tx = [8590000000]
    max_event_us = [None]   # newest selected event time seen so far

    def txid():
        next_tx[0] += rnd.randint(1, 50)
        return next_tx[0]

    def digits(n):
        return "".join(str(rnd.randint(0, 9)) for _ in range(n))

    def letters(n):
        return "".join(chr(65 + rnd.randint(0, 25)) for _ in range(n))

    def amount(ev):
        return rnd.randint(0, 100) if ev in ("cart", "purchase") else 1

    def fresh_row(key):
        ev = rnd.choice(EVENTS + (None,))
        sec = rnd.randint(0, 86399)
        return {"trans_id": key, "customer_id": digits(12), "event": ev,
                "sku": letters(2) + digits(4) + letters(4),
                "amount": amount(ev or "visit"), "device": rnd.choice(DEVICES),
                "trans_datetime": "2022-03-14T%02d:%02d:%02dZ"
                % (sec // 3600, sec % 3600 // 60, sec % 60)}

    def mutate(row):
        ev = rnd.choice(EVENTS)
        return dict(row, event=ev, amount=amount(ev),
                    device=rnd.choice(DEVICES))

    def envelope(row, us, op, tx, schema="testdb", table="retail_trans",
                 rtype="data"):
        return json.dumps({"data": row, "metadata": {
            "timestamp": ts_str(us), "record-type": rtype, "operation": op,
            "partition-key-type": "primary-key", "schema-name": schema,
            "table-name": table, "transaction-id": tx}})

    def skewed_key():
        # recency skew: geometric over the newest live keys, plus a hot set
        if hot and rnd.random() < HOT_SHARE:
            return rnd.choice(hot)
        i = min(int(rnd.expovariate(1 / RECENT_MEAN)), len(live) - 1)
        return live[-1 - i]

    def make_file(size, clock_us):
        """Lines of one file plus the selected records it applies."""
        lines, records = [], []   # records: (key, us, tx, op, row)

        def emit(key, us, op, row, tx=None):
            tx = txid() if tx is None else tx
            line = envelope(row, us, op, tx)
            lines.append(line)
            records.append((key, us, tx, op, row))
            sent.append((line, (key, us, tx, op, row)))
            return tx

        def insert_new(us):
            key = next_key[0]
            next_key[0] += 1
            row = fresh_row(key)
            row_of[key] = row
            live.append(key)
            emit(key, us, "insert", row)

        for n in range(size):
            us = clock_us + n * (FILE_SPAN_S * 1_000_000 // size)
            kind = draw_kind(rnd)
            if not live or kind == "insert":
                insert_new(us)
            elif kind == "update":
                key = skewed_key()
                row_of[key] = mutate(row_of[key])
                emit(key, us, "update", row_of[key])
                if rnd.random() < HOT_PROMOTE and key not in hot:
                    hot.append(key)
            elif kind == "tie":
                key = skewed_key()
                row_of[key] = mutate(row_of[key])
                emit(key, us, "update", row_of[key])
                row_of[key] = mutate(row_of[key])
                emit(key, us, "update", row_of[key])
            elif kind == "delete":
                key = skewed_key()
                live.remove(key)
                if key in hot:
                    hot.remove(key)
                deleted.append(key)
                emit(key, us, "delete", row_of[key])
            elif kind == "reinsert":
                if not deleted:
                    insert_new(us)
                    continue
                key = deleted.pop(rnd.randrange(len(deleted)))
                row_of[key] = fresh_row(key)
                live.append(key)
                emit(key, us, "insert", row_of[key])
            elif kind == "redelivery":
                if not sent:
                    insert_new(us)
                    continue
                line, rec = rnd.choice(sent)
                lines.append(line)
                records.append(rec)
            elif kind == "late":
                key = skewed_key()
                late_us = us - rnd.randint(300, 1800) * 1_000_000
                emit(key, late_us, "update", mutate(row_of[key]))
            elif kind == "too_late":
                if max_event_us[0] is None:
                    insert_new(us)
                    continue
                key = next_key[0]
                next_key[0] += 1
                old_us = us - rnd.randint(7200, 10800) * 1_000_000
                emit(key, old_us, "insert", fresh_row(key))
            elif kind == "unselected":
                key = skewed_key()
                schema, table = rnd.choice((("testdb", "other_table"),
                                            ("otherdb", "retail_trans")))
                lines.append(envelope(mutate(row_of[key]), us, "update",
                                      txid(), schema, table))
            elif kind == "control":
                lines.append(envelope(None, us, "create-table", txid(),
                                      rtype="control"))
            else:
                good = envelope(fresh_row(next_key[0]), us, "insert", txid())
                lines.append(rnd.choice((
                    good[:len(good) // 2],
                    good.replace('"timestamp": "', '"timestamp": "x'),
                    good.replace('"timestamp": ', '"ts": '),
                    good.replace('"operation": "insert"', '"operation": null'),
                )))
                out.dlq_lines += 1
        rnd.shuffle(lines)
        return lines, records

    def apply(records):
        """Watermark, then last-write-wins, the way the stream applies a file."""
        wm = None if max_event_us[0] is None else \
            max_event_us[0] - LATENESS_S * 1_000_000
        newest = max_event_us[0]
        for key, us, tx, op, row in records:
            newest = us if newest is None else max(newest, us)
            if wm is not None and us < wm:
                out.late_dropped += 1
                continue
            cur = state.get(key)
            if cur is None or (us, tx) > (cur[0], cur[1]):
                state[key] = (us, tx, op, row)
        max_event_us[0] = newest

    def live_row(key):
        cur = state.get(key)
        return None if cur is None or cur[2] == "delete" else cur[3]

    sizes = list(WARMUP_SIZES)
    for _ in range(passes):
        sizes += rnd.sample(SIZES, len(SIZES))
    clock = 0
    prev_start = 0
    for i, size in enumerate(sizes):
        # redeliveries repeat lines of this file or the one before it only
        del sent[:prev_start]
        prev_start = len(sent)
        lines, records = make_file(size, clock)
        apply(records)
        clock += FILE_SPAN_S * 1_000_000
        recent = list(dict.fromkeys(r[0] for r in records))
        keys = rnd.sample(recent, min(40, len(recent)))
        keys += rnd.sample(hot, min(30, len(hot)))
        everyone = range(1, next_key[0] + 20)
        keys += rnd.sample(everyone, min(30, len(everyone)))
        keys = list(dict.fromkeys(keys))[:LOOKUP_KEYS]
        out.files.append(lines)
        out.lookups.append(keys)
        out.answers.append({k: live_row(k) for k in keys
                            if live_row(k) is not None})
    out.snapshot = {k: live_row(k) for k in state if live_row(k) is not None}
    return out


def row_tuple(row):
    return [row[f] for f in FIELDS]


def write(stream, out_dir):
    """Writes files, lookup keys and the model to out_dir."""
    os.makedirs(os.path.join(out_dir, "files"), exist_ok=True)
    for i, lines in enumerate(stream.files):
        with open(os.path.join(out_dir, "files", "%05d.jsonl" % i), "w") as f:
            f.write("\n".join(lines) + "\n")
    with open(os.path.join(out_dir, "lookups.txt"), "w") as f:
        for keys in stream.lookups:
            f.write(",".join(map(str, keys)) + "\n")


def main():
    seed, passes, out_dir = int(sys.argv[1]), int(sys.argv[2]), sys.argv[3]
    write(generate(seed, passes), out_dir)


if __name__ == "__main__":
    main()
