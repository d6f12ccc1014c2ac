"""Seeded input generators for the fraud-path benchmark.

The engine under test only ever sees the files written here. Everything is
a pure function of (workload, seed, seconds), so the same arguments give
byte-identical files (test_gen.py checks this).

Streaming workloads get JSON-lines files of Kafka-value payloads shaped like
the reference producer (`{transaction_id, event_time, amount, features}`):
lognormal amounts with a 5% x5-20 fraud spike, and a few percent malformed
or id-less payloads that the consumer must skip. Each file is one send of
the open-loop generator; `manifest.json` records when each file is due
(relative to its phase start), how many good and bad payloads it holds, and
the `event_time` stamped into its payloads, which identifies the file's due
time inside the engine's output.

analytics_ticks gets an `events.parquet` table in the engine's events
schema, and model_trickle also gets a labelled training set.

Usage: python3 gen.py <workload> <seed> <seconds> <out_dir>
"""
import json
import os
import random
import sys

import numpy as np

BAD_FRAC = 0.02       # truncated JSON payloads
NO_ID_FRAC = 0.01     # well-formed JSON without a transaction_id
SEND_EVERY_S = 0.1    # open-loop send period (one file per send)
PHASE_GAP_US = 600 * 1_000_000   # event_time distance between phases
SAMPLE_EVERY = 997    # every n-th good payload is kept for the proba check

# ingest_peak: repeated backlog drains, a fixed reference rate, then a
# ladder of higher offered rates.
INGEST_DRAINS = 4
INGEST_BACKLOG = 60_000
INGEST_BACKLOG_FILES = 8
INGEST_REF_EPS = 2_000
INGEST_LADDER_EPS = (8_000, 32_000, 96_000)
TRICKLE_EPS = 400
TRICKLE_SWAP_S = 10.0  # the phase in which the model is trained, registered and promoted
TRICKLE_SETTLE_S = 40.0  # at most this much unmeasured trickle after promote (it ends after 8 batches)
ANALYTICS_ROWS = 300_000
ANALYTICS_DAYS = 30
TRAIN_ROWS = 5_000


def _base_us(seed):
    # 2025-01-01T00:00:00Z plus a seed-chosen hour, so the night flag of
    # the scoring model differs between seeds; kept before 20:00 so the
    # run's phases stay inside one day partition.
    return (1735689600 + (seed % 20) * 3600) * 1_000_000


def _iso(us):
    s, frac = divmod(us, 1_000_000)
    d, rem = divmod(s, 86400)
    h, rem = divmod(rem, 3600)
    m, sec = divmod(rem, 60)
    y, mo, day = _civil(d)
    return "%04d-%02d-%02dT%02d:%02d:%02d.%06dZ" % (y, mo, day, h, m, sec, frac)


def _civil(days):
    # days since 1970-01-01 -> (year, month, day), proleptic Gregorian
    z = days + 719468
    era = z // 146097
    doe = z - era * 146097
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    y = yoe + era * 400
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    d = doy - (153 * mp + 2) // 5 + 1
    m = mp + 3 if mp < 10 else mp - 9
    return y + (m <= 2), m, d


class _Payloads:
    """Producer-shaped payloads with a running id counter."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.next_id = 0
        self.samples = []

    def amount(self):
        a = round(self.rng.lognormvariate(3.0, 1.0), 2)
        if self.rng.random() < 0.05:
            a = round(a * self.rng.uniform(5.0, 20.0), 2)
        return a

    def file_lines(self, n, ts_us, hour):
        """n payloads stamped with event_time ts_us; returns (lines, good, bad)."""
        rng = self.rng
        event_time = _iso(ts_us)
        lines, good, bad = [], 0, 0
        for _ in range(n):
            amount = self.amount()
            items = float(max(1, int(rng.gauss(2.0, 1.0))))
            risk = round(rng.random(), 6)
            feats = '{"num_items":%r,"merchant_risk":%r,"hour":%r}' % (items, risk, float(hour))
            u = rng.random()
            if u < BAD_FRAC:
                lines.append('{"transaction_id":"bad-%d","event_time":"%s","amount":%r,"feat'
                             % (self.next_id, event_time, amount))
                bad += 1
            elif u < BAD_FRAC + NO_ID_FRAC:
                lines.append('{"event_time":"%s","amount":%r,"features":%s}'
                             % (event_time, amount, feats))
                bad += 1
            else:
                tid = "tx-%09d" % self.next_id
                self.next_id += 1
                if self.next_id % SAMPLE_EVERY == 0:
                    self.samples.append({"id": tid, "amount": amount, "merchant_risk": risk,
                                         "ts_us": ts_us})
                lines.append('{"transaction_id":"%s","event_time":"%s","amount":%r,"features":%s}'
                             % (tid, event_time, amount, feats))
                good += 1
        return lines, good, bad


def _stream(out, seed, phases):
    """phases: list of (name, kind, rate_eps, duration_s or n_events, n_files)."""
    os.makedirs(os.path.join(out, "stream"), exist_ok=True)
    pay = _Payloads(seed)
    base = _base_us(seed)
    manifest = {"seed": seed, "phases": []}
    seq = 0
    for pi, (name, kind, rate, size, n_files) in enumerate(phases):
        files = []
        if kind == "drain":
            # the whole backlog is due at once, split like topic partitions
            sends = [(0.0, size // n_files)] * n_files
        else:
            sends = [(round(k * SEND_EVERY_S, 6), int(round(rate * SEND_EVERY_S)))
                     for k in range(int(round(size / SEND_EVERY_S)))]
        for due, n in sends:
            # one microsecond per file keeps every file's stamp unique
            ts = base + pi * PHASE_GAP_US + int(round(due * 1e6)) + seq
            hour = (ts // 3_600_000_000) % 24
            lines, good, bad = pay.file_lines(n, ts, hour)
            fname = "p%06d.json" % seq
            with open(os.path.join(out, "stream", fname), "w") as f:
                f.write("\n".join(lines) + "\n")
            files.append({"name": fname, "due_s": due, "good": good, "bad": bad, "ts_us": ts})
            seq += 1
        manifest["phases"].append({"name": name, "kind": kind, "rate_eps": rate, "files": files})
    manifest["samples"] = pay.samples
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)


def _training(path, seed):
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    amount = np.round(np.exp(rng.normal(3.0, 1.0, TRAIN_ROWS)), 2)
    spike = rng.random(TRAIN_ROWS) < 0.05
    amount = np.where(spike, np.round(amount * rng.uniform(5.0, 20.0, TRAIN_ROWS), 2), amount)
    items = np.maximum(1, rng.normal(2.0, 1.0, TRAIN_ROWS).astype(np.int64)).astype(np.float64)
    risk = rng.random(TRAIN_ROWS)
    hour = np.floor(rng.random(TRAIN_ROWS) * 24.0)
    night = np.isin(hour, (0.0, 1.0, 2.0, 3.0, 23.0)).astype(np.float64)
    p = 1.0 / (1.0 + np.exp(-(0.002 * amount + 1.5 * risk + 0.05 * night - 2.5)))
    label = (rng.random(TRAIN_ROWS) < p).astype(np.float64)
    pq.write_table(pa.table({"amount": amount, "num_items": items, "merchant_risk": risk,
                             "hour": hour, "label": label}), path)


def _events(path, seed):
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    n = ANALYTICS_ROWS
    start_us = 1704067200 * 1_000_000  # 2024-01-01
    ts = np.sort(rng.integers(0, ANALYTICS_DAYS * 86_400_000_000, n)) + start_us
    kinds = np.array(["view", "click", "purchase", "signup", "error"])
    amount = np.round(np.exp(rng.normal(3.0, 1.0, n)), 2)
    spike = rng.random(n) < 0.05
    amount = np.where(spike, np.round(amount * rng.uniform(5.0, 20.0, n), 2), amount)
    k = rng.integers(0, 100, n)
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 5000, n).astype(np.int64)),
        "event_type": pa.array(kinds[rng.integers(0, len(kinds), n)]),
        "value": pa.array(amount),
        "props": pa.array(['{"k": %d}' % v for v in k]),
    })
    pq.write_table(table, path, row_group_size=50_000)


def generate(workload, seed, seconds, out):
    os.makedirs(out, exist_ok=True)
    if workload == "ingest_peak":
        _stream(out, seed, [
            ("warm_rate", "rate", INGEST_REF_EPS, 3.0, 0),
            ("warm_drain", "drain", 0, INGEST_BACKLOG, INGEST_BACKLOG_FILES),
        ] + [("drain_%d" % i, "drain", 0, INGEST_BACKLOG, INGEST_BACKLOG_FILES)
             for i in range(INGEST_DRAINS)] + [
            ("ref", "rate", INGEST_REF_EPS, 0.5 * seconds, 0),
        ] + [("ladder_%d" % r, "rate", r, 0.1 * seconds, 0) for r in INGEST_LADDER_EPS])
    elif workload == "ingest_drain1":
        _stream(out, seed, [
            ("warm_drain", "drain", 0, 10_000, 1),
            ("drain_0", "drain", 0, INGEST_BACKLOG, INGEST_BACKLOG_FILES),
        ])
    elif workload == "model_trickle":
        _stream(out, seed, [
            ("swap", "rate", TRICKLE_EPS, TRICKLE_SWAP_S, 0),
            ("settle", "rate", TRICKLE_EPS, TRICKLE_SETTLE_S, 0),
            ("trickle", "rate", TRICKLE_EPS, float(seconds), 0),
        ])
        _training(os.path.join(out, "train.parquet"), seed)
    elif workload == "analytics_ticks":
        _events(os.path.join(out, "events.parquet"), seed)
        with open(os.path.join(out, "manifest.json"), "w") as f:
            json.dump({"seed": seed, "rows": ANALYTICS_ROWS}, f)
    else:
        raise ValueError("unknown workload %r" % workload)


if __name__ == "__main__":
    if len(sys.argv) != 5:
        sys.exit(__doc__.strip().splitlines()[-1])
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
