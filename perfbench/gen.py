"""Seeded input generators for the benchmark.

Everything the program reads is made here from the seed alone, outside the
timed region:

* ``harness_tables`` writes the harness parquet tables the registry queries
  read (schemas as in FIXTURES.md section B).
* ``EtlSchedule`` writes FRED payloads (``fred_{id}.json``) and a BLS batch
  (``bls.json``) in the FIXTURES.md A1/A2 shapes, one directory per day, and
  knows the run report every day must produce and the final warehouse state.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def orders_customer_events(out_dir, seed, n_orders, n_customers, n_events):
    r = _rng(seed, 1)
    day0 = np.datetime64("1995-01-01", "us")
    days = r.integers(0, 2404, n_orders).astype("timedelta64[D]").astype("timedelta64[us]")
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_customers, n_orders, dtype=np.int64)),
        "o_orderstatus": pa.array(r.choice(["P", "O", "F"], n_orders)),
        "o_totalprice": pa.array(np.round(r.uniform(1000, 500000, n_orders), 2)),
        "o_orderdate": pa.array(day0 + days, pa.timestamp("us")),
        "o_orderpriority": pa.array(r.choice(PRIORITIES, n_orders)),
    }))
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_customers, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_customers)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_customers, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_customers), 2)),
        "c_mktsegment": pa.array(r.choice(SEGMENTS, n_customers)),
    }))
    # events: strictly increasing timestamps over January 2024
    gaps = r.integers(1, 2 * (30 * 86400 * 10**6) // n_events, n_events)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 150, n_events, dtype=np.int64)),
        "event_type": pa.array(r.choice(EVENT_TYPES, n_events)),
        "value": pa.array(np.round(r.uniform(0, 50, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)]),
    }))


def documents_embeddings(out_dir, seed, n_docs, n_vecs, dim=64):
    r = _rng(seed, 2)
    texts = []
    for _ in range(n_docs):
        words = list(r.choice(WORDS, int(r.integers(10, 100))))
        if r.random() < 0.05:
            words.insert(int(r.integers(0, len(words))), "dup")
        texts.append(" ".join(words))
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(r.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i}" for i in r.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }))
    v = r.standard_normal((n_vecs, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vecs, dtype=np.int32)),
    }))


def harness_tables(out_dir, seed, tables):
    """Writes the named table groups ("orders" or "documents") to out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    if "orders" in tables:
        orders_customer_events(out_dir, seed, tables["orders"], 1500, 10000)
    if "documents" in tables:
        documents_embeddings(out_dir, seed, tables["documents"], tables["documents"])


def _month(start, k):
    y, m = divmod(start.month - 1 + k, 12)
    return datetime.date(start.year + y, m + 1, 1)


def _months_between(start, end):
    return (end.year - start.year) * 12 + end.month - start.month


# The paper's series registry (src/main/scala/graft/model/SeriesRegistry.scala,
# after the reference's src/config.py:28-52): 9 FRED series, each with its
# publication frequency, and 5 BLS series fetched as one batch.
FRED_REGISTRY = [("PCE_NOMINAL", "PCEC", "Q"), ("PCE_REAL", "PCECC96", "Q"),
                 ("RETAIL_SALES", "RSXFS", "M"), ("SENTIMENT", "UMCSENT", "M"),
                 ("CPI_ALL", "CPIAUCSL", "M"), ("GDP_REAL", "GDPC1", "Q"),
                 ("UNRATE", "UNRATE", "M"), ("SAVINGS_RATE", "PSAVERT", "M"),
                 ("MONEY_COST", "FEDFUNDS", "M")]
BLS_REGISTRY = [("CPI_URBAN", "CUUR0000SA0"), ("CPI_CORE", "CUUR0000SA0L1E"),
                ("GAS_PRICE", "APU000074714"), ("AVG_WAGES", "CES0500000003"),
                ("WAGE_INDEX", "CIU2020000000000I")]


class EtlSchedule:
    """A seeded FRED/BLS history on a monthly release calendar.

    Day 0 is the backfill. Every series publishes about once a month: a
    release adds the next period and revises the one before it, as monthly
    statistical releases do. A month is taken as 21 business days with the
    14 releases on the days that are not a multiple of 3, so every 3-day
    block is two release days (one series each) and one quiet day, and
    about 1 in 21 series changes per day. Which series releases on which
    slot, and every value, come from the seed; whether a slot is a monthly
    FRED, a quarterly FRED or a BLS release is fixed, so every seed's run
    does the same work.
    Unchanged payloads are byte-identical to the day before, so the
    hash-skip path and the classify/upsert path both run.

    History sizes follow the reference's envelope (SURVEY.md section 6):
    FRED from 1960 (monthly ~770 observations, quarterly ~260), BLS from
    the pipeline's 2021 start year. BLS series are all generated monthly,
    the only period format ("Mxx") the BLS parser reads.
    """

    FRED_START = datetime.date(1960, 1, 1)
    BLS_START = datetime.date(2021, 1, 1)
    BASE_DATE = datetime.date(2024, 6, 1)
    CYCLE = 21
    # the 14 release slots: 6 monthly FRED, 3 quarterly FRED, 5 BLS
    SLOTS = ["FM", "FQ", "B", "FM", "FM", "B", "FQ", "FM", "B", "FM", "B", "FQ", "B", "FM"]

    def __init__(self, seed):
        self.seed = seed
        self.fred = [(name, sid) for name, sid, _ in FRED_REGISTRY]
        self.bls = list(BLS_REGISTRY)
        self.freq = {sid: f for _, sid, f in FRED_REGISTRY}

    def _initial(self, r):
        def series(start, step, n):
            walk = np.round(100 + np.cumsum(r.normal(0, 1, n)), 2)
            missing = r.random(n) < 0.03
            return [[_month(start, k * step), None if m else float(x)]
                    for k, (x, m) in enumerate(zip(walk, missing))]
        months = _months_between(self.FRED_START, self.BASE_DATE)
        fred = {sid: series(self.FRED_START, 3, months // 3) if self.freq[sid] == "Q"
                else series(self.FRED_START, 1, months) for _, sid in self.fred}
        bls_months = _months_between(self.BLS_START, self.BASE_DATE)
        bls = {sid: series(self.BLS_START, 1, bls_months) for _, sid in self.bls}
        return fred, bls

    @staticmethod
    def _release(r, obs, step):
        """Adds the next period and revises the latest one."""
        last = obs[-1][1] if obs[-1][1] is not None else 100.0
        obs[-1][1] = round(last + float(r.uniform(0.01, 2.0)), 2)
        obs.append([_month(obs[-1][0], step), round(obs[-1][1] + float(r.normal(0, 1)), 2)])

    def days(self, n_days):
        """Yields (day, fred, bls, changed fred id or None, bls changed,
        expected fact counts) for day 0..n_days; fred and bls map a series
        id to its [date, value] observations, value None when missing."""
        r = _rng(self.seed, 3)
        fred, bls = self._initial(r)
        total = sum(map(len, fred.values())) + sum(map(len, bls.values()))
        yield 0, fred, bls, None, True, {"inserted": total, "updated": 0, "unchanged": 0}
        queues = {}
        for day in range(1, n_days + 1):
            pos = (day - 1) % self.CYCLE
            if pos == 0:
                queues = {"F" + f: [str(x) for x in r.permutation(
                    [sid for _, sid in self.fred if self.freq[sid] == f])] for f in "MQ"}
                queues["B"] = [str(x) for x in r.permutation([sid for _, sid in self.bls])]
            changed, bls_changed, inserted = None, False, 0
            if (pos + 1) % 3 != 0:
                slot = self.SLOTS[pos - pos // 3]
                sid = queues[slot].pop(0)
                if slot != "B":
                    self._release(r, fred[sid], 3 if slot == "FQ" else 1)
                    changed = sid
                else:
                    self._release(r, bls[sid], 1)
                    bls_changed = True
                inserted = 1
                total += 1
            yield day, fred, bls, changed, bls_changed, {
                "inserted": inserted, "updated": inserted,
                "unchanged": total - 2 * inserted}

    def fred_payload(self, obs):
        rows = []
        for date, v in obs:
            d = date.isoformat()
            rows.append({"date": d, "value": "." if v is None else f"{v:.2f}",
                         "realtime_start": d, "realtime_end": "9999-12-31"})
        return {"realtime_start": "1960-01-01", "realtime_end": "9999-12-31",
                "units": "Index", "output_type": 1, "count": len(rows), "offset": 0,
                "limit": 100000, "observations": rows}

    def bls_payload(self, bls):
        series = []
        for _, sid in self.bls:
            data = [{"year": str(d.year), "period": f"M{d.month:02d}",
                     "periodName": d.strftime("%B"),
                     "value": "-" if v is None else f"{v:.2f}", "footnotes": [{}]}
                    for d, v in bls[sid]]
            series.append({"seriesID": sid, "data": data[::-1]})  # most recent first
        return {"status": "REQUEST_SUCCEEDED", "responseTime": 150, "message": [],
                "Results": {"series": series}}

    def write(self, out_dir, n_days, days_per_round, setup_reps):
        """Writes day000..dayNNN plus series.json; returns the expected run
        report per day. Unchanged payloads are hard links to the day before."""
        expected = {}
        prev = None
        for day, fred, bls, changed, bls_changed, counts in self.days(n_days):
            d = os.path.join(out_dir, f"day{day:03d}")
            os.makedirs(d)
            files = {f"fred_{sid}.json": (sid == changed, lambda sid=sid: self.fred_payload(fred[sid]))
                     for _, sid in self.fred}
            files["bls.json"] = (bls_changed, lambda: self.bls_payload(bls))
            for name, (dirty, payload) in files.items():
                if dirty or prev is None:
                    with open(os.path.join(d, name), "w") as f:
                        json.dump(payload(), f)
                else:
                    os.link(os.path.join(prev, name), os.path.join(d, name))
            prev = d
            n_series = len(self.fred) + len(self.bls)
            expected[day] = {
                "fact": counts,
                "dim": {"inserted": n_series if day == 0 else 0,
                        "unchanged": 0 if day == 0 else n_series},
                "skipped": []}
        with open(os.path.join(out_dir, "series.json"), "w") as f:
            json.dump({"fred": [list(p) for p in self.fred], "bls": [list(p) for p in self.bls],
                       "base_date": self.BASE_DATE.isoformat(), "days": n_days,
                       "days_per_round": days_per_round, "setup_reps": setup_reps}, f)
        return expected

    def final_state(self, last_day):
        """(fact rows, dim rows) a correct warehouse holds after last_day,
        recomputed from that day's payloads."""
        for day, fred, bls, *_ in self.days(last_day):
            if day == last_day:
                break
        fact = [(sid, name, d, v, "FRED") for name, sid in self.fred for d, v in fred[sid]]
        fact += [(sid, name, d, v, "BLS") for name, sid in self.bls for d, v in bls[sid]]
        dim = [(sid, name, "FRED") for name, sid in self.fred] + \
              [(sid, name, "BLS") for name, sid in self.bls]
        return fact, dim
