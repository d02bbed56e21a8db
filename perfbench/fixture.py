"""Seeded input fixtures for the benchmark.

Every column is a pure function of (seed, column salt, row id): a
splitmix64 hash of the row id, salted by the seed, mapped to the
column's distribution. The same seed therefore gives byte-identical
tables on any machine, independent of thread count or row order.

Two fixtures:

* the catalog fixture: the ten tables the graft catalog reads
  (`<dir>/<table>.parquet`) at a given scale factor. Its encodings,
  row counts and value distributions are fitted to the statistics of
  the harness's seed-42 test tables at sf0.01 that
  `catalog_profile.json` records (see `profile_tables.py`; the
  timestamps are microseconds without a time zone, as there, not the
  older encodings FIXTURES.md lists), and `test_fixture.py` checks the
  fit. The profile holds marginals and a few structural figures; the
  joint structure beyond them (independent columns, uniform foreign
  keys) is an assumption that the co-occurrence-graph figure checks
  only for events.
* the taxi month: one TLC-shaped yellow-taxi month (January 2024)
  with the 19 base columns of the reference pipeline, drawn from the
  distributions of graft's `Profile taxi-year` generator
  (src/main/scala/graft/Profile.scala), over one month instead of a
  year; about 4% of rows carry a NULL, so `TaxiPipeline.clean` has
  work to do.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _mix(z):
    """splitmix64's finaliser; uint64 arithmetic wraps by design."""
    with np.errstate(over="ignore"):
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


class Hasher:
    """Column generators over row ids 0..n-1 for one seed."""

    def __init__(self, seed, n):
        with np.errstate(over="ignore"):
            self.key = _mix(np.uint64(seed) * _GOLDEN + np.uint64(1))
        self.ids = np.arange(n, dtype=np.uint64)
        self.n = n

    def bits(self, salt):
        with np.errstate(over="ignore"):
            salt_key = _mix(self.key ^ (np.uint64(salt) * _GOLDEN))
            return _mix(self.ids * _GOLDEN + salt_key)

    def unif(self, salt):
        return (self.bits(salt) >> np.uint64(11)).astype(np.float64) * 2.0 ** -53

    def ints(self, salt, lo, hi):
        """Uniform integers in [lo, hi]."""
        return (self.bits(salt) % np.uint64(hi - lo + 1)).astype(np.int64) + lo

    def choice(self, salt, values):
        return np.asarray(values, dtype=object)[self.ints(salt, 0, len(values) - 1)]

    def gauss(self, salt):
        u1 = np.maximum(self.unif(salt), 2.0 ** -53)
        u2 = self.unif(salt + 1000)
        return np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2)


def _money(x):
    return np.round(x, 2)


def _days(start, h, salt, span_days):
    """Midnights of `span_days` days from `start`, as microseconds
    (pyarrow does not convert day-unit datetimes to timestamps
    correctly)."""
    base = np.datetime64(start, "D")
    days = base + h.ints(salt, 0, span_days - 1).astype("timedelta64[D]")
    return days.astype("datetime64[us]")


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]


def catalog(out_dir, seed, sf):
    """Write the ten catalog tables at scale factor `sf`."""
    os.makedirs(out_dir, exist_ok=True)
    t = lambda name: os.path.join(out_dir, f"{name}.parquet")

    _write(t("region"), {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(t("nation"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n_cust = int(150000 * sf)
    h = Hasher(seed * 101 + 1, n_cust)
    _write(t("customer"), {
        "c_custkey": pa.array(h.ids.astype(np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(h.ints(1, 0, 24).astype(np.int32)),
        "c_acctbal": _money(h.unif(2) * 10999.98 - 999.99),
        "c_mktsegment": h.choice(3, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                     "HOUSEHOLD", "MACHINERY"])})

    n_supp = int(10000 * sf)
    h = Hasher(seed * 101 + 2, n_supp)
    _write(t("supplier"), {
        "s_suppkey": pa.array(h.ids.astype(np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(h.ints(1, 0, 24).astype(np.int32)),
        "s_acctbal": _money(h.unif(2) * 10999.98 - 999.99)})

    n_part = int(200000 * sf)
    h = Hasher(seed * 101 + 3, n_part)
    colour = h.choice(1, ["blue", "cold", "hot", "large", "new", "old", "red",
                          "small"])
    noun = h.choice(2, ["anvil", "bolt", "gear", "gizmo", "plate", "ring",
                        "rod", "widget"])
    _write(t("part"), {
        "p_partkey": pa.array(h.ids.astype(np.int64)),
        "p_name": [f"{c} {n}" for c, n in zip(colour, noun)],
        "p_brand": [f"Brand#{b}" for b in h.ints(3, 1, 25)],
        "p_type": h.choice(4, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                               "STANDARD"]),
        "p_size": pa.array(h.ints(5, 1, 50).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (h.ids % np.uint64(1000)) * 0.1, 1)})

    n_ord = int(1500000 * sf)
    h = Hasher(seed * 101 + 4, n_ord)
    _write(t("orders"), {
        "o_orderkey": pa.array(h.ids.astype(np.int64)),
        "o_custkey": h.ints(1, 0, n_cust - 1),
        "o_orderstatus": h.choice(2, ["F", "O", "P"]),
        "o_totalprice": _money(1000.0 + h.unif(3) * 499000.0),
        "o_orderdate": pa.array(_days("1995-01-01", h, 4, 2405), pa.timestamp("us")),
        "o_orderpriority": h.choice(5, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                        "4-NOT SPECIFIED", "5-LOW"])})

    n_li = int(6000000 * sf)
    h = Hasher(seed * 101 + 5, n_li)
    _write(t("lineitem"), {
        "l_orderkey": h.ints(1, 0, n_ord - 1),
        "l_partkey": h.ints(2, 0, n_part - 1),
        "l_suppkey": h.ints(3, 0, n_supp - 1),
        "l_linenumber": pa.array(h.ints(4, 1, 7).astype(np.int32)),
        "l_quantity": h.ints(5, 1, 50).astype(np.float64),
        "l_extendedprice": _money(900.0 + h.unif(6) * 104100.0),
        "l_discount": _money(h.unif(7) * 0.10),
        "l_tax": _money(h.unif(8) * 0.08),
        "l_returnflag": h.choice(9, ["A", "N", "R"]),
        "l_linestatus": h.choice(10, ["F", "O"]),
        "l_shipdate": pa.array(_days("1995-01-02", h, 11, 2499), pa.timestamp("us"))})

    n_ev = int(1000000 * sf)
    h = Hasher(seed * 101 + 6, n_ev)
    # event ids ascend with time, as in a log: sort the hashed instants
    ts = np.sort(h.ints(1, 0, 30 * 86400 * 10**6 - 1))
    _write(t("events"), {
        "event_id": pa.array(h.ids.astype(np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": h.ints(2, 0, int(15000 * sf) - 1),
        "event_type": h.choice(3, ["click", "error", "purchase", "signup", "view"]),
        "value": _money(-50.0 * np.log1p(-h.unif(4))),
        "props": [f'{{"k": {k}}}' for k in h.ints(5, 0, 99)]})

    n_doc = int(50000 * sf)
    h = Hasher(seed * 101 + 7, n_doc)
    lengths = h.ints(1, 10, 100)
    slots = Hasher(seed * 101 + 10, n_doc * 100).ints(0, 0, len(WORDS) - 1)
    words = np.asarray(WORDS, dtype=object)[slots.reshape(n_doc, 100)]
    texts = [" ".join(words[i, :n]) for i, n in enumerate(lengths)]
    # 5% near duplicates: an earlier document's text plus one token
    dup = h.unif(2) < 0.05
    src = h.bits(3)
    for i in np.nonzero(dup)[0][1:] if dup[0] else np.nonzero(dup)[0]:
        texts[i] = texts[int(src[i] % np.uint64(i))] + " dup"
    lang_u = h.unif(4)
    lang = np.where(lang_u < 0.41, "en", np.where(lang_u < 0.5575, "de",
                    np.where(lang_u < 0.705, "es", np.where(lang_u < 0.8525, "fr", "zh"))))
    _write(t("documents"), {
        "doc_id": pa.array(h.ids.astype(np.int64)),
        "text": texts,
        "lang": lang.astype(object),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})

    n_emb = max(500, int(20000 * sf))
    dim = 64
    h = Hasher(seed * 101 + 8, n_emb * dim)
    x = h.gauss(1).reshape(n_emb, dim)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    hl = Hasher(seed * 101 + 9, n_emb)
    _write(t("embeddings"), {
        "vec_id": pa.array(hl.ids.astype(np.int64)),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(hl.ints(1, 0, 9).astype(np.int32))})


def taxi_month(out_dir, seed, rows):
    """Write one TLC-shaped yellow-taxi month (January 2024) of `rows`
    raw trips, before cleaning."""
    os.makedirs(out_dir, exist_ok=True)
    h = Hasher(seed * 101 + 11, rows)
    u = h.unif
    null = lambda salt, p, values, typ: pa.array(values, typ, mask=u(salt) < p)
    pickup = np.datetime64("2024-01-01T00:00:00", "s") \
        + h.ints(1, 0, 31 * 86400 - 1).astype("timedelta64[s]")
    # short trips dominate; ~1% zero distances and ~0.5% zero durations
    # exercise the revenue_per_mile and avg_speed NULL guards
    dist = np.where(u(98) < 0.01, 0.0, _money(u(3) * u(3) * 20.0 + 0.3))
    dur = np.where(u(99) < 0.005, 0, (u(2) * u(2) * 5340.0).astype(np.int64) + 60)
    fare = np.where(u(97) < 0.003, 0.0,
                    _money(3.0 + 2.5 * dist + dur / 60.0 * 0.35 + u(9) * 2.0))
    pay_u = u(8)
    payment = np.select([pay_u < 0.55, pay_u < 0.85, pay_u < 0.90, pay_u < 0.95],
                        [1, 2, 3, 4], 5)
    pu = (u(5) * u(5) * 265.0).astype(np.int32) + 1
    do = (u(6) * u(6) * 265.0).astype(np.int32) + 1
    tip = np.where(payment == 1, _money(fare * u(10) * 0.3), 0.0)
    tolls = np.where(u(11) < 0.05, 6.55, 0.0)
    extra = np.select([u(12) < 0.3, u(12) < 0.5], [1.0, 0.5], 0.0)
    airport_zone = (pu == 132) | (pu == 138)
    cong = np.where(pu < 100, 2.5, 0.0)
    airport = np.where(airport_zone, 1.75, 0.0)
    cong_null, airport_null = u(13) < 0.01, u(14) < 0.01
    total = _money(fare + extra + 0.5 + tip + tolls + 1.0
                   + np.where(cong_null, 0.0, cong)
                   + np.where(airport_null, 0.0, airport))
    _write(os.path.join(out_dir, "part-0.parquet"), {
        "VendorID": pa.array(np.where(u(0) < 0.55, 1, 2).astype(np.int32)),
        "tpep_pickup_datetime": pa.array(pickup, pa.timestamp("us")),
        "tpep_dropoff_datetime": pa.array(pickup + dur.astype("timedelta64[s]"),
                                          pa.timestamp("us")),
        "passenger_count": null(4, 0.015, h.ints(15, 1, 5), pa.int64()),
        "trip_distance": dist,
        "RatecodeID": null(7, 0.015, np.where(airport_zone, 2, 1), pa.int64()),
        "store_and_fwd_flag": np.where(u(16) < 0.01, "Y", "N").astype(object),
        "PULocationID": pa.array(pu),
        "DOLocationID": pa.array(do),
        "payment_type": pa.array(payment.astype(np.int64)),
        "fare_amount": fare,
        "extra": extra,
        "mta_tax": np.full(rows, 0.5),
        "tip_amount": tip,
        "tolls_amount": tolls,
        "improvement_surcharge": np.full(rows, 1.0),
        "total_amount": total,
        "congestion_surcharge": pa.array(cong, pa.float64(), mask=cong_null),
        "Airport_fee": pa.array(airport, pa.float64(), mask=airport_null)})
