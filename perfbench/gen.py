"""Seeded input generators for the benchmark.

Two generators, both pure functions of the seed:

* ``write_tables(out_dir, sf, seed)`` writes the ten parquet tables the
  query registry reads (region, nation, customer, supplier, part, orders,
  lineitem, events, documents, embeddings) with the same schemas, value
  domains and parquet logical types as the engine's test tables.
* ``quake_ticks(seed, n)`` returns ``n`` GeoNet API responses, one per
  scheduler tick, together with the kept set each tick must submit.
  ``FIXTURE_TICK`` is the pinned FIXTURES.md section 2.1 response.
"""
import datetime as dt
import decimal
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ----------------------------------------------------------------- tables

# Row counts per scale factor. The star schema scales linearly; documents
# and embeddings keep the sizes of the engine's own test tables.
_LINEAR = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
           "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000}
_FIXED = {0.001: {"documents": 500, "embeddings": 500},
          0.1: {"documents": 5000, "embeddings": 2000}}

WORDS = ("a the data spark stream batch query table row column key value "
         "hash sort merge join filter scan group agg order part line "
         "customer window vector small big fast slow").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
PART_ADJ = np.array(["blue", "old", "small", "new", "large", "hot", "cold",
                     "red"])
PART_NOUN = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate",
                      "rod", "anvil"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                       "STANDARD"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])

_DAY_US = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d):
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _ts(values_us):
    return pa.array(np.asarray(values_us, dtype=np.int64), pa.timestamp("us"))


def _rng(seed, table):
    # one independent stream per table, so adding a column to one table
    # never reshuffles another
    return np.random.default_rng([seed, sum(map(ord, table))])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def table_sizes(sf):
    sizes = {k: max(1, int(round(v * sf))) for k, v in _LINEAR.items()}
    sizes.update(_FIXED[sf])
    return sizes


def _tables(sf, seed):
    n = table_sizes(sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, "customer")
    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": r.integers(0, 25, k).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, k),
        "c_mktsegment": SEGMENTS[r.integers(0, 5, k)]})

    r = _rng(seed, "supplier")
    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": r.integers(0, 25, k).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, k)})

    r = _rng(seed, "part")
    k = n["part"]
    keys = np.arange(k, dtype=np.int64)
    names = np.char.add(np.char.add(PART_ADJ[r.integers(0, 8, k)], " "),
                        PART_NOUN[r.integers(0, 8, k)])
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": names,
        "p_brand": np.char.add("Brand#", r.integers(1, 26, k).astype(str)),
        "p_type": PART_TYPES[r.integers(0, 6, k)],
        "p_size": r.integers(1, 51, k).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})

    r = _rng(seed, "orders")
    k = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": r.integers(0, n["customer"], k).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, k)],
        "o_totalprice": _money(r, 1000, 500_000, k),
        "o_orderdate": _ts(_us(dt.datetime(1995, 1, 1)) +
                           r.integers(0, 2404, k) * _DAY_US),
        "o_orderpriority": PRIORITIES[r.integers(0, 5, k)]})

    r = _rng(seed, "lineitem")
    k = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n["orders"], k).astype(np.int64),
        "l_partkey": r.integers(0, n["part"], k).astype(np.int64),
        "l_suppkey": r.integers(0, n["supplier"], k).astype(np.int64),
        "l_linenumber": r.integers(1, 8, k).astype(np.int32),
        "l_quantity": r.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(r, 900, 105_000, k),
        "l_discount": r.integers(0, 11, k) / 100.0,
        "l_tax": r.integers(0, 9, k) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, k)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, k)],
        "l_shipdate": _ts(_us(dt.datetime(1995, 1, 2)) +
                          r.integers(0, 2498, k) * _DAY_US)})

    r = _rng(seed, "events")
    k = n["events"]
    start = _us(dt.datetime(2024, 1, 1))
    # distinct, ascending microsecond instants over the 30 days just
    # before the registry's pinned "now" (2024-01-31T00:00:00Z)
    ts = np.sort(r.choice(30 * _DAY_US, size=k, replace=False)) + start
    out["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": r.integers(0, max(10, n["customer"] // 10), k)
        .astype(np.int64),
        "event_type": EVENT_TYPES[r.integers(0, 5, k)],
        "value": np.round(r.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)]})

    r = _rng(seed, "documents")
    k = n["documents"]
    words = np.array(WORDS)
    texts = []
    for i in range(k):
        if i > 0 and r.random() < 0.05:
            # a near-duplicate: an earlier document plus one marker token
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[r.integers(0, len(words),
                                                   int(r.integers(10, 101)))]))
    out["documents"] = pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": LANGS[r.choice(5, size=k, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    r = _rng(seed, "embeddings")
    k = n["embeddings"]
    v = r.standard_normal((k, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": r.integers(0, 10, k).astype(np.int32)})
    return out


def write_tables(out_dir, sf, seed):
    """Write every table for scale factor ``sf`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ------------------------------------------------------------ quake feed

MAX_FEATURES = 100          # the GeoNet feed's cap
MAX_AGE_MINUTES = 10080     # QuakeConfig default
TICK_MS = 3_600_000         # the scheduled job's period
BASE_NOW_MS = 1786060800000  # 2026-08-07T00:00:00Z
QUALITIES = ["best", "preliminary", "automatic", "deleted"]
QUALITY_P = [0.5, 0.3, 0.1, 0.1]
# -1..10: the -1 dictionary key, 0 (off both dictionaries), 10 (icon, no
# intensity) and every ordinary tier
MMIS = list(range(-1, 11))
TOWNS = ["Seddon", "Taupo", "Wellington", "Christchurch", "Gisborne",
         "Napier", "Hanmer Springs", "Te Anau", "Kaikoura", "Rotorua"]
DIRECTIONS = ["north", "south", "east", "west", "north-east", "south-west"]


def _iso(ms):
    return dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc) \
        .strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


def fmt1(x):
    """Render ``x`` the way the engine's ``format_string('%.1f')`` does:
    the shortest round-trip decimal, rounded half-up."""
    return str(decimal.Decimal(repr(x)).quantize(
        decimal.Decimal("0.1"), rounding=decimal.ROUND_HALF_UP))


def _hundredths(r, lo, hi):
    # two decimals, never on a %.1f half boundary
    h = int(r.integers(lo * 100, hi * 100))
    return (h + 1 if h % 10 == 5 else h) / 100.0


def _feature(q):
    return {"type": "Feature",
            "properties": {"publicID": q["publicID"], "time": q["time"],
                           "depth": q["depth"], "magnitude": q["magnitude"],
                           "mmi": q["mmi"], "locality": q["locality"],
                           "quality": q["quality"]},
            "geometry": {"type": "Point",
                         "coordinates": [q["lon"], q["lat"]]}}


def _expected(quakes, now_ms):
    """What the pipeline must submit: every quake no older than the max
    age whose quality is not 'deleted', keyed by CoT id."""
    kept = {}
    for q in quakes:
        age = (now_ms - q["time_ms"]) / 60000.0
        if age <= MAX_AGE_MINUTES and q["quality"] != "deleted":
            kept["earthquake-" + q["publicID"]] = {
                "callsign": f"M{fmt1(q['magnitude'])} {q['locality']}",
                "coordinates": [q["lon"], q["lat"], -q["depth"]]}
    return kept


def _tick(quakes, now_ms):
    body = json.dumps({"type": "FeatureCollection",
                       "features": [_feature(q) for q in quakes]},
                      separators=(",", ":"))
    return {"now_ms": now_ms, "body": body,
            "expected": _expected(quakes, now_ms)}


def quake_ticks(seed, n):
    """``n`` consecutive feed snapshots, one per tick.

    Quakes arrive as a Poisson stream (mean gap 120 minutes); a tick at
    ``now`` serves the newest ``MAX_FEATURES`` quakes at or before
    ``now``, newest first, so consecutive snapshots share most of their
    ids and the oldest rows straddle the max-age boundary."""
    r = np.random.default_rng([seed, 7])
    first_now = BASE_NOW_MS + TICK_MS
    last_now = BASE_NOW_MS + n * TICK_MS
    t = first_now - 10 * 24 * 3_600_000
    quakes = []
    while True:
        t += int(r.exponential(120 * 60_000)) + int(r.integers(1, 1000))
        if t > last_now:
            break
        seq = len(quakes) + 100
        quakes.append({
            "publicID": f"2026p{seq:06d}",
            "time_ms": t, "time": _iso(t),
            "depth": float(int(r.integers(0, 3000))) / 10.0,
            "magnitude": _hundredths(r, 1, 7),
            "mmi": int(r.choice(MMIS)),
            "locality": f"{int(r.integers(5, 60))} km "
                        f"{DIRECTIONS[int(r.integers(0, len(DIRECTIONS)))]} "
                        f"of {TOWNS[int(r.integers(0, len(TOWNS)))]}",
            "quality": QUALITIES[int(r.choice(4, p=QUALITY_P))],
            "lon": _hundredths(r, 166, 179),
            "lat": -_hundredths(r, 34, 47)})
    ticks, j = [], 0
    for i in range(1, n + 1):
        now = BASE_NOW_MS + i * TICK_MS
        while j < len(quakes) and quakes[j]["time_ms"] <= now:
            j += 1
        ticks.append(_tick(quakes[max(0, j - MAX_FEATURES):j][::-1], now))
    return ticks


def _fixture():
    rows = [  # FIXTURES.md section 2.1
        ("2026p000001", "2026-08-06T23:30:00.000Z", 12.3, 5.17, 6,
         "15 km east of Seddon", "best", 174.27, -41.67),
        ("2026p000002", "2026-08-06T23:59:00.000Z", 5.0, 3.95, 3,
         "10 km south of Taupo", "preliminary", 176.08, -38.80),
        ("2026p000003", "2026-07-01T00:00:00.000Z", 33.0, 4.50, 5,
         "old event beyond max age", "best", 173.00, -42.00),
        ("2026p000004", "2026-08-06T22:00:00.000Z", 8.0, 4.10, 4,
         "reclassified quarry blast", "deleted", 175.50, -40.50),
        ("2026p000005", "2026-08-06T12:00:00.000Z", 120.5, 6.82, 10,
         "deep, off-dictionary mmi", "best", 178.10, -37.90),
        ("2026p000006", "2026-01-15T03:00:00.000Z", 7.0, 5.05, -1,
         "NZDT-era event, dict key -1", "best", 172.60, -43.50)]
    quakes = []
    for pid, time, depth, mag, mmi, loc, quality, lon, lat in rows:
        ms = int(dt.datetime.strptime(time, "%Y-%m-%dT%H:%M:%S.%fZ")
                 .replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
        quakes.append({"publicID": pid, "time": time, "time_ms": ms,
                       "depth": depth, "magnitude": mag, "mmi": mmi,
                       "locality": loc, "quality": quality,
                       "lon": lon, "lat": lat})
    return _tick(quakes, BASE_NOW_MS)


FIXTURE_TICK = _fixture()
FIXTURE_KEPT = {"earthquake-2026p000001", "earthquake-2026p000002",
                "earthquake-2026p000005"}
