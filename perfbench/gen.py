"""Seeded input generator for the benchmark workloads.

Every table is built with numpy from one `numpy.random.default_rng(seed)`
stream and written with pyarrow (no Spark), so the same seed gives
byte-identical parquet files and a different seed gives different ones.
The program under test only ever sees the files.

Shapes follow the engine's catalog schemas (`schemas.TABLE_SCHEMAS`,
`schemas.GA4_EXPORT_RAW`) and the value domains of the sf-scaled tables
the registry queries were written against, plus the structure the
operators depend on:

- documents: 31-word vocabulary, Zipf-weighted words, a fixed share of
  exact duplicates and of near-duplicates (a few words changed), so exact
  dedup, MinHash-LSH pairs and contamination have real work;
- part / lineitem: 64 distinct part names (sorted-neighbourhood pairs),
  25 brands, orders of 1-7 lines over Zipf-skewed part keys, so the
  co-purchase graph has hubs, a non-empty k-core and multi-hop walks;
- GA4 raw export: nested rows over consecutive days, partitioned by
  `event_date`, with page_view -> add_to_cart -> purchase funnels whose
  revenues are multiples of 0.25 (float sums are exact in any order).
"""

from __future__ import annotations

import os
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
N_SOURCES = 20
ADJ = ("blue", "old", "small", "new", "large", "hot", "cold", "red")
NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
PTYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")

# Row counts per workload. At these sizes the operators are bound by Spark's
# per-job cost, not by data volume, and one pass takes 2-4 s on four cores;
# that is what lets every run (one JVM, warm-up, >= 3 timed passes) finish
# in well under a minute. The shape ratios (duplicate share, lines per
# order, Zipf skew) do not depend on the size.
SIZES = {
    "operators": {"documents": 120, "part": 2000, "lineitem": 20000},
    "ga4_medallion": {"users": 1500, "events": 15000, "days": 3},
}
EXACT_DUP_RATE = 0.03
NEAR_DUP_RATE = 0.12

_PARQUET = {"compression": "snappy", "use_dictionary": True, "write_statistics": True}


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, **_PARQUET)


def _zipf_p(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word sequences, plus exactly `EXACT_DUP_RATE * n` verbatim
    copies and `NEAR_DUP_RATE * n` copies with ~4% of words replaced."""
    lengths = rng.integers(8, 100, size=n)
    word_p = _zipf_p(len(WORDS), 0.6)[rng.permutation(len(WORDS))]
    n_exact, n_near = round(EXACT_DUP_RATE * n), round(NEAR_DUP_RATE * n)
    kind = np.zeros(n, dtype=np.int8)
    copies = rng.choice(np.arange(n // 4, n), size=n_exact + n_near, replace=False)
    kind[copies[:n_exact]], kind[copies[n_exact:]] = 1, 2
    docs: list[list[int]] = []
    for i in range(n):
        if kind[i] == 0:
            docs.append(rng.choice(len(WORDS), size=int(lengths[i]), p=word_p).tolist())
            continue
        w = list(docs[int(rng.integers(0, i))])
        if kind[i] == 2:
            for j in rng.choice(len(w), size=max(1, len(w) // 25), replace=False):
                w[j] = int(rng.integers(0, len(WORDS)))
        docs.append(w)
    text = [" ".join(WORDS[j] for j in w) for w in docs]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
        }
    )


def part(rng: np.random.Generator, n: int) -> pa.Table:
    a = rng.integers(0, len(ADJ), size=n)
    b = rng.integers(0, len(NOUN), size=n)
    return pa.table(
        {
            "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
            "p_name": pa.array([f"{ADJ[i]} {NOUN[j]}" for i, j in zip(a, b)], pa.string()),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, size=n)], pa.string()),
            "p_type": pa.array(rng.choice(PTYPES, size=n).tolist(), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, size=n).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2)),
        }
    )


def lineitem(rng: np.random.Generator, n: int, n_part: int) -> pa.Table:
    lines = rng.integers(1, 8, size=n // 2)
    lines = lines[: int(np.searchsorted(np.cumsum(lines), n)) + 1]
    orderkey = np.repeat(np.arange(len(lines), dtype=np.int64), lines)[:n]
    linenumber = (np.arange(len(orderkey)) - np.repeat(np.cumsum(lines) - lines, lines)[:n] + 1)
    n = len(orderkey)
    partkey = rng.permutation(n_part)[rng.choice(n_part, size=n, p=_zipf_p(n_part, 0.8))]
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    day0 = np.datetime64("1995-01-02", "us")
    ship = day0 + rng.integers(0, 2498, size=n) * np.timedelta64(86_400_000_000, "us")
    return pa.table(
        {
            "l_orderkey": pa.array(orderkey),
            "l_partkey": pa.array(partkey.astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, 1000, size=n).astype(np.int64)),
            "l_linenumber": pa.array(linenumber.astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, size=n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n).tolist(), pa.string()),
            "l_linestatus": pa.array(rng.choice(["O", "F"], size=n).tolist(), pa.string()),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )


GA4_START = date(2024, 1, 1)
GA4_EVENTS = ("page_view", "view_item", "add_to_cart", "begin_checkout", "purchase")
GA4_EVENT_P = (0.55, 0.2, 0.13, 0.07, 0.05)
GA4_SOURCES = ("google", "direct", "newsletter", "facebook", "bing")
GA4_MEDIUMS = ("organic", "(none)", "email", "social", "cpc")
GA4_DEVICES = ("desktop", "mobile", "tablet")
GA4_COUNTRIES = ("US", "DE", "FR", "IN", "BR", "JP")


def _nulls_except(struct_type: pa.StructType, n: int, given: dict) -> pa.StructArray:
    fields = [struct_type.field(i) for i in range(struct_type.num_fields)]
    arrays = [given.get(f.name, pa.nulls(n, f.type)) for f in fields]
    return pa.StructArray.from_arrays(arrays, fields=fields)


def ga4_raw(rng: np.random.Generator, users: int, events: int, days: int) -> dict[str, pa.Table]:
    """Nested GA4 export rows, one table per `event_date` ('YYYYMMDD')."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from commerce_data_pipeline_spark.schemas import GA4_EXPORT_RAW

    schema = to_arrow_schema(GA4_EXPORT_RAW)
    n = events
    uid = rng.integers(0, users, size=n)
    day = rng.integers(0, days, size=n)
    sec = rng.integers(0, 86_400, size=n)
    epoch0 = int((GA4_START - date(1970, 1, 1)).total_seconds())
    ts = (epoch0 + day * 86_400 + sec).astype(np.int64) * 1_000_000 + rng.integers(0, 1_000_000, size=n)
    name_idx = rng.choice(len(GA4_EVENTS), size=n, p=GA4_EVENT_P)
    is_purchase = name_idx == GA4_EVENTS.index("purchase")
    user_src = rng.integers(0, len(GA4_SOURCES), size=users)
    user_dev = rng.integers(0, len(GA4_DEVICES), size=users)
    user_geo = rng.integers(0, len(GA4_COUNTRIES), size=users)
    session = (day * 4 + sec // 21_600).astype(np.int64) + uid.astype(np.int64) * 1000
    page = rng.integers(0, 40, size=n)

    def s(values) -> pa.Array:
        return pa.array(values, pa.string())

    pv_type = schema.field("event_params").type.value_type
    val_type = pv_type.field("value").type
    offsets = pa.array(np.arange(0, 2 * n + 1, 2, dtype=np.int32))
    keys = s(np.tile(["ga_session_id", "page_location"], n).tolist())
    int_vals = np.empty(2 * n, dtype=object)
    int_vals[0::2] = session.tolist()
    str_vals = np.empty(2 * n, dtype=object)
    str_vals[1::2] = [f"https://shop.example/p/{p}" for p in page]
    vals = _nulls_except(
        val_type, 2 * n,
        {"int_value": pa.array(int_vals, pa.int64()), "string_value": s(str_vals)},
    )
    params = pa.ListArray.from_arrays(
        offsets, pa.StructArray.from_arrays([keys, vals], fields=list(pv_type))
    )
    revenue = np.where(is_purchase, rng.integers(4, 2000, size=n) * 0.25, np.nan)
    ecom_type = schema.field("ecommerce").type
    ecommerce = _nulls_except(
        ecom_type, n,
        {
            "purchase_revenue": pa.array(revenue, pa.float64(), from_pandas=True),
            "purchase_revenue_in_usd": pa.array(revenue, pa.float64(), from_pandas=True),
            "transaction_id": s([f"T{i}" if p else None for i, p in enumerate(is_purchase)]),
        },
    )
    ts_type = schema.field("traffic_source").type
    traffic = _nulls_except(
        ts_type, n,
        {
            "source": s([GA4_SOURCES[i] for i in user_src[uid]]),
            "medium": s([GA4_MEDIUMS[i] for i in user_src[uid]]),
        },
    )
    device = _nulls_except(
        schema.field("device").type, n,
        {"category": s([GA4_DEVICES[i] for i in user_dev[uid]])},
    )
    geo = _nulls_except(
        schema.field("geo").type, n,
        {"country": s([GA4_COUNTRIES[i] for i in user_geo[uid]])},
    )
    event_date = np.array(
        [(GA4_START + timedelta(days=int(d))).strftime("%Y%m%d") for d in range(days)]
    )[day]
    given = {
        "event_date": s(event_date.tolist()),
        "event_timestamp": pa.array(ts),
        "event_name": s([GA4_EVENTS[i] for i in name_idx]),
        "event_params": params,
        "user_pseudo_id": s([f"u{u}" for u in uid]),
        "traffic_source": traffic,
        "device": device,
        "geo": geo,
        "platform": s(["WEB"] * n),
        "stream_id": s(["1001"] * n),
        "ecommerce": ecommerce,
        "is_active_user": pa.array(np.ones(n, dtype=bool)),
    }
    cols = [given.get(f.name, pa.nulls(n, f.type)) for f in schema]
    table = pa.Table.from_arrays(cols, schema=schema).take(pa.array(np.argsort(ts, kind="stable")))
    out = {}
    for d in sorted(set(event_date.tolist())):
        mask = pa.compute.equal(table.column("event_date"), d)
        out[d] = table.filter(mask).drop_columns(["event_date"])
    return out


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write `workload`'s inputs for `seed` under `out_dir`; returns
    {"rows": {table: n}, "bytes": total input bytes, "shape": {...}}."""
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    size = SIZES[workload]
    rows: dict[str, int] = {}
    tables: dict[str, pa.Table] = {}
    if workload == "ga4_medallion":
        by_day = ga4_raw(rng, size["users"], size["events"], size["days"])
        for d, t in by_day.items():
            _write(t, os.path.join(out_dir, "ga4_raw", f"event_date={d}", "part-0.parquet"))
        rows["ga4_raw"] = sum(t.num_rows for t in by_day.values())
    else:
        if "documents" in size:
            tables["documents"] = documents(rng, size["documents"])
        if "part" in size:
            tables["part"] = part(rng, size["part"])
        if "lineitem" in size:
            tables["lineitem"] = lineitem(rng, size["lineitem"], size["part"])
        for name, t in tables.items():
            _write(t, os.path.join(out_dir, f"{name}.parquet"))
            rows[name] = t.num_rows
    nbytes = sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(out_dir) for f in fs
    )
    return {"rows": rows, "bytes": nbytes, "shape": shape(workload, tables, size)}


def shape(workload: str, tables: dict[str, pa.Table], size: dict) -> dict:
    """The input properties the operators depend on."""
    out: dict = {}
    if "documents" in tables:
        text = tables["documents"].column("text").to_pylist()
        out["doc_exact_dup_rate"] = round(1 - len(set(text)) / len(text), 4)
    if "lineitem" in tables:
        li = tables["lineitem"]
        ok = li.column("l_orderkey").to_numpy()
        pk = li.column("l_partkey").to_numpy()
        edges = set()
        order = np.argsort(ok, kind="stable")
        ok, pk = ok[order], pk[order]
        bounds = np.flatnonzero(np.diff(ok)) + 1
        for basket in np.split(pk, bounds):
            b = np.unique(basket)
            for i in range(len(b)):
                for j in range(i + 1, len(b)):
                    edges.add((int(b[i]), int(b[j])))
        out["copurchase_edges"] = len(edges)
    if workload == "ga4_medallion":
        out["days"] = size["days"]
    return out
