"""Seeded input generators and the reference models the benchmark checks against.

Every input the program sees is written here from ``--seed``: the same seed
writes byte-identical files (pyarrow writes no timestamps into parquet).

Inputs:
  * B3 raw v1 history (FIXTURES.md 1.1): comma-decimal ``part``,
    dotted-thousands ``theoricalQty`` (some negative), an all-null ``segment``
    column, duplicate ``(cod, date)`` rows and null ``cod`` rows, laid out as
    ``raw/date=YYYY-MM-DD/part-00000.parquet``.
  * TPC-H-shaped registry tables (the testdata schemas of FIXTURES.md 2)
    for the registry rows.

Model: a plain-Python re-statement of what EP2 must produce (the reference's
``etl/transform_1.py``), written without Spark so the checks share no code
with the program under test.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

B3_START = dt.date(2024, 1, 2)
WINDOW = 7


def trading_days(start, n):
    """The first ``n`` weekdays from ``start`` as ISO strings."""
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d.isoformat())
        d += dt.timedelta(days=1)
    return out


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _thousands(q):
    """1234567 -> '1.234.567' and -1234 -> '-1.234', the raw feed's format."""
    s = f"{abs(q):,}".replace(",", ".")
    return "-" + s if q < 0 else s


# --------------------------------------------------------------------------
# B3 v1: raw history for EP2 (full refresh)
# --------------------------------------------------------------------------

V1_SCHEMA = pa.schema([
    ("segment", pa.int32()), ("cod", pa.string()), ("asset", pa.string()),
    ("type", pa.string()), ("part", pa.string()), ("partAcum", pa.int32()),
    ("theoricalQty", pa.string()),
])


def gen_v1_history(rng, root, tickers, days):
    """Writes the v1 raw history under ``root``; returns its raw rows.

    Each row is ``(cod, asset, type, part_milli, qty, date)``, where
    ``part_milli`` is the participation in thousandths (the file holds it as
    ``"5,123"``). Every ticker trades every day; about one ticker-day in ten
    also carries a duplicate row with a different part and quantity, and
    every day has one row with a null ``cod``.
    """
    codes = [f"T{i:03d}3" for i in range(tickers)]
    assets = {c: f"ASSET {c}" for c in codes}
    kinds = {c: ("ON", "PN", "UNT")[i % 3] for i, c in enumerate(codes)}
    rows = []
    for day in trading_days(B3_START, days):
        day_rows = []
        for c in codes:
            part = int(rng.integers(1000, 9900))
            qty = int(rng.integers(-50_000, 5_000_000))
            day_rows.append((c, assets[c], kinds[c], part, qty, day))
            if rng.random() < 0.1:
                dup_part = part + int(rng.integers(1, 500)) * (1 if rng.random() < 0.5 else -1)
                day_rows.append((c, assets[c], kinds[c], dup_part,
                                 int(rng.integers(0, 5_000_000)), day))
        day_rows.append((None, "GHOST", "ON", int(rng.integers(1000, 9900)), 1000, day))
        order = rng.permutation(len(day_rows))
        day_rows = [day_rows[i] for i in order]
        rows.extend(day_rows)
        table = pa.table({
            "segment": pa.array([None] * len(day_rows), pa.int32()),
            "cod": [r[0] for r in day_rows],
            "asset": [r[1] for r in day_rows],
            "type": [r[2] for r in day_rows],
            "part": [f"{r[3] // 1000},{r[3] % 1000:03d}" for r in day_rows],
            "partAcum": pa.array([int(rng.integers(0, 100)) for _ in day_rows], pa.int32()),
            "theoricalQty": [_thousands(r[4]) for r in day_rows],
        }, schema=V1_SCHEMA)
        _write(table, os.path.join(root, f"date={day}", "part-00000.parquet"))
    return rows


def model_v1(rows):
    """Expected refined rows of EP2 per ``(code, reference_date)``.

    Null codes are dropped; duplicates keep the first row by
    ``(asset, type, part, qty)``; then, per code in date order, the 7-row
    trailing mean, max and min of ``part`` plus the code's first date.
    """
    kept = {}
    for cod, asset, kind, part_milli, qty, day in rows:
        if cod is None:
            continue
        part = part_milli / 1000.0
        cand = (asset, kind, part, qty)
        if (cod, day) not in kept or cand < kept[(cod, day)]:
            kept[(cod, day)] = cand
    by_code = {}
    for (cod, day), v in kept.items():
        by_code.setdefault(cod, []).append((day, v))
    out = {}
    for cod, items in by_code.items():
        items.sort()
        parts = [v[2] for _, v in items]
        for i, (day, (asset, kind, part, qty)) in enumerate(items):
            frame = parts[max(0, i - WINDOW + 1):i + 1]
            out[(cod, day)] = {
                "ticker": asset, "type": kind, "part": part, "theoricalQty": qty,
                "initial_date": items[0][0],
                "mean": sum(frame) / len(frame), "max": max(frame), "min": min(frame),
            }
    return out


# --------------------------------------------------------------------------
# Registry tables (FIXTURES.md 2 schemas)
# --------------------------------------------------------------------------

VOCAB = ("a the agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "value vector window").split()
LANGS = ["en", "es", "de", "fr", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _ts(start, seconds, unit):
    return pa.array((np.datetime64(start) + seconds.astype(f"timedelta64[{unit}]")),
                    pa.timestamp(unit))


def gen_registry(rng, root, scale):
    """Writes ``<table>.parquet`` for the tables the registry rows read.

    ``scale`` is in rows per unit: customers = 100*scale, orders =
    1000*scale, lineitem about 4 per order, events = 800*scale,
    documents = 50*scale (2% exact and 5% near copies of earlier ones) and
    embeddings = 40*scale unit vectors in 64 dimensions, a third of the
    even-id ones a near copy of an odd-id one (so the near-duplicate rows,
    which match even ids against odd ones, have pairs to find)."""
    n_cust, n_ord, n_ev = 100 * scale, 1000 * scale, 800 * scale
    n_doc, n_emb = 50 * scale, 40 * scale
    cust = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts("1992-01-01", rng.integers(0, 2400, n_ord) * 86400_000, "ms"),
        "o_orderpriority": [("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[i]
                            for i in rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    li = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, 200 * scale, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n_li).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-01", rng.integers(0, 2500, n_li) * 86400_000, "ms"),
    })
    ev_ts = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
    events = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01", ev_ts, "us"),
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": [("view", "click", "purchase", "signup", "error")[i]
                       for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        u = rng.random()
        if i > 10 and u < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and u < 0.07:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))))
    docs = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.normal(size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    for i in range(0, n_emb, 6):
        vecs[i] = vecs[int(rng.integers(0, n_emb // 2)) * 2 + 1] + 0.05 * rng.normal(size=64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float64())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    tables = {"customer": cust, "orders": orders, "lineitem": li, "events": events,
              "documents": docs, "embeddings": emb}
    for name, t in tables.items():
        _write(t, os.path.join(root, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
