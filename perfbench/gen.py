"""Seeded input generators for the benchmark workloads.

Every table the engine reads is synthesized from a seed in the shape of the
sf0.1 fixture tables (TESTDATA.md: same schemas, key ranges, value
distributions and planted near-duplicates), so the benchmark needs no
fixture directory. The same seed writes byte-identical files; another seed writes
other files.

Larger event sets are shard-ups in the style of tools/make_sf1.py: copy k of
the base set offsets every key column by k * stride, so copies stay
self-contained and joins stay within a copy. The validator workloads then
perturb values and drop (key, epoch) cells, so the income kernel's gap
cut-off has work to do.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH0 = datetime.datetime(2024, 1, 1)
DAY_US = 86_400_000_000
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
PART_ADJ = ["large", "hot", "blue", "small", "red", "green"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"]
STATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# Key strides of the shard-up, as in tools/make_sf1.py.
USER_STRIDE = 1_000_000
EVENT_STRIDE = 10_000_000


def _write(table, path):
    # No pandas metadata and fixed writer options: the bytes depend on the
    # rows only.
    pq.write_table(table.replace_schema_metadata(None), path,
                   compression="snappy", row_group_size=1 << 20)


def _events(rng, n_users, n_events, days):
    """One sf0.1-style event set: ids in ts order, uniform users/types,
    exponential values (mean 50, cents), JSON props."""
    ts = np.sort(rng.integers(0, days * DAY_US, n_events))
    return {
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.integers(0, len(EVENT_TYPES), n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "k": rng.integers(0, 100, n_events),
    }


def _events_table(cols, ts_as_micros=False):
    """Fixture layout: ts as TIMESTAMP(MICROS); the streaming landing
    layout (`ts_as_micros`): ts as a long of epoch microseconds."""
    base = int((EPOCH0 - datetime.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    ts = pa.array(cols["ts"] + base, pa.int64())
    if not ts_as_micros:
        ts = ts.cast(pa.timestamp("us"))
    types = np.array(EVENT_TYPES, dtype=object)[cols["event_type"]]
    props = np.char.add(np.char.add('{"k": ', cols["k"].astype(str)), "}")
    return pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": ts,
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(types.tolist(), pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(props.tolist(), pa.string()),
    })


def validator_events(seed, copies, n_users, n_events, days, drop_frac, jitter):
    """Shard-up of a seeded base event set, perturbed per copy: values are
    scaled by a seeded factor in [1 - jitter, 1 + jitter] and a seeded
    `drop_frac` of each copy's (user, day) cells is removed."""
    rng = np.random.default_rng([seed, 1])
    base = _events(rng, n_users, n_events, days)
    parts = []
    for k in range(copies):
        c = dict(base)
        c["event_id"] = np.arange(n_events, dtype=np.int64) + k * EVENT_STRIDE
        c["user_id"] = base["user_id"] + k * USER_STRIDE
        if k > 0 or jitter > 0:
            f = rng.uniform(1 - jitter, 1 + jitter, n_events)
            c["value"] = np.round(base["value"] * f, 2)
        if drop_frac > 0:
            cells = base["user_id"] * days + base["ts"] // DAY_US
            dropped = rng.random(n_users * days) < drop_frac
            keep = ~dropped[cells]
            c = {name: col[keep] for name, col in c.items()}
        parts.append(c)
    return {name: np.concatenate([p[name] for p in parts]) for name in parts[0]}


def _keys(copies, n):
    """Keys of a shard-up: copy k holds k * USER_STRIDE + [0, n)."""
    return np.concatenate([k * USER_STRIDE + np.arange(n) for k in range(copies)])


def _dims(rng, out, copies, n_customers, n_suppliers, n_parts, n_orders):
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    ck = _keys(copies, n_customers)
    n_customers = len(ck)
    _write(pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_customers), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customers), 2),
        "c_mktsegment": np.array(SEGMENTS, dtype=object)[
            rng.integers(0, 5, n_customers)].tolist(),
    }), f"{out}/customer.parquet")
    sk = _keys(copies, n_suppliers)
    n_suppliers = len(sk)
    _write(pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_suppliers), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_suppliers), 2),
    }), f"{out}/supplier.parquet")
    pk = np.arange(n_parts)
    _write(pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 6, n_parts), rng.integers(0, 6, n_parts))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_parts)],
        "p_type": np.array(PART_TYPES, dtype=object)[rng.integers(0, 5, n_parts)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_parts), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    }), f"{out}/part.parquet")
    ok = np.arange(n_orders)
    day0 = datetime.datetime(1992, 1, 1)
    odays = rng.integers(0, 3500, n_orders)
    _write(pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customers, n_orders), pa.int64()),
        "o_orderstatus": np.array(STATUS, dtype=object)[rng.integers(0, 3, n_orders)].tolist(),
        "o_totalprice": np.round(rng.uniform(900, 500000, n_orders), 2),
        "o_orderdate": pa.array([day0 + datetime.timedelta(days=int(d)) for d in odays],
                                pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES, dtype=object)[
            rng.integers(0, 5, n_orders)].tolist(),
    }), f"{out}/orders.parquet")
    n_lines = n_orders * 4
    lo = rng.integers(0, n_orders, n_lines)
    qty = rng.integers(1, 51, n_lines).astype(float)
    _write(pa.table({
        "l_orderkey": pa.array(lo, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_suppliers, n_lines), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_lines), 2),
        "l_discount": np.round(rng.integers(0, 11, n_lines) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_lines) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[
            rng.integers(0, 3, n_lines)].tolist(),
        "l_linestatus": np.array(["O", "F"], dtype=object)[
            rng.integers(0, 2, n_lines)].tolist(),
        "l_shipdate": pa.array([day0 + datetime.timedelta(days=int(d)) for d in
                                odays[lo] + rng.integers(1, 120, n_lines)],
                               pa.timestamp("us")),
    }), f"{out}/lineitem.parquet")


def _documents(rng, n_docs, dup_frac=0.05, exact_frac=0.0016):
    """sf0.1-style corpus: 10-100 words from a 30-word vocabulary; a
    `dup_frac` share are near-duplicates (an earlier doc plus " dup") and
    an `exact_frac` share exact copies, as in the sf0.1 fixtures."""
    words = np.array(WORDS, dtype=object)
    texts = []
    kind = rng.random(n_docs)
    for i in range(n_docs):
        if i > 0 and kind[i] < dup_frac:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and kind[i] < dup_frac + exact_frac:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(words[rng.integers(0, len(WORDS), n)]))
    ids = np.arange(n_docs)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": np.array(LANGS, dtype=object)[rng.choice(5, n_docs, p=LANG_P)].tolist(),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n_vecs, dim=64):
    """Unit vectors with a weak per-label bias (centroid norm ~0.07, as in
    the fixtures)."""
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, dim))
    v = rng.normal(0, 1, (n_vecs, dim)) + 0.5 * centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(out, seed, events, copies=1, n_customers=15000, n_docs=60,
                 n_vecs=60, n_suppliers=1000, n_parts=2000, n_orders=2000):
    """Writes the ten engine tables; `events` is a column dict from
    validator_events over `copies` copies (customer and supplier keys are
    sharded up the same way)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    _dims(rng, out, copies, n_customers, n_suppliers, n_parts, n_orders)
    _write(_events_table(events), f"{out}/events.parquet")
    _write(_documents(rng, n_docs), f"{out}/documents.parquet")
    _write(_embeddings(rng, n_vecs), f"{out}/embeddings.parquet")


def land_day_files(out, seed, events, days, splits=1, swap_p=0.3):
    """Splits `events` into day (or `splits`-per-day finer) parquet files
    in the streaming landing layout (ts as epoch micros) and stamps their
    modification times in a seeded, partly out-of-order arrival order:
    each file swaps with its successor with probability `swap_p`.
    Returns the file names in arrival order."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    slot = events["ts"] * splits // DAY_US
    names = []
    for s in range(days * splits):
        m = slot == s
        part = {k: v[m] for k, v in events.items()}
        name = f"events_{s // splits:03d}_{s % splits}.parquet"
        _write(_events_table(part, ts_as_micros=True), f"{out}/{name}")
        names.append(name)
    order = list(range(len(names)))
    i = 0
    while i < len(order) - 1:
        if rng.random() < swap_p:
            order[i], order[i + 1] = order[i + 1], order[i]
            i += 2
        else:
            i += 1
    t0 = int((EPOCH0 - datetime.datetime(1970, 1, 1)).total_seconds())
    arrival = [names[j] for j in order]
    for rank, name in enumerate(arrival):
        os.utime(f"{out}/{name}", (t0 + 60 * rank, t0 + 60 * rank))
    return arrival


def corpus_tables(out, seed, n_docs, n_vecs, n_events=2000):
    """The curation inputs: a seeded corpus and embedding set at the
    given sizes, plus small relational tables."""
    ev = validator_events(seed, 1, 150, n_events, 30, 0.0, 0.0)
    write_tables(out, seed, ev, n_customers=1500, n_docs=n_docs, n_vecs=n_vecs)
