"""Seeded input generators for the benchmark.

Everything the engine sees is made here from the run's seed:

* ``write_tables`` writes the star-schema parquet tables (``region`` ...
  ``embeddings``) the catalog entries and the Olist medallion read, with
  the same schemas and value distributions as the repository's sf0.1
  test data, at any scale factor.
* ``event_files`` splits the events of a seed into event-time-ordered
  landing files, re-landing ~5% of events as duplicates and holding a
  share back as late arrivals (still inside the watermark).

The lifecycle SQL program is generated in lifecycle.py. The same seed
always gives the same inputs; ``frame_digest`` makes that checkable.
"""
import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

ALL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")

EVENT_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
DUP_SHARE = 0.05    # events landed a second time
LATE_SHARE = 0.03   # events landed one or two files after their slice


def _rng(seed, stream):
    """Independent, reproducible stream per table: adding a table never
    shifts another table's values."""
    h = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "big")
    return np.random.default_rng([int(seed), h])


def _days(rng, lo, hi, n):
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + d).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _names(prefix, n):
    return np.array([f"{prefix}#{i:09d}" for i in range(n)], dtype=object)


def make_tables(seed, sf, names=ALL_TABLES):
    """Return {table name: pandas DataFrame} for the requested tables."""
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = int(20_000 * sf)
    n_users = max(10, int(15_000 * sf))
    out = {}
    for name in names:
        r = _rng(seed, name)
        if name == "region":
            df = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                               "r_name": REGIONS})
        elif name == "nation":
            df = pd.DataFrame({
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
        elif name == "customer":
            df = pd.DataFrame({
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(r, SEGMENTS, n_cust)})
        elif name == "supplier":
            df = pd.DataFrame({
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(r, -999.99, 9999.99, n_supp)})
        elif name == "part":
            i = np.arange(n_part)
            adj = _pick(r, PART_ADJ, n_part)
            noun = _pick(r, PART_NOUN, n_part)
            df = pd.DataFrame({
                "p_partkey": i.astype(np.int64),
                "p_name": adj + " " + noun,
                "p_brand": ["Brand#%d" % b for b in r.integers(1, 26, n_part)],
                "p_type": _pick(r, PTYPES, n_part),
                "p_size": r.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (i % 1000) * 0.1, 1)})
        elif name == "orders":
            df = pd.DataFrame({
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
                "o_orderdate": _days(r, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": _pick(r, PRIORITIES, n_ord)})
        elif name == "lineitem":
            df = pd.DataFrame({
                "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
                "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
                "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
                "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
                "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(r, 900.0, 105000.0, n_line),
                "l_discount": r.integers(0, 11, n_line) / 100.0,
                "l_tax": r.integers(0, 9, n_line) / 100.0,
                "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
                "l_linestatus": _pick(r, ["F", "O"], n_line),
                "l_shipdate": _days(r, "1995-01-02", "2001-11-04", n_line)})
        elif name == "events":
            gaps = r.exponential(26.0e6, n_ev).astype(np.int64) + 1
            df = pd.DataFrame({
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": EVENT_EPOCH + np.cumsum(gaps).astype("timedelta64[us]"),
                "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
                "event_type": _pick(r, EVENT_TYPES, n_ev),
                "value": np.round(r.exponential(50.0, n_ev), 2),
                "props": ['{"k": %d}' % k for k in r.integers(0, 100, n_ev)]})
        elif name == "documents":
            texts = []
            for i in range(n_doc):
                # 5% near-duplicates: an earlier document with one token
                # swapped for "dup" (the dedup entries' target population).
                if i >= 20 and r.random() < 0.05:
                    words = texts[int(r.integers(0, i))].split()
                    words[int(r.integers(0, len(words)))] = "dup"
                else:
                    words = list(_pick(r, VOCAB, int(r.integers(10, 101))))
                texts.append(" ".join(words))
            df = pd.DataFrame({
                "doc_id": np.arange(n_doc, dtype=np.int64),
                "text": texts,
                "lang": _pick(r, LANGS, n_doc, p=LANG_P),
                "source": ["src%d" % (i % 20) for i in range(n_doc)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
        elif name == "embeddings":
            v = r.standard_normal((n_emb, 64)).astype(np.float32)
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            df = pd.DataFrame({
                "vec_id": np.arange(n_emb, dtype=np.int64),
                "embedding": list(v),
                "label": r.integers(0, 10, n_emb).astype(np.int32)})
        else:
            raise ValueError(f"unknown table {name}")
        out[name] = df
    return out


def _to_arrow(name, df):
    if name == "embeddings":
        emb = pa.array([x for x in df["embedding"]], type=pa.list_(pa.float32()))
        return pa.table({"vec_id": pa.array(df["vec_id"]), "embedding": emb,
                         "label": pa.array(df["label"])})
    return pa.Table.from_pandas(df, preserve_index=False)


def write_tables(seed, sf, out_dir, names=ALL_TABLES):
    """Write ``<out_dir>/<table>.parquet`` for each requested table."""
    os.makedirs(out_dir, exist_ok=True)
    tables = make_tables(seed, sf, names)
    for name, df in tables.items():
        pq.write_table(_to_arrow(name, df), os.path.join(out_dir, f"{name}.parquet"))
    return tables


def event_files(seed, events, n_files):
    """Split ``events`` (sorted by ts) into ``n_files`` landing batches.

    Each batch holds the next slice in event-time order. A ``DUP_SHARE``
    of events is landed a second time one or two files later (same
    event_id and payload: the silver dedup must drop it), and a
    ``LATE_SHARE`` is moved one or two files later than its slice (it
    arrives late, but by less than the watermark). Returns a list of
    DataFrames.
    """
    r = _rng(seed, "landing")
    n = len(events)
    slot = np.minimum(np.arange(n) * n_files // n, n_files - 1)
    late = r.random(n) < LATE_SHARE
    slot = np.where(late, np.minimum(slot + r.integers(1, 3, n), n_files - 1), slot)
    dups = np.flatnonzero(r.random(n) < DUP_SHARE)
    dup_slot = np.minimum(slot[dups] + r.integers(1, 3, len(dups)), n_files - 1)
    rows = np.concatenate([np.arange(n), dups])
    slots = np.concatenate([slot, dup_slot])
    order = np.lexsort((rows, slots))
    rows, slots = rows[order], slots[order]
    bounds = np.searchsorted(slots, np.arange(n_files + 1))
    return [events.iloc[rows[bounds[i]:bounds[i + 1]]].reset_index(drop=True)
            for i in range(n_files)]


def frame_digest(frames):
    """Stable digest of a sequence of DataFrames (content and order)."""
    h = hashlib.sha256()
    for df in frames:
        h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
        h.update(b"|")
    return h.hexdigest()[:16]


def event_file_schema():
    return pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
                      ("user_id", pa.int64()), ("event_type", pa.string()),
                      ("value", pa.float64()), ("props", pa.string())])


def write_event_file(df, path):
    """Write one landing file atomically (temp name, then rename), so a
    file-source listing never sees a partial file."""
    t = pa.Table.from_pandas(df.assign(ts=df["ts"].dt.tz_localize("UTC")),
                             schema=event_file_schema(), preserve_index=False)
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(t, tmp)
    os.rename(tmp, path)

