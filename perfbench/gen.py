"""Seeded input generator for the benchmark.

Everything graft sees in a run comes from here, as a function of the seed:

* ``write_tables`` writes the ten parquet tables ``graft.sources.Tables``
  reads (``region`` ... ``embeddings``) at scale factor 0.1 row counts, with
  the column types it expects.
* ``replay`` turns the ``events`` table into the order in which the stream
  workloads append rows to their MemoryStream: a bounded out-of-order
  displacement that stays inside the watermark, a share of exact
  duplicates, and a counted share of events placed beyond the watermark.

Run as a script to write one data directory:

    python3 perfbench/gen.py --seed 7 --out /tmp/data
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF_ROWS = {
    "region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
    "part": 20000, "orders": 150000, "lineitem": 600000, "events": 100000,
    "documents": 5000, "embeddings": 2000,
}
US = 1_000_000
DAY_US = 86_400 * US
EVENTS_START_US = 1_704_067_200 * US  # 2024-01-01 00:00:00
EVENTS_SPAN_US = 30 * DAY_US
DATE_LO_US = 694_224_000 * US  # 1992-01-01
DATE_DAYS = 3600
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()

# replay shape (see ``replay``)
WATERMARK_US = 3600 * US          # the stateful queries' watermark: 1 hour
MAX_DISPLACEMENT = 10             # positions an event may move later
DUP_SHARE = 0.01
LATE_SHARE = 0.005
LATE_OFFSET_US = DAY_US           # late events sit one day before the data


def _ts(us, tz=None):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us", tz))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    """Return {name: pyarrow.Table} for one seed."""
    rng = np.random.default_rng(seed)
    n = SF_ROWS
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": segs[rng.integers(0, 5, n["customer"])]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])})
    adj = np.array(["large", "hot", "small", "shiny", "cold", "tiny"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve"])
    ptypes = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                       "PROMO"])
    np_ = n["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, np_)], " "),
                              noun[rng.integers(0, 6, np_)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(DATE_LO_US + rng.integers(0, DATE_DAYS, no) * DAY_US),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, np_, nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 104999.91, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(DATE_LO_US + rng.integers(0, DATE_DAYS, nl) * DAY_US)})
    ne = n["events"]
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(EVENTS_START_US + np.sort(rng.integers(0, EVENTS_SPAN_US, ne))),
        "user_id": rng.integers(0, 1500, ne),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, ne)
                                         .astype(str)), "}")})
    out["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return out


def _documents(rng, nd):
    """Word-salad documents over a 30-word vocabulary; about 5 % are near
    copies of an earlier document (one word swapped for ``dup``) and a few
    are exact copies, so the dedup queries have pairs to find."""
    words = np.array(WORDS)
    texts = []
    for i in range(nd):
        r = rng.random()
        if i > 10 and r < 0.05:
            src = texts[rng.integers(0, i)].split(" ")
            src[rng.integers(0, len(src))] = "dup"
            texts.append(" ".join(src))
        elif i > 10 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     rng.integers(10, 101))]))
    langs = np.array(["en", "en", "en", "en", "de", "es", "fr", "zh"])
    return pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), nd)],
        "source": np.char.add("src", rng.integers(0, 20, nd).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def write_tables(seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def replay(events, seed, n_rows, protect_rows):
    """The stream workloads' append order: ``n_rows`` rows built from the
    ``events`` table (a pyarrow Table sorted by ts), repeated in laps
    shifted by the table's time span when ``n_rows`` exceeds it.

    * out of order: each event moves at most ``MAX_DISPLACEMENT`` positions
      later, which keeps it inside the watermark;
    * duplicates: ``DUP_SHARE`` of the events are appended a second time,
      at most ``MAX_DISPLACEMENT`` positions after the original;
    * late: ``LATE_SHARE`` of the events get a timestamp ``LATE_OFFSET_US``
      before the first event, so once the first micro-batch has committed
      every stateful operator drops them. None sits in the first
      ``protect_rows`` positions (the warm-up chunk, which the first
      micro-batch consumes alone).

    Returns a dict of numpy columns: event_id, ts (epoch micros), user_id,
    event_type, value, props, late (bool), dup (bool)."""
    rng = np.random.default_rng([seed, 1])
    ne = events.num_rows
    base = {c: events.column(c).to_numpy(zero_copy_only=False)
            for c in ["event_id", "ts", "user_id", "event_type", "value",
                      "props"]}
    base["ts"] = base["ts"].astype("datetime64[us]").astype(np.int64)
    laps = -(-n_rows // ne)
    lap = np.repeat(np.arange(laps), ne)
    idx = np.tile(np.arange(ne), laps)
    cols = {c: v[idx] for c, v in base.items()}
    cols["event_id"] = cols["event_id"] + lap * ne
    cols["ts"] = cols["ts"] + lap * (EVENTS_SPAN_US + DAY_US)
    m = len(idx)
    dup = rng.random(m) < DUP_SHARE
    # the lap term keeps displacement from crossing a lap boundary
    base_key = np.arange(m) + lap * 2 * MAX_DISPLACEMENT
    order_key = base_key + rng.uniform(0, MAX_DISPLACEMENT, m)
    dup_key = base_key[dup] + rng.uniform(0, MAX_DISPLACEMENT, int(dup.sum()))
    src = np.concatenate([np.arange(m), np.flatnonzero(dup)])
    keys = np.concatenate([order_key, dup_key])
    pos = src[np.argsort(keys, kind="stable")][:n_rows]
    out = {c: v[pos] for c, v in cols.items()}
    is_dup = np.zeros(len(pos), dtype=bool)
    seen = np.zeros(m, dtype=bool)
    for i, p in enumerate(pos):
        is_dup[i] = seen[p]
        seen[p] = True
    late = (rng.random(len(pos)) < LATE_SHARE) & ~is_dup
    late[:protect_rows] = False
    # a late event's duplicate must not survive as an on-time row
    late_ids = set(out["event_id"][late].tolist())
    drop = is_dup & np.isin(out["event_id"], list(late_ids))
    keep = ~drop
    out = {c: v[keep] for c, v in out.items()}
    late, is_dup = late[keep], is_dup[keep]
    out["ts"] = np.where(late, EVENTS_START_US - LATE_OFFSET_US
                         - out["event_id"] % 3600 * US, out["ts"])
    out["late"] = late
    out["dup"] = is_dup
    return out


def max_lateness_us(ts, late):
    """Largest lag, over on-time rows, between a row's timestamp and the
    largest timestamp appended before it. The watermark never drops an
    on-time row while this stays below the watermark delay."""
    on_time = ts[~late]
    prior_max = np.maximum.accumulate(on_time)
    return int(np.max(np.concatenate([[0], prior_max[:-1] - on_time[1:]])))


def write_replay(seed, data_dir, n_rows, protect_rows):
    events = pq.read_table(os.path.join(data_dir, "events.parquet"))
    r = replay(events, seed, n_rows, protect_rows)
    assert max_lateness_us(r["ts"], r["late"]) < WATERMARK_US
    pq.write_table(pa.table({
        "seq": np.arange(len(r["ts"]), dtype=np.int64),
        "event_id": r["event_id"], "ts": _ts(r["ts"], "UTC"),
        "user_id": r["user_id"], "event_type": r["event_type"],
        "value": r["value"], "props": r["props"], "late": r["late"]}),
        os.path.join(data_dir, "replay.parquet"))
    return {"rows": int(len(r["ts"])), "late": int(r["late"].sum()),
            "dup": int(r["dup"].sum())}


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--replay-rows", type=int, default=300000)
    a = ap.parse_args()
    write_tables(a.seed, a.out)
    print(write_replay(a.seed, a.out, a.replay_rows, 2000))
