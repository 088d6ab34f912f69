"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed, so two runs with the same
``--seed`` feed the engine byte-identical inputs (the trickle generator is
the one exception: its ``Timestamp`` stamps record wall-clock creation
time, which is what its latency metric measures, and how many of its
seeded files fit in the run depends on how fast the pipeline commits).

- CDC wire-format JSON (the reference's envelope: Host/Database/Table/
  Action/WALPosition/Timestamp/UUID/Columns), one event per line, with a
  Zipf skew over 16 tables and optional malformed or UUID-less events.
- A TPC-H-ish lake (region ... lineitem, events, documents, embeddings)
  with the schemas the engine's batch queries read.
- ``trickle_main``: the paced generator process of ``cdc_trickle``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import sys
import time
import uuid

#: the 16 source tables of the CDC workloads
CDC_TABLES = [
    "accounts", "orders", "order_items", "payments", "shipments", "customers",
    "products", "inventory", "carts", "sessions", "reviews", "refunds",
    "coupons", "warehouses", "suppliers", "audit_log",
]
#: Zipf(1) table skew: table k is drawn with weight 1/(k+1)
CDC_WEIGHTS = [1.0 / (k + 1) for k in range(len(CDC_TABLES))]
#: route A (every workload): 14 tables onto 4 topics; the last two tables
#: have no mapping and no fallback, so they exercise the discard path
ROUTE_A = {t: f"topic_{i % 4}" for i, t in enumerate(CDC_TABLES[:14])}
#: route B (cdc_trickle only): a different mapping with a fallback topic
ROUTE_B = {t: "hot" for t in CDC_TABLES[:3]}
ROUTE_B_FALLBACK = "cold"

_ACTIONS = ("insert", "update", "update", "delete")
_EPOCH0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


def _iso(ts: float) -> str:
    return dt.datetime.fromtimestamp(ts, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%fZ"
    )


def cdc_event(rng: random.Random, wal: int, ts: float, malformed: str = "") -> tuple[str, dict]:
    """One wire line plus its ground-truth record.

    ``malformed`` is "" (valid), "json" (a truncated line that fails to
    parse) or "uuid" (a well-formed event with an empty UUID). Both bad
    kinds must land in the DLQ."""
    table = rng.choices(CDC_TABLES, weights=CDC_WEIGHTS)[0]
    uid = str(uuid.UUID(int=rng.getrandbits(128), version=4))
    ev = {
        "Host": "db1",
        "Database": "shop",
        "Table": table,
        "Action": rng.choice(_ACTIONS),
        "WALPosition": wal,
        "Timestamp": _iso(ts),
        "UUID": "" if malformed == "uuid" else uid,
        "Columns": {
            "id": rng.randrange(1_000_000),
            "qty": rng.randrange(100),
            "note": "".join(rng.choices("abcdefghij", k=12)),
            "amount": round(rng.random() * 1000, 2),
        },
    }
    line = json.dumps(ev, separators=(",", ":"))
    if malformed == "json":
        line = line[: len(line) // 2]
    return line, {"uuid": uid, "table": table, "bad": bool(malformed)}


def write_backlog(
    src_dir: str, seed: int, n_files: int, events_per_file: int
) -> list[dict]:
    """A drain backlog of valid events; returns the ground truth."""
    rng = random.Random(seed)
    os.makedirs(src_dir, exist_ok=True)
    truth: list[dict] = []
    base = _EPOCH0.timestamp()
    wal = 1
    for f in range(n_files):
        lines = []
        for _ in range(events_per_file):
            line, rec = cdc_event(rng, wal, base + wal * 1e-3)
            lines.append(line)
            truth.append(rec)
            wal += 1
        with open(os.path.join(src_dir, f"part-{f:05d}.json"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    return truth


def expected_routing(truth: list[dict], mapping: dict, fallback=None) -> dict:
    """Per-topic counts of the valid events under one route's rules."""
    out: dict[str, int] = {}
    for r in truth:
        if r["bad"]:
            continue
        topic = mapping.get(r["table"], fallback)
        if topic is not None:
            out[topic] = out.get(topic, 0) + 1
    return out


# -- paced trickle generator -------------------------------------------------
def trickle_main(argv: list[str]) -> int:
    """Publish one file, wait until the pipeline commits it, pause
    ``gap_s``, publish the next; stop starting files after ``seconds``.

    Runs as its own process. Each file's events are stamped at creation
    and published with write-then-rename (the dot-prefixed temp name is
    invisible to Spark's file source). One JSON line per file goes to the
    manifest: the planned publish time (``slot``), the actual one
    (``written``) and the events' ground truth. File ``f`` is the only new
    file when it lands, so it is epoch ``f``; its commit is
    ``<commits_dir>/<f>``. Exits with 3 if a commit does not show up in
    60 s."""
    src_dir, commits_dir, manifest, seed, seconds, gap_s, per_file, bad_every = argv
    seed, per_file, bad_every = int(seed), int(per_file), int(bad_every)
    seconds, gap_s = float(seconds), float(gap_s)
    rng = random.Random(seed)
    t0 = time.time()
    slot = t0
    wal = 1
    f = 0
    with open(manifest, "w") as man:
        while slot < t0 + seconds:
            now = time.time()
            if slot > now:
                time.sleep(slot - now)
            lines, recs = [], []
            for _ in range(per_file):
                bad = ""
                if bad_every and wal % bad_every == 0:
                    bad = "json" if (wal // bad_every) % 2 else "uuid"
                line, rec = cdc_event(rng, wal, time.time(), bad)
                lines.append(line)
                recs.append(rec)
                wal += 1
            tmp = os.path.join(src_dir, f".part-{f:06d}.tmp")
            with open(tmp, "w") as fh:
                fh.write("\n".join(lines) + "\n")
            os.rename(tmp, os.path.join(src_dir, f"part-{f:06d}.json"))
            man.write(
                json.dumps({"slot": slot, "written": time.time(), "events": recs})
                + "\n"
            )
            man.flush()
            commit = os.path.join(commits_dir, str(f))
            deadline = time.time() + 60
            while not os.path.exists(commit):
                if time.time() > deadline:
                    return 3
                time.sleep(0.005)
            slot = time.time() + gap_s
            f += 1
    return 0


# -- the batch lake ----------------------------------------------------------
_WORDS = (
    "the a data spark stream table row column key value join merge sort "
    "hash scan filter group agg window order line part customer query batch "
    "fast slow big small vector dup big index lake file page shard epoch "
    "commit offset sink source route topic event log wal plan stage task"
).split()


def write_lake(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables the batch queries read, at scale factor ``sf``
    (sf 1 = 6M lineitem rows). Returns the row count per table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(500, int(1_000_000 * sf))
    n_doc = max(200, int(50_000 * sf))
    n_emb = n_doc

    def ts(days: np.ndarray, start: str) -> pa.Array:
        base = np.datetime64(start, "us")
        return pa.array(base + (days * 86_400e6).astype("timedelta64[us]"))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    def put(name: str, cols: dict) -> int:
        tbl = pa.table(cols)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        return tbl.num_rows

    counts = {}
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    counts["region"] = put(
        "region",
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions},
    )
    counts["nation"] = put(
        "nation",
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
    )
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    counts["customer"] = put(
        "customer",
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
        },
    )
    counts["supplier"] = put(
        "supplier",
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
    )
    adj = np.array(["blue", "hot", "small", "old", "red", "new", "cold"])
    noun = np.array(["bolt", "gear", "anvil", "ring", "widget", "rod"])
    ptype = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    counts["part"] = put(
        "part",
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(
                np.char.add(adj[rng.integers(0, 7, n_part)], " "),
                noun[rng.integers(0, 6, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": ptype[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        },
    )
    span = (dt.date(2001, 11, 4) - dt.date(1995, 1, 1)).days
    odays = rng.integers(0, span - 90, n_ord)
    counts["orders"] = put(
        "orders",
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": ts(odays, "1995-01-01"),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_ord)],
        },
    )
    lorder = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    counts["lineitem"] = put(
        "lineitem",
        {
            "l_orderkey": pa.array(lorder, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
            "l_shipdate": ts(rng.integers(1, span, n_line), "1995-01-01"),
        },
    )
    etypes = np.array(["click", "signup", "error", "view", "purchase"])
    esecs = np.sort(rng.uniform(0, 30 * 86_400, n_evt))
    counts["events"] = put(
        "events",
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": ts(esecs / 86_400, "2024-01-01"),
            "user_id": pa.array(rng.integers(0, n_cust, n_evt), pa.int64()),
            "event_type": etypes[rng.integers(0, 5, n_evt)],
            "value": money(0.01, 490.0, n_evt),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        },
    )
    # documents: random word strings over a small vocabulary; every 10th
    # document is a near-copy (two words replaced) of an earlier one, so
    # the near-duplicate miners have true pairs to find
    vocab = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 10 and i % 10 == 0:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = vocab[rng.integers(0, len(vocab))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), rng.integers(10, 90))])
        texts.append(" ".join(words))
    counts["documents"] = put(
        "documents",
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": np.array(["en", "zh", "de", "fr", "es"])[rng.integers(0, 5, n_doc)],
            "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
    )
    # embeddings: 10 clusters in 64 dimensions, unit-normalised
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.6, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    counts["embeddings"] = put(
        "embeddings",
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        },
    )
    return counts


if __name__ == "__main__":
    sys.exit(trickle_main(sys.argv[1:]))
