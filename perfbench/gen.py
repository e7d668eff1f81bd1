"""Input generation for the graft benchmark.

Two tiers:

* ``fixtures(dir)`` writes the fixed tables every workload reads, in the
  shape of the repository's fixture parquet files (FIXTURES.md): the
  TPC-H-like star schema, ``events``, ``documents`` and ``embeddings``.
  They are generated from a fixed seed, so they are the same for every
  benchmark seed and are made once per checkout.
* ``seed_inputs(fixtures_dir, dir, seed)`` writes what the seed varies:
  the blueprint CSV parts (split points and row order) and the DML
  constants, into a per-seed directory.
"""
import json
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
# Row counts: the repository's sf0.01 fixture sizes.
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "events": 10000, "documents": 500, "embeddings": 500}
VOCAB = ("a the data spark table query join group agg filter scan sort hash "
         "key value row column window stream batch merge order line part "
         "customer vector big small fast slow").split()
EPOCH = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def duck():
    con = duckdb.connect()
    # never reach for an extension that is not already present
    con.execute("SET autoinstall_known_extensions=false")
    con.execute("SET autoload_known_extensions=false")
    return con


def _write(dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dir, f"{name}.parquet"),
                   row_group_size=1 << 30)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, span, n, start=EPOCH):
    return start + rng.randint(0, span, n).astype("timedelta64[D]")


def fixtures(dir):
    os.makedirs(dir, exist_ok=True)
    rng = np.random.RandomState(FIXTURE_SEED)
    _write(dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = ROWS["customer"]
    _write(dir, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.randint(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)})
    ns = ROWS["supplier"]
    _write(dir, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.randint(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = ROWS["part"]
    adj = ["blue", "red", "hot", "cold", "old", "new", "small", "big"]
    noun = ["bolt", "gear", "anvil", "widget", "rod", "ring", "plate", "nut"]
    _write(dir, "part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.randint(0, 8, npart), rng.randint(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.randint(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "PROMO",
                              "SMALL", "MEDIUM"], npart),
        "p_size": rng.randint(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900.0, 999.9, npart), 1)})
    no = ROWS["orders"]
    _write(dir, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.randint(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, 2404, no),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    # 1..7 lines per order: (l_orderkey, l_linenumber) is unique, so an
    # ORDER BY on it is a total order
    lines = rng.randint(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    lnum = (np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    _write(dir, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.randint(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.randint(0, ns, nl).astype(np.int64),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": rng.randint(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.randint(0, 11, nl) / 100.0,
        "l_tax": rng.randint(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _days(rng, 2497, nl, EPOCH + DAY_US)})
    ne = ROWS["events"]
    start = np.datetime64("2024-01-01", "us")
    _write(dir, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": start + np.sort(rng.randint(0, 30 * DAY_US, ne)).astype("timedelta64[us]"),
        "user_id": rng.randint(0, 150, ne).astype(np.int64),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], ne),
        "value": _money(rng, 0.01, 490.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, ne)]})
    nd = ROWS["documents"]
    texts = []
    for i in range(nd):
        r = rng.rand()
        long_docs = [t for t in texts if len(t.split()) >= 40]
        if long_docs and r < 0.04:
            # near duplicate of an earlier long document: its last word
            # changed, so the pair's shingle Jaccard is above 0.9 (the
            # similarity gap the minhash operator's exact oracle assumes)
            w = long_docs[rng.randint(0, len(long_docs))].split()
            w[-1] = next(v for v in VOCAB[rng.randint(0, len(VOCAB)):] + VOCAB if v != w[-1])
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(VOCAB[j] for j in
                                  rng.randint(0, len(VOCAB), rng.randint(8, 98))))
    _write(dir, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "es", "fr", "de", "zh"], nd,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv = ROWS["embeddings"]
    labels = rng.randint(0, 10, nv)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(dir, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def seed_inputs(fixtures_dir, dir, seed):
    """Blueprint CSV parts and DML constants for one seed."""
    # RandomState takes 32-bit seeds; any integer seed maps to one
    rng = np.random.RandomState(seed % (1 << 32))
    csv_dir = os.path.join(dir, "upload")
    os.makedirs(csv_dir, exist_ok=True)
    con = duck()
    spec = {"seed": seed, "upload_dir": csv_dir}
    for table, key, prefix, parts in (("lineitem", "l_orderkey, l_linenumber", "li_part_", 6),
                                      ("orders", "o_orderkey", "ord_part_", 3)):
        n = con.execute(
            f"SELECT count(*) FROM '{fixtures_dir}/{table}.parquet'").fetchone()[0]
        perm = rng.permutation(n)
        # near-equal parts: the seed moves each split point by up to a fifth
        # of a part, so every seed loads the same number of files and rows
        cuts = np.array([round(n / parts * (i + rng.uniform(-0.2, 0.2)))
                         for i in range(1, parts)])
        con.register("perm", pa.table({"rn": np.arange(n), "pos": perm,
                                       "part": np.searchsorted(cuts, perm, side="right")}))
        for p in range(parts):
            con.execute(f"""COPY (SELECT t.* EXCLUDE (rn) FROM
                (SELECT *, row_number() OVER (ORDER BY {key}) - 1 AS rn
                 FROM '{fixtures_dir}/{table}.parquet') t
                JOIN perm USING (rn) WHERE part = {p} ORDER BY pos)
                TO '{csv_dir}/{prefix}{p + 1}.csv' (HEADER)""")
        con.unregister("perm")
        spec[f"{table}_parts"] = parts
    # files the regex must skip
    with open(os.path.join(csv_dir, "li_part_notes.txt"), "w") as f:
        f.write("not a part\n")
    with open(os.path.join(csv_dir, "README.csv.bak"), "w") as f:
        f.write("x\n1\n")
    spec["dml"] = {
        "min_price": int(rng.randint(100, 200)) * 1000,
        "hot_price": int(rng.randint(300, 450)) * 1000,
        "drop_mod": int(rng.randint(0, 10)),
        "max_qty": int(rng.randint(150, 230)),
    }
    with open(os.path.join(dir, "spec.json"), "w") as f:
        json.dump(spec, f, indent=1)
    return spec
