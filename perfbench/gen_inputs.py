"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files. Inputs derive from the repository's own
fixtures (`src/test/resources/fixtures`) and from
`tools/gen_scale_corpus.py`, which is run as-is.
"""
import os
import random
import subprocess
import sys

FIXTURES = os.path.join("src", "test", "resources", "fixtures")
# bulk structures the screen generator perturbs: the three extract
# fixtures plus the two golden bulk cells
BULK_TEMPLATES = [
    os.path.join(FIXTURES, "bulk_poscars", "mp-1021522.poscar"),
    os.path.join(FIXTURES, "bulk_poscars", "mp-1040910.poscar"),
    os.path.join(FIXTURES, "bulk_poscars", "mp-1047618.poscar"),
    os.path.join(FIXTURES, "slab_golden", "mp-755394.poscar"),
    os.path.join(FIXTURES, "slab_golden", "mp-1393040.poscar"),
]
SCREEN_FACETS = ["100", "110", "111"]
SCREEN_SHIFTS = 2


def _read(path):
    with open(path, encoding="utf-8") as f:
        return f.read()


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


def perturb_poscar(text, rnd, lattice_jitter, coord_jitter):
    """Scale each lattice row by 1 +- lattice_jitter and move every
    fractional coordinate by +- coord_jitter (wrapped into [0, 1))."""
    lines = [ln for ln in text.split("\n") if ln.strip()]
    n_atoms = sum(int(c) for c in lines[6].split())
    out = lines[:2]
    for row in lines[2:5]:
        f = 1.0 + rnd.uniform(-lattice_jitter, lattice_jitter)
        out.append("   " + "   ".join("%.16f" % (float(v) * f) for v in row.split()))
    out += lines[5:8]
    for ln in lines[8:8 + n_atoms]:
        p = ln.split()
        xyz = [(float(v) + rnd.uniform(-coord_jitter, coord_jitter)) % 1.0 for v in p[:3]]
        out.append("   " + "   ".join("%.16f" % v for v in xyz) +
                   ("" if len(p) < 4 else " " + p[3]))
    return "\n".join(out) + "\n"


def gen_dag(out, seed, copies=3):
    """`copies` seeded, perturbed copies of fixtures/bulk_poscars, one
    directory each (`bulks_<k>/`), keeping the fixture keys so the
    pipeline's fixed-seed draws see the same sorted key list."""
    rnd = random.Random("dag-%d" % seed)
    src = os.path.join(FIXTURES, "bulk_poscars")
    for k in range(copies):
        for name in sorted(os.listdir(src)):
            text = perturb_poscar(_read(os.path.join(src, name)), rnd, 0.002, 0.0005)
            _write(os.path.join(out, "bulks_%d" % k, name), text)


def screen_slab_keys(bulk_keys):
    """The slab keys SlabGen.cut emits: `{bulk}-{facet}-{shift}`."""
    return [f"{b}-{f}-{i}" for b in bulk_keys for f in SCREEN_FACETS
            for i in range(SCREEN_SHIFTS)]


def gen_screen(out, seed, n_bulks):
    """`n_bulks` seeded bulks (perturbed fixture cells under fresh keys)
    plus `preload.txt`: a seeded half of the slab keys, which the sink
    holds before each load."""
    rnd = random.Random("screen-%d" % seed)
    templates = [_read(p) for p in BULK_TEMPLATES]
    keys = []
    for i in range(n_bulks):
        key = "sb%d-%04d" % (seed, i)
        text = perturb_poscar(templates[rnd.randrange(len(templates))], rnd, 0.02, 0.002)
        _write(os.path.join(out, "bulks", key + ".poscar"), text)
        keys.append(key)
    slab_keys = screen_slab_keys(keys)
    preload = sorted(rnd.sample(slab_keys, len(slab_keys) // 2))
    _write(os.path.join(out, "preload.txt"), "\n".join(preload) + "\n")


def gen_curate(out, seed, multiple):
    """The sparse scale corpus from tools/gen_scale_corpus.py."""
    os.makedirs(out, exist_ok=True)
    subprocess.run([sys.executable, os.path.join("tools", "gen_scale_corpus.py"),
                    out, str(multiple), str(seed), "--sparse"],
                   check=True, stdout=subprocess.DEVNULL)


def gen_queries(out, seed, sf):
    """The star-schema tables of the declared-query suite (region,
    nation, customer, supplier, part, orders, lineitem) with the shapes
    of the suite's reference test data at scale factor `sf`, plus the
    dense documents/embeddings/events corpus of
    tools/gen_scale_corpus.py at the matching size."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, span, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span, n).astype("timedelta64[D]")

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"))

    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord, n_li = int(200000 * sf), int(1500000 * sf), int(6000000 * sf)
    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adjectives = ["blue", "red", "hot", "small", "old", "new", "big", "green"]
    nouns = ["bolt", "gear", "anvil", "ring", "widget", "rod", "nut", "spring"]
    names = np.array([a + " " + b for a in adjectives for b in nouns])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, len(types), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 2)})
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(days("1995-01-01", 2404, n_ord), pa.timestamp("us")),
        "o_orderpriority": priorities[rng.integers(0, 5, n_ord)]})
    quantity = rng.integers(1, 51, n_li).astype(float)
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(days("1995-01-02", 2498, n_li), pa.timestamp("us"))})
    subprocess.run([sys.executable, os.path.join("tools", "gen_scale_corpus.py"),
                    out, str(10 * sf), str(seed)], check=True, stdout=subprocess.DEVNULL)
