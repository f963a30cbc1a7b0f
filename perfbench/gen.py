"""Seeded input generators. Everything the engine reads is written here,
in plain Python/numpy/pyarrow, before timing starts; the engine only
reads the resulting files. The same seed always gives the same bytes.

* ``write_star_schema`` — the star-schema, documents and embeddings
  fixtures the analytics entries read (same table names and column types
  as the engine's ``io.tables`` fixtures).
* ``IngestPlan`` — the CSV waves for the streaming upsert and the CSV
  merge sources for the lake, plus the plain-Python models the output
  checks compare against.
"""

from __future__ import annotations

import csv
import io
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# star schema + curation fixtures
# --------------------------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
VOCAB = (
    "scan column window order sort part agg value line key join merge "
    "group query a vector hash slow stream filter fast the batch spark "
    "table small data big customer row"
).split()

# Fixture scale: lineitem ~4 rows per order.
FIXTURE_ORDERS = 12_000
FIXTURE_CUSTOMERS = 1_200
FIXTURE_SUPPLIERS = 40
FIXTURE_PARTS = 1_600
FIXTURE_EVENTS = 20_000
FIXTURE_DOCS = 150
FIXTURE_VECS = 300
EMBED_DIM = 64

_EPOCH_1992 = np.datetime64("1992-01-01", "us")


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(
        _EPOCH_1992 + days.astype("timedelta64[D]").astype("timedelta64[us]"),
        type=pa.timestamp("us"),
    )


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_star_schema(out_dir: str, seed: int) -> dict[str, int]:
    """Write every fixture table under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows: dict[str, int] = {}

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc, ns, np_, no = (FIXTURE_CUSTOMERS, FIXTURE_SUPPLIERS, FIXTURE_PARTS,
                       FIXTURE_ORDERS)
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, ns), 2),
    })
    prices = np.round(rng.uniform(900, 2000, np_), 2)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [f"{VOCAB[a]} {VOCAB[b]}" for a, b in
                   rng.integers(0, len(VOCAB), (np_, 2))],
        "p_brand": [f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (np_, 2))],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": prices,
    })
    odays = rng.integers(0, 2405, no)  # 1992-01-01 .. 1998-08-02
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 400000, no), 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    nlines = rng.integers(1, 8, no)
    lk = np.repeat(np.arange(no), nlines)
    ln = np.concatenate([np.arange(1, n + 1) for n in nlines])
    nl = len(lk)
    pk = rng.integers(0, np_, nl)
    qty = rng.integers(1, 51, nl).astype(float)
    sdays = np.repeat(odays, nlines) + rng.integers(1, 122, nl)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(lk, pa.int64()),
        "l_partkey": pa.array(pk, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * prices[pk], 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": ["F" if d < 2300 else "O" for d in sdays],
        "l_shipdate": _ts(sdays),
    })
    rows.update(orders=no, lineitem=nl)

    ne = FIXTURE_EVENTS
    ev_ts = (np.datetime64("2024-01-01", "us")
             + rng.integers(0, 29 * 86400 * 10**6, ne).astype("timedelta64[us]"))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(np.sort(ev_ts), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 500, ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0, 500, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    # documents: word soup with planted near-duplicates (every 10th doc is
    # an edited copy of an earlier one) so the dedup operators find pairs
    nd = FIXTURE_DOCS
    texts: list[str] = []
    for i in range(nd):
        if i % 10 == 9:
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[k] for k in
                                  rng.integers(0, len(VOCAB), n)))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, nd)],
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    # embeddings: 10 label clusters, so cosine dedup and kNN have structure
    nv = FIXTURE_VECS
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    labels = rng.integers(0, 10, nv)
    vecs = (centers[labels] * 0.12 + rng.normal(0, 0.14, (nv, EMBED_DIM)))
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    rows.update(events=ne, documents=nd, embeddings=nv)
    return rows


# --------------------------------------------------------------------------
# ingest waves + lake merge sources
# --------------------------------------------------------------------------

LOC_HEADER = ("LOCID", "LOCTIMEZONE", "COUNTRY", "LOCNAME", "BUSINESS")
LOC_FIELDS = ("locid", "loctimezone", "country", "locname", "business")
TIMEZONES = ("America/New_York", "Europe/London", "Asia/Tokyo",
             "Australia/Sydney", "America/Los_Angeles", "Europe/Berlin")
COUNTRIES = ("USA", "UK", "Japan", "Australia", "Germany", "Canada")
LOCNAMES = ("Springfield", "Rivertown", "Lakeside", "Hillview", "Bayport",
            "Meadowfield")
BUSINESSES = ("TechCorp", "CoffeeCo", "MarketPlace", "MediHealth", "EduWise",
              "GreenBuild")

LAKE_SCHEMA = "k long, cat int, region string, cents long, qty int"
LAKE_COLUMNS = ("k", "cat", "region", "cents", "qty")
LAKE_REGIONS = ("north", "south", "east", "west", "central")


def loc_id(k: int) -> str:
    return f"LOC{k:012d}"


@dataclass
class IngestPlan:
    """Sizes of the ingest_and_lake inputs. Per-cycle work is the same in
    every cycle: a wave updates ``wave_updates`` existing keys from a
    rotating range, adds ``wave_new`` keys and repeats ``wave_dups`` of
    its own rows; a merge updates a clustered run plus a few scattered
    keys, inserts ``merge_inserts`` keys above the top and deletes as many
    from the bottom, so the lake's row count never changes."""

    state_rows: int = 20_000
    wave_updates: int = 1_600
    wave_new: int = 8
    wave_dups: int = 160
    lake_rows: int = 40_000
    lake_groups: int = 8
    merge_clustered: int = 400
    merge_scattered: int = 3
    merge_inserts: int = 60
    cycles: int = 16


def _loc_row(rng: random.Random, k: int) -> dict:
    return {
        "locid": loc_id(k),
        "loctimezone": rng.choice(TIMEZONES),
        "country": rng.choice(COUNTRIES),
        "locname": f"{rng.choice(LOCNAMES)}_{rng.randrange(1000)}",
        "business": f"{rng.choice(BUSINESSES)}_{rng.randrange(1000)}",
    }


def write_csv(path: str, header: list[str], rows: list[dict],
              fields: list[str]) -> int:
    """Write rows atomically (temp name, then rename); returns file bytes."""
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    for r in rows:
        w.writerow([r[f] for f in fields])
    data = buf.getvalue().encode()
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)
    return len(data)


@dataclass
class MergeBatch:
    upserts: list[dict]       # unique keys; updates + inserts
    delete_lo: int            # keys in [delete_lo, delete_hi) are deleted
    delete_hi: int


@dataclass
class IngestInputs:
    plan: IngestPlan
    initial_wave: list[dict]
    lake_initial: list[dict]
    waves: list[list[dict]]   # rows in file order; later rows win
    merges: list[MergeBatch]


def make_ingest_inputs(seed: int, plan: IngestPlan) -> IngestInputs:
    rng = random.Random(seed)
    initial = [_loc_row(rng, k) for k in range(plan.state_rows)]
    next_key = plan.state_rows
    waves = []
    for c in range(plan.cycles):
        lo = (c * plan.wave_updates) % plan.state_rows
        keys = [(lo + i) % plan.state_rows for i in range(plan.wave_updates)]
        keys += list(range(next_key, next_key + plan.wave_new))
        next_key += plan.wave_new
        rng.shuffle(keys)
        rows = [_loc_row(rng, k) for k in keys]
        # intra-wave duplicates: re-emit some keys later in the file with
        # new payloads; the last occurrence must win
        for k in rng.sample(keys, plan.wave_dups):
            rows.insert(rng.randrange(len(rows) // 2, len(rows) + 1),
                        _loc_row(rng, k))
        waves.append(rows)

    # lake keys are even (k = 2 * i), so odd keys inside a group's key
    # box are absent and only the bloom filter can skip the group
    def lake_row(i: int, cents_base: int) -> dict:
        return {"k": 2 * i, "cat": rng.randrange(7),
                "region": rng.choice(LAKE_REGIONS),
                "cents": cents_base + rng.randrange(10_000),
                "qty": rng.randrange(1, 20)}

    lake = [lake_row(i, 0) for i in range(plan.lake_rows)]
    merges = []
    lo, hi = 0, plan.lake_rows
    span = plan.lake_rows - 2 * plan.merge_inserts - plan.merge_clustered
    for c in range(plan.cycles):
        # rows deleted by this merge are never also updated by it
        first = lo + plan.merge_inserts
        start = first + (c * 7919) % span
        upd = set(range(start, start + plan.merge_clustered))
        # scattered updates: one near each of merge_scattered evenly spaced
        # points, so every seed touches about as many groups
        step = (hi - first) // (plan.merge_scattered + 1)
        for j in range(1, plan.merge_scattered + 1):
            i = first + j * step + rng.randrange(-step // 4, step // 4)
            while i in upd:
                i += 1
            upd.add(i)
        ins = range(hi, hi + plan.merge_inserts)
        # every update changes cents, so each one is a real row change
        rows = [lake_row(i, (c + 1) * 100_000) for i in sorted(upd)]
        rows += [lake_row(i, (c + 1) * 100_000) for i in ins]
        merges.append(MergeBatch(rows, 2 * lo, 2 * (lo + plan.merge_inserts)))
        lo += plan.merge_inserts
        hi += plan.merge_inserts
    return IngestInputs(plan, initial, lake, waves, merges)


def shuffled_header(rng: random.Random) -> tuple[list[str], list[str]]:
    """A random column order: (CSV header names, matching row fields)."""
    order = list(range(len(LOC_HEADER)))
    rng.shuffle(order)
    return [LOC_HEADER[i] for i in order], [LOC_FIELDS[i] for i in order]
