"""Output checks. Each takes plain Python data (rows as dicts or pandas
frames already collected from the engine) plus the benchmark's own model
of the expected result, and raises ``CheckFailed`` on any difference.
They never touch Spark, so ``tests/test_checks.py`` can prove each one
fails on a planted wrong result."""

from __future__ import annotations

import hashlib
import json
import math
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal, localcontext

import numpy as np

from gen import LAKE_COLUMNS, LOC_FIELDS


class CheckFailed(AssertionError):
    pass


def _fail(msg: str):
    raise CheckFailed(msg)


# --------------------------------------------------------------------------
# ingest: last-writer-wins replay
# --------------------------------------------------------------------------


def replay_waves(initial: list[dict], waves: list[list[dict]]) -> dict:
    """Plain-Python replay: locid -> payload row, last writer wins."""
    state = {}
    for rows in [initial, *waves]:
        for r in rows:
            state[r["locid"]] = r
    return state


def check_ingest_state(actual: list[dict], expected: dict,
                       first_ids: dict[str, str]) -> None:
    """``actual``: rows read back from the engine's latest state.
    ``first_ids``: locid -> id as first assigned (ids must never change
    on update)."""
    keys = Counter(r["locid"] for r in actual)
    dups = [k for k, n in keys.items() if n > 1]
    if dups:
        _fail(f"ingest state has duplicate keys, e.g. {dups[:3]}")
    if set(keys) != set(expected):
        missing = sorted(set(expected) - set(keys))[:3]
        extra = sorted(set(keys) - set(expected))[:3]
        _fail(f"ingest state keys differ: missing {missing}, extra {extra}")
    ids = Counter(r["id"] for r in actual)
    if None in ids or any(n > 1 for n in ids.values()):
        _fail("ingest state ids are missing or not unique")
    for r in actual:
        want = expected[r["locid"]]
        for f in LOC_FIELDS:
            if r[f] != want[f]:
                _fail(f"{r['locid']}.{f} = {r[f]!r}, replay says {want[f]!r}")
        first = first_ids.get(r["locid"])
        if first is not None and r["id"] != first:
            _fail(f"{r['locid']} changed id {first} -> {r['id']}")


def check_page(page_json: str, expected_rows: list[dict]) -> None:
    """A rendered JSON page must hold exactly the expected rows, in order."""
    got = json.loads(page_json)
    if [g.get("locid") for g in got] != [e["locid"] for e in expected_rows]:
        _fail(f"page keys {[g.get('locid') for g in got][:3]}... differ from "
              f"{[e['locid'] for e in expected_rows][:3]}...")
    for g, e in zip(got, expected_rows):
        for f in LOC_FIELDS:
            if g.get(f) != e[f]:
                _fail(f"page row {e['locid']}.{f} = {g.get(f)!r}, "
                      f"expected {e[f]!r}")


# --------------------------------------------------------------------------
# lake: table, MVs, changefeed
# --------------------------------------------------------------------------


def _row_tuple(r: dict) -> tuple:
    return tuple(r[c] for c in LAKE_COLUMNS)


def check_lake_rows(actual: list[dict], expected: dict[int, dict],
                    what: str) -> None:
    got = Counter(_row_tuple(r) for r in actual)
    want = Counter(_row_tuple(r) for r in expected.values())
    if got != want:
        diff = list((got - want).items())[:2], list((want - got).items())[:2]
        _fail(f"{what}: rows differ (extra, missing) = {diff}")


def mv_expected(lake: dict[int, dict]) -> tuple[dict, dict]:
    """numpy groupBy of the expected lake table: the fine MV keyed by
    (cat, region) and the rollup keyed by region, each holding the
    cents/qty sums and the row count."""
    rows = list(lake.values())
    cat = np.array([r["cat"] for r in rows])
    region = np.array([r["region"] for r in rows])
    cents = np.array([r["cents"] for r in rows], dtype=np.int64)
    qty = np.array([r["qty"] for r in rows], dtype=np.int64)
    fine, coarse = {}, {}
    keys, inv = np.unique(np.stack([cat.astype(str), region]), axis=1,
                          return_inverse=True)
    inv = inv.reshape(-1)
    for i in range(keys.shape[1]):
        sel = inv == i
        fine[(int(keys[0, i]), str(keys[1, i]))] = (
            int(cents[sel].sum()), int(qty[sel].sum()), int(sel.sum()))
    for reg in np.unique(region):
        sel = region == reg
        coarse[str(reg)] = (int(cents[sel].sum()), int(qty[sel].sum()),
                            int(sel.sum()))
    return fine, coarse


def check_mvs(fine_rows: list[dict], coarse_rows: list[dict],
              lake: dict[int, dict]) -> None:
    want_fine, want_coarse = mv_expected(lake)
    got_fine = {(r["cat"], r["region"]): (r["cents"], r["qty"], r["n_rows"])
                for r in fine_rows if r["n_rows"]}
    got_coarse = {r["region"]: (r["cents"], r["qty"], r["n_rows"])
                  for r in coarse_rows if r["n_rows"]}
    if got_fine != want_fine:
        bad = [k for k in set(got_fine) | set(want_fine)
               if got_fine.get(k) != want_fine.get(k)][:3]
        _fail(f"fine MV differs from numpy groupBy at {bad}")
    if got_coarse != want_coarse:
        bad = [k for k in set(got_coarse) | set(want_coarse)
               if got_coarse.get(k) != want_coarse.get(k)][:3]
        _fail(f"rollup MV differs from numpy groupBy at {bad}")


def merge_deltas(before: dict[int, dict], after: dict[int, dict],
                 version: int) -> Counter:
    """The change rows one MERGE commit must produce."""
    out = Counter()
    for k in before.keys() | after.keys():
        b, a = before.get(k), after.get(k)
        if b is not None and a is None:
            out[("delete", version, *_row_tuple(b))] += 1
        elif b is None and a is not None:
            out[("insert", version, *_row_tuple(a))] += 1
        elif _row_tuple(a) != _row_tuple(b):
            out[("update_preimage", version, *_row_tuple(b))] += 1
            out[("update_postimage", version, *_row_tuple(a))] += 1
    return out


def check_changefeed(feed_rows: list[dict], expected: Counter) -> None:
    got = Counter((r["_change_type"], r["_commit_version"], *_row_tuple(r))
                  for r in feed_rows)
    if got != expected:
        extra = list((got - expected).items())[:2]
        missing = list((expected - got).items())[:2]
        _fail(f"changefeed differs from merge deltas: extra {extra}, "
              f"missing {missing}")


# --------------------------------------------------------------------------
# analytics: DuckDB oracle hash
# --------------------------------------------------------------------------


def spark_round(x: float, d: int) -> float:
    """Spark's ``ROUND`` of a DOUBLE: HALF_UP (ties away from zero) on the
    value's shortest decimal form, which is what Scala's
    ``BigDecimal(double)`` reads. DuckDB's own ``ROUND`` rounds the binary
    double, so the two differ exactly on the ties: 0.38835 is stored as
    0.38834999..., Spark gives 0.3884 and DuckDB 0.3883."""
    if math.isnan(x) or math.isinf(x):
        return x
    with localcontext() as c:
        c.prec = 60
        return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-d),
                                               ROUND_HALF_UP))


def with_spark_rounding(oracle_sql: str) -> str:
    """The oracle with every ``ROUND(`` call made ``spark_round(``, the
    DuckDB function the analytics check registers from ``spark_round``:
    the entries are Spark SQL, so their rounding is Spark's."""
    return re.sub(r"(?i)\bround\s*\(", "spark_round(", oracle_sql)


def result_hash(pdf) -> tuple[str, int]:
    """Order-insensitive hash of a result frame: columns sorted by name,
    floats rounded to 6 places, rows sorted."""
    cols = sorted(pdf.columns)
    rows = []
    for rec in pdf[cols].itertuples(index=False, name=None):
        row = []
        for v in rec:
            if hasattr(v, "item"):
                v = v.item()
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else f"{v:.6f}"
            row.append(str(v))
        rows.append("\x1f".join(row))
    h = hashlib.sha256("|".join(cols).encode())
    for r in sorted(rows):
        h.update(b"\x1e" + r.encode())
    return h.hexdigest(), len(rows)


def check_oracle(name: str, engine_pdf, oracle_pdf) -> None:
    got, want = result_hash(engine_pdf), result_hash(oracle_pdf)
    if got != want:
        _fail(f"{name}: result hash {got[0][:12]} ({got[1]} rows) != "
              f"oracle {want[0][:12]} ({want[1]} rows)")
