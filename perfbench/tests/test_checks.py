"""Each output check passes on the right answer and fails loudly on a
planted wrong one. Pure Python: no Spark session needed."""

from __future__ import annotations

import copy
import math

import pandas as pd
import pytest

import checks
import gen


@pytest.fixture(scope="module")
def inputs():
    return gen.make_ingest_inputs(7, gen.IngestPlan(
        state_rows=300, wave_updates=40, wave_new=3, wave_dups=10,
        lake_rows=400, merge_clustered=20, merge_scattered=3,
        merge_inserts=5, cycles=3))


def _engine_state(inputs):
    """What a correct engine holds after all waves: the replay, with ids
    assigned at first insert."""
    state = checks.replay_waves(inputs.initial_wave, inputs.waves)
    ids = {k: f"id-{i}" for i, k in enumerate(sorted(state))}
    rows = [{**r, "id": ids[k]} for k, r in state.items()]
    return state, rows, ids


# -- ingest replay ---------------------------------------------------------

def test_replay_last_writer_wins(inputs):
    wave = inputs.waves[0]
    dup_keys = [r["locid"] for r in wave]
    dup = next(k for k in dup_keys if dup_keys.count(k) > 1)
    state = checks.replay_waves(inputs.initial_wave, [wave])
    last = [r for r in wave if r["locid"] == dup][-1]
    assert state[dup] is last


def test_ingest_state_passes(inputs):
    state, rows, ids = _engine_state(inputs)
    checks.check_ingest_state(rows, state, ids)


@pytest.mark.parametrize("plant", ["payload", "duplicate", "missing", "id"])
def test_ingest_state_fails_on_planted_error(inputs, plant):
    state, rows, ids = _engine_state(inputs)
    rows = copy.deepcopy(rows)
    if plant == "payload":      # an older writer won
        rows[5]["business"] = "stale"
    elif plant == "duplicate":  # the key appears twice
        rows.append({**rows[0], "id": "id-new"})
    elif plant == "missing":
        rows.pop()
    else:                       # the id changed on update
        rows[0]["id"] = "id-reassigned"
    with pytest.raises(checks.CheckFailed):
        checks.check_ingest_state(rows, state, ids)


def test_page_check(inputs):
    state, _, _ = _engine_state(inputs)
    want = [state[k] for k in sorted(state)[:5]]
    import json

    page = json.dumps([dict(r, id="x") for r in want])
    checks.check_page(page, want)
    with pytest.raises(checks.CheckFailed):
        checks.check_page(json.dumps([dict(r) for r in want[1:]]), want)
    bad = [dict(r) for r in want]
    bad[2]["country"] = "Atlantis"
    with pytest.raises(checks.CheckFailed):
        checks.check_page(json.dumps(bad), want)


# -- lake, MVs, changefeed -------------------------------------------------

def _apply(lake, mb):
    out = {k: r for k, r in lake.items()
           if not mb.delete_lo <= k < mb.delete_hi}
    out.update({r["k"]: r for r in mb.upserts})
    return out


def test_merges_keep_row_count_and_change_every_update(inputs):
    lake = {r["k"]: r for r in inputs.lake_initial}
    for mb in inputs.merges:
        new = _apply(lake, mb)
        assert len(new) == len(lake)
        d = checks.merge_deltas(lake, new, 1)
        kinds = {k[0] for k in d}
        assert kinds == {"insert", "delete", "update_preimage",
                         "update_postimage"}
        lake = new


def test_mv_check(inputs):
    lake = {r["k"]: r for r in inputs.lake_initial}
    fine, coarse = checks.mv_expected(lake)
    fine_rows = [{"cat": c, "region": g, "cents": s, "qty": q, "n_rows": n}
                 for (c, g), (s, q, n) in fine.items()]
    coarse_rows = [{"region": g, "cents": s, "qty": q, "n_rows": n}
                   for g, (s, q, n) in coarse.items()]
    checks.check_mvs(fine_rows, coarse_rows, lake)
    # zero-count groups (swept lazily by the engine) are not groups
    checks.check_mvs(fine_rows + [{"cat": 99, "region": "x", "cents": 0,
                                   "qty": 0, "n_rows": 0}], coarse_rows, lake)
    bad = copy.deepcopy(fine_rows)
    bad[0]["cents"] += 1
    with pytest.raises(checks.CheckFailed):
        checks.check_mvs(bad, coarse_rows, lake)
    bad = copy.deepcopy(coarse_rows)
    bad[-1]["n_rows"] -= 1
    with pytest.raises(checks.CheckFailed):
        checks.check_mvs(fine_rows, bad, lake)


def _feed_rows(delta):
    rows = []
    for (kind, version, *vals), n in delta.items():
        for _ in range(n):
            rows.append({"_change_type": kind, "_commit_version": version,
                         **dict(zip(gen.LAKE_COLUMNS, vals))})
    return rows


def test_changefeed_check(inputs):
    lake = {r["k"]: r for r in inputs.lake_initial}
    new = _apply(lake, inputs.merges[0])
    expected = checks.merge_deltas(lake, new, 3)
    rows = _feed_rows(expected)
    checks.check_changefeed(rows, expected)
    with pytest.raises(checks.CheckFailed):   # a lost change row
        checks.check_changefeed(rows[1:], expected)
    wrong = copy.deepcopy(rows)
    wrong[0]["_commit_version"] = 4           # attributed to another commit
    with pytest.raises(checks.CheckFailed):
        checks.check_changefeed(wrong, expected)
    wrong = copy.deepcopy(rows)
    post = next(r for r in wrong if r["_change_type"] == "update_postimage")
    post["cents"] += 1                        # a wrong postimage
    with pytest.raises(checks.CheckFailed):
        checks.check_changefeed(wrong, expected)


def test_lake_rows_check(inputs):
    lake = {r["k"]: r for r in inputs.lake_initial[:10]}
    rows = list(lake.values())
    checks.check_lake_rows(rows[::-1], lake, "t")
    with pytest.raises(checks.CheckFailed):
        checks.check_lake_rows(rows[:-1], lake, "t")


# -- oracle hash -----------------------------------------------------------

def test_oracle_hash_is_order_and_column_order_insensitive():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    b = pd.DataFrame({"v": [1.25, 0.5], "k": [2, 1]})
    checks.check_oracle("q", a, b)


@pytest.mark.parametrize("plant", ["value", "row", "column"])
def test_oracle_hash_fails_on_planted_error(plant):
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    if plant == "value":
        b = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.2501]})
    elif plant == "row":
        b = a.iloc[:1]
    else:
        b = a.rename(columns={"v": "w"})
    with pytest.raises(checks.CheckFailed):
        checks.check_oracle("q", a, b)


@pytest.mark.parametrize("x,d,want", [
    (0.38835, 4, 0.3884),       # a tie in decimal, below it in binary
    (-0.38835, 4, -0.3884),     # ties go away from zero
    (25.95875, 4, 25.9588),
    (0.12344999999999999, 4, 0.1234),  # not a tie: stays below
    (1234567.125, 2, 1234567.13),
    (2.5, 0, 3.0),
])
def test_spark_round_is_half_up_on_the_decimal_form(x, d, want):
    assert checks.spark_round(x, d) == want


def test_spark_round_passes_nan_and_inf():
    assert math.isnan(checks.spark_round(float("nan"), 2))
    assert checks.spark_round(float("inf"), 2) == float("inf")


def test_with_spark_rounding_rewrites_only_round_calls():
    sql = "SELECT ROUND(a, 2), round (b,4) + 0.0, bround(c, 1), round_x FROM t"
    assert checks.with_spark_rounding(sql) == (
        "SELECT spark_round(a, 2), spark_round(b,4) + 0.0, bround(c, 1), "
        "round_x FROM t")
