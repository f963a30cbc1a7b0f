"""compare.py prints per-set medians and quartiles, flags a later set
worse than the bound, and refuses records from different hosts."""

from __future__ import annotations

import json

import compare

HOST = {"nproc": 4, "mem_total_gb": 15.7, "cpu_model": "x86_64",
        "spark": "4.1.2", "java": "17", "python": "3.11.7", "seed": 1}


def _write(path, values, host=HOST):
    with open(path, "w") as f:
        for v in values:
            f.write(json.dumps({
                "workload": "ingest_and_lake", "trace": 0, "correct": True,
                "host": host, "named": {"write_amp": 40.0},
                "end_to_end": {"op_gmean_ms": {"value": v, "unit": "ms"}},
            }) + "\n")


def test_two_sets_within_bound(tmp_path, capsys):
    a, b = tmp_path / "a.jsonl", tmp_path / "b.jsonl"
    _write(a, [100, 102, 98, 101])
    _write(b, [103, 101, 104, 99])
    assert compare.main([str(a), str(b)]) == 0
    out = capsys.readouterr().out
    assert "op_gmean_ms" in out and "named.write_amp" in out


def test_worse_than_bound_is_flagged(tmp_path, capsys):
    a, b = tmp_path / "a.jsonl", tmp_path / "b.jsonl"
    _write(a, [100, 102, 98, 101])
    _write(b, [140, 141, 139, 142])
    assert compare.main([str(a), str(b)]) == 1
    assert " !" in capsys.readouterr().out


def test_refuses_records_from_different_hosts(tmp_path, capsys):
    a, b = tmp_path / "a.jsonl", tmp_path / "b.jsonl"
    _write(a, [100, 101])
    _write(b, [100, 101], host={**HOST, "nproc": 32})
    assert compare.main([str(a), str(b)]) == 1
    assert "different hosts" in capsys.readouterr().err
