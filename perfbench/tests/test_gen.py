"""The seeded generator: determinism and a ledger that equals a
brute-force recount of the written files. No Spark."""

from __future__ import annotations

import hashlib
import os

import gen


def _digests(directory: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def _all(tmp_path, seed: int) -> dict[str, str]:
    base = tmp_path / f"s{seed}"
    gen.etl_inputs(seed, str(base / "etl"), 300, 400, 2)
    gen.query_tables(seed, str(base / "tables"), 0.001)
    return {f"{sub}/{k}": v for sub in ("etl", "tables")
            for k, v in _digests(str(base / sub)).items()}


def test_same_seed_gives_byte_identical_files(tmp_path):
    first = _all(tmp_path / "a", 7)
    assert first == _all(tmp_path / "b", 7)


def test_different_seed_gives_different_files(tmp_path):
    a, b = _all(tmp_path / "a", 7), _all(tmp_path / "b", 8)
    assert len(a) == len(b)
    # Only the two fixed lookup tables may be shared.
    fixed = {v for k, v in a.items()
             if k.endswith(("region.parquet", "nation.parquet"))}
    assert set(a.values()) & set(b.values()) == fixed


def _ledger_rows(manifest: dict) -> list[dict]:
    rows = manifest["seed_loads"] + manifest["warmup"]
    for loads in manifest["rounds"]:
        rows += loads
    return rows


def test_etl_ledger_equals_brute_force_recount(tmp_path):
    out = str(tmp_path / "etl")
    manifest = gen.etl_inputs(3, out, 400, 600, 2)
    recount = gen.recount_ledger(out, manifest)
    keys = ("insert", "update", "duplicate", "invalid")
    for want, got in zip(_ledger_rows(manifest), recount):
        assert {k: want[k] for k in keys} == {k: got[k] for k in keys}, want["path"]
    # Every routing class and the invalid rows really occur.
    timed = [e for loads in manifest["rounds"] for e in loads]
    for k in keys:
        assert all(e[k] > 0 for e in timed), k


def test_finals_follow_the_ledger(tmp_path):
    manifest = gen.etl_inputs(5, str(tmp_path / "etl"), 300, 400, 3)
    last = manifest["finals_by_round"][-1]
    assert last == manifest["finals"]
    for s, f in last.items():
        rows = [e for e in _ledger_rows(manifest) if str(e["source"]) == s]
        assert f["total"] == sum(e["fresh"] for e in rows)
        assert f["active"] == sum(e["insert"] for e in rows)
