"""Parser parity: our stateless parse_game vs the reference run on the
same fixture XML (pure Python — no Spark needed here)."""

from __future__ import annotations

import os
from datetime import date

import pytest

from mahjong_etl_spark.operators.mahjong_parse import parse_game

from .helpers import FIXTURE_ROOT, _fixture_files, reference_date_runner

EPOCH = date(1970, 1, 1)


def _ours_for_date(dt_dir: str, compat: bool = True) -> dict[str, list[dict]]:
    """Parse all games of a date and mint reference-equivalent ids
    (games ordered by game_id — our deterministic replacement for the
    reference's file-listing order)."""
    d = date(int(dt_dir[:4]), int(dt_dir[4:6]), int(dt_dir[6:8]))
    days = (d - EPOCH).days
    merged: dict[str, list[dict]] = {}
    offset = 0
    for game_id, path in _fixture_files(dt_dir):
        with open(path, "rb") as f:
            tables = parse_game(f.read(), game_id, d, compat=compat)
        n_kyokus = len(tables["kyokus"])
        for tname, rows in tables.items():
            for r in rows:
                r = dict(r)
                if "kyoku_local" in r:
                    local = r.pop("kyoku_local")
                    key = "id" if tname == "kyokus" else "kyoku_id"
                    minted = 0 if local is None else days * 100000 + offset + local
                    r[key] = minted
                merged.setdefault(tname, []).append(r)
        offset += n_kyokus
    return merged


@pytest.mark.parametrize("dt_dir", ["20240102", "20240103"])
def test_parser_matches_reference(dt_dir):
    run_reference_date = reference_date_runner()
    expected = run_reference_date(_fixture_files(dt_dir), dt_dir)
    actual = _ours_for_date(dt_dir)
    for table in expected:
        exp, act = expected[table], actual.get(table, [])
        assert len(act) == len(exp), f"{table}: {len(act)} rows vs {len(exp)}"
        for i, (e, a) in enumerate(zip(exp, act)):
            # align dict key order; reference games rows carry a date
            e = {k: e[k] for k in sorted(e)}
            a = {k: a[k] for k in sorted(a)}
            assert a == e, f"{table}[{i}]:\n ours: {a}\n ref:  {e}"


def test_compat_false_fixes_discard_rendering():
    """compat=False must show the actually-discarded tile (the
    reference's bug renders the drawn one — scrape.py:597)."""
    d = date(2024, 1, 2)
    path = os.path.join(FIXTURE_ROOT, "20240102", "g1minimal.xml")
    with open(path, "rb") as f:
        raw = f.read()
    buggy = parse_game(raw, "g1minimal", d, compat=True)
    fixed = parse_game(raw, "g1minimal", d, compat=False)
    # fixture: <U57/><E21/> — seat 1 draws 57 then discards 21
    b = [r for r in buggy["actions"] if r["type"] == "sutehai"][1]
    f_ = [r for r in fixed["actions"] if r["type"] == "sutehai"][1]
    assert b["pais"] == "p6"  # tile 57 (the drawn one — wrong tile, compat)
    assert f_["pais"] == "m6"  # tile 21 (the discarded one)


def test_generator_games_satisfy_parser_invariants():
    """Property sweep over 40 generator seeds (no Spark): every
    synthetic game parses without error and the structural invariants
    the star schema relies on hold — per-kyoku haipais carry 13 valid
    distinct tiles, action seqs are dense from 0, score_diff arrays
    are length 4, and every meld word decodes."""
    import datetime
    import random

    from mahjong_etl_spark.operators.mahjong_parse import parse_game
    from mahjong_etl_spark.sources.synth_games import render_game

    for seed in range(40):
        xml = render_game(random.Random(10_000 + seed))
        t = parse_game(xml, f"prop{seed}", datetime.date(2024, 3, 1))
        assert len(t["games"]) == 1 and len(t["rules"]) == 1
        assert len(t["game_players"]) == 4
        for h in t["haipais"]:
            assert len(h["pai_ids"]) == 13
            assert len(set(h["pai_ids"])) == 13
            assert all(0 <= p < 136 for p in h["pai_ids"])
        by_kyoku: dict = {}
        for a in t["actions"]:
            by_kyoku.setdefault(a["kyoku_local"], []).append(a["seq"])
        for seqs in by_kyoku.values():
            assert sorted(seqs) == list(range(len(seqs)))
        for table in ("agaris", "nagares"):
            for r in t[table]:
                assert len(r["score_diff"]) == 4
        n_kyokus = len(t["kyokus"])
        assert {h["kyoku_local"] for h in t["haipais"]} == set(range(n_kyokus))
