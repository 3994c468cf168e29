"""Seeded synthetic Tenhou log trees on real calendar dates.

Games come from the public ``sources.synth_games.render_game``; the
tree layout is the scraper's ``<root>/<YYYYMMDD>/<game_id>.xml``.  The
dates are consecutive real days starting at a seed-chosen day, so
every directory name is a valid date and nothing is quarantined.

:meth:`LogTree.expected` is the independent side of the ingest checks:
per-table row counts from a driver-side ``parse_game`` over the same
files, with no Spark involved.
"""

from __future__ import annotations

import datetime
import os
import random
from collections import Counter

from mahjong_etl_spark.operators.mahjong_parse import TABLES, parse_game
from mahjong_etl_spark.sources.synth_games import render_game


def first_day(seed: int) -> datetime.date:
    return datetime.date(2021, 1, 1) + datetime.timedelta(
        days=random.Random(f"first-day:{seed}").randrange(3 * 365)
    )


class LogTree:
    """A log tree that grows one date at a time."""

    def __init__(self, root: str, seed: int):
        self.root = root
        self.seed = seed
        self.next_day = first_day(seed)
        self.files: dict[str, list[str]] = {}
        self.xml_bytes: dict[str, int] = {}

    def add_day(self, n_games: int) -> str:
        """Write ``n_games`` logs under the next calendar day; returns
        its ``YYYYMMDD`` directory name."""
        day = self.next_day.strftime("%Y%m%d")
        self.next_day += datetime.timedelta(days=1)
        d = os.path.join(self.root, day)
        os.makedirs(d)
        paths, size = [], 0
        for i in range(n_games):
            xml = render_game(random.Random(f"{self.seed}:{day}:{i}")).encode()
            path = os.path.join(d, f"{day}gm-{self.seed & 0xFFFF:04x}-{i:05d}.xml")
            with open(path, "wb") as f:
                f.write(xml)
            paths.append(path)
            size += len(xml)
        self.files[day] = paths
        self.xml_bytes[day] = size
        return day

    def n_games(self, days) -> int:
        return sum(len(self.files[d]) for d in days)

    def n_bytes(self, days) -> int:
        return sum(self.xml_bytes[d] for d in days)

    def expected(self, days) -> Counter:
        """Row counts per table from parsing every file of ``days`` on
        the driver."""
        counts: Counter = Counter({t: 0 for t in TABLES})
        for day in days:
            started = datetime.datetime.strptime(day, "%Y%m%d").date()
            for path in self.files[day]:
                with open(path, "rb") as f:
                    rows = parse_game(f.read(), os.path.basename(path)[:-4], started)
                for t in TABLES:
                    counts[t] += len(rows[t])
        return counts
