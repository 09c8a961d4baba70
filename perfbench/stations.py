"""Seeded generator of WRM station-feed snapshots (FIXTURES.md section 1).

Each poll returns one UTF-8 CSV payload in the wire format the parser
reads: a `#id,...` header, then one row per docking station and one per
free-floating bike, column 2 being `epoch|gmt_local|gmt_server`. Polls
are stamped on a simulated clock that advances ``POLL_S`` seconds per
poll. The generator also emits:

- a small share of malformed rows the parser must drop (composite field
  that does not split in three, short rows, unparseable latitude);
- byte-identical repeats of the previous payload (the API returning the
  same snapshot), which the landing zone's duplicate gate must skip;
- one late file stamped on the previous day, which re-triggers that
  day's rebuild.

Everything is drawn from ``random.Random(seed)``, so one seed always
gives the same bytes, and the generator keeps the ground truth the
benchmark checks against: the last valid state of every station and the
number of rows that are valid, malformed and repeated.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

POLL_S = 30.0
N_STATIONS = 250
N_BIKES = 1500
START = datetime(2024, 6, 3, 6, 0, tzinfo=timezone.utc)
REPEAT_EVERY = 7  # every n-th poll repeats the previous payload byte for byte
MALFORMED_PER_POLL = 6  # rows per poll the parser drops
HEADER = (
    "#id,timestamp|gmt_local_diff_sec|gmt_servertime_diff_sec,name,lat,lon,"
    "bikes,spaces,installed,locked,temporary,total_docks,"
    "givesbonus_acceptspedelecs_fbbattlevel,pedelecs"
)
_STREETS = ("Rynek", "Plac Grunwaldzki", "Swidnicka", "Legnicka", "Dworzec")


@dataclass
class Snapshot:
    """One poll: the payload and when it is stamped (simulated clock)."""

    stamp: datetime
    payload: str
    valid_rows: int
    malformed_rows: int
    repeat: bool = False
    late: bool = False


@dataclass
class StationFeed:
    """Deterministic feed of ``N_STATIONS`` stations and ``N_BIKES`` bikes.

    ``polls`` counts the polls made; ``latest`` maps each station id to
    its last valid state (name, bikes, spaces, docks, installed).
    """

    seed: int
    polls: int = field(init=False, default=0)
    latest: dict[str, tuple] = field(init=False, default_factory=dict)

    def __post_init__(self) -> None:
        self._rng = random.Random(self.seed)
        rng = self._rng
        self._stations = []
        for i in range(1, N_STATIONS + 1):
            docks = rng.randint(8, 30)
            self._stations.append(
                [
                    f"{i:03d}",
                    f"{rng.choice(_STREETS)} {i}",
                    round(51.05 + rng.random() * 0.1, 6),
                    round(16.95 + rng.random() * 0.12, 6),
                    docks,
                    rng.randint(0, docks),
                ]
            )
        self._bikes = [
            [f"fb{10000 + j}", f"BIKE {60000 + j}", 51.0 + rng.random() * 0.2,
             16.9 + rng.random() * 0.2]
            for j in range(N_BIKES)
        ]
        self._last: Snapshot | None = None

    def _rows(self, stamp: datetime) -> tuple[list[str], int]:
        rng = self._rng
        epoch = stamp.timestamp()
        rows = []
        for st in self._stations:
            sid, name, lat, lon, docks, bikes = st
            bikes = max(0, min(docks, bikes + rng.randint(-2, 2)))
            st[5] = bikes
            ms = rng.randint(0, 999) / 1000.0
            installed = "true" if rng.random() > 0.02 else "false"
            pedelecs = rng.randint(0, bikes)
            flag = rng.choice(("true", "false", "True", ""))
            rows.append(
                f"{sid},{epoch + ms:.3f}|7200|-7200,{name},{lat},{lon},{bikes},"
                f"{docks - bikes},{installed},false,false,{docks},{flag},{pedelecs}"
            )
            self.latest[sid] = (name, bikes, docks - bikes, docks, installed == "true")
        for b in self._bikes:
            b[2] = round(b[2] + rng.uniform(-2e-4, 2e-4), 6)
            b[3] = round(b[3] + rng.uniform(-2e-4, 2e-4), 6)
            rows.append(
                f"{b[0]},{epoch:.3f}|7200|-7200,{b[1]},{b[2]},{b[3]},1,0,true,"
                f"false,false,1,true,{rng.randint(0, 1)}"
            )
        valid = len(rows)
        for k in range(MALFORMED_PER_POLL):
            kind = k % 3
            if kind == 0:
                rows.append(f"9{k:02d},{epoch:.3f}|7200,Broken,51.1,17.0,1,1,true,false,false,2,,0")
            elif kind == 1:
                rows.append(f"9{k:02d},corrupted_row_data")
            else:
                rows.append(f"9{k:02d},{epoch:.3f}|7200|-7200,Broken,invalid_lat,17.0,1,1,true,false,false,2,,0")
        # interleave the malformed rows deterministically
        rng.shuffle(rows)
        return rows, valid

    def poll(self) -> Snapshot:
        """The next poll on the simulated clock."""
        stamp = START + timedelta(seconds=POLL_S * self.polls)
        self.polls += 1
        if self._last is not None and self.polls % REPEAT_EVERY == 0:
            return Snapshot(stamp, self._last.payload, 0, 0, repeat=True)
        rows, valid = self._rows(stamp)
        snap = Snapshot(
            stamp, "\n".join([HEADER, *rows]) + "\n", valid, MALFORMED_PER_POLL
        )
        self._last = snap
        return snap

    def late_snapshot(self) -> Snapshot:
        """A file for the previous day, delivered late. Its date ranks it
        below every file of the current day, so it never changes the
        latest-per-station view; the station state is left as it was."""
        stamp = START - timedelta(hours=7)
        saved = dict(self.latest)
        rows, valid = self._rows(stamp)
        # generating moved the station state; put it back so the next
        # poll continues from the values the latest view must show
        self.latest = saved
        for st in self._stations:
            if st[0] in saved:
                st[5] = saved[st[0]][1]
        payload = "\n".join([HEADER, *rows]) + "\n"
        snap = Snapshot(stamp, payload, valid, MALFORMED_PER_POLL, late=True)
        self._last = snap
        return snap
