"""Seeded reference-shaped inputs for the ``bar_etl`` workload.

Reproduces the FIXTURES.md Family B quirks:

- B1 budapest: gzip CSV whose header is Hungarian (``,TS,ital,költség``);
- B2 london: gzip TSV with no header;
- B3 new york: gzip CSV with ``MM-dd-yyyy HH:mm`` dates;
- B4 bar_data.csv: 3 bars × 31 glasses, ``stock`` mostly digits with dirty
  values such as ``34 glasses``.

Drink names (238 of them) come in mixed case. Each bar's sales live in
their own directory so an incremental batch is one more file there;
every batch starts strictly after the previous one ends, so the
pipeline's strict-``>`` watermark admits exactly the new rows.
"""

from __future__ import annotations

import datetime as dt
import gzip
import os

import numpy as np

BARS = ("budapest", "london", "new york")
BAR_DIRS = {"budapest": "budapest", "london": "london", "new york": "ny"}

_ADJ = (
    "sweet sour dry blue red golden frozen spicy smoky royal wild "
    "dark silver lucky salty bitter velvet"
).split()
_NOUN = (
    "sangria mojito slammer paradise negroni daiquiri fizz sling "
    "sour punch mule collins martini spritz"
).split()
# the fake API transport answers with these glasses; the rest only exist
# in the stock file (left-join misses, as in the reference data)
_API_GLASSES = ["highball glass", "martini glass", "old-fashioned glass", "coupe", "shot glass"]
_OTHER_GLASSES = [f"{k} glass" for k in (
    "beer balloon brandy champagne cocktail collins cordial copper "
    "coffee hurricane irish jar jug margarita mason nick pint pitcher "
    "pousse punch tiki whiskey wine zombie cider"
).split()] + ["margarita/coupette glass"]
GLASSES = _API_GLASSES + _OTHER_GLASSES
assert len(GLASSES) == 31 and len(set(GLASSES)) == 31


def drinks(rng: np.random.Generator) -> list[str]:
    """238 distinct drinks (17 × 14), each in one seeded casing."""
    out = []
    for a in _ADJ:
        for n in _NOUN:
            name = f"{a} {n}"
            style = int(rng.integers(0, 4))
            if style == 0:
                name = name.title()
            elif style == 1:
                name = name.capitalize()
            elif style == 2:
                name = name.upper()
            out.append(name)
    assert len(out) == 238
    return out


def write_bar_data(path: str, rng: np.random.Generator) -> None:
    lines = ["glass_type,stock,bar"]
    for bar in BARS:
        for glass in GLASSES:
            stock = str(int(rng.integers(5, 200)))
            if (bar, glass) == ("new york", "highball glass"):
                stock = "34 glasses"  # the reference file's dirty row
            elif rng.random() < 0.05:
                stock = f"{stock} glasses"
            lines.append(f"{glass},{stock},{bar}")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")


class BarSources:
    """The three sales sources of one run; ``add_batch`` lands one new
    gzip file per bar, continuing each bar's timeline."""

    def __init__(self, root: str, seed: int):
        self.root = root
        self.rng = np.random.default_rng(seed)
        self.drinks = drinks(self.rng)
        os.makedirs(root, exist_ok=True)
        self.bar_data = os.path.join(root, "bar_data.csv")
        write_bar_data(self.bar_data, self.rng)
        self.dirs = {b: os.path.join(root, BAR_DIRS[b]) for b in BARS}
        for d in self.dirs.values():
            os.makedirs(d, exist_ok=True)
        self.clock = dt.datetime(2020, 12, 25, 16, 0, 0)
        self.batches = 0
        self.rows = 0

    @property
    def paths(self) -> tuple[str, str, str, str]:
        """(bar_data, budapest, london, ny) as build_database takes them."""
        return (self.bar_data, *(self.dirs[b] for b in BARS))

    def input_bytes(self) -> int:
        total = 0
        for d in self.dirs.values():
            total += sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
        return total

    def add_batch(self, rows_per_bar: int) -> int:
        """Write one file of ``rows_per_bar`` rows for each bar; returns the
        number of rows written."""
        span = rows_per_bar * 11  # ~11 s between sales, as in the reference
        offsets = np.sort(self.rng.integers(0, span, (len(BARS), rows_per_bar)), axis=1)
        for b, bar in enumerate(BARS):
            stamps = [self.clock + dt.timedelta(seconds=int(s)) for s in offsets[b]]
            names = self.rng.integers(0, len(self.drinks), rows_per_bar)
            prices = np.round(self.rng.uniform(2.99, 12.0, rows_per_bar), 2)
            self._write(bar, stamps, names, prices)
        # next batch starts on a later minute than anything written so far
        # (new york is minute-grain)
        self.clock += dt.timedelta(seconds=span + 120)
        self.clock = self.clock.replace(second=0)
        self.batches += 1
        self.rows += rows_per_bar * len(BARS)
        return rows_per_bar * len(BARS)

    def _write(self, bar: str, stamps, names, prices) -> None:
        path = os.path.join(self.dirs[bar], f"part-{self.batches:05d}.csv.gz")
        if bar == "budapest":
            header, sep, fmt = ",TS,ital,költség", ",", "%Y-%m-%d %H:%M:%S"
        elif bar == "london":
            header, sep, fmt = None, "\t", "%Y-%m-%d %H:%M:%S"
        else:
            header, sep, fmt = ",time,drink,amount", ",", "%m-%d-%Y %H:%M"
        lines = [] if header is None else [header]
        for i, (ts, n, p) in enumerate(zip(stamps, names, prices)):
            lines.append(sep.join((str(i), ts.strftime(fmt), self.drinks[n], f"{p}")))
        with gzip.open(path, "wt", encoding="utf-8", compresslevel=6) as f:
            f.write("\n".join(lines) + "\n")
