"""Seeded raw-draw corpus that grows one weekly draw at a time.

Draw ``i`` of seed ``s`` depends only on ``(s, i)``: it gets number
``FIRST_NUMERO + i`` and a date ``i`` weeks after ``FIRST_DATE``, so
appending draw N+1 never changes draws 0..N. The text comes from
``tests/fixture_gen.make_draw_text``; the prize count and the exact
``monto`` sum are read back from the text with a plain regex, so the
output checks do not depend on the parser they check.
"""

from __future__ import annotations

import datetime as dt
import random
import re
from dataclasses import dataclass
from pathlib import Path

from fixture_gen import make_draw_text

FIRST_NUMERO = 4000
FIRST_DATE = dt.date(2019, 1, 5)
_PRIZE = re.compile(r"^\d+\s+\w+\s+\.+\s+([\d,]+\.\d\d)$", re.MULTILINE)


@dataclass(frozen=True)
class Draw:
    index: int
    numero: int
    fecha: dt.date
    text: str
    n_premios: int
    monto_cents: int  # exact: every monto is a whole number of cents

    @property
    def relpath(self) -> str:
        return f"year={self.fecha.year}/sorteo={self.numero}/sorteo_{self.numero}.txt"


def make_draw(seed: int, index: int) -> Draw:
    rng = random.Random(seed * 1_000_003 + index)
    numero = FIRST_NUMERO + index
    fecha = FIRST_DATE + dt.timedelta(weeks=index)
    tipo = "EXTRAORDINARIO" if index % 5 == 4 else "ORDINARIO"
    text = make_draw_text(
        rng,
        numero,
        fecha.strftime("%d/%m/%Y"),
        (fecha + dt.timedelta(days=90)).strftime("%d/%m/%Y"),
        tipo,
        n_premios=rng.randint(30, 120),
    )
    montos = _PRIZE.findall(text)
    cents = sum(round(float(m.replace(",", "")) * 100) for m in montos)
    return Draw(index, numero, fecha, text, len(montos), cents)


def write_draw(raw_root: Path, draw: Draw) -> Path:
    path = raw_root / draw.relpath
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(draw.text, encoding="utf-8")
    return path


class Corpus:
    """The raw directory plus the running totals the checks compare to."""

    def __init__(self, raw_root: Path, seed: int):
        self.raw_root = raw_root
        self.seed = seed
        self.draws: list[Draw] = []

    @property
    def glob(self) -> str:
        return f"{self.raw_root}/year=*/sorteo=*/*.txt"

    def append(self) -> Draw:
        draw = make_draw(self.seed, len(self.draws))
        write_draw(self.raw_root, draw)
        self.draws.append(draw)
        return draw

    def grow_to(self, n: int) -> None:
        while len(self.draws) < n:
            self.append()

    @property
    def n_premios(self) -> int:
        return sum(d.n_premios for d in self.draws)

    @property
    def monto_cents(self) -> int:
        return sum(d.monto_cents for d in self.draws)

    @property
    def raw_bytes(self) -> int:
        return sum(len(d.text.encode("utf-8")) for d in self.draws)
