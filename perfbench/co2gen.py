"""Seeded generator for the wide World Bank CO2 table and its answer key.

The file has the shape of the reference's ``co2-dataset-edited.csv``
(FIXTURES.md A1): a UTF-8 BOM on the header, one quoted name/code pair
per row, 60 year columns 1960-2019 with empty fields for nulls (2015-2019
always empty) and a trailing comma on every line.  The edge cases the
pipeline depends on are planted on purpose: rows null in 2004 and/or
2014, rows null in every year, rows whose ``change`` is exactly 0, ties
in 2004/2014/change, and the five comparison countries.

Values sit on a 0.01 grid and are generated as integer hundredths, so the
answer key computes the doubles Spark parses (``k / 100`` is the correctly
rounded value of the decimal text) and every expected count and top-3
list is exact.  Sums are compared with a tolerance because Spark adds
partition sums in another order.
"""

from __future__ import annotations

import numpy as np

YEARS = [str(y) for y in range(1960, 2020)]
BASE, TARGET = "2004", "2014"
COMPARISON = {"Germany": "DEU", "United States": "USA", "France": "FRA", "China": "CHN", "Sweden": "SWE"}
# World-dimension codes the generated rows use.  FRA and NOR only match
# after the pipeline patches the dimension's '-99' codes; SOM is left out
# because the patch gives it two dimension rows.
DIM_CODES = (
    "NOR CAN KAZ UZB IDN ARG CHL KEN SDN RUS GRL MEX BRA PER COL VEN IND PAK "
    "IRN IRQ EGY DZA NGA ZAF AUS NZL JPN KOR THA VNM ESP ITA POL UKR GBR FIN "
    "QAT KWT TTO ARE"
).split()
INDICATOR = ('"CO2 emissions (metric tons per capita)"', '"EN.ATM.CO2E.PC"')
TOP_N = 3
#: centres of the 2004->2014 change regimes, in hundredths
CHANGE_REGIMES = (-600, -200, 0, 150, 500)


def generate(seed: int, n_rows: int) -> dict:
    """Return the generated table as integer hundredths plus null masks.

    ``values[i, j]`` is year ``YEARS[j]`` of row ``i`` in hundredths;
    ``null[i, j]`` marks an empty field."""
    if n_rows < 100:
        raise ValueError("n_rows must be at least 100")
    rng = np.random.default_rng(seed)
    names = [f"Country {i:07d}" for i in range(n_rows)]
    codes = [f"X{i:07d}" for i in range(n_rows)]
    order = rng.permutation(n_rows)
    specials = list(COMPARISON.items()) + [(f"Dim {c}", c) for c in DIM_CODES]
    for (name, code), row in zip(specials, order):
        names[row], codes[row] = name, code
    special_rows = set(int(r) for r in order[: len(specials)])

    # coarse grid (0.00-30.00) so 2004/2014/change values tie
    values = rng.integers(0, 3001, size=(n_rows, len(YEARS)), dtype=np.int64)
    null = rng.random((n_rows, len(YEARS))) < 0.1
    null[:, YEARS.index("2015"):] = True
    b, t = YEARS.index(BASE), YEARS.index(TARGET)
    # 2014 = 2004 + a change drawn from a few tight regimes, so k-means
    # converges in the same few iterations whatever the seed and the ML
    # calls cost the same on every seed; ~2% of rows keep the 2004 value
    regime = rng.choice(np.array(CHANGE_REGIMES), size=n_rows)
    delta = regime + np.rint(rng.normal(0.0, 5.0, size=n_rows)).astype(np.int64)
    delta[rng.random(n_rows) < 0.02] = 0
    values[:, t] = np.clip(values[:, b] + delta, 0, 4000)
    # ~8% null in one or both target years, ~1% null everywhere
    miss = rng.random(n_rows)
    null[:, b] |= miss < 0.04
    null[:, t] |= (miss >= 0.02) & (miss < 0.08)
    null[miss > 0.99, :] = True
    for row in special_rows:  # the comparison and dimension rows survive cleaning
        null[row, b] = null[row, t] = False
    # a tie at the top of 2014 and 2004, so the top-3 name tie-break matters
    keep = np.flatnonzero(~(null[:, b] | null[:, t]))
    for col in (t, b):
        top, other = keep[np.argmax(values[keep, col])], rng.choice(keep)
        values[other, col] = values[top, col]
    return {"names": names, "codes": codes, "values": values, "null": null}


def to_csv(table: dict) -> bytes:
    """Serialise the generated table the way the reference file is laid out."""
    values, null = table["values"], table["null"]
    text = np.array([f"{k // 100}.{k % 100:02d}" for k in range(int(values.max()) + 1)], dtype=object)
    cells = text[values]
    cells[null] = ""
    header = '﻿"Country Name","Country Code","Indicator Name","Indicator Code",' + ",".join(
        f'"{y}"' for y in YEARS
    ) + ","
    lines = [header]
    prefix_tail = ",".join(INDICATOR)
    for name, code, row in zip(table["names"], table["codes"], cells):
        lines.append(f'"{name}","{code}",{prefix_tail},' + ",".join(row) + ",")
    return ("\n".join(lines) + "\n").encode("utf-8")


def _top(names: list[str], vals: np.ndarray, desc: bool) -> list[tuple[str, float]]:
    # ties broken by name ascending, as the pipeline orders them
    order = sorted(range(len(names)), key=lambda i: (-vals[i] if desc else vals[i], names[i]))
    return [(names[i], float(vals[i])) for i in order[:TOP_N]]


def answer_key(table: dict) -> dict:
    """Expected pipeline results, computed in numpy from the generated values."""
    b, t = YEARS.index(BASE), YEARS.index(TARGET)
    keep = ~(table["null"][:, b] | table["null"][:, t])
    v04 = table["values"][keep, b] / 100
    v14 = table["values"][keep, t] / 100
    change = v14 - v04
    reduced = change <= 0
    names = [n for n, k in zip(table["names"], keep) if k]
    codes = [c for c, k in zip(table["codes"], keep) if k]
    matched = [c for c in codes if c in set(DIM_CODES) | set(COMPARISON.values())]
    sel = sorted(
        (n, float(c)) for n, c in zip(names, change) if n in COMPARISON
    )
    return {
        "n_raw": len(table["names"]),
        "n_clean": int(keep.sum()),
        "n_reduced": int(reduced.sum()),
        "n_increased": int((~reduced).sum()),
        "n_zero_change": int((change == 0).sum()),
        "sum_reduced": float(change[reduced].sum()),
        "sum_increased": float(change[~reduced].sum()),
        "sum_total": float(change.sum()),
        "top_2014": _top(names, v14, desc=True),
        "top_2004": _top(names, v04, desc=True),
        "top_reducers": _top(names, change, desc=False),
        "top_increasers": _top(names, change, desc=True),
        "selected": sel,
        "n_matched": len(matched),
        "sum_matched_change": float(sum(c for c, code in zip(change, codes) if code in set(matched))),
        "min_change": float(change.min()),
        "max_change": float(change.max()),
    }
