"""Seeded partner CSV drops for the ``ingest_drops`` workload.

Each drop is one lineitem-shaped CSV file, as a data partner would
place it in the landing zone. Every drop carries three kinds of known
defects, so the pipeline's outcome can be checked exactly:

- rule violations: rows whose ``l_quantity`` is negative, which the
  feed's ``in_range`` rule sends to quarantine;
- re-delivered duplicates: OLDER copies (ship date one day earlier,
  price +7.00) of valid rows, which keep-latest dedup must drop;
- malformed lines: a non-numeric key, which the CSV parse routes to
  the rejects table.

Drop sizes follow a fixed schedule per cycle: two small drops of
2,000 rows and one large drop of 150,000 rows, the drop size the
pipeline was first profiled with (3.1-3.9 s per drop steady on a
4-core host). The small size and the defect mix (2% violations, 3%
re-delivered duplicates, 3 malformed lines per drop) have no recorded
source: they are synthetic choices, small enough that every drop still
loads almost all of its rows. The seed draws every value, so one seed
always yields byte-identical files and the same expected counts.
Generation uses numpy only, never the engine.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np

COLUMNS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
           "l_quantity", "l_extendedprice", "l_discount", "l_tax",
           "l_returnflag", "l_linestatus", "l_shipdate"]
#: Rows per drop in one cycle: the small drops expose the pipeline's
#: fixed per-run cost, the large one its per-row cost. One untimed
#: small drop lands first as the warm-up: the first drop of a run
#: takes 2-3 times as long as later ones.
CYCLE_SIZES = (2_000, 2_000, 150_000)
WARM_SIZES = (2_000,)
VIOLATION_FRAC = 0.02
DUPLICATE_FRAC = 0.03
MALFORMED_LINES = 3
#: Disjoint order-key range per drop, so drops never share a key.
KEY_STRIDE = 10_000_000
_MALFORMED = "not_a_number,1,2,3,4.0,5.0,0.01,0.02,A,F,2000-01-01T00:00:00.000"


@dataclass(frozen=True)
class DropSpec:
    """Expected pipeline outcome for one drop (RunStatus counts)."""
    index: int
    #: rows drawn for the drop, before duplicates and malformed lines
    size: int
    rows_read: int
    rows_rejected: int
    rows_quarantined: int
    rows_loaded: int
    nbytes: int
    #: order-insensitive digest of the curated rows (see row_digest)
    digest: int


def _cents(c: int) -> str:
    return f"{'-' if c < 0 else ''}{abs(c) // 100}.{abs(c) % 100:02d}"


def row_digest(keys: list[str]) -> int:
    """Order-insensitive digest: sum of the 60-bit md5 prefix of each
    canonical row string. The benchmark computes the same sum in Spark
    over the warehouse read-back (``md5`` -> ``conv`` -> ``sum``)."""
    return sum(int(hashlib.md5(k.encode()).hexdigest()[:15], 16) for k in keys)


def make_drop(rng: np.random.Generator, index: int, n_rows: int,
              part_names: np.ndarray, part_brands: np.ndarray
              ) -> tuple[str, DropSpec]:
    """Return (CSV text, expected outcome) for one drop."""
    orderkey = (index * KEY_STRIDE + np.arange(n_rows) // 4).tolist()
    linenumber = (np.arange(n_rows) % 4 + 1).tolist()
    partkey = rng.integers(0, len(part_names), n_rows).tolist()
    suppkey = rng.integers(0, 1_000, n_rows).tolist()
    qty = (rng.integers(1, 51, n_rows) * 100).tolist()  # cents
    price = rng.integers(90_000, 10_500_000, n_rows).tolist()
    disc = rng.integers(0, 11, n_rows).tolist()
    tax = rng.integers(0, 9, n_rows).tolist()
    flag = np.array(["A", "N", "R"])[rng.integers(0, 3, n_rows)].tolist()
    status = np.array(["F", "O"])[rng.integers(0, 2, n_rows)].tolist()
    day = rng.integers(9_131, 11_900, n_rows)  # 1995-01-01 .. 2002-07
    date = np.datetime_as_string(day.astype("datetime64[D]")).tolist()
    older = np.datetime_as_string((day - 1).astype("datetime64[D]")).tolist()
    bad = (rng.random(n_rows) < VIOLATION_FRAC).tolist()
    redeliver = (rng.random(n_rows) < DUPLICATE_FRAC).tolist()

    small = [_cents(c) for c in range(11)]  # discount and tax cents

    def line(i: int, q: int, p: int, d: str) -> str:
        # q: a whole quantity in cents, negative on a violation; p > 0
        return (f"{orderkey[i]},{partkey[i]},{suppkey[i]},{linenumber[i]},"
                f"{q // 100 if q > 0 else '-' + str(-q // 100)}.00,"
                f"{p // 100}.{p % 100:02d},{small[disc[i]]},{small[tax[i]]},"
                f"{flag[i]},{status[i]},{d}T00:00:00.000")

    body, canon = [], []
    for i in range(n_rows):
        q = -qty[i] if bad[i] else qty[i]
        body.append(line(i, q, price[i], date[i]))
        if bad[i]:
            continue
        canon.append(f"{orderkey[i]}|{linenumber[i]}|{partkey[i]}|{suppkey[i]}|"
                     f"{q}|{price[i]}|{disc[i]}|{tax[i]}|{flag[i]}|{status[i]}|"
                     f"{date[i]}|{part_names[partkey[i]]}|{part_brands[partkey[i]]}")
        if redeliver[i]:
            body.append(line(i, q, price[i] + 700, older[i]))
    body.extend([_MALFORMED] * MALFORMED_LINES)
    body = [body[k] for k in rng.permutation(len(body))]
    text = ",".join(COLUMNS) + "\n" + "\n".join(body) + "\n"
    spec = DropSpec(
        index=index,
        size=n_rows,
        rows_read=len(body),
        rows_rejected=MALFORMED_LINES,
        rows_quarantined=sum(bad),
        rows_loaded=len(canon),
        nbytes=len(text.encode()),
        digest=row_digest(canon),
    )
    return text, spec


def write_drops(staging: str, seed: int, first_index: int, sizes,
                part_names: np.ndarray, part_brands: np.ndarray
                ) -> list[tuple[str, DropSpec]]:
    """Write one drop per entry of ``sizes`` to ``staging``, numbered
    from ``first_index``; return (path, expected outcome) per drop in
    landing order."""
    os.makedirs(staging, exist_ok=True)
    out = []
    for index, n_rows in enumerate(sizes, start=first_index):
        rng = np.random.default_rng([seed, index])
        text, spec = make_drop(rng, index, int(n_rows), part_names, part_brands)
        path = os.path.join(staging, f"drop-{index:05d}.csv")
        with open(path, "w") as f:
            f.write(text)
        out.append((path, spec))
    return out
