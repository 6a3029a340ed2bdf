"""Expected output digests for the query workloads.

A member's output is correct when the order-insensitive
``digest_frame`` of what Spark returns equals the digest of the
member's DuckDB oracle SQL over the same fixture files. The expected
digests are stored in ``expected_digests.json`` beside this file
(keyed by fixture generator version and scale factor), so a timed run
never pays for DuckDB; ``python3 perfbench/run.py --self-check``
recomputes them from DuckDB and reports any drift.
"""

from __future__ import annotations

import json
import os

DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "expected_digests.json")

#: Rounding applied before hashing floats, absorbing last-ulp drift
#: between the engines (the same tolerance the repo's pre-flight uses).
FLOAT_DIGITS = 9


def digests_key(sf: float) -> str:
    from fixtures import GENERATOR_VERSION

    return f"g{GENERATOR_VERSION}-sf{sf}"


def load_expected(sf: float) -> dict[str, str]:
    try:
        with open(DIGESTS_PATH) as f:
            return json.load(f).get(digests_key(sf), {})
    except FileNotFoundError:
        return {}


def oracle_digests(sf_dir: str, oracles: dict[str, str],
                   names: list[str]) -> dict[str, str]:
    """Run each member's oracle SQL in DuckDB over ``sf_dir``."""
    import duckdb
    from dataingestionengineprocess_spark.catalog import TABLES
    from dataingestionengineprocess_spark.oracle_compare import digest_frame

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {n: digest_frame(con.execute(oracles[n]).df(), FLOAT_DIGITS)
                for n in names}
    finally:
        con.close()


def store_expected(sf: float, digests: dict[str, str]) -> None:
    try:
        with open(DIGESTS_PATH) as f:
            data = json.load(f)
    except FileNotFoundError:
        data = {}
    data.setdefault(digests_key(sf), {}).update(digests)
    with open(DIGESTS_PATH, "w") as f:
        json.dump(data, f, indent=2, sort_keys=True)
        f.write("\n")
