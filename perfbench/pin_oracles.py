"""Pin the DuckDB oracle output of every query_mix query over the fixture.

    python3 perfbench/pin_oracles.py

Writes ``fixtures/oracle-sf0.01/<query>.parquet`` and a manifest keyed by
the oracle SQL and the fixture bytes; ``query_mix`` reads a pinned output
only while its key still matches, and runs the oracle live otherwise.
Each pinned file is read back and compared with the live output first.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from data_engineering_1_spark.plans import registry  # noqa: E402

import pandas as pd  # noqa: E402

from querymix import (  # noqa: E402
    FIXTURE, PINNED, PLAIN, SHARED, duck_connection, fixture_digest,
    oracle_key, parity_problems,
)


def main() -> int:
    oracles = registry.get_oracles()
    os.makedirs(PINNED, exist_ok=True)
    con = duck_connection(FIXTURE, threads=2, memory="1GB")
    fixture = fixture_digest()
    manifest = {}
    for name in SHARED + PLAIN:
        live = con.execute(oracles[name]).df()
        path = os.path.join(PINNED, f"{name}.parquet")
        live.to_parquet(path, index=False)
        diff = parity_problems(name, pd.read_parquet(path), live)
        if diff:
            print(f"{name}: pinned copy differs from live output: {diff}",
                  file=sys.stderr)
            return 1
        manifest[name] = {"file": f"{name}.parquet",
                          "key": oracle_key(oracles[name], fixture)}
    con.close()
    with open(os.path.join(PINNED, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
