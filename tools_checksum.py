"""Result-identity harness: order-insensitive checksums for every declared
query, so any plan rewrite is provably result-identical before/after.

Per query: the row count ``n``, the ``bit_xor`` of each row's xxhash64
``h``, and ``s``, the sum of the same hashes as ``decimal(38,0)``.  xor
cancels a row that appears twice, so ``h`` alone is a set checksum; ``s``
makes the checksum multiset-safe (the decimal sum cannot overflow under
ANSI mode where a bigint sum would).

Usage: python tools_checksum.py <sf_dir> <out.json> [query ...]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = sys.argv[1]
    out_path = sys.argv[2]
    only = set(sys.argv[3:])

    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from spel_spark.session import cache_scope, get_spark

    spark = get_spark(app_name="checksums")
    results: dict[str, dict] = {}
    for name, fn in entry.queries().items():
        if only and name not in only:
            continue
        try:
            with cache_scope():
                df = fn(spark, sf_dir)
                # deterministic column order; stringify doubles at full repr via
                # cast to string is LOCALE-free in Spark; hash the struct row
                row_hash = F.xxhash64(F.to_json(F.struct(*df.columns)))
                row = df.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.bit_xor(row_hash).alias("h"),
                    F.sum(row_hash.cast("decimal(38,0)")).alias("s"),
                ).collect()[0]
            results[name] = {
                "n": row["n"],
                "h": row["h"],
                "s": None if row["s"] is None else str(row["s"]),
                "cols": df.columns,
            }
        except Exception as exc:  # noqa: BLE001
            results[name] = {"error": f"{type(exc).__name__}: {exc}"[:500]}
        r = results[name]
        print(name, r.get("n"), r.get("h"), r.get("s"), flush=True)
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
