"""Adversarial replica of the DRIVER's environment, not ours.

The driver does not call ``session.get_spark`` — it hands every
``queries()`` entry a vanilla SparkSession built with its own defaults.
This sweep rebuilds that worst case on purpose:

* a bare ``SparkSession.builder`` session — none of session.py's confs;
* an adversarial non-UTC session timezone (America/New_York), reset
  before EVERY query by ``selfcheck.sweep``, so any query that forgets
  to self-pin UTC before calendar math on TimestampType — or relies on
  a predecessor's pin — fails loudly here instead of in
  CORRECTNESS_r{N};
* no pre-set nanos conf — the events reader must set it at runtime.

Usage: python scripts/vanilla_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

from selfcheck import REPO, summary, sweep


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    sys.path.insert(0, REPO)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("vanilla-check")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    text, n_fail = summary(sweep(spark, sf_dir, only))
    print(f"\n{text}  [vanilla TZ=America/New_York]")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
