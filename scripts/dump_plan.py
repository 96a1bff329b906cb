"""Dump .explain("formatted") for named queries to plans/<dir>/<query>_<tag>.txt.

Runs in bench.py's sf-sized session, so the plans are the ones it times.

Usage: python scripts/dump_plan.py <outdir> <tag> query [query ...]
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_target, sf_session  # noqa: E402


def main() -> int:
    outdir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir, cpus = bench_target()
    spark = sf_session("plans", sf_dir, cpus)

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_ex = plan.count("Exchange")
        print(
            f"{name}: {path} ({n_ex} Exchange, "
            f"{plan.count('SortMergeJoin')} SMJ, "
            f"{plan.count('BroadcastHashJoin')} BHJ)",
            file=sys.stderr,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
