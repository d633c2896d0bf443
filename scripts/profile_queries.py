"""Profile individual driver-contract queries: wall time + physical plan.

Usage: python scripts/profile_queries.py [sf_dir] q1 q2 ...
       python scripts/profile_queries.py --explain q1
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as em  # noqa: E402
from record_linkage_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:]]
    explain = "--explain" in args
    args = [a for a in args if a != "--explain"]
    sf = args[0] if args and args[0].startswith("/") else "/root/testdata/sf0.01"
    names = [a for a in args if not a.startswith("/")]
    spark = get_spark("profile")
    qs = em.queries()
    for name in names or list(qs):
        fn = qs[name]
        df = fn(spark, sf)
        if explain:
            print(f"===== {name} plan =====")
            df.explain("formatted")
        for trial in range(2):
            t0 = time.time()
            n = df.count()
            print(f"{name}: trial{trial} {n} rows in {time.time() - t0:.2f}s")
    spark.stop()


if __name__ == "__main__":
    main()
