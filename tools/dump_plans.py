"""Dump .explain("formatted") for named bench queries to plans/r06/.

Usage: python tools/dump_plans.py <suffix> [query,query,...]
Writes plans/r06/<query>_<suffix>.txt for each query (default: the
full bench set). Measurement-only tool; bench.py stays frozen.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    suffix = sys.argv[1]
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None

    import __spark_entry__ as em
    from solrizer_spark.session import get_spark

    spark = get_spark(app_name="solrizer-plans")
    spark.sparkContext.setLogLevel("ERROR")

    qs = {**em.queries(), **em.component_queries()}

    names = only or sorted(qs)
    os.makedirs(OUT_DIR, exist_ok=True)
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"wrote {path}", flush=True)
        except Exception as e:  # noqa: BLE001 - report and continue
            print(f"SKIP {name}: {e}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
