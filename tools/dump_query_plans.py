"""Dump .explain('formatted') of registered queries into a directory.

Usage: python tools/dump_query_plans.py <out_dir> <suffix> [names...]
  out_dir: where to write, e.g. plans/r17 (created if missing)
  suffix:  file-name tag, e.g. 'before' or 'after'
  names:   query names (default: the bench HEADLINE set)

Writes <out_dir>/<name>_<suffix>.txt per query, so a plan change is
recorded as a before/after pair that a reader can diff. Reads the tables
from $SPARK_GRAFT_SF_DIR (default: the committed sf0.1 copy under
perfbench/data).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tutorial_iceberg_spark.registry import all_queries  # noqa: E402
from tutorial_iceberg_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    if not names:
        import bench

        names = list(bench.HEADLINE)
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", os.path.join(ROOT, "perfbench", "data", "sf0.1")
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="dump-query-plans")
    specs = all_queries()
    for name in names:
        try:
            df = specs[name].builder(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as e:  # record the failure, keep dumping the rest
            text = f"EXPLAIN FAILED: {e}\n"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"# wrote {path} ({len(text)} bytes)", file=sys.stderr)


if __name__ == "__main__":
    main()
