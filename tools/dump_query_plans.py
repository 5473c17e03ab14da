"""Write the explain("formatted") output of each named query (default:
the bench HEADLINE set) at the given sf_dir into plans/.

The tag names the round directory and the file suffix: "r15_before"
writes plans/r15/<query>_before.txt, a bare "r15" writes
plans/r15/<query>.txt, and a tag without an rNN prefix writes
plans/r14/<query>_<tag>.txt.

Usage: python tools/dump_query_plans.py <tag> [sf_dir] [query ...]
"""
from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    tag = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    import __spark_entry__ as e
    from bench import HEADLINE
    from etl_school_spark.session import get_spark

    spark = get_spark("dump-query-plans")
    qs = e.queries()
    names = sys.argv[3:] or [n for n in HEADLINE if n in qs]
    # a prefix-less tag keeps the legacy plans/r14/ layout
    m = re.fullmatch(r"(r\d+)(?:_(.+))?", tag)
    round_dir, file_tag = (m.group(1), m.group(2)) if m else ("r14", tag)
    suffix = f"_{file_tag}" if file_tag else ""
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", round_dir,
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        qe = df._jdf.queryExecution()
        formatted = qe.explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        formatted = re.sub(r"Location: \S+", "Location: <sf_dir>", formatted)
        path = os.path.join(out_dir, f"{name}{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} @ {sf_dir} — explain('formatted'), tag={tag}\n")
            fh.write(formatted.rstrip() + "\n")
        print(f"wrote {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
