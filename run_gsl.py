"""spark-submit entrypoint: run a GSL script.

The reference's CLI runs a script file via spark-submit
(``GMQL-Cli/.../GMQLExecuteCommand.scala:95-236``, ``-scriptpath``);
this is that surface for the transcript engine:

    spark-submit --py-files gmql_spark.zip run_gsl.py --script q.gsl
    spark-submit ... run_gsl.py --inline "
        T = LOAD '/warehouse/transcripts';
        R = ROLLUP(tier: '1m') T;
        MATERIALIZE R INTO '/out/r';"

Exit code 0 and one JSON line {name: rows} on success; parse/compile
errors (GSLError) report the offending statement and exit 2.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    g = ap.add_mutually_exclusive_group(required=True)
    g.add_argument("--script", help="path to a .gsl script file")
    g.add_argument("--inline", help="script text inline")
    args = ap.parse_args(argv)

    text = args.inline if args.inline else open(args.script).read()

    from gmql_spark.session import get_spark

    spark = get_spark(app_name="gmql-spark-gsl")

    from gmql_spark.plans.dsl import GSLError, run_script

    try:
        results = run_script(spark, text)
    except GSLError as e:
        print(f"GSL error: {e}", file=sys.stderr)
        return 2
    print(json.dumps(results))
    return 0


if __name__ == "__main__":
    sys.exit(main())
