"""Record the expected output fingerprint of every registry op the
benchmark runs, into perfbench/expected.json.

    python3 perfbench/record.py [--sf-dir DIR]

Each op's output is first compared row for row with the query's
registry DuckDB oracle on the same dataset, by the oracle check the test
suite uses (tests/oracle_utils.py); an op whose output does not match is
reported and nothing is written.
"""

from __future__ import annotations

import argparse
import json
import sys

import harness as H
import workloads as W


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", default=None)
    args = ap.parse_args(argv)
    H.import_engine()
    sf_dir = H.data_dir(args.sf_dir)
    from bigdata06_spark.queries import load_all_queries
    from tests.oracle_utils import assert_matches_oracle, duck_connection

    specs = load_all_queries()
    con = duck_connection(sf_dir)
    recorded, bad = {}, []
    spark = None
    with H.RunDir("record") as run_dir:
        try:
            spark = H.start_spark(run_dir, sf_dir)
            for op in W.REGISTRY_OPS:
                df = specs[op].fn(spark, sf_dir)
                try:
                    assert_matches_oracle(df, con, specs[op].oracle)
                except AssertionError as e:
                    bad.append(op)
                    print(f"{op}: output differs from its oracle: {e}", file=sys.stderr)
                    continue
                recorded[op] = H.read_fingerprint(H.fingerprint_df(df))
                print(f"{op}: {recorded[op]} (oracle match)", file=sys.stderr)
        finally:
            H.stop_spark(spark)
    if bad:
        print(f"not recorded: {bad} do not match their oracles", file=sys.stderr)
        return 1
    try:
        with open(H.EXPECTED) as fh:
            allsf = json.load(fh)
    except FileNotFoundError:
        allsf = {}
    allsf[H.sf_key(sf_dir)] = recorded
    with open(H.EXPECTED, "w") as fh:
        json.dump(allsf, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
