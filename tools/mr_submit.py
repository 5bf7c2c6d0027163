"""Drop-in job submitter accepting the reference's CLI contract.

The reference runs jobs as
    mapreduce-submit --input INPUT_DIR --output OUTPUT_DIR \
        --mapper MAP_EXEC --reducer REDUCE_EXEC \
        --nmappers N --nreducers M
(reference mapreduce/submit.py:18-60 — same flag names and defaults).
This shim runs the identical contract on the engine: text-directory scan
with an N-way split floor (sources/text_dir.py), the executable
mapper/reducer pipeline with md5-mod partitioning and byte-sorted groups
(operators/pipe.py, golden-parity-tested against the reference's own
outputs), and M tab-separated `part-{NNNNN}` files written into a fresh
output directory by submit_job's saveAsTextFile (the reference's rmtree
semantics).

    python tools/mr_submit.py \
        --input tests/testdata/input --output /tmp/out \
        --mapper ./wc_map.sh --reducer ./wc_reduce.sh \
        --nmappers 2 --nreducers 1

Unlike the reference there is no manager/worker cluster to start first —
scheduling, retries, and shuffle are Spark's (SURVEY.md §2d).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(
        description="Run a mapper/reducer-executable job (reference CLI contract)."
    )
    ap.add_argument("--input", required=True, help="input directory of text files")
    ap.add_argument("--output", required=True, help="output directory (overwritten)")
    ap.add_argument("--mapper", required=True, help="mapper executable/command")
    ap.add_argument("--reducer", required=True, help="reducer executable/command")
    ap.add_argument("--nmappers", type=int, default=4, help="map split floor")
    ap.add_argument("--nreducers", type=int, default=4, help="reduce partitions")
    args = ap.parse_args()

    from mapreduce_simulation_spark.operators.pipe import submit_job
    from mapreduce_simulation_spark.session import build_session

    spark = build_session("mr-submit")
    try:
        submit_job(
            spark,
            args.input,
            args.output,
            args.mapper,
            args.reducer,
            num_mappers=args.nmappers,
            num_reducers=args.nreducers,
        )
        n = len(
            [
                f
                for f in os.listdir(args.output)
                if f.startswith("part-")
            ]
        )
        print(f"wrote {n} part files to {args.output}")
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
