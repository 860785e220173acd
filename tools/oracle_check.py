#!/usr/bin/env python
"""Run the driver-style oracle comparison locally.

Usage:
    python tools/oracle_check.py [--sf-dir /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    parser.add_argument(
        "--extended",
        action="store_true",
        help="sweep every registered query, not only the driver-facing core tier (registry.CORE)",
    )
    parser.add_argument("names", nargs="*")
    args = parser.parse_args()

    from odoo_batch_processing_spark.oracle import check_all
    from odoo_batch_processing_spark.session import get_spark

    spark = get_spark("oracle-check")
    results = check_all(spark, args.sf_dir, only=args.names or None, extended=args.extended)
    n_fail = 0
    for r in results:
        print(r)
        n_fail += 0 if r.ok else 1
    print(f"\n{len(results) - n_fail}/{len(results)} queries match their oracle")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
