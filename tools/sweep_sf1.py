"""Full-registry timing sweep at the distinct-content sf1 directory.

The per-round bench covers the 27 headline queries; this sweeps ALL
registered queries once at 10× distinct scale and prints the slowest —
the probe that caught the round-6 LSH blowups (MinHash near-dup pairs
at 992 s) which the headline set never exercised. Run it whenever an
operator family changes:

    python tools/bench_sf1.py            # ensures .bench/sf1d exists
    python tools/sweep_sf1.py            # the sweep
    python tools/sweep_sf1.py --from minhash_recall    # resume point
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF1_DIR = os.path.join(REPO, ".bench", "sf1d")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=SF1_DIR)
    ap.add_argument("--from", dest="start", default=None,
                    help="resume from this query name")
    ap.add_argument("--top", type=int, default=12)
    args = ap.parse_args()
    if not os.path.isdir(args.sf_dir):
        sys.exit(f"{args.sf_dir} missing — run tools/bench_sf1.py first")

    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark import plans
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    items = list(plans.all_queries().items())
    if args.start:
        names = [n for n, _ in items]
        items = items[names.index(args.start):]
    rows = []
    for name, fn in items:
        t0 = time.time()
        try:
            n = fn(spark, args.sf_dir).count()
            rows.append((time.time() - t0, name, n, ""))
        except Exception as e:  # a sweep keeps going past one failure
            rows.append((time.time() - t0, name, -1, type(e).__name__))
        t, _, cnt, err = rows[-1]
        print(f"{t:8.2f}s {name} rows={cnt} {err}", flush=True)
    rows.sort(reverse=True)
    print(f"=== slowest {args.top} ===")
    for t, name, n, err in rows[: args.top]:
        print(f"{t:8.2f}s {name} rows={n} {err}")
    errs = [r for r in rows if r[3]]
    print(f"=== {len(rows)} queries, {len(errs)} errors ===")
    if errs:
        sys.exit(1)


if __name__ == "__main__":
    main()
