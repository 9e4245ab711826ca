"""Record a PSI drift baseline from a batch table.

Produces the JSON file ``runner --stream --psi-ref`` consumes: the
binned histogram of an expression over a reference table (yesterday's
validated data, a golden corpus), plus the streaming-side knobs.

    python tools/make_psi_baseline.py --input /path/transcripts \
        --bin-expr "cast(length(text)/50 as long)" \
        --out baseline.json [--window "10 minutes"] \
        [--watermark "1 hour"] [--threshold 0.2] [--severity WARNING]

One aggregation job: groupBy(bin).count over the reference table. The
bin expression is stored verbatim so the streaming leg bins the live
data identically. streaming.streaming_psi folds the live windows with
drift.psi_split's term builder, so thresholds calibrated on the batch
paths carry over. Its shares divide by a window's binned rows (rows
whose bin is NULL land in no bin), and a window where every bin is NULL
has psi NULL and is reported as drifted.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--input", required=True, help="reference table (path or catalog/Iceberg name)")
    p.add_argument("--bin-expr", required=True, help="SQL expression yielding an integer bin per row")
    p.add_argument("--out", required=True, help="baseline JSON path")
    p.add_argument("--window", default=None, help="streaming window size override")
    p.add_argument("--watermark", default=None, help="streaming watermark override")
    p.add_argument("--threshold", type=float, default=None)
    p.add_argument("--severity", default=None, help="drift row severity (default WARNING)")
    p.add_argument(
        "--min-n", type=int, default=None, dest="min_n",
        help="windows with fewer rows are never marked drifted "
        "(small-sample PSI guard)",
    )
    p.add_argument("--cores", type=int, default=None)
    args = p.parse_args()

    from pyspark.sql import functions as F

    from ocsf_validator_spark.session import get_spark
    from ocsf_validator_spark.sources import load_table

    spark = get_spark("psi-baseline", cores=args.cores)
    handle = load_table(spark, args.input)
    hist_rows = (
        handle.df.select(F.expr(args.bin_expr).cast("long").alias("_b"))
        .filter(F.col("_b").isNotNull())
        .groupBy("_b")
        .count()
        .collect()
    )
    if not hist_rows:
        print("[FATAL] bin expression produced no non-null bins", file=sys.stderr)
        return 2
    cfg: dict = {
        "hist": {str(int(r["_b"])): int(r["count"]) for r in hist_rows},
        "bin_expr": args.bin_expr,
        "source_snapshot": handle.snapshot_id,
    }
    for k in ("window", "watermark", "threshold", "severity", "min_n"):
        v = getattr(args, k)
        if v is not None:
            cfg[k] = v
    with open(args.out, "w") as f:
        json.dump(cfg, f, indent=2, sort_keys=True)
    print(
        f"wrote {args.out}: {len(cfg['hist'])} bins over "
        f"{sum(int(v) for v in cfg['hist'].values()):,} rows "
        f"({cfg['source_snapshot']})"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
