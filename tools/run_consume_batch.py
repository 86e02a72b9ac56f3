"""Job driver CLI — the open-Spark equivalent of the reference's Glue
entry point (``script/main.py:196-416``): resolve the incremental
window, run the pipeline's four country/distribution slices as one
pass, and write the reference's three sinks (gzip JSON nested and gzip
CSV flat, one file per slice; month-partitioned parquet for all).

    python tools/run_consume_batch.py \
        --input-dir /data/inputs --output-dir /data/out \
        --partition-date 2024-07-15 --days-ago 10

``--input-dir`` must hold parquet tables named ``changelog, texts,
visibility, fraud, contacts, visits, bundeslaender, stadtlandkreise``
(schemas: see pipelines.consume_batch docstrings / tests). ``--days-ago
full_refresh`` rewinds to the data epoch like the reference's flag.
The output dir gets ``csv/<slice>``, ``json/<slice>`` and ``parquet/``,
plus the job's stage-0 staging table ``_stage0_staging/merged`` and
``_run_staging/``, where each run writes all three sinks before it
publishes them by rename.
"""

from __future__ import annotations

import argparse
import json
import sys
from datetime import date
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from st_bigdata_consume_batch_ma_with_cr_ecd_spark.pipelines.consume_batch import (
    INPUT_TABLES,
    JobDates,
    run_job,
)
from st_bigdata_consume_batch_ma_with_cr_ecd_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input-dir", required=True)
    ap.add_argument("--output-dir", required=True)
    ap.add_argument("--partition-date", default=date.today().isoformat())
    ap.add_argument("--days-ago", default="10", help="integer lookback or 'full_refresh'")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)

    spark = get_spark("consume-batch-job", cpus=args.cpus)
    t = {name: spark.read.parquet(f"{args.input_dir}/{name}") for name in INPUT_TABLES}
    days: int | str = args.days_ago if args.days_ago == "full_refresh" else int(args.days_ago)
    dates = JobDates.resolve(date.fromisoformat(args.partition_date), days)

    out_root = str(Path(args.output_dir))
    rows_per_slice = run_job(t, dates, out_root)

    print(
        json.dumps(
            {
                "partition_date": args.partition_date,
                "window": [dates.first_day_past, dates.partition_month],
                "rows_per_slice": rows_per_slice,
                "total_rows": sum(rows_per_slice.values()),
                "output_dir": out_root,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
