#!/usr/bin/env python
"""spark-submit entry: training-corpus preparation (clean + dedup).

  spark-submit --py-files oculus_crawl_spark.zip jobs/prepare_corpus.py \
      --documents /warehouse/documents --out /warehouse/clean \
      --langs en --min-quality 0.5

Runs the fused prep pipeline (operators/pipeline.py): language filter +
quality threshold + exact dedup in one corpus pass (signals computed in
the scan projection, one reducing shuffle on the content fingerprint),
then writes the surviving documents — canonical copy per content group,
with its pipeline signals — to ``--out``. The input needs (doc_id,
text); all other columns are carried through on the surviving rows.
"""

from __future__ import annotations

import argparse
import os
import json
import sys

# Allow plain `python jobs/<job>.py` runs: put the repo root on the
# path when the package is not already importable (spark-submit
# --py-files provides it on a cluster).
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--documents", required=True, help="input table path (doc_id, text, ...)")
    ap.add_argument("--out", required=True, help="output table path")
    ap.add_argument("--langs", default="en", help="comma-separated lang allowlist")
    ap.add_argument("--min-quality", type=float, default=0.5)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from oculus_crawl_spark.operators.pipeline import clean_corpus
    from oculus_crawl_spark.session import get_spark
    from oculus_crawl_spark.sources.tables import write_table

    spark = get_spark(app_name="ocs_prepare_corpus")
    docs = spark.read.parquet(args.documents)
    kept = clean_corpus(
        docs,
        keep_langs=tuple(args.langs.split(",")),
        min_quality=args.min_quality,
    )
    # Re-attach the full document row for the surviving canonical ids.
    # doc_id is unique in the input, so this is a 1:1 semi-side join;
    # the signals frame is the small side after filtering -> broadcast
    # would apply automatically under AQE when it fits.
    out = docs.join(kept, "doc_id", "inner")
    write_table(out, args.out)
    n_in = docs.count()  # metadata-cheap parquet count (pruned scan)
    # Count the WRITTEN table, not the pipeline frame: out.count() would
    # re-execute the whole clean+dedup+join (nothing is persisted),
    # roughly doubling the job's cost for a stats line.
    from oculus_crawl_spark.sources.tables import read_engine_table

    n_out = read_engine_table(spark, args.out, out.schema).count()
    print(
        json.dumps(
            {
                "input_docs": n_in,
                "surviving_docs": n_out,
                "kept_frac": round(n_out / n_in, 4) if n_in else 0.0,
                "out": args.out,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
