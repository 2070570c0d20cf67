"""spark-submit entry point (north_star: "ships via spark-submit
--py-files").

Usage:
    spark-submit --py-files spark_geo.zip -m spark_geo.cli ... OR
    spark-submit --py-files spark_geo.zip cli.py \
        --pages /path/pages.parquet --layer /path/layer.parquet \
        --out /path/out --res 7 [--resume] [--synth-pages N]

Runs the flagship geocode -> cell -> spatial-join -> tiles pipeline
with checkpoint/resume; prints one JSON status line.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="spark_geo",
                                description="spatial-join + tiling pipeline")
    p.add_argument("--pages", help="pages table path (parquet/iceberg)")
    p.add_argument("--synth-pages", type=int, default=0,
                   help="synthesize N deterministic pages instead of --pages")
    p.add_argument("--layer", help="polygon layer parquet (polygon_id, name, geom)")
    p.add_argument("--out", required=True, help="output directory")
    p.add_argument("--res", type=int, default=7, help="cell resolution")
    p.add_argument("--num-parts", type=int, default=64,
                   help="checkpoint buckets")
    p.add_argument("--fmt", default="auto", choices=["auto", "parquet", "iceberg"])
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    if not args.pages and not args.synth_pages:
        print("error: one of --pages or --synth-pages is required", file=sys.stderr)
        return 2
    if args.num_parts < 1:
        print("error: --num-parts must be >= 1", file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession
    from . import pipeline as PL
    from . import sources as SRC
    from .session import ship_package

    spark = SparkSession.builder.getOrCreate()  # configured by spark-submit
    ship_package(spark)
    t0 = time.time()
    if args.synth_pages:
        pages = PL.synth_pages(spark, args.synth_pages)
    else:
        pages = SRC.read_pages(spark, args.pages, fmt=args.fmt)
    layer = (SRC.read_pages(spark, args.layer, fmt=args.fmt)
             if args.layer else PL.make_world_layer(spark))
    result = PL.run_with_checkpoint(pages, layer, args.out,
                                    res=args.res, num_parts=args.num_parts)
    status = {
        "status": "ok",
        "out": args.out,
        "elapsed_sec": round(time.time() - t0, 2),
        **result,
    }
    print(json.dumps(status))
    return 0


if __name__ == "__main__":
    sys.exit(main())
