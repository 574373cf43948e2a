"""Round-6 optimization harness (guide §1.4/§1.5) — NOT the driver
bench. Times individual declared queries with the noop sink at any SF,
optionally dumps .explain("formatted") plans, and can run the
synthetic pipeline at a given n_docs. bench.py stays frozen.

Usage:
  python bench_extra.py q11_knn q10_pip_join --sf /root/testdata/sf1.0 --n 3
  python bench_extra.py --plans plans/r06 --suffix before
  python bench_extra.py --pipeline 40000 --n 3
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

QUERY_NAMES = (
    "q01_pricing_summary", "q09_tile_grid", "q10_pip_join",
    "q11_knn", "q13_exact_dedup", "q15_cosine_topk",
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", default=[])
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--plans", default=None, help="dir to write plans into")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--pipeline", type=int, default=0,
                    help="run synthetic pipeline at this n_docs")
    args = ap.parse_args()

    import georip_spark
    import __spark_entry__ as entrymod

    spark = georip_spark.get_spark("georip-bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    names = args.queries or list(QUERY_NAMES)

    out: dict = {"sf": args.sf, "queries": {}, "samples": {}}

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
        for name in names:
            df = qs[name](spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            path = os.path.join(args.plans, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path}")
        return

    if args.pipeline:
        from georip_spark import synth
        from georip_spark.pipeline import build_dataset
        import shutil
        import tempfile

        inp = tempfile.mkdtemp(prefix="georip_bx_")
        par = spark.sparkContext.defaultParallelism
        _r = synth.synth_rasters(spark, args.pipeline)
        _r.repartition(2 * par).write.parquet(f"{inp}/rasters")
        synth.synth_regions(spark, _r, polys_per_doc=3).repartition(
            2 * par).write.parquet(f"{inp}/regions")
        rasters = spark.read.parquet(f"{inp}/rasters")
        regions = spark.read.parquet(f"{inp}/regions")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        times = []
        spans = 0
        for i in range(args.n + 1):  # +1 warm
            spark.sparkContext.setJobDescription(f"pipeline run {i}")
            o = build_dataset(rasters, regions, broadcast_regions=True)
            t0 = time.time()
            st = o["docs_out"].selectExpr(
                "count(*) AS docs", "sum(size(spans)) AS spans").collect()[0]
            dt = time.time() - t0
            spans = int(st["spans"])
            if i:
                times.append(round(dt, 3))
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        out["pipeline"] = {"n_docs": args.pipeline, "spans": spans,
                           "times": times, "best": min(times),
                           "spans_per_sec": round(spans / min(times), 1)}
        shutil.rmtree(inp, ignore_errors=True)
        print(json.dumps(out))
        return

    # warm each shape at tiny SF
    for name in names:
        qs[name](spark, "/root/testdata/sf0.001").write.format(
            "noop").mode("overwrite").save()
    for name in names:
        ts = []
        for i in range(args.n):
            spark.sparkContext.setJobDescription(f"{name} run {i}")
            t0 = time.time()
            qs[name](spark, args.sf).write.format("noop").mode(
                "overwrite").save()
            ts.append(round(time.time() - t0, 3))
        out["queries"][name] = min(ts)
        out["samples"][name] = ts
    print(json.dumps(out))


if __name__ == "__main__":
    main()
