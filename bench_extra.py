"""Auxiliary measurement harness for optimization work (bench.py is
FROZEN for driver measurement; every extra probe lives here).

Modes:
  python bench_extra.py time q233_embedding_lsh_recall [q...] [--n 2]
      Time named queries (build + noop sink, same methodology as
      bench.py) N times each; prints per-run seconds. One untimed
      build + noop write of the first query runs before any timed one:
      the first cell of a process otherwise absorbs the session and
      JIT warm-up (q100 at sf0.1 on local[4]: 5.95-7.51 s as the first
      cell, 0.82-1.09 s behind one warm-up cell).
  python bench_extra.py explain q233_embedding_lsh_recall [q...]
      Write .explain("formatted") for each query to
      plans/r06/<name>.txt (rename to _before/_after when committing).
  python bench_extra.py pq
      Stage-isolated timings for the PQ family (codebooks / encode /
      ADC table / full cell) so the one-time codegen constant is
      separated from compute.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import os
import sys
import time

import __spark_entry__ as em
from validate_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    mode = sys.argv[1]
    args = sys.argv[2:]
    n = 1
    if "--n" in args:
        i = args.index("--n")
        n = int(args[i + 1])
        args = args[:i] + args[i + 2 :]
    spark = get_spark(
        app="bench_extra", cores=os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    qs = em.queries()

    if mode == "time":
        spark.sparkContext.setJobDescription(f"{args[0]} warm-up")
        _noop(qs[args[0]](spark, SF_DIR))
        spark.catalog.clearCache()
        for name in args:
            for r in range(n):
                spark.sparkContext.setJobDescription(f"{name} run{r}")
                t0 = time.perf_counter()
                _noop(qs[name](spark, SF_DIR))
                print(f"{name} run{r}: {time.perf_counter() - t0:.3f}s", flush=True)
                spark.catalog.clearCache()
    elif mode == "explain":
        os.makedirs("plans/r06", exist_ok=True)
        for name in args:
            df = qs[name](spark, SF_DIR)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            out = f"plans/r06/{name}.txt"
            with open(out, "w") as fh:
                fh.write(txt)
            print(f"wrote {out} ({len(txt)} bytes)", flush=True)
            spark.catalog.clearCache()
    elif mode == "pq":
        from pyspark.sql import functions as F

        from validate_spark.operators import similarity as sim

        emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        t0 = time.perf_counter()
        cb = sim.pq_codebooks(emb, m=8, n_codes=16)
        print(f"pq_codebooks: {time.perf_counter() - t0:.3f}s", flush=True)
        spread = em._fan(emb)  # the q219/q234 cells' corpus input
        t0 = time.perf_counter()
        _noop(sim.pq_encode(spread, cb))
        print(f"pq_encode(first): {time.perf_counter() - t0:.3f}s", flush=True)
        t0 = time.perf_counter()
        _noop(sim.pq_encode(spread, cb))
        print(f"pq_encode(warm): {time.perf_counter() - t0:.3f}s", flush=True)
        q = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        t0 = time.perf_counter()
        _noop(sim.pq_adc_topk(spread, q, cb, k=10))
        print(f"pq_adc_topk(first): {time.perf_counter() - t0:.3f}s", flush=True)
        t0 = time.perf_counter()
        _noop(sim.pq_adc_topk(spread, q, cb, k=10))
        print(f"pq_adc_topk(warm): {time.perf_counter() - t0:.3f}s", flush=True)
    else:
        print(f"unknown mode {mode}", file=sys.stderr)
        return 2
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
