"""Scale rungs for the semantic-dedup quantizer family (SCALING.md).

Measures, per corpus, the two-level trained quantizer (k1×k2 cells)
against the signature-partitioned composition (2^b × k1×k2 cells at the
SAME plan literals — the configuration past the two-level codegen
ceiling, r10):

- build  = operator construction + first count: one-time codegen + JIT +
  the eager assignment checkpoint (corpus-linear write) + pair scan
- steady = second count on the built frame: the recurring per-run cost
  (cap window + within-cell pair scan + witness window)
- cells  = occupied composite cells (the coverage knob the composition
  exists to grow)

Usage: python scripts/bench_semantic_scale.py [sf_dir ...]
Defaults to the standard scratch ladder. One JSON line per
(corpus, variant) to stdout; keep the box idle (bench.py's caveat).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from forgettable_spark.extensions import codebook as cb
from forgettable_spark.extensions.similarity import as_double
from forgettable_spark.sources import load_table

K1, K2 = 32, 16
SIG_BITS = 6
THRESHOLD = 0.38
CAP = 64

DEFAULT_DIRS = [
    "/root/testdata/sf0.1",
    "/root/repo/.scratch/sf1",
    "/root/repo/.scratch/sf3",
    "/root/repo/.scratch/sf10",
    "/root/repo/.scratch/sf30emb",
]


def main() -> None:
    dirs = sys.argv[1:] or DEFAULT_DIRS
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    for sf_dir in dirs:
        if not os.path.exists(os.path.join(sf_dir, "embeddings.parquet")):
            continue
        emb = load_table(spark, sf_dir, "embeddings")
        n = emb.count()
        t0 = time.perf_counter()
        coarse, fines = cb.train_two_level_codebook(emb, k1=K1, k2=K2)
        t_train = time.perf_counter() - t0
        for variant, bits, bands in [
            ("two_level", 0, 0),
            (f"partitioned_b{SIG_BITS}", SIG_BITS, 0),
            # r11: full 1-flip multi-probe recovery — same composite
            # cells, pair join fanned out ≤(b+1)× (the recall-recovery
            # cost the operator prices; SCALING.md round-11)
            (f"probed_b{SIG_BITS}", SIG_BITS, 0),
            # r12: banded-OR at the SAME band width — r independent
            # signatures ORed, r× fan-out with geometric miss decay;
            # r=3 is the registered config (≈half the probed fan-out),
            # r=7 matches probed_b6's (b+1)× fan-out exactly.
            (f"banded_r3_b{SIG_BITS}", SIG_BITS, 3),
            (f"banded_r7_b{SIG_BITS}", SIG_BITS, 7),
        ]:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            if bits == 0:
                df = cb.semantic_dedup_two_level(
                    emb, coarse, fines, THRESHOLD, max_cell_size=CAP
                )
            elif bands:
                df = cb.semantic_dedup_banded(
                    emb, coarse, fines, THRESHOLD, n_bands=bands,
                    band_bits=bits, max_cell_size=CAP,
                )
            elif variant.startswith("probed"):
                df = cb.semantic_dedup_probed(
                    emb, coarse, fines, THRESHOLD, n_sig_bits=bits, max_cell_size=CAP
                )
            else:
                df = cb.semantic_dedup_partitioned(
                    emb, coarse, fines, THRESHOLD, n_sig_bits=bits, max_cell_size=CAP
                )
            dropped = df.count()
            t_build = time.perf_counter() - t0
            t0 = time.perf_counter()
            df.count()
            t_steady = time.perf_counter() - t0
            # occupied cells via the assignment expression alone (cheap
            # relative to the dedup; excluded from the timings above)
            a = emb.select(as_double("embedding").alias("_v"))
            if bands:
                a = cb.with_banded_cells(a, coarse, fines, bands, bits)
            elif bits:
                a = cb.with_partitioned_cell(a, coarse, fines, bits)
            else:
                a = cb.with_two_level_cell(a, coarse, fines)
            cells = a.select("cell").distinct().count()
            # sweep the operator's checkpoint blocks before the next variant
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for key in jmap.keySet().toArray():
                jmap.get(key).unpersist(False)
            print(
                json.dumps(
                    {
                        "sf_dir": sf_dir,
                        "rows": n,
                        "variant": variant,
                        "cells_occupied": cells,
                        "dropped": dropped,
                        "train_s": round(t_train, 2),
                        "build_s": round(t_build, 2),
                        "steady_s": round(t_steady, 2),
                    }
                ),
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
