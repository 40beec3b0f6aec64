"""Pure-CPU scaling calibration: measures this box's OWN parallel-speedup
ceiling with an embarrassingly parallel job (sha2 over a range), so the CDC
replay's scaling efficiency can be read against the hardware's, not against
a theoretical 4x.

Usage: python tools/cpu_calib.py <cpus> [rows]  -> one JSON line
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    cpus = int(sys.argv[1])
    rows = int(sys.argv[2]) if len(sys.argv) > 2 else 400_000_000

    from pyspark.sql import functions as F

    from maestro_spark.session import get_spark

    spark = get_spark(f"calib-{cpus}", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    def job(n):
        return (
            spark.range(n, numPartitions=cpus * 8)
            .select(
                F.sum(
                    F.sha2(F.col("id").cast("string"), 256).substr(1, 2).rlike("a").cast("int")
                ).alias("s")
            )
            .collect()[0]["s"]
        )

    job(rows // 10)  # warmup
    t0 = time.time()
    job(rows)
    wall = time.time() - t0
    print(json.dumps({"cpus": cpus, "rows": rows, "wall_sec": round(wall, 2),
                      "rows_per_sec": round(rows / wall, 1)}))
    spark.stop()


if __name__ == "__main__":
    main()
