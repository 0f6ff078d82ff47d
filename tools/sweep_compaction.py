"""IVF small-file compaction benefit sweep (round 8).

Quantifies the fragmentation tax the fourth lifecycle leg exists for:
build an index, fragment it with many small streamed-style appends
(one parquet file per touched list per append — exactly what a
long-running ingest leaves behind), and measure the warm indexed-probe
wall at each stage: fresh -> fragmented -> compacted.  Also reports
file counts and the compaction's own cost.

Usage: python tools/sweep_compaction.py [sf_dir] [n_appends]
"""

import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from spark_alchemy_spark.operators.similarity import (  # noqa: E402
    ivf_list_files,
    append_ivf_index,
    build_ivf_index,
    compact_ivf_index,
    ivf_topk_indexed,
)
from spark_alchemy_spark.session import build_session  # noqa: E402

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
n_appends = int(sys.argv[2]) if len(sys.argv) > 2 else 24

spark = build_session(
    "compaction-sweep",
    extra_conf={
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    },
)
spark.sparkContext.setLogLevel("ERROR")

emb = spark.read.parquet(sf_dir + "/embeddings.parquet").select(
    "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
)
n = emb.count()
queries = emb.orderBy("vec_id").limit(20).localCheckpoint()

path = os.path.join(tempfile.mkdtemp(), "ivf_sweep_idx")
build_ivf_index(emb, "vec_id", "embedding", path, n_centroids=16)


def probe_wall():
    """Warm second-run wall of an indexed top-k probe."""
    walls = []
    for _ in range(2):
        t0 = time.time()
        ivf_topk_indexed(
            spark, path, queries, "vec_id", "embedding", k=5, nprobe=4
        ).agg(F.count(F.lit(1))).collect()
        walls.append(time.time() - t0)
    return walls[-1]


def files():
    counts, _ = ivf_list_files(path)
    return sum(counts.values())


print(f"n={n} fresh: files={files()} probe={probe_wall():.2f}s")

# fragment: n_appends streamed-style micro-appends, each an
# own-direction slice (spreads across lists like real arrivals)
t0 = time.time()
for i in range(n_appends):
    lo, hi = (i * 40) % max(40, n - 40), (i * 40) % max(40, n - 40) + 40
    sl = emb.filter(
        (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
    ).select(
        (F.col("vec_id") + F.lit((i + 1) * 10_000_000)).alias("vec_id"),
        "embedding",
    )
    append_ivf_index(sl, "vec_id", "embedding", path)
append_wall = time.time() - t0
print(
    f"after {n_appends} appends ({append_wall:.1f}s): "
    f"files={files()} probe={probe_wall():.2f}s"
)

t0 = time.time()
rep = compact_ivf_index(spark, path, max_files_per_list=2)
print(
    f"compaction ({time.time() - t0:.2f}s, {rep['n_compacted']} lists, "
    f"files {rep['files_before']}->{rep['files_after']}): "
    f"probe={probe_wall():.2f}s"
)
