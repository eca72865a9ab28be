"""Spark session + DataFrame helpers shared by engine, tests, and bench."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

GEOM_FIELDS = [
    T.StructField("kind", T.IntegerType(), False),
    T.StructField("coords", T.ArrayType(T.DoubleType(), False), False),
    T.StructField("rings", T.ArrayType(T.IntegerType(), False), True),
]


def geometry_schema(id_name: str = "id") -> T.StructType:
    return T.StructType([T.StructField(id_name, T.LongType(), False)] + GEOM_FIELDS)


def get_spark(cpus: int | None = None, app: str = "spatialjoin", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    shuffle = shuffle_partitions or max(2 * cpus, 8)
    # SPARK_GRAFT_MASTER overrides the master URL — e.g.
    # local-cluster[8,4,6144] for real multi-executor-JVM runs (the
    # scaling bench uses this: separate executors ≙ separate workers'
    # allocators/GC/Python daemons, like a real cluster)
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    # Python workers (local or on executor JVMs) import this package
    # to run its UDFs; they inherit neither the driver's sys.path nor,
    # once started outside the repo root, its working directory — so
    # put the package's parent on their path for every master, ahead
    # of any PYTHONPATH already set (a real deployment ships the
    # package with spark-submit --py-files, see bench/submit_job.py)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [repo] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                      if p and p != repo]
    return (
        SparkSession.builder.master(master)
        .config("spark.executorEnv.PYTHONPATH", os.pathsep.join(paths))
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        # align Spark's codegen fallback with HotSpot's JIT refusal
        # limit (-XX:HugeMethodLimit=8000 bytecode): a generated method
        # between 8000 and the 65535 default runs in the JVM BYTECODE
        # INTERPRETER forever — measured 23x slower than Spark's own
        # interpreted expressions on the unrolled PIP predicate (r6).
        # Scale-independent: a pure codegen-quality guard, not a tuning
        # knob for this machine.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "65536"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        # UI off by default (test/bench startup cost); the rehearsal
        # harness turns it on to read spill/peak-heap metrics over REST
        .config("spark.ui.enabled",
                "true" if os.environ.get("SPARK_GRAFT_UI") else "false")
        .getOrCreate()
    )


def geoms_to_df(spark, rows, id_name: str = "id"):
    """rows: list of (kind, coords[, ring_offsets]); ids are positions,
    mirroring the reference's positional row identity."""
    data = []
    for i, r in enumerate(rows):
        kind, coords = r[0], [float(c) for c in r[1]]
        rings = list(r[2]) if len(r) > 2 and r[2] is not None else None
        if kind == 3:  # polygon: engine contract = closed rings
            coords, rings = _close_rings(coords, rings)
        data.append((i, kind, coords, rings))
    return spark.createDataFrame(data, geometry_schema(id_name))


def _close_rings(coords, rings):
    rings = rings or [0]
    pts = [(coords[i], coords[i + 1]) for i in range(0, len(coords), 2)]
    out_pts, out_rings = [], []
    ends = rings[1:] + [len(pts)]
    for s, e in zip(rings, ends):
        ring = pts[s:e]
        if ring and ring[0] != ring[-1]:
            ring = ring + [ring[0]]
        out_rings.append(len(out_pts))
        out_pts.extend(ring)
    flat = [c for p in out_pts for c in p]
    return flat, out_rings
