"""Output checks: order-independent row hashes and on-disk sizes."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# the tables the resumed-equals-one-shot contract (plans/job.py) covers
JOB_TABLES = (
    "triples", "model_docs", "round_docs", "entities", "neardup_clusters", "nodes", "edges",
)


def _row_hash(df: DataFrame):
    cols = sorted(df.columns)
    return F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in cols])))


def hash_exprs(df: DataFrame) -> list:
    """[rows, row-hash sum, UTF-8 bytes of string columns] aggregates. The
    hash sum is exact (decimal) and independent of row order."""
    strings = [c for c, t in df.dtypes if t == "string"]
    nbytes = sum((F.coalesce(F.octet_length(c), F.lit(0)) for c in strings), F.lit(0))
    return [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(_row_hash(df).cast("decimal(20,0)")), F.lit(0))
        .cast("string").alias("hash"),
        F.coalesce(F.sum(nbytes.cast("long")), F.lit(0)).alias("bytes"),
    ]


def observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with its rows, hash and bytes observed in the same pass, so a
    write to the noop sink stays the only action."""
    obs = Observation()
    return df.observe(obs, *hash_exprs(df)), obs


def table_digest(df: DataFrame) -> dict:
    row = df.agg(*hash_exprs(df)).first()
    return {"rows": row["rows"], "hash": row["hash"]}


def warehouse_digest(spark, io, tables=JOB_TABLES) -> dict:
    """Row count and hash per table; partition values read back as strings."""
    out = {}
    for t in tables:
        df = io.read(spark, t)
        if "round_id" in df.columns:
            df = df.withColumn("round_id", F.col("round_id").cast("string"))
        out[t] = table_digest(df)
    return out


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")
