"""Sinks (SURVEY.md §2.9 sinks row): clean/dead-letter writers,
partitioned + bucketed outputs.

The reference's only "sink" is the MemoryHandler error dict; at
engine scale the equivalents are:

* clean rows → partitioned parquet (analysis-ready),
* rejected rows + error payloads → a dead-letter table keyed by
  (field, code) for replay and triage,
* error-code rollups → a small metrics table.

Scale notes: partition columns must be low-cardinality (date, source)
— never high-cardinality keys; bucketed writes pre-shuffle ONCE so
downstream joins on the bucket key skip their exchange entirely
(requires saveAsTable — bucket metadata lives in the catalog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import ERRORS_COL, ValidationResult
from .tables import local_frame

__all__ = [
    "write_clean",
    "write_dead_letter",
    "write_error_metrics",
    "write_bucketed",
    "write_compacted",
    "write_training_shards",
    "write_tar_shards",
    "replay_dead_letter",
]


def write_clean(result: ValidationResult, path: str,
                partition_by: list[str] | None = None,
                fmt: str = "parquet", mode: str = "append") -> None:
    w = result.clean.write.format(fmt).mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def write_dead_letter(result: ValidationResult, path: str,
                      fmt: str = "parquet", mode: str = "append") -> None:
    """Rejected rows — with their ORIGINAL input values
    (``rejected_raw``: the chain nulls a failed field's transformed
    value, which would make the table unreplayable) — plus error
    payloads, partitioned by the first error's code so triage reads
    only the failure class it cares about (partition pruning on the
    dead-letter table)."""
    try:
        rejected = result.rejected_raw
    except ValueError:  # result built without the staged frame
        rejected = result.rejected
    (
        rejected
        .withColumn("_first_code", F.element_at(F.col(ERRORS_COL), 1)["code"])
        .write.format(fmt).mode(mode)
        .partitionBy("_first_code")
        .save(path)
    )


def write_error_metrics(result: ValidationResult, path: str,
                        fmt: str = "parquet", mode: str = "append") -> None:
    result.error_code_counts().write.format(fmt).mode(mode).save(path)


def write_bucketed(df: DataFrame, table: str, bucket_col: str,
                   n_buckets: int = 32, sort_col: str | None = None,
                   fmt: str = "parquet", mode: str = "overwrite") -> None:
    """Bucketed managed table: pays the shuffle once at write; every
    later join/agg on ``bucket_col`` reads co-located buckets with no
    exchange.  The 100 TB pattern for repeatedly-joined fact tables."""
    w = df.write.format(fmt).mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def write_compacted(df: DataFrame, path: str,
                    target_bytes_per_file: int = 128 * 1024 * 1024,
                    sample_fraction: float = 0.01,
                    compression_ratio: float = 5.0,
                    fmt: str = "parquet", mode: str = "overwrite") -> int:
    """Size-targeted write: estimate the frame's serialized size from
    a row sample and repartition so each output file lands near
    ``target_bytes_per_file``.  Returns the file count used.

    This is the small-files defense: a 100 TB pipeline stage that
    ends in a filter or an AQE-coalesced shuffle can otherwise emit
    thousands of KB-sized files (every downstream scan pays per-file
    open/footer costs) or a handful of multi-GB ones (kills scan
    parallelism).  The estimate costs ONE sampled aggregation (total
    size scales up by the sampling fraction — no separate full
    ``count()`` pass), calibrated by an on-disk compression factor:
    stringified in-memory bytes overshoot parquet's encoded+snappy
    size by roughly 3–10×, so we divide by ``compression_ratio``
    (default 5, the middle of that band for mixed text/numeric rows
    — tune per table for tighter file sizing)."""
    frac = min(1.0, sample_fraction)
    sample = df.sample(fraction=frac, seed=7) if frac < 1.0 else df
    stats = sample.select(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.length(F.col(c).cast("string"))).alias(f"_b{i}")
          for i, c in enumerate(df.columns)],
    ).head()
    n_sampled = stats["n"] or 0
    if n_sampled == 0:  # empty or sample missed: single file
        df.coalesce(1).write.format(fmt).mode(mode).save(path)
        return 1
    sampled_bytes = sum(stats[f"_b{i}"] or 0 for i in range(len(df.columns)))
    est_disk_bytes = sampled_bytes / frac / compression_ratio
    n_files = max(1, int(est_disk_bytes // target_bytes_per_file) + 1)
    df.repartition(n_files).write.format(fmt).mode(mode).save(path)
    return n_files


def replay_dead_letter(spark, path: str, schema,
                       fmt: str = "parquet") -> ValidationResult:
    """The recovery loop for a dead-letter table: re-validate the
    rejected rows under a (typically relaxed or fixed) schema and get
    a fresh clean/rejected split — recovered rows graduate to the
    clean sink, still-bad rows stay quarantined.

    The stored error payload column is dropped before re-validation
    (the new run produces its own); everything else rides through
    unchanged, so replay composes with the same sinks:

        res = replay_dead_letter(spark, dead_path, fixed_schema)
        write_clean(res, clean_path)          # recovered
        write_dead_letter(res, dead_path_v2)  # still failing
    """
    df = spark.read.format(fmt).load(path)
    if ERRORS_COL in df.columns:
        df = df.drop(ERRORS_COL)
    return schema.validate(df)


def write_training_shards(df: DataFrame, key: str, n_shards: int,
                          path: str, mode: str = "overwrite") -> DataFrame:
    """Materialize the deterministic epoch-0 training order
    (``sampling.global_shuffle``) as ONE ORDERED PARQUET FILE PER
    SHARD under ``path/shard=<s>/``, plus a per-shard manifest
    returned as a DataFrame (shard, n_rows, order_checksum) for the
    training job to verify against.

    Why one file per shard works without a global sort: hash
    partitioning BY THE SHARD COLUMN puts every row of shard s into
    exactly one task (hash(s) is a constant); that task sorts its
    rows by (shard, pos) and the ``partitionBy`` writer then emits
    one file per shard directory it holds — so each shard's file
    carries the full shard in position order, and parquet preserves
    row order within a file.  A training reader consuming
    ``path/shard=K`` in file order replays the exact epoch-0
    permutation.  The manifest (computed by reading BACK the written
    files, so it certifies what landed on disk, not what was planned)
    pins each shard's SIZE and POSITION ASSIGNMENT via the Σ key·pos
    checksum — the same observable ``ds_global_shuffle`` gates.  The
    physical in-file row ORDER is checksum-invariant (the sum
    commutes); it is asserted by the writer test and verifiable at
    read time by checking ``pos`` monotonicity per file.

    ``n_shards`` should exceed the writing cluster's parallelism for
    balanced tasks (several shards per task is fine — each still gets
    its own file); one giant shard = one giant task, the usual skew
    rule.
    """
    from ..functions.sampling import global_shuffle

    sh = global_shuffle(df, key, n_shards)
    (
        sh.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "pos")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )
    spark = df.sparkSession
    return (
        spark.read.parquet(path)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.sum(F.col(key) * F.col("pos")).alias("order_checksum"))
    )


def write_tar_shards(df, dir_path: str, name_col: str = "member_name",
                     payload_col: str = "payload",
                     n_shards: int = 8):
    """Webdataset-style tar-shard EXPORT — the training-data
    hand-off format: rows are hash-assigned to ``n_shards`` shards
    (deterministic ``xxhash64(name) % n``, so re-runs produce
    identical shard membership), each shard's members sort by name
    (byte-reproducible shard files given fixed payloads), and every
    executor writes its own ``shard-NNNNN.tar`` to the shared
    filesystem — the same each-worker-writes-its-shard contract
    real webdataset writers use (no driver bottleneck, no Spark
    binary sink needed).  Returns the MATERIALIZED manifest
    (shard, n_members, tar_bytes) — the shard files are on disk when
    this function returns: the executor-side plan is collected
    internally (n_shards rows, bounded) and re-wrapped as a local
    DataFrame, so re-using the result never re-executes the file
    writes (the round-6 ADVICE lazy-manifest finding).  Tar metadata
    is pinned (mtime=0, uid/gid=0) so shard bytes depend ONLY on
    content.  The output directory is created inside ``pack()`` ON
    THE EXECUTOR — on a multi-node cluster the driver's filesystem
    is not the executors'."""
    import os

    from pyspark.sql import functions as F

    import pyspark.sql.types as T

    # The executor-side mkdir inside pack() handles the cluster case
    # (driver fs ≠ executor fs), but an EMPTY corpus produces zero
    # batches so no executor ever creates the directory and a
    # subsequent read_tar_shards crashes PATH_NOT_FOUND (r8 full-
    # registry empty sweep).  The write contract already requires a
    # shared filesystem, so the driver-side mkdir is equally valid —
    # empty corpus → existing empty shard dir → empty read.
    os.makedirs(dir_path, exist_ok=True)
    assigned = df.select(
        F.col(name_col).cast("string").alias("_name"),
        F.col(payload_col).alias("_payload"),
        F.pmod(F.xxhash64(F.col(name_col).cast("string")),
               F.lit(n_shards)).cast("int").alias("_shard"))
    out_schema = T.StructType([
        T.StructField("shard", T.IntegerType()),
        T.StructField("n_members", T.LongType()),
        T.StructField("tar_bytes", T.LongType()),
    ])

    def pack(batches):
        import io
        import tarfile

        import pandas as pd

        groups: dict = {}
        for pdf in batches:
            for n, p, sh in zip(pdf["_name"], pdf["_payload"],
                                pdf["_shard"]):
                groups.setdefault(int(sh), []).append((n, bytes(p)))
        rows = []
        if groups:
            os.makedirs(dir_path, exist_ok=True)
        for sh, members in groups.items():
            members.sort(key=lambda t: t[0])
            buf = io.BytesIO()
            with tarfile.open(fileobj=buf, mode="w") as tf:
                for n, p in members:
                    info = tarfile.TarInfo(name=n)
                    info.size = len(p)
                    info.mtime = 0
                    info.uid = info.gid = 0
                    tf.addfile(info, io.BytesIO(p))
            data = buf.getvalue()
            with open(os.path.join(dir_path, f"shard-{sh:05d}.tar"),
                      "wb") as f:
                f.write(data)
            rows.append((sh, len(members), len(data)))
        yield pd.DataFrame(rows, columns=["shard", "n_members",
                                          "tar_bytes"])

    manifest_rows = (assigned.repartition(n_shards, "_shard")
                     .mapInPandas(pack, out_schema)
                     .collect())
    return local_frame(df.sparkSession, manifest_rows, out_schema)
