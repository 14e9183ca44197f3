"""Control table: per-partition checkpoint / lineage (FIXTURES.md §3).

Generalizes the reference's resume check — "skip this document if its
outputs already exist and are non-empty" (reference: cli.py:45-51,
finetune_commands/excel2training.py:261-264) — to PARTITION granularity,
which is the unit that matters at 10^12 docs: a killed job resumes by
reading the committed partition ids (≤ n_buckets ints) once on the driver
and filtering its input scan with them, instead of stat-ing a trillion
files.

Schema: partition_id int, status string, docs_processed long,
bytes_parsed long, parse_failures long, font_unmapped long,
committed_at timestamp.

Commit protocol (exactly-once per partition):
  1. output written first (dynamic partition overwrite → idempotent);
  2. control rows appended only after the write action succeeds, as one
     new `commit-<uuid>.parquet` file created through the Hadoop FS (the
     same handle the resume check reads through; no Spark job);
  3. a crash between 1 and 2 leaves the partition uncommitted → the rerun
     overwrites it in place. No partial state is ever visible. The bucket
     count is stamped only in step 2, so a rerun over output whose control
     dir holds no stamp must be given the count (the pipeline refuses to
     default it); under another modulus the dirs it does not reach survive.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf_extractor_spark.session import hadoop_fs

CONTROL_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("docs_processed", T.LongType(), True),
        T.StructField("bytes_parsed", T.LongType(), True),
        T.StructField("parse_failures", T.LongType(), True),
        # unmapped PDF font codes (degraded to U+FFFD) — fidelity lineage,
        # distinct from parse_failures: the doc still extracts
        T.StructField("font_unmapped", T.LongType(), True),
        T.StructField("committed_at", T.TimestampType(), True),
        # bucketing under which the partition ids were computed: a control
        # dir reused with a DIFFERENT n_buckets silently mismaps committed
        # work (round-1 ADVICE) — recorded so resume can fail fast instead
        T.StructField("n_buckets", T.IntegerType(), True),
    ]
)

STATUS_COMMITTED = "committed"


class BucketingMismatchError(RuntimeError):
    """Control dir was written under a different n_buckets than the run's."""


def committed_ids(
    spark: SparkSession,
    control_dir: str,
    n_buckets: int | None = None,
    default: int | None = None,
) -> tuple[frozenset[int], int | None]:
    """Committed partition ids (J3) and the bucket count the run must use:
    one driver-side collect of ≤ n_buckets rows per pass, which the caller
    turns into a literal-set scan filter.

    The count is `n_buckets` if given, else the committed rows' stamp, else
    `default` (None only if that is None too). With `n_buckets` given, rows
    committed under a DIFFERENT count raise BucketingMismatchError: their
    ids were computed with another modulus, so honoring them would skip or
    re-run work undetectably; rows with a null n_buckets (pre-upgrade
    control dirs) are accepted. Without it, several stamps or a null one
    raise, since the modulus cannot be inferred. Only a missing dir (a
    Hadoop FS check: no job, no logged stack trace) or one without committed
    rows means nothing is committed; any read error, e.g. a corrupt commit
    file, propagates instead of turning resume off.
    """
    fs, path = hadoop_fs(spark, control_dir)
    if not fs.exists(path):
        return frozenset(), default if n_buckets is None else n_buckets
    rows = (
        spark.read.schema(CONTROL_SCHEMA)
        .parquet(control_dir)
        .filter(F.col("status") == STATUS_COMMITTED)
        .select("partition_id", "n_buckets")
        .collect()
    )
    ids = frozenset(r.partition_id for r in rows)
    stamps = {r.n_buckets for r in rows}
    if n_buckets is not None:
        bad = sorted(stamps - {None, n_buckets})
        if bad:
            raise BucketingMismatchError(
                f"control dir {control_dir} was committed with n_buckets={bad}, "
                f"current run uses {n_buckets}; pass n_buckets={bad[0]} "
                f"(--n-buckets {bad[0]}) to resume it"
            )
        return ids, n_buckets
    if len(stamps) > 1 or None in stamps:
        raise BucketingMismatchError(
            f"control dir {control_dir} holds rows stamped n_buckets="
            f"{sorted(stamps, key=lambda s: (s is None, s))}, so the bucket "
            "count cannot be inferred; pass the count it was committed under "
            "as n_buckets (--n-buckets)"
        )
    return ids, next(iter(stamps), default)


def append_commits_rows(rows, control_dir: str, n_buckets: int | None = None) -> None:
    """Append committed rows (one per partition) with lineage metrics.

    `rows` is a driver-side list (≤ n_buckets entries, already collected) of
    objects with partition_id / docs_processed / bytes_parsed /
    parse_failures. The rows become one parquet file, serialized in memory
    with pyarrow and created through the Hadoop FS that committed_ids reads,
    so every scheme (a bare path, file://, hdfs://, s3a://) takes the same
    path and no Spark job runs. The file layout stays
    spark.read.parquet-compatible; on a real cluster this append targets an
    Iceberg control table instead.
    """
    import datetime as _dt
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession

    now = _dt.datetime.now(_dt.timezone.utc)
    table = pa.table(
        {
            "partition_id": pa.array([int(r.partition_id) for r in rows], pa.int32()),
            "status": pa.array([STATUS_COMMITTED] * len(rows), pa.string()),
            "docs_processed": pa.array([int(r.docs_processed) for r in rows], pa.int64()),
            "bytes_parsed": pa.array([int(r.bytes_parsed or 0) for r in rows], pa.int64()),
            "parse_failures": pa.array([int(r.parse_failures or 0) for r in rows], pa.int64()),
            "font_unmapped": pa.array(
                [int(getattr(r, "font_unmapped", 0) or 0) for r in rows], pa.int64()
            ),
            "committed_at": pa.array([now] * len(rows), pa.timestamp("us", tz="UTC")),
            "n_buckets": pa.array([n_buckets] * len(rows), pa.int32()),
        }
    )
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    fs, path = hadoop_fs(spark, f"{control_dir.rstrip('/')}/commit-{uuid.uuid4().hex}.parquet")
    out = fs.create(path, False)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
