"""Structured Streaming layer: the reference's consume -> validate/enrich
-> route -> produce loop (SURVEY.md §3.2) as one streaming DataFrame
program. The transforms are the *same* pure functions the batch/oracle
path uses -- streaming is just a different execution mode of the same
logical plan.

Reference semantics -> Spark:
  at-least-once commit-after-write (ST1)  -> checkpointLocation WAL; a
                                             batch that fails before its
                                             commit is replayed with the
                                             same batch id (see
                                             start_file_pipeline for the
                                             split's replay guarantee;
                                             idempotent-upsert for JDBC)
  max_poll_records batching (ST2)         -> maxOffsetsPerTrigger
  running counters (ST3)                  -> df.observe + listener
  poison-pill livelock (ST4, a defect)    -> fixed: such rows route to
                                             invalid_orders
  graceful shutdown (ST5)                 -> query.stop() / awaitTermination
  dead-letter channel (ST6)               -> invalid branch of the split

Scale notes: the pipeline is a narrow map (no shuffle); parallelism =
kafka partitions x executors. The file split writes each micro-batch with
ONE partitioned write, so the batch is read once and both branches come
out of the same job.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from streamprocessing_with_kafka_spark.operators.route import (
    ENRICHED_TOPIC,
    INVALID_TOPIC,
    route,
    to_kafka_records,
)
from streamprocessing_with_kafka_spark.operators.validate import validate_and_enrich
from streamprocessing_with_kafka_spark.schema import ORDER_RAW_SCHEMA
from streamprocessing_with_kafka_spark.session import ensure_runtime_confs


def transform_orders(raw: DataFrame) -> DataFrame:
    """Shared streaming/batch core: corrupt-drop -> validate -> route.

    Counted-and-dropped corrupt records mirror safe_deserializer
    (order_validator.py:57-69): a row whose every payload field is null
    but _corrupt_record is set never parsed at all.
    """
    parsed = raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record", "id")
    return route(validate_and_enrich(parsed))


def file_order_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """S4-as-stream: watch a directory of JSON order lines."""
    ensure_runtime_confs(spark)
    return (
        spark.readStream.schema(ORDER_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 16)  # ST2 micro-batch bound
        .json(input_dir)
    )


def kafka_order_stream(
    spark: SparkSession,
    bootstrap: str,
    topic: str = "orders",
    max_offsets_per_trigger: int = 10_000,
) -> DataFrame:
    """S2: Kafka consumer source. Mirrors the reference's consumer config
    (order_validator.py:71-91): earliest offsets, bounded batches; group
    offsets are replaced by the checkpoint WAL (stronger)."""
    ensure_runtime_confs(spark)
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .option("maxOffsetsPerTrigger", max_offsets_per_trigger)
        .option("failOnDataLoss", "false")
        .load()
    )
    return raw.select(
        F.from_json(
            F.col("value").cast("string"),
            ORDER_RAW_SCHEMA,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("o")
    ).select("o.*")


def kafka_split_sink(
    routed: DataFrame, bootstrap: str, checkpoint: str, available_now: bool = False
) -> StreamingQuery:
    """K1 + R1(c): one kafka writer serves both topics via the per-row
    `topic` column; producer opts mirror the reference's durability config
    (acks=all, bounded in-flight -- order_validator.py:139-141).
    `available_now` drains the source then stops (ST5), for bounded
    integration runs."""
    records = to_kafka_records(routed)
    writer = (
        records.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("kafka.acks", "all")
        .option("kafka.max.in.flight.requests.per.connection", "1")
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


#: where each micro-batch is staged before its files are published, one
#: directory per batch id; Spark and pyarrow readers skip names that start
#: with `_`
STAGING_DIR = "_batches"


def _visible_files(fs, directory):
    """Paths of the files in `directory` that readers see (Spark and
    pyarrow skip names starting with `_` or `.`); none if it is missing."""
    if fs.exists(directory):
        for status in fs.listStatus(directory):
            path = status.getPath()
            if not path.getName().startswith(("_", ".")):
                yield path


def publish_branch(fs, Path, src, dest, prefix: str, replay: bool) -> None:
    """Move the files of one branch of a staged batch from `src` into
    `dest` (Hadoop Paths on FileSystem `fs`; `Path` is the JVM class), each
    renamed `<prefix><name>`. On a `replay`, the files an earlier attempt
    at the same batch published there are deleted first."""
    fs.mkdirs(dest)
    if replay:
        for status in fs.globStatus(Path(dest, prefix + "*")):
            fs.delete(status.getPath(), False)
    for path in _visible_files(fs, src):
        if not fs.rename(path, Path(dest, prefix + path.getName())):
            raise OSError(f"could not move {path.toString()} into {dest.toString()}")


def start_file_pipeline(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """File-in, file-out pipeline: parquet dirs `<output_dir>/enriched_orders`
    and `<output_dir>/invalid_orders` stand in for the two topics (R1
    option b).

    Each micro-batch is written once, partitioned by `target`, into
    `<output_dir>/_batches/<batch_id>`, then its files are published into
    the branch dirs under names that start with `batch-<batch_id>-`. A
    batch replayed after a failure (tested: after its write, between the
    two branches' publishes, and after both) overwrites its staging dir
    and replaces the files it had already published instead of adding to
    them. A reader running concurrently may see a batch half published:
    one branch, or some of a branch's files. The staging dir of the last
    batch run stays until the next batch.

    A branch dir always holds at least one parquet file, so it can be read
    as soon as the first batch commits: when a batch has no rows for a
    branch whose dir holds no other batch's files, a schema-only file is
    published for it."""
    routed = transform_orders(file_order_stream(spark, input_dir))
    # ST3 running counters, observable via StreamingQueryListener
    routed = routed.observe(
        "counters",
        F.count(F.lit(1)).alias("processed"),
        F.count_if(F.col("is_valid")).alias("valid"),
        F.count_if(~F.col("is_valid")).alias("invalid"),
    )

    # the JVM's Hadoop client, so the sink works on any storage Spark can
    # write to; resolved once, as each lookup is a round trip to the JVM
    Path = spark._jvm.org.apache.hadoop.fs.Path
    fs = Path(output_dir).getFileSystem(spark._jsc.hadoopConfiguration())
    dests = {b: Path(output_dir, b) for b in (ENRICHED_TOPIC, INVALID_TOPIC)}

    def write_split(batch: DataFrame, batch_id: int) -> None:
        # A batch's staging dir is left in place until the next batch runs,
        # which happens only once the batch has committed: while it exists,
        # some of the batch may have been published, so this run is a
        # replay and must first delete what the earlier attempt published.
        # Fresh batches skip that search of the growing branch dirs.
        fs.delete(Path(output_dir, f"{STAGING_DIR}/{batch_id - 1}"), True)
        staged = Path(output_dir, f"{STAGING_DIR}/{batch_id}")
        replay = fs.exists(staged)
        batch.write.mode("overwrite").partitionBy("target").parquet(staged.toString())
        prefix = f"batch-{batch_id}-"
        for branch, dest in dests.items():
            src = Path(staged, f"target={branch}")
            if not fs.exists(src) and all(
                p.getName().startswith(prefix) for p in _visible_files(fs, dest)
            ):
                # an empty frame plans no scan; Spark writes it as one
                # schema-only file
                batch.where(F.lit(False)).drop("target").write.parquet(src.toString())
            publish_branch(fs, Path, src, dest, prefix, replay)

    writer = routed.writeStream.foreachBatch(write_split).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stop_all(spark: SparkSession) -> None:
    """ST5 graceful shutdown."""
    for q in spark.streams.active:
        q.stop()
