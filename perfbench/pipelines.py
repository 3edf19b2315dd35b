"""The paper's alert pipeline, composed from the engine's public functions.

Layers, by engine module:

- ``session.get_spark``                     — the local session,
- ``sources.samples_csv.with_portfolio``    — the weighted portfolio (P1),
- ``functions.measures.grouped_measures``   — population stats (S3),
- ``functions.measures_np.windowed_measures_np`` — batch window kernel,
- ``streaming.count_window``                — the streaming count window,
- ``functions.measures.measures_to_long``   — long form (P2),
- broadcast stats join + threshold filter   — the alert stage (P3).

Nothing here changes engine code; the benchmark only calls it.
"""

from __future__ import annotations

import os
import subprocess
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from data import write_atomic
from psd_project_spark.config import DEFAULT_CONFIG
from psd_project_spark.functions.measures import grouped_measures, measures_to_long
from psd_project_spark.functions.measures_np import windowed_measures_np
from psd_project_spark.sources.samples_csv import with_portfolio
from psd_project_spark.streaming.count_window import streaming_count_window_measures

WINDOW = DEFAULT_CONFIG.window_size
DIGITS = DEFAULT_CONFIG.measure_round_digits
THRESHOLD = DEFAULT_CONFIG.alert_threshold
KEYS = ["pid", "series"]

SAMPLE_SCHEMA = StructType(
    [StructField("pid", IntegerType()), StructField("seq", LongType())]
    + [StructField(f"r{i + 1}", DoubleType()) for i in range(6)]
)
PACED_SCHEMA = StructType(
    SAMPLE_SCHEMA.fields[:2]
    + [StructField("created_s", DoubleType())]
    + SAMPLE_SCHEMA.fields[2:]
)
STATS_SCHEMA = "series int, measure string, ref_value double"


def start_session(app_name: str, cpus: int, driver_memory: str, restart: bool = False) -> SparkSession:
    """Get the engine's session (``get_spark`` reuses a running one);
    ``restart`` stops a running session first."""
    from psd_project_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if restart and active is not None:
        active.stop()
    spark = get_spark(app_name=app_name, cpus=cpus, driver_memory=driver_memory)
    spark.range(1).count()  # first job: executor and codegen start-up
    return spark


def shutdown(spark: SparkSession, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def long_samples(samples: DataFrame) -> DataFrame:
    """``(pid, seq, r1..r6)`` → ``(pid, seq, series, value)``, series
    0-5 the assets and 6 the weighted portfolio."""
    wide = with_portfolio(samples)
    args = ", ".join(f"{i}, r{i + 1}" for i in range(6)) + ", 6, portfolio"
    return wide.select("pid", "seq", F.expr(f"stack(7, {args}) as (series, value)"))


def derived_stats(long: DataFrame) -> DataFrame:
    """Population stats per series, long form (the batch replay derives
    its thresholds from its own history)."""
    wide = grouped_measures(long, ["series"], "value", digits=DIGITS)
    return measures_to_long(wide, ["series"]).withColumnRenamed("value", "ref_value")


def window_measures(long: DataFrame, chunk_rows: int | None) -> DataFrame:
    return windowed_measures_np(
        long,
        key_cols=KEYS,
        order_col="seq",
        value_col="value",
        window_size=WINDOW,
        digits=DIGITS,
        chunk_rows=chunk_rows,
        seq_precomputed=True,
    )


def to_long(measures: DataFrame) -> DataFrame:
    return measures_to_long(measures, [*KEYS, "seq"])


def alert_filter(mlong: DataFrame, stats: DataFrame) -> DataFrame:
    """Broadcast stats join plus the reference's threshold predicate."""
    joined = mlong.join(F.broadcast(stats), ["series", "measure"])
    alert = joined.filter(
        (F.col("value") < F.col("ref_value"))
        & (
            (F.col("ref_value") - F.col("value")) / (F.lit(1.0) + F.col("ref_value"))
            >= F.lit(THRESHOLD)
        )
    )
    return alert.select(
        *KEYS, "seq", "measure", F.col("value").alias("measure_value"), "ref_value"
    )


def batch_alerts(
    spark: SparkSession, paths: list[str], stats: DataFrame | None, chunk_rows: int | None
) -> DataFrame:
    """The batch path end to end; ``stats=None`` derives the thresholds
    from the same input."""
    long = long_samples(spark.read.schema(SAMPLE_SCHEMA).parquet(*paths))
    if stats is None:
        stats = derived_stats(long)
    return alert_filter(to_long(window_measures(long, chunk_rows)), stats)


def stream_alerts(stream: DataFrame, stats: DataFrame) -> DataFrame:
    """The streaming path: count-window operator, long form, alerts."""
    measures = streaming_count_window_measures(
        long_samples(stream),
        key_cols=KEYS,
        order_col="seq",
        value_col="value",
        window_size=WINDOW,
        digits=DIGITS,
    )
    return alert_filter(to_long(measures), stats)


@dataclass
class Commit:
    batch_id: int
    called_s: float
    collected_s: float
    committed_s: float
    rows: int


class AlertSink:
    """``foreachBatch`` sink: collects a micro-batch's alerts as Arrow,
    renames them into ``directory`` as one parquet file, and records the
    commit time."""

    def __init__(self, directory: str):
        os.makedirs(directory, exist_ok=True)
        self.directory = directory
        self.commits: list[Commit] = []

    def __call__(self, df: DataFrame, batch_id: int) -> None:
        called = time.time()
        table = df.toArrow()
        collected = time.time()
        if table.num_rows:
            write_atomic(table, self.directory, f"batch-{batch_id:06d}.parquet")
        self.commits.append(Commit(batch_id, called, collected, time.time(), table.num_rows))


def start_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    stats: DataFrame,
    sink: AlertSink,
    checkpoint: str,
    max_files: int | None = None,
    available_now: bool = False,
):
    """Start the streaming alert query at the engine's state-partition
    count (``streaming.jobs.STATE_PARTITIONS``)."""
    from psd_project_spark.streaming.jobs import STATE_PARTITIONS

    reader = spark.readStream.schema(schema)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    alerts = stream_alerts(reader.parquet(source_dir), stats)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    try:
        writer = alerts.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint)
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def consumed_files(checkpoint: str) -> dict[str, int]:
    """File path → micro-batch id, read from the file source's log in
    the query checkpoint (plain and compacted entries)."""
    import json

    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[rec["path"].removeprefix("file://")] = int(rec["batchId"])
    return out


# --- plan metrics ---------------------------------------------------------------


def plan_metrics(df: DataFrame, into_cache: bool = True) -> list[tuple[str, dict[str, int]]]:
    """``(node name, metrics)`` for every node of ``df``'s executed
    plan. Read after an action on ``df`` itself. ``into_cache=False``
    stops at cached relations, whose plans an earlier action ran."""
    return _walk_plan(df.sparkSession._jvm, df._jdf.queryExecution().executedPlan(), into_cache)


def last_batch_plan_metrics(spark: SparkSession, query) -> list[tuple[str, dict[str, int]]]:
    """The same for the last micro-batch a streaming query executed."""
    execution = query._jsq.streamingQuery().lastExecution()
    return _walk_plan(spark._jvm, execution.executedPlan())


def _walk_plan(jvm, root, into_cache: bool = True) -> list[tuple[str, dict[str, int]]]:
    """Pre-order walk through adaptive plans, query stages and cached
    relations."""
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    out: list[tuple[str, dict[str, int]]] = []

    def walk(node):
        name = node.nodeName()
        jm = conv.asJava(node.metrics())
        out.append((name, {k: int(jm[k].value()) for k in jm.keySet()}))
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
            return
        if "QueryStage" in name:
            walk(node.plan())
            return
        if name == "InMemoryTableScan" and into_cache:
            walk(node.relation().cachedPlan())
        for child in conv.asJava(node.children()):
            walk(child)

    walk(root)
    return out


def python_node_metrics(nodes) -> dict[str, int]:
    """Totals over the pandas-UDF nodes, plus the rows fed to them (the
    output count of the nearest upstream node that reports one)."""
    tot = {"rows_in": 0, "bytes_in": 0}
    for i, (name, m) in enumerate(nodes):
        if "InPandas" not in name:
            continue
        tot["bytes_in"] += m.get("pythonDataSent", 0)
        for _, below in nodes[i + 1:]:
            if "shuffleRecordsWritten" in below:
                tot["rows_in"] += below["shuffleRecordsWritten"]
                break
            if "numOutputRows" in below:
                tot["rows_in"] += below["numOutputRows"]
                break
    return tot


def shuffle_bytes(nodes) -> int:
    return sum(m.get("shuffleBytesWritten", 0) for _, m in nodes)
