"""SparkSession factory.

Local test/bench runs are single-JVM (``local[N]``); the configuration is
nevertheless written for a multi-executor cluster: AQE handles runtime
partition coalescing / skew joins, the session timezone is pinned to UTC
so results are stable across environments (and comparable to DuckDB
oracles), and Arrow is enabled for the few Pandas-UDF surfaces.
"""

from __future__ import annotations

import os
from typing import NamedTuple

from py4j.java_gateway import JavaClass, JavaObject
from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession


def get_spark(
    app_name: str = "hospital_stain_tracker_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you would size it to ~2-3× total executor cores, or simply
    leave AQE's coalescing to shrink the default. ``spark.sql.files.
    maxPartitionBytes`` keeps scan partitions bounded so a 100 TB read
    fans out instead of producing oversized tasks.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # Python workers deserialize the package's pandas-UDF closures BY
    # MODULE REFERENCE, so they must be able to import this package.
    # A driver that found us via sys.path manipulation (not an install
    # and not cwd) would otherwise work on the driver and throw
    # ModuleNotFoundError on every UDF task. Propagate our root onto
    # PYTHONPATH before the JVM forks workers (local mode inherits the
    # driver env; for a real cluster ship a wheel via --py-files /
    # spark.submit.pyFiles — this is the local-and-single-node belt).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # lets a parquet TIMESTAMP(NANOS) producer be read at all (as
        # long — otherwise an illegal type for Spark's reader); the
        # loader then normalizes ts TYPE-DRIVEN, branching on what the
        # read actually produced (long-nanos / TIMESTAMP_NTZ /
        # TIMESTAMP), so micro- and nano-encoded lakes both work
        # (sources.tables.normalize_event_ts). Harmless when no nano
        # columns exist.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # console progress bars write stage-progress lines into the
        # captured stream of any harness that merges stdout+stderr —
        # they corrupted two consecutive driver bench records (the
        # graded JSON line printed fine, then progress output landed
        # after it and the parse failed). Never useful headless.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_rows_df(spark: SparkSession, rows, schema):
    """Driver-local model/metadata rows (fitted centroids, codebooks,
    query terms — at most a few thousand tuples) as a
    SINGLE-partition DataFrame, cheaply.

    The idiomatic ``createDataFrame(list) … .coalesce(1).write`` is
    pathologically slow for this shape: the list parallelizes into
    ``defaultParallelism`` pickled slices, and the one coalesced write
    task then computes ALL of them as a serial chain of Python-worker
    round trips — ~5 s of fixed overhead on local[32] for a
    kilobyte-sized artifact (measured round 14; it dominated
    ``build_ann_index``). Parallelizing into ONE slice up front moves
    the same rows through a single worker round trip (~0.2 s) and the
    writer needs no coalesce at all. Values, schema and the
    one-output-file layout are unchanged."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


class _FsClasses(NamedTuple):
    """The JVM classes the seam calls through."""

    path: JavaClass
    file_util: JavaClass
    array_seq: JavaClass
    not_found: JavaObject


def _fs_classes(spark: SparkSession) -> _FsClasses:
    """The session's ``_FsClasses``, resolved on first use. A class
    resolved through ``spark._jvm`` costs a reflection round trip per
    dotted name segment, so they are kept; on the session object, so
    they end with it and a new session, maybe on a new JVM, never sees
    a stale handle."""
    classes = getattr(spark, "_fs_classes", None)
    if classes is None:
        jvm = spark._jvm
        classes = spark._fs_classes = _FsClasses(
            jvm.org.apache.hadoop.fs.Path,
            jvm.org.apache.hadoop.fs.FileUtil,
            jvm.scala.collection.immutable.ArraySeq,
            jvm.java.io.FileNotFoundException._java_lang_class,
        )
    return classes


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` through the Hadoop
    ``FileSystem`` API, so driver-side listings and writes work on
    whatever scheme the path carries (file:, hdfs:, s3a:, viewfs:, ...)
    — the same resolution Spark's own readers and writers use."""
    jpath = _fs_classes(spark).path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


# The package's one seam between persisted state (index artifacts and
# their lifecycle dirs, markers, the run log, small JSON artifacts) and
# storage: every helper below takes a path of any Hadoop scheme and
# resolves its FileSystem through ``hadoop_fs`` under the active session.


def _fs(path: str, *others: str):
    """``(classes, FileSystem, Path)``: the session's ``_FsClasses`` and
    ``hadoop_fs`` for ``path`` under the active session (the default
    session when the calling thread has none set, as in a foreachBatch
    callback), plus a Hadoop ``Path`` for each of ``others``."""
    spark = SparkSession.active()
    classes = _fs_classes(spark)
    fs, jpath = hadoop_fs(spark, path)
    return (classes, fs, jpath, *(classes.path(o) for o in others))


def fs_list_names(path: str) -> list[str]:
    """Names of the entries directly under the directory ``path``, none
    for a missing path (a file lists as itself, as Hadoop's
    ``listStatus`` lists it). One listing, whose paths are joined
    inside the JVM, so it costs a fixed number of Py4J calls however
    many entries the directory holds. Any listing failure other than a
    missing path raises."""
    classes, fs, jpath = _fs(path)
    try:
        level = fs.listStatus(jpath)
    except Py4JJavaError as e:
        if classes.not_found.isInstance(e.java_exception):
            return []
        raise
    paths = classes.array_seq.unsafeWrapArray(classes.file_util.stat2Paths(level))
    joined = paths.mkString("\n")
    return [p.rsplit("/", 1)[-1] for p in joined.split("\n")] if joined else []


def fs_exists(path: str) -> bool:
    _, fs, jpath = _fs(path)
    return bool(fs.exists(jpath))


def fs_isdir(path: str) -> bool:
    _, fs, jpath = _fs(path)
    return bool(fs.isDirectory(jpath))


def fs_isfile(path: str) -> bool:
    _, fs, jpath = _fs(path)
    return bool(fs.isFile(jpath))


def fs_delete(path: str) -> None:
    """Delete ``path``, recursively; a missing path is not an error."""
    _, fs, jpath = _fs(path)
    fs.delete(jpath, True)


def fs_rename(src: str, dst: str) -> None:
    """Rename ``src`` to ``dst``, which must not exist (a directory
    renamed onto an existing one moves inside it). Raises ``OSError``
    when the FileSystem reports the rename failed."""
    _, fs, jsrc, jdst = _fs(src, dst)
    if not fs.rename(jsrc, jdst):
        raise OSError(f"could not rename {src} to {dst}")


def fs_read_bytes(path: str) -> bytes:
    _, fs, jpath = _fs(path)
    stream = fs.open(jpath)
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


def fs_write_atomic(path: str, data: bytes) -> None:
    """Write the file ``path`` whole or not at all: first under a hidden
    temp name beside it (a leading ``.``, which Spark's listing skips),
    then committed by a rename. The rename is atomic on HDFS and on a
    local disk, and a copy on S3A, where the object still appears whole
    or not at all. A failed write or rename raises and deletes the temp
    file. ``path`` must not exist: not every FileSystem renames onto a
    file, so a caller replacing one deletes it first."""
    parent, name = os.path.split(path)
    _, fs, final, tmp = _fs(path, os.path.join(parent, f".{name}.tmp"))
    try:
        out = fs.create(tmp, False)
        try:
            out.write(data)
        finally:
            out.close()
        if not fs.rename(tmp, final):
            raise OSError(f"could not commit {path}")
    except BaseException:
        fs.delete(tmp, False)
        raise


def _materialize_observed(
    frame: DataFrame, cache: bool = False, **metrics: Column
) -> tuple[DataFrame, dict]:
    """Materialize ``frame`` with one Spark action and return it with
    the aggregate ``metrics`` (name → Column) observed during that same
    action. The package's one way to report a count: the action
    computes every row anyway, so a count, sum or small set riding on
    it costs no extra Spark job.

    By default the frame is an eager ``localCheckpoint`` (lineage
    truncated; the caller cannot release its blocks). ``cache=True``
    caches it instead, filled by a ``noop`` write, so the caller can
    release it with ``unpersist()``; if the action fails the cache is
    released here."""
    ob = Observation()
    observed = frame.observe(
        ob, *[col.alias(name) for name, col in metrics.items()]
    )
    if not cache:
        return observed.localCheckpoint(eager=True), ob.get
    observed = observed.cache()
    try:
        observed.write.format("noop").mode("overwrite").save()
    except BaseException:
        observed.unpersist()
        raise
    return observed, ob.get
