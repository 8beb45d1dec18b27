"""SparkSession factory, and the filesystem seam: the package's only
module that calls into the JVM directly, through PySpark's gateway
handles.

Local test/bench runs are single-JVM (``local[N]``); the configuration is
nevertheless written for a multi-executor cluster: AQE handles runtime
partition coalescing / skew joins, the session timezone is pinned to UTC
so results are stable across environments (and comparable to DuckDB
oracles), and Arrow is enabled for the few Pandas-UDF surfaces.
"""

from __future__ import annotations

import os
import threading

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
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


class _Seam:
    """The JVM handles the filesystem seam calls through: the Hadoop
    ``Path`` class and conf, ``FileNotFoundException``, and the getters
    and Scala helpers that map a whole directory listing inside the JVM.
    A class resolved through the gateway costs a reflection round trip
    per dotted name segment, so they are resolved once per SparkContext
    (see ``_seam``)."""

    def __init__(self, sc: SparkContext):
        jvm = sc._jvm
        invoke = jvm.java.lang.invoke
        lookup = invoke.MethodHandles.publicLookup()
        status = jvm.org.apache.hadoop.fs.FileStatus._java_lang_class
        self.path = jvm.org.apache.hadoop.fs.Path
        path = self.path._java_lang_class
        function1 = jvm.scala.Function1._java_lang_class

        def method(name, rtype, owner=status):
            return lookup.findVirtual(owner, name, invoke.MethodType.methodType(rtype))

        def mapper(handle):
            # the handle as a scala.Function1, so one Py4J call maps a
            # whole directory level inside the JVM; a getter call per
            # file from Python is a round trip each (≈0.5 s for a
            # 729-file table)
            return invoke.MethodHandleProxies.asInterfaceInstance(function1, handle)

        get_path = method("getPath", path)
        self.is_dir = mapper(method("isDirectory", jvm.java.lang.Boolean.TYPE))
        self.get_path = mapper(get_path)
        self.get_name = mapper(
            invoke.MethodHandles.filterReturnValue(
                get_path, method("getName", jvm.java.lang.String._java_lang_class, path)
            )
        )
        self.columns = [
            self.get_path,
            mapper(method("getLen", jvm.java.lang.Long.TYPE)),
            mapper(method("getModificationTime", jvm.java.lang.Long.TYPE)),
        ]
        self.by_path = jvm.scala.math.Ordering.comparatorToOrdering(
            jvm.java.util.Comparator.naturalOrder()
        )
        self.path_tag = jvm.scala.reflect.ClassTag.apply(path)
        self.wrap = jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray
        self.new_text = jvm.scala.collection.mutable.StringBuilder
        self.message_digest = jvm.java.security.MessageDigest
        self.utf8 = jvm.java.nio.charset.StandardCharsets.UTF_8
        self.char_buffer = jvm.java.nio.CharBuffer
        self.not_found = jvm.java.io.FileNotFoundException._java_lang_class
        self.hadoop_conf = sc._jsc.hadoopConfiguration()


# Guards the creation of a SparkContext's ``_Seam``: threads share a
# context.
_SEAM_LOCK = threading.Lock()


def _seam() -> _Seam:
    """The active SparkContext's ``_Seam``, created on first use and
    kept on the context object, so it ends with its context and a new
    context, maybe on a new JVM, never sees a stale handle. The context
    is a Python attribute, so finding it costs no Py4J call, and it is
    the same in every thread (a foreachBatch callback included)."""
    sc = SparkContext._active_spark_context
    if sc is None:
        raise RuntimeError("the filesystem seam needs an active SparkContext")
    with _SEAM_LOCK:
        seam = getattr(sc, "_fs_seam", None)
        if seam is None:
            seam = sc._fs_seam = _Seam(sc)
        return seam


# The package's one seam between persisted state (lake tables, index
# artifacts and their lifecycle dirs, markers, the run log, small JSON
# artifacts) and storage, and its only module that talks to the JVM:
# every helper below takes a path of any Hadoop scheme (file:, hdfs:,
# s3a:, viewfs:, ...) and resolves its FileSystem through ``_fs``, the
# same resolution Spark's own readers and writers use.


def _fs(path: str, *others: str):
    """``(seam, FileSystem, Path)``: the active context's ``_Seam`` and
    the Hadoop ``FileSystem`` and ``Path`` of ``path``, plus a ``Path``
    for each of ``others``. The FileSystem is looked up on every call:
    Hadoop caches it by scheme, authority and user, and a lookup sees a
    mount table set later or a cache that ``FileSystem.closeAll()``
    emptied."""
    seam = _seam()
    jpath = seam.path(path)
    fs = jpath.getFileSystem(seam.hadoop_conf)
    return (seam, fs, jpath, *(seam.path(o) for o in others))


def fs_list_names(path: str) -> list[str]:
    """Names of the entries directly under the directory ``path``, none
    for a missing path (a file lists as itself, as Hadoop's
    ``listStatus`` lists it). One listing, whose names are mapped and
    joined inside the JVM, so it costs a fixed number of Py4J calls
    however many entries the directory holds, and only the names cross
    to Python. A newline cannot occur in a name Spark or Hive writes:
    Hive escaping encodes it in a partition directory's name. Any
    listing failure other than a missing path (a denied permission, an
    I/O error, a throttled store) raises: a caller that took an
    unlistable directory for an empty one would act on a wrong answer,
    as an upsert that overwrote its touched partitions with the batch
    alone."""
    seam, fs, jpath = _fs(path)
    try:
        level = fs.listStatus(jpath)
    except Py4JJavaError as e:
        if seam.not_found.isInstance(e.java_exception):
            return []
        raise
    names = seam.wrap(level).map(seam.get_name).mkString("\n")
    return names.split("\n") if names else []


def _fs_digest(spark: SparkSession, path: str) -> bytes | None:
    """SHA-256 of ``spark``'s SQL conf and of the sorted path, length
    and modification time of every file under ``path``, at every depth,
    ``_SUCCESS`` included; ``None`` when the walk fails (a missing
    path, a directory deleted mid-walk). Access times are left out: a
    read changes them. The text is built and hashed in the JVM, so a
    level costs a fixed number of Py4J calls and only the 32-byte
    digest crosses to Python."""
    seam, fs, root = _fs(path)
    text = seam.new_text()
    # schema and partition inference read the conf (time zone, parquet
    # type flags), so a digest taken under another conf differs
    spark.conf._jconf.getAll().addString(text, "", "\n", "\n")
    try:
        level = fs.listStatus(root)
        while len(level):
            entries = seam.wrap(level).sorted(seam.by_path)
            files = entries.filterNot(seam.is_dir)
            for column in seam.columns:
                files.map(column).addString(text, "", "\n", "\n")
            dirs = entries.filter(seam.is_dir).map(seam.get_path).toArray(seam.path_tag)
            level = fs.listStatus(dirs) if len(dirs) else dirs
    except Py4JJavaError:
        return None
    digest = seam.message_digest.getInstance("SHA-256")
    digest.update(seam.utf8.encode(seam.char_buffer.wrap(text.underlying())))
    return bytes(digest.digest())


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
