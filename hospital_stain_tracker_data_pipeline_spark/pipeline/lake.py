"""Minimal lakehouse table: parquet partitioned by a key column with an
idempotent last-writer-wins upsert (SURVEY.md §2.1 op-sink-upsert).

Replaces the reference's Postgres ``INSERT ... ON CONFLICT (date,
region_id) DO UPDATE`` (ingest_capacity.py:178-193). In a Delta/Iceberg
environment this would be ``MERGE INTO``; the portable mechanism here:

1. Partition the table by ``date`` — the analog of the reference's
   unique B-tree on (date, region_id) (models.py:54-56): date-keyed
   queries partition-prune, and an upsert touches only incoming dates.
2. Merge = materialize the raw batch once, observing on the way the
   set of partition values it touches; read ONLY those partitions,
   union with the batch, and in one window on the natural key keep
   the last writer per key (newest version, then incoming), which
   also dedups the batch within itself; then dynamic-partition-
   overwrite just those partitions straight from the window. The
   scoped read lists the table root through the filesystem seam
   (``session.fs_list_names``: the names are mapped and joined in the
   JVM, a fixed number of Py4J calls and only the names cross to
   Python) and hands Spark only the touched directories, so listing,
   footer reads and driver work are bounded by the batch, not by the
   partition count of the table. There is no
   separate existence check: a missing root or an untouched table
   reads as ``None`` and the batch alone is merged; any other listing
   failure raises before anything is written.
3. The merge is written without a copy of its own. Spark refuses to
   overwrite a path the query reads, but it compares root paths, and
   the scoped read's roots are partition directories, never the table
   root. A dynamic partition overwrite writes to a staging directory
   and deletes and replaces the touched partitions only when the job
   commits, after every task has read its input, so a failed job
   leaves the table as it was. The working set (listing, footers,
   rows) is bounded by the batch's touched partitions, not table
   size: this is what keeps a 100 TB table upsertable by a 1 GB
   micro-batch. The touched set is a driver-side collect, bounded by
   ``_MAX_TOUCHED_PARTITIONS``.
4. A full ``read()`` keeps the frame it resolved and returns it again
   while the table's files are unchanged, so a repeated read of an
   untouched table runs no listing or schema-merge job. Reuse is
   checked on every call against the seam's digest of one driver-side
   walk of the root (``session._fs_digest``), which any writer
   invalidates, ``LakeTable`` or not. The
   partition values the frame was resolved from are kept with it
   (``listed_partitions``), so a question about partition values
   alone needs no scan.

The table does what the pipeline runs and no more: ``exists``, the full
and scoped ``read``, ``overwrite``, ``upsert`` and a per-partition file
count. It has no compaction or retention operation; the storage layout
section of SCALE.md says where those belong.

The lake's layout is declared here once: ``LAKE_TABLES`` maps every
table the package writes to its natural key, partition column and
version column, and ``lake_table`` opens one by name under a lake
directory. The ingest, the metrics job, the seed, the stream ingest and
the CLI all open their tables through it.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterable, Sequence
from urllib.parse import unquote

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.upsert import _last_writer_rows
from ..session import _fs_digest, _materialize_observed, fs_exists, fs_list_names


# Most partition values one upsert may touch: the touched set is
# collected to the driver and each value becomes a path of the scoped
# read. A full-history metrics run touches every date of the table;
# 20 000 daily partitions are ≈55 years.
_MAX_TOUCHED_PARTITIONS = 20_000
# The merge's flag column: the row's key group holds an incoming row.
_HAS_INCOMING = "_upsert_has_incoming"
# Full-read frames one session keeps (see ``LakeTable.read``); the
# oldest resolution is dropped first.
_SNAPSHOTS_PER_SESSION = 32
# Guards the creation of a session's snapshots and every change to them:
# threads sharing a session read concurrently.
_SNAPSHOTS_LOCK = threading.Lock()


class _Snapshots:
    """One session's full-read frames, ``{path: (token, frame,
    partitions)}``, the token being the seam's ``_fs_digest`` of the
    table taken before the frame was resolved.

    It is kept on the session object, so it ends with its session and
    no other session sees it. A module-level map keyed by session would
    instead keep every session alive: each frame references its own."""

    def __init__(self):
        self.frames: dict = {}

    @staticmethod
    def of(spark: SparkSession) -> _Snapshots:
        """The session's snapshots, created on its first full read."""
        with _SNAPSHOTS_LOCK:
            snapshots = getattr(spark, "_lake_snapshots", None)
            if snapshots is None:
                snapshots = spark._lake_snapshots = _Snapshots()
            return snapshots

    def get(self, key, token) -> DataFrame | None:
        with _SNAPSHOTS_LOCK:
            hit = self.frames.get(key)
        return hit[1] if token is not None and hit and hit[0] == token else None

    def put(self, key, token, frame: DataFrame, partitions) -> None:
        with _SNAPSHOTS_LOCK:
            self.frames.pop(key, None)
            if token is None:
                return
            self.frames[key] = (token, frame, partitions)
            while len(self.frames) > _SNAPSHOTS_PER_SESSION:
                del self.frames[next(iter(self.frames))]

    def partitions(self, frame: DataFrame):
        """The partitions kept with ``frame`` if it is one of the
        session's full-read frames (the same object), else ``None``."""
        with _SNAPSHOTS_LOCK:
            return next(
                (hit[2] for hit in self.frames.values() if hit[1] is frame), None
            )


def listed_partitions(frame: DataFrame) -> tuple[str, list[str | None]] | None:
    """``(partition column, values)`` of the table a full
    ``LakeTable.read()`` returned ``frame`` for, from the root listing
    taken when that frame was resolved: one value per partition
    directory, unescaped, the NULL partition as ``None``. They cost no
    Spark job. Like the frame's own file list, they are the table as
    it was when the frame was resolved.

    ``None`` for every other frame: one not returned by ``read()``, a
    frame derived from one (filtered, projected, joined), one of a
    table with no directory of its declared partition column, and one
    the session no longer keeps (a later ``read()`` of a changed table
    replaces it). The test is identity, not equality.

    A directory is a value whether or not its files hold rows. Every
    ``LakeTable`` write keeps "no partition without rows": a dynamic
    partition overwrite creates only partitions it writes rows to, and
    no operation here empties one."""
    snapshots = getattr(frame.sparkSession, "_lake_snapshots", None)
    return None if snapshots is None else snapshots.partitions(frame)


class LakeTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str],
        partition_col: str = "date",
        version_col: str | None = "created_at",
    ):
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.partition_col = partition_col
        self.version_col = version_col

    # Hive's sentinel directory for a NULL partition value; ``read``
    # and ``upsert`` name the NULL partition by it.
    _NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"

    def _partition_dirs(self) -> dict[str, str]:
        """``{unescaped partition value: directory path}`` of every
        ``<partition_col>=<value>`` directory under the root, from one
        ``fs_list_names`` listing (any scheme, a fixed number of Py4J
        calls, not one per partition). Hadoop %-escapes special chars
        (':' → '%3A', etc.) in directory names, and matching raw column
        values against escaped names would silently select nothing; a
        missing root has no partitions, and any other listing failure
        raises."""
        prefix = f"{self.partition_col}="
        return {
            unquote(name[len(prefix):]): os.path.join(self.path, name)
            for name in fs_list_names(self.path)
            if name.startswith(prefix)
        }

    def exists(self) -> bool:
        """Whether the root holds a ``_SUCCESS`` marker or a partition
        directory. Both checks cost a fixed number of Py4J calls, so
        the answer costs the same for a table of any partition count
        (a dynamic-partition overwrite leaves no root ``_SUCCESS``)."""
        return fs_exists(os.path.join(self.path, "_SUCCESS")) or bool(
            self._partition_dirs()
        )

    def read(self, partitions: Iterable | None = None) -> DataFrame | None:
        """The whole table, or with ``partitions`` only the partitions
        holding those values (``None`` stands for the NULL partition).

        The full form returns the frame this session last resolved for
        the table while its files are unchanged, and resolves a new one
        otherwise. Each call first takes a token from one driver-side
        ``FileSystem`` walk of the root: the path, length and
        modification time of every file at every depth, plus the
        session's SQL conf. The walk runs no Spark job. It relies on
        what every Spark writer does: a write either creates new file
        names or changes a file's length or modification time. So an
        upsert, a plain ``df.write`` to the path or an out-of-band delete
        all yield a fresh frame, never one that lists deleted files. Two
        full reads of an unchanged table return the same frame object, so
        a self-join aliases each side. The partition values listed at
        resolution stay with the frame (``listed_partitions``).

        The scoped form lists the root's names once, in the JVM, and
        loads just the matching directories, so its Py4J calls are a
        fixed number and its listing and footer reads cost what the
        requested set touches, not what the table holds. Its partition
        column is the raw directory value as a string — never inferred
        from the subset, where ``01`` would read back as the integer 1 —
        so callers cast it to their own type. It returns ``None`` when
        no requested partition exists."""
        if partitions is None:
            snapshots = _Snapshots.of(self.spark)
            key = self.path
            # the token is taken before resolving, so a write racing the
            # resolution can only make the next call resolve again
            token = _fs_digest(self.spark, self.path)
            frame = snapshots.get(key, token)
            if frame is None:
                # mergeSchema: dynamic partition overwrite only rewrites
                # touched partitions, so after a column is added the
                # untouched partitions still hold the old physical schema
                # — the merged read surfaces the union schema with NULLs
                # for the missing column (the lake-format ALTER TABLE ADD
                # COLUMN behavior)
                frame = self.spark.read.option("mergeSchema", "true").parquet(
                    self.path
                )
                values = [
                    None if v == self._NULL_PARTITION else v
                    for v in self._partition_dirs()
                ]
                snapshots.put(
                    key, token, frame, (self.partition_col, values) if values else None
                )
            return frame
        dirs = self._partition_dirs()
        wanted = {self._NULL_PARTITION if v is None else str(v) for v in partitions}
        paths = sorted(dirs[v] for v in wanted & dirs.keys())
        if not paths:
            return None
        # Each directory loaded as its own base path has no partition
        # column, so this infers only the merged data schema; the second
        # load adds the partition column as a declared string, which
        # Spark fills from the directory name without type inference.
        schema = (
            self.spark.read.option("mergeSchema", "true")
            .parquet(*paths)
            .schema.add(self.partition_col, "string")
        )
        return (
            self.spark.read.schema(schema)
            .option("basePath", self.path)
            .parquet(*paths)
        )

    def overwrite(self, df: DataFrame) -> None:
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(self.partition_col)
            .parquet(self.path)
        )

    def upsert(self, incoming: DataFrame) -> int:
        """Idempotent natural-key upsert; incoming wins conflicts.
        Returns the batch's row count after its within-batch dedup: the
        number of distinct incoming keys, a stale incoming row that
        loses to a newer stored one included.

        Four Spark jobs: the batch's materialization, the touched
        slice's schema, and the merge window's shuffle and the write.
        The merge writes straight through ``overwrite``, with no copy
        of the merged slice. Spark refuses an overwrite of a path the
        query reads, but it compares root paths, and the scoped read's
        roots are the partition directories, never the table root. A
        dynamic partition overwrite writes its files under a staging
        directory and deletes and replaces the touched partitions only
        in the job commit, after every task has read its input; a
        failed job leaves the table as it was."""
        # One narrow action materializes the raw batch, pinning its
        # nondeterministic values (uuid(), current_timestamp()) for the
        # merge, and observes the partition values it touches, rendered
        # as the writer renders a directory value (NULL as Hive's
        # sentinel).
        part = F.col(self.partition_col)
        incoming, seen = _materialize_observed(
            incoming,
            touched=F.collect_set(
                F.coalesce(part.cast("string"), F.lit(self._NULL_PARTITION))
            ),
        )
        touched = seen["touched"]
        if len(touched) > _MAX_TOUCHED_PARTITIONS:
            raise ValueError(
                f"upsert touches {len(touched)} partitions of {self.path}, "
                f"beyond the driver-side bound of {_MAX_TOUCHED_PARTITIONS}; "
                "nothing was written"
            )
        # only the touched partitions are read back; a missing root or
        # an untouched table reads as None
        existing_slice = self.read(touched)
        if existing_slice is not None:
            existing_slice = existing_slice.withColumn(
                self.partition_col,
                part.cast(incoming.schema[self.partition_col].dataType),
            )
        # The merge window is also the within-batch dedup (the
        # reference's single multi-row INSERT can't carry duplicate
        # natural keys either); the batch's distinct keys are counted
        # on its rank-1 rows while the write runs.
        merged = _last_writer_rows(
            existing_slice,
            incoming,
            self.keys,
            version_col=(
                self.version_col
                if self.version_col and self.version_col in incoming.columns
                else None
            ),
            flag=_HAS_INCOMING,
        )
        rows = Observation()
        self.overwrite(
            merged.observe(rows, F.count_if(F.col(_HAS_INCOMING)).alias("rows"))
            .drop(_HAS_INCOMING)
        )
        return rows.get["rows"]

    def partition_file_counts(self) -> dict[str, int]:
        """data-file count per partition VALUE (unescaped), one
        ``fs_list_names`` listing per partition, so it works on any
        scheme (file:, hdfs:, s3a:, ...)."""
        return {
            v: sum(
                1
                for name in fs_list_names(d)
                if name.endswith(".parquet") and not name.startswith(".")
            )
            for v, d in self._partition_dirs().items()
        }


# table -> LakeTable keywords, as the pipeline writes each table. The
# regions and pipeline_runs partition columns are declared for readers
# (``listed_partitions``); neither table is written partitioned.
LAKE_TABLES: dict[str, dict] = {
    "capacity_daily": dict(
        keys=["date", "region_id"], partition_col="date", version_col="created_at"
    ),
    "metrics_daily": dict(
        keys=["date", "region_id"], partition_col="date", version_col="created_at"
    ),
    "regions": dict(keys=["name"], partition_col="name", version_col=None),
    "pipeline_runs": dict(keys=["run_id"], partition_col="run_id", version_col=None),
    "events_clean": dict(keys=["event_id"], partition_col="event_date", version_col="ts"),
}


def lake_table(spark: SparkSession, lake_dir: str, name: str) -> LakeTable:
    """The lake table ``name`` under ``lake_dir``, laid out as
    ``LAKE_TABLES`` declares it."""
    return LakeTable(spark, os.path.join(lake_dir, name), **LAKE_TABLES[name])


def _zorder_double(df: DataFrame, col: str):
    """A double-valued projection of a Z-order column, or raise: Z-order
    needs a total order with meaningful min/max file stats, so numeric,
    date, and timestamp qualify; strings (and binary) do not — their
    parquet stats prune poorly under interleaving and hashing them
    would destroy range locality. Dates map to epoch days, timestamps
    to epoch seconds."""
    dt = dict(df.dtypes).get(col)
    if dt is None:
        raise ValueError(f"column {col!r} not in frame")
    if dt in ("date",):
        return F.datediff(F.col(col), F.to_date(F.lit("1970-01-01"))).cast(
            "double"
        )
    if dt.startswith("timestamp"):
        return F.col(col).cast("long").cast("double")
    if dt in ("tinyint", "smallint", "int", "bigint", "float", "double") or (
        dt.startswith("decimal")
    ):
        return F.col(col).cast("double")
    raise ValueError(
        f"Z-order column {col!r} has type {dt} — only numeric, date, "
        "and timestamp columns carry range-prunable parquet stats"
    )


def zorder_write(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int = 32,
    bits: int = 4,
) -> dict:
    """Rewrite a table Z-ORDERED on ``cols`` — multi-column data
    skipping for the 100 TB scan path. A single sort key gives perfect
    file pruning on its leading column and none on the others;
    interleaving the bits of each column's quantile-bucket rank (the
    Morton / Z-order curve — public technique, the layout behind
    Delta's OPTIMIZE ZORDER and the classic UB-tree) makes every file
    cover a small hyper-rectangle of the key space, so parquet
    min/max footer stats prune files for range predicates on ANY
    subset of the columns.

    Mechanics: per column, ``2^bits - 1`` approxQuantile boundaries
    (driver-side, model-sized) map each value to a ``bits``-bit
    equi-depth rank (quantile bucketing, not raw-value scaling, so
    skewed distributions still split evenly; NULLs rank 0); ranks
    interleave bit-by-bit into a single integer Column; one
    ``repartitionByRange`` shuffle on it + a within-file sort, and the
    curve column is dropped before the write (it is derivable, not
    data). Cost: ONE full shuffle at write time, amortized over every
    pruned scan after. Returns the layout recipe (cols, bits, per-column
    boundaries, file count) so a maintenance job can re-apply it to
    new partitions. Verify pruning with ``file_skipping_report``."""
    cols = list(cols)
    if not cols:
        raise ValueError("need at least one Z-order column")
    if bits < 1 or bits * len(cols) > 32:
        raise ValueError(
            f"bits={bits} x {len(cols)} cols exceeds the 32-bit curve "
            "budget (lower bits or fewer columns)"
        )
    proj = df.select(
        *[_zorder_double(df, c).alias(f"_zc_{i}") for i, c in enumerate(cols)]
    )
    qs = [k / (1 << bits) for k in range(1, 1 << bits)]
    # one multi-column approxQuantile pass — k separate calls would
    # each rescan the table
    all_bounds = proj.stat.approxQuantile(
        [f"_zc_{i}" for i in range(len(cols))], qs, 0.001
    )
    bounds = {c: all_bounds[i] for i, c in enumerate(cols)}
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        v = _zorder_double(df, c)
        rank = F.lit(0)
        # strictly-greater comparisons against the sorted boundaries
        # sum to the equi-depth bucket id; NULL comparisons fall to 0
        for b in bounds[c]:
            rank = rank + F.when(v > F.lit(float(b)), 1).otherwise(0)
        for j in range(bits):
            # bit j of this column's rank lands at curve position
            # j * n_cols + i — distinct positions, so + is bitwise OR
            z = z + F.shiftleft(
                F.shiftright(rank, j).bitwiseAND(F.lit(1)).cast("long"),
                j * len(cols) + i,
            )
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        # the natural call rewrites a table over ITS OWN path, the
        # root its input was read from (a whole-path overwrite, unlike
        # the upsert's dynamic one over partition directories); pin
        # the shuffled+sorted layout before the overwrite replaces the
        # input files. Partition order survives localCheckpoint.
        .localCheckpoint(eager=True)
        .write.mode("overwrite")
        .parquet(path)
    )
    return {
        "cols": cols,
        "bits": bits,
        "n_files": n_files,
        "boundaries": bounds,
    }


def file_skipping_report(path: str, predicates: dict) -> dict:
    """How much of a parquet table a range scan must READ, from footer
    stats alone — the observable a layout decision (``zorder_write``
    vs a single-column sort) is judged by, computed exactly the way an
    engine's scan planner does it: a file (or row group) can be
    SKIPPED iff for some predicate column its [min, max] stats are
    disjoint from the predicate's [lo, hi] (either bound may be None
    for half-open ranges); a file with a matching row can therefore
    never be skipped (stats bound the data). Footer-only and
    driver-side by design — this reads metadata, not data, exactly
    like the planner it models. ``predicates`` maps column name ->
    (lo, hi) inclusive; values must be comparable with the column's
    parquet stats type (int/float for numerics, ``datetime.date`` for
    date columns). Missing stats on any predicate column makes a file
    unskippable (the planner's conservative default)."""
    import glob as _glob

    import pyarrow.parquet as _pq

    files = sorted(
        _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    if not files:
        raise ValueError(f"no parquet files under {path}")
    files_read = rg_total = rg_read = 0
    for f in files:
        md = _pq.ParquetFile(f).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        missing = [c for c in predicates if c not in names]
        if missing:
            raise ValueError(f"column(s) {missing} not in {f}")
        file_needed = False
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            rg_total += 1
            needed = True
            for c, (lo, hi) in predicates.items():
                st = rg.column(names[c]).statistics
                if st is None or not st.has_min_max:
                    continue  # conservative: cannot skip on this column
                if (hi is not None and st.min > hi) or (
                    lo is not None and st.max < lo
                ):
                    needed = False
                    break
            if needed:
                rg_read += 1
                file_needed = True
        if file_needed:
            files_read += 1
    return {
        "files_total": len(files),
        "files_read": files_read,
        "files_skipped": len(files) - files_read,
        "row_groups_total": rg_total,
        "row_groups_read": rg_read,
        "row_groups_skipped": rg_total - rg_read,
    }
