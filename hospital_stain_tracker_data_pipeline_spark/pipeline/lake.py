"""Minimal lakehouse table: parquet partitioned by a key column with an
idempotent last-writer-wins upsert (SURVEY.md §2.1 op-sink-upsert).

Replaces the reference's Postgres ``INSERT ... ON CONFLICT (date,
region_id) DO UPDATE`` (ingest_capacity.py:178-193). In a Delta/Iceberg
environment this would be ``MERGE INTO``; the portable mechanism here:

1. Partition the table by ``date`` — the analog of the reference's
   unique B-tree on (date, region_id) (models.py:54-56): date-keyed
   queries partition-prune, and an upsert touches only incoming dates.
2. Merge = read ONLY the partitions for incoming dates, union with
   incoming, window-dedup on the natural key (incoming wins), then
   dynamic-partition-overwrite just those partitions. The scoped read
   lists the table root once and hands Spark only the touched
   directories, so file listing and footer reads are bounded by the
   batch too, not by the partition count of the table.
3. ``localCheckpoint`` materializes the merged slice before the write
   so Spark's read/write-same-path check doesn't trip. The working set
   (listing, footers, rows) is bounded by the batch's touched
   partitions, not table size: this is what keeps a 100 TB table
   upsertable by a 1 GB micro-batch.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.upsert import dedup_last_writer, upsert_last_writer_wins


class LakeTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str],
        partition_col: str = "date",
        version_col: str | None = "created_at",
        sort_cols: Sequence[str] | None = None,
        data_format: str = "parquet",
    ):
        """``sort_cols``: optional within-file clustering columns. Every
        write sorts rows inside each task by (partition, *sort_cols)
        before the parquet encoder sees them, so each row group's
        min/max statistics become tight, disjoint ranges — a reader
        with a range/equality predicate on a sort column then skips
        whole row groups from the footer alone (the poor man's Z-order;
        single-column clustering is exactly what the reference's B-tree
        second key gave it). Costs one in-task sort at write time, no
        extra shuffle.

        ``data_format``: ``parquet`` (default) or ``orc`` — both are
        Spark-native columnar formats with identical partition-pruning,
        predicate-pushdown, and dynamic-partition-overwrite behavior,
        so the whole merge/compact machinery is format-agnostic; ORC
        matters for lakes shared with Hive/Trino deployments that
        standardized on it."""
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.partition_col = partition_col
        self.version_col = version_col
        self.sort_cols = list(sort_cols) if sort_cols else []
        if data_format not in ("parquet", "orc"):
            raise ValueError(
                f"unsupported data_format {data_format!r}: parquet | orc"
            )
        self.data_format = data_format

    def _hadoop_fs(self):
        """Resolve ``self.path`` through the Hadoop ``FileSystem`` API so
        every maintenance op works on whatever scheme the path carries
        (file:, hdfs:, s3a:, ...) — the same resolution Spark's own
        readers/writers use. Returns ``(FileSystem, Path)``."""
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs, jpath

    # Hive's sentinel directory for a NULL partition value — vacuum
    # never drops it (its rows are invisible to value predicates).
    _NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"

    def _partition_dirs(self) -> dict:
        """``{unescaped partition value: Hadoop Path}`` of every
        ``<partition_col>=<value>`` directory under the root, from one
        listing through the Hadoop ``FileSystem`` (any scheme). Hadoop
        %-escapes special chars (':' → '%3A', etc.) in directory names,
        and matching raw column values against escaped names would
        silently select nothing; a missing root has no partitions."""
        fs, root = self._hadoop_fs()
        if not fs.exists(root):
            return {}
        prefix = f"{self.partition_col}="
        return {
            unquote(st.getPath().getName()[len(prefix):]): st.getPath()
            for st in fs.listStatus(root)
            if st.isDirectory() and st.getPath().getName().startswith(prefix)
        }

    def exists(self) -> bool:
        fs, root = self._hadoop_fs()
        jvm_path = self.spark._jvm.org.apache.hadoop.fs.Path
        return fs.exists(jvm_path(root, "_SUCCESS")) or bool(self._partition_dirs())

    def read(self, partitions: Iterable | None = None) -> DataFrame | None:
        """The whole table, or with ``partitions`` only the partitions
        holding those values (``None`` stands for the NULL partition).

        The scoped form lists the root once and loads just the matching
        directories, so its listing and footer reads cost what the
        requested set touches, not what the table holds. Its partition
        column is the raw directory value as a string — never inferred
        from the subset, where ``01`` would read back as the integer 1 —
        so callers cast it to their own type. It returns ``None`` when
        no requested partition exists."""
        if partitions is None:
            # mergeSchema: dynamic partition overwrite only rewrites touched
            # partitions, so after a column is added the untouched
            # partitions still hold the old physical schema — the merged
            # read surfaces the union schema with NULLs for the missing
            # column (the lake-format ALTER TABLE ADD COLUMN behavior)
            return (
                self.spark.read.option("mergeSchema", "true")
                .format(self.data_format)
                .load(self.path)
            )
        dirs = self._partition_dirs()
        wanted = {self._NULL_PARTITION if v is None else str(v) for v in partitions}
        paths = sorted(dirs[v].toString() for v in wanted & dirs.keys())
        if not paths:
            return None
        # Each directory loaded as its own base path has no partition
        # column, so this infers only the merged data schema; the second
        # load adds the partition column as a declared string, which
        # Spark fills from the directory name without type inference.
        schema = (
            self.spark.read.option("mergeSchema", "true")
            .format(self.data_format)
            .load(paths)
            .schema.add(self.partition_col, "string")
        )
        return (
            self.spark.read.schema(schema)
            .option("basePath", self.path)
            .format(self.data_format)
            .load(paths)
        )

    def overwrite(self, df: DataFrame) -> None:
        if self.sort_cols:
            df = df.sortWithinPartitions(self.partition_col, *self.sort_cols)
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(self.partition_col)
            .format(self.data_format)
            .save(self.path)
        )

    def upsert(self, incoming: DataFrame) -> None:
        """Idempotent natural-key upsert; incoming wins conflicts."""
        # Within-batch dedup first (the reference's single multi-row
        # INSERT can't carry duplicate natural keys either).
        if self.version_col and self.version_col in incoming.columns:
            incoming = dedup_last_writer(incoming, self.keys, self.version_col)
        else:
            incoming = incoming.dropDuplicates(self.keys)

        # Only the touched partitions are read back. The distinct
        # partition values of a micro-batch are small by construction
        # (dates), so collecting them is cheap; the string cast is
        # the writer's own rendering of a directory value.
        part = F.col(self.partition_col)
        existing_slice = None
        if self.exists():
            touched = [
                r[0]
                for r in incoming.select(
                    F.coalesce(part.cast("string"), F.lit(self._NULL_PARTITION))
                )
                .distinct()
                .collect()
            ]
            existing_slice = self.read(touched)
        if existing_slice is None:
            self.overwrite(incoming)
            return
        existing_slice = existing_slice.withColumn(
            self.partition_col,
            part.cast(incoming.schema[self.partition_col].dataType),
        )
        merged = upsert_last_writer_wins(
            existing_slice,
            incoming,
            self.keys,
            version_col=(
                self.version_col
                if self.version_col and self.version_col in incoming.columns
                else None
            ),
        )
        # Materialize before overwriting partitions we just read.
        merged = merged.localCheckpoint(eager=True)
        self.overwrite(merged)

    def _data_files(self, fs, part_dir) -> int:
        return sum(
            1
            for f in fs.listStatus(part_dir)
            if f.isFile()
            and f.getPath().getName().endswith(f".{self.data_format}")
            and not f.getPath().getName().startswith(".")
        )

    def partition_file_counts(self) -> dict[str, int]:
        """data-file count per partition VALUE (unescaped), via the
        Hadoop ``FileSystem`` API so the walk works on any scheme (file:,
        hdfs:, s3a:, ...)."""
        fs, _ = self._hadoop_fs()
        return {
            v: self._data_files(fs, d) for v, d in self._partition_dirs().items()
        }

    def compact(self, min_files: int = 2) -> dict[str, int]:
        """Small-file maintenance (the OPTIMIZE/rewrite_data_files analog
        of Delta/Iceberg): rewrite every partition holding >= ``min_files``
        part files down to ONE file per partition.

        Micro-batch upserts fragment partitions — each merge write emits
        one file per shuffle task that holds rows of the partition — and
        at 100 TB the resulting tiny-file sea dominates scan overhead
        (footer reads, task scheduling). The rewrite reads ONLY the
        fragmented partitions (scoped read), hash-repartitions on the
        partition column so each partition's rows land in exactly one
        task (= one output file), and dynamic-overwrites just those
        directories. Row content is untouched — compaction is a pure
        layout operation. Returns {partition: files_before} for the
        partitions rewritten."""
        fragmented = {
            p: n for p, n in self.partition_file_counts().items() if n >= min_files
        }
        if not fragmented:
            return {}
        # the scoped read's raw-string partition values render back to
        # the very directories they came from
        compacted = (
            self.read(fragmented)
            .repartition(len(fragmented), F.col(self.partition_col))
            .localCheckpoint(eager=True)
        )
        self.overwrite(compacted)
        return fragmented

    def vacuum(
        self,
        before: str | None = None,
        keep: Sequence[str] | None = None,
        dry_run: bool = False,
    ) -> dict[str, int]:
        """Partition-level retention — the third lake maintenance
        primitive beside ``upsert`` and ``compact``: drop whole
        partition directories whose value falls out of the retention
        policy. At 100 TB a date-partitioned lake grows one partition
        per day forever; retention is a metadata-cheap directory drop,
        never a row-level rewrite (the reference has no analog — its
        rejects dir grows unboundedly, ingest_capacity.py:140-153).

        Exactly one of:

        - ``before``: drop partitions with value < ``before`` (string
          compare on the unescaped directory value — for ISO dates
          lexicographic == chronological, which is why the lake
          partitions by ISO strings);
        - ``keep``: drop partitions NOT in the explicit keep-set.

        ``dry_run=True`` returns the would-be victims without touching
        anything. Returns ``{partition_value: data_file_count}`` for
        the partitions dropped (or selected, under dry-run).

        The Hive NULL-partition sentinel is never dropped (its rows
        are invisible to value predicates either way).

        Crash discipline: the victim list is marker-committed — a
        ``_VACUUM_PENDING`` file (JSON victim list) lands before the
        first directory drop and is removed after the last, so an
        interrupted vacuum is DETECTABLE (the marker names what was in
        flight) and safely resumable: deletes are idempotent, and a
        leftover marker is overwritten by the rerun. Readers are
        unaffected mid-vacuum — they simply stop seeing dropped
        partitions; untouched partitions never change (pinned by the
        pruned-query-equality test)."""
        if (before is None) == (keep is None):
            raise ValueError("vacuum needs exactly one of before= / keep=")
        if isinstance(keep, str):
            # a plain string satisfies Sequence[str] by iterating its
            # CHARACTERS — which would mark every partition a victim
            # and drop the whole table; refuse the footgun loudly
            raise ValueError(
                "keep= must be a collection of partition values, not a "
                f"string (got {keep!r}) — wrap it: keep=[{keep!r}]"
            )
        fs, root = self._hadoop_fs()
        dirs = self._partition_dirs()
        if keep is not None:
            keep_set = {str(k) for k in keep}
            doomed = [p for p in dirs if p not in keep_set]
        else:
            doomed = [p for p in dirs if p < before]
        victims = {
            p: self._data_files(fs, dirs[p])
            for p in doomed
            if p != self._NULL_PARTITION
        }
        if dry_run:
            return victims

        import json

        jvm_path = self.spark._jvm.org.apache.hadoop.fs.Path
        marker = jvm_path(root, "_VACUUM_PENDING")
        if not victims:
            # finish an interrupted vacuum that deleted its last victim
            # but died before removing the marker — otherwise the stale
            # marker would signal "torn vacuum" forever, since the
            # no-victims rerun would never reach the marker logic
            if fs.exists(marker):
                fs.delete(marker, False)
            return victims
        out = fs.create(marker, True)
        out.write(bytearray(json.dumps(sorted(victims)).encode()))
        out.close()
        for p in victims:
            fs.delete(dirs[p], True)
        fs.delete(marker, False)
        return victims


def write_bucketed_table(
    df, table: str, key: str, buckets: int = 32
) -> None:
    """Materialize a fact table BUCKETED (and sorted) on its join key —
    the co-located-join layout for fact⋈fact keys (SCALE.md storage
    notes): two tables bucketed on the same key with the same bucket
    count join with ZERO exchange on either side, because bucket i of
    one table can only match bucket i of the other. At 100 TB this
    converts every repeated join/aggregation on the key (order ⋈
    lineitem style) from a full shuffle of both sides into a local
    merge per bucket — the write pays the shuffle once, every
    downstream join skips it (plan-asserted by
    ``test_bucketed_join_is_shuffle_free``). ``buckets`` should be
    sized so one bucket ≈ one task's worth of data at the target
    scale; it must MATCH across the tables that join."""
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


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
    data). Cost: ONE full shuffle at write time — the same price
    ``write_bucketed_table`` pays — amortized over every pruned scan
    after. Returns the layout recipe (cols, bits, per-column
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
        # the natural call rewrites a table over ITS OWN path; pin the
        # shuffled+sorted layout before the overwrite truncates the
        # input files (the LakeTable.upsert read-write-same-path
        # discipline). Partition order survives localCheckpoint.
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
    import os as _os

    import pyarrow.parquet as _pq

    files = sorted(
        _glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True)
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
