"""Physical-plan shape assertions: the scale properties SURVEY.md §4
claims (filter pushdown to parquet, column pruning, broadcast dim
joins, partial aggregation, top-k without a global sort, whole-stage
codegen) must be visible in `explain`, not just intended.

These guard regressions like a filter silently becoming post-scan, a
dim join falling back to sort-merge, or a limit becoming a full sort."""

from __future__ import annotations

import contextlib
import io

from hospital_stain_tracker_data_pipeline_spark.plans import CATALOG
from hospital_stain_tracker_data_pipeline_spark.plans.catalog import DEMOTED


def plan_of(spark, sf_dir, name: str) -> str:
    df = {**CATALOG, **DEMOTED}[name].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_project_pushes_predicate_to_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "filter_project")
    assert "PushedFilters" in plan
    # the date-equality predicate reaches the parquet reader
    assert "l_shipdate" in plan.split("PushedFilters")[1].splitlines()[0]


def test_filter_project_prunes_columns(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "filter_project")
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_orderkey" in read_schema
    # untouched wide columns must NOT be read
    assert "l_comment" not in read_schema and "l_shipinstruct" not in read_schema


def test_dim_join_broadcasts_small_side(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dim_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pricing_summary_partial_final_agg(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "pricing_summary")
    # map-side combine: partial_sum on the scan side, final after the
    # exchange — formatted explain names the partial functions
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "topk")
    assert "TakeOrderedAndProject" in plan
    # a full Sort + CollectLimit would indicate the top-k fell back
    assert "Exchange rangepartitioning" not in plan


def test_window_lag_shuffles_rollup_not_fact(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "window_lag_running")
    # exactly one aggregation pair before the window; the window runs
    # over the rollup output (Window after HashAggregate in the plan)
    assert "Window" in plan
    assert plan.index("HashAggregate") < plan.index("Window") or plan.index(
        "Window"
    ) > plan.index("Exchange")


def test_dedup_exact_shuffles_fingerprint_not_payload(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dedup_exact")
    # the exchange carries (fingerprint, doc_id); the text payload is
    # projected away before the shuffle
    assert "hashpartitioning(fingerprint" in plan


def test_upsert_merge_single_window_dedup(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "upsert_merge")
    assert "Window" in plan or "row_number" in plan


def test_lake_table_partition_pruning(spark, tmp_path):
    """Date-partitioned lake tables must partition-prune date-equality
    queries — the scan's PartitionFilters carries the predicate and
    only one partition directory is read (the analog of the
    reference's (date, region_id) index; SCALE.md storage layout)."""
    import pyspark.sql.functions as F

    from hospital_stain_tracker_data_pipeline_spark.pipeline.lake import LakeTable

    path = str(tmp_path / "cap")
    df = spark.createDataFrame(
        [("2026-01-0%d" % (i % 3 + 1), i, float(i)) for i in range(30)],
        "date string, region_id int, v double",
    ).withColumn("date", F.to_date("date")).withColumn(
        "created_at", F.current_timestamp()
    )
    t = LakeTable(spark, path, keys=["date", "region_id"])
    t.upsert(df)

    q = t.read().filter(F.col("date") == "2026-01-02")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    pf_line = plan.split("PartitionFilters")[1].splitlines()[0]
    assert "date" in pf_line and "2026-01-02" in pf_line


def test_approx_percentiles_rank_error_bounded(spark, sf_dir):
    """The sketch-based percentile variant must land within its rank
    error bound: the fraction of each group's values at or below the
    approximate p50 stays within a small band around 0.5 (and the
    partial-agg sketch shape shows in the plan)."""
    import contextlib
    import io

    import pyspark.sql.functions as F

    from hospital_stain_tracker_data_pipeline_spark.plans.relational import (
        q_event_percentiles_approx,
    )
    from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
        load_fixture_table,
    )

    approx = q_event_percentiles_approx(spark, sf_dir)
    ev = load_fixture_table(spark, sf_dir, "events")
    joined = ev.join(approx, "event_type").groupBy("event_type").agg(
        (
            F.count(F.when(F.col("value") <= F.col("p50"), 1))
            / F.count("value")
        ).alias("rank_at_p50")
    )
    for r in joined.collect():
        assert 0.45 <= r.rank_at_p50 <= 0.55, r

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        approx.explain("formatted")
    plan = buf.getvalue()
    assert "partial_approx_percentile" in plan or "approx_percentile" in plan
    assert plan.count("HashAggregate") + plan.count("ObjectHashAggregate") >= 2


def test_lake_maintenance_works_on_non_file_scheme(spark, tmp_path):
    """exists/partition_file_counts/read/upsert must route through the
    Hadoop FileSystem API — not os.listdir — so the lake works on any
    scheme (s3a:, hdfs:, ...). Exercised here via Hadoop's
    viewfs:// (a real non-file: scheme resolved through the same
    FileSystem.get machinery as s3a/hdfs), mount-tabled onto tmp_path."""
    import pyspark.sql.functions as F

    from hospital_stain_tracker_data_pipeline_spark.pipeline.lake import LakeTable

    spark._jsc.hadoopConfiguration().set(
        "fs.viewfs.mounttable.laketest.link./lake", "file:" + str(tmp_path)
    )
    t = LakeTable(
        spark, "viewfs://laketest/lake/frag", keys=["date", "k"],
        partition_col="date", version_col="v",
    )
    assert not t.exists()
    df = spark.range(500).select(
        F.lit("2026-01-01").alias("date"),
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias("x"),
        F.lit(0).alias("v"),
    )
    t.overwrite(df.repartition(4))
    assert t.exists()
    assert t.partition_file_counts().get("2026-01-01", 0) >= 2

    assert sorted(r.k for r in t.read().select("k").collect()) == list(range(500))

    # Upsert (merge path: pruned read + dedup + dynamic overwrite)
    # also runs end-to-end on the non-file: scheme.
    t.upsert(df.withColumn("v", F.lit(1)))
    merged = t.read()
    assert merged.count() == 500
    assert merged.agg(F.min("v"), F.max("v")).collect()[0] == (1, 1)


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketed tables co-locate equi-join keys at WRITE time, so a
    fact⋈fact join needs no Exchange at read time — the mechanism
    SCALE.md prescribes for repeated big-key joins at 100 TB."""
    import pyspark.sql.functions as F

    spark.sql(
        f"CREATE TABLE bkt_a (k BIGINT, v DOUBLE) USING parquet "
        f"CLUSTERED BY (k) INTO 8 BUCKETS LOCATION '{tmp_path}/bkt_a'"
    )
    spark.sql(
        f"CREATE TABLE bkt_b (k BIGINT, w DOUBLE) USING parquet "
        f"CLUSTERED BY (k) INTO 8 BUCKETS LOCATION '{tmp_path}/bkt_b'"
    )
    try:
        spark.range(10000).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
        ).write.insertInto("bkt_a")
        spark.range(10000).select(
            F.col("id").alias("k"), (F.col("id") * 3.0).alias("w")
        ).write.insertInto("bkt_b")

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                joined.explain("formatted")
            plan = buf.getvalue()
            assert "SortMergeJoin" in plan
            assert "Exchange hashpartitioning" not in plan
            assert joined.count() == 10000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_range_join_binned_is_equi_join(spark, sf_dir):
    """The binned range join must plan as a hash/sort-merge EQUI-join on
    (user_id, bin) — never a broadcast-nested-loop or cartesian
    refinement, which is what a raw inequality join degenerates to."""
    plan = plan_of(spark, sf_dir, "range_join_binned")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_running_total_windows_over_rollup(spark, sf_dir):
    """The running window must consume the pre-aggregated daily rollup
    (agg below the Window in the plan), so the sequential window scan is
    bounded by |dates x priorities|, not the fact row count."""
    plan = plan_of(spark, sf_dir, "window_lag_running")
    assert "Window" in plan
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert agg_pos != -1 and win_pos != -1


def test_scalar_subquery_broadcasts_group_avg(spark, sf_dir):
    """The decorrelated scalar subquery must broadcast the tiny grouped
    average back onto the fact — the fact side never shuffles for the
    join."""
    plan = plan_of(spark, sf_dir, "scalar_subquery")
    assert "BroadcastHashJoin" in plan


def test_grouping_multi_expands_before_partial_agg(spark, sf_dir):
    """The merged ROLLUP/CUBE/GROUPING SETS query plans as ONE Expand
    (len(sets) = 5 copies) feeding partial+final HashAggregates — the
    shuffle carries collapsed partial rows, not input x 5."""
    plan = plan_of(spark, sf_dir, "grouping_multi")
    assert "Expand" in plan
    assert plan.count("HashAggregate") >= 2


def test_gap_fill_windows_over_rollup(spark, sf_dir):
    """Gap fill generates the calendar spine AFTER the daily rollup (the
    Generate/explode sits above the aggregate in the plan), so spine
    size is users x days, never event-fact-sized."""
    plan = plan_of(spark, sf_dir, "gap_fill")
    assert "Generate" in plan  # explode(sequence(...))
    assert "Window" in plan
    assert plan.count("HashAggregate") >= 2


def test_set_membership_ops_uses_semi_anti_joins(spark, sf_dir):
    """The EXISTS / NOT EXISTS halves must plan as left-semi / left-anti
    joins (build side carries only the key — no row multiplication),
    never as an inner join + dedup."""
    plan = plan_of(spark, sf_dir, "set_membership_ops")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_event_type_metrics_salted_branch_is_two_phase(spark, sf_dir):
    """The salted branch must aggregate on (event_type, salt) BEFORE
    folding to event_type — the salt key appears in an exchange or
    aggregate, capping any single reducer at ~1/16 of a hot key."""
    plan = plan_of(spark, sf_dir, "event_type_metrics")
    # the salt expression (pmod(hash(event_id), 16)) survives into the
    # grouping keys of the first aggregation phase
    assert "pmod" in plan
    assert plan.count("HashAggregate") >= 4  # salted partial+final ×2 phases


def test_mixture_sample_two_phase_topn(spark, sf_dir):
    """The per-stratum sampler must pre-rank per (lang, input partition)
    and prune BEFORE the exact per-lang window — the full stratum never
    funnels through a single-task window (the 100 TB hot-stratum fix)."""
    plan = plan_of(spark, sf_dir, "mixture_sample")
    tree = plan.split("\n\n")[0].splitlines()  # root-first operator tree
    win_lines = [i for i, l in enumerate(tree) if "Window" in l]
    filt_lines = [i for i, l in enumerate(tree) if "Filter" in l]
    assert len(win_lines) >= 2, tree
    # a Filter sits strictly BETWEEN the two Window operators in the
    # root-first tree: the global (downstream) window consumes the
    # pruned survivors, never the raw stratum
    assert any(win_lines[0] < f < win_lines[-1] for f in filt_lines), tree
    # and the pruning filter is the local-rank one over the
    # per-input-partition pre-rank
    assert "_local_rank" in plan and ("SPARK_PARTITION_ID" in plan or "_pid" in plan)


def test_tfidf_broadcasts_df_side(spark, sf_dir):
    """TF-IDF joins the vocabulary-sized document-frequency aggregate
    back to the corpus-sized tf rows via broadcast — the corpus side
    shuffles only once, for the (doc, token) aggregation."""
    plan = plan_of(spark, sf_dir, "tfidf_topterms")
    assert "BroadcastHashJoin" in plan


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_pack_token_chunks_single_shard_exchange(spark, sf_dir):
    """Packing must cost exactly one exchange (on the shard key) before
    the cumsum window — a global-ordering window would show a second
    exchange / singlePartition and serialize the corpus."""
    from hospital_stain_tracker_data_pipeline_spark.operators.packing import (
        pack_token_chunks,
    )
    from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
        load_fixture_table,
    )

    import re

    docs = load_fixture_table(spark, sf_dir, "documents")
    plan = _explain(pack_token_chunks(docs, budget=256, n_shards=8))
    # count detail headers "(N) Exchange" — formatted explain prints
    # each node in the tree AND the detail section
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(shard" in plan
    assert "SinglePartition" not in plan
    # chunk ids via integer div, not floor(double /)
    assert "/ 256.0" not in plan
    # the blank-doc filter runs at the scan stage (before the shuffle)
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "text" in read_schema and "lang" not in read_schema


def test_filter_funnel_is_one_scan_one_agg(spark, sf_dir):
    """The funnel is a single partial+final aggregation pass — N
    filter+count jobs would show as N scans."""
    from pyspark.sql import functions as F

    from hospital_stain_tracker_data_pipeline_spark.operators.packing import (
        filter_funnel,
    )
    from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
        load_fixture_table,
    )

    docs = load_fixture_table(spark, sf_dir, "documents")
    plan = _explain(
        filter_funnel(
            docs,
            [
                ("nonempty", F.trim(F.col("text")) != ""),
                ("min_len", F.length("text") >= 100),
            ],
        )
    )
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "partial_count" in plan or "partial_sum" in plan


def test_dedup_spans_window_keys_on_fingerprint(spark):
    """The first-occurrence window shuffles on the md5 fingerprint (16
    bytes/span), and reassembly groups on doc_id — two exchanges total,
    no single-partition stage."""
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        dedup_spans,
    )

    docs = spark.createDataFrame(
        [(1, "a\nb"), (2, "b\nc")], "doc_id long, text string"
    )
    plan = _explain(dedup_spans(docs))
    assert "hashpartitioning(fp" in plan
    assert "hashpartitioning(doc_id" in plan
    assert "SinglePartition" not in plan


def test_event_cardinality_sketch_error_bound_and_partial_agg(spark, sf_dir):
    """HLL++ distinct-count sketch: estimate within ~3 rsd of the exact
    count per group, and the plan shows the mergeable partial+final
    aggregation (only sketches shuffle)."""
    from hospital_stain_tracker_data_pipeline_spark.plans.relational import (
        q_event_cardinality_approx,
    )

    df = q_event_cardinality_approx(spark, sf_dir, rsd=0.023)
    plan = _explain(df)
    assert "partial_" in plan and plan.count("HashAggregate") >= 2
    for r in df.collect():
        assert r.exact_users > 0
        rel_err = abs(r.approx_users - r.exact_users) / r.exact_users
        assert rel_err <= 3 * 0.023, (r, rel_err)


def test_runtime_bloom_filter_prunes_selective_join(spark, sf_dir):
    """The session must support Spark's runtime bloom-filter join
    pruning: a selective filter on the dim side of a non-broadcast join
    injects a bloom-filter aggregate on the dim and a might_contain
    probe into the fact scan — at cluster scale this skips fact rows
    (and parquet row groups) whose keys can't match, BEFORE the shuffle.
    The injection thresholds are sized for real tables (10 MB build
    side / 10 GB probe-side scan), so the test scales them down to the
    fixture; everything else is the engine's default session config."""
    import os as _os

    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(_os.path.join(sf_dir, "lineitem.parquet"))
        orders = spark.read.parquet(
            _os.path.join(sf_dir, "orders.parquet")
        ).filter(F.col("o_orderpriority") == "1-URGENT")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = _explain(j)
        assert "bloom_filter_agg" in plan          # built on the dim side
        assert "might_contain" in plan             # probed on the fact side
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lake_table_schema_evolution_add_column(spark, tmp_path):
    """A later batch ADDs a column: the upsert must succeed, old rows
    read NULL for the new column (mergeSchema across partitions whose
    physical files predate it), and a subsequent old-producer batch
    MISSING the column NULL-fills instead of failing."""
    import pyspark.sql.functions as F

    from hospital_stain_tracker_data_pipeline_spark.pipeline.lake import LakeTable

    path = str(tmp_path / "evolve")
    t = LakeTable(spark, path, keys=["date", "region_id"], version_col=None)
    v1 = spark.createDataFrame(
        [("2026-03-01", 1, 10.0), ("2026-03-02", 2, 20.0)],
        "date string, region_id int, v double",
    ).withColumn("date", F.to_date("date"))
    t.upsert(v1)
    # batch 2 adds `flag` and touches only 03-02 (03-01's file keeps
    # the old physical schema on disk)
    v2 = spark.createDataFrame(
        [("2026-03-02", 2, 21.0, "new")],
        "date string, region_id int, v double, flag string",
    ).withColumn("date", F.to_date("date"))
    t.upsert(v2)
    got = {
        (str(r["date"]), r["region_id"]): (r["v"], r["flag"])
        for r in t.read().collect()
    }
    assert got[("2026-03-01", 1)] == (10.0, None)
    assert got[("2026-03-02", 2)] == (21.0, "new")
    # batch 3 from an old producer without `flag`: merges, NULL flag
    v3 = spark.createDataFrame(
        [("2026-03-01", 1, 11.0)], "date string, region_id int, v double"
    ).withColumn("date", F.to_date("date"))
    t.upsert(v3)
    got = {
        (str(r["date"]), r["region_id"]): (r["v"], r["flag"])
        for r in t.read().collect()
    }
    assert got[("2026-03-01", 1)] == (11.0, None)
    assert got[("2026-03-02", 2)] == (21.0, "new")
    assert len(got) == 2


def test_hll_registers_partial_agg_never_ships_items(spark, sf_dir):
    """The sketch exchange must carry partially-aggregated registers
    (<= 2^p rows per map task), not the exploded item stream: partial
    max on the scan side of the exchange, final max after."""
    from pyspark.sql import functions as F

    from hospital_stain_tracker_data_pipeline_spark.operators.sketch import (
        hll_registers,
    )

    words = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.explode(F.split("text", r"\s+")).alias("w"))
        .filter(F.col("w") != "")
    )
    plan = _explain(hll_registers(words, "w"))
    assert "partial_max" in plan
    assert plan.count("HashAggregate") >= 2


def test_cms_query_broadcasts_sketch(spark, sf_dir):
    """Point-frequency lookup: the KB-sized cell table broadcasts; the
    query side never sort-merges against it."""
    from pyspark.sql import functions as F

    from hospital_stain_tracker_data_pipeline_spark.operators.sketch import (
        cms_query,
        cms_sketch,
    )

    words = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.explode(F.split("text", r"\s+")).alias("w"))
        .filter(F.col("w") != "")
    )
    sk = cms_sketch(words, "w")
    plan = _explain(cms_query(sk, words, "w"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# Single-partition window allowlist (round-10 pin)
# ---------------------------------------------------------------------------

def _top_level_groups(s: str) -> int:
    """Count top-level [..] groups in a formatted-explain Arguments
    line: a physical Window prints `[exprs], [partition], [order]`
    (3 groups) or, unpartitioned, `[exprs], [order]` (2 groups)."""
    g, depth = 0, 0
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                g += 1
        elif ch == "]":
            depth -= 1
    return g


def _parse_formatted(plan: str):
    """(tree, details): tree = [(depth, name, node_id)] of the MAIN
    plan section; details = node_id -> {label: text} over the whole
    output (subquery sections included for window counting)."""
    import re

    main = plan.split("===== Subqueries =====")[0]
    tree = []
    for line in main.splitlines():
        m = re.match(r"^([ :+\-*]*)([A-Za-z][A-Za-z0-9 ]*?) \((\d+)\)\s*$", line)
        if m:
            tree.append((len(m.group(1)), m.group(2), int(m.group(3))))
    details: dict[int, dict[str, str]] = {}
    cur = None
    for line in plan.splitlines():
        m = re.match(r"^\((\d+)\) ([A-Za-z][A-Za-z0-9 ]*)$", line)
        if m:
            cur = details.setdefault(int(m.group(1)), {"_name": m.group(2)})
            continue
        if cur is not None:
            dm = re.match(r"^([A-Za-z][A-Za-z ]*?)\s*: (.*)$", line)
            if dm:
                cur[dm.group(1)] = dm.group(2)
            elif not line.strip():
                cur = None
    return tree, details


def _unpartitioned_window_ids(details) -> list[int]:
    return [
        nid
        for nid, d in details.items()
        if d.get("_name") == "Window"
        and _top_level_groups(d.get("Arguments", "")) == 2
    ]


# Every benign single-partition window in the driver catalog, by
# design (each runs over a post-reduction frame — docstrings at the
# plan sites explain why). A NEW unpartitioned window anywhere in the
# catalog fails this pin instead of hiding in WindowExec warning spam
# (bench runs at ERROR log level now; this test is the detector).
ALLOWED_UNPARTITIONED_WINDOWS = {
    "rolling_trend": 1,        # global date window over the daily rollup
    "rank_topn_per_group": 1,  # global ntile AFTER the top-3 rank filter
    "vocab_topk": 1,           # token-id assignment after limit(200)
    "rrf_fuse": 3,             # per-list ranks + fusion over top-k lists
}

# Row-boundedness evidence required in an allowlisted window's subtree
_REDUCTION_NODES = {
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "TakeOrderedAndProject",
    "GlobalLimit",
    "LocalLimit",
}


def test_unpartitioned_windows_are_allowlisted_and_post_reduction(
    spark, sf_dir
):
    """Enumerate every single-partition WindowExec across the WHOLE
    catalog (driver-graded + demoted; streaming entries excluded —
    their fns execute a stream on construction and their read-back
    frames are plain scans) and pin (a) exactly which queries carry
    one and how many, and (b) that each sits over a post-reduction
    frame: its subtree contains an aggregate/limit, or a rank-filter
    over a PARTITIONED window computed below it (the top-N-per-group
    shape, <= N x |groups| rows)."""
    import re

    found: dict[str, int] = {}
    for name, spec in {**CATALOG, **DEMOTED}.items():
        if name.startswith("stream"):
            continue
        plan = plan_of(spark, sf_dir, name)
        tree, details = _parse_formatted(plan)
        win_ids = _unpartitioned_window_ids(details)
        if not win_ids:
            continue
        found[name] = len(win_ids)

        pos = {nid: i for i, (_, _, nid) in enumerate(tree)}
        for wid in win_ids:
            if wid not in pos:  # window inside a subquery section
                continue
            i = pos[wid]
            wdepth = tree[i][0]
            subtree = []
            for depth, nname, nid in tree[i + 1:]:
                if depth <= wdepth:
                    break
                subtree.append((nname, nid))
            names = {n for n, _ in subtree}
            if names & _REDUCTION_NODES:
                continue
            # rank-filter evidence: a Filter in the subtree whose
            # condition references an alias produced by a deeper
            # PARTITIONED window
            ok = False
            for nname, nid in subtree:
                if nname != "Filter":
                    continue
                cond = details.get(nid, {}).get("Condition", "")
                for wname, wnid in subtree:
                    if wname != "Window" or wnid == nid:
                        continue
                    args = details.get(wnid, {}).get("Arguments", "")
                    if _top_level_groups(args) != 3:
                        continue
                    aliases = re.findall(r"AS (\w+#\d+)", args)
                    if any(a in cond for a in aliases):
                        ok = True
            assert ok, (
                f"{name}: single-partition Window ({wid}) has no "
                f"row-bounding evidence in its subtree {sorted(names)} "
                "— a global window over an unreduced frame moves ALL "
                "data to one task; partition it or reduce first"
            )
    assert found == ALLOWED_UNPARTITIONED_WINDOWS, (
        "single-partition window census changed — if the new window is "
        "genuinely post-reduction, document it at the plan site and "
        "update ALLOWED_UNPARTITIONED_WINDOWS; if not, partition it"
    )


def _plan_tree(spark, sf_dir, name: str) -> str:
    """The numbered operator tree of a formatted explain (first
    section only — the per-node detail section repeats every operator
    name, which would double node counts)."""
    return plan_of(spark, sf_dir, name).split("\n\n")[0]


def test_fetch_schedule_broadcasts_delays_and_single_window(spark, sf_dir):
    """The round-11 crawl catalog entry: the delays side (domains-
    sized) reaches the frontier via a broadcast join — never a
    sort-merge — and wave assignment is exactly one domain-keyed
    window (no second frontier shuffle for the compose)."""
    tree = _plan_tree(spark, sf_dir, "fetch_schedule")
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree
    assert tree.count("Window") == 1


def test_sample_stratified_one_stratum_exchange(spark, sf_dir):
    """The round-11 sampling entry: one hash exchange on the stratum
    feeds the ranked window (no extra repartition rides along), and
    Spark's WindowGroupLimit kicks in BEFORE the exchange — each task
    pre-limits its partition to the per-stratum top-k, so the shuffle
    carries candidates, not the whole corpus."""
    plan = plan_of(spark, sf_dir, "sample_stratified")
    tree = plan.split("\n\n")[0]
    assert tree.count("Window (") == 1
    # partial top-k on the map side: WindowGroupLimit below the Exchange
    assert tree.index("WindowGroupLimit", tree.index("Exchange")) > 0
    # exactly one exchange, keyed on the stratum column
    assert tree.count("Exchange") == 1
    assert "hashpartitioning(source" in plan


def test_filter_funnel_is_one_scan_conditional_agg(spark, sf_dir):
    """The round-11 funnel entry: all four cumulative stages compute in
    ONE corpus scan (conditional aggregation) — N filter→count passes
    would show N scans."""
    tree = _plan_tree(spark, sf_dir, "filter_funnel")
    assert tree.count("Scan parquet") == 1
    assert "HashAggregate" in tree
    # no join, no window — pure single-pass aggregation
    assert "Join" not in tree and "Window" not in tree


def test_media_fingerprint_pairs_never_shuffle_payloads(spark):
    """The 100 TB media-dedup contract, plan-pinned for BOTH new
    fingerprint tiers: by the time pair generation plans, the payload
    decode has already happened inside the materialize() checkpoint —
    the banding self-join's ENTIRE plan reads the (id, 8-byte hash)
    ExistingRDD, so neither payload bytes nor the Arrow decode stage
    can possibly sit under an Exchange."""
    import numpy as np
    import pandas as pd

    from hospital_stain_tracker_data_pipeline_spark.operators.fingerprint import (
        AUDIO,
        VIDEO,
        fp_dup_pairs,
    )
    from hospital_stain_tracker_data_pipeline_spark.operators.jpeg import (
        encode_jpeg,
    )
    from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
        build_mjpeg_avi,
        encode_wav,
        to_media_table,
    )

    tone = np.round(
        4000 * np.sin(2 * np.pi * 440 * np.arange(2000) / 8000)
    ).astype(np.int16).reshape(-1, 1)
    rng = np.random.RandomState(0)
    frames = [
        encode_jpeg(rng.randint(0, 256, size=(16, 16, 3)).astype("uint8"))
        for _ in range(3)
    ]
    audio = to_media_table(
        spark.createDataFrame(
            pd.DataFrame({"media_id": [0, 1], "payload": [
                encode_wav(tone, 8000), encode_wav(tone * 2, 8000)
            ]})
        ),
        "media_id", "payload", source="t",
    )
    video = to_media_table(
        spark.createDataFrame(
            pd.DataFrame({"media_id": [0, 1], "payload": [
                build_mjpeg_avi(frames, 16, 16, fps=10.0),
                build_mjpeg_avi(frames, 16, 16, fps=30.0),
            ]})
        ),
        "media_id", "payload", source="t",
    )
    for pairs in (fp_dup_pairs(audio, AUDIO), fp_dup_pairs(video, VIDEO)):
        plan = _explain(pairs)
        assert "payload" not in plan  # lineage truncated at (id, hash)
        assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
        # pigeonhole bucket equi-join on (band, val) — shuffled at
        # scale, broadcast for this tiny fixture; either way the keys
        # are the band slices, never payload bytes
        assert "hashpartitioning(band" in plan or "[band" in plan
        assert "ExistingRDD" in plan  # the materialize() checkpoint


def test_dyadic_rank_sketch_partial_agg_never_ships_values(spark, sf_dir):
    """The quantile sketch's exchange must carry partially-aggregated
    cells (<= (levels+1)*width*depth rows per map task), not the
    exploded (value, level) stream — the hll_registers/cms_sketch
    family contract."""
    from pyspark.sql import functions as F

    from hospital_stain_tracker_data_pipeline_spark.operators.sketch import (
        dyadic_rank_sketch,
    )

    lens = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.length("text").alias("len")
    )
    plan = _explain(dyadic_rank_sketch(lens, "len", levels=12))
    assert "partial_count" in plan
    assert plan.count("HashAggregate") >= 2
    assert "hashpartitioning(lvl" in plan  # cells shuffle, values never
