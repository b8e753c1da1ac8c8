"""Checkpoint read path: parquet-backend reads launch no Spark job once a
table round has been written in this process, and read with the schema
Spark's own inference would pick."""

import os

from pyspark.sql import functions as F

from fraudcrawler_spark.frontier.checkpoint import CrawlState


def _jobs_during(spark, group: str, fn):
    """(fn(), jobs Spark ran under ``group`` while fn ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _urls(df) -> list:
    return sorted(r["url"] for r in df.collect())


def test_reads_launch_no_job_after_write(spark, tmp_path):
    root = str(tmp_path / "state")
    state = CrawlState(spark, root)
    if state.backend.name != "parquet":
        return  # the Iceberg backend reads catalog tables, no inference
    state.write("t", 0, spark.range(3).select(
        F.col("id").cast("string").alias("url")), ncoalesce=1)
    state.write("t", 1, spark.range(3, 5).select(
        F.col("id").cast("string").alias("url")), ncoalesce=1)

    (one, all_), n = _jobs_during(
        spark, "test-read-no-job",
        lambda: (state.read("t", 1), state.read_all("t", 1)),
    )
    assert n == 0
    assert _urls(one) == ["3", "4"]
    assert _urls(all_) == ["0", "1", "2", "3", "4"]

    # a fresh state on the same root (a resume) infers once, reads the
    # same rows and schema, and launches no job on later reads
    fresh = CrawlState(spark, root)
    assert fresh.read_all("t", 1).schema == all_.schema
    assert _urls(fresh.read_all("t", 1)) == _urls(all_)
    _, n = _jobs_during(spark, "test-read-no-job-resumed",
                        lambda: fresh.read_all("t", 1))
    assert n == 0


def test_schema_change_between_rounds_reads_as_spark_infers(spark, tmp_path):
    """A table whose rounds differ in schema (an older state whose seen
    rounds predate claim_round) reads with the schema of the FIRST round a
    read covers — exactly what plain spark.read.parquet infers — so the
    crawl's ``"claim_round" in columns`` checks see what they always saw."""
    root = str(tmp_path / "state")
    state = CrawlState(spark, root)
    if state.backend.name != "parquet":
        return
    urls = spark.range(3).select(F.col("id").cast("string").alias("url"))
    state.write("seen", 0, urls, ncoalesce=1)
    state.write("seen", 1, urls.withColumn("claim_round", F.lit(1)),
                ncoalesce=1)
    state.write("later", 0, urls.withColumn("claim_round", F.lit(0)),
                ncoalesce=1)
    state.write("later", 1, urls, ncoalesce=1)

    def paths(table):
        return [os.path.join(root, table, f"round={r:05d}") for r in (0, 1)]

    for st in (state, CrawlState(spark, root)):
        for table in ("seen", "later"):
            inferred = spark.read.parquet(*paths(table))
            got = st.read_all(table, 1)
            assert got.schema == inferred.schema
            assert got.count() == 6
            assert st.read("seen", 1).columns == ["url", "claim_round"]
        assert st.read_all("seen", 1).columns == ["url"]
        assert st.read_all("later", 1).columns == ["url", "claim_round"]
