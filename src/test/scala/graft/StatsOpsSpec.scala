package graft

import org.apache.spark.sql.functions._
import graft.ops.StatsOps

/** Data-skipping invariants: the footer-only stats index must agree with a
  * full data scan, pruning must drop files without changing results, and
  * unusable stats must fail open (keep the file).
  */
class StatsOpsSpec extends SparkTestBase {

  private lazy val work = {
    val dir = s"target/tmp_stats_spec_${java.lang.ProcessHandle.current.pid}"
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.read.parquet(s"$sf/lineitem.parquet")
      .repartitionByRange(6, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("footerStats matches a full data scan (rows, min, max)") {
    val stats = StatsOps.footerStats(spark, work, "l_shipdate")
    val table = spark.read.parquet(work)
    assert(stats.agg(sum("row_count")).head.getLong(0) == table.count())
    // per-file scan-derived min/max in epoch micros must equal footer stats
    // input_file_name() renders file:///…, Hadoop Path file:/… — join on
    // the (unique) part-file basename
    val base = (c: org.apache.spark.sql.Column) =>
      element_at(split(c, "/"), -1).as("base")
    val scanned = table
      .groupBy(input_file_name().as("file"))
      .agg(
        unix_micros(min(col("l_shipdate")).cast("timestamp"))
          .cast("double").as("s_min"),
        unix_micros(max(col("l_shipdate")).cast("timestamp"))
          .cast("double").as("s_max"),
        count(lit(1)).as("s_rows"))
    val joined = stats.withColumn("base", base(col("file")))
      .join(scanned.withColumn("base", base(col("file"))).drop("file"), "base")
    assert(joined.count() == stats.count(), "file sets differ")
    val bad = joined.filter(
      col("col_min") =!= col("s_min") || col("col_max") =!= col("s_max") ||
      col("row_count") =!= col("s_rows"))
    assert(bad.isEmpty, s"footer/scan stats disagree on ${bad.count()} files")
  }

  test("prunedScan drops files and preserves the filtered result exactly") {
    val loD = "1995-03-01"; val hiD = "1995-07-01"
    val lo = java.time.LocalDate.parse(loD).atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.toEpochMilli * 1000.0
    val hi = java.time.LocalDate.parse(hiD).atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.toEpochMilli * 1000.0
    val (pruned, kept, total) = StatsOps.prunedScan(spark, work, "l_shipdate", lo, hi)
    assert(kept < total, s"no files pruned ($kept of $total kept)")
    assert(kept > 0)
    val pred = (d: org.apache.spark.sql.DataFrame) => d.filter(
      col("l_shipdate") >= lit(loD).cast("timestamp") &&
      col("l_shipdate") < lit(hiD).cast("timestamp"))
    val a = pred(pruned)
    val b = pred(spark.read.parquet(work))
    assert(a.count() == b.count() && a.exceptAll(b).isEmpty)
  }

  test("qPrunedScanRule matches qPrunedScan and scans fewer files via the rule") {
    val byCall = StatsOps.qPrunedScan(spark, sf).collect().toSeq
    val byRule = StatsOps.qPrunedScanRule(spark, sf).collect().toSeq
    assert(byRule == byCall, s"rule face diverges:\n$byRule\nvs\n$byCall")
    // the rule (not the opt-in call) must have shrunk the plain scan's
    // file list: compare against the same plan with the index dropped
    val work = StatsOps.stagedShipdateLayout(spark, sf)
    def scannedFiles(): Long = {
      val df = StatsOps.qPrunedScanRule(spark, sf)
      // sparkPlan, not executedPlan: AQE wraps the tree and hides the scan
      df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length.toLong
      }.sum
    }
    val prunedFiles = scannedFiles()
    graft.plans.StatsPruneRule.unregisterIndex(work)
    try {
      val fullFiles = spark.read.parquet(work).inputFiles.length.toLong
      assert(prunedFiles < fullFiles,
        s"rule did not prune: $prunedFiles of $fullFiles files")
      assert(prunedFiles > 0)
    } finally {
      graft.plans.StatsPruneRule.registerIndex(spark, work, "l_shipdate"): Unit
    }
  }

  test("q_pruned_scan leaves the session's parquet timestamp type as it was") {
    // a fresh sf dir keys a fresh staged layout, so the staging write runs
    val fresh = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "stats_conf").toFile
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/lineitem.parquet"),
      new java.io.File(fresh, "lineitem.parquet").toPath)
    val staged = graft.ops.ArtifactStore.path(
      "stats_scan", fresh.toString, "lineitem", "shipdate-v1")
    val key = "spark.sql.parquet.outputTimestampType"
    val prior = spark.conf.get(key)
    try {
      spark.conf.set(key, "TIMESTAMP_MILLIS")
      StatsOps.qPrunedScan(spark, fresh.toString).collect()
      assert(new java.io.File(staged).isDirectory, "layout was not staged")
      assert(spark.conf.get(key) == "TIMESTAMP_MILLIS")
    } finally {
      spark.conf.set(key, prior)
      Seq(staged, fresh.toString).foreach(d =>
        graft.ops.VectorOps.deleteRecursively(new java.io.File(d)))
    }
  }

  test("unusable stats fail open: string column prunes nothing") {
    val stats = StatsOps.footerStats(spark, work, "l_returnflag")
    // binary stats are rejected (non-numeric), so min/max must be null...
    assert(stats.filter(col("col_min").isNotNull).isEmpty)
    // ...and a pruned scan over that column keeps every file
    val (_, kept, total) = StatsOps.prunedScan(spark, work, "l_returnflag", 0.0, 1.0)
    assert(kept == total)
  }
}
