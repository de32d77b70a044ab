package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftListenerBridge}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import graft.ops.{ArtifactStore, CatalogOps, Tables, VectorOps}
import graft.pipeline.{IngestionPipeline, QueryPipeline}
import graft.planner.PlannerHooks.SqlGenerator

/** `Tables.open` reads a dataset's schema from one footer on the driver.
  * Every case pins it to `spark.read.parquet`'s own inference: the same
  * schema and the same rows, and the same exception where it falls back. */
class OpenParquetSpec extends SparkTestBase with BeforeAndAfterAll {

  private lazy val work =
    Files.createTempDirectory(Paths.get("target"), "open_parquet").toFile

  override def afterAll(): Unit = {
    VectorOps.deleteRecursively(work)
    super.afterAll()
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Same schema and rows as inference; `footer` says whether `Tables.open`
    * must get there from the footer alone, without a Spark job. */
  private def assertParity(footer: Boolean, paths: String*): Unit = {
    val what = paths.mkString(", ")
    val (opened, jobs) = jobsDuring(Tables.open(spark, paths: _*))
    val inferred = spark.read.parquet(paths: _*)
    assert((jobs == 0) == footer, s"$jobs jobs opening $what")
    assert(opened.schema == inferred.schema, s"schema of $what")
    assert(rows(opened) == rows(inferred), s"rows of $what")
  }

  /** Jobs submitted while `f` runs, counted once the listener bus drains. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = f
      GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
      (r, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private val nineTables = Seq("customer", "documents", "embeddings", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  test("every sf0.001 table, events included, opens with the inferred schema and rows") {
    Tables.events(spark, sf) // sets nanosAsLong, as every events read does
    (nineTables :+ "events").foreach(n => assertParity(footer = true, s"$sf/$n.parquet"))
    assertParity(footer = true, s"$sf/customer.parquet", s"$sf/customer.parquet")
  }

  test("CSV, TSV, JSON and Parquet inputs and their chunk collections open alike") {
    import spark.implicits._
    val in = new File(work, "ingest_in")
    in.mkdirs()
    Files.writeString(new File(in, "accounts.csv").toPath,
      "Acct Id,Name,Balance\n1,ann,10.5\n2,bob,-3.25\n")
    Files.writeString(new File(in, "trades.tsv").toPath,
      "trade_id\tqty\tsymbol\n7\t100\tABC\n8\t50\tXYZ\n")
    Files.writeString(new File(in, "visits.json").toPath,
      """[{"id": 1, "kind": "open", "at": "2024-01-02"},
        | {"id": 2, "kind": "close", "at": "2024-01-03"}]""".stripMargin)
    Seq((1L, "north", BigDecimal("1.50")), (2L, "south", BigDecimal("2.75")))
      .toDF("region_id", "name", "rate")
      .coalesce(1).write.parquet(new File(in, "regions.parquet").toString)
    val inputs = Seq("accounts.csv", "trades.tsv", "visits.json", "regions.parquet")
      .map(n => new File(in, n).getAbsolutePath)
    val out = new File(work, "ingest_out").toString
    val res = IngestionPipeline.run(spark, inputs, out, resume = false)
    assert(res.failed.isEmpty, s"unexpected failures: ${res.failed}")
    assert(res.files.map(_.table).sorted == Seq("accounts", "regions", "trades", "visits"))
    res.files.foreach { f =>
      assertParity(footer = true, f.parquetPath)
      assertParity(footer = true, s"$out/collections/data_source_${f.table}.parquet")
    }
  }

  test("_SUCCESS and _GRAFT_OK markers are skipped") {
    val dir = new File(work, "marked")
    spark.range(5).withColumn("s", col("id").cast("string")).write.parquet(dir.toString)
    ArtifactStore.commit(dir)
    assert(new File(dir, "_SUCCESS").exists && ArtifactStore.isCommitted(dir))
    assertParity(footer = true, dir.toString)
  }

  test("an append directory whose two files differ in schema takes the first by path") {
    val dir = new File(work, "appended").toString
    spark.range(3).select(col("id"), lit("a").as("tag"))
      .coalesce(1).write.parquet(dir)
    spark.range(3, 6).select(col("id"), (col("id") * 2).as("twice"))
      .coalesce(1).write.mode("append").parquet(dir)
    val files = new File(dir).listFiles.map(_.getName)
      .filter(_.endsWith(".parquet")).sorted
    assert(files.length == 2)
    assertParity(footer = true, dir)
    assert(Tables.open(spark, dir).schema ==
      spark.read.parquet(s"$dir/${files.head}").schema)
  }

  test("INT96, TIMESTAMP_MICROS, TIMESTAMP_NTZ and decimal columns keep their types") {
    // written by Spark: the footer carries Spark's own schema
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try Seq("INT96", "TIMESTAMP_MICROS").foreach { tsType =>
      spark.conf.set("spark.sql.parquet.outputTimestampType", tsType)
      val dir = new File(work, s"spark_$tsType").toString
      spark.sql("""SELECT TIMESTAMP'2024-01-02 03:04:05.123456' AS ts,
        TIMESTAMP_NTZ'2024-01-02 03:04:05.123456' AS ntz,
        CAST(12.34 AS DECIMAL(9, 2)) AS d9, CAST(5.5 AS DECIMAL(18, 3)) AS d18,
        CAST(1234567890.123456789 AS DECIMAL(38, 9)) AS d38""").write.parquet(dir)
      assertParity(footer = true, dir)
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)

    // written without Spark's schema: the parquet types go through the
    // session's converter settings
    val raw = new File(work, "raw_types")
    raw.mkdirs()
    val schema = MessageTypeParser.parseMessageType("""message m {
      required int96 t96;
      required int64 tmicros (TIMESTAMP(MICROS, true));
      required int64 tntz (TIMESTAMP(MICROS, false));
      required int32 d9 (DECIMAL(9, 2));
      required int64 d18 (DECIMAL(18, 3));
      required fixed_len_byte_array(16) d38 (DECIMAL(38, 9));
    }""")
    val writer = ExampleParquetWriter.builder(new Path(new File(raw, "part-0.parquet").toString))
      .withType(schema).build()
    try (0 until 3).foreach { i =>
      // INT96: nanos of day then Julian day, both little-endian
      val t96 = java.nio.ByteBuffer.allocate(12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putLong(3723000000000L + i).putInt(2460312 + i).array()
      val d38 = java.math.BigInteger.valueOf(1234567890123456789L + i).toByteArray
      writer.write(new SimpleGroupFactory(schema).newGroup()
        .append("t96", Binary.fromConstantByteArray(t96))
        .append("tmicros", 1704164645123456L + i)
        .append("tntz", 1704164645123456L + i)
        .append("d9", 1234 + i)
        .append("d18", 5500L + i)
        .append("d38", Binary.fromConstantByteArray(
          Array.fill[Byte](16 - d38.length)(0) ++ d38)))
    } finally writer.close()
    assertParity(footer = true, raw.toString)
    val types = Tables.open(spark, raw.toString).schema.map(_.dataType.simpleString)
    assert(types == Seq("timestamp", "timestamp", "timestamp_ntz",
      "decimal(9,2)", "decimal(18,3)", "decimal(38,9)"))
  }

  test("a Hive-partitioned directory and a glob fall back and keep Spark's schema") {
    val dir = new File(work, "partitioned").toString
    spark.range(6).select(col("id"), (col("id") % 2).as("k"))
      .write.partitionBy("k").parquet(dir)
    assertParity(footer = false, dir)
    assert(Tables.open(spark, dir).columns.toSeq == Seq("id", "k"))
    assertParity(footer = false, s"$sf/nat*.parquet")
  }

  test("a missing path and an empty directory fail like spark.read.parquet") {
    def failure(f: => DataFrame): Class[_] = intercept[Exception](f).getClass
    val empty = new File(work, "empty")
    empty.mkdirs()
    Seq(new File(work, "absent").toString, empty.toString).foreach { p =>
      assert(failure(Tables.open(spark, p)) == failure(spark.read.parquet(p)), p)
    }
  }

  test("opening nine tables submits no Spark job") {
    val (dfs, jobs) = jobsDuring(nineTables.map(n => Tables.open(spark, s"$sf/$n.parquet")))
    assert(dfs.size == 9)
    assert(jobs == 0)
  }

  test("QueryPipeline.run submits as many jobs over 3 catalog tables as over 9") {
    object CountNation extends SqlGenerator {
      def generate(q: String, c: String): Option[String] =
        Some("SELECT count(*) AS n FROM nation")
    }
    val entries = nineTables.map(CatalogOps.profileTable(spark, sf, _))
    def jobsOver(catalog: Seq[CatalogOps.TableEntry]): Int = {
      val (ans, jobs) = jobsDuring(QueryPipeline.run(spark, "how many nations",
        catalog, QueryPipeline.Hooks(sqlGen = CountNation)))
      assert(ans.subResults.map(_.error) == Seq(None))
      jobs
    }
    val three = entries.filter(e => Set("customer", "nation", "region")(e.logicalName))
    jobsOver(three) // compiles the plan shape once
    assert(jobsOver(three) == jobsOver(entries))
  }
}
