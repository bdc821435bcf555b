package graft.engine

import java.io.ByteArrayOutputStream
import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.scalatest.funsuite.AnyFunSuite

/** The encoders' bodies against `collect()` of the same query, compared
  * as ORDERED sequences (the benchmark's digests ignore row order, so
  * only these cases check it), plus the number of Spark jobs a request
  * runs. The test context is `local[4]`: one result wave is 4
  * partitions, and each file of a small parquet table is one partition. */
class ResultEncodersSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = graft.TestSpark.session()
    val dir = Files.createTempDirectory("graft-encoders").toString
    // 40 rows: nullable int key, NaN / -0.0 / 0.0 / null doubles,
    // timestamps, decimals, and strings CSV has to quote
    val select =
      """SELECT id,
        |  CASE WHEN id % 5 = 0 THEN NULL ELSE CAST(id % 7 AS INT) END AS k,
        |  CASE id % 6 WHEN 0 THEN CAST('NaN' AS DOUBLE) WHEN 1 THEN CAST(-0.0 AS DOUBLE)
        |    WHEN 2 THEN CAST(0.0 AS DOUBLE) WHEN 3 THEN NULL ELSE id * 1.5 - 20 END AS d,
        |  timestamp_seconds(1700000000 + id * 3600 * (id % 3 - 1)) AS ts,
        |  CAST((id * 37 % 100) / 4.0 - 10 AS DECIMAL(10,2)) AS dec,
        |  CASE id % 4 WHEN 0 THEN concat('a,', id) WHEN 1 THEN concat('q"', id)
        |    WHEN 2 THEN NULL ELSE concat('line\n', id) END AS s
        |FROM """.stripMargin
    s.sql(select + "range(40)").repartition(4).write.parquet(s"$dir/t")
    s.read.parquet(s"$dir/t").createOrReplaceTempView("t")
    // the same rows over 12 partitions: three waves
    s.sql(s"CREATE TEMP VIEW t12 AS ${select}range(0, 40, 1, 12)")
    s
  }

  private def json(df: DataFrame): String = {
    val b = new ByteArrayOutputStream()
    ResultEncoders.writeJson(df, b)
    b.toString("UTF-8")
  }
  private def csv(df: DataFrame): String = {
    val b = new ByteArrayOutputStream()
    ResultEncoders.writeCsv(df, b)
    b.toString("UTF-8")
  }

  private def expectedJson(df: DataFrame): String =
    if (df.schema.isEmpty) Seq.fill(df.collect().length)("{}").mkString("[", ",", "]")
    else df.select(to_json(struct(df.columns.map(n => col(s"`$n`")).toIndexedSeq: _*),
      java.util.Map.of("ignoreNullFields", "false"))).collect().map(_.getString(0)).mkString("[", ",", "]")

  private def quote(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r')) "\"" + s.replace("\"", "\"\"") + "\""
    else s
  private def expectedCsv(df: DataFrame): String = {
    val rows = df.select(df.columns.map(n => col(s"`$n`").cast("string")).toIndexedSeq: _*).collect()
    (df.columns.map(quote).mkString(",") +: rows.map(r =>
      (0 until r.length).map(i => if (r.isNullAt(i)) "null" else quote(r.getString(i))).mkString(",")))
      .map(_ + "\n").mkString
  }

  private def assertServedInOrder(df: DataFrame): Unit = {
    assert(json(df) == expectedJson(df))
    assert(csv(df) == expectedCsv(df))
  }

  /** Spark jobs `body` runs in its own job group. A barrier job in a
    * second group is started after it: the listener bus delivers in
    * order, so once the barrier's start arrives every earlier job has
    * been counted. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"encoders-${UUID.randomUUID}"
    val barrier = s"$group-barrier"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => jobs.incrementAndGet()
          case `barrier` => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "encoder under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(barrier, "listener barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS))
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("ORDER BY ascending and descending, nulls first and last, serve in collect() order") {
    for (q <- Seq(
      "SELECT * FROM t ORDER BY k, id",
      "SELECT * FROM t ORDER BY k DESC, id DESC",
      "SELECT * FROM t ORDER BY k ASC NULLS LAST, id",
      "SELECT * FROM t ORDER BY k DESC NULLS FIRST, id"))
      withClue(q)(assertServedInOrder(spark.sql(q)))
  }

  test("ORDER BY doubles with NaN and -0.0, timestamps and decimals") {
    for (q <- Seq(
      "SELECT * FROM t ORDER BY d, id",
      "SELECT * FROM t ORDER BY d DESC NULLS LAST, id",
      "SELECT * FROM t ORDER BY ts DESC, id",
      "SELECT id, dec, ts FROM t ORDER BY dec, id"))
      withClue(q)(assertServedInOrder(spark.sql(q)))
  }

  test("ORDER BY a key that is not selected, an expression key, and under a CTE") {
    for (q <- Seq(
      "SELECT id, s FROM t ORDER BY k DESC, id",
      "SELECT id, k FROM t ORDER BY coalesce(k, 9) * 100 - id",
      "WITH c AS (SELECT id, k, s FROM t WHERE id > 3) SELECT s, id FROM c ORDER BY k NULLS LAST, id DESC"))
      withClue(q)(assertServedInOrder(spark.sql(q)))
  }

  test("ORDER BY over more partitions than one wave keeps the range sort; fewer merge in one job") {
    val wide = spark.sql("SELECT * FROM t12 ORDER BY d DESC, id")
    assert(spark.table("t12").rdd.getNumPartitions > spark.sparkContext.defaultParallelism)
    assertServedInOrder(wide)
    assert(jobsOf(json(wide)) > 1) // RangePartitioner sampling + shuffle + result
    for (q <- Seq("SELECT * FROM t ORDER BY d DESC, id",
      "WITH c AS (SELECT id, k FROM t WHERE id > 3) SELECT id FROM c ORDER BY k NULLS LAST, id DESC")) {
      val narrow = spark.sql(q)
      assertServedInOrder(narrow)
      assert(jobsOf(json(narrow)) == 1, q)
    }
  }

  test("empty and zero-column results") {
    assertServedInOrder(spark.sql("SELECT * FROM t WHERE id < 0 ORDER BY id"))
    assert(json(spark.sql("SELECT * FROM t WHERE id < 0")) == "[]")
    val zeroCols = spark.table("t").orderBy("id").select()
    assertServedInOrder(zeroCols)
    assert(json(zeroCols) == Seq.fill(40)("{}").mkString("[", ",", "]"))
    assert(csv(zeroCols) == "\n" * 41)
  }

  test("job counts: a 4-file scan is one job, ORDER BY over an aggregate or a broadcast join at most two") {
    val scan = spark.sql("SELECT * FROM t WHERE id % 3 = 0")
    assert(jobsOf(json(scan)) == 1)
    assertServedInOrder(scan)
    val agg = spark.sql("SELECT k, count(*) AS n, sum(dec) AS total FROM t GROUP BY k ORDER BY n DESC, k")
    assert(jobsOf(json(agg)) <= 2)
    assertServedInOrder(agg)
    // a broadcast join keeps its streamed side's partitions: the
    // broadcast, then one merged job
    val joined = spark.sql(
      "SELECT t.id, u.s FROM t JOIN (SELECT id, s FROM t WHERE id < 9) u ON t.id = u.id ORDER BY t.id DESC")
    assert(jobsOf(json(joined)) <= 2)
    assertServedInOrder(joined)
    val values = spark.sql("SELECT * FROM VALUES (3, 'c'), (1, 'a'), (2, 'b') AS v(a, b) ORDER BY a DESC")
    assert(jobsOf(json(values)) == 1)
    assertServedInOrder(values)
  }
}
