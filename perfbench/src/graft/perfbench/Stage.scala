package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.core.Json
import graft.store.{MetaStore, TableCatalog}
import java.io.File
import java.math.MathContext
import java.nio.file.{Files, StandardCopyOption}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import scala.jdk.CollectionConverters._

/** What staging leaves behind: tenant ids, API keys, point-lookup keys,
  * staged row counts and the expected answer of every exact check. */
final case class Staged(tenantIds: Seq[String], keys: Seq[String],
                        pointKeys: Map[Int, Seq[Long]], stagedRows: Map[(String, String), Long],
                        stagedBytes: Long, expected: Map[String, String]) {
  def toJson: String = {
    val o = Json.obj()
    val ids = o.putArray("tenantIds"); tenantIds.foreach(ids.add)
    val ks = o.putArray("keys"); keys.foreach(ks.add)
    val pk = o.putObject("pointKeys")
    pointKeys.foreach { case (i, v) => val a = pk.putArray(i.toString); v.foreach(a.add(_)) }
    val sr = o.putArray("stagedRows")
    stagedRows.foreach { case ((db, t), n) => sr.addObject().put("db", db).put("table", t).put("rows", n) }
    o.put("stagedBytes", stagedBytes)
    val ex = o.putObject("expected"); expected.foreach { case (k, v) => ex.put(k, v) }
    Json.write(o)
  }
}

object Staged {
  def fromJson(s: String): Staged = {
    val o = Json.parse(s).get
    def strs(n: JsonNode) = n.elements().asScala.map(_.asText).toSeq
    Staged(strs(o.get("tenantIds")), strs(o.get("keys")),
      o.get("pointKeys").fields().asScala.map(e =>
        e.getKey.toInt -> e.getValue.elements().asScala.map(_.asLong).toSeq).toMap,
      o.get("stagedRows").elements().asScala.map(r =>
        (r.get("db").asText, r.get("table").asText) -> r.get("rows").asLong).toMap,
      o.get("stagedBytes").asLong,
      o.get("expected").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap)
  }
}

/** Synthetic data, staged into a tenant catalog the way the server
  * finds it on disk, plus the expected answers computed by plain Spark
  * over the source parquet. The data is a fixed function of
  * [[DataSeed]] (the run's seed drives the request schedule), so it is
  * built once per checkout into a cache and copied for each set-up. */
object Stage {
  val DataSeed = 20240101L

  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.core.SessionDefaults.ExtensionsKey, graft.core.SessionDefaults.ExtensionsClass)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def h(seed: Long, salt: String): Column =
    xxhash64(col("id"), lit(seed), lit(salt))
  private type Column = org.apache.spark.sql.Column
  private def pick(seed: Long, salt: String, values: String*): Column =
    element_at(array(values.map(lit): _*), (pmod(h(seed, salt), lit(values.size.toLong)) + 1).cast("int"))

  /** One seeded table at `scale` (row counts are [[Workloads.BaseRows]]
    * times scale). Every table carries a unique `__row_id`. */
  def generate(spark: SparkSession, table: String, scale: Double, seed: Long): DataFrame = {
    def rows(t: String) = rowCount(t, scale)
    val base = table match {
      case "events" =>
        val n = rows("events")
        spark.range(n).select(
          col("id").as("event_id"),
          timestamp_seconds(lit(1704067200L) + col("id") * 7 + pmod(h(seed, "ts"), lit(5L))).as("ts"),
          pmod(h(seed, "u"), lit(math.max(10L, n / 20))).as("user_id"),
          pick(seed, "t", "view", "click", "cart", "purchase", "error", "signup").as("event_type"),
          (pmod(h(seed, "v"), lit(100000L)) / 100.0).as("value"),
          concat(lit("{\"k\": "), pmod(h(seed, "k"), lit(100L)).cast("string"), lit("}")).as("props"))
      case "orders" =>
        val n = rows("orders")
        spark.range(n).select(
          col("id").as("o_orderkey"),
          pmod(h(seed, "c"), lit(math.max(10L, n / 10))).as("o_custkey"),
          pick(seed, "s", "O", "F", "P").as("o_orderstatus"),
          (pmod(h(seed, "p"), lit(50000000L)) / 100.0).as("o_totalprice"),
          date_add(lit("1992-01-01").cast("date"), pmod(h(seed, "d"), lit(2400L)).cast("int"))
            .cast("timestamp").as("o_orderdate"),
          pick(seed, "pr", "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
            .as("o_orderpriority"))
      case "lineitem" =>
        val n = rows("lineitem")
        val qty = (pmod(h(seed, "q"), lit(50L)) + 1).cast("double")
        spark.range(n).select(
          (col("id") / 4).cast("long").as("l_orderkey"),
          pmod(h(seed, "pk"), lit(20000L)).as("l_partkey"),
          pmod(h(seed, "sk"), lit(1000L)).as("l_suppkey"),
          (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
          qty.as("l_quantity"),
          round(qty * (lit(900) + pmod(h(seed, "e"), lit(1000L))), 2).as("l_extendedprice"),
          (pmod(h(seed, "di"), lit(11L)) / 100.0).as("l_discount"),
          (pmod(h(seed, "tx"), lit(9L)) / 100.0).as("l_tax"),
          pick(seed, "rf", "A", "N", "R").as("l_returnflag"),
          pick(seed, "ls", "O", "F").as("l_linestatus"),
          date_add(lit("1992-01-01").cast("date"), pmod(h(seed, "sd"), lit(2500L)).cast("int"))
            .cast("timestamp").as("l_shipdate"))
      case "documents" =>
        // every tenth document is a one-word edit of its predecessor,
        // so near-duplicate detection has real pairs to find
        val n = rows("documents")
        val src = when(pmod(col("id"), lit(10L)) === 9, col("id") - 1).otherwise(col("id"))
        val len = (lit(20L) + pmod(xxhash64(src, lit(seed), lit("len")), lit(40L))).cast("int")
        val words = transform(sequence(lit(1), len), k =>
          when(k === 5 && src =!= col("id"), lit("edited"))
            .otherwise(concat(lit("w"), pmod(xxhash64(src, k, lit(seed)), lit(300L)).cast("string"))))
        spark.range(n).select(col("id").as("doc_id"), array_join(words, " ").as("text"),
          pick(seed, "lg", "en", "de", "fr", "zh").as("lang"),
          concat(lit("src"), pmod(h(seed, "so"), lit(5L)).cast("string")).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "nation" =>
        spark.range(25).select(col("id").as("n_nationkey"),
          concat(lit("NATION"), col("id").cast("string")).as("n_name"),
          (col("id") % 5).as("n_regionkey"))
      case "region" =>
        spark.range(5).select(col("id").as("r_regionkey"),
          concat(lit("REGION"), col("id").cast("string")).as("r_name"))
      case _ =>
        // ingest targets start with one marker row so `batch` resolves
        // before the first insert lands
        spark.range(1).select(lit(-1L).as("batch"), lit(0L).as("seq"),
          lit("seed").as("kind"), lit(0.0).as("val"))
    }
    base.withColumn("__row_id", monotonically_increasing_id() + lit(1L << 40))
  }

  def rowCount(table: String, scale: Double): Long = table match {
    case "nation" => 25
    case "region" => 5
    case t if Workloads.BaseRows.contains(t) => math.max(20L, (Workloads.BaseRows(t) * scale).toLong)
    case _ => 1
  }

  /** Stage seeded tables through the catalog's own append into
    * `<dataDir>/tables` (the staged batch is the source parquet the
    * expectations read), and mint tenants 2..n with keys in the
    * metadata store the server loads at boot. */
  private def build(spark: SparkSession, w: Workload, seed: Long, dataDir: File): Staged = {
    val catalog = new TableCatalog(new File(dataDir, "tables").getAbsolutePath)
    val meta = new MetaStore(dataDir.getAbsolutePath, reservedIds = Set(1L))
    val ids = w.tenants.indices.map { i =>
      if (i == 0) "1" else meta.createDestination("spark", s"perfbench$i").id.toString
    }
    val keys = ids.map(id => if (id == "1") Main.StaticKey else meta.addKey(id))
    var stagedRows = Map.empty[(String, String), Long]
    w.tenants.zipWithIndex.foreach { case ((scale, tables), i) =>
      tables.foreach { t =>
        catalog.append(spark, ids(i), t, generate(spark, t, scale, seed * 31 + i), Some("stage"))
        stagedRows += (ids(i), t) -> rowCount(t, scale)
      }
    }
    val pointKeys = w.tenants.indices.map { i =>
      i -> (if (w.tenants(i)._2.contains("orders")) {
        val n = stagedRows((ids(i), "orders"))
        val r = new scala.util.Random(seed + i)
        Seq.fill(16)(r.nextLong().abs % n)
      } else Seq.empty)
    }.toMap
    val st = Staged(ids, keys, pointKeys, stagedRows,
      w.ingestTables.toSeq.flatMap { case (i, ts) => ts.map(t => dirBytes(tableDir(dataDir, ids(i), t))) }.sum,
      Map.empty)
    st.copy(expected = expectations(spark, w, dataDir, st, Workloads.universe(w, pointKeys)))
  }

  /** The staged template for `w` under `cache`, built on first use with
    * `spark` (the template directory appears atomically when complete). */
  def template(w: Workload, cache: File, spark: => SparkSession): (File, Staged) = {
    val dir = new File(cache, w.name)
    val ready = new File(dir, "staged.json")
    if (!ready.exists()) {
      val tmp = new File(cache, s"${w.name}.tmp")
      deleteRecursive(tmp)
      tmp.mkdirs()
      val st = build(spark, w, DataSeed, new File(tmp, "data"))
      Files.writeString(new File(tmp, "staged.json").toPath, st.toJson)
      deleteRecursive(dir)
      Files.move(tmp.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
    }
    (new File(dir, "data"), Staged.fromJson(Files.readString(ready.toPath)))
  }

  /** Staging proper: a fresh copy of the template's data directory. */
  def copyTree(from: File, to: File): Unit = {
    val src = from.toPath
    Files.walk(src).iterator().asScala.foreach { p =>
      val dest = to.toPath.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dest)
      else Files.copy(p, dest, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def deleteRecursive(f: File): Unit = if (f.exists()) {
    Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
      .foreach(p => Files.deleteIfExists(p))
  }

  /** The staged batch of a table: the source parquet of its expected
    * answers. */
  def src(dataDir: File, db: String, table: String): String =
    new File(tableDir(dataDir, db, table), "batch-stage").getAbsolutePath

  def tableDir(dataDir: File, db: String, table: String): File =
    new File(dataDir, s"tables/$db/$table/data")

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) (if (f.getName.endsWith(".parquet")) f.length() else 0L)
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(dirBytes).sum

  /** Expected answers for every exact check of the schedule: SQL by a
    * plain session over the source parquet, analytics by the in-process
    * operator over the same parquet. Both are digested from the collected
    * rows, not from the product's encoder, so an encoder bug shows as a
    * wrong answer. */
  private def expectations(spark: SparkSession, w: Workload, dataDir: File, st: Staged,
                           requests: Seq[Req]): Map[String, String] = {
    def plain(i: Int): SparkSession = {
      val s = spark.newSession()
      w.tenants(i)._2.foreach(t =>
        s.read.parquet(src(dataDir, st.tenantIds(i), t)).createOrReplaceTempView(t))
      s
    }
    val sessions = scala.collection.mutable.Map.empty[Int, SparkSession]
    def sess(i: Int) = sessions.getOrElseUpdate(i, plain(i))
    def idx(tenant: String) = tenant.stripPrefix("#").toInt
    val shareSql = w.shares.map { case (n, t, q) => n -> (t, q) }.toMap
    val out = scala.collection.mutable.Map.empty[String, String]
    requests.foreach {
      case QueryReq(tenant, sql, csv, Exact(key)) if !out.contains(key) =>
        val df = sess(idx(tenant)).sql(sql)
        out(key) = if (csv) Canon.csvHash(df) else Canon.jsonHash(df)
      case ShareReq(_, share, Exact(key)) if !out.contains(key) =>
        val (t, q) = shareSql(share)
        out(key) = Canon.jsonHash(sess(t).sql(q))
      case AnalyticsReq(tenant, op, body) =>
        val key = Canon.analyticsKey(tenant, body)
        if (!out.contains(key)) {
          val s = sess(idx(tenant))
          graft.functions.GraftFunctions.registerAll(s)
          val df = graft.api.Analytics.plan(s, t => s.table(t),
            _ => throw new IllegalStateException("no stores in this benchmark"),
            op, Json.parse(body).get)
          out(key) = Canon.jsonHash(df)
        }
      case _ => ()
    }
    out.toMap
  }
}

/** Canonical, order-insensitive digests of result bodies. Doubles are
  * compared at 9 significant digits, so a float sum that Spark adds up
  * in a different order still matches; timestamps as UTC instants. */
object Canon {
  private val mc = new MathContext(9)
  private val IsoInstant = """\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:\d{2})""".r

  def analyticsKey(tenant: String, body: String): String = s"analytics/$tenant/$body"

  private def number(d: Double): String =
    BigDecimal(d).round(mc).bigDecimal.stripTrailingZeros().toPlainString
  private def text(s: String): String = s match {
    case IsoInstant(_*) => java.time.OffsetDateTime.parse(s).toInstant.toString
    case _ => s
  }
  private def fields(kv: Iterable[(String, String)]): String =
    kv.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("{", ",", "}")

  /** A value of a served JSON body. */
  private def value(n: JsonNode): String =
    if (n == null || n.isNull) "null"
    else if (n.isIntegralNumber) n.bigIntegerValue().toString
    else if (n.isNumber) number(n.doubleValue())
    else if (n.isTextual) text(n.asText())
    else if (n.isBoolean) n.asText()
    else if (n.isArray) n.elements().asScala.map(value).mkString("[", ",", "]")
    else fields(n.fields().asScala.map(e => e.getKey -> value(e.getValue)).toSeq)

  /** The same canonical form, from a collected Spark value. */
  private def value(v: Any, t: DataType): String = (v, t) match {
    case (null, _) => "null"
    case (d: Double, _) => number(d)
    case (f: Float, _) => number(f.toDouble)
    case (d: java.math.BigDecimal, _) =>
      if (d.scale <= 0) d.toBigInteger.toString else number(d.doubleValue)
    case (ts: java.sql.Timestamp, _) => ts.toInstant.toString
    case (i: java.time.Instant, _) => i.toString
    case (s: String, _) => text(s)
    case (xs: scala.collection.Seq[_], ArrayType(et, _)) => xs.map(value(_, et)).mkString("[", ",", "]")
    case (m: scala.collection.Map[_, _], MapType(_, vt, _)) =>
      fields(m.map { case (k, x) => k.toString -> value(x, vt) })
    case (r: Row, st: StructType) => row(r, st)
    case (other, _) => other.toString
  }
  private def row(r: Row, st: StructType): String =
    fields(st.fields.zipWithIndex.map { case (f, i) => f.name -> value(r.get(i), f.dataType) })

  private def digest(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.sorted.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    s"${lines.size}:" + md.digest().map("%02x".format(_)).mkString
  }

  /** Digest of a response body, or "unparseable". */
  def bodyHash(body: Array[Byte], csv: Boolean): String =
    if (csv) {
      val lines = new String(body, StandardCharsets.UTF_8).split("\n").toSeq.filter(_.nonEmpty)
      digest(lines)
    } else Json.parse(new String(body, StandardCharsets.UTF_8)) match {
      case Some(arr) if arr.isArray => digest(arr.elements().asScala.map(value).toSeq)
      case _ => "unparseable"
    }

  /** The digest a JSON body holding `df`'s rows must have. */
  def jsonHash(df: DataFrame): String = digest(df.collect().toSeq.map(row(_, df.schema)))

  /** CSV digest built from Spark's own string casts, header first. */
  def csvHash(df: DataFrame): String = {
    val names = df.schema.fieldNames
    val rows = df.select(names.map(n => col(s"`$n`").cast("string")).toIndexedSeq: _*).collect()
      .map(r => names.indices.map(i => if (r.isNullAt(i)) "null" else r.getString(i)).mkString(","))
    digest(names.mkString(",") +: rows.toSeq)
  }

  /** Sum of the `n` fields of a JSON array body (row totals of a growing
    * table), or -1 when the body does not parse. */
  def countSum(body: Array[Byte]): Long =
    Json.parse(new String(body, StandardCharsets.UTF_8)) match {
      case Some(arr) if arr.isArray => arr.elements().asScala.map(_.path("n").asLong(0L)).sum
      case _ => -1L
    }
}
