package graft.perfbench

import graft.core.Json
import graft.engine.{QueryExecutor, QueryRejectedException, ResultEncoders}
import graft.store._
import java.io.{ByteArrayOutputStream, File, OutputStream}
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.util.control.NonFatal

final case class Resp(status: Int, body: Array[Byte]) {
  def ok: Boolean = status / 100 == 2
}

/** The four routes the schedule drives, either over HTTP against the
  * server process or in-process through each layer's public calls. */
trait Backend {
  def query(tenant: String, sql: String, csv: Boolean, probe: Boolean = false): Resp
  def share(uuid: String): Resp
  def insert(tenant: String, table: String, body: String, vertical: Boolean): Resp
  def analytics(tenant: String, op: String, body: String): Resp
  def createShare(tenant: String, sql: String): String
}

/** Tenant placeholders `#i` resolve to destination ids and keys. */
final class Tenants(st: Staged) {
  def index(t: String): Int = t.stripPrefix("#").toInt
  def db(t: String): String = st.tenantIds(index(t))
  def key(t: String): String = st.keys(index(t))
}

/** Blocking HTTP client; the JDK keeps one connection alive per calling
  * thread, so connections never exceed the generator's threads. */
final class HttpBackend(port: Int, tenants: Tenants) extends Backend {
  private val base = s"http://127.0.0.1:$port"

  def call(method: String, path: String, key: Option[String], body: Option[String]): Resp = {
    val c = URI.create(base + path).toURL.openConnection().asInstanceOf[HttpURLConnection]
    try {
      c.setRequestMethod(method)
      c.setConnectTimeout(10000)
      c.setReadTimeout(60000)
      key.foreach(c.setRequestProperty("X-API-KEY", _))
      body.foreach { b =>
        c.setDoOutput(true)
        val os = c.getOutputStream; os.write(b.getBytes(StandardCharsets.UTF_8)); os.close()
      }
      val code = c.getResponseCode
      val in = if (code >= 400) c.getErrorStream else c.getInputStream
      Resp(code, if (in == null) Array.emptyByteArray else try in.readAllBytes() finally in.close())
    } catch { case NonFatal(e) => Resp(599, String.valueOf(e.getMessage).getBytes(StandardCharsets.UTF_8)) }
  }

  private def enc(s: String) = URLEncoder.encode(s, "UTF-8")

  /** Dashboard SQL is POSTed; freshness and integrity probes use GET, so
    * the server's route histogram keeps them apart by method. */
  def query(tenant: String, sql: String, csv: Boolean, probe: Boolean): Resp = {
    val fmt = if (csv) "?format=csv" else ""
    if (probe) call("GET", s"/api/data/query?query=${enc(sql)}", Some(tenants.key(tenant)), None)
    else call("POST", s"/api/data/query$fmt", Some(tenants.key(tenant)), Some(sql))
  }
  def share(uuid: String): Resp = call("GET", s"/share/$uuid/data.json", None, None)
  def insert(tenant: String, table: String, body: String, vertical: Boolean): Resp =
    call("POST", s"/api/data/insert/$table${if (vertical) "?flatten=vertical" else ""}",
      Some(tenants.key(tenant)), Some(body))
  def analytics(tenant: String, op: String, body: String): Resp =
    call("POST", s"/api/data/analytics/$op", Some(tenants.key(tenant)), Some(body))
  def createShare(tenant: String, sql: String): String = {
    val r = call("POST", "/api/data/query/share", Some(tenants.key(tenant)),
      Some(s"""{"query":"${Json.escape(sql)}","duration":3600}"""))
    require(r.ok, s"share creation failed: ${r.status}")
    Json.parse(new String(r.body, StandardCharsets.UTF_8)).get.get("id").asText
  }

  /** (route, method) -> (count, seconds) summed over statuses, from
    * the server's Prometheus text. */
  def metricsText(): String = new String(call("GET", "/metrics", None, None).body, StandardCharsets.UTF_8)

  def routeTotals(): Map[(String, String), (Long, Double)] = {
    val line = """graft_api_request_duration_seconds_(sum|count)\{route="([^"]*)",method="([^"]*)",status="[^"]*"\} (\S+)""".r
    val acc = scala.collection.mutable.Map.empty[(String, String), (Long, Double)]
    metricsText().split("\n").foreach {
      case line(kind, route, method, v) =>
        val (c, s) = acc.getOrElse((route, method), (0L, 0.0))
        acc((route, method)) = if (kind == "count") (c + v.toDouble.toLong, s) else (c, s + v.toDouble)
      case _ => ()
    }
    acc.toMap
  }
}

/** Named counters and span totals, safe under concurrent updates. */
final class Acc {
  val sums = new ConcurrentHashMap[String, DoubleAdder]()
  val counts = new ConcurrentHashMap[String, LongAdder]()
  def add(name: String, v: Double): Unit = {
    sums.computeIfAbsent(name, _ => new DoubleAdder).add(v)
    counts.computeIfAbsent(name, _ => new LongAdder).increment()
  }
  def inc(name: String, n: Long = 1): Unit = counts.computeIfAbsent(name, _ => new LongAdder).add(n)
  def max(name: String, v: Double): Unit = sums.compute(name, (_, cur) => {
    val a = if (cur == null) new DoubleAdder else cur
    if (v > a.sum()) { a.reset(); a.add(v) }
    a
  })
  def clear(): Unit = { sums.clear(); counts.clear() }
  def span[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally add(name, (System.nanoTime() - t0) / 1e6)
  }
  def snapshot: (Map[String, Double], Map[String, Long]) = {
    import scala.jdk.CollectionConverters._
    (sums.asScala.map { case (k, v) => k -> v.sum() }.toMap,
      counts.asScala.map { case (k, v) => k -> v.sum() }.toMap)
  }
}

/** Task counters per harness job group (`perfbench/<label>/<n>`), plus
  * the analysis/optimization/planning phases of every action run on a
  * tenant session. */
final class LayerListener(acc: Acc) extends SparkListener with QueryExecutionListener {
  private val stageLabel = new ConcurrentHashMap[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("perfbench/")).foreach { g =>
        val label = g.split("/")(1)
        acc.inc(s"jobs.$label")
        e.stageIds.foreach(s => stageLabel.put(s, label))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val label = stageLabel.getOrDefault(e.stageId, "other")
    val m = e.taskMetrics
    acc.inc(s"tasks.$label")
    acc.inc("tasks.all")
    if (m != null) {
      acc.add(s"run_ms.$label", m.executorRunTime.toDouble)
      acc.add(s"cpu_ms.$label", m.executorCpuTime / 1e6)
      acc.add(s"gc_ms.$label", m.jvmGCTime.toDouble)
      acc.add(s"shuffle_write.$label", m.shuffleWriteMetrics.bytesWritten.toDouble)
      acc.add(s"spill.$label", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    Seq("optimization", "planning").foreach(p =>
      phases.get(p).foreach(s => acc.add(s"phase.$p", s.durationMs.toDouble)))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** The server's components wired as `graft.api.Main` wires them (two
  * ingest workers, 1 s spool age, 30 s sweeper), driven in-process with
  * a span around each layer's public call. */
final class TracedBackend(spark: SparkSession, dataDir: File, tenants: Tenants,
                          ingestTables: Seq[(String, String)], val acc: Acc) extends Backend {
  private val catalog = new TableCatalog(new File(dataDir, "tables").getAbsolutePath)
  private val meta = new MetaStore(dataDir.getAbsolutePath, reservedIds = Set(1L))
  private val ingest = new IngestService(spark, catalog)
  private val blobs = new LocalBlobStore(new File(dataDir, "blobs").getAbsolutePath)
  private val executor = new QueryExecutor(spark, catalog)
  private val shareCache = new TtlCache
  private val groupSeq = new AtomicLong()
  private val listener = new LayerListener(acc)
  spark.sparkContext.addSparkListener(listener)

  // spool -> upload -> queue -> ingest, each hand-off timed
  private val firstAccept = new ConcurrentHashMap[(String, String), java.lang.Long]()
  private val closedAt = new ConcurrentHashMap[String, java.lang.Long]()
  private val backlog = new AtomicLong()
  private def ms(fromNs: Long) = (System.nanoTime() - fromNs) / 1e6

  private def process(db: String, table: String, f: File): Unit = {
    Option(closedAt.remove(f.getName)).foreach(t => acc.add("store.queue_wait", ms(t)))
    val filesBefore = catalog.fileCount(db, table)
    val colsBefore = catalog.schema(db, table).map(_.size).getOrElse(0)
    val rows = inGroup("ingest")(acc.span("store.ingest_file")(ingest.ingestFile(db, table, f)))
    backlog.decrementAndGet()
    acc.inc("store.batches")
    acc.inc("store.rows", rows)
    acc.inc("store.files_added", catalog.fileCount(db, table) - filesBefore)
    if (catalog.schema(db, table).map(_.size).getOrElse(0) > colsBefore) acc.inc("store.evolves")
  }
  private val uploader = new Uploader(blobs, process, workers = 2)
  private val spool = new Spool(new File(dataDir, "spool").getAbsolutePath,
    SpoolConfig(maxAgeSeconds = 1, rotatePeriodMillis = 500), f => {
      val table = f.getParentFile.getName
      val db = f.getParentFile.getParentFile.getName
      Option(firstAccept.remove((db, table))).foreach(t => acc.add("store.spool_wait", ms(t)))
      closedAt.put(f.getName, System.nanoTime())
      acc.max("store.backlog_peak", backlog.incrementAndGet().toDouble)
      try acc.span("store.upload")(uploader.accept(db, table, f))
      catch { case NonFatal(e) => System.err.println(s"[ingest] ${f.getName}: ${e.getMessage}") }
    })

  private val sweeper = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-sweeper"); t.setDaemon(true); t
  }
  sweeper.scheduleWithFixedDelay(() => try sweep() catch {
    case NonFatal(e) => System.err.println(s"[sweep] ${e.getMessage}")
  }, 30, 30, TimeUnit.SECONDS)

  /** Main's sweep: retry pending blobs, compact tables past 64 files. */
  private def sweep(): Unit = {
    uploader.retryPending()
    ingestTables.foreach { case (db, t) =>
      if (catalog.fileCount(db, t) > 64) {
        inGroup("compact")(acc.span("store.compact")(catalog.compact(spark, db, t)))
        acc.inc("store.compactions")
      }
    }
  }

  def fileCount(db: String, table: String): Int = catalog.fileCount(db, table)

  private def inGroup[T](label: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"perfbench/$label/${groupSeq.incrementAndGet()}", label, interruptOnCancel = true)
    try body finally sc.clearJobGroup()
  }

  // views are re-registered when the tenant's catalog version moved
  private val seenVersion = new ConcurrentHashMap[String, java.lang.Long]()
  private def prepare(db: String, label: String): SparkSession = {
    val v = catalog.version(db)
    val prev = seenVersion.put(db, v)
    if (prev == null || prev != v) {
      acc.inc(s"view_rebuilds.$label")
      acc.inc(s"views_registered.$label", catalog.listTables(db).size)
    }
    val s = acc.span(s"prepare.$label")(executor.tenantSession(db))
    if (listening.add(db)) s.listenerManager.register(listener)
    s
  }
  private val listening = ConcurrentHashMap.newKeySet[String]()

  /** Counts bytes and stamps the first write that reaches the client. */
  private final class Timing(under: OutputStream, t0: Long, label: String) extends OutputStream {
    var n = 0L
    private def first(): Unit = if (n == 0) acc.add(s"first_byte.$label", ms(t0))
    override def write(b: Int): Unit = { first(); under.write(b); n += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      if (len > 0) first(); under.write(b, off, len); n += len
    }
  }

  private def failure(e: Throwable): Resp = {
    val code = e match {
      case _: QueryRejectedException | _: IllegalArgumentException |
           _: org.apache.spark.sql.AnalysisException => 400
      case _ => 500
    }
    Resp(code, String.valueOf(e.getMessage).getBytes(StandardCharsets.UTF_8))
  }

  private def runSql(db: String, sql: String, csv: Boolean, label: String): Resp =
    try inGroup(label) {
      prepare(db, label)
      val df = acc.span(s"execute.$label")(executor.execute(db, sql))
      df.queryExecution.tracker.phases.get("analysis")
        .foreach(p => acc.add(s"analysis.$label", p.durationMs.toDouble))
      val buf = new ByteArrayOutputStream()
      val t0 = System.nanoTime()
      val out = new Timing(buf, t0, label)
      acc.span(s"encode.$label")(
        if (csv) ResultEncoders.writeCsv(df, out) else ResultEncoders.writeJson(df, out))
      acc.add(s"result_bytes.$label", out.n.toDouble)
      Resp(200, buf.toByteArray)
    } catch { case NonFatal(e) => failure(e) }

  def query(tenant: String, sql: String, csv: Boolean, probe: Boolean): Resp =
    runSql(tenants.db(tenant), sql, csv, if (probe) "probe" else "query")

  /** Server.shareData's path: cached body per (share, data epoch). */
  def share(uuid: String): Resp = meta.getShare(uuid) match {
    case Some(s) =>
      val key = s"share/$uuid.json@${graft.core.DataEpoch.current}"
      shareCache.get(key) match {
        case Some(body) => acc.inc("share.hits"); Resp(200, body)
        case None =>
          val r = runSql(s.db, s.query, csv = false, "share")
          if (r.ok && r.body.length <= (1 << 20)) shareCache.set(key, r.body)
          r
      }
    case None => Resp(404, Array.emptyByteArray)
  }

  def insert(tenant: String, table: String, body: String, vertical: Boolean): Resp = {
    val db = tenants.db(tenant)
    firstAccept.putIfAbsent((db, table), System.nanoTime())
    val r = acc.span("store.accept")(
      ingest.acceptBody(spool, db, table, body, if (vertical) "vertical" else ""))
    acc.inc("store.json_bytes", body.getBytes(StandardCharsets.UTF_8).length)
    Resp(r.status, r.message.getBytes(StandardCharsets.UTF_8))
  }

  def analytics(tenant: String, op: String, body: String): Resp = {
    val db = tenants.db(tenant)
    try inGroup(s"op_$op") {
      val session = prepare(db, s"op_$op")
      val df = acc.span(s"operators.plan.$op")(graft.api.Analytics.plan(session,
        t => executor.tenantTable(db, t),
        _ => throw new QueryRejectedException("no stores in this benchmark"),
        op, Json.parse(body).get))
      df.schema
      val buf = new ByteArrayOutputStream()
      acc.span(s"operators.exec.$op")(graft.core.CacheScope.scoped(ResultEncoders.writeJson(df, buf)))
      Resp(200, buf.toByteArray)
    } catch { case NonFatal(e) => failure(e) }
  }

  def createShare(tenant: String, sql: String): String = meta.createShare(tenants.db(tenant), sql, 3600)

  def shutdown(): Unit = {
    sweeper.shutdownNow()
    spool.shutdown()
    uploader.shutdown()
    spark.sparkContext.removeSparkListener(listener)
  }
}
