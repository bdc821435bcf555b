package graft.perfbench

import graft.core.Json
import java.nio.charset.StandardCharsets
import java.util.concurrent._
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import scala.util.Random

/** One finished request: latency from its scheduled send time, wall from
  * its actual send, and the generator's lag in sending it. `op` names
  * the analytics operator ("" on other routes). */
final case class Sample(route: String, probe: Boolean, latMs: Double, wallMs: Double,
                        lagMs: Double, ok: Boolean, op: String)

private final case class Pending(table: String, rows: Long, schedNs: Long)

/** Runs a schedule's primary part open loop on at most `threads`
  * generator threads (closed loop for a closed-loop workload), then its
  * sampler one request at a time; judges every response, and tracks each
  * acked insert until a freshness probe sees all of its rows. */
final class Driver(w: Workload, st: Staged, tenants: Tenants, be: Backend,
                   shares: Map[String, String], expected: Map[String, String],
                   seed: Long, threads: Int) {
  val samples = new ConcurrentLinkedQueue[Sample]()
  val freshMs = new ConcurrentLinkedQueue[java.lang.Double]()
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  val wrong = new AtomicLong()
  val errors = new ConcurrentLinkedQueue[String]()
  @volatile var recording = false

  private val pending = new ConcurrentHashMap[String, ConcurrentHashMap[java.lang.Long, Pending]]()
  // per (tenant, table): rows confirmed visible, rows acked, rows sent,
  // rows of inserts that failed (they may or may not have landed)
  private val visible, acked, sent, uncertain = new ConcurrentHashMap[(String, String), AtomicLong]()
  private def ctr(m: ConcurrentHashMap[(String, String), AtomicLong], t: String, table: String) =
    m.computeIfAbsent((t, table), _ => new AtomicLong())
  private def staged(t: String, table: String) = st.stagedRows((tenants.db(t), table))

  private def fail(kind: String, what: String, wrongAnswer: Boolean = false): Unit = {
    failed.incrementAndGet()
    if (wrongAnswer) wrong.incrementAndGet()
    if (errors.size < 20) errors.add(s"$kind: $what")
  }
  private def text(r: Resp) = new String(r.body, StandardCharsets.UTF_8).take(160)

  private def judge(req: Req, r: Resp, lowBound: Long): Boolean = {
    if (!r.ok) { fail(req.route, s"HTTP ${r.status} ${text(r)}"); return false }
    val (check, csv) = req match {
      case q: QueryReq => (q.check, q.csv)
      case s: ShareReq => (s.check, false)
      case a: AnalyticsReq => (Exact(Canon.analyticsKey(a.tenant, a.body)), false)
      case _ => return true
    }
    check match {
      case Exact(key) =>
        val got = Canon.bodyHash(r.body, csv)
        val ok = expected.get(key).contains(got)
        if (!ok) fail(req.route, s"wrong answer for $key: ${got.take(20)} vs ${expected.get(key).map(_.take(20))}", wrongAnswer = true)
        ok
      case Growing(table) =>
        val n = Canon.countSum(r.body)
        val hi = staged(req.tenant, table) + ctr(sent, req.tenant, table).get()
        val ok = n >= lowBound && n <= hi
        if (!ok) fail(req.route, s"$table row total $n outside [$lowBound, $hi]", wrongAnswer = true)
        ok
    }
  }

  private def lowBoundOf(req: Req): Long = req match {
    case QueryReq(t, _, _, Growing(table)) => staged(t, table) + ctr(visible, t, table).get()
    case ShareReq(t, _, Growing(table)) => staged(t, table) + ctr(visible, t, table).get()
    case _ => 0L
  }

  private def insertBody(i: InsertReq): String = {
    val rnd = new Random(seed * 1000003 + i.batch)
    val sb = new StringBuilder("[")
    (0 until i.n).foreach { k =>
      if (k > 0) sb.append(',')
      sb.append(s"""{"batch":${i.batch},"seq":$k,"kind":"k${rnd.nextInt(8)}",""")
      sb.append(s""""val":${rnd.nextInt(100000) / 100.0},"user":{"id":${rnd.nextInt(5000)},""")
      sb.append(s""""geo":{"cc":"c${rnd.nextInt(40)}"}},"tags":["t${rnd.nextInt(9)}","t${rnd.nextInt(9)}"]""")
      if (i.newKey) sb.append(s""","f${i.batch}":$k""")
      sb.append('}')
    }
    sb.append(']').result()
  }

  /** Send one request at (or after) its scheduled instant `schedNs`;
    * an unrecorded one is judged but not timed. */
  def send(req: Req, probe: Boolean, schedNs: Long, record: Boolean = true): Unit = {
    val start = System.nanoTime()
    attempted.incrementAndGet()
    val low = lowBoundOf(req)
    val r = req match {
      case q: QueryReq => be.query(q.tenant, q.sql, q.csv)
      case s: ShareReq => be.share(shares(s.share))
      case i: InsertReq =>
        ctr(sent, i.tenant, i.table).addAndGet(i.rows)
        be.insert(i.tenant, i.table, insertBody(i), i.vertical)
      case a: AnalyticsReq => be.analytics(a.tenant, a.op, a.body)
    }
    val end = System.nanoTime()
    val ok = judge(req, r, low)
    req match {
      case i: InsertReq =>
        if (ok) {
          ctr(acked, i.tenant, i.table).addAndGet(i.rows)
          pending.computeIfAbsent(i.tenant, _ => new ConcurrentHashMap())
            .put(i.batch, Pending(i.table, i.rows, schedNs))
        } else ctr(uncertain, i.tenant, i.table).addAndGet(i.rows)
      case _ => ()
    }
    if (recording && record)
      samples.add(Sample(req.route, probe, (end - schedNs) / 1e6, (end - start) / 1e6,
        (start - schedNs) / 1e6, ok, req match { case a: AnalyticsReq => a.op; case _ => "" }))
  }

  /** One freshness probe for a tenant: which pending batches show all
    * their rows now. */
  def poll(tenant: String): Unit = {
    val mine = pending.get(tenant)
    if (mine == null || mine.isEmpty) return
    val snap = mine.asScala.toMap
    attempted.incrementAndGet()
    // only the tables that have batches in flight
    val r = be.query(tenant, Sql.fresh(snap.values.map(_.table).toSeq.distinct.sorted,
      snap.keys.map(_.toLong)), csv = false, probe = true)
    val now = System.nanoTime()
    if (!r.ok) { fail("fresh", s"HTTP ${r.status} ${text(r)}"); return }
    Json.parse(new String(r.body, StandardCharsets.UTF_8)).filter(_.isArray) match {
      case None => fail("fresh", "unparseable probe body")
      case Some(arr) => arr.elements().asScala.foreach { row =>
        val b = row.path("batch").asLong()
        snap.get(b).foreach { p =>
          val n = row.path("n").asLong()
          if (n > p.rows) {
            mine.remove(b)
            fail("fresh", s"batch $b shows $n rows, sent ${p.rows}", wrongAnswer = true)
          } else if (n == p.rows && mine.remove(b) != null) {
            ctr(visible, tenant, p.table).addAndGet(p.rows)
            if (recording) freshMs.add((now - p.schedNs) / 1e6)
          }
        }
      }
    }
  }

  def pendingCount: Int = pending.values().asScala.map(_.size).sum

  /** Run `sched`, round by round; returns once every request has answered
    * and every acked batch is visible, or `visibleDeadlineS` has passed. */
  def run(sched: Seq[Timed], visibleDeadlineS: Int): Double = {
    val pool = Executors.newScheduledThreadPool(threads)
    val ingestTenants = w.ingestTables.keys.map(i => Workloads.tid(i)).toSeq
    val period = Workloads.Rates.pollMsPerTenant * ingestTenants.size
    val pollers = ingestTenants.zipWithIndex.map { case (t, i) =>
      pool.scheduleWithFixedDelay(() => safely(poll(t)), period * i / ingestTenants.size,
        period, TimeUnit.MILLISECONDS)
    }
    def drain(): Unit = {
      val deadline = System.nanoTime() + visibleDeadlineS * 1000000000L
      while (pendingCount > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    }
    def sleepUntil(at: Long): Unit =
      while (System.nanoTime() < at) Thread.sleep(math.max(1L, (at - System.nanoTime()) / 1000000L))
    val start = System.nanoTime()
    var insertsFrom = -1L
    val futures = Seq.newBuilder[ScheduledFuture[_]]
    sched.groupBy(_.round).toSeq.sortBy(_._1).foreach { case (_, part) =>
      // a round's primary part runs closed loop on this thread (one
      // request at a time) or open loop on the pool, its open-loop times
      // counted from the round's start; its sampler starts once the last
      // open-loop request has been sent and the primary part's batches
      // are visible, and runs one request at a time
      val (sampler, primary) = part.partition(_.probe)
      val t0 = System.nanoTime() + 20000000L
      if (w.closedLoop)
        primary.foreach(op => safely { val now = System.nanoTime(); send(op.req, probe = false, now) })
      else if (primary.nonEmpty) {
        primary.foreach { op =>
          val at = t0 + (op.atMs * 1e6).toLong
          futures += pool.schedule(new Runnable {
            def run(): Unit = safely(send(op.req, op.probe, at))
          }, at - System.nanoTime(), TimeUnit.NANOSECONDS)
        }
        sleepUntil(t0 + (primary.map(_.atMs).max * 1e6).toLong)
      }
      if (sampler.nonEmpty) drain()
      // an insert goes no earlier than its `atMs` after the first insert
      sampler.foreach { op =>
        if (op.req.isInstanceOf[InsertReq]) {
          if (insertsFrom < 0) insertsFrom = System.nanoTime()
          sleepUntil(insertsFrom + (op.atMs * 1e6).toLong)
        }
        safely(send(op.req, probe = true, System.nanoTime(), op.record))
      }
    }
    futures.result().foreach(f => try f.get(90, TimeUnit.SECONDS) catch {
      case _: TimeoutException => fail("generator", "request still running after 90 s")
    })
    val loadEnd = System.nanoTime()
    drain()
    pollers.foreach(_.cancel(false))
    pool.shutdown()
    pool.awaitTermination(60, TimeUnit.SECONDS)
    pending.asScala.foreach { case (t, m) =>
      m.asScala.foreach { case (b, p) =>
        fail("fresh", s"tenant $t batch $b (${p.rows} rows) not visible after ${visibleDeadlineS}s")
      }
      m.clear()
    }
    (loadEnd - start) / 1e9
  }

  private def safely(body: => Unit): Unit =
    try body catch { case e: Throwable => fail("generator", s"${e.getClass.getSimpleName}: ${e.getMessage}") }

  /** After the run: each ingest table holds exactly the staged plus acked
    * rows (within the rows of failed inserts), with no duplicate
    * `__row_id`. */
  def integrity(): Unit = w.ingestTables.foreach { case (i, tables) =>
    val t = Workloads.tid(i)
    attempted.incrementAndGet()
    val r = be.query(t, Sql.integrity(tables), csv = false, probe = true)
    Json.parse(new String(r.body, StandardCharsets.UTF_8)).filter(a => r.ok && a.isArray &&
        a.elements().asScala.map(_.path("t").asText()).toSeq.sorted == tables.sorted) match {
      case None => fail("integrity", s"tenant $t: HTTP ${r.status} ${text(r)}")
      case Some(a) => a.elements().asScala.foreach { row =>
        val table = row.path("t").asText()
        val n = row.path("n").asLong(); val d = row.path("d").asLong()
        val lo = staged(t, table) + ctr(acked, t, table).get()
        val hi = lo + ctr(uncertain, t, table).get()
        if (n < lo || n > hi || d != n)
          fail("integrity", s"tenant $t $table: $n rows ($d distinct __row_id), expected [$lo, $hi]",
            wrongAnswer = true)
      }
    }
  }
}
