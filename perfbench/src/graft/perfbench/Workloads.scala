package graft.perfbench

import scala.util.Random

/** One client request of the schedule. `route` names the end-to-end
  * metric family the request's latency lands in. */
sealed trait Req { def tenant: String; def route: String }

/** SQL over `/api/data/query`. `check` decides whether the body is right. */
final case class QueryReq(tenant: String, sql: String, csv: Boolean, check: Check) extends Req {
  def route = "query"
}

/** Replay of a share link created at set-up (`/share/{uuid}/data.json`). */
final case class ShareReq(tenant: String, share: String, check: Check) extends Req {
  def route = "share"
}

/** A JSON-array insert of `n` nested objects tagged with marker `batch`. */
final case class InsertReq(tenant: String, table: String, batch: Long, n: Int,
                           vertical: Boolean, newKey: Boolean) extends Req {
  def route = "insert"
  /** Rows the batch lands as: the vertical flattener explodes the
    * two-element `tags` array into two rows per object. */
  def rows: Long = if (vertical) 2L * n else n.toLong
}

/** `POST /api/data/analytics/{op}`. */
final case class AnalyticsReq(tenant: String, op: String, body: String) extends Req {
  def route = "analytics"
}

/** How a response body is judged. */
sealed trait Check
/** Canonical row hash computed at set-up by plain Spark (or by the
  * in-process operator, for analytics). */
final case class Exact(key: String) extends Check
/** Row total of a table that grows during the run: at least the rows
  * confirmed visible when the request was sent, at most the rows sent. */
final case class Growing(table: String) extends Check

/** A request of the schedule. A schedule runs in rounds, each its
  * primary (open- or closed-loop) part and then its sampler part. For the
  * open-loop part `atMs` is the send time from the round's start. The
  * one-at-a-time sampler sends each request once the previous one has
  * answered, and an insert no earlier than `atMs` after its first insert.
  * An unrecorded request is sent and judged but not timed. */
final case class Timed(atMs: Double, req: Req, probe: Boolean, record: Boolean = true,
                       round: Int = 0)

/** A workload: the tenants and tables it stages, its request schedule
  * and how the load is offered. */
final case class Workload(
    name: String,
    /** tenant index (0 = the static-key tenant) -> (scale, tables) */
    tenants: Seq[(Double, Seq[String])],
    /** tables that receive inserts, per tenant index */
    ingestTables: Map[Int, Seq[String]],
    closedLoop: Boolean,
    /** share name -> (tenant index, SQL) */
    shares: Seq[(String, Int, String)])

object Workloads {
  /** Row counts at scale 1.0; sf0.1 is one tenth of these. */
  val BaseRows: Map[String, Long] = Map(
    "events" -> 1000000L, "orders" -> 1500000L, "lineitem" -> 6000000L,
    "documents" -> 50000L)

  val Dash = Seq("events", "orders", "lineitem")
  /** Ingest targets of the samplers, written in turn (see
    * [[InsertCycleMs]]). */
  val Probes: Seq[String] = (0 until 3).map(i => s"probe$i")

  /** The corpus is seed-independent (see [[Stage]]); the seed picks
    * among these BM25 queries. */
  val Bm25Queries: Seq[String] = Seq.tabulate(8)(i => Seq(7, 101, 211).map(m => s"w${(i * m + m) % 300}").mkString(" "))

  /** Analytics request bodies over the documents/events corpus. */
  def analyticsBody(op: String, variant: Int): String = op match {
    case "dedup_near" =>
      """{"table":"documents","id_col":"doc_id","text_col":"text","min_jaccard":0.5}"""
    case "bm25" =>
      s"""{"table":"documents","id_col":"doc_id","text_col":"text","query":"${Bm25Queries(variant % Bm25Queries.size)}","k":10}"""
    case "text_quality" => """{"table":"documents","text_col":"text"}"""
    case "funnel" =>
      """{"table":"events","user_col":"user_id","ts_col":"ts","tie_col":"event_id",""" +
        """"type_col":"event_type","steps":["view","click","purchase"]}"""
    case "hot_keys" => """{"table":"events","keys":["user_id"],"k":20}"""
  }
  val AnalyticsOps = Seq("dedup_near", "bm25", "text_quality", "funnel", "hot_keys")
  /** The cheap event ops, used where analytics is only probed. */
  val ProbeOps = Seq("funnel", "hot_keys")

  def workload(name: String, smoke: Boolean): Workload = {
    val full = if (smoke) 0.001 else 0.1
    val small = if (smoke) 0.001 else 0.01
    val ingest8 = Seq("events", "orders", "lineitem", "documents", "nation", "region",
      "logs", "metrics")
    name match {
      case "read_dash" => Workload(name,
        Seq(full -> Dash, small -> (Dash ++ Probes), small -> Dash, small -> Dash),
        Map(1 -> Probes), closedLoop = false,
        (0 until 4).flatMap(t => Seq(
          (s"groups$t", t, Sql.groupBy), (s"top$t", t, Sql.topK))))
      case "ingest_mixed" => Workload(name,
        Seq.fill(4)(small -> ingest8),
        (0 until 4).map(_ -> Seq("logs", "metrics")).toMap, closedLoop = false,
        (0 until 4).flatMap(t => Seq(
          (s"groups$t", t, Sql.groupBy), (s"kinds$t", t, Sql.kinds("metrics")))))
      case "analytics_cpu" => Workload(name,
        Seq(full -> Seq("documents", "events"), small -> (Dash ++ Probes)),
        Map(1 -> Probes), closedLoop = true,
        Seq(("groups1", 1, Sql.groupBy), ("top1", 1, Sql.topK)))
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
  }

  /** Offered rates (requests/s); README.md records how they were set
    * against the measured knee. */
  object Rates {
    val dashQueries = 2.5
    val inserts = 4.0
    val ingestQueries = 1.5
    val ingestShares = 1.5
    /** Freshness probe period of each tenant, per ingesting tenant: ten
      * probes a second in all. A batch is seen on the first probe that
      * starts after it is visible, so the period (plus the probe's own
      * time) is the granularity of every freshness sample. */
    val pollMsPerTenant = 100L
  }

  /** The seeded request schedule: `primaryMs` of the workload's own mix,
    * then `samplerCycles` rounds of a one-at-a-time sampler of the routes
    * that mix leaves out (marked `probe`), so that every end-to-end
    * metric is measured on every workload.
    *
    * Arrivals are evenly spaced at a fixed offered rate. Each stream's
    * requests are a fixed multiset (its pattern repeated, insert sizes
    * at fixed quantiles) that the seed only shuffles, so two seeds offer
    * the same work in a different order (the read_dash query stream is
    * laid out in a fixed order instead; its seed picks the point keys).
    *
    * A `warm` schedule (the unrecorded warm-up) sends its sampler inserts
    * as a burst at the start of the primary phase instead, so that they
    * are visible before its sampler replays the share links: the share
    * cache is then full when the measured window starts. */
  def schedule(w: Workload, seed: Long, primaryMs: Double, samplerCycles: Int,
               pointKeys: Int => Seq[Long], batchBase: Long = 0,
               warm: Boolean = false): Vector[Timed] = {
    val rnd = new Random(seed * 7919 + w.name.hashCode)
    val out = Vector.newBuilder[Timed]
    var batch = batchBase
    def stream(fromMs: Double, toMs: Double, perSec: Double, probe: Boolean)
              (pattern: Seq[Int => Req]): Unit = {
      val gap = 1000.0 / perSec
      val n = math.max(1, ((toMs - fromMs) / gap).toInt)
      val reqs = rnd.shuffle((0 until n).map(i => pattern(i % pattern.size)(i / pattern.size)))
      val phase = rnd.nextDouble() * gap
      reqs.zipWithIndex.foreach { case (r, i) => out += Timed(fromMs + phase + i * gap, r, probe) }
    }
    // n inserts over `targets`: log-uniform size quantiles over 1..500
    // (most batches are small), flatten modes alternating, every tenth
    // batch adds a new key
    def inserts(targets: Seq[Int => (Int, String)], n: Int): Seq[Int => Req] = {
      val sizes = rnd.shuffle((0 until n).map(i => math.exp((i + 0.5) / n * math.log(500)).toInt.max(1)))
      targets.map(target => (c: Int) => {
        val (t, table) = target(c)
        batch += 1
        InsertReq(tid(t), table, batch, sizes(((batch - 1) % n).toInt), vertical = batch % 2 == 0,
          newKey = batch % 10 == 0)
      })
    }
    def count(ms: Double, perSec: Double) = math.max(1, (ms / 1000 * perSec).toInt)
    def fixed(r: Req): Int => Req = _ => r
    val v = dashVariants(_: Int, Nil)
    // the j-th of (up to) three point lookups in a pattern repetition,
    // from a seeded offset into the tenant's staged keys
    val keyBase = rnd.nextInt(1 << 16)
    def point(t: Int, j: Int): Int => Req = c => {
      val keys = pointKeys(t)
      val k = keys((keyBase + c * 3 + j) % keys.size)
      QueryReq(tid(t), Sql.point(k), csv = false, Exact(s"$t/point/$k"))
    }
    // One repetition of the read_dash query stream: 30 requests, the
    // primary phase of a 16 s run, so each run offers the whole mix.
    // Half are on the sf0.1 tenant (3 point lookups, 5 joins, 2 group-by,
    // 2 top-k, 2 5k-row JSON results, a CSV export): its joins are a
    // sixth of all queries, so the p95 lands inside their latencies
    // rather than at their maximum. The other half are a point lookup,
    // group-by, top-k, join and CSV export on each sf0.01 tenant. Laid
    // out as 5 blocks of 6 in a fixed order: each block is led by one
    // sf0.1 join, and sf0.1 and sf0.01 requests alternate after it. Which
    // requests overlap a join, and so the p95, then does not depend on the
    // seed; the seed picks the point-lookup keys and the phase.
    val dashMix: Seq[Int => Req] = {
      val big = Seq(point(0, 0), fixed(v(0)(0)), point(0, 1), fixed(v(0)(1)), point(0, 2),
        fixed(v(0)(3)), fixed(v(0)(0)), fixed(v(0)(1)), fixed(v(0)(4)), fixed(v(0)(3)))
      val small = (point(_: Int, 0)) +: Seq(0, 1, 2, 4).map(i => (t: Int) => fixed(v(t)(i)))
      val smalls = small.flatMap(kind => (1 to 3).map(kind))
      (0 until 5).flatMap(b => Seq(fixed(v(0)(2)), smalls(3 * b), big(2 * b), smalls(3 * b + 1),
        big(2 * b + 1), smalls(3 * b + 2)))
    }
    val replays: Seq[Int => Req] = shareReplays(w).map(fixed)
    // the round that the sampler's closing inserts join
    var lastRound = 0
    def sampler(cycle: Seq[Int => Req], cycleMs: Double = 0): Unit =
      (0 until samplerCycles).foreach(c => cycle.foreach(r =>
        out += Timed(c * cycleMs, r(c), probe = true, round = lastRound)))
    // a cycle's inserts all go to one probe table, the next cycle's to the
    // next table
    def probeInserts = inserts(Seq.fill(InsertsPerCycle)(c => 1 -> Probes(c % Probes.size)),
      InsertsPerCycle * samplerCycles)
    // the warm-up's inserts: a burst at the start of its primary phase
    if (warm && w.ingestTables.values.exists(_ == Probes))
      stream(0, InsertsPerCycle * 100.0, 10, probe = false)(probeInserts)
    val probeAnalytics = ProbeOps.map(op => fixed(AnalyticsReq(tid(1), op, analyticsBody(op, 0))))
    w.name match {
      case "read_dash" =>
        // The window runs in rounds: a block of the query stream, open
        // loop, then one at a time a sampler cycle of share replays and
        // analytics calls. A slow spell of the shared host then falls on
        // some of each metric's samples rather than all of one metric's.
        val gap = 1000.0 / Rates.dashQueries
        val n = count(primaryMs, Rates.dashQueries)
        val phase = rnd.nextDouble() * gap
        (0 until n).foreach(i => out += Timed(phase + (i % DashBlock) * gap,
          dashMix(i % dashMix.size)(i / dashMix.size), probe = false, round = i / DashBlock))
        val rounds = (n + DashBlock - 1) / DashBlock
        lastRound = rounds - 1
        val hotKeys = probeAnalytics.last
        (0 until samplerCycles).foreach { c =>
          val round = c * rounds / samplerCycles
          // share replays one at a time, before any insert moves the
          // data epoch, so every replay is a cache hit: alongside the
          // queries their ~3 ms swung with the host's CPU steal
          replays.foreach(r => out += Timed(0, r(c), probe = true, round = round))
          // analytics before the inserts, so no ingest job overlaps it.
          // The first call after queries took ~1.5x the others and
          // decided the p95, so each round's first call is unrecorded.
          out += Timed(0, hotKeys(c), probe = true, record = false, round = round)
          (0 until HotKeysPerCycle).foreach(_ =>
            out += Timed(0, hotKeys(c), probe = true, round = round))
        }
      case "ingest_mixed" =>
        val targets = (0 until 4).flatMap(t => Seq(t -> "logs", t -> "metrics"))
        stream(0, primaryMs, Rates.inserts, probe = false)(
          inserts(targets.map(t => (_: Int) => t), count(primaryMs, Rates.inserts)))
        stream(0, primaryMs, Rates.ingestQueries, probe = false)((0 until 4).flatMap(t => Seq(
          fixed(QueryReq(tid(t), Sql.kinds("logs"), csv = false, Growing("logs"))),
          fixed(QueryReq(tid(t), Sql.groupBy, csv = false, Exact(s"$t/groupBy"))))))
        stream(0, primaryMs, Rates.ingestShares, probe = false)(replays)
        sampler(probeAnalytics)
      case "analytics_cpu" =>
        // closed loop: the next request goes out as soon as one returns,
        // whole cycles of every op once, in a seeded order
        (0 until closedCycles(primaryMs)).foreach { c =>
          rnd.shuffle(AnalyticsOps).foreach(op =>
            out += Timed(0, AnalyticsReq(tid(0), op, analyticsBody(op, c)), probe = false))
        }
        // share replays before any insert moves the data epoch
        sampler((point(1, 0) +: Seq(0, 1, 3, 4).map(i => fixed(v(1)(i)))) ++ replays)
    }
    if (!warm && w.ingestTables.values.exists(_ == Probes)) sampler(probeInserts, InsertCycleMs)
    out.result().sortBy(t => if (t.probe || w.closedLoop) 0.0 else t.atMs)
  }

  /** Queries per round of the read_dash window: one block of its mix. */
  val DashBlock = 6

  /** Recorded analytics calls per read_dash sampler cycle. */
  val HotKeysPerCycle = 8

  /** Inserts per sampler cycle, all into one probe table. */
  val InsertsPerCycle = 8

  /** Start-to-start time of the sampler's insert cycles. The server's
    * spool rotates a file on the first 0.5 s tick after it is 1 s old, so
    * a batch waits 1.0-1.5 s for its file, by the tick's phase. A cycle
    * every 600 ms (100 ms past a whole tick) moves that phase on by a
    * fifth of a tick, so five cycles cover every phase once, whatever
    * the phase of the first: a run's freshness does not rest on one or
    * two random phases. With three probe tables a table is written
    * every 1.8 s, after its previous file has rotated. */
  val InsertCycleMs = 600.0

  /** Closed-loop cycles for a primary phase of `primaryMs`: a cycle of
    * the five ops takes about six seconds at sf0.1. With whole cycles
    * every op is sampled equally often. */
  def closedCycles(primaryMs: Double): Int = math.max(1, math.round(primaryMs / 6000).toInt)

  /** One replay of each share link; the `kinds` shares read a table
    * that grows during the run. */
  def shareReplays(w: Workload): Seq[ShareReq] = w.shares.map { case (n, t, _) =>
    ShareReq(tid(t), n, if (n.startsWith("kinds")) Growing("metrics") else Exact(s"share/$n"))
  }

  /** Point lookups first, then group-by, top-k, join, 5k-row JSON, CSV. */
  def dashVariants(t: Int, pointKeys: Seq[Long]): Seq[QueryReq] =
    pointKeys.map(k => QueryReq(tid(t), Sql.point(k), csv = false, Exact(s"$t/point/$k"))) ++ Seq(
      QueryReq(tid(t), Sql.groupBy, csv = false, Exact(s"$t/groupBy")),
      QueryReq(tid(t), Sql.topK, csv = false, Exact(s"$t/topK")),
      QueryReq(tid(t), Sql.join, csv = false, Exact(s"$t/join")),
      QueryReq(tid(t), Sql.json5k, csv = false, Exact(s"$t/json5k")),
      QueryReq(tid(t), Sql.csvExport, csv = true, Exact(s"$t/csv")))

  /** Every exactly-checked request any seed can schedule: the set whose
    * answers set-up computes once. */
  def universe(w: Workload, pointKeys: Int => Seq[Long]): Seq[Req] = {
    val dash = w.tenants.indices.filter(i => w.tenants(i)._2.contains("orders"))
      .flatMap(t => dashVariants(t, pointKeys(t)))
    val shares = shareReplays(w).filter(_.check.isInstanceOf[Exact])
    // analytics_cpu runs every op on tenant 0; elsewhere tenant 1 is probed
    val (t, ops) = if (w.closedLoop) (0, AnalyticsOps) else (1, ProbeOps)
    val analytics = ops.flatMap(op => (0 until (if (op == "bm25") Bm25Queries.size else 1))
      .map(v => AnalyticsReq(tid(t), op, analyticsBody(op, v))))
    dash ++ shares ++ analytics
  }

  /** Placeholder tenant ids: index 0 is the static-key tenant; the rest
    * are bound to destination ids at set-up (see [[Stage]]). */
  def tid(i: Int): String = s"#$i"
}

/** The dashboard SQL mix. Ties are broken on unique keys so every answer
  * is a single well-defined multiset. */
object Sql {
  def point(k: Long) = s"SELECT * FROM orders WHERE o_orderkey = $k"
  val groupBy = "SELECT event_type, count(*) AS n, round(sum(value), 2) AS total " +
    "FROM events GROUP BY event_type ORDER BY event_type"
  val topK = "SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"
  val join = "SELECT o.o_orderpriority, count(*) AS n, round(sum(l.l_extendedprice), 2) AS revenue " +
    "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
    "WHERE l.l_shipdate >= TIMESTAMP'1995-01-01 00:00:00' GROUP BY o.o_orderpriority ORDER BY 1"
  val json5k = "SELECT event_id, user_id, event_type, value FROM events " +
    "WHERE event_id < 5000 ORDER BY event_id"
  val csvExport = "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders " +
    "WHERE o_orderkey < 2000 ORDER BY o_orderkey"
  def kinds(table: String) = s"SELECT kind, count(*) AS n FROM $table GROUP BY kind"
  /** Visible rows per pending batch marker, over a tenant's ingest tables. */
  def fresh(tables: Seq[String], batches: Iterable[Long]): String = {
    val in = batches.mkString(",")
    tables.map(t => s"SELECT '$t' AS t, batch, count(*) AS n FROM $t WHERE batch IN ($in) GROUP BY batch")
      .mkString(" UNION ALL ")
  }
  /** Row total and distinct `__row_id`s of each of a tenant's ingest
    * tables, one row per table. */
  def integrity(tables: Seq[String]): String = tables.map(t =>
    s"SELECT '$t' AS t, count(*) AS n, count(DISTINCT __row_id) AS d FROM $t").mkString(" UNION ALL ")
}
