package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.core.Json
import graft.engine.{QueryExecutor, QueryRejectedException, ResultEncoders}
import graft.store.{IngestService, MetaStore, Spool, TableCatalog}
import java.io.{File, OutputStream}
import org.apache.spark.sql.DataFrame
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import scala.util.control.NonFatal

/** Static auth config: plaintext API keys map to a database id; an
  * optional admin key selects the tenant via `destination_id`
  * (reference semantics: /root/reference/pkg/api/auth.go:23-53 — keys
  * are stored and compared as SHA-256 hashes). Keys minted at runtime
  * via POST /api/destinations/{id}/keys live in the [[MetaStore]].
  * `healthFailFile`: when this path exists, /healthcheck returns 503
  * (healthcheck.go:12-24). */
final case class ServerConfig(
    port: Int = 8080,
    apiKeys: Map[String, String] = Map("local" -> "1"),
    adminKey: Option[String] = None,
    healthFailFile: String = "/tmp/graft-unhealthy",
    /** Per-request wall-clock bound: past it the request's Spark job
      * group is cancelled (0 = unbounded). One tenant's runaway query
      * ends; the shared context stays healthy. */
    queryTimeoutSeconds: Long = 300,
    /** Per-response byte cap on the query/analytics encoders (0 =
      * unbounded): past it the stream is cut and the feeding jobs
      * cancelled — a `SELECT * FROM a CROSS JOIN b` cannot stream
      * unboundedly out of the shared JVM. */
    maxResultBytes: Long = 0,
    /** Per-tenant persisted-store disk quota in bytes (0 = unbounded),
      * enforced at index_build PLANNING time: a tenant already at the
      * quota gets a clean 413 before any Spark job runs. An overwrite
      * rebuild of an existing store does not count that store's current
      * bytes (the rebuild replaces them); appends do. */
    maxStoreBytes: Long = 0)

/** HTTP surface of the engine — the reference's chi router rebuilt on the
  * JDK's HttpServer (routes: /root/reference/pkg/api/router.go:52-66).
  *
  *   GET  /healthcheck                                  (503 if fail-file exists)
  *   GET  /metrics                                      (Prometheus text)
  *   POST /api/data/insert/{table}?flatten=vertical     (auth)
  *   GET|POST /api/data/query[?format=csv]              (auth; SELECT-only)
  *   GET  /api/tables                                   (auth)
  *   GET  /api/tables/{table}/columns                   (auth)
  *   GET  /api/destinations                             (auth)
  *   POST /api/destinations {type,name}                 (auth)
  *   POST /api/destinations/{id}/keys                   (auth; own id or admin)
  *   POST /api/data/query/share {query, duration}       (auth)
  *   GET  /share/{uuid}/data.{format}                   (public)
  *
  * With a [[DashboardConfig]], additionally the reference's login +
  * dashboard surface (JWT-cookie sessions over OAuth — see
  * [[Dashboard]]):
  *
  *   GET /login | /oauth/callback | /logout
  *   GET /dashboard[/connections[/new]|/keys]
  */
final class Server(config: ServerConfig, catalog: TableCatalog,
                   ingest: IngestService, spool: Spool, executor: QueryExecutor,
                   meta: MetaStore, metrics: Metrics = new Metrics,
                   shareCache: graft.store.TtlCache = new graft.store.TtlCache,
                   dashboardConfig: Option[DashboardConfig] = None) {

  private val dashboard: Option[Dashboard] =
    dashboardConfig.map(c => new Dashboard(c, meta,
      (ex, code, body, ct) => respond(ex, code, body, ct)))

  private val hashedKeys: Map[String, String] = config.apiKeys.map { case (k, v) => MetaStore.sha256(k) -> v }
  private val hashedAdmin: Option[String] = config.adminKey.map(MetaStore.sha256)

  private def safeName(s: String): Boolean = Server.SafeName.matches(s)

  // TCP_NODELAY on every connection: the JDK server writes the headers
  // and a small body as two segments, and without it a sequential
  // keep-alive client waits out a ~40 ms delayed ACK on each response.
  // The JDK reads the property once, when the first server is created.
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress(config.port), 0)
  // handler threads are NON-daemon (a live server must survive the main
  // thread going quiet) — so stop() must shut the pool down, or any
  // embedded use (q161's in-process battery server, tests) leaves 8
  // threads pinning the JVM open after stop(): runMain-forked JVMs hang
  // at exit waiting on them
  private val handlerPool = java.util.concurrent.Executors.newFixedThreadPool(8)
  server.setExecutor(handlerPool)

  def start(): Int = {
    server.createContext("/", (ex: HttpExchange) => route(ex))
    server.start()
    server.getAddress.getPort
  }

  /** Graceful shutdown with drain: `HttpServer.stop(delay)` stops
    * accepting, then waits up to `drainSeconds` for in-flight exchange
    * handlers before closing their TCP connections — so a streamed
    * query caught mid-body completes instead of being cut (the
    * reference drains for 30 minutes, api.go:96; the scale differs,
    * the semantics match). An idle server stops immediately — the
    * delay is a bound, not a sleep. */
  def stop(drainSeconds: Int = 30): Unit = {
    server.stop(drainSeconds)
    handlerPool.shutdown()
  }

  private def params(ex: HttpExchange): Map[String, String] = {
    val raw = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    raw.split("&").filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8"))
        case Array(k)    => Some(URLDecoder.decode(k, "UTF-8") -> "")
        case _           => None
      }
    }.toMap
  }

  /** Principal: tenant database id + whether this is the admin key. */
  private final case class Principal(db: String, admin: Boolean)

  /** Resolve the caller, or None -> 401 (auth.go:23-53). Static config
    * keys and MetaStore-minted keys are both accepted. */
  private def authDb(p: Map[String, String], ex: HttpExchange): Option[Principal] = {
    val key = p.getOrElse("api_key",
      Option(ex.getRequestHeaders.getFirst("X-API-KEY")).getOrElse(""))
    val hashed = MetaStore.sha256(key)
    if (hashedAdmin.contains(hashed)) Some(Principal(p.getOrElse("destination_id", "-1"), admin = true))
    else hashedKeys.get(hashed).orElse(meta.resolveKey(hashed)).map(Principal(_, admin = false))
  }

  private def respond(ex: HttpExchange, code: Int, body: String,
                      contentType: String = "text/plain"): Unit = {
    val b = body.getBytes(StandardCharsets.UTF_8)
    val l = labelsOf(ex)
    l.status = code
    l.bytes = b.length.toLong
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, if (b.isEmpty) -1 else b.length)
    if (b.nonEmpty) ex.getResponseBody.write(b)
    ex.close()
  }

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  /** Permissive CORS on every route (reference router.go:74-81 mounts
    * the wildcard cors.Handler globally). The reference pairs
    * AllowedOrigins ["*"] with AllowCredentials — browsers REJECT that
    * literal combination, so its effective behavior is NON-credentialed
    * wildcard CORS; this matches it: `*` with no Allow-Credentials.
    * (Echoing the Origin with credentials would be strictly MORE
    * permissive than upstream — it would let any site make credentialed
    * requests and read responses on JWT-cookie dashboard routes.) The
    * API stays safe under `*` because auth is the X-API-KEY header,
    * which cross-origin JS cannot attach without a preflight we'd
    * answer but the server still key-checks per request. */
  private def cors(ex: HttpExchange): Unit = {
    val h = ex.getResponseHeaders
    h.set("Access-Control-Allow-Origin", "*")
    h.set("Access-Control-Allow-Methods", "GET, PUT, POST, DELETE, HEAD, OPTIONS")
    h.set("Access-Control-Allow-Headers",
      "User-Agent, Content-Type, Accept, Accept-Encoding, Accept-Language, " +
      "Cache-Control, Connection, DNT, Host, Origin, Pragma, Referer, X-API-KEY")
    h.set("Access-Control-Max-Age", "300")
  }

  /** The `/metrics` labels of one request, written while it is served
    * and observed when it ends. They cannot live in `HttpExchange`
    * attributes: on JDK 17 those are one map that every exchange of the
    * context shares, so concurrent requests would read each other's. */
  private final class Labels {
    var route = "<other>"
    var status = 0
    var bytes = 0L
  }
  private val inFlight = new java.util.concurrent.ConcurrentHashMap[HttpExchange, Labels]()
  private def labelsOf(ex: HttpExchange): Labels = inFlight.get(ex)

  private def route(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val labels = new Labels
    inFlight.put(ex, labels)
    try {
      cors(ex)
      if (ex.getRequestMethod == "OPTIONS") {
        // preflight: the CORS headers above ARE the answer
        labels.route = "<preflight>"
        respond(ex, 204, "")
        return
      }
      val path = ex.getRequestURI.getPath
      val segs = path.split("/").filter(_.nonEmpty).toList
      val p = params(ex)
      (ex.getRequestMethod, segs) match {
        case ("GET", List("healthcheck")) =>
          labels.route = "/healthcheck"
          if (new File(config.healthFailFile).exists())
            respond(ex, 503, "Status set to unhealthy")
          else respond(ex, 200, "ok")
        case ("GET", List("metrics")) =>
          labels.route = "/metrics"
          respond(ex, 200, metrics.render, "text/plain; version=0.0.4")
        case (_, "api" :: rest) =>
          withAuth(ex, p)(who => apiRoute(ex, p, who, rest))
        case ("GET", List("share", uuid, data)) if data.startsWith("data.") =>
          labels.route = "/share/{uuid}/data.{format}"
          shareData(ex, uuid, data.stripPrefix("data."))
        case ("GET", List("login")) if dashboard.isDefined =>
          labels.route = "/login"
          dashboard.get.login(ex)
        case ("GET", List("oauth", "callback")) if dashboard.isDefined =>
          labels.route = "/oauth/callback"
          dashboard.get.callback(ex, p)
        case ("GET", List("logout")) if dashboard.isDefined =>
          labels.route = "/logout"
          dashboard.get.logout(ex)
        case ("GET", "dashboard" :: rest) if dashboard.isDefined =>
          labels.route = "/dashboard"
          dashboard.get.page(ex, rest)
        case ("POST", "dashboard" :: rest) if dashboard.isDefined =>
          labels.route = "/dashboard"
          dashboard.get.post(ex, rest)
        case _ => respond(ex, 404, "not found")
      }
    } catch {
      case NonFatal(e) => try respond(ex, 500, Option(e.getMessage).getOrElse("error")) catch { case NonFatal(_) => () }
    } finally {
      inFlight.remove(ex)
      metrics.observe(labels.route, ex.getRequestMethod, labels.status,
        (System.nanoTime() - t0) / 1e9, labels.bytes)
    }
  }

  private def withAuth(ex: HttpExchange, p: Map[String, String])(f: Principal => Unit): Unit =
    authDb(p, ex) match {
      case Some(who) => f(who)
      case None      => respond(ex, 401, "Unauthorized")
    }

  private def apiRoute(ex: HttpExchange, p: Map[String, String], who: Principal,
                       rest: List[String]): Unit = {
    // bounded default label: unknown paths must not mint new metric series
    labelsOf(ex).route = "/api/<other>"
    val db = who.db
    (ex.getRequestMethod, rest) match {
      case ("POST", List("data", "insert", table)) =>
        labelsOf(ex).route = "/api/data/insert/{table}"
        if (!safeName(table)) respond(ex, 400, "invalid table name")
        else if (!safeName(db)) respond(ex, 400, "invalid destination id")
        else {
          val res = ingest.acceptBody(spool, db, table, readBody(ex), p.getOrElse("flatten", ""))
          respond(ex, res.status, res.message)
        }

      case (m, List("data", "query")) if m == "GET" || m == "POST" =>
        labelsOf(ex).route = "/api/data/query"
        val q = if (m == "POST") readBody(ex) else p.getOrElse("query", "")
        if (q.trim.isEmpty) respond(ex, 400, "Query cannot be blank")
        else runQuery(ex, db, q, p.getOrElse("format", ""))

      case ("POST", List("data", "query", "share")) =>
        labelsOf(ex).route = "/api/data/query/share"
        Json.parse(readBody(ex)) match {
          case Some(n) if n.hasNonNull("query") && n.get("query").asText.nonEmpty =>
            val duration = if (n.has("duration")) n.get("duration").asLong else 60L
            val id = meta.createShare(db, n.get("query").asText, duration)
            respond(ex, 200, s"""{"id":"$id"}""", "application/json")
          case Some(_) => respond(ex, 400, "Query cannot be empty")
          case None    => respond(ex, 400, "Invalid request body")
        }

      case ("POST", List("data", "analytics", op)) =>
        // the operator library over HTTP: the reference's raw
        // passthrough exposes its destination's full surface
        // (data.go:29-56); table-shaped operators have no SQL spelling,
        // so they get named endpoints planning the SAME Scala operators
        labelsOf(ex).route = "/api/data/analytics/{op}"
        Json.parse(readBody(ex)) match {
          case Some(n) if n.isObject =>
            val session = executor.tenantSession(db)
            val tableOf = (t: String) => executor.tenantTable(db, t)
            val storeOf = (name: String) => {
              if (!safeName(name)) throw new QueryRejectedException(
                s"invalid store name: $name")
              catalog.storeDir(db, name)
            }
            if (op == "index_build") {
              // quota gate BEFORE any planning/Spark work: listStores is
              // a directory walk, and a 413 here costs the cluster
              // nothing. Overwrite rebuilds exclude the target store's
              // current bytes — the rebuild replaces them.
              val overQuota = config.maxStoreBytes > 0 && {
                val target = Option(n.get("store")).filter(_.isTextual)
                  .map(_.asText).getOrElse("")
                val append = Option(n.get("mode")).filter(_.isTextual)
                  .exists(_.asText.equalsIgnoreCase("append"))
                val used = catalog.listStores(db)
                  .filter { case (nm, _, _) => append || nm != target }
                  .map(_._3).sum
                used >= config.maxStoreBytes
              }
              if (overQuota)
                respond(ex, 413, s"store quota exceeded " +
                  s"(limit ${config.maxStoreBytes} bytes); drop stores via " +
                  "DELETE /api/stores/{name} or rebuild with mode=overwrite")
              else {
                // builds unpersist their own eager intermediates; the
                // scope catches any lazily-persisted stragglers too
                graft.core.CacheScope.scoped {
                  runBuild(ex, session)(Analytics.planBuild(session, tableOf, storeOf, n))
                }
                // the gate above is advisory check-then-act (two
                // concurrent builds can both pass, and an overwrite
                // rebuild transiently holds old store + tmp sibling →
                // ~2x peak); this post-build re-check makes an
                // over-quota landing visible instead of silent
                if (config.maxStoreBytes > 0) {
                  val used = catalog.listStores(db).map(_._3).sum
                  if (used > config.maxStoreBytes)
                    System.err.println(s"[graft] tenant $db store usage $used " +
                      s"bytes exceeds quota ${config.maxStoreBytes} after build " +
                      "(advisory gate; next index_build will 413)")
                }
              }
            } else {
              // read-guard every store the probe's plan resolves, for
              // the full streamed life of the request (the parquet scan
              // happens during encoding) — DELETE 409s while held
              val touched = new java.util.concurrent.ConcurrentLinkedQueue[String]()
              val guardedStoreOf = (name: String) => {
                val path = storeOf(name)
                Analytics.acquireStoreRead(path)
                touched.add(path)
                path
              }
              // CacheScope: operator-persisted intermediates (minhash
              // signatures, probe fingerprints) are released when this
              // request finishes streaming — a resident server must not
              // accumulate one CacheManager entry per distinct plan.
              // Guard release is INSIDE the scope: the read guards must
              // drop the instant streaming ends (a waiting DELETE
              // unblocks), not after the unpersist bookkeeping
              graft.core.CacheScope.scoped {
                try streamPlanned(ex, p.getOrElse("format", ""))(
                  Analytics.plan(session, tableOf, guardedStoreOf, op, n))
                finally touched.forEach(path => Analytics.releaseStoreRead(path))
              }
            }
          case _ => respond(ex, 400, "Invalid request body")
        }

      // Persisted-store management: the tables side has list/drop, so
      // the stores side gets the same lifecycle — without it a tenant
      // can mint unbounded disk under stores.d with no way to reclaim.
      case ("GET", List("stores")) =>
        labelsOf(ex).route = "/api/stores"
        val items = catalog.listStores(db).map { case (n, k, b) =>
          s"""{"name":"${Json.escape(n)}","kind":"${Json.escape(k)}","bytes":$b}"""
        }
        respond(ex, 200, items.mkString("[", ",", "]"), "application/json")

      case ("DELETE", List("stores", name)) =>
        labelsOf(ex).route = "/api/stores/{store}"
        if (!safeName(name)) respond(ex, 400, "invalid store name")
        else {
          // hold the per-store build lock across the drop: a concurrent
          // index_build can neither start mid-delete nor lose its
          // directory mid-build (both sides contend on the same add())
          val storePath = catalog.storeDir(db, name)
          if (!Analytics.tryStoreLock(storePath))
            respond(ex, 409, s"store $name has a build in progress")
          else try {
            // two-phase vs in-flight probes: declare the drop, then
            // check readers (probes declare their read, then check for
            // a drop) — whichever is second backs off, so the rm -rf
            // can never race a streaming parquet scan
            if (!Analytics.beginDrop(storePath))
              respond(ex, 409, s"store $name has probes in flight")
            else try {
              if (catalog.dropStore(db, name))
                respond(ex, 200, s"""{"store":"${Json.escape(name)}","status":"dropped"}""",
                  "application/json")
              else respond(ex, 404, "no such store")
            } finally Analytics.endDrop(storePath)
          } finally Analytics.releaseStoreLock(storePath)
        }

      case ("GET", List("analytics")) =>
        labelsOf(ex).route = "/api/analytics"
        respond(ex, 200, Analytics.listJson, "application/json")

      case ("GET", List("tables")) =>
        labelsOf(ex).route = "/api/tables"
        val names = catalog.listTables(db).map(t => "\"" + Json.escape(t) + "\"")
        respond(ex, 200, names.mkString("[", ",", "]"), "application/json")

      case ("GET", List("tables", table, "columns")) =>
        labelsOf(ex).route = "/api/tables/{table}/columns"
        val cols = catalog.listColumns(db, table).map { case (n, t) =>
          s"""{"name":"${Json.escape(n)}","type":"${Json.escape(t)}"}"""
        }
        respond(ex, 200, cols.mkString("[", ",", "]"), "application/json")

      // Extension-function introspection: which names beyond vanilla
      // Spark SQL a tenant may call on /api/data/query (companion to
      // the tables/columns introspection; the reference leaves function
      // discovery to the destination's docs).
      case ("GET", List("functions")) =>
        labelsOf(ex).route = "/api/functions"
        val fns = graft.functions.GraftFunctions.descriptions.map { case (n, usage) =>
          s"""{"name":"${Json.escape(n)}","usage":"${Json.escape(usage)}"}"""
        }
        respond(ex, 200, fns.mkString("[", ",", "]"), "application/json")

      case ("GET", List("destinations")) =>
        labelsOf(ex).route = "/api/destinations"
        val static = config.apiKeys.values.toSeq.distinct.map(id =>
          s"""{"id":$id,"type":"spark","name":"static"}""")
        val dynamic = meta.listDestinations.map(d =>
          s"""{"id":${d.id},"type":"${Json.escape(d.dtype)}","name":"${Json.escape(d.name)}"}""")
        respond(ex, 200, (static ++ dynamic).mkString("[", ",", "]"), "application/json")

      // Create a destination (destinations.go:37-68; settings accepted
      // but ignored — every destination is served by the same engine).
      case ("POST", List("destinations")) =>
        labelsOf(ex).route = "/api/destinations"
        Json.parse(readBody(ex)) match {
          case Some(n) =>
            val dtype = if (n.hasNonNull("type")) n.get("type").asText else "spark"
            val name = if (n.hasNonNull("name")) n.get("name").asText else "destination"
            val d = meta.createDestination(dtype, name)
            respond(ex, 200,
              s"""{"id":${d.id},"type":"${Json.escape(d.dtype)}","name":"${Json.escape(d.name)}"}""",
              "application/json")
          case None => respond(ex, 400, "Invalid request body")
        }

      // Mint an API key (destinations.go:14-21): for your own
      // destination, or any destination with the admin key.
      case ("POST", List("destinations", id, "keys")) =>
        labelsOf(ex).route = "/api/destinations/{id}/keys"
        if (!safeName(id)) respond(ex, 400, "invalid destination id")
        else if (!who.admin && id != db) respond(ex, 403, "Forbidden")
        else if (!who.admin && !meta.destinationExists(id) && !config.apiKeys.values.exists(_ == id))
          respond(ex, 404, "no such destination")
        else {
          val key = meta.addKey(id)
          respond(ex, 200, s"""{"key":"$key","destination_id":$id}""", "application/json")
        }

      case _ => respond(ex, 404, "not found")
    }
  }

  /** Stream a query result; 500 with the error only when nothing has been
    * written yet (reference data.go:53-55 — errors after streaming began
    * are lost). Statement-type / unknown-relation rejections are 400s.
    * With `cacheKey`, the streamed body is additionally teed into a
    * size-capped buffer and cached on success — streaming semantics are
    * untouched (an over-cap or failed response simply isn't cached). */
  private def runQuery(ex: HttpExchange, db: String, query: String, format: String,
                       cacheKey: Option[String] = None): Unit =
    streamPlanned(ex, format, cacheKey)(executor.execute(db, query))

  /** Plan (by-name, so planning errors surface as clean 400/500s before
    * any byte is written) and stream a DataFrame — shared by the SQL
    * endpoint and the analytics endpoints.
    *
    * Error surface, in two scopes:
    *  - PLAN + ANALYSIS (before any response byte): caller-shaped
    *    failures — rejected statements, unresolvable columns/types
    *    (AnalysisException), operator parameter `require()`s
    *    (IllegalArgumentException) — are 400s with the message; anything
    *    else is a 500. The two catch scopes are separate so a runtime
    *    IllegalArgumentException from engine internals can never
    *    masquerade as a caller error.
    *  - EXECUTION (reference data.go:53-55 semantics): once streaming
    *    began the 200 header is already on the wire, so a runtime
    *    failure (e.g. an ANSI cast of a malformed value, a cancelled
    *    job) CUTS the chunked body — clients must treat a truncated
    *    body as an error; the error text itself is lost, as in the
    *    reference. A failure before the first byte is a clean 500.
    *
    * Guardrails around execution (the per-tenant blast-radius bound the
    * reference gets from per-tenant DuckDB files): every request's jobs
    * run in their own Spark job group; a timeout cancels the group, a
    * client disconnect (IOException from the response stream) cancels
    * the group, and a response-byte cap cuts the stream and cancels the
    * group — the shared context stays healthy for the next request. */
  private def streamPlanned(ex: HttpExchange, format: String,
                            cacheKey: Option[String] = None)(plan: => DataFrame): Unit = {
    val df = try {
      val d = plan
      d.schema // force analysis NOW: resolution errors must 400 before headers
      d
    } catch {
      case e: Analytics.ConflictException =>
        respond(ex, 409, e.getMessage); return
      case e: QueryRejectedException =>
        respond(ex, 400, e.getMessage); return
      case e: org.apache.spark.sql.AnalysisException =>
        respond(ex, 400, e.getMessage); return
      case e: IllegalArgumentException =>
        respond(ex, 400, Option(e.getMessage).getOrElse("invalid parameters")); return
      case NonFatal(e) =>
        respond(ex, 500, Option(e.getMessage).getOrElse("planning failed")); return
    }
    val sc = df.sparkSession.sparkContext
    val group = s"graft-http-${java.util.UUID.randomUUID}"
    // interruptOnCancel: running tasks are interrupted, not just queued
    // ones — a cancelled group frees its task slots immediately
    sc.setJobGroup(group, s"http request ($group)", interruptOnCancel = true)
    // AndFutureJobs: the encoder runs a sequence of Spark jobs — query
    // stages, then one job per result wave — so a one-shot cancel landing
    // in the driver-side gap between jobs would let the next one run; the
    // tombstone makes later submissions in this group fail immediately
    // (per-request UUID group, so it can never hit another request)
    val timer =
      if (config.queryTimeoutSeconds > 0)
        Some(Server.reaper.schedule(new Runnable {
          def run(): Unit = sc.cancelJobGroupAndFutureJobs(group)
        }, config.queryTimeoutSeconds, java.util.concurrent.TimeUnit.SECONDS))
      else None
    try {
      val isCsv = format.equalsIgnoreCase("csv")
      ex.getResponseHeaders.set("Content-Type", if (isCsv) "text/csv" else "application/json")
      val labels = labelsOf(ex)
      labels.status = 200
      ex.sendResponseHeaders(200, 0) // chunked
      val counting: OutputStream = new CountingOutputStream(ex.getResponseBody,
        n => labels.bytes = n)
      val capped: OutputStream =
        if (config.maxResultBytes > 0) new CappedOutputStream(counting, config.maxResultBytes)
        else counting
      val tee = cacheKey.map(_ => new TeeBufferStream(capped, Server.ShareCacheCapBytes))
      val out: OutputStream = tee.getOrElse(capped)
      if (isCsv) ResultEncoders.writeCsv(df, out) else ResultEncoders.writeJson(df, out)
      out.close()
      for { k <- cacheKey; t <- tee; body <- t.captured } shareCache.set(k, body)
      ex.close()
    } catch {
      case NonFatal(e) =>
        // disconnects, over-cap cuts, timeouts, runtime faults: stop the
        // jobs still feeding this response, then cut the connection (a
        // clean 500 is impossible — the 200 header is on the wire)
        sc.cancelJobGroupAndFutureJobs(group)
        try respond(ex, 500, Option(e.getMessage).getOrElse("query failed"))
        catch { case NonFatal(_) => ex.close() }
    } finally {
      timer.foreach(_.cancel(false))
      sc.clearJobGroup()
    }
  }

  /** Execute an index build under the same blast-radius guardrails as
    * query execution — but inverted in time: a build is EAGER Spark
    * work (the single most expensive tenant-triggered operation on
    * this surface), so the job group and timeout reaper are installed
    * BEFORE the build runs, not after planning. Client disconnects are
    * detected mid-build by heartbeat bytes: once validation passes,
    * the 200/chunked headers go on the wire and a JSON-legal
    * whitespace byte is flushed every second while the build executes
    * — a tenant that POSTs a build against a huge table and hangs up
    * stops consuming the cluster within ~a heartbeat, not at
    * completion. Error surface: caller-shaped failures (unknown kind,
    * kind-pin mismatch, missing table/columns) are clean 400s from the
    * validation pass, a concurrent build of the same store is a clean
    * 409, and failures after headers cut the chunked body (the
    * documented data.go:53-55 semantics). Builds respond JSON-only:
    * heartbeat whitespace is legal JSON but not legal CSV. */
  private def runBuild(ex: HttpExchange, spark: org.apache.spark.sql.SparkSession)
                      (mk: => Analytics.Build): Unit = {
    val sc = spark.sparkContext
    val group = s"graft-build-${java.util.UUID.randomUUID}"
    // The job group goes on BEFORE planning, not just execution:
    // append-mode validation reads the store's one-row meta table — a
    // real (milliseconds-scale) Spark job — and outside a group it
    // would be uncancellable driver-blocking work. Under the group,
    // the timeout reaper bounds validation and execution alike.
    sc.setJobGroup(group, s"http index_build ($group)", interruptOnCancel = true)
    // A build is a SEQUENCE of Spark jobs (bands, sigs, meta writes)
    // with driver-side gaps between them; plain cancelJobGroup is
    // one-shot and a cancel landing in a gap would let the next job run
    // to completion. AndFutureJobs tombstones the group: jobs submitted
    // after the cancel fail immediately. Group ids are per-request
    // UUIDs, so the tombstone can never hit a later request.
    val timer =
      if (config.queryTimeoutSeconds > 0)
        Some(Server.reaper.schedule(new Runnable {
          def run(): Unit = {
            sc.cancelJobGroupAndFutureJobs(group)
            // a heartbeat wedged in out.write() on a stalled-but-
            // connected client is not interruptible (blocking socket
            // write); closing the exchange is what unblocks it, so a
            // wedged build response is bounded by the query timeout
            // instead of the OS TCP timeout
            try ex.close() catch { case NonFatal(_) => () }
          }
        }, config.queryTimeoutSeconds, java.util.concurrent.TimeUnit.SECONDS))
      else None
    def failPlan(code: Int, msg: String): Unit = {
      timer.foreach(_.cancel(false))
      sc.clearJobGroup()
      // if the timeout reaper already closed the exchange (timeout
      // DURING validation), the clean status is gone — close quietly
      try respond(ex, code, msg)
      catch { case NonFatal(_) => try ex.close() catch { case NonFatal(_) => () } }
    }
    val build = try mk catch {
      case e: Analytics.ConflictException =>
        failPlan(409, e.getMessage); return
      case e: QueryRejectedException =>
        failPlan(400, e.getMessage); return
      case e: org.apache.spark.sql.AnalysisException =>
        failPlan(400, e.getMessage); return
      case e: IllegalArgumentException =>
        failPlan(400, Option(e.getMessage).getOrElse("invalid parameters")); return
      case NonFatal(e) =>
        failPlan(500, Option(e.getMessage).getOrElse("planning failed")); return
    }
    // writes to the response are serialized: heartbeats and the final
    // status row must never interleave mid-byte
    val writeLock = new Object
    // Heartbeats run on a DEDICATED per-build thread, never on
    // Server.reaper: out.write blocks for as long as the client's TCP
    // window stays full, and a blocked reaper would stop every
    // request's timeout cancellation and every other build's disconnect
    // detection server-wide. On its own thread, a non-reading client
    // stalls only this build's heartbeat; the timeout reaper (a
    // non-blocking cancelJobGroup call) still fires and kills the jobs.
    val hbStop = new java.util.concurrent.atomic.AtomicBoolean(false)
    var hb: Option[Thread] = None
    try {
      ex.getResponseHeaders.set("Content-Type", "application/json")
      labelsOf(ex).status = 200
      ex.sendResponseHeaders(200, 0) // chunked
      val out = ex.getResponseBody
      val hbThread = new Thread(() => {
        while (!hbStop.get) {
          try Thread.sleep(1000)
          catch { case _: InterruptedException => hbStop.set(true) }
          if (!hbStop.get) writeLock.synchronized {
            // a broken pipe here IS the disconnect signal: stop the build
            if (!hbStop.get) {
              try { out.write(' '); out.flush() }
              catch { case NonFatal(_) =>
                hbStop.set(true); sc.cancelJobGroupAndFutureJobs(group) }
            }
          }
        }
      }, s"graft-build-heartbeat-$group")
      hbThread.setDaemon(true)
      hbThread.start()
      hb = Some(hbThread)
      val df = build.run()
      hbStop.set(true); hbThread.interrupt()
      writeLock.synchronized {
        ResultEncoders.writeJson(df, out)
        out.close()
      }
      ex.close()
    } catch {
      case NonFatal(_) =>
        // timeout cancel, disconnect, or a runtime build fault: stop
        // the build's jobs and cut the connection (headers are on the
        // wire, so a clean status is impossible)
        sc.cancelJobGroupAndFutureJobs(group)
        try ex.close() catch { case NonFatal(_) => () }
    } finally {
      hbStop.set(true); hb.foreach(_.interrupt())
      timer.foreach(_.cancel(false))
      sc.clearJobGroup()
      build.release()
    }
  }

  /** Public share replays serve from the [[graft.store.TtlCache]] when
    * possible: dashboards poll a FIXED query, so the serialized body is
    * cached keyed on (uuid, format, data epoch) — any catalog change
    * bumps the epoch (`core/DataEpoch`), so a hit can never serve data
    * older than the last visible write. Expired/unknown shares 404
    * before the cache is consulted, preserving link-expiry semantics. */
  private def shareData(ex: HttpExchange, uuid: String, format: String): Unit =
    meta.getShare(uuid) match {
      case Some(s) =>
        val key = s"share/$uuid.$format@${graft.core.DataEpoch.current}"
        shareCache.get(key) match {
          case Some(body) =>
            val isCsv = format.equalsIgnoreCase("csv")
            ex.getResponseHeaders.set("Content-Type", if (isCsv) "text/csv" else "application/json")
            val labels = labelsOf(ex)
            labels.status = 200
            labels.bytes = body.length.toLong
            ex.sendResponseHeaders(200, body.length)
            ex.getResponseBody.write(body)
            ex.close()
          case None => runQuery(ex, s.db, s.query, format, cacheKey = Some(key))
        }
      case None => respond(ex, 404, "Query not found")
    }
}

object Server {
  /** Share bodies above this size stream uncached (a cache of 1024
    * such entries stays bounded at ~1 GiB worst case). */
  val ShareCacheCapBytes: Int = 1 << 20

  /** Daemon scheduler firing per-request timeout cancellations — one
    * shared thread; a fire is a single cancelJobGroup call. */
  private[api] val reaper: java.util.concurrent.ScheduledExecutorService =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-query-reaper"); t.setDaemon(true); t
    })

  /** `^[A-Za-z0-9_]+$` — table names and destination ids become
    * filesystem path components (Spool/TableCatalog) and view names, so
    * anything else (`..`, `/`, quotes) is rejected before it touches
    * storage. ONE definition, shared by the API routes and the
    * dashboard forms, so the two gates can never drift. */
  private[api] val SafeName = "^[A-Za-z0-9_]+$".r
}

/** Write-through tee: passes every byte to `under` while buffering up
  * to `cap` bytes; past the cap buffering stops (captured = None) but
  * streaming continues untouched. */
private final class TeeBufferStream(under: OutputStream, cap: Int) extends OutputStream {
  private val buf = new java.io.ByteArrayOutputStream()
  private var over = false
  private def room(len: Int): Boolean = !over && {
    if (buf.size() + len <= cap) true else { over = true; buf.reset(); false }
  }
  override def write(b: Int): Unit = { under.write(b); if (room(1)) buf.write(b) }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    under.write(b, off, len); if (room(len)) buf.write(b, off, len)
  }
  override def flush(): Unit = under.flush()
  override def close(): Unit = under.close()
  def captured: Option[Array[Byte]] = if (over) None else Some(buf.toByteArray)
}

/** Hard byte bound on a streamed response: the write crossing `cap`
  * raises, which cuts the chunked body and (via streamPlanned's catch)
  * cancels the request's job group — bounded output from the shared
  * JVM no matter what the query produces. */
private final class CappedOutputStream(under: OutputStream, cap: Long)
    extends OutputStream {
  private var n = 0L
  private def check(len: Int): Unit = {
    n += len
    if (n > cap) throw new java.io.IOException(
      s"response exceeded the configured result cap of $cap bytes")
  }
  override def write(b: Int): Unit = { check(1); under.write(b) }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    check(len); under.write(b, off, len)
  }
  override def flush(): Unit = under.flush()
  override def close(): Unit = under.close()
}

/** Counts bytes written through to the response stream (metrics). */
private final class CountingOutputStream(under: OutputStream, onClose: Long => Unit)
    extends OutputStream {
  private var n = 0L
  override def write(b: Int): Unit = { under.write(b); n += 1 }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = { under.write(b, off, len); n += len }
  override def flush(): Unit = under.flush()
  override def close(): Unit = { onClose(n); under.close() }
}
