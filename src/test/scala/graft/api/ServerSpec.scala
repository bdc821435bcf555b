package graft.api

import graft.engine.{QueryExecutor, ResultEncoders}
import graft.store.{IngestService, MetaStore, Spool, SpoolConfig, TableCatalog}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.io.ByteArrayOutputStream
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

class ServerSpec extends AnyFunSuite with BeforeAndAfterAll {
  // FAIR mode is context-level and first-creator-wins across the shared
  // test JVM; build.sbt also passes -Dspark.scheduler.mode=FAIR so the
  // fairness test below holds regardless of which suite booted Spark
  lazy val spark: SparkSession = graft.TestSpark.session()

  private var base: String = _
  private var server: Server = _
  private var port: Int = 0
  private var failFile: String = _
  private var serverCatalog: TableCatalog = _
  private val client = HttpClient.newHttpClient()

  private def buildServer(): Server = {
    val catalog = new TableCatalog(s"$base/tables")
    serverCatalog = catalog
    val ingest = new IngestService(spark, catalog)
    val spool = new Spool(s"$base/spool", SpoolConfig(maxRows = 1, rotatePeriodMillis = 100),
      f => ingest.ingestFile(f.getParentFile.getParentFile.getName, f.getParentFile.getName, f))
    val executor = new QueryExecutor(spark, catalog)
    val meta = new MetaStore(base, Set(1L, 2L))
    new Server(ServerConfig(0, Map("key1" -> "1", "key2" -> "2"), Some("admin"), failFile),
      catalog, ingest, spool, executor, meta)
  }

  override def beforeAll(): Unit = {
    base = Files.createTempDirectory("graft-api").toString
    failFile = s"$base/unhealthy"
    server = buildServer()
    port = server.start()
  }

  override def afterAll(): Unit = server.stop()

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
  private def del(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
      .DELETE().build(), HttpResponse.BodyHandlers.ofString())
  private def eventually[A](f: => A): A = {
    var last: Throwable = null
    for (_ <- 1 to 50) {
      try return f
      catch { case e: Throwable => last = e; Thread.sleep(100) }
    }
    throw last
  }

  test("readme quickstart: insert then query returns the row (readme.md:33-49)") {
    val ins = post("/api/data/insert/events?api_key=key1", """{"user": "alice", "event": "click"}""")
    assert(ins.statusCode() == 200)
    eventually {
      val q = get("/api/data/query?api_key=key1&query=" +
        java.net.URLEncoder.encode("select user, event from events;", "UTF-8"))
      assert(q.statusCode() == 200)
      assert(q.body() == """[{"user":"alice","event":"click"}]""")
      assert(q.headers().firstValue("Content-Type").get.startsWith("application/json"))
    }
  }

  test("csv format, POST query body, blank query 400") {
    post("/api/data/insert/ev2?api_key=key1", """{"a": 1, "b": "x,y"}""")
    eventually {
      val q = get("/api/data/query?api_key=key1&format=csv&query=" +
        java.net.URLEncoder.encode("select a, b from ev2", "UTF-8"))
      assert(q.body() == "a,b\n1,\"x,y\"\n")
      assert(q.headers().firstValue("Content-Type").get.startsWith("text/csv"))
    }
    val viaPost = post("/api/data/query?api_key=key1", "select count(*) as n from ev2")
    assert(viaPost.body() == """[{"n":1}]""")
    assert(post("/api/data/query?api_key=key1", "  ").statusCode() == 400)
  }

  test("auth: bad key 401, tenant isolation, admin destination_id") {
    assert(get("/api/tables?api_key=nope").statusCode() == 401)
    post("/api/data/insert/mine?api_key=key2", """{"v": 7}""")
    eventually {
      assert(get("/api/tables?api_key=key2").body() == """["mine"]""")
    }
    // tenant 1 does not see tenant 2's table — rejected before analysis
    val t1 = get("/api/data/query?api_key=key1&query=" +
      java.net.URLEncoder.encode("select * from mine", "UTF-8"))
    assert(t1.statusCode() == 400)
    assert(t1.body().contains("unknown table"))
    // admin key reaches tenant 2 via destination_id
    assert(get("/api/tables?api_key=admin&destination_id=2").body() == """["mine"]""")
  }

  test("query gate: path-based relations and non-SELECT statements rejected") {
    def q(sql: String): HttpResponse[String] =
      get("/api/data/query?api_key=key1&query=" + java.net.URLEncoder.encode(sql, "UTF-8"))
    // path-based relation = filesystem escape hatch (ADVICE r1, high)
    val path = q("select * from parquet.`/etc`")
    assert(path.statusCode() == 400 && path.body().contains("unknown table"))
    assert(q("select * from text.`/etc/hostname`").statusCode() == 400)
    // DDL / DML / config statements: the endpoint is SELECT-only
    assert(q("drop table events").statusCode() == 400)
    assert(q("create table zz (a int)").statusCode() == 400)
    assert(q("insert into events values (1)").statusCode() == 400)
    assert(q("set spark.sql.shuffle.partitions=1").statusCode() == 400)
    // subquery relations are validated too
    assert(q("select (select count(*) from parquet.`/etc`) x").statusCode() == 400)
    // CTE names are allowed; SELECT still works end-to-end
    val cte = q("with c as (select 1 as one) select one from c")
    assert(cte.statusCode() == 200 && cte.body() == """[{"one":1}]""")
    // EXPLAIN of a valid SELECT is allowed (read-only), but its child
    // query is held to the same rules
    assert(q("explain select count(*) from events").statusCode() == 200)
    assert(q("explain select * from parquet.`/etc`").statusCode() == 400)
  }

  test("tables + columns introspection (A14)") {
    eventually {
      val cols = get("/api/tables/events/columns?api_key=key1").body()
      assert(cols.contains(""""name":"user","type":"STRING""""))
      assert(cols.contains(""""name":"__row_id","type":"BIGINT""""))
    }
  }

  test("functions introspection lists the extension surface with usage lines") {
    val fns = get("/api/functions?api_key=key1").body()
    assert(fns.contains(""""name":"fingerprint64""""))
    assert(fns.contains(""""name":"cosine_sim""""))
    assert(fns.contains(""""name":"hash_sample""""))
    assert(fns.contains("usage"))
    // unauthenticated introspection is still rejected
    assert(get("/api/functions").statusCode() == 401)
  }

  test("invalid table / destination names rejected before touching storage") {
    assert(post("/api/data/insert/a.b?api_key=key1", """{"a":1}""").statusCode() == 400)
    assert(post("/api/data/insert/a%20b?api_key=key1", """{"a":1}""").statusCode() == 400)
    assert(post("/api/data/insert/ok_1?api_key=admin&destination_id=..%2Fevil",
      """{"a":1}""").statusCode() == 400)
  }

  test("destination management: create, mint key, insert+query on new tenant") {
    val created = post("/api/destinations?api_key=admin", """{"type":"spark","name":"team-a"}""")
    assert(created.statusCode() == 200)
    val destId = created.body().split("\"id\":")(1).split(",")(0)
    val minted = post(s"/api/destinations/$destId/keys?api_key=admin", "")
    assert(minted.statusCode() == 200)
    val key = minted.body().split("\"")(3)
    // the minted key authenticates as the new tenant, end to end
    post(s"/api/data/insert/widgets?api_key=$key", """{"sku": "x1", "qty": 3}""")
    eventually {
      val q = get(s"/api/data/query?api_key=$key&query=" +
        java.net.URLEncoder.encode("select sku, qty from widgets", "UTF-8"))
      assert(q.body() == """[{"sku":"x1","qty":3}]""")
    }
    assert(get("/api/destinations?api_key=key1").body().contains("team-a"))
    // non-admin cannot mint keys for other destinations
    assert(post(s"/api/destinations/1/keys?api_key=$key", "").statusCode() == 403)
    // ...but can for its own
    assert(post(s"/api/destinations/$destId/keys?api_key=$key", "").statusCode() == 200)
  }

  test("share links: create, replay without auth, expiry (A15)") {
    val created = post("/api/data/query/share?api_key=key1",
      """{"query": "select count(*) as n from events", "duration": 60}""")
    assert(created.statusCode() == 200)
    val id = created.body().split("\"")(3)
    val pub = get(s"/share/$id/data.json")
    assert(pub.body() == """[{"n":1}]""")
    val csv = get(s"/share/$id/data.csv")
    assert(csv.body() == "n\n1\n")
    assert(get("/share/00000000-0000-0000-0000-000000000000/data.json").statusCode() == 404)
    val expired = post("/api/data/query/share?api_key=key1",
      """{"query": "select 1", "duration": 0}""")
    val eid = expired.body().split("\"")(3)
    Thread.sleep(10)
    assert(get(s"/share/$eid/data.json").statusCode() == 404)
  }

  test("share replays serve from the ttl cache, keyed on the data epoch (reference Cache service)") {
    val cache = new graft.store.TtlCache
    val cbase = Files.createTempDirectory("graft-api-cache").toString
    val catalog = new TableCatalog(s"$cbase/tables")
    val ingest = new IngestService(spark, catalog)
    val spool = new Spool(s"$cbase/spool", SpoolConfig(maxRows = 1, rotatePeriodMillis = 100),
      f => ingest.ingestFile(f.getParentFile.getParentFile.getName, f.getParentFile.getName, f))
    val srv = new Server(ServerConfig(0, Map("ckey" -> "1"), None, s"$cbase/unhealthy"),
      catalog, ingest, spool, new QueryExecutor(spark, catalog), new MetaStore(cbase, Set(1L)),
      shareCache = cache)
    val cport = srv.start()
    try {
      def cget(path: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$cport$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      val created = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$cport/api/data/query/share?api_key=ckey"))
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"query": "select 6*7 as answer", "duration": 600}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(created.statusCode() == 200)
      val id = created.body().split("\"")(3)
      assert(cache.size == 0)
      val first = cget(s"/share/$id/data.json")
      assert(first.statusCode() == 200 && first.body() == """[{"answer":42}]""")
      assert(cache.size == 1, "first replay must populate the cache")
      // second replay: served from the cached body, bit-identical
      val second = cget(s"/share/$id/data.json")
      assert(second.body() == first.body())
      assert(cache.size == 1)
      // a visible catalog change bumps the data epoch -> new key, so a
      // replay can never serve pre-write data
      graft.core.DataEpoch.bump()
      val third = cget(s"/share/$id/data.json")
      assert(third.statusCode() == 200 && third.body() == first.body())
      assert(cache.size == 2, "epoch bump must miss and repopulate under the new key")
      // csv replays cache independently of json
      assert(cget(s"/share/$id/data.csv").body() == "answer\n42\n")
      assert(cache.size == 3)
    } finally srv.stop()
  }

  test("share links and minted keys survive a server restart (gorm.go:93-129)") {
    val created = post("/api/data/query/share?api_key=key1",
      """{"query": "select 41+1 as answer", "duration": 3600}""")
    val id = created.body().split("\"")(3)
    server.stop()
    server = buildServer() // fresh MetaStore over the same directory
    port = server.start()
    val replay = get(s"/share/$id/data.json")
    assert(replay.statusCode() == 200 && replay.body() == """[{"answer":42}]""")
  }

  test("partial insert semantics over HTTP (FIXTURES A7)") {
    val r = post("/api/data/insert/px?api_key=key1", """[{"ok":1}, 5, {"ok":2}]""")
    assert(r.statusCode() == 500 && r.body() == "Partially inserted data")
  }

  test("json encoder: nulls serialize as explicit \"col\":null") {
    import spark.implicits._
    val df = Seq((1, Option("a")), (2, None)).toDF("i", "s")
    val bos = new ByteArrayOutputStream()
    ResultEncoders.writeJson(df, bos)
    assert(bos.toString("UTF-8") == """[{"i":1,"s":"a"},{"i":2,"s":null}]""")
    val csv = new ByteArrayOutputStream()
    ResultEncoders.writeCsv(df, csv)
    assert(csv.toString("UTF-8") == "i,s\n1,a\n2,null\n")
  }

  test("healthcheck: ok until the fail-file exists (healthcheck.go:12-24)") {
    assert(get("/healthcheck").body() == "ok")
    Files.writeString(java.nio.file.Path.of(failFile), "down")
    assert(get("/healthcheck").statusCode() == 503)
    Files.delete(java.nio.file.Path.of(failFile))
    assert(get("/healthcheck").statusCode() == 200)
  }

  test("dashboard routes are 404 when no DashboardConfig is set") {
    for (p <- Seq("/login", "/logout", "/oauth/callback", "/dashboard", "/dashboard/keys"))
      assert(get(p).statusCode() == 404, s"$p should 404 without a dashboard")
  }

  test("extension functions are served through the tenant SQL endpoint") {
    def enc(q: String) = java.net.URLEncoder.encode(q, "UTF-8")
    // fingerprint64 over ingested tenant data == the engine's own hash
    post("/api/data/insert/fdocs?api_key=key1", """{"label": "greeting", "body": "hello graft world"}""")
    val expectedFp = graft.functions.Fingerprint64.hash("hello graft world".getBytes("UTF-8"))
    eventually {
      val q = get("/api/data/query?api_key=key1&query=" +
        enc("SELECT fingerprint64(body) AS fp FROM fdocs"))
      assert(q.statusCode() == 200)
      assert(q.body() == s"""[{"fp":$expectedFp}]""")
    }
    // cosine_sim top-k over tenant rows (vectors assembled in SQL; the
    // registered builder casts array<double> -> array<float>)
    for ((id, x, y) <- Seq((1, 3.0, 4.0), (2, 1.0, 0.0), (3, -3.0, -4.0)))
      post("/api/data/insert/fvecs?api_key=key1", s"""{"id": $id, "x": $x, "y": $y}""")
    eventually {
      val q = get("/api/data/query?api_key=key1&query=" + enc(
        "SELECT id, cosine_sim(array(x, y), array(3.0, 4.0)) AS cos FROM fvecs ORDER BY cos DESC, id LIMIT 2"))
      assert(q.statusCode() == 200)
      assert(q.body() == """[{"id":1,"cos":1.0},{"id":2,"cos":0.6}]""")
    }
    // scrub_pii + hash_sample compose in one tenant query
    eventually {
      val q = get("/api/data/query?api_key=key1&query=" + enc(
        "SELECT scrub_pii(concat(label, ' x@y.io 1.2.3.4')) AS s FROM fdocs WHERE hash_sample(label, 1.0)"))
      assert(q.statusCode() == 200)
      assert(q.body() == """[{"s":"greeting <EMAIL> <IP>"}]""")
    }
    // the SELECT-only gate still holds with functions registered
    val bad = get("/api/data/query?api_key=key1&query=" + enc("DROP TABLE fdocs"))
    assert(bad.statusCode() == 400)
  }

  test("analytics endpoints: funnel, dedup, bm25, expectations, hot_keys over HTTP as a tenant") {
    def analytics(op: String, body: String, key: String = "key1",
                  format: String = ""): HttpResponse[String] = {
      val fq = if (format.nonEmpty) s"&format=$format" else ""
      post(s"/api/data/analytics/$op?api_key=$key$fq", body)
    }
    // discoverable like /api/functions
    val listed = get("/api/analytics?api_key=key1")
    assert(listed.statusCode() == 200 && listed.body().contains("\"name\":\"funnel\""))

    // ---- funnel: 3 users, signup->activate->purchase; one drops out
    val journeys = Seq(
      (1, "signup", "2024-01-01 10:00:00"), (1, "activate", "2024-01-01 11:00:00"),
      (1, "purchase", "2024-01-01 12:00:00"),
      (2, "signup", "2024-01-02 10:00:00"), (2, "activate", "2024-01-02 10:30:00"),
      (3, "signup", "2024-01-03 10:00:00"), (3, "purchase", "2024-01-03 10:05:00"))
    for (((u, t, ts), i) <- journeys.zipWithIndex)
      post("/api/data/insert/ajourneys?api_key=key1",
        s"""{"uid": $u, "etype": "$t", "ets": "$ts", "seq": $i}""")
    eventually {
      assert(get("/api/data/query?api_key=key1&query=" +
        java.net.URLEncoder.encode("SELECT count(*) AS n FROM ajourneys", "UTF-8"))
        .body() == s"""[{"n":${journeys.size}}]""")
    }
    val funnel = analytics("funnel",
      """{"table": "ajourneys", "user_col": "uid", "ts_col": "ets",
        | "tie_col": "seq", "type_col": "etype",
        | "steps": ["signup", "activate", "purchase"]}""".stripMargin)
    assert(funnel.statusCode() == 200, funnel.body())
    // user 3's purchase came before any activate: step 2 counts only user 1
    assert(funnel.body() ==
      """[{"step_idx":0,"step":"signup","users":3,"rate":1.0},""" +
        """{"step_idx":1,"step":"activate","users":2,"rate":0.6666666666666666},""" +
        """{"step_idx":2,"step":"purchase","users":1,"rate":0.3333333333333333}]""",
      funnel.body())
    // time-boxed variant: a 30-minute deadline drops user 1's slow chain
    val boxed = analytics("funnel",
      """{"table": "ajourneys", "user_col": "uid", "ts_col": "ets",
        | "tie_col": "seq", "type_col": "etype",
        | "steps": ["signup", "activate"], "within_seconds": 1800}""".stripMargin)
    assert(boxed.statusCode() == 200 && boxed.body().contains("\"users\":1"), boxed.body())

    // ---- dedup: exact + near candidates on planted duplicates
    val texts = Seq(
      (10, "the quick brown fox jumps over the lazy dog"),
      (11, "the quick brown fox jumps over the lazy dog"),
      (12, "the quick brown fox jumps over the lazy cat today"),
      (13, "completely different content about spark engines"))
    for ((id, t) <- texts)
      post("/api/data/insert/adocs?api_key=key1", s"""{"did": $id, "body": "$t"}""")
    eventually {
      assert(get("/api/data/query?api_key=key1&query=" +
        java.net.URLEncoder.encode("SELECT count(*) AS n FROM adocs", "UTF-8"))
        .body() == """[{"n":4}]""")
    }
    val exact = analytics("dedup_exact", """{"table": "adocs", "id_col": "did", "text_col": "body"}""")
    assert(exact.statusCode() == 200)
    // 11 is an exact copy of 10 -> survivor is the lower id
    val survivors = "\"did\":(\\d+)".r.findAllMatchIn(exact.body()).map(_.group(1).toInt).toSet
    assert(survivors == Set(10, 12, 13), exact.body())
    val near = analytics("dedup_near",
      """{"table": "adocs", "id_col": "did", "text_col": "body", "min_jaccard": 0.3}""")
    assert(near.statusCode() == 200)
    assert(near.body().contains("\"id_a\":10") && near.body().contains("\"id_b\":11"),
      s"exact copies must be near-candidates too: ${near.body()}")
    assert(!near.body().contains("13"), s"unrelated doc must not pair: ${near.body()}")

    // ---- bm25 retrieval (csv format exercises the encoder switch)
    val bm = analytics("bm25",
      """{"table": "adocs", "id_col": "did", "text_col": "body",
        | "query": "spark engines", "k": 2}""".stripMargin, format = "csv")
    assert(bm.statusCode() == 200 && bm.body().startsWith("did,bm25\n13,"), bm.body())

    // ---- expectations: one row per rule, violations counted
    val exp = analytics("expectations",
      """{"table": "adocs", "rules": [
        |  {"type": "not_null", "col": "body"},
        |  {"type": "unique", "cols": ["body"]},
        |  {"type": "in_range", "col": "did", "lo": 0, "hi": 11}
        |]}""".stripMargin)
    assert(exp.statusCode() == 200, exp.body())
    assert(exp.body().contains("""{"rule":"not_null:body","violations":0,"passed":true}"""), exp.body())
    assert(exp.body().contains(""""rule":"unique:body","violations":1"""), exp.body())
    assert(exp.body().contains(""""rule":"in_range:did","violations":2"""), exp.body())

    // ---- hot_keys
    val hot = analytics("hot_keys", """{"table": "ajourneys", "keys": ["etype"], "k": 1}""")
    assert(hot.statusCode() == 200 && hot.body().contains("\"etype\":\"signup\""), hot.body())

    // ---- ann: exact cosine top-k over JSON-ingested double vectors
    for ((id, x, y) <- Seq((1, 3.0, 4.0), (2, 1.0, 0.0), (3, -3.0, -4.0)))
      post("/api/data/insert/avecs?api_key=key1", s"""{"vid": $id, "emb": [$x, $y]}""")
    eventually {
      assert(get("/api/data/query?api_key=key1&query=" +
        java.net.URLEncoder.encode("SELECT count(*) AS n FROM avecs", "UTF-8"))
        .body() == """[{"n":3}]""")
    }
    // JSON-array inserts flatten to emb_0/emb_1; vec_cols reassembles
    val ann = analytics("ann",
      """{"table": "avecs", "id_col": "vid", "vec_cols": ["emb_0", "emb_1"],
        | "query_vector": [3.0, 4.0], "k": 2}""".stripMargin)
    assert(ann.statusCode() == 200, ann.body())
    assert(ann.body() == """[{"vid":1,"cosine":1.0},{"vid":2,"cosine":0.6}]""", ann.body())
    // lsh mode: on a tiny corpus auto-planes degrade toward exact scan
    val annLsh = analytics("ann",
      """{"table": "avecs", "id_col": "vid", "vec_cols": ["emb_0", "emb_1"],
        | "query_vector": [3.0, 4.0], "k": 1, "mode": "lsh"}""".stripMargin)
    assert(annLsh.statusCode() == 200 && annLsh.body().contains("\"vid\":1"), annLsh.body())
    assert(analytics("ann",
      """{"table": "avecs", "id_col": "vid", "vec_cols": ["emb_0"],
        | "query_vector": [1.0], "k": 1, "mode": "warp"}""".stripMargin)
      .statusCode() == 400)

    // ---- journeys: top_paths + transitions over the funnel fixture
    val paths = analytics("top_paths",
      """{"table": "ajourneys", "user_col": "uid", "ts_col": "ets",
        | "tie_col": "seq", "type_col": "etype", "path_len": 2, "k": 1}""".stripMargin)
    assert(paths.statusCode() == 200 &&
      paths.body() == """[{"path":"signup>activate","path_len":2,"n_users":2}]""",
      paths.body())
    val trans = analytics("transitions",
      """{"table": "ajourneys", "user_col": "uid", "ts_col": "ets",
        | "tie_col": "seq", "type_col": "etype"}""".stripMargin)
    assert(trans.statusCode() == 200 &&
      trans.body().contains("""{"from_type":"signup","to_type":"activate","n_transitions":2}"""),
      trans.body())

    // ---- ohlc + anomalies + growth_accounting (decode smoke: 200 +
    // plausible shape; the operators' values are oracle-checked in the
    // battery, this pins the HTTP decode path)
    for ((i, v) <- Seq((1, 5.0), (2, 9.0), (3, 2.0), (4, 7.0)))
      post("/api/data/insert/aticks?api_key=key1",
        s"""{"k": "s1", "t": "2024-01-01 10:0$i:00", "seq": $i, "v": $v}""")
    eventually {
      assert(get("/api/data/query?api_key=key1&query=" +
        java.net.URLEncoder.encode("SELECT count(*) AS n FROM aticks", "UTF-8"))
        .body() == """[{"n":4}]""")
    }
    val ohlc = analytics("ohlc",
      """{"table": "aticks", "ts_col": "t", "tie_col": "seq",
        | "key_col": "k", "value_col": "v", "bucket": "hour"}""".stripMargin)
    assert(ohlc.statusCode() == 200 &&
      ohlc.body().contains(""""open":5.0""") && ohlc.body().contains(""""close":7.0""") &&
      ohlc.body().contains(""""high":9.0""") && ohlc.body().contains(""""low":2.0"""),
      ohlc.body())
    val anom = analytics("anomalies",
      """{"table": "ajourneys", "ts_col": "ets", "key_col": "etype",
        | "bucket": "hour", "trailing": 2}""".stripMargin)
    assert(anom.statusCode() == 200, anom.body())
    val growth = analytics("growth_accounting",
      """{"table": "ajourneys", "user_col": "uid", "ts_col": "ets"}""")
    assert(growth.statusCode() == 200 && growth.body().contains("\"n_new\""),
      growth.body())

    // ---- audience_overlap: exact-regime theta over the journeys
    // fixture — signup users {1,2,3}, activate users {1,2}
    val ovl = analytics("audience_overlap",
      """{"table": "ajourneys", "user_col": "uid", "segment_col": "etype",
        | "a": "signup", "b": "activate"}""".stripMargin)
    assert(ovl.statusCode() == 200 && ovl.body() ==
      """[{"n_a":3.0,"n_b":2.0,"n_both":2.0,"n_a_only":1.0,"n_union":3.0}]""",
      ovl.body())

    // ---- text_quality: strip + annotate + readability in one call
    post("/api/data/insert/aweb?api_key=key1",
      """{"pid": 1, "body": "<p>The quick fox jumped.</p><p>It ran!</p>"}""")
    eventually {
      assert(get("/api/data/query?api_key=key1&query=" +
        java.net.URLEncoder.encode("SELECT count(*) AS n FROM aweb", "UTF-8"))
        .body() == """[{"n":1}]""")
    }
    val tq = analytics("text_quality",
      """{"table": "aweb", "text_col": "body", "strip_html": true}""")
    assert(tq.statusCode() == 200, tq.body())
    assert(tq.body().contains("\"n_tokens\":6") && tq.body().contains("\"n_sentences\":2") &&
      tq.body().contains("\"lang_pred\":\"en\""), tq.body())

    // ---- sample (deterministic: two calls agree; salt changes it)
    val s1 = analytics("sample", """{"table": "adocs", "id_col": "did", "fraction": 0.5}""")
    val s2 = analytics("sample", """{"table": "adocs", "id_col": "did", "fraction": 0.5}""")
    assert(s1.statusCode() == 200 && s1.body() == s2.body(),
      "hash sample must be deterministic across calls")
    val all = analytics("sample", """{"table": "adocs", "id_col": "did", "fraction": 1.0}""")
    assert("\"did\"".r.findAllIn(all.body()).size == 4, all.body())

    // ---- chunk: 9-token doc, size 4 overlap 2 -> windows at 0,2,4
    val ch = analytics("chunk",
      """{"table": "adocs", "id_col": "did", "text_col": "body",
        | "chunk_size": 4, "overlap": 2}""".stripMargin)
    assert(ch.statusCode() == 200, ch.body())
    assert(ch.body().contains("\"chunk_idx\"") || ch.body().contains("\"chunk\""), ch.body())

    // ---- isolation + validation: clean 400s, never stack traces
    assert(analytics("funnel", """{"table": "ajourneys"}""").statusCode() == 400)
    assert(analytics("nope", """{"table": "adocs"}""").statusCode() == 400)
    assert(analytics("hot_keys", """{"table": "adocs", "keys": ["did"]}""", key = "key2")
      .statusCode() == 400, "tenant 2 must not see tenant 1's table")
    assert(analytics("hot_keys", """not json""").statusCode() == 400)
    // user-shaped planning failures are 400s, not engine 500s: an
    // unresolvable column (AnalysisException) and an operator parameter
    // require() (bands must divide numHashes)
    assert(analytics("hot_keys", """{"table": "adocs", "keys": ["no_such_col"]}""")
      .statusCode() == 400)
    assert(analytics("dedup_near",
      """{"table": "adocs", "id_col": "did", "text_col": "body", "bands": 7}""")
      .statusCode() == 400)
  }

  test("store lifecycle over HTTP: index_build + indexed probes, kind safety, tenant isolation") {
    def analytics(op: String, body: String, key: String = "key1"): HttpResponse[String] =
      post(s"/api/data/analytics/$op?api_key=$key", body)
    def seed(table: String, rows: Seq[String]): Unit = {
      rows.foreach(r => post(s"/api/data/insert/$table?api_key=key1", r))
      eventually {
        assert(get("/api/data/query?api_key=key1&query=" +
          java.net.URLEncoder.encode(s"SELECT count(*) AS n FROM $table", "UTF-8"))
          .body() == s"""[{"n":${rows.size}}]""")
      }
    }

    // ---- corpus with planted near-dups
    seed("sdocs", Seq(
      """{"did": 1, "body": "alpha beta gamma delta epsilon zeta eta theta"}""",
      """{"did": 2, "body": "alpha beta gamma delta epsilon zeta eta iota"}""",
      """{"did": 3, "body": "totally different words about streaming engines here"}"""))

    // ---- minhash: build, then probe a batch against the STORE
    val mh = analytics("index_build",
      """{"kind": "minhash", "store": "mh", "table": "sdocs",
        | "id_col": "did", "text_col": "body", "n_parts": 4}""".stripMargin)
    assert(mh.statusCode() == 200 && mh.body().contains("\"status\":\"built\""), mh.body())
    val nearIdx = analytics("dedup_near_indexed",
      """{"store": "mh", "table": "sdocs", "id_col": "did", "text_col": "body",
        | "min_jaccard": 0.3}""".stripMargin)
    assert(nearIdx.statusCode() == 200, nearIdx.body())
    assert(nearIdx.body().contains("\"id_a\":1") && nearIdx.body().contains("\"id_b\":2"),
      nearIdx.body())
    assert(!nearIdx.body().contains("\"id_b\":3"), nearIdx.body())

    // ---- fingerprint: history store; dedup_new keeps only unseen text
    assert(analytics("index_build",
      """{"kind": "fingerprint", "store": "fp", "table": "sdocs",
        | "text_col": "body", "n_buckets": 4}""".stripMargin).statusCode() == 200)
    seed("sbatch", Seq(
      """{"did": 10, "body": "alpha beta gamma delta epsilon zeta eta theta"}""",
      """{"did": 11, "body": "brand new never before seen content"}"""))
    val fresh = analytics("dedup_new",
      """{"store": "fp", "table": "sbatch", "text_col": "body"}""")
    assert(fresh.statusCode() == 200, fresh.body())
    assert(fresh.body().contains("\"did\":11") && !fresh.body().contains("\"did\":10"),
      fresh.body())

    // ---- bm25: indexed probe must equal the direct scan op exactly
    assert(analytics("index_build",
      """{"kind": "bm25", "store": "lex", "table": "sdocs",
        | "id_col": "did", "text_col": "body", "n_parts": 4}""".stripMargin)
      .statusCode() == 200)
    val probe = analytics("bm25_indexed",
      """{"store": "lex", "query": "streaming engines alpha", "k": 3}""")
    val direct = analytics("bm25",
      """{"table": "sdocs", "id_col": "did", "text_col": "body",
        | "query": "streaming engines alpha", "k": 3}""".stripMargin)
    assert(probe.statusCode() == 200 && direct.statusCode() == 200, probe.body())
    // same scoring expression, same quantization: byte-equal bodies
    // modulo the id column name (indexed stores normalize it to `id`)
    assert(probe.body() == direct.body().replace("\"did\":", "\"id\":"),
      s"indexed=${probe.body()} direct=${direct.body()}")

    // ---- ivfpq: two well-separated clusters; probe lands in the right one
    val a = (0 until 6).map(i => s"""{"vid": ${100 + i}, "emb": [1.0, 0.0${i}, 0.0, 0.0]}""")
    val b = (0 until 6).map(i => s"""{"vid": ${200 + i}, "emb": [0.0, 0.0${i}, 1.0, 0.0]}""")
    seed("svecs", a ++ b)
    assert(analytics("index_build",
      """{"kind": "ivfpq", "store": "pq", "table": "svecs", "id_col": "vid",
        | "vec_cols": ["emb_0", "emb_1", "emb_2", "emb_3"],
        | "n_cells": 2, "n_codes": 4, "m": 2}""".stripMargin).statusCode() == 200)
    val annIdx = analytics("ann_indexed",
      """{"store": "pq", "id_col": "vid", "query_vector": [1.0, 0.0, 0.0, 0.0],
        | "k": 3, "n_probe": 1}""".stripMargin)
    assert(annIdx.statusCode() == 200, annIdx.body())
    val topIds = "\"vid\":(\\d+)".r.findAllMatchIn(annIdx.body()).map(_.group(1).toInt).toSeq
    assert(topIds.nonEmpty && topIds.forall(_ < 200),
      s"query in cluster A must retrieve only cluster-A ids: ${annIdx.body()}")

    // ---- theta: per-part segment sketches; overlap off the store (exact regime)
    seed("sevents", Seq(
      """{"uid": 1, "seg": "view", "day": "d1"}""", """{"uid": 2, "seg": "view", "day": "d1"}""",
      """{"uid": 3, "seg": "view", "day": "d2"}""", """{"uid": 2, "seg": "click", "day": "d1"}""",
      """{"uid": 3, "seg": "click", "day": "d1"}""", """{"uid": 4, "seg": "click", "day": "d2"}"""))
    assert(analytics("index_build",
      """{"kind": "theta", "store": "aud", "table": "sevents",
        | "segment_col": "seg", "value_col": "uid"}""".stripMargin).statusCode() == 200)
    val ovl = analytics("audience_overlap_indexed",
      """{"store": "aud", "segment_col": "seg", "a": "view", "b": "click"}""")
    assert(ovl.statusCode() == 200 && ovl.body() ==
      """[{"n_a":3.0,"n_b":3.0,"n_both":2.0,"n_a_only":1.0,"n_union":4.0}]""", ovl.body())
    // an absent segment yields a zeros row, never zero rows
    val absent = analytics("audience_overlap_indexed",
      """{"store": "aud", "segment_col": "seg", "a": "view", "b": "nope"}""")
    assert(absent.statusCode() == 200 && absent.body().contains("\"n_b\":0.0"), absent.body())

    // ---- kll: per-key quantile store (small n => sketch is exact)
    seed("svals", (1 to 9).map(i => s"""{"g": "x", "v": $i.0}"""))
    assert(analytics("index_build",
      """{"kind": "kll", "store": "lat", "table": "svals",
        | "key_cols": ["g"], "value_col": "v"}""".stripMargin).statusCode() == 200)
    val q = analytics("quantiles_indexed",
      """{"store": "lat", "key_cols": ["g"], "qs": [0.5]}""")
    assert(q.statusCode() == 200 && q.body() ==
      """[{"g":"x","n_rows":9,"p50":5.0}]""", q.body())

    // ---- kind safety + lifecycle error shapes, all clean 400s
    assert(analytics("bm25_indexed", """{"store": "mh", "query": "alpha", "k": 1}""")
      .statusCode() == 400, "probing a minhash store as bm25 must 400")
    assert(analytics("bm25_indexed", """{"store": "ghost", "query": "alpha", "k": 1}""")
      .statusCode() == 400, "unknown store must 400")
    assert(analytics("index_build",
      """{"kind": "bm25", "store": "mh", "table": "sdocs",
        | "id_col": "did", "text_col": "body"}""".stripMargin)
      .statusCode() == 400, "rebuilding an existing store as a different kind must 400")
    assert(analytics("index_build",
      """{"kind": "bm25", "store": "lex", "table": "sdocs", "id_col": "did",
        | "text_col": "body", "mode": "append"}""".stripMargin)
      .statusCode() == 400, "bm25 appends are full-refresh-only")
    assert(analytics("index_build",
      """{"kind": "minhash", "store": "mh", "table": "sdocs", "id_col": "did",
        | "text_col": "body", "mode": "append", "n_parts": 8}""".stripMargin)
      .statusCode() == 400, "append with mismatched store parameters must 400")
    assert(analytics("index_build",
      """{"kind": "warp", "store": "w", "table": "sdocs"}""").statusCode() == 400)
    assert(analytics("bm25_indexed", """{"store": "../mh", "query": "a", "k": 1}""")
      .statusCode() == 400, "store names are safe-name-gated")
    // tenant isolation: tenant 2 has no store named mh
    assert(analytics("dedup_near_indexed",
      """{"store": "mh", "table": "sdocs", "id_col": "did", "text_col": "body"}""",
      key = "key2").statusCode() == 400)
  }

  test("curation composites over HTTP: dedup_apply, split, decontaminate") {
    def analytics(op: String, body: String): HttpResponse[String] =
      post(s"/api/data/analytics/$op?api_key=key1", body)
    // reuses the sdocs/sbatch fixtures from the lifecycle test (1≈2 near-dups, 3 distinct)
    val cleaned = analytics("dedup_apply",
      """{"table": "sdocs", "id_col": "did", "text_col": "body", "threshold": 0.3}""")
    assert(cleaned.statusCode() == 200, cleaned.body())
    val kept = "\"did\":(\\d+)".r.findAllMatchIn(cleaned.body()).map(_.group(1).toInt).toSet
    assert(kept == Set(1, 3), s"near-dup family keeps its minimum id: ${cleaned.body()}")

    val sp = analytics("split",
      """{"table": "sdocs", "id_col": "did", "text_col": "body", "threshold": 0.3,
        | "splits": [{"label": "train", "fraction": 0.5}, {"label": "test", "fraction": 0.5}]}""".stripMargin)
    assert(sp.statusCode() == 200, sp.body())
    val byId = "\"did\":(\\d+).*?\"split\":\"(\\w+)\"".r
      .findAllMatchIn(sp.body()).map(m => m.group(1).toInt -> m.group(2)).toMap
    assert(byId.keySet == Set(1, 2, 3), sp.body())
    assert(byId(1) == byId(2), s"near-dup family must not straddle splits: ${sp.body()}")
    assert(analytics("split",
      """{"table": "sdocs", "id_col": "did", "text_col": "body",
        | "splits": [{"label": "train", "fraction": 0.5}]}""".stripMargin)
      .statusCode() == 400, "fractions must sum to 1")

    // doc 10 copies doc 1's text; doc 11 is clean — 3-gram contamination
    val dec = analytics("decontaminate",
      """{"table": "sbatch", "bench_table": "sdocs", "id_col": "did",
        | "text_col": "body", "width": 3}""".stripMargin)
    assert(dec.statusCode() == 200, dec.body())
    assert(dec.body().contains("\"did\":10,\"matched\":6,\"contaminated\":true"), dec.body())
    assert(dec.body().contains("\"did\":11,\"matched\":0,\"contaminated\":false"), dec.body())
    val decB = analytics("decontaminate",
      """{"table": "sbatch", "bench_table": "sdocs", "id_col": "did",
        | "text_col": "body", "width": 3, "bloom": true}""".stripMargin)
    assert(decB.statusCode() == 200 && decB.body() == dec.body(),
      "bloom pre-filter must be bit-identical to the exact path")
  }

  test("FAIR pools: a light tenant's query overlaps a heavy tenant's run instead of queuing behind it") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    assert(spark.sparkContext.getSchedulingMode.toString == "FAIR",
      "context must boot in FAIR mode (build.sbt -Dspark.scheduler.mode=FAIR)")
    def enc(q: String) = java.net.URLEncoder.encode(q, "UTF-8")
    // tenant 1: a table to fan the heavy query out over; tenant 2: a
    // one-row table whose scan is the light query (a literal-only SELECT
    // would collapse to a LocalTableScan and never hit the scheduler)
    for (i <- 1 to 4) post("/api/data/insert/loadt?api_key=key1", s"""{"v": $i}""")
    post("/api/data/insert/tiny2?api_key=key2", """{"w": 1}""")
    def ask(key: String, sql: String): HttpResponse[String] =
      get(s"/api/data/query?api_key=$key&query=${enc(sql)}")
    eventually {
      assert(ask("key1", "SELECT count(*) AS n FROM loadt").body() == """[{"n":4}]""")
      assert(ask("key2", "SELECT count(*) AS n FROM tiny2").body() == """[{"n":1}]""")
    }
    // 16 post-repartition tasks x ~1M md5 rows each: several seconds of
    // work that keeps all 4 cores busy in waves. Under FIFO the light
    // scan queues behind ALL of it; under FAIR it gets the next free
    // slot after one task completes.
    val heavySql = "SELECT count(DISTINCT crc32(md5(concat(cast(v AS string), cast(x AS string))))) AS n " +
      "FROM (SELECT /*+ REPARTITION(16) */ v FROM loadt) " +
      "LATERAL VIEW explode(sequence(1, 250000)) t AS x"
    val lightSql = "SELECT count(*) AS n FROM tiny2"
    val attempts = (1 to 3).iterator.map { _ =>
      @volatile var heavyEnd = 0L
      val heavy = Future { val r = ask("key1", heavySql); heavyEnd = System.nanoTime(); r }
      Thread.sleep(500) // let the heavy job occupy the scheduler
      val r = ask("key2", lightSql)
      val lightEnd = System.nanoTime()
      val hr = Await.result(heavy, 120.seconds)
      assert(hr.statusCode() == 200 && r.statusCode() == 200)
      assert(r.body() == """[{"n":1}]""")
      lightEnd < heavyEnd
    }
    assert(attempts.exists(identity),
      "light tenant query never finished while the heavy tenant's query was still running")
  }

  test("result-byte cap: a runaway result is cut at the bound and the engine stays healthy") {
    // separate server so the cap doesn't perturb the other tests
    val gbase = Files.createTempDirectory("graft-api-cap").toString
    val catalog = new TableCatalog(s"$gbase/tables")
    val ingest = new IngestService(spark, catalog)
    val spool = new Spool(s"$gbase/spool", SpoolConfig(maxRows = 1, rotatePeriodMillis = 100),
      f => ingest.ingestFile(f.getParentFile.getParentFile.getName, f.getParentFile.getName, f))
    val srv = new Server(
      ServerConfig(0, Map("gkey" -> "1"), None, s"$gbase/unhealthy",
        queryTimeoutSeconds = 0, maxResultBytes = 10000),
      catalog, ingest, spool, new QueryExecutor(spark, catalog), new MetaStore(gbase, Set(1L)))
    val gport = srv.start()
    try {
      def ask(sql: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(
          s"http://localhost:$gport/api/data/query?api_key=gkey&query=" +
            java.net.URLEncoder.encode(sql, "UTF-8"))).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      client.send(HttpRequest.newBuilder(URI.create(
        s"http://localhost:$gport/api/data/insert/seed?api_key=gkey"))
        .POST(HttpRequest.BodyPublishers.ofString("""{"v": 1}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      eventually { assert(ask("SELECT count(*) AS n FROM seed").body() == """[{"n":1}]""") }
      // the runaway: a cross-join-shaped explosion streaming ~megabytes;
      // the 10 kB cap must cut the chunked body mid-stream (the client
      // sees a transport error or a truncated, non-parseable body)
      val runaway = "SELECT a.x, b.x AS y FROM " +
        "(SELECT explode(sequence(1, 2000)) AS x FROM seed) a CROSS JOIN " +
        "(SELECT explode(sequence(1, 2000)) AS x FROM seed) b"
      val cut = try {
        val r = ask(runaway)
        assert(r.body().length < 65536,
          s"capped response streamed ${r.body().length} bytes — the cap did not cut it")
        true
      } catch { case _: java.io.IOException => true }
      assert(cut)
      // the engine must remain healthy for the next (normal) request
      val after = ask("SELECT count(*) AS n FROM seed")
      assert(after.statusCode() == 200 && after.body() == """[{"n":1}]""")
    } finally srv.stop()
  }

  test("query timeout: a long-running query's job group is cancelled and the engine stays healthy") {
    val tbase = Files.createTempDirectory("graft-api-timeout").toString
    val catalog = new TableCatalog(s"$tbase/tables")
    val ingest = new IngestService(spark, catalog)
    val spool = new Spool(s"$tbase/spool", SpoolConfig(maxRows = 1, rotatePeriodMillis = 100),
      f => ingest.ingestFile(f.getParentFile.getParentFile.getName, f.getParentFile.getName, f))
    val srv = new Server(
      ServerConfig(0, Map("tkey" -> "1"), None, s"$tbase/unhealthy",
        queryTimeoutSeconds = 1),
      catalog, ingest, spool, new QueryExecutor(spark, catalog), new MetaStore(tbase, Set(1L)))
    val tport = srv.start()
    try {
      def ask(sql: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(
          s"http://localhost:$tport/api/data/query?api_key=tkey&query=" +
            java.net.URLEncoder.encode(sql, "UTF-8"))).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      client.send(HttpRequest.newBuilder(URI.create(
        s"http://localhost:$tport/api/data/insert/seed?api_key=tkey"))
        .POST(HttpRequest.BodyPublishers.ofString("""{"v": 1}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      eventually { assert(ask("SELECT count(*) AS n FROM seed").body() == """[{"n":1}]""") }
      // tens of seconds of md5 hashing uncancelled; the 1 s timeout
      // fires cancelJobGroup, the aggregate never produces its row, and
      // the request fails fast instead of holding task slots
      val heavy = "SELECT count(DISTINCT md5(cast(x AS string))) AS n FROM " +
        "(SELECT /*+ REPARTITION(8) */ v FROM seed) " +
        "LATERAL VIEW explode(sequence(1, 4000000)) t AS x"
      val t0 = System.nanoTime()
      val failed = try {
        val r = ask(heavy)
        r.statusCode() != 200 || !r.body().startsWith("""[{"n":""")
      } catch { case _: java.io.IOException => true }
      val secs = (System.nanoTime() - t0) / 1e9
      assert(failed, "the over-budget query ran to a successful completion")
      assert(secs < 20.0, f"cancellation took $secs%.1f s — job group cancel didn't bite")
      // slots are free again: a normal query completes promptly
      val after = ask("SELECT count(*) AS n FROM seed")
      assert(after.statusCode() == 200 && after.body() == """[{"n":1}]""")
    } finally srv.stop()
  }

  test("metrics endpoint exposes request counters and latency histogram") {
    get("/healthcheck")
    val m = get("/metrics").body()
    assert(m.contains("graft_api_requests_total{route=\"/healthcheck\",method=\"GET\",status=\"200\"}"))
    assert(m.contains("graft_api_request_duration_seconds_bucket"))
    assert(m.contains("graft_api_response_size_bytes_total"))
  }

  /** `graft_api_requests_total` for one label set, 0 when absent. */
  private def requests(route: String, method: String, status: Int): Long = {
    val key = s"""graft_api_requests_total{route="$route",method="$method",status="$status"} """
    get("/metrics").body().linesIterator.find(_.startsWith(key))
      .map(_.stripPrefix(key).toLong).getOrElse(0L)
  }

  test("metrics labels: a 404 after a query counts under <other>, not the query's route") {
    val other404 = requests("<other>", "GET", 404)
    val query404 = requests("/api/data/query", "GET", 404)
    val q = get("/api/data/query?api_key=key1&query=" + java.net.URLEncoder.encode("select 1 as one", "UTF-8"))
    assert(q.statusCode() == 200)
    assert(get("/nope").statusCode() == 404)
    assert(requests("<other>", "GET", 404) == other404 + 1)
    assert(requests("/api/data/query", "GET", 404) == query404)
  }

  test("metrics labels: concurrent requests on two routes are counted exactly per route") {
    val health0 = requests("/healthcheck", "GET", 200)
    val tables0 = requests("/api/tables", "GET", 200)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val sent = (1 to 40).map { i =>
        val path = if (i % 2 == 0) "/healthcheck" else "/api/tables?api_key=key1"
        pool.submit(new java.util.concurrent.Callable[Int] { def call(): Int = get(path).statusCode() })
      }
      assert(sent.forall(_.get(60, java.util.concurrent.TimeUnit.SECONDS) == 200))
    } finally pool.shutdown()
    assert(requests("/healthcheck", "GET", 200) == health0 + 20)
    assert(requests("/api/tables", "GET", 200) == tables0 + 20)
  }

  test("CORS is wildcard and NON-credentialed; preflight answers 204 (router.go:74-81 effective behavior)") {
    val pre = client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port/api/tables"))
      .method("OPTIONS", HttpRequest.BodyPublishers.noBody())
      .header("Origin", "https://anywhere.example")
      .header("Access-Control-Request-Method", "GET").build(),
      HttpResponse.BodyHandlers.ofString())
    assert(pre.statusCode() == 204, s"preflight got ${pre.statusCode()}")
    assert(pre.headers().firstValue("Access-Control-Allow-Origin").orElse("") == "*")
    // the reference pairs AllowedOrigins ["*"] with AllowCredentials — a
    // combination browsers REJECT, so upstream's effective surface is
    // non-credentialed wildcard CORS. Echoing the Origin with
    // Allow-Credentials: true would be strictly MORE permissive (any
    // site could make credentialed requests and read cookie-authed
    // responses); pin that the pair is never sent.
    assert(pre.headers().firstValue("Access-Control-Allow-Credentials").isEmpty,
      "Allow-Credentials must never accompany a wildcard origin")
    assert(pre.headers().firstValue("Access-Control-Allow-Methods").orElse("").contains("DELETE"))
    assert(pre.headers().firstValue("Access-Control-Allow-Headers").orElse("").contains("X-API-KEY"))
    // non-preflight responses carry the same headers
    val r = get("/healthcheck")
    assert(r.headers().firstValue("Access-Control-Allow-Origin").orElse("") == "*")
    assert(r.headers().firstValue("Access-Control-Allow-Credentials").isEmpty)
  }

  test("store management over HTTP: list shows kind+bytes, drop reclaims, tenants isolated") {
    // the lifecycle test above built mh/fp/lex/pq/aud/lat for tenant 1
    val ls = get("/api/stores?api_key=key1")
    assert(ls.statusCode() == 200, ls.body())
    assert(ls.body().contains(""""name":"mh","kind":"minhash""""), ls.body())
    assert(ls.body().contains(""""name":"lex","kind":"bm25""""), ls.body())
    val sizes = """"bytes":(\d+)""".r.findAllMatchIn(ls.body()).map(_.group(1).toLong).toSeq
    assert(sizes.nonEmpty && sizes.forall(_ > 0), s"store bytes must be real on-disk sizes: $sizes")
    // tenant 2 sees none of tenant 1's stores — and cannot drop them
    assert(get("/api/stores?api_key=key2").body() == "[]")
    assert(del("/api/stores/mh?api_key=key2").statusCode() == 404)
    assert(get("/api/stores?api_key=key1").body().contains(""""name":"mh""""))
    // names are safe-name-gated before touching the filesystem
    assert(del("/api/stores/bad.name?api_key=key1").statusCode() == 400)
    // drop: 200 once, listing and probes lose it, re-drop 404s
    val dropped = del("/api/stores/fp?api_key=key1")
    assert(dropped.statusCode() == 200 && dropped.body().contains(""""status":"dropped""""),
      dropped.body())
    assert(!get("/api/stores?api_key=key1").body().contains(""""name":"fp""""))
    assert(post("/api/data/analytics/dedup_new?api_key=key1",
      """{"store": "fp", "table": "sbatch", "text_col": "body"}""").statusCode() == 400)
    assert(del("/api/stores/fp?api_key=key1").statusCode() == 404)
  }

  test("boot recovery reclaims crash-orphaned store-build temps, leaves live stores alone") {
    // a kill -9 mid-index_build strands the dot-prefixed swap temps
    // (in-process failures clean up in the catch; a dead process
    // can't) — invisible to listStores and the quota, so without boot
    // reclaim they leak disk forever. Plant both flavors of debris:
    assert(post("/api/data/analytics/index_build?api_key=key1",
      """{"kind": "fingerprint", "store": "bootkeep", "table": "sbatch",
        | "text_col": "body", "n_buckets": 2}""".stripMargin).statusCode() == 200)
    val storesD = new java.io.File(serverCatalog.storeDir("1", "bootkeep")).getParentFile
    val orphanBuild = new java.io.File(storesD, ".ghost.build-deadbeef")
    val orphanOld = new java.io.File(storesD, ".ghost.old-deadbeef")
    Seq(orphanBuild, orphanOld).foreach { d =>
      d.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(d, "part-0.parquet").toPath, "junk")
    }
    val before = get("/api/stores?api_key=key1").body()
    val reclaimed = serverCatalog.cleanOrphanStoreBuilds("1")
    assert(reclaimed.size == 2, s"expected both orphans reclaimed, got $reclaimed")
    assert(!orphanBuild.exists() && !orphanOld.exists())
    // live stores are untouched: same listing, probes still answer
    assert(get("/api/stores?api_key=key1").body() == before)
    assert(post("/api/data/analytics/dedup_new?api_key=key1",
      """{"store": "bootkeep", "table": "sbatch", "text_col": "body"}""")
      .statusCode() == 200)
  }

  // a corpus whose minhash build takes several seconds on local[4] —
  // the window the guardrail tests below race into. Seeded once, used
  // by the three tests that follow.
  private lazy val bigdocsSeeded: Unit = {
    // 50k docs of ~500 tokens: a 512-hash minhash build over this takes
    // ~15-20 s on local[4] — the window the guardrail tests race into.
    // Seeded through the catalog directly (one Spark write): 50k
    // single-row HTTP inserts would take minutes, and the insert path
    // has its own tests above.
    import org.apache.spark.sql.functions.{col, concat, lit}
    val words = (1 to 500).map(i => s"tok$i").mkString(" ")
    val df = spark.range(1, 50001).select(col("id").as("did"),
      concat(lit(words + " doc"), col("id").cast("string")).as("body"))
    // through the SERVER's catalog instance: the tenant view registry is
    // keyed on its version counter, which append() bumps
    serverCatalog.append(spark, "1", "bigdocs", df.repartition(4))
    eventually {
      assert(get("/api/data/query?api_key=key1&query=" +
        java.net.URLEncoder.encode("SELECT count(*) AS n FROM bigdocs", "UTF-8"))
        .body() == """[{"n":50000}]""")
    }
  }
  private def bigBuildBody(store: String): String =
    s"""{"kind": "minhash", "store": "$store", "table": "bigdocs",
       | "id_col": "did", "text_col": "body", "num_hashes": 512, "n_parts": 4}""".stripMargin

  test("build lock serializes: concurrent build 409, drop-during-build 409, store intact after") {
    bigdocsSeeded
    val storePath = new java.io.File(s"$base/tables/1/stores.d/racy").getAbsolutePath
    val async = client.sendAsync(HttpRequest.newBuilder(URI.create(
      s"http://localhost:$port/api/data/analytics/index_build?api_key=key1"))
      .POST(HttpRequest.BodyPublishers.ofString(bigBuildBody("racy"))).build(),
      HttpResponse.BodyHandlers.ofString())
    // tight spin: the lock is held from planning through the last
    // write, so the first observation lands within milliseconds
    var sawBuilding = false
    while (!sawBuilding && !async.isDone) { sawBuilding = Analytics.isBuilding(storePath); Thread.`yield`() }
    assert(sawBuilding, s"build never observed in flight; path=$storePath")
    // while the build holds the per-store lock: a second build of the
    // same store answers a clean 409 ...
    assert(post("/api/data/analytics/index_build?api_key=key1", bigBuildBody("racy"))
      .statusCode() == 409)
    // ... and so does a drop — the directory is never ripped out from
    // under a running build (the r13 TOCTOU, now closed by holding the
    // same lock across the drop)
    assert(del("/api/stores/racy?api_key=key1").statusCode() == 409)
    val done = async.get(180, java.util.concurrent.TimeUnit.SECONDS)
    assert(done.statusCode() == 200 && done.body().contains(""""status":"built""""), done.body())
    // the store swapped in intact and is probable (small probe batch —
    // probing with the 50k corpus itself would re-sign all of it)
    assert(get("/api/stores?api_key=key1").body().contains(""""name":"racy""""))
    post("/api/data/insert/probedocs?api_key=key1",
      """{"did": 900001, "body": "tok1 tok2 tok3 tok4 tok5 tok6 tok7 tok8"}""")
    eventually {
      assert(get("/api/data/query?api_key=key1&query=" +
        java.net.URLEncoder.encode("SELECT count(*) AS n FROM probedocs", "UTF-8"))
        .body() == """[{"n":1}]""")
    }
    val probe = post("/api/data/analytics/dedup_near_indexed?api_key=key1",
      """{"store": "racy", "table": "probedocs", "id_col": "did", "text_col": "body"}""")
    assert(probe.statusCode() == 200, probe.body())
    // lock released: the drop now succeeds
    assert(del("/api/stores/racy?api_key=key1").statusCode() == 200)
  }

  test("build disconnect: a client that hangs up mid-build stops consuming the cluster") {
    bigdocsSeeded
    val storePath = new java.io.File(s"$base/tables/1/stores.d/gone").getAbsolutePath
    // raw socket so we can slam the connection shut after the request
    // goes out — HttpClient has no mid-response hangup
    val sock = new java.net.Socket("localhost", port)
    val body = bigBuildBody("gone")
    val req = s"POST /api/data/analytics/index_build?api_key=key1 HTTP/1.1\r\n" +
      s"Host: localhost:$port\r\nContent-Type: application/json\r\n" +
      s"Content-Length: ${body.getBytes("UTF-8").length}\r\n\r\n$body"
    sock.getOutputStream.write(req.getBytes("UTF-8"))
    sock.getOutputStream.flush()
    val spinDeadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!Analytics.isBuilding(storePath) && System.nanoTime() < spinDeadline) Thread.`yield`()
    assert(Analytics.isBuilding(storePath), "build did not start")
    sock.close() // hang up while the build runs
    // the 1 s heartbeat hits the dead socket, cancels the job group,
    // and the build lock releases well before the build could finish
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (Analytics.isBuilding(storePath) && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(!Analytics.isBuilding(storePath), "build still running 30 s after disconnect")
    // no store materialized: the overwrite tmp was deleted, nothing swapped in
    assert(!get("/api/stores?api_key=key1").body().contains(""""name":"gone""""),
      "a cancelled build must not leave a probable store")
    // the engine is healthy for the next request
    val after = get("/api/data/query?api_key=key1&query=" +
      java.net.URLEncoder.encode("SELECT count(*) AS n FROM bigdocs", "UTF-8"))
    assert(after.statusCode() == 200 && after.body() == """[{"n":50000}]""", after.body())
  }

  test("build timeout: an over-budget index_build is cancelled at queryTimeoutSeconds") {
    // dedicated server so the 1 s budget doesn't perturb other tests;
    // it shares the spark context and the same catalog root, so the
    // bigdocs fixture is visible without re-seeding
    bigdocsSeeded
    val catalog = new TableCatalog(s"$base/tables")
    val ingest = new IngestService(spark, catalog)
    val spool = new Spool(s"$base/spool-bto", SpoolConfig(maxRows = 1, rotatePeriodMillis = 100),
      f => ingest.ingestFile(f.getParentFile.getParentFile.getName, f.getParentFile.getName, f))
    val srv = new Server(
      ServerConfig(0, Map("key1" -> "1"), None, s"$base/unhealthy-bto",
        queryTimeoutSeconds = 1),
      catalog, ingest, spool, new QueryExecutor(spark, catalog),
      new MetaStore(Files.createTempDirectory("graft-api-bto").toString, Set(1L)))
    val bport = srv.start()
    try {
      val t0 = System.nanoTime()
      val r = try {
        val resp = client.send(HttpRequest.newBuilder(URI.create(
          s"http://localhost:$bport/api/data/analytics/index_build?api_key=key1"))
          .POST(HttpRequest.BodyPublishers.ofString(bigBuildBody("slowpoke"))).build(),
          HttpResponse.BodyHandlers.ofString())
        // headers went out 200 before the reaper fired; the cut body
        // must not contain the completion row
        !resp.body().contains(""""status":"built"""")
      } catch { case _: java.io.IOException => true }
      val secs = (System.nanoTime() - t0) / 1e9
      assert(r, "the over-budget build ran to a successful completion")
      assert(secs < 60.0, f"build cancellation took $secs%.1f s — the reaper didn't bite")
      // nothing swapped in; the engine answers the next request
      assert(!get("/api/stores?api_key=key1").body().contains(""""name":"slowpoke""""))
      val after = get("/api/data/query?api_key=key1&query=" +
        java.net.URLEncoder.encode("SELECT count(*) AS n FROM bigdocs", "UTF-8"))
      assert(after.statusCode() == 200 && after.body() == """[{"n":50000}]""", after.body())
    } finally srv.stop()
  }

  test("serverConfigFromEnv: knobs parse; malformed or negative values fail startup naming the var") {
    val cfg = Main.serverConfigFromEnv(
      Map("GRAFT_QUERY_TIMEOUT_S" -> "7", "GRAFT_MAX_RESULT_BYTES" -> "1024",
          "GRAFT_MAX_STORE_BYTES" -> "4096"), 0, "k")
    assert(cfg.queryTimeoutSeconds == 7 && cfg.maxResultBytes == 1024 &&
      cfg.maxStoreBytes == 4096)
    val defaults = Main.serverConfigFromEnv(Map.empty, 0, "k")
    assert(defaults.queryTimeoutSeconds == 300 && defaults.maxResultBytes == 0 &&
      defaults.maxStoreBytes == 0)
    val bad = intercept[IllegalArgumentException](
      Main.serverConfigFromEnv(Map("GRAFT_QUERY_TIMEOUT_S" -> "soon"), 0, "k"))
    assert(bad.getMessage.contains("GRAFT_QUERY_TIMEOUT_S"))
    // a negative timeout would silently disable the reaper (> 0 arms it)
    val neg = intercept[IllegalArgumentException](
      Main.serverConfigFromEnv(Map("GRAFT_MAX_RESULT_BYTES" -> "-1"), 0, "k"))
    assert(neg.getMessage.contains("GRAFT_MAX_RESULT_BYTES"))
  }

  test("store quota: an over-quota index_build answers 413 before any Spark job") {
    val qbase = Files.createTempDirectory("graft-api-quota").toString
    val catalog = new TableCatalog(s"$qbase/tables")
    val ingest = new IngestService(spark, catalog)
    val spool = new Spool(s"$qbase/spool", SpoolConfig(maxRows = 1, rotatePeriodMillis = 100),
      f => ingest.ingestFile(f.getParentFile.getParentFile.getName, f.getParentFile.getName, f))
    val srv = new Server(
      ServerConfig(0, Map("qkey" -> "1"), None, s"$qbase/unhealthy",
        maxStoreBytes = 1), // any existing store puts the tenant over
      catalog, ingest, spool, new QueryExecutor(spark, catalog), new MetaStore(qbase, Set(1L)))
    val qport = srv.start()
    try {
      def qpost(path: String, body: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$qport$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      qpost("/api/data/insert/qdocs?api_key=qkey", """{"did": 1, "body": "alpha beta gamma"}""")
      eventually {
        assert(client.send(HttpRequest.newBuilder(URI.create(
          s"http://localhost:$qport/api/data/query?api_key=qkey&query=" +
            java.net.URLEncoder.encode("SELECT count(*) AS n FROM qdocs", "UTF-8")))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
          .body() == """[{"n":1}]""")
      }
      val buildBody =
        """{"kind": "fingerprint", "store": "fq", "table": "qdocs",
          | "text_col": "body", "n_buckets": 2}""".stripMargin
      // first build: used bytes 0 < quota, allowed
      assert(qpost("/api/data/analytics/index_build?api_key=qkey", buildBody)
        .statusCode() == 200)
      // a SECOND store now exceeds the quota — 413 before planning
      val denied = qpost("/api/data/analytics/index_build?api_key=qkey",
        buildBody.replace("\"fq\"", "\"fq2\""))
      assert(denied.statusCode() == 413, s"${denied.statusCode()} ${denied.body()}")
      assert(denied.body().contains("store quota"), denied.body())
      // an overwrite REBUILD of the existing store stays allowed (its
      // current bytes don't count — the rebuild replaces them) ...
      assert(qpost("/api/data/analytics/index_build?api_key=qkey", buildBody)
        .statusCode() == 200)
      // ... but an append to it counts them: 413
      assert(qpost("/api/data/analytics/index_build?api_key=qkey",
        buildBody.replace(""""table"""", """"mode": "append", "table""""))
        .statusCode() == 413)
    } finally srv.stop()
  }

  test("probe-vs-drop: DELETE 409s while a probe holds a read guard; probes 409 mid-drop") {
    // dedicated store so no other test depends on its lifecycle
    assert(post("/api/data/analytics/index_build?api_key=key1",
      """{"kind": "fingerprint", "store": "dropguard", "table": "sbatch",
        | "text_col": "body", "n_buckets": 2}""".stripMargin).statusCode() == 200)
    val path = serverCatalog.storeDir("1", "dropguard")
    // a streaming probe's read guard is held from planning to the end
    // of the body; simulate one in flight
    Analytics.acquireStoreRead(path)
    try {
      val denied = del("/api/stores/dropguard?api_key=key1")
      assert(denied.statusCode() == 409, s"${denied.statusCode()} ${denied.body()}")
      assert(denied.body().contains("probes in flight"), denied.body())
      // the store must still answer probes after the refused drop
      assert(post("/api/data/analytics/dedup_new?api_key=key1",
        """{"store": "dropguard", "table": "sbatch", "text_col": "body"}""")
        .statusCode() == 200)
    } finally Analytics.releaseStoreRead(path)
    // the probe side of the two-phase protocol: a probe arriving while
    // a drop is declared backs off with 409 instead of racing the rm.
    // beginDrop self-cancels while readers are present, and the probe
    // above releases its guard a hair AFTER its response body lands
    // (handler finally vs client recv) — so declare until it sticks
    eventually { assert(Analytics.beginDrop(path), "readers still present") }
    try {
      val probeDenied = post("/api/data/analytics/dedup_new?api_key=key1",
        """{"store": "dropguard", "table": "sbatch", "text_col": "body"}""")
      assert(probeDenied.statusCode() == 409, s"${probeDenied.statusCode()} ${probeDenied.body()}")
    } finally Analytics.endDrop(path)
    // with neither guard held, the drop completes
    assert(del("/api/stores/dropguard?api_key=key1").statusCode() == 200)
  }

  test("graceful stop drains: an in-flight streamed query completes; new connections are refused") {
    bigdocsSeeded
    // dedicated server instance — stopping the suite's shared one would
    // strand every later test
    val srv = buildServer()
    val p2 = srv.start()
    // Deterministic in-flight window, no race on query speed: stream a
    // ~10 MB body (50k rows x 200-char prefix) and DON'T read it — the
    // bytes back up in the client/OS socket buffers until the server's
    // encoder blocks mid-body. stop() then lands while the exchange is
    // provably alive.
    val q = java.net.URLEncoder.encode(
      "SELECT substr(body, 1, 200) AS b FROM bigdocs", "UTF-8")
    val resp = client.send(HttpRequest.newBuilder(URI.create(
      s"http://localhost:$p2/api/data/query?api_key=key1&query=$q")).GET().build(),
      HttpResponse.BodyHandlers.ofInputStream())
    assert(resp.statusCode() == 200)
    val stopper = new Thread(() => srv.stop())
    stopper.start()
    Thread.sleep(500)
    assert(stopper.isAlive,
      "stop() returned while a streamed response was still in flight — the drain is gone")
    // now consume: the drain must let the blocked exchange COMPLETE
    // byte-faithfully instead of cutting the connection
    val body = new String(resp.body().readAllBytes(), "UTF-8")
    assert(body.startsWith("[{") && body.endsWith("}]"), body.take(80))
    assert("\"b\":".r.findAllIn(body).size == 50000, s"truncated body: ${body.length} bytes")
    stopper.join(60000)
    assert(!stopper.isAlive, "stop() still blocked after the exchange drained")
    // stopped means stopped: the listener is closed for new work
    val refused = try {
      client.send(HttpRequest.newBuilder(URI.create(
        s"http://localhost:$p2/api/health")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      false
    } catch { case _: java.io.IOException => true }
    assert(refused, "a stopped server accepted a new connection")
  }
}
