package graft.perfbench

import com.fasterxml.jackson.databind.node.ObjectNode
import graft.core.Json
import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Serving benchmark harness: stages seeded data, boots the product
  * server as its own process (as `graft.api.Main` boots it), drives the
  * workload's schedule over HTTP and judges every answer; with `--trace
  * 1` it then drives the same schedule in-process with a span around
  * each layer's public call. Writes the raw run to `<out>/raw.json`;
  * `perfbench/run.py` turns that into metrics.
  *
  *   java -cp <classpath> graft.perfbench.Main --workload read_dash \
  *     --seed 1 --seconds 12 --trace 0 --out <dir> --cache <dir> \
  *     [--smoke]
  */
object Main {
  val StaticKey = "perfbench-static-key"
  val SamplerCycles = 5
  val SetupRepeats = 2
  val WarmSeconds = 4

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        out: File, cache: File, smoke: Boolean)

  def parse(a: Array[String]): Args = {
    def opt(k: String) = a.indexOf(k) match {
      case -1 => None
      case i => Some(a(i + 1))
    }
    Args(opt("--workload").get, opt("--seed").getOrElse("1").toLong,
      opt("--seconds").getOrElse("12").toInt, opt("--trace").contains("1"),
      new File(opt("--out").get), new File(opt("--cache").get), a.contains("--smoke"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cpus = Runtime.getRuntime.availableProcessors()
    val w = Workloads.workload(args.workload, args.smoke)
    val rec = Json.obj()
    rec.put("workload", w.name).put("seed", args.seed).put("seconds", args.seconds)
      .put("cpus", cpus).put("smoke", args.smoke)
    rec.set("untraced", Run(args, w, cpus, traced = false).execute())
    if (args.trace) rec.set("traced", Run(args, w, cpus, traced = true).execute())
    Files.writeString(new File(args.out, "raw.json").toPath, Json.write(rec))
    // Spark leaves non-daemon threads behind after stop()
    System.exit(0)
  }
}

/** One pass of the schedule against one backend. */
final case class Run(args: Main.Args, w: Workload, cpus: Int, traced: Boolean) {
  private val dir = new File(args.out, if (traced) "traced" else "untraced")
  private val dataDir = new File(dir, "data")
  // the sampler's share of the measured seconds is about a quarter
  private val primaryMs = args.seconds * 1000.0 * 0.75
  private val samplerCycles = if (args.smoke) 1 else Main.SamplerCycles
  private val threads = math.min(4, cpus)
  private val warmMs = (if (args.smoke) 2 else Main.WarmSeconds) * 1000.0

  private def secondsSince(t0: Long) = (System.nanoTime() - t0) / 1e9

  def execute(): ObjectNode = {
    dir.mkdirs()
    val out = Json.obj()
    var session: Option[SparkSession] = None
    def spark = session.getOrElse { val s = Stage.session(cpus); session = Some(s); s }
    val (template, st) = Stage.template(w, args.cache, spark)
    val sched = Workloads.schedule(w, args.seed, primaryMs, samplerCycles, st.pointKeys)
    // unrecorded warm-up: the same mix under another seed, so JIT,
    // codegen and first-file costs land before the measured window
    val warm = Workloads.schedule(w, args.seed + 104729, warmMs, 1, st.pointKeys,
      batchBase = 1000000, warm = true)
    val tenants = new Tenants(st)
    if (traced) {
      Stage.copyTree(template, dataDir)
      val acc = new Acc
      val ingestTables = w.ingestTables.toSeq.flatMap { case (i, ts) => ts.map(st.tenantIds(i) -> _) }
      val be = new TracedBackend(spark, dataDir, tenants, ingestTables, acc)
      try {
        drive(be, st, tenants, sched, warm, out)
        out.put("table_files_end", ingestTables.map { case (db, t) => be.fileCount(db, t) }.sum)
        out.put("table_bytes_end", ingestTables.map { case (db, t) =>
          Stage.dirBytes(Stage.tableDir(dataDir, db, t)) }.sum - st.stagedBytes)
      } finally be.shutdown()
      val (sums, counts) = acc.snapshot
      val a = out.putObject("acc")
      val s = a.putObject("sums"); sums.foreach { case (k, v) => s.put(k, v) }
      val c = a.putObject("counts"); counts.foreach { case (k, v) => c.put(k, v) }
      spark.stop()
    } else {
      session.foreach(_.stop())
      // set-up (stage + boot to healthy) is repeated and the last server
      // serves; the earlier ones are stopped once healthy
      val setups = out.putArray("setup_s")
      // (a traced run reports no set-up time: one boot is enough)
      val repeats = if (args.smoke || args.trace) 1 else Main.SetupRepeats
      var server: ServerProcess = null
      (1 to repeats).foreach { i =>
        if (server != null) server.stop()
        val t0 = System.nanoTime()
        val data = new File(dir, s"data$i")
        Stage.copyTree(template, data)
        val stageS = secondsSince(t0)
        server = new ServerProcess(new File(dir, s"server$i"), data, cpus)
        val bootS = try server.boot() catch { case e: Exception => server.stop(); throw e }
        setups.add(stageS + bootS)
      }
      try drive(new HttpBackend(server.port, tenants), st, tenants, sched, warm, out,
        Some(server))
      finally out.put("stop_s", server.stop())
    }
    out
  }

  private def drive(be: Backend, st: Staged, tenants: Tenants,
                    sched: Seq[Timed], warm: Seq[Timed], out: ObjectNode,
                    server: Option[ServerProcess] = None): Unit = {
    val http = be match { case h: HttpBackend => Some(h); case _ => None }
    val shares = w.shares.map { case (n, t, q) => n -> be.createShare(Workloads.tid(t), q) }.toMap
    val d = new Driver(w, st, tenants, be, shares, st.expected, args.seed, threads)
    val tw = System.nanoTime()
    // (its inserts are visible before its sampler fills the share cache)
    d.run(warm, visibleDeadlineS = 20)
    out.put("warm_s", secondsSince(tw))
    out.put("calib_ms_before", graft.Bench.calibrateMedianMs())
    be match { case t: TracedBackend => t.acc.clear(); case _ => () }
    val cpu0 = server.map(_.cpuMs())
    val api0 = http.map(_.routeTotals())
    d.recording = true
    val windowS = d.run(sched, if (args.smoke) 30 else 20)
    d.recording = false
    out.put("window_s", windowS)
    for (proc <- server; hb <- http) {
      out.put("server_cpu_ms", proc.cpuMs() - cpu0.get)
      out.put("rss_peak_kb", proc.hwmKb())
      out.put("heap_live_peak_mb", proc.heapLivePeakMb())
      val api1 = hb.routeTotals()
      val api = out.putObject("api")
      api1.foreach { case ((route, method), (c, s)) =>
        val (c0, s0) = api0.get.getOrElse((route, method), (0L, 0.0))
        api.putObject(s"$method $route").put("count", c - c0).put("sum_s", s - s0)
      }
    }
    val ti = System.nanoTime()
    d.integrity()
    out.put("integrity_s", secondsSince(ti))
    out.put("calib_ms_after", graft.Bench.calibrateMedianMs())
    val arr = out.putArray("samples")
    d.samples.asScala.foreach { s =>
      arr.addArray().add(s.route).add(s.probe).add(s.latMs).add(s.wallMs).add(s.lagMs).add(s.ok)
        .add(s.op)
    }
    val fr = out.putArray("fresh_ms")
    d.freshMs.asScala.foreach(v => fr.add(v.doubleValue))
    out.put("attempted", d.attempted.get)
    out.put("failed", d.failed.get)
    out.put("wrong", d.wrong.get)
    val errs = out.putArray("errors")
    d.errors.asScala.foreach(errs.add)
  }
}

/** The product server in its own JVM, configured as in production
  * except for a fixed, pre-touched heap, a short shutdown drain and a GC
  * log, from which the live heap is read. */
final class ServerProcess(dir: File, dataDir: File, cpus: Int) {
  val port: Int = ServerProcess.freePort()
  private var proc: Process = _
  private val gcLog = new File(dir, "gc.log")

  /** Start and wait for `/healthcheck`; returns seconds to healthy. */
  def boot(): Double = {
    val tmp = new File(dir, "tmp"); tmp.mkdirs()
    val java = new File(System.getProperty("java.home"), "bin/java").getPath
    val cmd = Seq(java) ++ ServerProcess.JavaOpts ++ Seq(
      // a fixed heap, touched at boot: left to the JVM, its size follows
      // each run's GC timing (VmHWM spread by 0.15 over ten runs), and
      // even at a fixed size the share of it touched by the peak varied
      // by ~300 MB from run to run
      s"-Djava.io.tmpdir=${tmp.getAbsolutePath}", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
      s"-Xlog:gc:file=${gcLog.getAbsolutePath}",
      "-cp", ServerProcess.classPath, "graft.api.Main")
    val pb = new ProcessBuilder(cmd: _*).directory(dir)
      .redirectErrorStream(true).redirectOutput(new File(dir, "server.log"))
    val env = pb.environment()
    env.put("PORT", port.toString)
    env.put("GRAFT_DATA", dataDir.getAbsolutePath)
    env.put("GRAFT_API_KEY", Main.StaticKey)
    env.put("GRAFT_INGEST_WORKERS", "2")
    env.put("SPARK_GRAFT_CPUS", cpus.toString)
    env.put("SPARK_LOCAL_DIRS", tmp.getAbsolutePath)
    env.put("GRAFT_DRAIN_S", "5")
    val t0 = System.nanoTime()
    proc = pb.start()
    val deadline = t0 + 120000000000L
    while (!healthy) {
      if (!proc.isAlive) throw new IllegalStateException(s"server exited with ${proc.exitValue()}; see server.log")
      if (System.nanoTime() > deadline) throw new IllegalStateException("server not healthy after 120 s")
      Thread.sleep(20)
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def healthy: Boolean = try {
    val c = java.net.URI.create(s"http://127.0.0.1:$port/healthcheck").toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    c.setConnectTimeout(500); c.setReadTimeout(2000)
    try c.getResponseCode == 200 finally c.disconnect()
  } catch { case _: java.io.IOException => false }

  private def stat: Array[String] = {
    val s = Files.readString(new File(s"/proc/${proc.pid}/stat").toPath)
    s.substring(s.lastIndexOf(')') + 2).split(" ")
  }
  /** utime + stime of the server process, in ms (USER_HZ = 100). */
  def cpuMs(): Double = { val f = stat; (f(11).toLong + f(12).toLong) * 10.0 }
  /** Peak resident set (VmHWM), in kB. */
  def hwmKb(): Long = Files.readAllLines(new File(s"/proc/${proc.pid}/status").toPath).asScala
    .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  /** Peak heap in use right after a collection (the live set plus what
    * survived into old regions), in MB, from the GC log's
    * `before->after(committed)` figures. */
  def heapLivePeakMb(): Double = {
    val Sizes = """(\d+)([KMG])->(\d+)([KMG])\(""".r.unanchored
    def mb(n: String, u: String) = n.toDouble * (u match { case "K" => 1.0 / 1024; case "M" => 1.0; case _ => 1024.0 })
    if (!gcLog.exists()) 0.0
    else Files.readAllLines(gcLog.toPath).asScala.collect {
      case l @ Sizes(_, _, after, u) if l.contains("Pause") => mb(after, u)
    }.maxOption.getOrElse(0.0)
  }

  /** SIGTERM, then wait; returns seconds until the process is gone. */
  def stop(): Double = {
    if (proc == null) return 0
    val t0 = System.nanoTime()
    proc.destroy()
    if (!proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)) {
      proc.destroyForcibly(); proc.waitFor()
    }
    (System.nanoTime() - t0) / 1e9
  }
}

object ServerProcess {
  /** A free port in 10000-31999, below Linux's default ephemeral range
    * (32768-60999). The server starts Spark, which listens on ephemeral
    * ports, before it binds its HTTP port; a port picked from that range
    * was once taken by Spark in the meantime, and the server exited. */
  def freePort(): Int = {
    val rnd = new scala.util.Random()
    Iterator.continually(10000 + rnd.nextInt(22000)).find { p =>
      try { new java.net.ServerSocket(p).close(); true } catch { case _: java.io.IOException => false }
    }.get
  }

  /** This JVM's classpath with every entry absolute (the server runs in
    * its own working directory). */
  def classPath: String = System.getProperty("java.class.path").split(File.pathSeparator)
    .map(e => if (e.endsWith("*")) new File(e.dropRight(1)).getAbsolutePath + "/*"
              else new File(e).getAbsolutePath)
    .mkString(File.pathSeparator)

  /** The module opens build.sbt gives forked JVMs (Spark on JDK 17). */
  val JavaOpts: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar").flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED")) ++ Seq(
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Dspark.scheduler.mode=FAIR")
}
