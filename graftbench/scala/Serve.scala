package graftbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.influxql.{InfluxQLAst, InfluxQLHttp, InfluxQLParser, InfluxQLPlanner, InfluxQLResult}
import graft.sinks.{LineProtocolLocal, PointStoreDirect, VectorIndexStore}

/** `serve`: one store-backed InfluxDB-1.x node with its maintenance tick
  * (CQs, compaction, retention, vector-index upkeep) under open-loop
  * traffic at fixed rates: single-sample `/write` POSTs, Grafana-panel
  * `/query` aggregates and `/ann/query` top-k probes. Every request is
  * timed from the moment it was due.
  */
object Serve {
  /** The traffic's virtual "now": history lies before it, live writes after. */
  val NowNs = 1709251200000000000L // 2024-03-01T00:00:00Z
  val Aliases = 8
  val HistoryPerAlias = 200
  val HistoryStepNs = 9000000000L
  val Vectors = 500
  val Dim = 16
  val Workers = 4

  final case class Req(kind: String, dueNs: Long, method: String, path: String, body: String)

  private def http(port: Int, method: String, path: String, body: String): (Int, String) = {
    val c = new URI(s"http://127.0.0.1:$port$path").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setConnectTimeout(30000)
    c.setReadTimeout(120000)
    if (body != null) {
      c.setDoOutput(true)
      val os = c.getOutputStream
      try os.write(body.getBytes(UTF_8)) finally os.close()
    }
    val code = c.getResponseCode
    val is = if (code >= 400) c.getErrorStream else c.getInputStream
    // read to the end and close (no disconnect): the connection is reused
    val out = if (is == null) "" else try new String(is.readAllBytes(), UTF_8) finally is.close()
    (code, out)
  }

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)
  private def rfc(ns: Long) = java.time.Instant.ofEpochSecond(0, ns).toString
  private def num(v: Double) = f"$v%.3f".replace(',', '.')
  private def vecStr(v: Array[Double]) = v.map(x => f"$x%.5f".replace(',', '.')).mkString(",")

  private def unitVec(rng: scala.util.Random): Array[Double] = {
    val v = Array.fill(Dim)(rng.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  val PanelQuery: String =
    s"SELECT MEAN(value), MAX(value) FROM plc WHERE time >= '${rfc(NowNs - 1800L * 1000000000L)}' " +
      s"AND time < '${rfc(NowNs + 900L * 1000000000L)}' GROUP BY time(1m), alias"

  /** Start a node on a fresh store and seed it: batched history, one CQ,
    * the vector corpus. The index over the corpus is built by the node's
    * own tick, in the background.
    */
  private def setUp(spark: SparkSession, store: String, tickSec: Long,
      rng: scala.util.Random): InfluxQLHttp.Handle = {
    val h = InfluxQLHttp.startStore(spark, store, cqTickSec = Some(tickSec))
    val history = for (a <- 0 until Aliases; j <- 0 until HistoryPerAlias) yield {
      val ts = NowNs - (HistoryPerAlias - j) * HistoryStepNs
      s"plc,alias=t$a value=${num(50 + 10 * math.sin(j / 20.0) + rng.nextGaussian())} $ts"
    }
    val (wc, wb) = http(h.port, "POST", "/write?db=plc", history.mkString("\n"))
    require(wc == 204, s"history write failed: $wc $wb")
    val cq = "CREATE CONTINUOUS QUERY cq_plc_1m ON plc BEGIN SELECT MEAN(value) AS m " +
      "INTO plc_1m FROM plc GROUP BY time(1m), alias END"
    val (cc, cb) = http(h.port, "POST", "/query", s"db=plc&q=${enc(cq)}")
    require(cc == 200 && !cb.contains("\"error\""), s"CQ registration failed: $cc $cb")
    val vecs = (1 to Vectors).map(i => s"$i ${vecStr(unitVec(rng))}")
    val (ac, ab) = http(h.port, "POST", "/ann/write", vecs.mkString("\n"))
    require(ac == 204, s"vector seed failed: $ac $ab")
    h
  }

  /** Wait until the node's tick has built the vector index (503 before). */
  private def awaitIndex(h: InfluxQLHttp.Handle, rng: scala.util.Random): Unit = {
    val probe = s"/ann/query?probe=${vecStr(unitVec(rng))}&k=10&nprobe=3"
    val deadline = System.nanoTime() + 120e9.toLong
    while (http(h.port, "GET", probe, null)._1 != 200) {
      require(System.nanoTime() < deadline, "vector index was never built")
      Thread.sleep(50)
    }
  }

  /** The seeded open-loop schedule: per kind, arrivals spaced by the
    * nominal period times a uniform factor in [0.5, 1.5).
    */
  def schedule(rng: scala.util.Random, seconds: Double,
      rates: Seq[(String, Double)], firstWrite: Long): Seq[Req] = {
    var writeNo = firstWrite
    val out = mutable.ArrayBuffer.empty[Req]
    for ((kind, rate) <- rates) {
      var t = rng.nextDouble() / rate
      while (t < seconds) {
        val due = (t * 1e9).toLong
        out += (kind match {
          case "write" =>
            writeNo += 1
            val line = s"plc,alias=t${rng.nextInt(Aliases)} " +
              s"value=${num(50 + 20 * rng.nextDouble())} ${NowNs + writeNo * 1000000L}"
            Req(kind, due, "POST", "/write?db=plc", line)
          case "query" => Req(kind, due, "GET", s"/query?db=plc&q=${enc(PanelQuery)}", null)
          case "ann" =>
            Req(kind, due, "GET", s"/ann/query?probe=${vecStr(unitVec(rng))}&k=10&nprobe=3", null)
        })
        t += (0.5 + rng.nextDouble()) / rate
      }
    }
    out.sortBy(_.dueNs).toSeq
  }

  private def parquetFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
      if (f.isDirectory) parquetFiles(f)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }

  def run(a: Args, r: Result, trace: Trace): Unit = {
    val spark = Env.session(a.work)
    val rng = new scala.util.Random(a.seed)
    val tickSec = a("tick_s").toLong
    val stores = (1 to a.setups).map(i => s"${a.work}/store-$i")
    var handle: InfluxQLHttp.Handle = null
    val setups = stores.map { st =>
      if (handle != null) handle.stop()
      val (ms, h) = Env.timed(setUp(spark, st, tickSec, rng))
      handle = h
      ms / 1000.0
    }
    r.fields("setup_s") = setups
    val h = handle
    val store = stores.last
    awaitIndex(h, rng)
    val plcDir = new java.io.File(store, "measurement=plc")

    val rates = Seq("write" -> a("write_rate").toDouble, "query" -> a("query_rate").toDouble,
      "ann" -> a("ann_rate").toDouble)
    // untimed warm-up, every kind at 10/s for 1 s sent as fast as the
    // workers take them, so the timed window does not pay the JIT and the
    // first plans of the panel query and the probe
    val warmPool = Executors.newFixedThreadPool(Workers)
    val warm = schedule(rng, 1.0, rates.map { case (k, _) => k -> 10.0 }, 1000000L)
      .map(q => q -> warmPool.submit(() => http(h.port, q.method, q.path, q.body)))
    val warmAcked = warm.count { case (q, f) =>
      val (code, body) = f.get()
      if (code >= 300) r.check(s"serve.warmup.${q.kind}", ok = false, s"$code ${body.take(200)}")
      q.kind == "write" && code == 204
    }
    warmPool.shutdown()
    val reqs = schedule(rng, a.seconds, rates, 0L)
    val recs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val fileSamples = mutable.ArrayBuffer.empty[Int]
    val sampler = Executors.newSingleThreadScheduledExecutor()
    if (trace.enabled)
      sampler.scheduleAtFixedRate(() => fileSamples.synchronized {
        fileSamples += parquetFiles(plcDir).size
      }, 0, 1, TimeUnit.SECONDS)

    val ctx = new Context
    val pool = Executors.newFixedThreadPool(Workers)
    val t0 = System.nanoTime() + 50000000L
    for (q <- reqs) {
      val due = t0 + q.dueNs
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      val dispatched = now
      pool.execute(() => {
        val start = System.nanoTime()
        val (code, body) =
          try http(h.port, q.method, q.path, q.body)
          catch { case scala.util.control.NonFatal(e) => (-1, String.valueOf(e.getMessage)) }
        val end = System.nanoTime()
        val ok = q.kind match {
          case "write" => code == 204
          case "query" => code == 200 && !body.contains("\"error\"") && body.contains("\"series\"")
          case _ => code == 200 && body.contains("\"vec_id\"")
        }
        recs.synchronized {
          recs += Map("kind" -> q.kind, "due_ms" -> (due - t0) / 1e6,
            "dispatch_ms" -> (dispatched - t0) / 1e6, "start_ms" -> (start - t0) / 1e6,
            "end_ms" -> (end - t0) / 1e6, "ok" -> ok, "code" -> code)
        }
        if (!ok) System.err.println(s"[graftbench] ${q.kind} failed: $code ${body.take(300)}")
      })
    }
    pool.shutdown()
    require(pool.awaitTermination(120, TimeUnit.SECONDS), "requests did not finish")
    val windowS = (System.nanoTime() - t0) / 1e9
    sampler.shutdownNow()
    ctx.finish(r)

    r.attempted = reqs.size.toLong
    r.failed = recs.count(!_("ok").asInstanceOf[Boolean]).toLong
    r.fields("requests") = recs
    r.fields("window_s") = windowS
    r.check("serve.no_failed_requests", r.failed == 0, s"${r.failed} of ${reqs.size} failed")

    // every acknowledged write must be visible to a final count
    val acked = recs.count(m => m("kind") == "write" && m("ok") == true)
    val expected = Aliases.toLong * HistoryPerAlias + warmAcked + acked
    val (cc, cb) = http(h.port, "GET", s"/query?db=plc&q=${enc("SELECT COUNT(value) FROM plc")}", null)
    val counted = """"values":\[\[(?:[^\],]+,)?(\d+)\]\]""".r.findFirstMatchIn(cb).map(_.group(1).toLong)
    r.check("serve.acked_writes_visible", cc == 200 && counted.contains(expected),
      s"count query returned $cc ${cb.take(300)}; expected $expected")
    h.stop()

    if (trace.enabled) {
      r.layer("store.files", fileSamples.synchronized(
        if (fileSamples.isEmpty) 0.0 else fileSamples.sum.toDouble / fileSamples.size))
      val files = parquetFiles(plcDir)
      r.layer("store.bytes_per_point", files.map(_.length).sum.toDouble / expected)
      replay(spark, store, reqs, trace)
    }
    spark.stop()
  }

  /** After the node stops: a sample of the same requests through the
    * public layer functions, against the same store, one span per layer.
    */
  private def replay(spark: SparkSession, store: String, reqs: Seq[Req], trace: Trace): Unit = {
    for (q <- reqs.filter(_.kind == "write").take(40)) trace.span("replay.write") {
      val p = trace.span("lineprotocol.parse")(LineProtocolLocal.parseLine(q.body)) match {
        case Right(p) => p
        case Left(e) => throw new IllegalStateException(s"replayed line failed to parse: $e")
      }
      val pts = p.fields.map(f => PointStoreDirect.Point(p.tsNs.get + 500000L, p.measurement,
        p.tags("alias"), f.num.get))
      trace.span("store.append")(PointStoreDirect.append(pts, store))
    }
    val idx = s"$store/_vector_index"
    val probes = reqs.filter(_.kind == "ann").take(10).map { q =>
      """probe=([^&]+)""".r.findFirstMatchIn(q.path).get.group(1).split(',').map(_.toDouble).toSeq
    }
    for (_ <- 0 until 8) trace.span("replay.query") {
      val sts = trace.span("influxql.parse")(InfluxQLParser.parseAll(PanelQuery))
      val cat = trace.span("influxql.catalog")(InfluxQLPlanner.Catalog.store(store))
      val sel = sts.head.asInstanceOf[InfluxQLAst.Select]
      trace.span("influxql.plan")(
        InfluxQLPlanner.plan(spark, store, sel, None, cat).queryExecution.executedPlan)
      trace.span("influxql.render")(InfluxQLResult.renderStatement(spark, store, sel, 0, None, cat))
    }
    for (p <- probes) trace.span("vectorindex.search")(
      VectorIndexStore.search(spark, idx, p, 10, 3).collect())
  }
}
