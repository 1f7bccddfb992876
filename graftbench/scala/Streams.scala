package graftbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.sources.{ConfigXml, S7SimSource}
import graft.streaming.Pipelines

/** Per-batch progress of every streaming query, from the benchmark's own
  * listener: (query name, run id, batch id, input rows, durationMs map,
  * state operator rows/memory/updates).
  */
final case class Batch(query: String, runId: String, id: Long, rows: Long,
    durations: Map[String, Long], stateRows: Long, stateBytes: Long, stateUpdated: Long)

final class Progress extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    val b = Batch(Option(p.name).getOrElse(""), p.runId.toString, p.batchId, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.numRowsUpdated).sum)
    batches.synchronized { batches += b }
  }
}

object Streams {
  val Phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
    "commitOffsets")

  private def phaseLayers(r: Result, bs: Seq[Batch]): Unit =
    Phases.foreach { p =>
      r.layer(s"stream.${p}_ms",
        if (bs.isEmpty) 0.0 else bs.map(_.durations.getOrElse(p, 0L)).sum.toDouble / bs.size)
    }

  /** The seeded catalog document in the reference's XML schema: device
    * addresses and tag aliases come from the seed.
    */
  def catalogXml(rng: scala.util.Random, plcs: Int, tags: Int): (String, Seq[String], Seq[Seq[String]]) = {
    val ips = Iterator.continually(s"10.${rng.nextInt(250)}.${rng.nextInt(250)}.${1 + rng.nextInt(250)}")
      .distinct.take(plcs).toVector
    val aliases = ips.indices.map { p =>
      val stem = Seq.fill(5)(('a' + rng.nextInt(26)).toChar).mkString
      (0 until tags).map(t => s"${stem}_${p}_$t")
    }
    val body = ips.indices.map { p =>
      val datas = (0 until tags).map { t =>
        s"<data><data_type>real</data_type><area>DB</area><address>DB1.DBD${t * 4}</address>" +
          s"<alias>${aliases(p)(t)}</alias><active>True</active><interval>1s</interval></data>"
      }.mkString
      s"""<plc slot="1">${ips(p)}$datas</plc>"""
    }.mkString
    (s"<communication>$body</communication>", ips, aliases)
  }

  /** Independent decode of S7SimSource.sample's register bytes. */
  def expectedValue(tick: Long, plcIdx: Int, tagIdx: Int): Double = {
    val (buf, typeCode, bit) = S7SimSource.sample(tick, plcIdx, tagIdx)
    val bb = java.nio.ByteBuffer.wrap(buf) // big-endian
    typeCode match {
      case 0x08 => bb.getFloat.toDouble
      case 0x06 => (bb.getInt.toLong & 0xffffffffL).toDouble
      case 0x04 => bb.getShort.toDouble
      case _ => ((buf(0) >> bit) & 1).toDouble
    }
  }

  /** Batches the checkpoint committed, their sink files and line count. */
  private def sunk(outDir: String, ckptDir: String): (Set[Long], Seq[java.io.File], Long) = {
    val committed = Option(new java.io.File(s"$ckptDir/commits").listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).toSet
    val files = Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => """part-(\d+)-\d+\.lp""".r.matches(f.getName))
      .filter(f => committed.contains(f.getName.split('-')(1).toLong))
    val lines = files.map { f =>
      val src = scala.io.Source.fromFile(f)
      try src.getLines().size.toLong finally src.close()
    }.sum
    (committed, files, lines)
  }

  /** One seeded batch through `Pipelines.ingest` (XML catalog →
    * `S7SimSource` → `DecodeS7` → broadcast enrich → line-protocol sink),
    * run after the alert window on the same session. It checks that the
    * rows sunk equal the committed batches' `numInputRows` and that
    * sampled sunk lines equal an independent decode of
    * `S7SimSource.sample`; traced, it reports the sink and source layers.
    */
  private def ingestLeg(a: Args, r: Result, spark: SparkSession, progress: Progress,
      trace: Trace): Unit = {
    val (plcs, tags, ticks) = (32, 25, 50)
    val (xml, ips, aliases) = catalogXml(new scala.util.Random(a.seed), plcs, tags)
    val (out, ckpt) = (s"${a.work}/leg-out", s"${a.work}/leg-ckpt")
    val q = Pipelines.ingest(spark, xml, out, ckpt,
      sourceOptions = Map("ticksPerPoll" -> ticks.toString))
    q.awaitTermination()
    Env.drain(spark)
    val (committed, files, lines) = sunk(out, ckpt)
    val inRows = progress.batches.synchronized(progress.batches.toVector)
      .filter(b => b.runId == q.runId.toString && committed.contains(b.id)).map(_.rows).sum
    r.check("ingest.rows_sunk_equal_rows_in", lines == inRows && inRows == plcs.toLong * tags * ticks,
      s"sunk $lines lines, numInputRows sum $inRows, fed ${plcs * tags * ticks}")

    val plcIdx = ips.sorted.zipWithIndex.toMap
    val aliasAt = aliases.zipWithIndex.flatMap { case (as, p) =>
      as.zipWithIndex.map { case (al, t) => al -> (ips(p), t) } }.toMap
    val pick = new scala.util.Random(a.seed + 1)
    val sample = pick.shuffle(files).take(8).flatMap { f =>
      val src = scala.io.Source.fromFile(f)
      try pick.shuffle(src.getLines().toVector).take(25) finally src.close()
    }
    // wire shape: `measurement alias=value tsNs`, value printed as %.2f
    val Line = """(\S+) (\S+)=(\S+) (\d+)""".r
    val bad = sample.filterNot {
      case Line(m, al, v, ts) if aliasAt.contains(al) =>
        val (ip, t) = aliasAt(al)
        val tick = (ts.toLong / 1000L - S7SimSource.BaseMicros) / 1000000L
        m == ip &&
          v == String.format(java.util.Locale.ROOT, "%.2f", Double.box(expectedValue(tick, plcIdx(ip), t)))
      case _ => false
    }
    r.check("ingest.spot_decode", sample.nonEmpty && bad.isEmpty,
      s"${bad.size} of ${sample.size} sampled lines differ, e.g. ${bad.take(3).mkString(" | ")}")
    if (trace.enabled) {
      r.layer("sink.bytes_per_row", if (lines > 0) files.map(_.length).sum.toDouble / lines else 0.0)
      val parse = (1 to 5).map(_ => trace.span("sources.config_parse")(
        Env.timed(ConfigXml.parseString(xml))._1))
      r.layer("sources.config_parse_ms", parse.sorted.apply(parse.size / 2))
    }
  }

  // ---------------------------------------------------------------- alert

  /** One monitor under test: feed one round (returning the rows fed), the
    * alert count delta it must produce and a probe that counts alerts so
    * far.
    */
  private final case class Monitor(name: String, query: StreamingQuery,
      feed: Int => Int, alerts: () => Long, expected: Int => Long, warmRounds: Int)

  def alert(a: Args, r: Result, trace: Trace): Unit = {
    val spark = Env.session(a.work)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val progress = new Progress
    spark.streams.addListener(progress)
    val load = a.int("load")
    val rng = new scala.util.Random(a.seed)
    val base = 1704067200000000L / 1000L // 2024-01-01T00:00Z in ms

    def mk(setupNo: Int): Seq[Monitor] = {
      val tag = s"m${setupNo}"
      // T14 CUSUM: background inside the slack never alarms; one drift
      // sample per round alarms in its own batch
      val cus = MemoryStream[(Long, Long, Timestamp, Double)]
      val cusQ = Pipelines.cusumAlerts(cus.toDF().toDF("event_id", "user_id", "ts", "value"))
        .writeStream.format("memory").queryName(s"cusum_$tag").outputMode("append").start()
      val users = rng.shuffle((0L until 500L).toVector)
      val cusFeed = (rd: Int) => {
        val bg = (0 until load).map { i =>
          ((rd.toLong * load + i) * 2, users(i % 500), new Timestamp(base + rd * 60000L + i),
            50.0 + (rng.nextDouble() - 0.5) * 3.0)
        }
        cus.addData(bg :+ ((9000000000000000L + rd, 9000L + rd,
          new Timestamp(base + rd * 60000L + load), 160.0 + rng.nextDouble() * 20)))
        load + 1
      }
      // T12 deadman: 500 live series plus one canary per round that goes
      // silent; the previous round's canary fires
      val dm = MemoryStream[(Long, Timestamp)]
      val dmQ = Pipelines.deadman(dm.toDF().toDF("user_id", "ts"), gapMs = 60000L,
        watermark = "30 seconds")
        .writeStream.format("memory").queryName(s"deadman_$tag").outputMode("append").start()
      val dmFeed = (rd: Int) => {
        val ts = base + rd * 120000L
        dm.addData((0 until load).map(i => (users(i % 500), new Timestamp(ts + rng.nextInt(1000)))) :+
          ((7000L + rd, new Timestamp(ts))))
        load + 1
      }
      // T17 mixture: every window is web-only, so each close drifts
      val mx = MemoryStream[(Timestamp, String, Long)]
      val mxQ = Pipelines.mixtureMonitor(mx.toDF().toDF("ts", "source", "n_tokens"),
        targets = Map("web" -> 0.5, "code" -> 0.5), tol = 0.2, windowMs = 60000L,
        watermark = "30 seconds")
        .writeStream.format("memory").queryName(s"mixture_$tag").outputMode("append").start()
      val mxFeed = (rd: Int) => {
        val w = base + rd * 60000L
        mx.addData((0 until load).map(i =>
          (new Timestamp(w + i % 60000), "web", 50L + rng.nextInt(100).toLong)))
        load
      }
      // T22 histogram quantiles: each round settles the next series (its
      // first estimate emits) and sends this series, settled the round
      // before, a tail burst that moves its p99 by whole bins
      val hs = MemoryStream[(String, Double)]
      val hsQ = Pipelines.histQuantileMonitor(hs.toDF().toDF("event_type", "value"))
        .writeStream.format("memory").queryName(s"hist_$tag").outputMode("append").start()
      def hsBg(g: String) = (0 until load).map(i => (g, (i % 100) * 26.0 + rng.nextInt(10)))
      val hsFeed = (rd: Int) => {
        val g = s"s$rd"
        hs.addData(hsBg(s"s${rd + 1}") ++ hsBg(g) ++
          (0 until load / 5).map(_ => (g, 50000.0 + rng.nextInt(10))))
        2 * load + load / 5
      }
      def count(name: String, drifted: Boolean = false) = () => {
        val t = spark.table(name)
        (if (drifted) t.filter(col("drifted")) else t).count()
      }
      Seq(
        Monitor("cusum", cusQ, cusFeed, count(s"cusum_$tag"), _ => 1L, 1),
        Monitor("deadman", dmQ, dmFeed, count(s"deadman_$tag"), rd => if (rd >= 1) 1L else 0L, 2),
        Monitor("mixture", mxQ, mxFeed, count(s"mixture_$tag", drifted = true),
          rd => if (rd >= 2) 2L else 0L, 3),
        Monitor("hist", hsQ, hsFeed, count(s"hist_$tag"), _ => 2L, 1))
    }

    // one round, timed from offering the batch to its alerts being
    // visible; it must fire exactly the expected alerts
    val rounds = mutable.Map.empty[String, Int].withDefaultValue(0)
    val seen = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var badRounds = 0
    def round(m: Monitor): Map[String, Any] = {
      val rd = rounds(m.name)
      rounds(m.name) = rd + 1
      val t0 = System.nanoTime()
      val rows = m.feed(rd)
      m.query.processAllAvailable()
      val ms = (System.nanoTime() - t0) / 1e6
      val total = m.alerts()
      val got = total - seen(m.name)
      seen(m.name) = total
      val ok = got == m.expected(rd)
      if (!ok) {
        badRounds += 1
        r.check(s"alert.${m.name}.round$rd", ok, s"fired $got alerts, expected ${m.expected(rd)}")
      }
      Map("monitor" -> m.name, "ms" -> ms, "rows" -> rows, "ok" -> ok)
    }

    // set-up: start the four monitor queries; their warm-up rounds follow
    // untimed
    var monitors: Seq[Monitor] = Nil
    val setups = (1 to a.setups).map { i =>
      monitors.foreach(_.query.stop())
      val (ms, ms4) = Env.timed(mk(i))
      monitors = ms4
      ms / 1000.0
    }
    r.fields("setup_s") = setups
    monitors.foreach(m => (0 until m.warmRounds).foreach(_ => round(m)))

    val ctx = new Context
    val before = progress.batches.synchronized(progress.batches.size)
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var n = 0
    while (System.nanoTime() - t0 < a.seconds * 1e9 || n < a.int("min_samples")) {
      val m = monitors(n % monitors.size)
      n += 1
      r.attempted += 1
      val op =
        try round(m)
        catch { case scala.util.control.NonFatal(e) =>
          r.check(s"alert.${m.name}", ok = false, String.valueOf(e.getMessage))
          Map("monitor" -> m.name, "ok" -> false)
        }
      if (op("ok") == false) r.failed += 1
      ops += op
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    ctx.finish(r)
    monitors.foreach(_.query.stop())
    r.fields("ops") = ops
    r.fields("window_s") = windowS
    r.check("alert.rounds_fire_expected_alerts", badRounds == 0,
      s"$badRounds rounds fired unexpected alert counts")

    if (trace.enabled) {
      val timed = progress.batches.synchronized(progress.batches.drop(before).toVector)
      phaseLayers(r, timed)
      monitors.foreach { m =>
        val xs = ops.filter(o => o("monitor") == m.name && o("ok") == true)
          .map(_("ms").asInstanceOf[Double]).sorted
        r.layer(s"alert.${m.name}_ms", if (xs.isEmpty) 0.0 else xs(xs.size / 2))
      }
      val last = monitors.flatMap(m => timed.filter(_.query == m.query.name).lastOption)
      r.layer("state.rows_total", last.map(_.stateRows).sum.toDouble)
      r.layer("state.memory_bytes", last.map(_.stateBytes).sum.toDouble)
      r.layer("state.rows_updated",
        if (timed.isEmpty) 0.0 else timed.map(_.stateUpdated).sum.toDouble / timed.size)
    }
    ingestLeg(a, r, spark, progress, trace)
    spark.stop()
  }
}
