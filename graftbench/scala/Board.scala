package graftbench

import scala.collection.mutable

import graft.{GraftSession, Registry}
import graft.queries._

/** `board`: the frozen query keys run one at a time (closed loop) over the
  * seeded tables, in passes of every key in a seeded order, after an
  * untimed warm-up that runs every key once, concurrently, to pay code
  * generation and JIT. At least `min_passes` whole passes run; after them
  * no key starts once `--seconds` have passed, so the last pass may be
  * partial.
  */
object Board {

  val modules: Seq[(String, Seq[graft.GraftQuery])] = Seq(
    "QAgg" -> QAgg.all, "QCore" -> QCore.all, "QCustom" -> QCustom.all,
    "QDedup" -> QDedup.all, "QFunc" -> QFunc.all, "QInflux" -> QInflux.all,
    "QInfluxQL" -> QInfluxQL.all, "QJoin" -> QJoin.all, "QLayout" -> QLayout.all,
    "QStream" -> QStream.all, "QText" -> QText.all, "QVector" -> QVector.all,
    "QWin" -> QWin.all)

  private lazy val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  def run(a: Args, r: Result, trace: Trace): Unit = {
    val dir = a("data")
    val keys = a("keys").split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = keys.filterNot(Registry.byName.contains)
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(",")}")
    val spark = Env.session(a.work)

    // set-up: a fresh session on the running context registers every table
    // and the native functions; repeated, the last session is kept
    val setups = (1 to a.setups).map { _ =>
      Env.timed { GraftSession.init(spark.newSession(), dir) }
    }
    val s = setups.last._2
    r.fields("setup_s") = setups.map(_._1 / 1000.0)

    val sparkC = new SparkCounters
    val planC = new PlanCounters
    if (trace.enabled) {
      s.sparkContext.addSparkListener(sparkC)
      s.listenerManager.register(planC)
    }

    val rows = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Env.cores)
    val warm = keys.map(k => k -> pool.submit(() => Registry.byName(k).run(s, dir).count()))
    warm.foreach { case (k, f) =>
      try rows.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += f.get()
      catch { case e: java.util.concurrent.ExecutionException =>
        r.check(s"board.$k.warmup", ok = false, String.valueOf(e.getCause)) }
    }
    pool.shutdown()
    if (trace.enabled) Env.drain(s)
    val spark0 = sparkC.snapshot
    val plan0 = planC.snapshot

    val ctx = new Context
    val rng = new scala.util.Random(a.seed)
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val perModule = mutable.LinkedHashMap.empty[String, (Double, Long, Long)]
    var buildMs = 0.0
    var passes = 0
    var pass: Seq[String] = Nil
    val minKeys = a.int("min_passes") * keys.size
    val t0 = System.nanoTime()
    while (r.attempted < minKeys || System.nanoTime() - t0 < a.seconds * 1e9) {
      if (pass.isEmpty) {
        pass = rng.shuffle(keys)
        passes += 1
      }
      val k = pass.head
      pass = pass.tail
      r.attempted += 1
      val jobs0 = sparkC.jobs.get
      val tk = System.nanoTime()
      try {
        val q = Registry.byName(k)
        val (bms, n) = trace.span("board.key") {
          val (bms, df) = Env.timed(trace.span("queries.build")(q.run(s, dir)))
          (bms, trace.span("spark.execute")(df.count()))
        }
        val ms = (System.nanoTime() - tk) / 1e6
        ops += Map("key" -> k, "pass" -> passes, "ms" -> ms, "rows" -> n)
        rows.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += n
        if (trace.enabled) {
          buildMs += bms
          Env.drain(s)
          val m = moduleOf(k)
          val (w, j, c) = perModule.getOrElse(m, (0.0, 0L, 0L))
          perModule(m) = (w + ms / 1000.0, j + sparkC.jobs.get - jobs0, c + 1)
        }
      } catch { case scala.util.control.NonFatal(e) =>
        r.failed += 1
        r.check(s"board.$k", ok = false, String.valueOf(e.getMessage))
      }
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    ctx.finish(r)
    r.fields("ops") = ops
    r.fields("passes") = passes
    r.fields("window_s") = windowS
    r.fields("rows") = rows.map { case (k, v) => k -> v.toSeq }
    r.fields("oracle") = keys.flatMap(k => Registry.byName(k).oracle.map(k -> _)).toMap
    // every execution of a key must return the same row count; run.py
    // compares it with the oracle's count
    rows.foreach { case (k, v) =>
      r.check(s"board.$k.stable_rows", v.distinct.size == 1, s"row counts ${v.mkString(",")}")
    }

    if (trace.enabled) {
      Env.drain(s)
      // per pass: totals over the keys run, scaled to one run of every key
      val perPass = ops.size.toDouble / keys.size
      val sp = sparkC.snapshot.map { case (k, v) => k -> (v - spark0(k)) / perPass }
      val pl = planC.snapshot.map { case (k, v) => k -> (v - plan0(k)) / perPass }
      val keysOf = keys.groupBy(moduleOf).map { case (m, ks) => m -> ks.size }
      modules.foreach { case (m, _) =>
        val (w, j, c) = perModule.getOrElse(m, (0.0, 0L, 1L))
        r.layer(s"queries.$m.wall_s", w / c * keysOf.getOrElse(m, 0))
        r.layer(s"queries.$m.jobs", j.toDouble / c * keysOf.getOrElse(m, 0))
      }
      r.layer("queries.build_ms", buildMs / perPass)
      r.layer("catalyst.analysis_ms", pl("analysis_ms"))
      r.layer("catalyst.optimization_ms", pl("optimization_ms"))
      r.layer("catalyst.planning_ms", pl("planning_ms"))
      r.layer("plan.parquet_scans", pl("parquet_scans"))
      Seq("jobs", "stages", "tasks", "scheduler_delay_ms", "executor_run_ms",
        "shuffle_read_bytes", "shuffle_write_bytes").foreach(k => r.layer(s"spark.$k", sp(k)))
    }
    spark.stop()
  }
}
