package org.apache.spark.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftExtensions, SparkEntry}

/** One benchmark run in one JVM: builds its own session, then runs the
  * given query keys over several passes through the library's public
  * entry point (`SparkEntry.queries(key)(spark, dir)` then `.count()`),
  * one query at a time. Pass 0 is the cold pass. Writes one JSON record.
  *
  * Lives under `org.apache.spark` only so the tracer can drain the
  * listener bus before it reads a pass's events.
  *
  * After the cold pass it runs warm passes until at least `--min-warm`
  * of them are done and their query time adds up to `--warm-seconds`.
  *
  * Usage: Harness --keys k1,k2|all --data DIR --out FILE [--seed N]
  *   [--min-warm N] [--warm-seconds S] [--trace 0|1] [--dump DIR]
  *   [--cpus N] [--hold FILE] [--setup-only]
  */
object Harness {
  /** Job group of the harness's own untimed jobs (output hashes and
    * dumps), so the trace never attributes them to a query. */
  val UntimedGroup = "perfbench-untimed"

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val cpus = args.getOrElse("cpus", "4")
    val spark = session(cpus)
    // Untimed warm-up, the same as Bench's: JVM, codegen and parquet
    // reader start-up are session cost, not query cost.
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"${args("data")}/region.parquet").count()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val record = scala.collection.mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS, "cpus" -> cpus.toInt,
      "conf" -> spark.sparkContext.getConf.getAll.toMap)
    // Set-up probes start beside this JVM; hold the first pass until they
    // are done so they never overlap a measured query.
    args.get("hold").foreach { f =>
      val limit = System.currentTimeMillis() + 120000
      while (!Files.exists(Paths.get(f)) && System.currentTimeMillis() < limit) Thread.sleep(5)
    }
    if (args.contains("setup-only")) {
      // a set-up probe has nothing to clean up: skip the session shutdown
      write(args("out"), record)
      Runtime.getRuntime.halt(0)
    }
    run(spark, args, record)
    write(args("out"), record)
    spark.stop()
  }

  /** The engine definition, copied from Bench.scala (the runner checks
    * that the two agree before it reports a result). */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.NioCheckpointFileManager")
      .config("spark.hadoop.fs.file.impl",
        "graft.sources.FastLocalFileSystem")
      .config("spark.hadoop.io.file.buffer.size", "65536")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def run(spark: SparkSession, args: Map[String, String],
      record: scala.collection.mutable.Map[String, Any]): Unit = {
    val dir = args("data")
    val cpus = args.getOrElse("cpus", "4")
    val seed = args.getOrElse("seed", "0").toLong
    val minWarm = args.getOrElse("min-warm", "1").toInt
    val warmSeconds = args.getOrElse("warm-seconds", "0").toDouble
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val keys = args("keys") match {
      case "all" => queries.keys.toSeq.sorted
      case ks => ks.split(",").toSeq
    }
    val missing = keys.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown query keys: ${missing.mkString(",")}")
    val tracer = if (args.getOrElse("trace", "0") == "1") Some(new Tracer(spark)) else None
    val dump = args.get("dump")
    val runs = ArrayBuffer.empty[Map[String, Any]]
    val passRecs = ArrayBuffer.empty[Map[String, Any]]
    val failures = ArrayBuffer.empty[Map[String, Any]]
    var warmTime = 0.0
    var p = 0
    val lastFrames = ArrayBuffer.empty[(String, DataFrame)]
    while (p <= minWarm || warmTime < warmSeconds) {
      val order = new Random(seed * 1000003L + p).shuffle(keys)
      lastFrames.clear()
      val compiles0 = Tracer.codegenCompiles
      val p0 = System.nanoTime(); val pStart = System.currentTimeMillis()
      order.zipWithIndex.foreach { case (key, i) =>
        val qStart = System.currentTimeMillis(); val t0 = System.nanoTime()
        var buildEnd = qStart; var tb = t0
        var rows = -1L
        var df: DataFrame = null
        val err = try {
          df = queries(key)(spark, dir)
          buildEnd = System.currentTimeMillis(); tb = System.nanoTime()
          rows = df.count()
          None
        } catch { case e: Throwable => Some(e) }
        val t1 = System.nanoTime(); val qEnd = System.currentTimeMillis()
        if (err.isDefined) { buildEnd = qEnd; tb = t1 }
        var rec = Map[String, Any]("pass" -> p, "index" -> i, "key" -> key,
          "start_ms" -> qStart, "build_end_ms" -> buildEnd, "end_ms" -> qEnd,
          "build_s" -> (tb - t0) / 1e9, "action_s" -> (t1 - tb) / 1e9,
          "wall_s" -> (t1 - t0) / 1e9, "rows" -> rows, "ok" -> err.isEmpty)
        // Untimed output check, tagged so the trace leaves it out.
        if (err.isEmpty && !oracle.contains(key))
          untimed(spark, tracer) { rec += "hash" -> orderFreeHash(df) }
        if (err.isEmpty) lastFrames += key -> df
        err.foreach { e =>
          val f = failure(key, p, e); failures += f; rec += "error" -> f
        }
        runs += rec
      }
      val wall = (System.nanoTime() - p0) / 1e9
      tracer.foreach(_.drain())
      passRecs += Map("pass" -> p, "wall_s" -> wall, "start_ms" -> pStart,
        "end_ms" -> System.currentTimeMillis(),
        "storage_mb" -> storageMb(spark),
        "codegen_compiles" -> (Tracer.codegenCompiles - compiles0))
      if (p > 0) warmTime += runs.filter(_("pass") == p).map(_("wall_s").asInstanceOf[Double]).sum
      p += 1
    }
    // The last pass's oracle-key results, written in Verify's layout
    // after all timed work, several at once. Writing computes every
    // column, which `count()` may have pruned, so a write can fail where
    // the timed query did not; that is recorded as the key's failure.
    val dumpFailures = ArrayBuffer.empty[Map[String, Any]]
    dump.foreach { d =>
      untimed(spark, tracer) {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus.toInt)
        val ec = ExecutionContext.fromExecutorService(pool)
        val writes = lastFrames.toSeq.filter(kv => oracle.contains(kv._1)).map { case (key, df) =>
          Future {
            spark.sparkContext.setJobGroup(UntimedGroup, "benchmark output dump")
            try { df.write.mode("overwrite").parquet(s"$d/$key"); None }
            catch { case e: Throwable => Some(failure(key, p - 1, e)) }
          }(ec)
        }
        try writes.foreach(Await.result(_, Duration.Inf).foreach(dumpFailures += _))
        finally pool.shutdown()
      }
      val json = new ObjectMapper().writeValueAsString(
        new java.util.TreeMap[String, String](
          scala.jdk.CollectionConverters.MapHasAsJava(
            oracle.filter(kv => keys.contains(kv._1))).asJava))
      Files.writeString(Paths.get(d, "oracle_sql.json"), json)
    }
    record ++= Seq("seed" -> seed, "keys" -> keys, "passes" -> passRecs.toSeq,
      "queries" -> runs.toSeq, "failures" -> failures.toSeq,
      "dump_failures" -> dumpFailures.toSeq,
      "oracle_keys" -> keys.filter(oracle.contains),
      "peak_rss_mb" -> peakRssMb)
    tracer.foreach(t => record += "trace" -> t.result())
  }

  private def untimed(spark: SparkSession, tracer: Option[Tracer])(body: => Unit): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(UntimedGroup, "benchmark output check")
    try tracer.fold(body)(_.paused(body)) finally sc.clearJobGroup()
  }

  /** Row count plus two order-free digests of every row's JSON form. */
  def orderFreeHash(df: DataFrame): String = {
    val h = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), bit_xor(col("h")), sum(pmod(col("h"), lit(2147483647L))))
      .head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }

  private def failure(key: String, pass: Int, e: Throwable): Map[String, Any] = {
    val frame = e.getStackTrace.headOption.map(_.toString).getOrElse("")
    Map("key" -> key, "pass" -> pass, "class" -> e.getClass.getName,
      "message" -> String.valueOf(e.getMessage).take(2000), "frame" -> frame)
  }

  /** Block-manager storage memory in use (local mode: the driver's). */
  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1048576.0

  /** The JVM's resident-memory high-water mark (Linux `VmHWM`). */
  private def peakRssMb: Double = {
    val lines = scala.io.Source.fromFile("/proc/self/status")
    try lines.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally lines.close()
  }

  private def parseArgs(argv: Array[String]): Map[String, String] = {
    val out = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      if (i + 1 < argv.length && !argv(i + 1).startsWith("--")) {
        out(k) = argv(i + 1); i += 2
      } else { out(k) = "true"; i += 1 }
    }
    out.toMap
  }

  private def write(path: String, record: collection.Map[String, Any]): Unit = {
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(path), mapper.writeValueAsString(record))
  }
}
