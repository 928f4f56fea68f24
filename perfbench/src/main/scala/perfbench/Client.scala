package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

/** Closed-loop benchmark client: one thread issues the production
  * query functions of `graft.SparkEntry.queries` back to back over
  * generated inputs and records, per query, two phases timed from
  * outside the engine:
  *  - build: the key's function call (eager barriers and driver
  *    collects run here, before a DataFrame is returned);
  *  - action: one aggregate over a hash of every output column, so
  *    column pruning cannot skip output work.
  * Usage (all flags required):
  *   Client --data DIR --out DIR --keys k1,k2 --seconds N --trace 0|1
  *          --inputs k=t1+t2;...
  * `--inputs` names each key's input tables for the traced scan
  * probe. Writes `result.json` (and `spans.json` when tracing) plus
  * one parquet dump per key, from the warm-up pass, under `--out`. */
object Client {

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dataDir = opt("data")
    val outDir = opt("out")
    val keys = opt("keys").split(',').toSeq
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val inputs = opt("inputs").split(';').filter(_.nonEmpty).map { kv =>
      val Array(k, ts) = kv.split("=", 2)
      k -> ts.split('+').toSeq
    }.toMap

    // the session confs of graft.Bench
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4m")
    graft.sources.Tables.requiredConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val ledger = new Ledger
    sc.addSparkListener(ledger)
    val spans = new Spans(trace)
    val queries = graft.SparkEntry.queries

    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

    def tagged[T](tag: String)(body: => T): T = {
      sc.setLocalProperty(Ledger.TagKey, tag)
      try body finally sc.setLocalProperty(Ledger.TagKey, null)
    }

    /** Runs one key: build, then the action: the hashing aggregate,
      * or, given `dumpTo`, a parquet write of the whole output for the
      * correctness check. Returns the sample, or that of the failure. */
    def runQuery(pass: Int, key: String, inspect: Boolean,
        dumpTo: Option[String] = None): Map[String, Any] = {
      val qid = s"$pass/$key"
      val t0 = System.nanoTime()
      val startMs = System.currentTimeMillis()
      try spans("query", qid) {
        val df = spans("build", qid)(tagged(s"$pass|$key|build")(queries(key)(spark, dataDir)))
        val t1 = System.nanoTime()
        val (action, digest) = spans("action", qid)(tagged(s"$pass|$key|action") {
          dumpTo match {
            case Some(path) =>
              df.write.mode("overwrite").parquet(path)
              (df, None)
            case None =>
              val a = hashed(df)
              (a, Some(a.collect()(0)))
          }
        })
        val t2 = System.nanoTime()
        val base = Map[String, Any]("pass" -> pass, "key" -> key, "ok" -> true,
          "build_s" -> (t1 - t0) / 1e9, "action_s" -> (t2 - t1) / 1e9,
          "start_ms" -> startMs, "end_ms" -> System.currentTimeMillis()) ++
          digest.map(d => Map("rows" -> d.getLong(0), "digest" -> String.valueOf(d.get(1))))
            .getOrElse(Map.empty)
        if (inspect) base ++ planFeatures(action) else base
      } catch {
        case NonFatal(e) =>
          Map("pass" -> pass, "key" -> key, "ok" -> false, "error" -> firstLine(e),
            "build_s" -> (System.nanoTime() - t0) / 1e9, "action_s" -> 0.0,
            "start_ms" -> startMs, "end_ms" -> System.currentTimeMillis())
      }
    }

    def blocksBytes(): Long = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

    // warm-up: one pass over the workload's own inputs (fills JIT,
    // codegen caches and the per-dir fixtures); its action writes each
    // key's output for the correctness check
    def dumpPath(k: String) = s"$outDir/dump/$k"
    val warm = keys.map(k => runQuery(-1, k, inspect = false, dumpTo = Some(dumpPath(k))))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // timed window: whole passes until `seconds` have elapsed, and at
    // least three (five when tracing), so that two (four) follow the
    // first, which the figures leave out.
    val rssReset = resetPeakRss()
    val windowStart = System.nanoTime()
    var pass = 0
    val minPasses = if (trace) 5 else 3
    while (pass < minPasses || (System.nanoTime() - windowStart) / 1e9 < seconds) {
      // traced runs alternate untraced and traced passes, so the
      // difference of their medians is the tracing overhead
      val traced = trace && pass % 2 == 1
      val p0 = System.nanoTime()
      val got = spans("pass", s"$pass")(keys.map(k => runQuery(pass, k, inspect = traced)))
      val wall = (System.nanoTime() - p0) / 1e9
      samples ++= got
      passes += Map("pass" -> pass, "wall_s" -> wall, "traced" -> traced,
        "blocks_bytes" -> blocksBytes())
      pass += 1
    }
    val peakRssKb = readStatusKb("VmHWM")

    // traced runs only: the scan of each key's input frames alone
    val scans = if (!trace) Nil else keys.map { k =>
      val t0 = System.nanoTime()
      spans("sources.scan", s"scan/$k")(tagged(s"scan|$k|scan") {
        inputs.getOrElse(k, Nil).foreach(t => hashed(inputFrame(spark, dataDir, t)).collect())
      })
      Map("key" -> k, "scan_s" -> (System.nanoTime() - t0) / 1e9)
    }

    // digest of each checked output, to compare with the timed passes
    val dumps = warm.map { w =>
      val k = w("key").toString
      if (w("ok") != true) Map("key" -> k, "ok" -> false, "error" -> w("error"))
      else tagged(s"dump|$k|dump") {
        val d = hashed(spark.read.parquet(dumpPath(k))).collect()(0)
        Map("key" -> k, "ok" -> true, "rows" -> d.getLong(0), "digest" -> String.valueOf(d.get(1)))
      }
    }

    org.apache.spark.perfbench.BusDrain(sc)
    val result = Map(
      "setup_s" -> setupS, "cores" -> cpus.toInt, "peak_rss_kb" -> peakRssKb,
      "peak_rss_reset" -> rssReset, "warmup" -> warm, "samples" -> samples.toSeq,
      "passes" -> passes.toSeq, "scans" -> scans, "dumps" -> dumps,
      "oracle" -> keys.map(k => k -> graft.SparkEntry.oracleSql.get(k)).toMap,
      "ledger" -> ledger.snapshot.map { case (t, c) => Map("tag" -> t) ++ c.toJson })
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(s"$outDir/result.json"), json.writeValueAsString(result))
    if (trace) Files.writeString(Paths.get(s"$outDir/spans.json"), json.writeValueAsString(spans.recorded))
    spark.stop()
  }

  /** One row: the output row count and an order-independent digest
    * of a hash over every output column. */
  def hashed(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(s"`${f.name}`")).cast(StringType) // xxhash64 rejects maps
        case _ => col(s"`${f.name}`")
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.select(h.as("h")).agg(count(lit(1)), sum(pmod(col("h"), lit(2147483647L))))
  }

  private def inputFrame(spark: SparkSession, dir: String, table: String): DataFrame =
    if (table == "canonical_events") graft.SparkEntry.canonicalEvents(spark, dir)
    else graft.sources.Tables.read(spark, dir, table)

  /** Planning phase times of the action and node counts of its final
    * adaptive plan. */
  private def planFeatures(action: DataFrame): Map[String, Any] = {
    val qe = action.queryExecution
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val nodes = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = {
      nodes += p
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(qe.executedPlan)
    Map("analyze_ms" -> ms("analysis"), "optimize_ms" -> ms("optimization"),
      "physical_ms" -> ms("planning"),
      "exchanges" -> nodes.count(_.isInstanceOf[Exchange]),
      "rank_rewrites" -> nodes.count(_.getClass.getSimpleName.startsWith("GlobalRank")))
  }

  /** Resets the kernel's peak-RSS mark, so VmHWM covers the timed
    * window only. Returns false where /proc/self/clear_refs cannot
    * be written; VmHWM then covers the whole process. */
  private def resetPeakRss(): Boolean =
    try { Files.writeString(Paths.get("/proc/self/clear_refs"), "5"); true }
    catch { case NonFatal(_) => false }

  private def readStatusKb(field: String): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(field + ":")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  private def firstLine(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
}
