package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.{SparkEntry, Tables}

/** The benchmark's JVM side. `run.py` generates the inputs, starts this
  * main once per run and turns the raw file it writes into metrics.
  *
  * Batch workloads: set up the session several times (each time: start
  * Spark, load and scan every table through `graft.Tables`), run every
  * named query once untimed to dump its result for the correctness
  * check, then time a fixed number of passes over the queries.
  * A query that throws is reported as failed and never timed.
  *
  * `--trace 1` alternates untraced and traced passes (the difference is
  * the tracing overhead), charges Spark's jobs, stages and tasks to the
  * phase they ran under, counts the cached data each query leaves behind,
  * and ends with the kernel and parser probes.
  */
object Main {
  type Query = (SparkSession, String) => DataFrame

  val loaders: Seq[(String, Query)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation, "customer" -> Tables.customer,
    "supplier" -> Tables.supplier, "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  def session(cpus: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]").appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  def writeJson(path: String, v: Any): Unit = json.writeValue(new java.io.File(path), v)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val data = opt("data")
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val setups = opt("setups").toInt
    val seed = opt("seed").toLong
    val queries = opt.getOrElse("queries", "").split(",").filter(_.nonEmpty).toSeq
    val spans = new Spans(trace)
    Files.createDirectories(Paths.get(out))

    // set-up: several sessions, each started and warmed; all but the last stopped
    val setupS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 1 to setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = spans.span("session", "setup", run = i)(session(cpus, out))
      if (trace) ExecListener.install(spark)
      loaders.foreach { case (t, load) =>
        spans.span(t, "Tables", run = i)(noop(load(spark, data)))
      }
      setupS += (System.nanoTime() - t0) / 1e9
    }

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus, "trace" -> trace,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "setup_s" -> setupS.toSeq)
    val jit0 = Jvm.jitMs
    val gc0 = Jvm.gcMs
    if (workload == "stream_ingest")
      result ++= StreamWorkload.run(spark, out, seconds, seed, spans)
    else
      result ++= new BatchRun(spark, data, out, queries, spans)
        .run(passes = math.max(3, math.round(seconds / 2.5).toInt))
    result("jvm") = Map("jit_s" -> (Jvm.jitMs - jit0) / 1e3, "gc_s" -> (Jvm.gcMs - gc0) / 1e3)
    if (trace) {
      // the listener bus is asynchronous: let it drain before reading totals
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      result("phases") = ExecListener.install(spark).snapshot
      result("probes") = Probes.run(spark, data, seed, spans)
    }
    result("peak_rss_mb") = Jvm.peakRssMb
    writeJson(s"$out/raw.json", result)
    if (trace) writeJson(s"$out/spans.json", spans.all)
    spark.stop()
  }
}

/** One batch workload run: an untimed correctness pass, then timed passes. */
final class BatchRun(spark: SparkSession, data: String, out: String, queries: Seq[String],
                     spans: Spans) {
  private val all = SparkEntry.queries
  /** Queries without an oracle are checked by an equal digest across repetitions. */
  private val rowsOnly = queries.filterNot(SparkEntry.oracleSql.contains).toSet
  private val status = mutable.LinkedHashMap[String, String]()
  private val digests = mutable.Map[String, mutable.ArrayBuffer[String]]()
  private val samples = mutable.ArrayBuffer[Map[String, Any]]()
  private var attempted = 0L

  private def attempt(q: String)(body: => Unit): Boolean = {
    attempted += 1
    try { body; true }
    catch {
      case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(1).mkString
        if (!status.get(q).exists(_.startsWith("error"))) status(q) = s"error: $msg"
        false
    }
  }

  /** Row count plus an order-insensitive digest of the rows (doubles
    * rounded to nine decimals, as the oracle compare rounds them).
    */
  private def digest(df: DataFrame): String = {
    def norm(v: Any): String = v match {
      case null => "null"
      case d: Double if d.isNaN || d.isInfinite => d.toString
      case d: Double => BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_EVEN).toString
      case f: Float => norm(f.toDouble)
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.map { case (k, x) => s"${norm(k)}=${norm(x)}" }
        .toSeq.sorted.mkString("{", ",", "}")
      case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case other => other.toString
    }
    val rows = df.collect().map(r => norm(r)).sorted
    s"${rows.length}:${scala.util.hashing.MurmurHash3.orderedHash(rows.toSeq)}"
  }

  private def check(q: String): Unit = attempt(q) {
    val df = ExecListener.phase(spark, "check")(all(q)(spark, data))
    ExecListener.phase(spark, "check") {
      if (rowsOnly(q)) digests.getOrElseUpdate(q, mutable.ArrayBuffer()) += digest(df)
      else df.coalesce(1).write.mode("overwrite").parquet(s"$out/results/$q")
    }
    status.getOrElseUpdate(q, "ok")
    release()
  }

  /** Drops whatever the last query left cached, so queries run independently. */
  private def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def timedPass(n: Int, traced: Boolean): Unit = {
    queries.filter(status(_) == "ok").foreach { q =>
      val t0 = System.nanoTime()
      var t1 = t0
      val ok = attempt(q) {
        val df = spans.span("build", "operators", q, n) {
          ExecListener.phase(spark, "build")(all(q)(spark, data))
        }
        t1 = System.nanoTime()
        spans.span("sink", "exec", q, n)(ExecListener.phase(spark, "exec")(Main.noop(df)))
      }
      val t2 = System.nanoTime()
      val leftRdds = spark.sparkContext.getPersistentRDDs.size
      val storageMb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
      release()
      if (ok) samples += Map("query" -> q, "pass" -> n, "traced" -> traced,
        "build_s" -> (t1 - t0) / 1e9, "total_s" -> (t2 - t0) / 1e9,
        "left_rdds" -> leftRdds, "storage_mb" -> storageMb)
    }
  }

  /** A fixed number of passes, so every commit is timed over the same
    * work; 2.5 s of `--seconds` per pass is about today's pass time.
    */
  def run(passes: Int): Map[String, Any] = {
    queries.foreach(check)
    Files.createDirectories(Paths.get(s"$out/results"))
    Main.writeJson(s"$out/results/oracle_sql.json",
      SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) && !rowsOnly(q) })
    // the first pass is a warm-up; traced runs alternate untraced and traced
    // passes, so both halves see the same JIT warm-up and their difference
    // is the tracing overhead
    val tracing = spans.on
    val listener = if (tracing) Some(ExecListener.install(spark)) else None
    for (n <- 1 to passes) {
      val traced = tracing && n % 2 == 0
      spans.on = traced
      listener.foreach(_.recording = traced)
      timedPass(n, traced)
    }
    spans.on = tracing
    listener.foreach(_.recording = true)
    // rows-only queries: a second, untimed repetition must give the same digest
    queries.filter(q => rowsOnly(q) && status(q) == "ok").foreach(check)
    Map("attempted" -> attempted, "status" -> status, "rows_only" -> rowsOnly.toSeq.sorted,
      "digests" -> digests.map { case (k, v) => k -> v.toSeq }, "samples" -> samples.toSeq)
  }
}
