package graftbench

import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.sources.ServiceLogs
import graft.streaming.StreamOps

/** The streaming workload: one generator thread feeds three
  * `MemoryStream`s, each read by one streaming query into a memory sink.
  *
  *  - golden: service log lines → `ServiceLogs.parse` → the nginx access
  *    rows as HTTP facts → `StreamOps.goldenSignalsStream`
  *  - dedup: events with redeliveries → `StreamOps.dedupStream`
  *  - ingest: documents → `StreamOps.ingestPipeline`
  *
  * After two warm-up blocks comes an open loop: every `TickMs` the
  * generator adds one chunk to each stream, on a fixed schedule that does
  * not slow when Spark does. Its first `WarmOpenS` seconds are not timed;
  * after that, a chunk's latency runs from when it was due to the end of
  * the micro-batch that consumed it. Then closed-loop blocks: a fixed
  * block of rows is added at once and timed until all three queries have
  * processed it. With tracing on, the blocks alternate between listeners
  * recording and not, so their difference is the tracing overhead. Last,
  * the streamed outputs are compared with the same operators run as batch
  * queries over every row that was offered.
  */
object StreamWorkload {
  val TickMs = 50L
  /** Rows per tick (lines, events, documents): 1000, 500 and 100 rows/s. */
  val PerTick = (50, 25, 5)
  /** Rows of one closed-loop block (lines, events, documents). */
  val Block = (16000, 8000, 1600)
  /** Untimed start of the open loop: after the warm-up blocks, the latency
    * of its small micro-batches still falls by 40-60% over about 15 s
    * before it levels off.
    */
  val WarmOpenS = 15.0
  val EventCols = Seq("event_id", "ts", "user_id", "event_type", "value")

  /** The nginx access rows of parsed service logs, as the HTTP fact rows
    * (`ts`, `service_name`, `fields`) the golden-signals rollup reads.
    */
  def httpFacts(parsed: DataFrame): DataFrame =
    parsed.filter(col("log_type") === "access").select(col("ts"),
      col("service_type").as("service_name"),
      map(lit("http_method"), col("method"), lit("http_path"), col("path"),
        lit("http_status"), col("status_code").cast("string"),
        lit("http_size"), col("response_size").cast("string"),
        lit("http_ip"), col("ip_address"), lit("http_ua"), col("user_agent")).as("fields"))

  /** Half of `seconds` is timed open loop; then a fixed number of blocks,
    * so every commit is timed over the same work.
    */
  def run(spark: SparkSession, out: String, seconds: Double, seed: Long,
          spans: Spans): Map[String, Any] = {
    implicit val ctx: SQLContext = spark.sqlContext
    import spark.implicits._
    val in = new Inputs(seed)
    if (spans.on) StreamListener.install(spark, spans)
    val lines = MemoryStream[String]
    val events = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val docs = MemoryStream[(Long, String, String)]
    // the query threads inherit the phase label, so their jobs count as exec
    def start(name: String, df: DataFrame): StreamingQuery = ExecListener.phase(spark, "exec") {
      df.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", s"$out/checkpoints/$name").start()
    }
    val queries = Seq(
      "golden" -> start("golden",
        StreamOps.goldenSignalsStream(httpFacts(ServiceLogs.parse(lines.toDF().toDF("value"))))),
      "dedup" -> start("dedup", StreamOps.dedupStream(events.toDF().toDF(EventCols: _*))),
      "ingest" -> start("ingest",
        StreamOps.ingestPipeline(docs.toDF().toDF("doc_id", "source", "content"))))

    val started = System.currentTimeMillis()
    // rows handed out so far, and per stream: chunk offset -> (due ms, rows)
    var nLines, nEvents, nDocs = 0L
    val chunks = Map("golden" -> new ConcurrentHashMap[Long, (Long, Int)](),
      "dedup" -> new ConcurrentHashMap[Long, (Long, Int)](),
      "ingest" -> new ConcurrentHashMap[Long, (Long, Int)]())
    def offset(o: Any): Long = o.toString.toLong
    def offer(l: Int, e: Int, d: Int, due: Long): Unit = synchronized {
      val ls = (nLines until nLines + l).map(in.line)
      val es = (nEvents until nEvents + e).map(in.event)
      val ds = (nDocs until nDocs + d).map(in.doc)
      nLines += l; nEvents += e; nDocs += d
      chunks("golden").put(offset(lines.addData(ls)), (due, l))
      chunks("dedup").put(offset(events.addData(es)), (due, e))
      chunks("ingest").put(offset(docs.addData(ds)), (due, d))
    }
    def drain(): Unit = queries.foreach(_._2.processAllAvailable())

    // two untimed blocks first, so code generation, the JIT's hottest
    // compilations and the state stores' first versions are done before
    // anything is timed
    for (_ <- 1 to 2) {
      offer(Block._1, Block._2, Block._3, System.currentTimeMillis())
      drain()
    }

    // open loop at the fixed offered rate; only the chunks offered after
    // its untimed start are timed
    def offsets = chunks.map { case (k, v) => k -> v.keySet.asScala.toSet }
    val openS = seconds * 0.5
    val gen = Executors.newSingleThreadScheduledExecutor()
    val t0 = System.currentTimeMillis()
    val lateMs = new java.util.concurrent.atomic.AtomicLong(0)
    @volatile var tick = 0L
    gen.scheduleAtFixedRate(() => {
      val due = t0 + tick * TickMs
      lateMs.accumulateAndGet(System.currentTimeMillis() - due, math.max)
      offer(PerTick._1, PerTick._2, PerTick._3, due)
      tick += 1
    }, 0, TickMs, TimeUnit.MILLISECONDS)
    Thread.sleep((WarmOpenS * 1000).toLong)
    val warmChunks = offsets
    val jit0 = Jvm.jitMs
    // rows offered but not yet consumed; below saturation it does not grow
    def backlog(): Long = queries.map { case (name, q) =>
      val done = Option(q.lastProgress).map(p => offset(p.sources(0).endOffset)).getOrElse(-1L)
      chunks(name).asScala.collect { case (o, (_, rows)) if o > done => rows.toLong }.sum
    }.sum
    Thread.sleep((openS * 500).toLong)
    val backlogMid = backlog()
    Thread.sleep((openS * 500).toLong)
    gen.shutdown()
    gen.awaitTermination(10, TimeUnit.SECONDS)
    val openChunks = offsets.map { case (k, v) => k -> (v -- warmChunks(k)) }
    val openJitS = (Jvm.jitMs - jit0) / 1e3
    val backlogEnd = backlog()
    drain()

    // closed-loop blocks; traced runs alternate untraced and traced blocks
    val tracing = spans.on
    val listener = if (tracing) Some(ExecListener.install(spark)) else None
    val nBlocks = math.max(3, math.round(seconds * 0.3).toInt)
    val blockTraced = (1 to (if (tracing) nBlocks + nBlocks % 2 else nBlocks))
      .map(i => tracing && i % 2 == 0)
    val blockS = blockTraced.map { traced =>
      spans.on = traced
      listener.foreach(_.recording = traced)
      val b0 = System.nanoTime()
      offer(Block._1, Block._2, Block._3, System.currentTimeMillis())
      drain()
      (System.nanoTime() - b0) / 1e9
    }
    spans.on = tracing
    listener.foreach(_.recording = true)

    // two lines a day ahead in event time move the watermark past every
    // window, so the golden query emits all of them
    val sentinel = Iterator.from(0).map(k => nLines + 80000 + k).map(in.line)
      .find(_.startsWith("10.")).get
    lines.addData(sentinel); drain()
    lines.addData(sentinel); drain()
    val runS = (System.currentTimeMillis() - started) / 1e3
    val failures = queries.flatMap { case (n, q) => q.exception.map(e => s"$n: ${e.getMessage}") }
    queries.foreach(_._2.stop())

    val progress = queries.map { case (n, q) => n -> q.recentProgress.toSeq }
    val latMs = progress.flatMap { case (name, ps) =>
      ps.filter(_.numInputRows > 0).flatMap { p =>
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
          p.durationMs.getOrDefault("triggerExecution", 0L).longValue
        val from = Option(p.sources(0).startOffset).filter(_ != "null").map(offset).getOrElse(-1L)
        val to = offset(p.sources(0).endOffset)
        ((from + 1) to to).filter(openChunks(name)).map(o => (end - chunks(name).get(o)._1).toDouble)
      }
    }
    val batches = progress.flatMap(_._2).filter(_.numInputRows > 0)
    def durations(key: String) = batches.map(_.durationMs.getOrDefault(key, 0L).longValue.toDouble)
    val stateful = batches.filter(_.stateOperators.nonEmpty)
    val stream = Map(
      "run_s" -> runS,
      "latency_ms" -> latMs,
      "block_s" -> blockS,
      "block_traced" -> blockTraced,
      "block_rows" -> (Block._1 + Block._2 + Block._3),
      "offered_rows_per_s" -> (PerTick._1 + PerTick._2 + PerTick._3) * 1000.0 / TickMs,
      "generator_late_ms" -> lateMs.get,
      "open_loop_jit_s" -> openJitS,
      "batches" -> batches.size,
      "add_batch_ms" -> durations("addBatch"),
      "planning_ms" -> durations("queryPlanning"),
      "wal_commit_ms" -> durations("walCommit"),
      "state_rows" -> stateful.map(_.stateOperators.map(_.numRowsTotal).sum).maxOption.getOrElse(0L),
      "state_mb" -> stateful.map(_.stateOperators.map(_.memoryUsedBytes).sum).maxOption
        .getOrElse(0L) / 1e6,
      "state_commit_ms" -> stateful.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble),
      "backlog_mid_rows" -> backlogMid,
      "backlog_rows" -> backlogEnd)

    // correctness: each streamed output equals its operator run as a batch
    // query (over an RDD: a local relation would be folded on the driver)
    def rdd[T](rows: Seq[T])(implicit ct: scala.reflect.ClassTag[T]) =
      spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism)
    val allLines = rdd((0L until nLines).map(in.line) ++ Seq(sentinel, sentinel)).toDF("value")
    val sentinelBucket = httpFacts(ServiceLogs.parse(Seq(sentinel).toDF("value")))
      .select(window(col("ts"), "1 minute").getField("start")).head().getTimestamp(0)
    val checks = Map(
      "golden" -> same(spark.table("golden"),
        StreamOps.goldenSignalsStream(httpFacts(ServiceLogs.parse(allLines)))
          .filter(col("bucket") < lit(sentinelBucket))),
      "dedup" -> same(spark.table("dedup"),
        StreamOps.dedupStream(rdd((0L until nEvents).map(in.event)).toDF(EventCols: _*))),
      "ingest" -> same(spark.table("ingest"),
        StreamOps.ingestPipeline(rdd((0L until nDocs).map(in.doc)).toDF("doc_id", "source", "content"))))
    Map("stream" -> stream, "checks" -> checks, "failures" -> failures,
      "attempted" -> (batches.size + checks.size).toLong,
      "rows_offered" -> Map("lines" -> nLines, "events" -> nEvents, "docs" -> nDocs))
  }

  /** True when both frames hold the same rows, in any order. */
  private def same(streamed: DataFrame, batch: DataFrame): Boolean = {
    def rows(df: DataFrame): Seq[String] =
      df.select(df.columns.sorted.toIndexedSeq.map(col): _*).collect().map(_.toString).toSeq.sorted
    rows(streamed) == rows(batch)
  }
}
