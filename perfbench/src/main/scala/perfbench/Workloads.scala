package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import etlmudah.load.BucketedBase
import etlmudah.streaming.Streaming

/** The three workloads, run closed-loop from the one client thread. */
final class Workloads(spark: SparkSession, plan: Plan,
                      collector: Option[Collector]) {
  val spans = new Spans
  val ops = ArrayBuffer.empty[Op]
  val failures = ArrayBuffer.empty[String]
  val notes = mutable.LinkedHashMap.empty[String, String]
  val extra = mutable.LinkedHashMap.empty[String, Double]
  private val heapPeaks = ArrayBuffer.empty[Double]
  private val dataDir = plan("data")
  private val outDir = plan("out")
  private val stageRoot = new File(System.getProperty("java.io.tmpdir"), "graft_stage")
  private val fingerprints = mutable.Map.empty[String, String]

  def fail(what: String): Unit = { failures += what; System.err.println(s"[perfbench] FAIL $what") }

  /** Completed staged-artifact attempts under the run's private stage root. */
  private def stageAttempts(): Set[String] = {
    val keyed = Option(stageRoot.listFiles()).getOrElse(Array.empty[File])
    keyed.flatMap { k =>
      Option(k.listFiles()).getOrElse(Array.empty[File])
        .filter(a => a.getName.startsWith("attempt-") && new File(a, "_SUCCESS").exists)
        .map(a => s"${k.getName.takeWhile(_ != '_')}/${a.getName}")
    }.toSet
  }

  /** Runs one timed operation; `body` returns what is checked after the
    * clock stops. An exception marks the operation failed, never timed. */
  def timed[T](name: String, phase: String, module: String)
              (body: Op => T): (Op, Option[T]) = {
    val op = new Op(f"op${ops.size}%04d", name, phase, module)
    spans.op = op.id
    val stagesBefore = stageAttempts()
    val cg0 = CodeGenerator.compileTime
    val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    spark.sparkContext.setJobGroup(op.id, name, interruptOnCancel = false)
    collector.foreach(_.current = op)
    op.startNs = System.nanoTime()
    val out =
      try Some(spans("op")(body(op))._1)
      catch {
        case e: Throwable =>
          op.status = "error"
          op.error = e.toString.take(400)
          fail(s"$name: ${op.error}")
          None
      }
    op.endNs = System.nanoTime()
    op.codegenNs = CodeGenerator.compileTime - cg0
    op.codegenCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0
    collector.foreach { c =>
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      c.current = null
      op.synchronized(op.jobs.toList).foreach { case (s, e) =>
        spans.record("job", "op", Spans.fromEpochMs(s), Spans.fromEpochMs(e))
      }
    }
    spark.sparkContext.clearJobGroup()
    op.stageBuilds = (stageAttempts() -- stagesBefore).toSeq.map(_.takeWhile(_ != '/')).sorted
    ops += op
    (op, out)
  }

  /** Heap left after a full collection, sampled between passes: each
    * heap pool's usage as that collection left it. */
  def heapCheckpoint(): Unit = {
    import scala.jdk.CollectionConverters._
    // the second collection reclaims what Spark's cleaner released
    // after the first one (broadcasts, shuffle and accumulator state)
    System.gc()
    Thread.sleep(100)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    heapPeaks += used / 1048576.0
  }
  def peakHeapMb: Double = if (heapPeaks.isEmpty) 0.0 else heapPeaks.max

  // ---------------------------------------------------------------- queries

  private def sha(lines: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => { md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) })
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** First result of each query, written out by [[writeResults]]. */
  private val firstResults = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]

  /** One query execution: the registry's build call, then collect. The
    * first execution's rows are kept for the oracle check; every later
    * one must reproduce their fingerprint. */
  def query(name: String, phase: String): Op = {
    val fn = graft.SparkEntry.queries(name)
    val (op, out) = timed(name, phase, plan(s"module.$name")) { op =>
      val (df, b) = spans("graft.build")(fn(spark, dataDir))
      val (rows, a) = spans("action")(df.collect())
      op.buildS = b
      op.actionS = a
      (df, rows)
    }
    out.foreach { case (df, rows) =>
      op.rows = rows.length
      op.fingerprint = sha(rows.map(_.json))
      fingerprints.get(name) match {
        case None =>
          fingerprints(name) = op.fingerprint
          firstResults(name) = (rows, df.schema)
          if (rows.isEmpty && !graft.SparkEntry.oracleSql.contains(name)) {
            op.status = "mismatch"
            fail(s"$name: empty result and no oracle to vouch for it")
          }
        case Some(fp) if fp != op.fingerprint =>
          op.status = "mismatch"
          fail(s"$name: result fingerprint ${op.fingerprint} differs from first run's $fp")
        case _ =>
      }
    }
    op
  }

  /** Writes each query's first result as parquet, with its oracle SQL
    * beside it, under `results/` for the checker. Runs after the
    * workload, outside every timed operation. */
  def writeResults(): Unit = {
    val dir = new File(outDir, "results")
    firstResults.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.parquet(new File(dir, name).getPath)
      graft.SparkEntry.oracleSql.get(name).foreach { sql =>
        Files.write(Paths.get(dir.getPath, s"$name.sql"), sql.getBytes(UTF_8))
      }
    }
  }

  def dashboard(): Unit = {
    plan.list("dashboard.first").foreach(query(_, "first"))
    heapCheckpoint()
    val t0 = System.nanoTime()
    plan.list("dashboard.visits").foreach(query(_, "warm"))
    extra("wall_s") = (System.nanoTime() - t0) / 1e9
    heapCheckpoint()
  }

  def curation(): Unit = {
    val first = plan.list("curation.first")
    first.foreach(query(_, "first"))
    val built = ops.filter(_.phase == "first").flatMap(_.stageBuilds).sorted
    val expected = first.flatMap(q => plan.list(s"stages.$q")).distinct.sorted
    notes("stage_builds_cold") = built.mkString(",")
    if (built != expected)
      fail(s"cold pass built stages [${built.mkString(",")}], expected [${expected.mkString(",")}]")
    heapCheckpoint()
    val t0 = System.nanoTime()
    (0 until plan("curation.passes").toInt).foreach { p =>
      plan.list(s"curation.pass$p").foreach(query(_, "warm"))
    }
    extra("wall_s") = (System.nanoTime() - t0) / 1e9
    val rebuilt = ops.filter(_.phase == "warm").flatMap(_.stageBuilds)
    if (rebuilt.nonEmpty) fail(s"warm passes rebuilt stages [${rebuilt.mkString(",")}]")
    heapCheckpoint()
  }

  // ----------------------------------------------------------------- ingest

  def ingest(): Unit = {
    val root = new File(outDir, "ingest")
    val src = new File(root, "src")
    src.mkdirs()
    val base = new File(root, "base").getPath
    val batchDir = new File(dataDir, "batches")
    val ticks = plan("ingest.ticks").toInt
    val expect = (0 until ticks).map(k => plan(s"ingest.expect$k"))
    var queries: Seq[StreamingQuery] = Nil
    var baseFiles = Map.empty[String, Long]
    var written, files, buckets, inBytes, inRows, warmRows = 0L
    var warmTickS = 0.0

    def start(): Unit = {
      val upsert = Streaming.upsertSink(
        Streaming.readEvents(spark, src.getPath, maxFilesPerTrigger = 1),
        base, new File(root, "cp_upsert").getPath).start()
      val evs = Streaming.readEvents(spark, src.getPath, maxFilesPerTrigger = 1)
      val join = Streaming.attributionJoinFullOuter(
          evs.where(col("event_type") === "purchase"),
          evs.where(col("event_type") === "click"),
          "user_id", "ts", windowUs = 3600000000L, lateness = "10 minutes")
        .writeStream.format("parquet")
        .option("path", new File(root, "joined").getPath)
        .option("checkpointLocation", new File(root, "cp_join").getPath)
        .start()
      collector.foreach { c =>
        c.streamRoles.put(upsert.runId.toString, "upsert")
        c.streamRoles.put(join.runId.toString, "join")
      }
      queries = Seq(upsert, join)
    }

    /** Blocks until every query has committed the k-th file and run the
      * no-data batch, if any, that the commit's watermark triggers. */
    def awaitCommitted(k: Int): Unit = queries.foreach { q =>
      def done = Option(q.lastProgress).exists(_.sources.forall { s =>
        Option(s.endOffset).flatMap("\"logOffset\"\\s*:\\s*(\\d+)".r.findFirstMatchIn)
          .exists(_.group(1).toInt >= k)
      })
      do {
        q.exception.foreach(e => throw e)
        q.processAllAvailable()
      } while (!done)
      q.processAllAvailable()
    }

    def tick(k: Int, phase: String): Unit = {
      val batch = new File(batchDir, f"b$k%03d.parquet")
      val (op, _) = timed(s"tick", phase, "load") { op =>
        val (_, b) = spans("drop") {
          if (k == 0) start()
          val tmp = new File(src, f".b$k%03d.tmp")
          Files.copy(batch.toPath, tmp.toPath)
          Files.move(tmp.toPath, new File(src, batch.getName).toPath,
            StandardCopyOption.ATOMIC_MOVE)
        }
        val (_, a) = spans("commit")(awaitCommitted(k))
        op.buildS = b
        op.actionS = a
      }
      val rows = plan(s"ingest.rows$k").toLong
      op.rows = rows
      inBytes += batch.length
      inRows += rows
      if (phase == "warm") { warmTickS += op.wallS; warmRows += rows }
      val now = listFiles(new File(base))
      val fresh = now.filter { case (p, _) => !baseFiles.contains(p) }
      written += fresh.values.sum
      files += fresh.size
      buckets += fresh.keys.map(p => new File(p).getParent).toSet.size
      baseFiles = now
    }

    def refresh(k: Int, phase: String): Unit = {
      val (op, out) = timed("refresh", phase, "load") { op =>
        val (df, b) = spans("graft.build") {
          BucketedBase.read(spark, base).groupBy("event_type")
            .agg(count(lit(1)).as("n"),
              sum(round(col("value") * 100).cast("long")).as("cents"))
            .orderBy("event_type")
        }
        val (rows, a) = spans("action")(df.collect())
        op.buildS = b
        op.actionS = a
        rows
      }
      out.foreach { rows =>
        op.rows = rows.length
        val got = rows.map(r => s"${r.getString(0)}:${r.getLong(1)}:${r.getLong(2)}").mkString(";")
        if (got != expect(k)) {
          op.status = "mismatch"
          fail(s"refresh after tick $k read [$got], generator predicts [${expect(k)}]")
        }
      }
    }

    try {
      tick(0, "first")
      refresh(0, "first")
      heapCheckpoint()
      val t0 = System.nanoTime()
      (1 until ticks).foreach { k => tick(k, "warm"); refresh(k, "warm") }
      extra("wall_s") = (System.nanoTime() - t0) / 1e9
      heapCheckpoint()
      val joined = scala.util.Try(
        spark.read.parquet(new File(root, "joined").getPath).count()).getOrElse(0L)
      if (joined == 0) fail("ingest: the full-outer attribution join emitted no rows")
      notes("joined_rows") = joined.toString
    } finally {
      queries.foreach(_.stop())
    }
    extra("rows_per_s") = if (warmTickS > 0) warmRows / warmTickS else 0.0
    extra("write_amp") = if (inBytes > 0) written.toDouble / inBytes else 0.0
    extra("load.bytes_written") = written.toDouble
    extra("load.files_written") = files.toDouble
    extra("load.buckets_touched") = buckets.toDouble
    extra("input_rows") = inRows.toDouble
  }

  private def listFiles(dir: File): Map[String, Long] =
    if (!dir.exists) Map.empty
    else {
      val out = mutable.Map.empty[String, Long]
      def walk(f: File): Unit =
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
        else if (f.getName.endsWith(".parquet")) out(f.getPath) = f.length
      walk(dir)
      out.toMap
    }
}
