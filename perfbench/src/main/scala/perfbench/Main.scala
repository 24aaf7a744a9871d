package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Key/value plan written by the input generator: one `key<TAB>value`
  * per line, lists comma-separated. */
final class Plan(kv: Map[String, String]) {
  def apply(k: String): String = kv.getOrElse(k, sys.error(s"plan has no '$k'"))
  def list(k: String): Seq[String] = apply(k).split(',').toSeq.filter(_.nonEmpty)
}

object Plan {
  def read(path: String): Plan = new Plan(
    scala.io.Source.fromFile(path, "UTF-8").getLines().filter(_.nonEmpty)
      .map { l => val i = l.indexOf('\t'); l.take(i) -> l.drop(i + 1) }.toMap)
}

/** Runs one workload in this process and writes `run.json` (timings,
  * per-operation records, per-layer metrics when traced) and
  * `spans.jsonl` into the plan's output directory. */
object Main {
  /** graft.Bench's session settings, verbatim. */
  def session(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "etlmudah.GraftExtensions")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.files.maxPartitionBytes", "8m")
    .config("spark.sql.codegen.maxFields", "512")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val paritySettings = Seq("spark.master", "spark.sql.shuffle.partitions",
    "spark.sql.session.timeZone", "spark.sql.extensions",
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.files.maxPartitionBytes",
    "spark.sql.codegen.maxFields", "spark.ui.enabled", "spark.local.dir",
    "spark.sql.warehouse.dir")

  /** graft.Bench's warmup: one generated aggregate, then one row of each
    * table so parquet footers and readers are loaded. */
  def warmup(spark: SparkSession, dir: String): Unit = {
    spark.range(1 << 20).selectExpr("sum(id)").write.format("noop")
      .mode("overwrite").save()
    Seq("lineitem", "orders", "customer", "nation", "region", "part",
      "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").limit(1)
        .write.format("noop").mode("overwrite").save()
    }
  }

  def main(args: Array[String]): Unit = {
    val plan = Plan.read(args(0))
    val traced = plan("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val out = new File(plan("out"))
    out.mkdirs()
    // set-up: from JVM start to the session being ready and warm
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val startS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val t0 = System.nanoTime()
    warmup(spark, plan("data"))
    val warmupS = (System.nanoTime() - t0) / 1e9
    val conf = paritySettings.map(k => k -> spark.conf.getOption(k).getOrElse(""))
    val collector = if (traced) Some(new Collector) else None
    collector.foreach { c =>
      spark.sparkContext.addSparkListener(c)
      spark.listenerManager.register(c)
      spark.streams.addListener(c.streams)
    }
    val w = new Workloads(spark, plan, collector)
    plan("workload") match {
      case "dashboard" => w.dashboard()
      case "curation" => w.curation()
      case "ingest" => w.ingest()
      case other => sys.error(s"unknown workload $other")
    }
    w.writeResults()
    spark.stop()

    val layers = if (traced) Layers(w, cpus, startS, warmupS) else Map.empty[String, Double]
    val reconcile = if (traced) Layers.reconcile(w) else Map.empty[String, String]
    def n(d: Double) = Json.num(d)
    val opsJson = w.ops.map { o =>
      Json.obj(Seq("id" -> Json.str(o.id), "name" -> Json.str(o.name),
        "phase" -> Json.str(o.phase), "module" -> Json.str(o.module),
        "wall_s" -> n(o.wallS), "build_s" -> n(o.buildS), "action_s" -> n(o.actionS),
        "codegen_s" -> n(o.codegenNs / 1e9), "codegen_compiles" -> o.codegenCompiles.toString,
        "rows" -> o.rows.toString, "fingerprint" -> Json.str(o.fingerprint),
        "status" -> Json.str(o.status), "error" -> Json.str(o.error),
        "stage_builds" -> Json.arr(o.stageBuilds.map(Json.str))))
    }
    val record = Json.obj(Seq(
      "cpus" -> cpus.toString,
      "setup_s" -> n(startS + warmupS),
      "session_start_s" -> n(startS),
      "session_warmup_s" -> n(warmupS),
      "conf" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) }),
      "peak_heap_mb" -> n(w.peakHeapMb),
      "extra" -> Json.obj(w.extra.map { case (k, v) => k -> n(v) }),
      "notes" -> Json.obj(w.notes.map { case (k, v) => k -> Json.str(v) }),
      "failures" -> Json.arr(w.failures.map(Json.str)),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> n(v) }),
      "reconcile" -> Json.obj(reconcile.toSeq.map { case (k, v) => k -> v }),
      "ops" -> Json.arr(opsJson)))
    Files.write(Paths.get(out.getPath, "run.json"), record.getBytes(UTF_8))
    if (traced) {
      val lines = w.spans.all.map { s =>
        Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
          "op" -> Json.str(s.op), "name" -> Json.str(s.name),
          "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString))
      }
      Files.write(Paths.get(out.getPath, "spans.jsonl"),
        lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
  }
}
