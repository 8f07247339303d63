package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.extract.{Dispatcher, ExtractionModule, Extractors}
import graft.ingest.MappingRules
import graft.operators.Dedup
import graft.queries.KgPipeline
import graft.query.QueryCompiler.{Catalog, TypeMapping}
import graft.sources.Sources

/** Benchmark entry point: `Main <workload> <runDir> <seconds> <trace 0|1>`.
  *
  * Reads the seeded inputs under `<runDir>/in`, sets up, runs the
  * workload's loop against graft's public API for `seconds`, and writes
  * raw samples, counters and outputs to check under `<runDir>/out`.
  * Metrics and output checks are computed by `run.py`.
  */
object Main {
  // one operation's outcome: latency, units of work, and whether it threw
  final case class Sample(kind: String, ms: Double, n: Long, ok: Boolean)

  final class Phase(val name: String) {
    val samples = new ConcurrentLinkedQueue[Sample]
    var wallS = 0.0
    def add(kind: String, t0: Long, n: Long, ok: Boolean): Unit =
      samples.add(Sample(kind, (System.nanoTime() - t0) / 1e6, n, ok))
  }

  def main(args: Array[String]): Unit = args match {
    case Array("train", dir) =>
      // build step: every workload briefly, traced, so the class-data
      // archive recorded from this JVM covers what measured runs load
      val root = Paths.get(dir).toAbsolutePath
      val spark = Session.start(root)
      Files.list(root).iterator.asScala.filter(Files.isDirectory(_)).toSeq.sorted.foreach { d =>
        if (Files.isDirectory(d.resolve("in")))
          measure(spark, d.getFileName.toString, d, 1.0, traced = true, sessionS = 0.0, setups = 1)
      }
      spark.stop()
    case Array(workload, runDir, seconds, trace) =>
      val dir = Paths.get(runDir).toAbsolutePath
      val t0 = System.nanoTime()
      val spark = Session.start(dir)
      measure(spark, workload, dir, seconds.toDouble, trace == "1", (System.nanoTime() - t0) / 1e9)
      spark.stop()
  }

  def measure(spark: SparkSession, workload: String, dir: Path, seconds: Double,
              traced: Boolean, sessionS: Double, setups: Int = 3): Unit = {
    val out = new Json(dir.resolve("out"))
    out("session_s") = sessionS
    val w: Workload = workload match {
      case "ingest" => new Ingest(spark, dir, out)
      case "refresh" => new Refresh(spark, dir, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    out("setup_s") = (1 to setups).map { i =>
      val s = System.nanoTime(); w.setup(i); (System.nanoTime() - s) / 1e9
    }
    val canary = scala.collection.mutable.LinkedHashMap[String, Double]()
    canary("before") = Session.canary(spark)
    // the during-probe runs beside the workload, at the middle of the window
    val during = new Thread(() => {
      Thread.sleep((seconds * 500).toLong)
      val ms = Session.canary(spark)
      canary.synchronized(canary("during") = ms)
    })
    during.start()
    val phases =
      if (!traced) Seq(run(w, new Phase("plain"), seconds))
      else {
        val plain = run(w, new Phase("plain"), seconds / 2)
        val (probe, detach) = Probe.attach(spark)
        val cg0 = Probe.codegen()
        Trace.on = true
        val tracedPhase = run(w, new Phase("traced"), seconds / 2)
        Trace.on = false
        detach()
        val cg1 = Probe.codegen()
        out("counters") = probe.snapshot() ++ Map(
          "codegen_compile_ns" -> (cg1._1 - cg0._1), "codegen_classes" -> (cg1._2 - cg0._2))
        out("spans") = Trace.drainAll().map(s => Map("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "req" -> s.req, "t0_ns" -> s.t0, "t1_ns" -> s.t1))
        out("layers") = w.layerProbe()
        Seq(plain, tracedPhase)
      }
    during.join()
    canary("after") = Session.canary(spark)
    out("canary_ms") = canary.toMap
    out("phases") = phases.map(p => Map("name" -> p.name, "wall_s" -> p.wallS,
      "samples" -> p.samples.asScala.toSeq.map(s =>
        Map("kind" -> s.kind, "ms" -> s.ms, "n" -> s.n, "ok" -> s.ok))))
    w.finish()
    out("env") = Map("cores" -> spark.sparkContext.defaultParallelism,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> spark.version, "nproc" -> Runtime.getRuntime.availableProcessors,
      "peak_rss_mb" -> Session.peakRssMb())
    out.write()
  }

  /** Run the workload's loop for `seconds`, recording into `phase`. */
  def run(w: Workload, phase: Phase, seconds: Double): Phase = {
    val t0 = System.nanoTime()
    w.loop(phase, t0 + (seconds * 1e9).toLong)
    phase.wallS = (System.nanoTime() - t0) / 1e9
    phase
  }
}

/** One workload: set-up (called three times, the last one is kept), the
  * measured loop, an optional per-layer probe for traced runs, and a
  * finish step that leaves its outputs for the checks.
  */
trait Workload {
  def setup(i: Int): Unit
  def loop(phase: Main.Phase, deadline: Long): Unit
  def layerProbe(): Map[String, Any] = Map.empty
  def finish(): Unit = ()
}

object Session {
  def start(dir: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors.toString
    val spark = Tables.sessionDefaults(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", dir.resolve("ckpt-default").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(dir.resolve("ckpt-rdd").toString)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark
  }

  /** Fixed-work contention probe (range -> sum), min of three, in ms. */
  def canary(spark: SparkSession): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    (System.nanoTime() - t0) / 1e6
  }.min

  /** The JVM's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timeMs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }
}

/** The crawl → KG pipeline, layer by layer, as myDIG's ETK flow runs it. */
object Pipeline {
  val PageSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("url", StringType),
    StructField("site", StringType), StructField("raw_content", StringType)))

  /** Glossaries and site modules; gen.py plants the same tables. */
  val Glossaries: Seq[(String, Seq[String])] = Seq(
    "country" -> Seq("nigeria", "kenya", "brazil", "canada", "france", "germany",
      "india", "japan", "mexico", "peru", "chile", "egypt", "ghana",
      "norway", "spain", "italy", "new zealand", "south africa", "sri lanka", "costa rica"),
    "product" -> Seq("laptop", "phone", "tablet", "camera", "printer", "router",
      "monitor", "keyboard", "speaker", "headset", "charger", "drone", "scanner",
      "smart watch", "game console"),
    "topic" -> Seq("election", "flood", "protest", "drought", "festival",
      "strike", "outbreak", "summit", "earthquake", "wildfire"))
  val Sites: Seq[(String, Seq[String])] = Seq(
    "news" -> Seq("title", "country", "topic", "date", "host"),
    "forum" -> Seq("title", "product", "email", "date", "host"),
    "shop" -> Seq("title", "product", "country", "host"),
    "blog" -> Seq("title", "country", "product", "topic", "date", "email", "host"))
  val Fields: Seq[String] = Seq("title", "country", "product", "topic", "date", "email", "host")
  val DateRx = "\\d{4}-\\d{2}-\\d{2}|\\d{2}/\\d{2}/\\d{4}|[A-Z][a-z]{2} \\d{1,2}, \\d{4}"

  def extractor(field: String): Column = field match {
    case "title" => array(Extractors.htmlTitle(col("raw_content")))
    case "host" => array(Extractors.hostname(col("url")))
    case "email" => Extractors.emails(col("text"))
    case "date" => filter(
      transform(regexp_extract_all(col("text"), lit(DateRx), lit(0)),
        s => date_format(Extractors.parseDate(s), "yyyy-MM-dd")),
      _.isNotNull)
    case g => Extractors.glossary(col("text"), Glossaries.toMap.apply(g))
  }

  /** One ETK module per crawl site, routed by `site`. */
  val Modules: Seq[ExtractionModule] = Sites.map { case (site, fields) =>
    new ExtractionModule {
      val name = s"em_$site"
      val selector: Column = col("site") === site
      def transform(docs: DataFrame): DataFrame =
        docs.withColumns(fields.map(f => s"x_$f" -> extractor(f)).toMap)
    }
  }

  def read(spark: SparkSession, path: String): DataFrame =
    Trace.span("sources")(Sources.jsonLines(spark, path, Some(PageSchema)))

  def rules(df: DataFrame): DataFrame = Trace.span("rules") {
    df.transform(MappingRules.trimWhitespace)
      .transform(MappingRules.blankToNull)
      .transform(MappingRules.constants(Map("dataset" -> "crawl")))
      .withColumn("text", Extractors.htmlAllText(col("raw_content")))
  }

  def lshPairs(docs: DataFrame): DataFrame = Trace.span("dedup.lsh")(
    Dedup.minhashLshPairs(docs, "doc_id", "text", k = 8, bands = 8))

  val ConfirmJaccard = 0.7

  def survivors(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val labels = Trace.span("dedup.cluster")(
      Dedup.clusters(pairs.filter(col("jaccard") >= ConfirmJaccard)))
    docs.join(labels.filter(col("id") =!= col("cluster")).select(col("id").as("doc_id")),
      Seq("doc_id"), "left_anti")
  }

  def extract(docs: DataFrame): DataFrame = Trace.span("extract") {
    val ex = Dispatcher.run(docs, Modules)
    val full = Fields.foldLeft(ex) { (d, f) =>
      if (d.columns.contains(s"x_$f")) d else d.withColumn(s"x_$f", lit(null).cast("array<string>"))
    }
    Extractors.toKgValues(full, "doc_id",
      Fields.map(f => (f, col(s"x_$f"), s"em_$f", "content")))
  }

  /** Single-pass extraction for streams (no lineage barriers there). */
  def extractStream(docs: DataFrame): DataFrame = {
    val withText = docs.withColumn("text", Extractors.htmlAllText(col("raw_content")))
    val cols = Fields.map { f =>
      val sites = Sites.collect { case (s, fs) if fs.contains(f) => s }
      when(col("site").isin(sites: _*), extractor(f))
    }
    Extractors.toKgValues(withText, "doc_id",
      Fields.zip(cols).map { case (f, c) => (f, c, s"em_$f", "content") })
  }

  def store(kg: DataFrame, path: String): Unit =
    Trace.span("store.write")(KgPipeline.writeKgStore(kg, path))

  /** The whole ingest job: input files to a complete KG store. */
  def ingest(spark: SparkSession, in: String, storePath: String): Unit = {
    val docs = rules(read(spark, in))
    store(extract(survivors(docs, lshPairs(docs))), storePath)
  }

  val SearchCatalog: Catalog = Catalog(Map(
    "country" -> TypeMapping(Seq("country" -> 10.0)),
    "product" -> TypeMapping(Seq("product" -> 5.0)),
    "topic" -> TypeMapping(Seq("topic" -> 3.0))))
}

/** The raw results file (`result.json`) and per-operation JSON lines. */
final class Json(dir: Path) {
  private val m = scala.collection.mutable.LinkedHashMap[String, Any]()
  def update(k: String, v: Any): Unit = synchronized(m(k) = v)

  def write(): Unit = synchronized {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("result.json"), Json.mapper.writeValueAsString(m))
  }

  def line(name: String, v: Any): Unit = synchronized {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(name), Json.mapper.writeValueAsString(v) + "\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }
}

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}
