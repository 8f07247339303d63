package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Caches, SparkEntry}
import graft.queries.{KgPipeline, Relational}
import graft.query.QueryCompiler
import graft.query.QueryCompiler.{Constraint, QuerySpec}
import graft.streaming.PipelineRunner

import Session.{noop, timeMs}

object Inputs {
  def json(p: Path): JsonNode = Json.mapper.readTree(p.toFile)
  def lines(p: Path): Long = Files.lines(p).count()
  def files(dir: Path, suffix: String): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Files.walk(dir).iterator.asScala.filter(_.toString.endsWith(suffix)).toSeq.sorted
}

/** `ingest`: one batch job per operation, crawl shard → KG store. */
final class Ingest(spark: SparkSession, dir: Path, out: Json) extends Workload {
  private val shards = Inputs.files(dir.resolve("in/shards"), ".jsonl")
  private val pages = shards.map(Inputs.lines)
  private val stores = dir.resolve("stores")
  private var n = 0

  def setup(i: Int): Unit = {
    Pipeline.ingest(spark, dir.resolve("in/warm.jsonl").toString, stores.resolve(s"warm-$i").toString)
    Caches.sweep(spark, Set.empty)
  }

  // an op starts whenever the window is still open, so a run holds the
  // same number of ops unless op latency changes by a whole op per window
  def loop(phase: Main.Phase, deadline: Long): Unit = while (System.nanoTime() < deadline) {
    val s = n % shards.size
    val store = stores.resolve(f"op-$n%03d").toString
    val t0 = System.nanoTime()
    val ok = Ops.attempt(Trace.span("ingest")(Pipeline.ingest(spark, shards(s).toString, store)))
    phase.add("op", t0, pages(s), ok)
    out.line("ingest_ops.jsonl", Map("shard" -> shards(s).getFileName.toString, "store" -> store, "ok" -> ok))
    Caches.sweep(spark, Set.empty)
    n += 1
  }

  /** Prefix timing: a noop write of the pipeline cut after each layer. */
  override def layerProbe(): Map[String, Any] = {
    val (probe, detach) = Probe.attach(spark)
    try {
      val shard = shards.head.toString
      def docs = Pipeline.rules(Pipeline.read(spark, shard))
      def measured(body: => Unit): (Double, Map[String, Long]) = {
        Caches.sweep(spark, Set.empty)
        Probe.drain(spark)
        val c0 = probe.snapshot()
        val ms = timeMs(body)
        Probe.drain(spark)
        (ms, Probe.delta(c0, probe.snapshot()))
      }
      val (p1, c1) = measured(noop(Pipeline.read(spark, shard)))
      val (p2, _) = measured(noop(docs))
      val (p3, _) = measured(noop(Pipeline.lshPairs(docs)))
      val pairs = Pipeline.lshPairs(docs)
      val Seq(cand, useful) = pairs.agg(count(lit(1)),
        coalesce(sum(when(col("jaccard") >= Pipeline.ConfirmJaccard, 1)), lit(0L))).first().toSeq
        .map(_.toString.toLong)
      Caches.sweep(spark, Set.empty)
      val (p4, c4) = measured(noop(Pipeline.survivors(docs, Pipeline.lshPairs(docs))))
      val (p5, _) = measured(noop(Pipeline.extract(Pipeline.survivors(docs, Pipeline.lshPairs(docs)))))
      val store = stores.resolve("probe").toString
      val (p6, c6) = measured(Pipeline.ingest(spark, shard, store))
      val kg = KgPipeline.kgFromStore(spark, store)
      val Seq(rows, docsN) = kg.agg(count(lit(1)), countDistinct(col("doc_id"))).first().toSeq
        .map(_.toString.toLong)
      Caches.sweep(spark, Set.empty)
      Map(
        "sources.read_ms" -> p1, "sources.bytes_read" -> c1.getOrElse("bytes_read", 0L),
        "rules.ms" -> (p2 - p1),
        "dedup.lsh_ms" -> (p3 - p2), "dedup.candidate_pairs" -> cand,
        "dedup.useful_pair_ratio" -> (if (cand > 0) useful.toDouble / cand else 0.0),
        "dedup.cluster_ms" -> (p4 - p3),
        "dedup.cluster_rounds" -> math.max(0L, c4.getOrElse("jobs@localCheckpoint at Dedup.scala", 0L) - 1),
        "dedup.cluster_jobs" -> c4.getOrElse("jobs@Dedup.scala", 0L),
        "extract.ms" -> (p5 - p4), "extract.kg_rows_per_doc" -> rows.toDouble / math.max(1L, docsN),
        "store.write_ms" -> (p6 - p5), "store.bytes_written" -> c6.getOrElse("bytes_written", 0L),
        "store.files_written" -> Inputs.files(Path.of(store), ".parquet").size)
    } finally detach()
  }
}

/** The DIG UI analyst's request on the KG store: search + facets. The
  * store is the refresh pipeline's, which holds no docs table, so the
  * request has no free text and search reads only the KG.
  */
final class SearchRequest(spark: SparkSession, out: Json) {
  private val facetFields = Seq("country", "product", "topic")

  /** Run one request; sampled ones record their outputs for the oracle. */
  def apply(q: JsonNode, kgPath: String, sample: Boolean): Long = {
    spark.sparkContext.setLocalProperty(Probe.Request, q.get("id").asText)
    try run(q, kgPath, sample)
    finally spark.sparkContext.setLocalProperty(Probe.Request, null)
  }

  private def run(q: JsonNode, kgPath: String, sample: Boolean): Long = {
    val kg = KgPipeline.kgFromStore(spark, kgPath)
    val spec = QuerySpec(
      q.get("constraints").elements.asScala.map(c => Constraint(c.get(0).asText, c.get(1).asText)).toSeq,
      None, limit = 20)
    val (hitsDf, facetsDf) = Trace.span("query.compile") {
      val h = QueryCompiler.search(kg, kg, "doc_id", "text", spec, Pipeline.SearchCatalog)
      (h, QueryCompiler.facets(kg, h, facetFields, k = 5))
    }
    val hits = Trace.span("query.exec")(hitsDf.collect())
    val facets = Trace.span("query.exec")(facetsDf.collect())
    if (sample) out.line("search_samples.jsonl", Map("id" -> q.get("id").asLong,
      "hits" -> hits.map(r => Seq(r.getString(0), r.getDouble(1), r.getLong(2))),
      "facets" -> facets.map(r => Seq(r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))))
    hits.length
  }
}

object Ops {
  val failures = new AtomicInteger
  /** Run an operation; a throw counts as a failed operation, not a crash. */
  def attempt(body: => Unit): Boolean =
    try { body; true }
    catch { case e: Throwable =>
      if (failures.incrementAndGet() <= 3) { System.err.println(s"operation failed: $e"); e.printStackTrace() }
      false
    }
}

/** `refresh`: an open-loop writer drops page batches on a schedule; a
  * manager runs the project's pipeline whenever files are pending (the
  * `/run_etk` loop); one closed-loop reader searches the growing store.
  */
final class Refresh(spark: SparkSession, dir: Path, out: Json) extends Workload {
  private val staging = dir.resolve("in/batches")
  private val schedule = Inputs.json(dir.resolve("in/schedule.json")).elements.asScala.toIndexedSeq
  private val queries = Inputs.json(dir.resolve("in/queries.json")).elements.asScala.toIndexedSeq
  private val request = new SearchRequest(spark, out)
  private var proj: Path = _
  private var nextBatch = 1
  private val committed = scala.collection.mutable.LinkedHashMap[String, Long]()
  private val progress = scala.collection.mutable.ArrayBuffer[Map[String, Long]]()
  private var runs, backlogMax = 0L
  private val filesSeen = new AtomicLong
  private val hits = new AtomicLong
  private val reads = new AtomicLong

  private def batchFile(i: Int) = f"batch-$i%05d.parquet"
  private def pagesOf(f: String) = schedule(f.slice(6, 11).toInt).get("pages").asLong

  private def runPipeline(): Unit = {
    val q = PipelineRunner.run(spark, "refresh", proj.resolve("in").toString, Pipeline.PageSchema,
      Pipeline.extractStream, proj.resolve("store").toString, proj.resolve("ckpt").toString)
    q.awaitTermination()
    runs += 1
    q.recentProgress.foreach(p => progress += p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }

  /** Files the stream has planned (hence, after the run ends, committed),
    * one entry per planned file: the file source log's latest `N.compact`
    * file (which repeats every earlier batch) plus the batches after it.
    * A file planned twice appears twice.
    */
  private def committedFiles(): Seq[String] = {
    val log = Inputs.files(proj.resolve("ckpt/sources/0"), "")
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.matches("\\d+(\\.compact)?"))
    def id(f: Path) = f.getFileName.toString.stripSuffix(".compact").toLong
    val compact = log.filter(_.toString.endsWith(".compact")).map(id).maxOption.getOrElse(-1L)
    log.filter(f => id(f) > compact || (id(f) == compact && f.toString.endsWith(".compact")))
      .sortBy(id)
      .flatMap(f => "batch-\\d+\\.parquet".r.findAllIn(Files.readString(f)))
  }

  def setup(i: Int): Unit = {
    proj = dir.resolve(s"refresh-$i")
    Files.createDirectories(proj.resolve("in"))
    Files.copy(staging.resolve(batchFile(0)), proj.resolve("in").resolve(batchFile(0)))
    runPipeline()
    committed.clear(); progress.clear(); runs = 0
  }

  def loop(phase: Main.Phase, deadline: Long): Unit = {
    val start = System.nanoTime()
    val firstDue = schedule(nextBatch).get("due_ms").asLong
    val dueAt = scala.collection.concurrent.TrieMap[String, Long]()
    val writerDone = new AtomicBoolean(false)
    val writer = new Thread(() => {
      var stop = false
      while (!stop && nextBatch < schedule.size) {
        val due = start + (schedule(nextBatch).get("due_ms").asLong - firstDue) * 1000000L
        if (due >= deadline) stop = true
        else {
          while (System.nanoTime() < due) Thread.sleep(1)
          val f = batchFile(nextBatch)
          // write-then-rename, so the stream never lists a partial file
          val tmp = proj.resolve(s".$f")
          Files.copy(staging.resolve(f), tmp)
          Files.move(tmp, proj.resolve("in").resolve(f), StandardCopyOption.ATOMIC_MOVE)
          dueAt(f) = due
          phase.add("late", due, 0, ok = true)
          out.line("refresh_dropped.jsonl", f)
          nextBatch += 1
        }
      }
      writerDone.set(true)
    })
    val reader = new Thread(() => {
      var k = 0
      while (System.nanoTime() < deadline) {
        val q = queries(k % queries.size)
        Probe.count(filesSeen, Inputs.files(proj.resolve("store"), ".parquet").size)
        Probe.count(reads, 1)
        val t0 = System.nanoTime()
        val ok = Ops.attempt(Trace.request(k)(Trace.span("request")(
          Probe.count(hits, request(q, proj.resolve("store").toString, sample = false)))))
        phase.add("read", t0, 1, ok)
        k += 1
      }
    })
    writer.start(); reader.start()
    // manager: runs until the writer is done and nothing is pending
    var pending = true
    while (!writerDone.get || pending) {
      val backlog = dueAt.keys.count(f => !committed.contains(f))
      if (backlog > 0) {
        backlogMax = math.max(backlogMax, backlog.toLong)
        val ok = Ops.attempt(Trace.span("stream.run")(runPipeline()))
        val end = System.nanoTime()
        committedFiles().distinct.filterNot(committed.contains).foreach { f =>
          committed(f) = end
          dueAt.get(f).foreach(d =>
            phase.samples.add(Main.Sample("fresh", (end - d) / 1e6, pagesOf(f), ok)))
        }
        if (!ok) Thread.sleep(50)
      } else Thread.sleep(2)
      pending = dueAt.keys.exists(f => !committed.contains(f))
    }
    writer.join(); reader.join()
  }

  override def layerProbe(): Map[String, Any] = {
    def total(keys: String*) = progress.map(p => keys.map(p.getOrElse(_, 0L)).sum).sum.toDouble
    val r = math.max(1L, runs).toDouble
    Map("stream.trigger_ms" -> total("triggerExecution") / r, "stream.add_batch_ms" -> total("addBatch") / r,
      "stream.commit_ms" -> total("walCommit", "commitOffsets") / r,
      "stream.plan_ms" -> total("queryPlanning") / r,
      "stream.backlog_max" -> backlogMax, "stream.runs" -> runs, "hits" -> hits.get,
      "store.files_read_per_query" -> filesSeen.get.toDouble / math.max(1L, reads.get)) ++
      RegistryLayer.probe(spark, dir, out)
  }

  /** The final store and, for the oracle, the first requests of the
    * mix run again on it (outside the measured window). */
  override def finish(): Unit = {
    PipelineRunner.stop("refresh")
    val store = proj.resolve("store").toString
    queries.take(Refresh.CheckedRequests).foreach(q => request(q, store, sample = true))
    out("refresh") = Map("store" -> store, "committed" -> committedFiles(), "runs" -> runs)
  }
}

object Refresh {
  val CheckedRequests = 2
}

/** The registry layer (`SparkEntry.queries` by name family), measured in
  * traced refresh runs: one pass over a family-stratified seeded sample on
  * a small generated corpus. Session indexes are built first; each query
  * is materialized with a noop write, and `Caches.sweep` runs between
  * queries, as in `graft.Bench`.
  */
object RegistryLayer {
  val CheckedOutputs = 2

  def probe(spark: SparkSession, dir: Path, out: Json): Map[String, Any] = {
    val corpus = dir.resolve("in/corpus").toString
    val sample = Inputs.json(dir.resolve("in/registry_sample.json")).elements.asScala
      .map(n => (n.get("family").asText, n.get("name").asText)).toIndexedSeq
    val queries = SparkEntry.queries
    Caches.sweep(spark, Set.empty)
    // a fresh session rebuilds the session-scoped indexes
    val session = spark.newSession()
    KgPipeline.kg(session, corpus)
    Relational.graphBuild(session, corpus).count()
    val keep = Caches.persistentIds(spark)
    val timed = sample.map { case (family, name) =>
      var ok = false
      val ms = timeMs { ok = Ops.attempt(noop(queries(name)(session, corpus))) }
      Caches.sweep(spark, keep)
      (family, name, ms, ok)
    }
    // outputs of the first sampled queries that have an oracle
    val oracles = SparkEntry.oracleSql
    val checked = timed.collect { case (_, n, _, true) if oracles.contains(n) => n }.take(CheckedOutputs)
    checked.foreach { name =>
      queries(name)(session, corpus).write.parquet(dir.resolve(s"out/registry/$name").toString)
      Caches.sweep(spark, keep)
    }
    Caches.sweep(spark, Set.empty)
    out("registry") = Map("attempted" -> timed.size, "failed" -> timed.collect { case (_, n, _, false) => n },
      "checked" -> checked.map(n => Map("name" -> n, "sql" -> oracles(n))))
    timed.collect { case (f, _, ms, true) => s"registry.${f}_ms" -> ms }.toMap
  }
}
