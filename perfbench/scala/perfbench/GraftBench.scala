package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.Cleanup
import graft.operators.{InvertedIndex, Pipeline, Relational, TpcH}
import graft.sources.{LetterSink, TextCorpus}
import graft.streaming.EventStreams

/** What one iteration of a workload measured besides its wall time. */
final case class Iteration(wallS: Double, ok: Boolean,
    samples: Map[String, Seq[Double]] = Map.empty,
    counts: Map[String, Double] = Map.empty)

/** A workload runs as a closed loop: each iteration starts when the
  * previous one has returned. With a tracer, every graft call is a span
  * and each layer's output is forced before the next layer is called.
  */
trait Workload {
  def register(spark: SparkSession): Unit
  def iterate(spark: SparkSession, k: Int, tr: Option[Tracer]): Iteration
  /** Checks that need graft itself, run once after the timed loop:
    * the number of iterations found wrong, and extra result fields.
    */
  def finish(spark: SparkSession): (Int, Map[String, Any]) = (0, Map.empty)
}

object GraftBench {
  private def now: Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.graft.ingest.autosplit", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation",
        work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-span counters of one iteration: spans of the same name (one per
    * query, one per trigger) are summed, straggler ratios take the max.
    */
  private def perIteration(spans: Seq[Span]): Map[String, Map[String, Double]] = {
    def combine(cs: Seq[Map[String, Double]]): Map[String, Double] =
      cs.flatMap(_.keys).distinct.map { k =>
        val vs = cs.flatMap(_.get(k))
        k -> (if (k == "task_max_over_median") vs.max else vs.sum)
      }.toMap
    val byName = spans.groupBy(_.name).map { case (n, ss) => n -> combine(ss.map(_.counters)) }
    byName + ("total" -> combine(byName.values.toSeq).filter { case (k, _) =>
      !k.startsWith("trigger.") && k != "combine_ratio"
    })
  }

  private def spanLine(iter: Int, s: Span): Map[String, Any] = Map(
    "iter" -> iter, "span" -> s.name, "detail" -> s.detail,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs, "counters" -> s.counters)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    val wl: Workload = a("workload") match {
      case "ref_index_long" | "ref_index_short" => new RefIndex(work)
      case "tpch_batch" => new TpchBatch(work)
      case "curated_ingest" => new CuratedIngest(work)
    }

    // set-up: a new session until it is ready and the inputs are
    // registered. The first also pays JVM start; the median is taken over
    // the `setups` that follow it, each in a fresh session.
    var spark = session(cpus, work)
    wl.register(spark)
    val coldSetupS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val setupS = (1 to a("setups").toInt).map { _ =>
      spark.stop()
      val t = now
      spark = session(cpus, work)
      wl.register(spark)
      secs(t)
    }
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

    val first = wl.iterate(spark, 0, None)
    Cleanup.fullRelease(spark)
    val untracedIt = mutable.ArrayBuffer[Iteration]()
    val tracedIt = mutable.ArrayBuffer[(Iteration, Seq[Span])]()
    val tracer = new Tracer(spark)
    val t0 = now
    var k = 1
    // closed loop for `seconds`. A traced run orders its iterations in
    // blocks of untraced, traced, traced, untraced, so a drift such as
    // JIT warm-up cancels out of the tracing overhead.
    def tracedTurn(k: Int) = traced && (k - 1) % 4 != 0 && (k - 1) % 4 != 3
    while (secs(t0) < seconds || untracedIt.isEmpty || (traced && (k - 1) % 4 != 0)) {
      if (tracedTurn(k)) {
        tracer.start()
        val before = tracer.done.size
        val it = wl.iterate(spark, k, Some(tracer))
        tracer.stop()
        tracedIt += ((it, tracer.done.drop(before).toSeq))
      } else untracedIt += wl.iterate(spark, k, None)
      // garbage of one iteration is collected before the next is timed
      Cleanup.fullRelease(spark)
      k += 1
    }

    // exact counts of the real (unforced) plans: one more iteration, not
    // timed, inside a single span, in traced and untraced runs alike
    tracer.start()
    val countIt = tracer.span("workload")(wl.iterate(spark, k, None))
    tracer.stop()
    val counts = tracer.done.last.counters.filter { case (c, _) =>
      c == "exchanges" || c == "shuffle_write_records"
    } ++ countIt.counts + ("storage.peak_mb" -> tracer.peakBlockBytes / 1e6)

    val checked = (first +: untracedIt.toSeq) ++ tracedIt.map(_._1) :+ countIt
    val (lateFailures, extra) = wl.finish(spark)
    val result = mutable.Map[String, Any](
      "setup_s" -> setupS,
      "cold_setup_s" -> coldSetupS,
      "first_run_s" -> first.wallS,
      "wall_s" -> untracedIt.map(_.wallS).toSeq,
      "iterations" -> checked.size,
      "failed" -> (checked.count(!_.ok) + lateFailures),
      "samples" -> untracedIt.flatMap(_.samples.toSeq).groupBy(_._1)
        .map { case (k, v) => k -> v.flatMap(_._2).toSeq },
      "counts" -> counts,
      "first_counts" -> first.counts,
      "host" -> Map(
        "nproc" -> cpus, "master" -> spark.sparkContext.master,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark_version" -> spark.version),
      "peak_rss_mb" -> peakRssMb()) ++ extra
    if (traced) {
      val perIt = tracedIt.map { case (_, ss) => perIteration(ss) }
      val names = perIt.flatMap(_.keys).distinct
      result("per_layer") = names.map { n =>
        val keys = perIt.flatMap(_.get(n)).flatMap(_.keys).distinct
        n -> keys.map(c => c -> median(perIt.map(_.get(n).flatMap(_.get(c)).getOrElse(0.0)).toSeq)).toMap
      }.toMap
      result("traced_wall_s") = tracedIt.map(_._1.wallS).toSeq
      val lines = tracedIt.zipWithIndex.flatMap { case ((_, ss), i) =>
        ss.map(s => spanLine(i, s))
      }
      Files.write(Paths.get(a("trace_out")),
        lines.map(mapper.writeValueAsString).asJava)
    }
    spark.stop()
    Files.writeString(Paths.get(a("out")), mapper.writeValueAsString(result.toMap))
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** The reference CLI path: manifest -> inverted index -> 26 letter files.
  * Each iteration writes its own output directory; the files are checked
  * against the benchmark's plain implementation after the JVM exits.
  */
final class RefIndex(work: Path) extends Workload {
  private val manifest = work.resolve("corpus/manifest.txt").toString

  def register(spark: SparkSession): Unit =
    require(Files.readAllLines(Paths.get(manifest)).get(0).trim.toInt > 0)

  private def lines(out: Path): Long =
    out.toFile.listFiles().map(f => Files.readAllBytes(f.toPath).count(_ == '\n').toLong).sum

  def iterate(spark: SparkSession, k: Int, tr: Option[Tracer]): Iteration = {
    val out = work.resolve(s"out/$k")
    val t0 = System.nanoTime()
    val forced = tr.map { t =>
      val docs = t.span("sources.TextCorpus.fromManifest")(
        TextCorpus.fromManifest(spark, manifest).localCheckpoint())
      val idx = t.span("operators.InvertedIndex")(
        InvertedIndex(docs).localCheckpoint())
      t.span("sources.LetterSink.write")(LetterSink.write(idx, out.toString))
      (t.done.takeRight(3).toSeq, docs, idx)
    }
    if (tr.isEmpty)
      LetterSink.write(InvertedIndex(TextCorpus.fromManifest(spark, manifest)),
        out.toString)
    val wall = (System.nanoTime() - t0) / 1e9
    val rows = lines(out)
    forced.foreach { case (Seq(s0, s1, s2), docs, idx) =>
      s0.outputRows = docs.count()
      s1.outputRows = idx.count()
      s2.outputRows = rows
    }
    Cleanup.dropPersisted(spark)
    Iteration(wall, ok = true, counts = Map(
      "output_rows" -> rows.toDouble,
      "files_written" -> out.toFile.listFiles().length.toDouble))
  }
}

/** TPC-H q1-q22 as one batch, each query collected to the driver. The
  * seeded substitution values come from `tpch/params.txt`. The first
  * iteration's results are written out for the DuckDB oracle; every later
  * iteration must return the same rows.
  */
final class TpchBatch(work: Path) extends Workload {
  private val dir = work.resolve("tpch").toString
  private lazy val p: Map[String, String] =
    Files.readAllLines(work.resolve("tpch/params.txt")).asScala
      .map(_.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap
  private type Q = (SparkSession, String) => DataFrame
  private val rel = "operators.Relational"
  private val tpch = "operators.TpcH"
  private lazy val queries: Seq[(String, String, Q)] = Seq(
    ("q1_pricing", rel, Relational.q1Pricing(_, _)),
    ("q2_min_cost_supplier", tpch,
      TpcH.q2MinCostSupplier(_, _, p("q2.region"))),
    ("q3_shipping_priority", rel, Relational.q3ShippingPriority(_, _)),
    ("q4_priority_exists", tpch, TpcH.q4PriorityExists(_, _)),
    ("q5_local_volume", rel, Relational.q5LocalVolume(_, _)),
    ("q6_revenue_delta", tpch, TpcH.q6RevenueDelta(_, _)),
    ("q7_nation_volume", tpch,
      TpcH.q7NationVolume(_, _, p("q7.nationA"), p("q7.nationB"))),
    ("q8_market_share", tpch,
      TpcH.q8MarketShare(_, _, p("q8.nation"), p("q8.region"))),
    ("q9_profit", tpch, TpcH.q9Profit(_, _, p("q9.pattern"))),
    ("q10_returned_revenue", tpch, TpcH.q10ReturnedRevenue(_, _)),
    ("q11_important_stock", tpch, TpcH.q11ImportantStock(_, _, p("q11.nation"))),
    ("q12_priority_class", tpch, TpcH.q12PriorityClass(_, _)),
    ("q13_cust_distribution", tpch, TpcH.q13CustDistribution(_, _)),
    ("q14_promo_share", tpch, TpcH.q14PromoShare(_, _)),
    ("q15_top_supplier", tpch, TpcH.q15TopSupplier(_, _)),
    ("q16_supplier_variety", tpch, TpcH.q16SupplierVariety(_, _)),
    ("q17_small_quantity", tpch, TpcH.q17SmallQuantity(_, _)),
    ("q18_large_orders", tpch,
      TpcH.q18LargeOrders(_, _, p("q18.minQty").toDouble)),
    ("q19_disjunctive", tpch, TpcH.q19Disjunctive(_, _)),
    ("q20_promotion_suppliers", tpch,
      TpcH.q20PromotionSuppliers(_, _, p("q20.ptype"))),
    ("q21_waiting_suppliers", tpch,
      TpcH.q21WaitingSuppliers(_, _, p("q21.nation"))),
    ("q22_dormant_rich", tpch, TpcH.q22DormantRich(_, _)))
  private var reference: Seq[(String, StructType, Array[Row])] = Nil

  def register(spark: SparkSession): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").foreach(t => require(Files.exists(Paths.get(s"$dir/$t.parquet"))))

  private def canon(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  def iterate(spark: SparkSession, k: Int, tr: Option[Tracer]): Iteration = {
    val t0 = System.nanoTime()
    val results = queries.map { case (name, layer, q) =>
      def run() = { val df = q(spark, dir); (df.schema, df.collect()) }
      val (schema, rows) = tr match {
        case None => run()
        case Some(t) =>
          val r = t.span(layer, name)(run())
          t.done.last.outputRows = r._2.length
          r
      }
      Cleanup.dropPersisted(spark)
      (name, schema, rows)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (reference.isEmpty) reference = results
    val ok = results.zip(reference).forall { case (a, b) => canon(a._3) == canon(b._3) }
    Iteration(wall, ok, counts = Map(
      "output_rows" -> results.map(_._3.length).sum.toDouble,
      "files_written" -> 0.0))
  }

  override def finish(spark: SparkSession): (Int, Map[String, Any]) = {
    reference.foreach { case (name, schema, rows) =>
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(work.resolve(s"spark_out/$name").toString)
    }
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(work.resolve("spark_out/oracle_sql.json"),
      mapper.writeValueAsString(graft.SparkEntry.oracleSql
        .filter(kv => queries.exists(_._1 == kv._1))))
    (0, Map.empty)
  }
}

/** Seeded documents fed as micro-batches through the streaming curation
  * ingest into a bucketed store, with a snapshot read after each commit.
  * The final snapshot of every iteration must equal the batch pipeline
  * over the same documents.
  */
final class CuratedIngest(work: Path) extends Workload {
  private val dir = work.resolve("curated").toString
  // The first batch takes the one-off full write; the others commit
  // incrementally, and the third committed batch partition triggers
  // posting compaction (the library default folds every 16, which a
  // closed loop of a few seconds never reaches).
  private val nBatches = 4
  private val compactEvery = 3
  private var batches: Seq[Seq[EventStreams.CDoc]] = Nil
  private val finals = mutable.ArrayBuffer[Array[Row]]()

  def register(spark: SparkSession): Unit = {
    val mapper = new ObjectMapper()
    val docs = Files.readAllLines(work.resolve("curated/documents.jsonl")).asScala
      .map { line =>
        val j = mapper.readTree(line)
        EventStreams.CDoc(j.get("doc_id").asLong, j.get("lang").asText, j.get("text").asText)
      }
    // interleaved split, highest ids first within a batch, so twins and
    // near duplicates arrive across batches with the keeper often last
    batches = (0 until nBatches).map(i =>
      docs.filter(_.doc_id % nBatches == i).sortBy(-_.doc_id).toSeq)
  }

  def iterate(spark: SparkSession, k: Int, tr: Option[Tracer]): Iteration = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def sp[T](name: String)(body: => T): T = tr.fold(body)(_.span(name)(body))
    val ingest = "streaming.EventStreams.curatedIngest"
    val root = work.resolve(s"store/$k")
    val store = root.resolve("snapshot").toString
    val seen = mutable.Map[Path, Long]()
    var bytesWritten, filesWritten, bytesLive = 0L
    var walkNs = 0L
    // bytes and files that are new or changed since the last commit
    def walkStore(): Unit = {
      val t = System.nanoTime()
      val now = Files.walk(root).iterator().asScala
        .filter(Files.isRegularFile(_)).map(f => f -> Files.size(f)).toMap
      now.foreach { case (f, n) =>
        if (!seen.get(f).contains(n)) { bytesWritten += n; filesWritten += 1 }
      }
      seen.clear(); seen ++= now
      bytesLive = now.values.sum
      walkNs += System.nanoTime() - t
    }
    val batchS, readS = mutable.ArrayBuffer[Double]()
    var snap: Array[Row] = Array.empty
    val t0 = System.nanoTime()
    val input = MemoryStream[EventStreams.CDoc]
    val q = sp(ingest)(EventStreams.curatedIngest(input.toDF(), store,
      compactEvery = compactEvery))
    try batches.foreach { b =>
      val tb = System.nanoTime()
      sp(ingest) { input.addData(b); q.processAllAvailable() }
      batchS += (System.nanoTime() - tb) / 1e9
      val tr0 = System.nanoTime()
      snap = sp("streaming.EventStreams.curatedSnapshot")(
        EventStreams.curatedSnapshot(spark, store).collect())
      readS += (System.nanoTime() - tr0) / 1e9
      tr.foreach(_.done.last.outputRows = snap.length)
      walkStore()
    } finally sp(ingest)(q.stop())
    val wall = (System.nanoTime() - t0 - walkNs) / 1e9
    finals += snap
    // fewer batch partitions than batches: compaction has folded them
    val postingParts = Option(root.resolve("snapshot_postings").toFile.list())
      .fold(0)(_.count(_.startsWith("batch=")))
    GraftBench.deleteTree(root)
    Iteration(wall, ok = true,
      // batch_s leaves out the first batch, the one-off full write
      samples = Map("batch_s" -> batchS.tail.toSeq, "read_s" -> readS.toSeq),
      counts = Map(
        "output_rows" -> snap.length.toDouble,
        "streaming.store.posting_partitions" -> postingParts.toDouble,
        "streaming.store.bytes_written" -> bytesWritten.toDouble,
        "streaming.store.files_written" -> filesWritten.toDouble,
        "files_written" -> filesWritten.toDouble,
        "streaming.store.bytes_live" -> bytesLive.toDouble))
  }

  /** The streaming result must equal the batch pipeline (the equality the
    * streaming spec asserts); computed after the timed loop.
    */
  override def finish(spark: SparkSession): (Int, Map[String, Any]) = {
    val want = Pipeline.curatedCorpus(spark, dir).collect()
    val bad = finals.count(got => !got.sameElements(want))
    (bad, Map("expected_rows" -> want.length))
  }
}
