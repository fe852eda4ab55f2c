package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ops.InvertedIndex

/** One set-up of a workload: the state its units run against. Units are
  * numbered from 0 in feed order; the first `Workload.warmups` of them
  * are warm-up units, run before timing starts. */
trait Fixture {
  type Input
  /** Untimed: the next unit's generated input. */
  def prepare(): Input
  /** Timed: one closed-loop unit of work. */
  def run(in: Input): Unit
  def items(in: Input): Long
  /** Traced runs only, after each unit: directory walks and counts. */
  def gauges(unit: Int): Map[String, Double] = Map.empty
  /** Per-run values of the workload's own layers. */
  def runGauges(): Map[String, Double] = Map.empty
  /** Correctness of every unit fed so far, by unit number. */
  def check(): Map[Int, Boolean]
  def close(): Unit
}

trait Workload {
  /** The layer the benchmark calls into for one unit. */
  def layer: String
  /** Warm-up units on the measured fixture, checked with its units. */
  def warmups: Int
  /** Warm-up units on the first set-up's fixture, which is then dropped
    * like every set-up but the last: they warm the JVM without adding
    * batches the measured fixture's check must replay. */
  def jvmWarmups: Int = 0
  /** Units per cycle of periodic work (a fold every `cycle` batches):
    * a run measures whole cycles. */
  def cycle: Int = 1
  def setup(spark: SparkSession, seed: Long, dir: String): Fixture
}

object Workload {
  def apply(name: String): Workload = name match {
    case "ep1_events" => Ep1Events
    case "bm25_ingest" => Bm25Ingest
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Recursive file count and bytes under `dir` (data files only). */
  def walk(dir: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        var files, bytes = 0L
        s.forEach { p =>
          val n = p.getFileName.toString
          if (java.nio.file.Files.isRegularFile(p) && !n.startsWith(".") &&
              !n.startsWith("_")) {
            files += 1; bytes += java.nio.file.Files.size(p)
          }
        }
        (files, bytes)
      } finally s.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val s = java.nio.file.Files.walk(src)
    try s.forEach { p =>
      java.nio.file.Files.copy(p, java.nio.file.Paths.get(to).resolve(src.relativize(p)))
      ()
    } finally s.close()
  }

  def docsFrame(spark: SparkSession, docs: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(docs).toDF("doc_id", "text")
}

/** The reference pipeline: micro-batches of reference-rate events through
  * stateful dedup, minute-partitioned staging and hourly compaction. */
object Ep1Events extends Workload {
  val layer = "streaming.StreamingPipeline"
  val warmups = 2
  val batchSeconds = 15

  def setup(spark: SparkSession, seed: Long, dir: String): Fixture = {
    new Fixture {
      type Input = Array[String]
      val feed = new Gen.EventFeed(spark, seed, batchSeconds)
      val staging = s"$dir/staging"
      val processed = s"$dir/processed"
      val metrics = new graft.pipeline.Metrics
      private val mem = {
        import spark.implicits._
        implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
        MemoryStream[String]
      }
      val q: StreamingQuery =
        graft.streaming.StreamingPipeline.startIngestWithCompaction(
          mem.toDF().select(col("value").as("record")), staging, processed,
          s"$dir/ckpt", metrics, trigger = Trigger.ProcessingTime(0))
      private var fedBefore = 0
      private var rewrittenBefore = 0L

      def prepare(): Array[String] = feed.next()
      def run(in: Array[String]): Unit = {
        mem.addData(in.toSeq)
        q.processAllAvailable()
      }
      def items(in: Array[String]): Long = in.length.toLong

      override def gauges(unit: Int): Map[String, Double] = {
        val fed = feed.fedIds.size
        val rewritten = metrics.ingestedEvents.get
        val amp = (rewritten - rewrittenBefore).toDouble /
          math.max(1, fed - fedBefore)
        fedBefore = fed
        rewrittenBefore = rewritten
        Map("pipeline.rewrite_amplification" -> amp,
          "pipeline.staging_files" -> Workload.walk(staging)._1.toDouble,
          "pipeline.processed_files" -> Workload.walk(processed)._1.toDouble)
      }
      override def runGauges(): Map[String, Double] = Map(
        "pipeline.metrics_ingested_events" -> metrics.ingestedEvents.get.toDouble,
        "pipeline.fed_distinct_events" -> feed.fedIds.size.toDouble)

      def check(): Map[Int, Boolean] = {
        // event-time window (batch) of an event, the feed's arithmetic
        val window = floor((col("created_at") - lit(feed.hourStart.toDouble)) /
          batchSeconds).cast("int")
        def perWindow(df: DataFrame): Map[Int, (Long, Long)] =
          df.groupBy(window.as("w"))
            .agg(count(lit(1)), countDistinct(col("event_uuid")))
            .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2)))
            .toMap
        val stagedDf = spark.read
          .schema(graft.model.EventModel.stagedEventSchema).json(staging)
        val processedDf = spark.read.parquet(processed)
        val staged = perWindow(stagedDf)
        val done = perWindow(processedDf)
        val fedUuids = spark.createDataset(
            feed.fedIds.toArray.map(_.asInstanceOf[java.lang.Long].longValue).toSeq)(
            org.apache.spark.sql.Encoders.scalaLong)
          .select(md5(concat(lit("uuid-"), col("value"))).as("event_uuid"))
        val doneUuids = processedDf.select(col("event_uuid"))
        val sameSet = doneUuids.except(fedUuids).isEmpty &&
          fedUuids.except(doneUuids).isEmpty
        val dropped = q.recentProgress
          .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
        val fed = feed.fedPerWindow.toMap
        val windows = fed.keySet ++ staged.keySet ++ done.keySet
        val bad = windows.filterNot { w =>
          val n = fed.getOrElse(w, 0).toLong
          staged.get(w).contains((n, n)) && done.get(w).contains((n, n))
        }
        if (bad.nonEmpty || !sameSet || dropped != 0)
          System.err.println(s"[perfbench] ep1 check: bad windows " +
            s"${bad.toSeq.sorted.mkString(",")}, same uuid set " +
            s"$sameSet, late rows dropped $dropped")
        (0 until feed.batches).map { u =>
          u -> (sameSet && dropped == 0 && !bad.contains(u))
        }.toMap
      }
      def close(): Unit = q.stop()
    }
  }
}

/** Streaming BM25 ingest: doc batches probe the index, log their matches
  * and append, with a lag-1 fold every `compactEvery` batches.
  *
  * Set-up ends with the stream's first trigger, on no data, so no timed
  * batch pays the query's start. Unit `u` is therefore micro-batch
  * `u + 1`, and the folds fall on units 1, 4, 7, ...: each cycle of three
  * units is a plain batch, a fold batch and a plain batch. */
object Bm25Ingest extends Workload {
  val layer = "streaming.StreamingPipeline"
  val baseDocs = 4000
  val batchDocs = 200
  val compactEvery = 3
  /** None on the measured fixture: its check replays every batch it
    * took, at about the cost of a plain batch each. */
  val warmups = 0
  /** A plain batch and a fold (the JVM's first `InvertedIndex.compact`)
    * on the first set-up's fixture. */
  override def jvmWarmups: Int = 2
  override def cycle: Int = compactEvery
  def batchId(unit: Int): Long = unit + 1L

  def setup(spark: SparkSession, seed: Long, dir: String): Fixture = {
    import spark.implicits._
    val corpus = new Gen.Corpus(seed)
    val base = corpus.take(baseDocs)
    val idx = s"$dir/idx"
    InvertedIndex.build(Workload.docsFrame(spark, base), idx)
    // the check replays the batches from this copy of the base index
    val replay = s"$dir/replay"
    Workload.copyTree(idx, replay)
    new Fixture {
      type Input = Seq[(Long, String)]
      val batches = ArrayBuffer.empty[Seq[(Long, String)]]
      private val mem = {
        implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
        MemoryStream[(Long, String)]
      }
      val q: StreamingQuery = graft.streaming.StreamingPipeline.startBm25Ingest(
        mem.toDF().toDF("doc_id", "text"), idx, s"$dir/matches",
        s"$dir/ckpt", trigger = Trigger.ProcessingTime(0),
        compactEvery = Some(compactEvery))
      mem.addData(Seq.empty[(Long, String)])
      q.processAllAvailable()
      // rows each batch appended, and the unit of the last fold
      private val appended = mutable.Map.empty[Int, Long]
      private var lastFold = -1

      def prepare(): Seq[(Long, String)] = {
        val b = corpus.take(batchDocs)
        batches += b
        b
      }
      def run(in: Seq[(Long, String)]): Unit = {
        mem.addData(in)
        q.processAllAvailable()
      }
      def items(in: Seq[(Long, String)]): Long = in.size.toLong

      override def gauges(unit: Int): Map[String, Double] = {
        val post = InvertedIndex.postingsPath(idx)
        val rows = spark.read.parquet(post).groupBy(col("gen")).count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        appended(unit) = rows.getOrElse(s"b${batchId(unit)}", 0L)
        val (files, bytes) = Workload.walk(idx)
        val g = Map("ops.index_generations" -> rows.size.toDouble,
          "ops.index_files" -> files.toDouble,
          "ops.index_bytes" -> bytes.toDouble)
        if (batchId(unit) % compactEvery != compactEvery - 1) g
        else {
          val since = (lastFold + 1 to unit).map(appended.getOrElse(_, 0L)).sum
          lastFold = unit
          g + ("ops.fold_amplification" ->
            rows.values.sum.toDouble / math.max(1L, since))
        }
      }

      def check(): Map[Int, Boolean] = {
        // replay: the same batches through the non-streaming
        // probeAndAppend, no folds, from the base index as built
        val logged = spark.read
          .schema("probe_id BIGINT, rn INT, match_id BIGINT, score_r DOUBLE, batch_id BIGINT")
          .parquet(s"$dir/matches").collect()
          .groupBy(_.getLong(4))
          .map { case (b, rs) => b.toInt -> rs.map(r =>
            (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet }
        batches.indices.map { u =>
          val b = batchId(u)
          val want = InvertedIndex.probeAndAppend(spark, replay,
              Workload.docsFrame(spark, batches(u)), Some(b))
            .collect().map(r =>
              (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
          val got = logged.getOrElse(b.toInt, Set.empty)
          if (got != want) System.err.println(s"[perfbench] bm25_ingest " +
            s"check: batch $b logged ${got.size} rows, replay ${want.size}")
          u -> (got == want)
        }.toMap
      }
      def close(): Unit = q.stop()
    }
  }
}
