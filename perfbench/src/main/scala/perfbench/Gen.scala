package perfbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, struct}

/** Seeded input generators. The same seed gives the same inputs; the
  * program under test only ever receives what these produce: Kinesis
  * record strings and (doc_id, text) rows. */
object Gen {

  /** Reference event rate: 278 events/s. */
  val Rate = 278

  /** Event feed for `ep1_events`, one micro-batch per `batchSeconds` of
    * event time at the reference rate.
    *
    * Batch b carries the events `EventGen` creates in window b of a fresh
    * hour, enveloped with `EventGen.enveloped`'s expression, shuffled,
    * with two traffic properties varied by seed:
    *  - duplicates, the reference producer's model (producer.py:162-166,
    *    as in `EventGen.kinesisBatches`): records go out in producer
    *    batches of 100, and 5% of those re-append 1-10 of their own
    *    members, about 0.28% duplicates. A producer batch can straddle
    *    two micro-batches, so dedup must also hold across them;
    *  - disorder, a chosen stress level (the reference producer sends in
    *    order): `lateShare` of a window's events are held back and
    *    delivered 1..`maxLagBatches` batches later, always inside the
    *    pipeline's 10-minute watermark, so none may be dropped.
    * Every event delivered is counted per window, so the check knows
    * exactly which distinct events were fed. */
  final class EventFeed(spark: SparkSession, seed: Long, batchSeconds: Int) {
    private val producerBatch = 100
    private val producerDupShare = 0.05
    private val producerMaxDups = 10
    private val lateShare = 0.05
    private val maxLagBatches = 8
    private val perBatch: Int = Rate * batchSeconds
    private val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 11)
    /** Event ids are disjoint per seed, so uuids differ per seed. */
    private val idBase: Long = (seed & 0xFFFFF) * 1000000000L
    /** Hour-aligned start, a seeded hour in March 2024. */
    val hourStart: Long = 1709251200L + 3600L * (seed & 0x1FF)
    private val t0: Double = hourStart.toDouble - idBase.toDouble / Rate
    private var batch = 0
    private val held = ArrayBuffer.empty[(Int, Long, String)] // (due, id, rec)
    /** The open producer batch, which continues into the next micro-batch. */
    private val open = ArrayBuffer.empty[String]
    /** Event ids delivered. */
    val fedIds = new java.util.HashSet[java.lang.Long]()
    /** Distinct events delivered, per event-time window. */
    val fedPerWindow = scala.collection.mutable.Map.empty[Int, Int]

    /** Batches handed out so far. */
    def batches: Int = batch

    /** Event-time window (batch) of an id: the same double arithmetic
      * EventGen uses for `created_at`, so it agrees with the check. */
    def windowOf(id: Long): Int =
      math.floor((t0 + id.toDouble / Rate - hourStart) / batchSeconds).toInt

    /** The next micro-batch's record strings (duplicates included). */
    def next(): Array[String] = {
      val lo = idBase + batch.toLong * perBatch
      val ev = graft.pipeline.EventGen.eventsFromIds(
        spark.range(lo, lo + perBatch).toDF(), t0 = t0,
        rate = Rate.toDouble, keepId = true)
      // EventGen.enveloped's own expression, with the id kept beside it
      val recs = ev.select(col("id"),
          graft.ops.EventOps.encodeEnvelope(
            struct(col("event_uuid"), col("created_at"), col("event_name"),
              col("event_specifics")),
            col("event_uuid")).as("record"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val now = ArrayBuffer.empty[(Long, String)]
      recs.foreach { case (id, rec) =>
        if (rnd.nextDouble() < lateShare)
          held += ((batch + 1 + rnd.nextInt(maxLagBatches), id, rec))
        else now += ((id, rec))
      }
      val (due, later) = held.partition(_._1 <= batch)
      held.clear(); held ++= later
      due.foreach { case (_, id, rec) => now += ((id, rec)) }
      val arrived = now.toArray
      shuffle(arrived, rnd)
      val out = ArrayBuffer.empty[String]
      arrived.foreach { case (_, rec) =>
        out += rec
        open += rec
        if (open.size == producerBatch) {
          if (rnd.nextDouble() < producerDupShare)
            (0 to rnd.nextInt(producerMaxDups)).foreach { _ =>
              out += open(rnd.nextInt(open.size)) }
          open.clear()
        }
      }
      arrived.foreach { case (id, _) =>
        if (fedIds.add(id)) {
          val w = windowOf(id)
          fedPerWindow(w) = fedPerWindow.getOrElse(w, 0) + 1
        }
      }
      batch += 1
      out.toArray
    }
  }

  /** Zipf-skewed synthetic corpus for the BM25 workloads.
    *
    * Traffic properties varied by seed: vocabulary skew (Zipf exponent
    * `zipfS` over `vocab` word types), variable doc lengths (log-normal,
    * median ~55 tokens, clipped to [8, 400]) and `nearDupShare` planted
    * near-duplicates (a copy of an earlier doc with ~5% of its tokens
    * replaced). Docs come out in id order; batches continue the ids. */
  final class Corpus(seed: Long) {
    private val vocab = 20000
    private val zipfS = 1.05
    private val nearDupShare = 0.10
    private val rnd = new SplittableRandom(seed * 0xBF58476D1CE4E5B9L + 7)
    private val cdf: Array[Double] = {
      val w = Array.tabulate(vocab)(r => 1.0 / math.pow(r + 1.0, zipfS))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    private val docs = ArrayBuffer.empty[Array[Int]]
    private var nextId = 0L

    private def word(rank: Int): String = {
      val sb = new StringBuilder("t")
      var r = rank
      do { sb.append(('a' + r % 26).toChar); r /= 26 } while (r > 0)
      sb.toString
    }
    private def drawRank(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, vocab - 1)
    }

    private def newDoc(): Array[Int] =
      if (docs.nonEmpty && rnd.nextDouble() < nearDupShare) {
        val src = docs(rnd.nextInt(docs.size)).clone()
        for (i <- src.indices if rnd.nextDouble() < 0.05)
          src(i) = drawRank(rnd)
        src
      } else {
        val len = math.max(8, math.min(400,
          math.exp(4.0 + 0.6 * gaussian(rnd)).toInt))
        Array.fill(len)(drawRank(rnd))
      }

    /** The next `n` docs as (doc_id, text). */
    def take(n: Int): Seq[(Long, String)] = (0 until n).map { _ =>
      val d = newDoc()
      docs += d
      val id = nextId
      nextId += 1
      (id, d.map(word).mkString(" "))
    }
  }

  def gaussian(r: SplittableRandom): Double = {
    // Box–Muller; SplittableRandom has no nextGaussian
    val u = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def shuffle[T](a: Array[T], r: SplittableRandom): Unit =
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
}
