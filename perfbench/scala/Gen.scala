package graft.perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generators. Every generator draws from a
  * `SplittableRandom` derived from (seed, stream name, index) only, so
  * the same seed gives the same rows in the same order; `digest` folds
  * the canonical text form of the rows, which the run compares across
  * its repeated set-up passes and the self-test across invocations.
  *
  * The shapes follow the `lineitem`, `documents` and `events` tables of
  * the project's test corpus (same column names and value styles), but
  * are drawn here from the seed alone: the benchmark reads nothing
  * outside its own checkout. */
object Gen {
  def rng(seed: Long, stream: String, index: Long = 0L): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^
      stream.hashCode.toLong * 0xC2B2AE3D27D4EB4FL ^ index)

  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(fields: Any*): Unit = {
      md.update(fields.mkString("\u0001").getBytes("UTF-8"))
      md.update('\n'.toByte)
    }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  // ---- lineitem-shaped rows for the CDC table --------------------------

  final case class Line(k: Long, day: Int, partkey: Long, qty: Long,
      priceCents: Long, flag: String)

  private val Flags = Array("A", "N", "R")

  def line(r: SplittableRandom, k: Long, day: Int): Line =
    Line(k, day, 1L + r.nextInt(2000), 1L + r.nextInt(50),
      100L + r.nextInt(10000000), Flags(r.nextInt(Flags.length)))

  // ---- documents: word-soup texts with planted duplicates ---------------

  private val Vocab = ("batch part spark line column order small sort fast " +
    "value scan hash slow group agg filter customer stream table key query " +
    "window join vector data the a big merge index shard commit file plan " +
    "node edge rank token cache layer").split(' ')

  final case class Doc(docId: Long, text: String, lang: String,
      source: String, nChars: Long)

  private val Langs = Array("en", "en", "en", "de", "fr", "zh")

  private def words(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(Vocab(r.nextInt(Vocab.length)))

  /** `nDocs` documents: `exactGroups` groups of 2–4 byte-identical texts
    * and `nearDups` texts derived from another by one word swap, the
    * rest independent. Returns the documents and the planted exact
    * groups as doc-id sets. */
  def documents(seed: Long, shard: Int, nDocs: Int, exactGroups: Int,
      nearDups: Int): (IndexedSeq[Doc], Seq[Set[Long]]) = {
    val r = rng(seed, "documents", shard)
    val base = shard.toLong * 1000000L
    val texts = Array.fill(nDocs)(words(r, 30 + r.nextInt(40)).mkString(" "))
    val groups = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    // planted exact groups occupy disjoint index ranges at the tail
    var at = nDocs - 1
    for (_ <- 0 until exactGroups) {
      val size = 2 + r.nextInt(3)
      val first = at - size + 1
      (first to at).foreach(i => texts(i) = texts(first))
      groups += (first to at).map(base + _).toSet
      at = first - 1
    }
    for (j <- 0 until nearDups) {
      val i = j * 2 + 1
      val w = texts(i - 1).split(' ')
      w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.length))
      texts(i) = w.mkString(" ")
    }
    val docs = texts.indices.map { i =>
      Doc(base + i, texts(i), Langs(r.nextInt(Langs.length)),
        s"src${r.nextInt(20)}", texts(i).length.toLong)
    }
    (docs, groups.toSeq)
  }

  // ---- text corpus for the MapReduce jobs -------------------------------

  /** `nLines` lines of Zipf-skewed words (a few very common, a long
    * tail), as the bytes of one input file. */
  def corpus(seed: Long, job: Int, nLines: Int): Array[Byte] = {
    val r = rng(seed, "corpus", job)
    val tail = Array.tabulate(400)(i => Vocab(i % Vocab.length) + (i / Vocab.length))
    val sb = new StringBuilder
    for (_ <- 0 until nLines) {
      val n = 6 + r.nextInt(10)
      var j = 0
      while (j < n) {
        val u = r.nextDouble()
        val w = if (u < 0.6) Vocab(r.nextInt(8))
          else if (u < 0.9) Vocab(r.nextInt(Vocab.length))
          else tail(r.nextInt(tail.length))
        if (j > 0) sb.append(' ')
        sb.append(w)
        j += 1
      }
      sb.append('\n')
    }
    sb.toString.getBytes("UTF-8")
  }

  // ---- events: an advancing event-time feed -----------------------------

  final case class Ev(eventId: Long, tsMicros: Long, userId: Long,
      eventType: String, value: Double)

  private val EventTypes = Array("view", "click", "signup", "purchase", "error")
  val T0Micros: Long = 1704067200L * 1000000L // 2024-01-01T00:00:00Z
  val BatchSpanMicros: Long = 20L * 60 * 1000000 // event time per batch

  /** Batch `b` of the feed: `n` events whose time lies in the batch's
    * 20-minute slot (jitter up to 10 minutes back — well inside the
    * watermark delay), plus `dups` re-sent copies of earlier events of
    * the same batch and `late` events five hours behind the slot, which
    * the watermark drops from the second batch on. */
  def events(seed: Long, b: Int, n: Int, dups: Int, late: Int): IndexedSeq[Ev] = {
    val r = rng(seed, "events", b)
    val slot = T0Micros + b * BatchSpanMicros
    val base = b.toLong * 1000000L
    val fresh = (0 until n).map { i =>
      val ts = slot + r.nextLong(BatchSpanMicros) - r.nextLong(BatchSpanMicros / 2)
      Ev(base + i, ts, 1L + r.nextInt(500), EventTypes(r.nextInt(EventTypes.length)),
        math.round(r.nextDouble() * 20000) / 100.0)
    }
    val resent = (0 until dups).map(_ => fresh(r.nextInt(n)))
    val behind = (0 until late).map { i =>
      Ev(base + n + i, slot - 5L * 3600 * 1000000, 1L + r.nextInt(500),
        EventTypes(r.nextInt(EventTypes.length)), 1.0)
    }
    fresh ++ resent ++ behind
  }
}
