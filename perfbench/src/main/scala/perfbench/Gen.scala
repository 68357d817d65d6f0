package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

/** One generated note in the reference's save shape: a body plus the
  * FIXTURES A1 metadata keys (`source`, `category`, `ts`, `priority`,
  * `tags`), and an occasional soft-delete marker for `reindex` to drop. */
final case class Note(body: String, source: String, category: String,
    ts: String, priority: Int, tags: Vector[String], deleted: Boolean)

/** A metadata filter as the engine receives it (`expr`) and as the
  * harness evaluates it on its own generated notes (`matches`). */
final case class Filter(name: String, expr: String, matches: Note => Boolean)

/** Seeded input generator. Every draw comes from a [[SplittableRandom]]
  * derived from (seed, stream), so the same seed gives byte-identical
  * notes, YAML, queries and batches in any JVM; the engine only ever
  * sees what this object renders. */
object Gen {
  val Sources = Vector("user", "chat", "import", "web", "email")
  val Categories =
    Vector("health", "work", "food", "travel", "finance", "family", "tech", "music")
  val TagPool = Vector("personal", "urgent", "idea", "todo", "reading",
    "recipe", "trip", "meeting", "bug", "review", "gift", "habit")
  /** Notes per calendar day: `ts` rises with ingest order. */
  val NotesPerDay = 4
  val Day0: LocalDate = LocalDate.of(2020, 1, 1)

  /** A fixed 4096-word vocabulary of pronounceable letter-only words
    * (never a YAML keyword on its own, never a number). */
  val Vocab: Vector[String] = {
    val on = Vector("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z", "sh")
    val nu = Vector("a", "e", "i", "o", "u", "ai", "ou", "ei")
    val co = Vector("", "n", "r", "l", "x", "m", "st", "th")
    val syl = for (a <- on; b <- nu) yield a + b
    val words = for (s1 <- syl; s2 <- syl.take(32); c <- co.take(1)) yield s1 + s2 + c
    words.take(4096).map(w => if (w.length < 4) w + "o" else w)
  }

  /** Zipf(s) over ranks 0 until n, by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / tot }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private val wordZipf = new Zipf(Vocab.length, 1.07)

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  def words(r: SplittableRandom, n: Int): String =
    Iterator.fill(n)(Vocab(wordZipf.sample(r))).mkString(" ")

  def tsOf(ingestIdx: Long): String =
    Day0.plusDays(ingestIdx / NotesPerDay).toString

  /** `n` notes whose ingest positions start at `firstIdx`. About 5% are
    * near-duplicates of an earlier note of the same call (its body plus
    * one word), so dedup has groups to find; 2% carry `deleted: true`. */
  def notes(r: SplittableRandom, firstIdx: Long, n: Int): Vector[Note] = {
    val out = Vector.newBuilder[Note]
    val bodies = new Array[String](n)
    var i = 0
    while (i < n) {
      val body =
        if (i > 0 && r.nextDouble() < 0.05)
          bodies(r.nextInt(i)) + " " + Vocab(wordZipf.sample(r))
        else words(r, 12 + r.nextInt(13))
      bodies(i) = body
      val nTags = 1 + r.nextInt(3)
      val tags = Iterator.fill(nTags)(TagPool(r.nextInt(TagPool.length)))
        .toVector.distinct
      out += Note(body,
        Sources(r.nextInt(Sources.length)),
        Categories(math.min(Categories.length - 1,
          (r.nextDouble() * r.nextDouble() * Categories.length).toInt)),
        tsOf(firstIdx + i),
        1 + r.nextInt(5),
        tags,
        r.nextDouble() < 0.02)
      i += 1
    }
    out.result()
  }

  /** Multi-document save YAML (FIXTURES A1); `Some(id)` entries are
    * overwrite-by-id. */
  def yaml(entries: Seq[(Option[Long], Note)]): String = {
    val sb = new java.lang.StringBuilder(entries.size * 200)
    entries.foreach { case (id, n) =>
      sb.append("---\n")
      id.foreach(v => sb.append("id: ").append(v).append('\n'))
      sb.append("metadata:\n")
      sb.append("  source: ").append(n.source).append('\n')
      sb.append("  category: ").append(n.category).append('\n')
      sb.append("  ts: ").append(n.ts).append('\n')
      sb.append("  priority: ").append(n.priority).append('\n')
      sb.append("  tags: [").append(n.tags.mkString(", ")).append("]\n")
      if (n.deleted) sb.append("  deleted: true\n")
      sb.append("body: ").append(n.body).append('\n')
    }
    sb.toString
  }

  /** Query texts: 2–5 Zipf-drawn words, so popular terms repeat. */
  def queries(r: SplittableRandom, n: Int): Vector[String] =
    Vector.fill(n)(words(r, 2 + r.nextInt(4)))

  /** `{ts: {$gte: <day>}}` keeping about the newest `share` of `n` notes:
    * on a ts-ordered layout its surviving segments are the recent ones. */
  def recentFilter(n: Long, share: Double): Filter = {
    val day = tsOf(((1.0 - share) * n).toLong)
    Filter("recent", s"{ts: {$$gte: $day}}", _.ts >= day)
  }

  /** Filters that every segment can satisfy (no pruning possible). */
  val broadFilters: Vector[Filter] = Vector(
    Filter("category", "{category: health}", _.category == "health"),
    Filter("priority", "{priority: {$gte: 4}}", _.priority >= 4),
    Filter("tags", "{tags: {$contains: urgent}}", _.tags.contains("urgent")),
    Filter("and", "{source: chat, priority: {$lte: 2}}",
      n => n.source == "chat" && n.priority <= 2),
    Filter("or", "{$or: [{category: food}, {category: travel}]}",
      n => n.category == "food" || n.category == "travel"))

  /** An ingest batch of ~100 notes: about 10% overwrite distinct ids
    * drawn from `0 until overwriteBelow` (none when it is 0), the rest
    * append. */
  def ingestBatch(r: SplittableRandom, firstIdx: Long, overwriteBelow: Long)
      : Vector[(Option[Long], Note)] = {
    val n = 90 + r.nextInt(21)
    val ns = notes(r, firstIdx, n)
    val nOver = math.min(overwriteBelow, (n / 10).toLong).toInt
    val overIds = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (overIds.size < nOver) overIds += (r.nextLong() & Long.MaxValue) % overwriteBelow
    val over = overIds.toVector
    ns.zipWithIndex.map { case (note, i) =>
      (if (i < over.length) Some(over(i)) else None, note)
    }
  }
}
