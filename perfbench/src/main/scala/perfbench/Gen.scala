package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable

/** Deterministic CDC input generator. Everything derives from one seed: the
  * source collection (documents shaped like the reference's `Test` table),
  * the WAL chunks the replication stream tails, and the change list the
  * replay oracle folds. The program under test only ever sees the files.
  *
  * WAL mix per line: ~85% upserts, 8% removes, 3% redelivered lines, 2% txn
  * markers or foreign-collection entries, 2% invalid documents, plus a
  * leading slice below the snapshot's capture tick. Keys follow a Zipf law over a key space
  * 25% larger than the collection, so hot documents collect many versions
  * and some upserts are inserts.
  */
object Gen {

  val Db = "bench"
  val Collection = "c1"
  val Foreign = "c9"
  /** Offsets (= ticks) start here; seven digits keep the `yyyyDDD ++ offset`
    * version monotone in the offset.
    */
  val FirstOffset = 1000000L

  /** A source document. `key` is the raw `_key` (non-numeric for some
    * invalid documents); `None` fields are absent from the JSON.
    */
  final case class Doc(
      key: String,
      name: Option[String],
      email: Option[String],
      answers: Option[String],
      submittedOn: Option[Long],
      rev: Option[String]) {
    def idOpt: Option[Long] = key.toLongOption
    /** SchemaTransform's validity rule for the bench config. */
    def valid: Boolean = idOpt.isDefined && name.isDefined
  }

  final case class Entry(offset: Long, tick: Long, op: Int, cuid: String, doc: Option[Doc])

  /** One generated WAL: its chunks of entries, in tick order. */
  final case class Wal(chunks: Vector[Vector[Entry]]) {
    def entries: Iterator[Entry] = chunks.iterator.flatten
    def size: Int = chunks.iterator.map(_.size).sum
    def lastTick(i: Int): Long = chunks(i).map(_.tick).max
    def fileName(i: Int): String =
      s"wal-${chunks(i).map(_.tick).min}-${lastTick(i)}.json"
  }

  private val Vocab = Vector("yes", "no", "maybe", "red", "green", "blue",
    "one", "two", "three", "alpha", "beta", "gamma", "x", "y", "z", "ok")

  /** Zipf(s = 1) over ranks 0..n-1, ranks mapped to keys through a seeded
    * permutation so the hot keys are scattered over the key space.
    */
  final class KeyDist(n: Int, rng: java.util.Random) {
    private val cdf: Array[Double] = {
      val a = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += 1.0 / (i + 1); a(i) = acc; i += 1 }
      a
    }
    private val perm: Array[Int] = {
      val p = Array.tabulate(n)(i => i + 1)
      var i = n - 1
      while (i > 0) {
        val j = rng.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t; i -= 1
      }
      p
    }
    def sample(r: java.util.Random): Long = {
      val u = r.nextDouble() * cdf(n - 1)
      var lo = 0; var hi = n - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
      perm(lo).toLong
    }
  }

  /** The WAL's key law for `seed`; readers sample it to follow the writes. */
  def keyDist(seed: Long, keySpace: Int): KeyDist =
    new KeyDist(keySpace, new java.util.Random(seed * 7 + 3))

  private def randomDoc(id: Long, stamp: Long, r: java.util.Random): Doc = {
    val answers =
      if (r.nextInt(5) == 0) None
      else Some(Seq.fill(1 + r.nextInt(4))(Vocab(r.nextInt(Vocab.size))).mkString(","))
    Doc(
      key = id.toString,
      name = Some(s"user$id-${Integer.toString(r.nextInt(1 << 20), 36)}"),
      email = if (r.nextInt(10) == 0) None else Some(s"u$id@x${r.nextInt(97)}.example"),
      answers = answers,
      // whole seconds in 2024, rendered UTC; about one in ten unset
      submittedOn = if (r.nextInt(10) == 0) None else Some(1704067200L + r.nextInt(31536000)),
      rev = if (r.nextInt(20) == 0) None else Some("_r" + java.lang.Long.toString(stamp, 36)))
  }

  /** Invalid for the bench config: alternately no `name` (required) and a
    * non-numeric `_key` (the Id cast fails).
    */
  private def invalidDoc(id: Long, stamp: Long, r: java.util.Random): Doc = {
    val d = randomDoc(id, stamp, r)
    if (r.nextBoolean()) d.copy(name = None) else d.copy(key = s"k$id")
  }

  /** The source collection: ids 1..n, one in a hundred invalid. */
  def collection(seed: Long, n: Int): Vector[Doc] = {
    val r = new java.util.Random(seed * 31 + 7)
    Vector.tabulate(n) { i =>
      val id = i + 1L
      if (r.nextInt(100) == 0) invalidDoc(id, 0L, r) else randomDoc(id, 0L, r)
    }
  }

  /** A WAL of `chunks` chunks of `chunkSize` entries. The first `leading`
    * entries carry ticks below the returned capture tick (history already
    * folded into the snapshot, which the tick high-pass must drop). Every
    * chunk after the first opens with the previous chunk's last 3% again:
    * the un-acked tail a restarted producer re-serves (at-least-once
    * redelivery, as the reference's replay contract describes).
    * `startOffset` lets a second WAL continue an earlier one's offsets.
    */
  def wal(seed: Long, keySpace: Int, chunks: Int, chunkSize: Int, leading: Int,
      startOffset: Long = FirstOffset): (Wal, Long) = {
    val r = new java.util.Random(seed * 131 + 17)
    val keys = keyDist(seed, keySpace)
    val reserved = chunkSize * 3 / 100
    val out = Vector.newBuilder[Vector[Entry]]
    var prev = Vector.empty[Entry]
    var offset = startOffset
    for (_ <- 0 until chunks) {
      val chunk = Vector.newBuilder[Entry]
      val again = prev.takeRight(reserved)
      chunk ++= again
      for (_ <- again.size until chunkSize) {
        val o = offset; offset += 1
        val id = keys.sample(r)
        val roll = r.nextInt(100)
        chunk += (
          if (roll < 2) {
            if (r.nextBoolean()) Entry(o, o, 2200 + r.nextInt(3), Collection, None) // txn marker
            else Entry(o, o, 2300, Foreign, Some(randomDoc(id, o, r)))
          }
          else if (roll < 4) Entry(o, o, 2300, Collection, Some(invalidDoc(id, o, r)))
          else if (roll < 12) Entry(o, o, 2302, Collection, Some(randomDoc(id, o, r)))
          else Entry(o, o, 2300, Collection, Some(randomDoc(id, o, r))))
      }
      prev = chunk.result()
      out += prev
    }
    (Wal(out.result()), startOffset + leading)
  }

  /** The document as the WAL `data` object / collection JSON. */
  def docJson(d: Doc): String = {
    val b = new java.lang.StringBuilder(160)
    def field(k: String, v: String): Unit = b.append(",\"").append(k).append("\":\"").append(v).append('"')
    b.append("{\"_key\":\"").append(d.key).append("\",\"_id\":\"").append(Collection).append('/')
      .append(d.key).append('"')
    d.rev.foreach(field("_rev", _))
    d.name.foreach(field("name", _))
    d.email.foreach(field("email", _))
    d.answers.foreach(field("answers", _))
    d.submittedOn.foreach(v => field("submitted_on", Oracle.isoSeconds(v)))
    b.append('}').toString
  }

  def entryLine(e: Entry): String =
    new java.lang.StringBuilder(220)
      .append("{\"tick\":\"").append(e.tick).append("\",\"type\":").append(e.op)
      .append(",\"db\":\"").append(Db).append("\",\"cuid\":\"").append(e.cuid)
      .append("\",\"tid\":\"").append(e.offset % 97).append("\",\"offset\":").append(e.offset)
      .append(",\"data\":").append(e.doc.map(docJson).getOrElse(s"""{"tid":"${e.offset}"}"""))
      .append('}').toString

  def chunkBytes(w: Wal, i: Int): Array[Byte] =
    w.chunks(i).iterator.map(entryLine).mkString("", "\n", "\n").getBytes(UTF_8)

  /** Write chunks `from until to` of `w` into `dir`; returns their bytes in
    * order so the caller can fingerprint them.
    */
  def writeChunks(w: Wal, dir: Path, from: Int, to: Int): Seq[Array[Byte]] = {
    Files.createDirectories(dir)
    (from until to).map { i =>
      val b = chunkBytes(w, i)
      Files.write(dir.resolve(w.fileName(i)), b)
      b
    }
  }

  def sha256(parts: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def collectionDigest(docs: Vector[Doc]): String =
    sha256(docs.iterator.map(d => (docJson(d) + "\n").getBytes(UTF_8)))

  /** The planted mix, counted the way each layer sees it (per WAL line). */
  final case class Mix(
      entries: Long,      // every WAL line
      belowTick: Long,    // leading slice, dropped by the tick high-pass
      filtered: Long,     // txn markers + foreign collections (op filter)
      duplicates: Long,   // re-served valid changes at or after the tick
      invalid: Long,      // dead-lettered by the transform, re-served ones included
      upserts: Long,
      removes: Long) {
    /** Rows out of the envelope (op filter + high-pass), i.e. the rows the
      * monitor counts and the transform receives.
      */
    def envelopeRows: Long = entries - belowTick - filtered
  }

  def mix(w: Wal, captureTick: Long): Mix = {
    var below, filtered, dups, invalid, ups, rems = 0L
    val seen = mutable.HashSet.empty[Long]
    w.entries.foreach { e =>
      val isNew = seen.add(e.offset)
      if (e.tick < captureTick) below += 1
      else if (!(e.op == 2300 || e.op == 2302) || e.cuid != Collection) filtered += 1
      else if (!e.doc.exists(_.valid)) invalid += 1
      else if (!isNew) dups += 1
      else if (e.op == 2302) rems += 1
      else ups += 1
    }
    Mix(w.size, below, filtered, dups, invalid, ups, rems)
  }
}
