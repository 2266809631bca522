package perfbench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Plain-Scala replay oracle: folds the generator's own change list with the
  * replication contract (op filter, tick high-pass, transform validity,
  * highest version per key wins, tombstones hide the key) and no Spark at
  * all. Views are compared through an order-independent digest of one
  * canonical line per row.
  */
object Oracle {

  private val IsoFormat =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)

  def isoSeconds(epochSeconds: Long): String =
    IsoFormat.format(java.time.Instant.ofEpochSecond(epochSeconds))

  /** The snapshot's version sentinel: snapshot rows carry `_ver = 0` and a
    * null offset.
    */
  val SnapshotOffset = -1L

  /** `_ver` for a change at `offset` under the bench's fixed clock. */
  def version(offset: Long): Long =
    if (offset == SnapshotOffset) 0L else (Bench.ClockDay + offset.toString).toLong

  /** Canonical line for one live row: what both sides hash. */
  def canon(id: Long, name: String, email: String, answers: Seq[String],
      submittedOn: Option[Long], rev: String, offset: Long, ver: Long): String =
    s"$id|$name|$email|${answers.mkString(",")}|${submittedOn.getOrElse("-")}|$rev|$offset|$ver"

  /** The row a valid document becomes after the bench config's transform. */
  def canonDoc(d: Gen.Doc, offset: Long): String =
    canon(d.idOpt.get, d.name.get, d.email.orNull,
      d.answers.map(_.trim.split(",", -1).toSeq).getOrElse(Nil),
      d.submittedOn, d.rev.getOrElse(""), offset, version(offset))

  def canonRow(r: Row): String = {
    def opt[A](f: String): Option[A] = {
      val i = r.fieldIndex(f); if (r.isNullAt(i)) None else Some(r.getAs[A](i))
    }
    canon(
      r.getAs[Long]("Id"), r.getAs[String]("Name"), opt[String]("Email").orNull,
      opt[scala.collection.Seq[String]]("Answers").map(_.toSeq).getOrElse(Nil),
      opt[java.sql.Timestamp]("SubmittedOn").map(_.getTime / 1000),
      r.getAs[String]("_rev"), opt[Long]("offset").getOrElse(SnapshotOffset),
      r.getAs[Long]("_ver"))
  }

  /** Order-independent multiset digest: row count plus the sum and xor of a
    * 64-bit hash of each canonical line.
    */
  final case class Digest(count: Long, sum: Long, xor: Long) {
    def add(line: String): Digest = {
      val h = (MurmurHash3.stringHash(line, 0x5eed).toLong << 32) ^
        (MurmurHash3.stringHash(line, 0x0dd).toLong & 0xffffffffL)
      Digest(count + 1, sum + h, xor ^ h)
    }
    override def toString: String = f"$count:$sum%016x:$xor%016x"
  }
  val Empty: Digest = Digest(0, 0, 0)

  def digest(lines: Iterator[String]): Digest = lines.foldLeft(Empty)(_ add _)

  /** Per-key fold state: the winning change's offset and whether it was a
    * remove; `doc` is the winning document.
    */
  final case class Version(offset: Long, deleted: Boolean, doc: Gen.Doc)

  /** Replay `snapshot` then every WAL change at or after `captureTick`. */
  final class Replay(snapshot: Vector[Gen.Doc], captureTick: Long) {
    val state = mutable.HashMap.empty[Long, Version]
    /** Every (id, offset) a reader may legally observe, with its document. */
    private val written = mutable.HashMap.empty[(Long, Long), Gen.Doc]

    /** The row a reader must see for (id, offset), if that version exists. */
    def writtenRow(id: Long, offset: Long): Option[String] =
      written.get((id, offset)).map(canonDoc(_, offset))

    snapshot.iterator.filter(_.valid).foreach { d =>
      state(d.idOpt.get) = Version(SnapshotOffset, deleted = false, d)
      written((d.idOpt.get, SnapshotOffset)) = d
    }

    def apply(e: Gen.Entry): Unit =
      if (e.tick >= captureTick && e.cuid == Gen.Collection &&
          (e.op == 2300 || e.op == 2302) && e.doc.exists(_.valid)) {
        val d = e.doc.get
        val id = d.idOpt.get
        if (state.get(id).forall(_.offset <= e.offset))
          state(id) = Version(e.offset, e.op == 2302, d)
        if (e.op == 2300) written((id, e.offset)) = d
      }

    def liveLines: Iterator[String] =
      state.iterator.collect { case (_, v) if !v.deleted => canonDoc(v.doc, v.offset) }

    def liveCount: Long = state.valuesIterator.count(!_.deleted).toLong
  }
}
