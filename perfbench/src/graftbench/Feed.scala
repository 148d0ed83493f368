package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable

/** A JSON value of a generated document, kept as a tree so the same value
  * renders the feed's JSON text and the row the warehouse must produce.
  */
sealed trait JVal
final case class JStr(s: String) extends JVal
final case class JNum(text: String) extends JVal
final case class JBool(b: Boolean) extends JVal
final case class JArr(items: Seq[JVal]) extends JVal
final case class JObj(fields: Seq[(String, JVal)]) extends JVal

object Json {
  def escape(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }

  def render(v: JVal): String = v match {
    case JStr(s)    => "\"" + s + "\""
    case JNum(t)    => t
    case JBool(b)   => b.toString
    case JArr(xs)   => xs.map(render).mkString("[", ",", "]")
    case JObj(fs)   => fs.map { case (k, x) => "\"" + k + "\":" + render(x) }.mkString("{", ",", "}")
  }
}

/** One change of a CouchDB `_changes` feed; tombstones carry
  * `{_id,_rev,_deleted}` as their doc, as CouchDB sends them.
  */
final case class Change(seqNum: Long, id: String, rev: String, deleted: Boolean,
                        docType: Option[String], doc: JObj) {
  def seq: String = s"$seqNum-g1AAAA${java.lang.Long.toHexString(seqNum * 2654435761L)}"
  def line: String =
    s"""{"seq":"$seq","id":"$id","changes":[{"rev":"$rev"}]""" +
      (if (deleted) ""","deleted":true""" else "") +
      s""","doc":${Json.render(doc)}}"""
}

/** One document type: a frozen field layout (the first document of a type
  * carries every field, so it is the schema donor) and a generator for
  * field values.
  */
final case class DocType(name: String, gen: java.util.SplittableRandom => JObj) {
  /** Flattened column names in the order schema discovery yields them:
    * top-level scalars and arrays, then `id`, `rev`, then nested leaves.
    */
  def columns: Seq[String] = {
    val full = gen(new java.util.SplittableRandom(0L))
    val top = full.fields.collect { case (k, v) if !v.isInstanceOf[JObj] => k }
    def nested(prefix: String, o: JObj): Seq[String] = o.fields.flatMap {
      case (k, x: JObj) => nested(s"${prefix}_$k", x)
      case (k, _)       => Seq(s"${prefix}_$k")
    }
    ("type" +: top) ++ Seq("id", "rev") ++
      full.fields.collect { case (k, o: JObj) => nested(k, o) }.flatten
  }
}

/** Deterministic CouchDB-shaped feed generator with its own last-writer-wins
  * model of what the warehouse must hold after every change it emitted.
  *
  * Three doc types with different schemas, objects nested two deep, array
  * leaves, updates with a skewed id choice, deletes, `_design/` docs and
  * replayed pages (at-least-once delivery).
  */
final class FeedGen(seed: Long) {
  private val rng = new java.util.SplittableRandom(seed)
  private var seq = 0L
  private var nextDoc = 0L

  private def word(r: java.util.SplittableRandom): String = {
    val syll = Array("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po")
    (0 until 2 + r.nextInt(3)).map(_ => syll(r.nextInt(syll.length))).mkString
  }
  private def num(r: java.util.SplittableRandom, max: Int, cents: Boolean): JNum =
    if (cents) JNum(s"${r.nextInt(max)}.${10 + r.nextInt(90)}") else JNum(r.nextInt(max).toString)

  val types: Seq[DocType] = Seq(
    DocType("user", r => JObj(Seq(
      "name" -> JStr(word(r) + " " + word(r)),
      "age" -> num(r, 90, cents = false),
      "active" -> JBool(r.nextBoolean()),
      "tags" -> JArr((0 until 1 + r.nextInt(3)).map(_ => JStr(word(r)))),
      "address" -> JObj(Seq(
        "city" -> JStr(word(r)),
        "geo" -> JObj(Seq("lat" -> num(r, 90, cents = true), "lon" -> num(r, 180, cents = true)))))))),
    DocType("order", r => JObj(Seq(
      "customer" -> JStr("u" + r.nextInt(100000)),
      "total" -> num(r, 5000, cents = true),
      "paid" -> JBool(r.nextBoolean()),
      "items" -> JArr((0 until 1 + r.nextInt(4)).map(_ => JNum(r.nextInt(1000).toString))),
      "shipping" -> JObj(Seq(
        "method" -> JStr(if (r.nextBoolean()) "post" else "courier"),
        "cost" -> num(r, 40, cents = true),
        "stops" -> JArr((0 until r.nextInt(3)).map(_ => JStr(word(r))))))))),
    DocType("product", r => JObj(Seq(
      "sku" -> JStr("sku-" + r.nextInt(1000000)),
      "price" -> num(r, 900, cents = true),
      "stock" -> num(r, 10000, cents = false),
      "colors" -> JArr((0 until r.nextInt(3)).map(_ => JStr(word(r)))),
      "dims" -> JObj(Seq(
        "w" -> num(r, 200, cents = false),
        "h" -> num(r, 200, cents = false),
        "box" -> JObj(Seq("kind" -> JStr(word(r)), "recyclable" -> JBool(r.nextBoolean()))))))))
  )

  /** Live documents that may be updated or deleted (every one but the
    * schema donors), roughly in creation order for the skewed choice.
    */
  private val live = mutable.ArrayBuffer.empty[String]
  private val liveIdx = mutable.HashMap.empty[String, Int]
  private val revs = mutable.HashMap.empty[String, Int]
  private val typeOf = mutable.HashMap.empty[String, DocType]
  private val seenType = mutable.HashSet.empty[String]
  /** Last change per id: the last-writer-wins expectation. */
  val latest = mutable.LinkedHashMap.empty[String, Change]
  /** The last live version of each deleted doc. */
  private val buried = mutable.LinkedHashMap.empty[String, Change]
  private var designs = 0
  private val pages = mutable.ArrayBuffer.empty[Seq[Change]]

  def maxSeq: Long = seq

  private def body(t: DocType): JObj = {
    val full = t.gen(rng)
    val first = !seenType.contains(t.name)
    seenType += t.name
    // after the donor: ~10% of docs miss one field, ~5% carry a late field
    val fields0 =
      if (!first && rng.nextInt(10) == 0) full.fields.patch(rng.nextInt(full.fields.size), Nil, 1)
      else full.fields
    val fields =
      if (!first && rng.nextInt(20) == 0) fields0 :+ ("late_" + word(rng) -> JNum("1"))
      else fields0
    JObj(("type" -> JStr(t.name)) +: fields)
  }

  private def withMeta(id: String, rev: String, o: JObj): JObj =
    JObj(Seq("_id" -> JStr(id), "_rev" -> JStr(rev)) ++ o.fields)

  private def nextRev(id: String): String = {
    val n = revs.getOrElse(id, 0) + 1
    revs(id) = n
    s"$n-${java.lang.Long.toHexString((id.hashCode.toLong << 8) ^ n * 0x9E3779B97F4A7C15L).take(10)}"
  }

  private def emit(id: String, deleted: Boolean, t: Option[DocType], doc: JObj): Change = {
    seq += 1 + (if (rng.nextInt(50) == 0) rng.nextInt(3) else 0) // CouchDB seqs have gaps
    val rev = nextRev(id)
    val c = Change(seq, id, rev, deleted, t.map(_.name),
      if (deleted) JObj(Seq("_id" -> JStr(id), "_rev" -> JStr(rev), "_deleted" -> JBool(true)))
      else withMeta(id, rev, doc))
    latest(id) = c
    c
  }

  private def removeLive(id: String): Unit = {
    val i = liveIdx.remove(id).get
    val last = live.remove(live.size - 1)
    if (last != id) { live(i) = last; liveIdx(last) = i }
  }

  /** Skewed pick among live ids: recent ids are hotter (u^3 toward the end). */
  private def pickLive(): String = {
    val u = rng.nextDouble()
    live(math.min(live.size - 1, ((1.0 - u * u * u) * live.size).toInt))
  }

  /** One change: ~25% updates, ~2% deletes, rare design docs, else creates. */
  def nextChange(): Change = {
    val p = rng.nextInt(1000)
    if (p < 2 && designs < 8) {
      designs += 1
      val id = s"_design/view$designs"
      emit(id, deleted = false, None,
        JObj(Seq("language" -> JStr("javascript"), "views" -> JObj(Seq("by_type" -> JStr("function(doc){}"))))))
    } else if (p < 22 && live.size > 100) {
      val id = pickLive(); removeLive(id)
      buried(id) = latest(id)
      emit(id, deleted = true, typeOf.get(id), JObj(Nil))
    } else if (p < 272 && live.nonEmpty) {
      val id = pickLive()
      emit(id, deleted = false, typeOf.get(id), body(typeOf(id)))
    } else {
      nextDoc += 1
      val t = types(rng.nextInt(types.size))
      val id = f"doc$nextDoc%09d"
      typeOf(id) = t
      // a type's first doc is its schema donor in batch and stream mode
      // alike only while it stays unchanged, so it is never updated
      if (seenType.contains(t.name)) { liveIdx(id) = live.size; live += id }
      emit(id, deleted = false, Some(t), body(t))
    }
  }

  /** An update of a live doc (a create while none is live). */
  def upsert(): Change =
    if (live.isEmpty) nextChange()
    else { val id = pickLive(); emit(id, deleted = false, typeOf.get(id), body(typeOf(id))) }

  /** The next page of `n` changes. */
  def page(n: Int): Seq[Change] = {
    val p = (0 until n).map(_ => nextChange())
    pages += p
    p
  }

  /** A page emitted `back` pages ago, for at-least-once replays. */
  def replayOf(back: Int): Seq[Change] = pages(math.max(0, pages.size - 1 - back))

  /** Expected warehouse content: per type table, one flattened row per live
    * document, as values in column order.
    */
  def expected(db: String, forgetTombstone: Boolean = false): Map[String, Seq[Seq[Any]]] = {
    // a planted defect: the expectation misses one delete
    val lww = if (!forgetTombstone || buried.isEmpty) latest
      else { val (id, c) = buried.head; latest.clone() += (id -> c) }
    val byType = lww.values.toSeq
      .filter(c => !c.deleted && !c.id.startsWith("_design/"))
      .groupBy(_.docType.get)
    types.filter(t => byType.contains(t.name)).map { t =>
      val cols = t.columns
      s"${db}_${t.name}" -> byType(t.name).map(c => Expected.flatten(c.doc, cols))
    }.toMap
  }

  def liveDocJsonBytes: Long = latest.values
    .filter(c => !c.deleted && !c.id.startsWith("_design/"))
    .map(c => Json.render(c.doc).length.toLong).sum
}

object Expected {
  /** The row flattening must produce from one document: scalars as
    * string/double/boolean, arrays as their JSON text, absent fields null,
    * late fields dropped.
    */
  def flatten(doc: JObj, cols: Seq[String]): Seq[Any] = {
    val leaves = mutable.HashMap.empty[String, Any]
    def walk(prefix: String, o: JObj): Unit = o.fields.foreach {
      case ("_id", JStr(s))  if prefix.isEmpty => leaves("id") = s
      case ("_rev", JStr(s)) if prefix.isEmpty => leaves("rev") = s
      case (k, v) =>
        val name = if (prefix.isEmpty) k else s"${prefix}_$k"
        v match {
          case x: JObj => walk(name, x)
          case JStr(s) => leaves(name) = s
          case JNum(t) => leaves(name) = t.toDouble
          case JBool(b) => leaves(name) = b
          case a: JArr => leaves(name) = Json.render(a)
        }
    }
    walk("", doc)
    cols.map(c => leaves.getOrElse(c, null))
  }
}

/** Order-insensitive checksum of table rows: the wrapping sum of a 64-bit
  * hash of each row's canonical text. The same function runs on expected
  * rows and, inside Spark tasks, on the warehouse's output rows.
  */
object RowHash {
  private def canon(v: Any): String = v match {
    case null       => "\u0000"
    case d: Double  => java.lang.Double.toString(d)
    case b: Boolean => if (b) "T" else "F"
    case s: String  => s
    case other      => other.getClass.getSimpleName + ":" + other.toString
  }
  def apply(values: Seq[Any]): Long = {
    val s = values.map(canon).mkString("\u0001")
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }
  def sum(rows: Iterable[Seq[Any]]): Long = rows.iterator.map(apply).sum
}

/** Spool-chunk files in the layout `ChangesSpooler` writes: one `_changes`
  * response body per file, one change object per line, landed by rename
  * so a reader never sees a half-written chunk.
  */
object Spool {
  def write(dir: Path, index: Int, changes: Seq[Change]): Long = {
    Files.createDirectories(dir)
    val lastSeq = changes.map(_.seq).lastOption.getOrElse("0")
    val body = changes.map(_.line).mkString("{\"results\":[\n", ",\n", "\n],\n") +
      s""""last_seq":"$lastSeq","pending":0}""" + "\n"
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    val tmp = dir.resolve(f".chunk-$index%06d.json.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(f"chunk-$index%06d.json"), StandardCopyOption.ATOMIC_MOVE)
    bytes.length.toLong
  }
}
