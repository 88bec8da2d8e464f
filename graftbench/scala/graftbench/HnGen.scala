package graftbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded generator of Hacker News items, the only source of archive input.
  *
  * Everything is a pure function of the config: the id layout (item kinds,
  * thread structure) is built once on construction from `seed`, and every
  * JSON body is rendered on demand from `(seed, id, revised)`, so a body
  * fetched twice, or in another process, has the same bytes.
  *
  * The generator also carries the expected-state model the benchmark checks
  * the archive against: [[expectedRow]] is the normalized row an id must
  * leave in the store after the reference's upsert rules are applied.
  */
final case class GenConfig(
    seed: Long,
    nIds: Int,
    storyShare: Double = 0.12,
    jobShare: Double = 0.006,
    pollShare: Double = 0.004,
    tombstoneShare: Double = 0.02,
    deletedShare: Double = 0.015,
    deadShare: Double = 0.01,
    /** Pareto shape of a thread's draw weight: smaller is more skewed. */
    threadAlpha: Double = 1.1,
    /** Threads that can still receive comments (the most recent roots). */
    openThreads: Int = 400,
    /** Zipf exponent of root popularity for render requests. */
    rootZipf: Double = 1.0,
    /** Share of ids whose body changes when re-crawled. */
    revisedShare: Double = 0.3,
    /** Share of revised comments whose revision is a deletion. */
    revisedDeleteShare: Double = 0.2,
    startTime: Long = 1700000000L,
    secondsPerId: Long = 40L)

/** One item as the API would serve it (field names as the schema's
  * normalized columns; `author` is the API's `by`). */
final case class GenItem(
    id: Long, deleted: Option[Boolean], tpe: String, author: Option[String],
    time: Long, text: Option[String], dead: Option[Boolean],
    parent: Option[Long], poll: Option[Long], kids: Seq[Long],
    url: Option[String], score: Option[Long], title: Option[String],
    descendants: Option[Long])

object HnGen {
  final val Tomb: Byte = 0
  final val Story: Byte = 1
  final val Comment: Byte = 2
  final val Job: Byte = 3
  final val Poll: Byte = 4
  final val Pollopt: Byte = 5

  private val words: Array[String] = (
    "the of and to a in is it that for on was with as this be are at by not " +
    "but have from or one had an which you they his were there her all can " +
    "rust spark scala query index cache latency thread archive parser kernel " +
    "compiler startup funding hiring remote python sqlite postgres memory " +
    "lock queue budget tensor model token crawl store merge render delta " +
    "benchmark throughput browser linux patch review release vendor license").split(' ')

  /** SplitMix64 finalizer: a well-mixed 64-bit hash of `x`. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, id: Long, salt: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed ^ salt) + id))

  private def unit(seed: Long, id: Long, salt: Long): Double =
    (mix(mix(seed ^ salt) + id) >>> 11) * (1.0 / (1L << 53))

  /** JSON string literal with the escapes the API uses. */
  def jsonString(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    b.append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

/** The id layout for one seed. Arrays are indexed by id (index 0 unused) so
  * the generator ships to Spark tasks as a few flat arrays. */
final class HnGen(val cfg: GenConfig) extends Serializable {
  import HnGen._

  val n: Int = cfg.nIds
  val kind: Array[Byte] = new Array[Byte](n + 1)
  /** Comment → parent id; pollopt → poll id; 0 otherwise. */
  val parentOf: Array[Int] = new Array[Int](n + 1)
  /** Comment → thread root id (story or poll). */
  val rootOf: Array[Int] = new Array[Int](n + 1)
  /** Children of each id, CSR layout: kids of i are
    * `kidIds(kidStart(i) until kidStart(i + 1))`, ascending. */
  val kidStart: Array[Int] = new Array[Int](n + 2)
  val kidIds: Array[Int] = build()
  /** Comments per thread root (0 for non-roots). */
  val threadSize: Array[Int] = {
    val s = new Array[Int](n + 1)
    var i = 1
    while (i <= n) { if (kind(i) == Comment) s(rootOf(i)) += 1; i += 1 }
    s
  }

  private def build(): Array[Int] = {
    val r = new SplittableRandom(mix(cfg.seed))
    final class Thread(val root: Int, val weight: Double) {
      val nodes = ArrayBuffer[Int](root)
    }
    val open = ArrayBuffer[Thread]()
    var totalW = 0.0
    def openThread(root: Int, k: Byte): Int = {
      kind(root) = k
      rootOf(root) = root
      // Pareto(alpha) weight, capped so one thread cannot take everything
      val w = math.min(500.0, math.pow(1.0 - r.nextDouble(), -1.0 / cfg.threadAlpha))
      open += new Thread(root, w)
      totalW += w
      if (open.size > cfg.openThreads) totalW -= open.remove(0).weight
      root + 1
    }

    var id = 1
    while (id <= n) {
      val u = r.nextDouble()
      if (u < cfg.tombstoneShare) {
        kind(id) = Tomb; id += 1
      } else if (open.isEmpty || u < cfg.tombstoneShare + cfg.storyShare) {
        id = openThread(id, Story)
      } else if (u < cfg.tombstoneShare + cfg.storyShare + cfg.jobShare) {
        kind(id) = Job; id += 1
      } else if (u < cfg.tombstoneShare + cfg.storyShare + cfg.jobShare +
          cfg.pollShare) {
        val opts = 2 + r.nextInt(4)
        val poll = id
        kind(poll) = Poll
        var k = 1
        while (k <= opts && poll + k <= n) {
          kind(poll + k) = Pollopt; parentOf(poll + k) = poll; k += 1
        }
        id = openThread(poll, Poll) + opts
        id = math.min(id, n + 1)
      } else {
        // pick a thread by weight, then a parent inside it: the root with
        // probability 0.35, else any earlier comment (a random recursive
        // tree, so depth grows like log of the thread size)
        var x = r.nextDouble() * totalW
        var t = open.head
        var j = 0
        while (j < open.size && x >= 0) { t = open(j); x -= t.weight; j += 1 }
        val p =
          if (t.nodes.size == 1 || r.nextDouble() < 0.35) t.root
          else t.nodes(1 + r.nextInt(t.nodes.size - 1))
        kind(id) = Comment
        parentOf(id) = p
        rootOf(id) = t.root
        t.nodes += id
        id += 1
      }
    }

    // CSR children, ascending by id
    val counts = new Array[Int](n + 2)
    var i = 1
    while (i <= n) { if (kind(i) == Comment) counts(parentOf(i)) += 1; i += 1 }
    i = 1
    while (i <= n + 1) { kidStart(i) = kidStart(i - 1) + counts(i - 1); i += 1 }
    val kids = new Array[Int](kidStart(n + 1))
    val fill = kidStart.clone()
    i = 1
    while (i <= n) {
      if (kind(i) == Comment) { kids(fill(parentOf(i))) = i; fill(parentOf(i)) += 1 }
      i += 1
    }
    kids
  }

  def exists(id: Long): Boolean = id >= 1 && id <= n && kind(id.toInt) != Tomb

  def time(id: Long): Long =
    cfg.startTime + id * cfg.secondsPerId + (unit(cfg.seed, id, 11) * cfg.secondsPerId).toLong

  /** Whether a re-crawl of `id` sees a changed body. */
  def isRevised(id: Long): Boolean =
    exists(id) && kind(id.toInt) != Pollopt && unit(cfg.seed, id, 13) < cfg.revisedShare

  private def kidsOf(id: Int): Seq[Long] =
    (kidStart(id) until kidStart(id + 1)).map(k => kidIds(k).toLong)

  private def sentence(r: SplittableRandom, nWords: Int): String = {
    val b = new StringBuilder
    var i = 0
    while (i < nWords) {
      if (i > 0) b.append(if (r.nextInt(40) == 0) "<p>" else " ")
      b.append(words(r.nextInt(words.length)))
      i += 1
    }
    if (r.nextInt(8) == 0) b.append(" & \"quoted\" <i>x</i>")
    b.toString
  }

  private def user(r: SplittableRandom): String = {
    // heavy-tailed authorship: a few prolific users
    val u = math.pow(1.0 - r.nextDouble(), -1.5).toLong
    "user" + math.min(u, 99999L)
  }

  /** The item as first crawled (`revised = false`) or as re-crawled. None
    * for a tombstone (the API's null body) and for ids beyond the layout. */
  def item(id: Long, revised: Boolean): Option[GenItem] = {
    if (!exists(id)) return None
    val i = id.toInt
    val r = rng(cfg.seed, id, 17)
    val t = time(id)
    val base = kind(i) match {
      case Story =>
        val hasUrl = r.nextInt(10) < 7
        GenItem(id, None, "story", Some(user(r)), t,
          if (hasUrl) None else Some(sentence(r, 10 + r.nextInt(60))), None,
          None, None, kidsOf(i),
          if (hasUrl) Some(s"https://site${r.nextInt(500)}.example/p/$id?ref=a&b=\"c\"") else None,
          Some(1L + r.nextInt(400)), Some(sentence(r, 3 + r.nextInt(9))),
          Some(threadSize(i).toLong))
      case Poll =>
        GenItem(id, None, "poll", Some(user(r)), t,
          Some(sentence(r, 10 + r.nextInt(30))), None, None, None, kidsOf(i),
          None, Some(1L + r.nextInt(200)), Some(sentence(r, 4 + r.nextInt(6))),
          Some(threadSize(i).toLong))
      case Pollopt =>
        GenItem(id, None, "pollopt", Some(user(r)), t,
          Some(sentence(r, 1 + r.nextInt(6))), None, None,
          Some(parentOf(i).toLong), Nil, None, Some(r.nextInt(100).toLong), None, None)
      case Job =>
        GenItem(id, None, "job", Some(user(r)), t,
          if (r.nextBoolean()) Some(sentence(r, 20 + r.nextInt(60))) else None,
          None, None, None, Nil,
          Some(s"https://jobs${r.nextInt(50)}.example/apply"),
          Some(1L), Some(sentence(r, 5 + r.nextInt(6))), None)
      case _ =>
        val u = unit(cfg.seed, id, 19)
        val deleted = u < cfg.deletedShare
        val dead = !deleted && u < cfg.deletedShare + cfg.deadShare
        // comment length is heavy-tailed too
        val len = math.min(400, (4 * math.pow(1.0 - r.nextDouble(), -0.6)).toInt)
        val text = sentence(r, len)
        val by = user(r)
        if (deleted)
          GenItem(id, Some(true), "comment", None, t, None, None,
            Some(parentOf(i).toLong), None, kidsOf(i), None, None, None, None)
        else
          GenItem(id, None, "comment", Some(by), t, Some(text),
            if (dead) Some(true) else None, Some(parentOf(i).toLong), None,
            kidsOf(i), None, None, None, None)
    }
    if (!revised || !isRevised(id)) Some(base)
    else {
      val rr = rng(cfg.seed, id, 23)
      if (base.tpe == "comment" && rr.nextDouble() < cfg.revisedDeleteShare)
        // deletion after archive: the API drops by and text
        Some(base.copy(deleted = Some(true), author = None, text = None))
      else if (base.tpe == "comment")
        Some(base.copy(text = base.text.map(_ + " (edited)")))
      else
        Some(base.copy(score = base.score.map(_ + 1 + rr.nextInt(50)),
          descendants = base.descendants.map(_ + rr.nextInt(3))))
    }
  }

  /** The API's JSON body for an item: absent fields are omitted, as the
    * API omits them. */
  def body(it: GenItem): String = {
    val f = ArrayBuffer[String]()
    it.author.foreach(a => f += "\"by\":" + jsonString(a))
    it.deleted.foreach(d => f += s""""deleted":$d""")
    it.dead.foreach(d => f += s""""dead":$d""")
    it.descendants.foreach(d => f += s""""descendants":$d""")
    f += s""""id":${it.id}"""
    if (it.kids.nonEmpty) f += it.kids.mkString("\"kids\":[", ",", "]")
    it.parent.foreach(p => f += s""""parent":$p""")
    it.poll.foreach(p => f += s""""poll":$p""")
    it.score.foreach(s => f += s""""score":$s""")
    it.text.foreach(t => f += "\"text\":" + jsonString(t))
    f += s""""time":${it.time}"""
    it.title.foreach(t => f += "\"title\":" + jsonString(t))
    f += "\"type\":" + jsonString(it.tpe)
    it.url.foreach(u => f += "\"url\":" + jsonString(u))
    f.mkString("{", ",", "}")
  }

  def bodyOf(id: Long, revised: Boolean): Option[String] = item(id, revised).map(body)

  /** Thread roots that a render request can name: stories, polls, jobs. */
  lazy val renderRoots: Array[Int] =
    (1 to n).filter(i => kind(i) == Story || kind(i) == Poll || kind(i) == Job).toArray

  /** `k` render targets among roots `<= maxId`, Zipf-skewed over a seeded
    * popularity order of the roots. */
  def zipfRoots(maxId: Long, k: Int, salt: Long): Array[Long] = {
    val roots = renderRoots.filter(_ <= maxId)
    require(roots.nonEmpty, "no render roots")
    val order = roots.clone()
    val pr = new SplittableRandom(mix(cfg.seed ^ 29))
    var i = order.length - 1
    while (i > 0) {
      val j = pr.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
      i -= 1
    }
    val cum = new Array[Double](order.length)
    var acc = 0.0
    i = 0
    while (i < order.length) { acc += math.pow(i + 1, -cfg.rootZipf); cum(i) = acc; i += 1 }
    val r = new SplittableRandom(mix(cfg.seed ^ salt))
    Array.fill(k) {
      val x = r.nextDouble() * acc
      var lo = 0
      var hi = cum.length - 1
      while (lo < hi) { val m = (lo + hi) / 2; if (cum(m) < x) lo = m + 1 else hi = m }
      order(lo).toLong
    }
  }

  /** The normalized row (schema column order, `retrieved` excluded) that
    * merging `first` and then, when present, `recrawl` must leave in the
    * store: overwrite columns take the latest value, coalesce columns
    * (author, text, poll, url, score, title) keep the stored value when the
    * incoming one is NULL, and missing flags normalize to false. */
  def expectedRow(first: GenItem, recrawl: Option[GenItem]): Seq[Any] = {
    val last = recrawl.getOrElse(first)
    def co[T](f: GenItem => Option[T]): Any = recrawl.flatMap(f).orElse(f(first)).getOrElse(null)
    def nul[T](o: Option[T]): Any = o.getOrElse(null)
    Seq(last.id, last.deleted.getOrElse(false), last.tpe, co(_.author),
      last.time, co(_.text), last.dead.getOrElse(false),
      nul(last.parent), co(_.poll), co(_.url),
      co(_.score), co(_.title), nul(last.descendants))
  }
}

/** Order-insensitive fingerprint of a set of rows: count plus the sum and
  * xor of a 64-bit hash of each row's canonical text. */
final case class RowSetHash(count: Long, sum: Long, xor: Long) {
  def add(row: Seq[Any]): RowSetHash = {
    val h = RowSetHash.rowHash(row)
    RowSetHash(count + 1, sum + h, xor ^ h)
  }
}

object RowSetHash {
  val empty: RowSetHash = RowSetHash(0L, 0L, 0L)

  def rowHash(row: Seq[Any]): Long = {
    val s = row.map {
      case null => "\u0000"
      case d: Double => java.lang.Double.toString(d)
      case f: Float => java.lang.Double.toString(f.toDouble)
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case v => v.toString
    }.mkString("\u0001")
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val a = scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x1234ABCD)
    val b = scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x7F4A7C15)
    (a.toLong << 32) | (b.toLong & 0xFFFFFFFFL)
  }

  def of(rows: Iterator[Seq[Any]]): RowSetHash = rows.foldLeft(empty)(_ add _)
}
