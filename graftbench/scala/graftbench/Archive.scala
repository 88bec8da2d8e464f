package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.ingest.{Fetcher, Update}
import graft.render.Render
import graft.store.ItemStore
import graft.streaming.LivestreamRunner

/** Serves the generator's JSON bodies as the upstream API. Ids above
  * `horizon` are unpublished; `revised` switches to re-crawled bodies. */
final class GenFetcher(gen: HnGen) extends Fetcher {
  @volatile var horizon: Long = 0L
  @volatile var revised: Boolean = false

  def fetch(id: Long): Option[String] = {
    GenFetcher.calls.incrementAndGet()
    val b = if (id > horizon) None else gen.bodyOf(id, revised)
    b.foreach { s => GenFetcher.hits.incrementAndGet(); GenFetcher.bytes.addAndGet(s.length) }
    b
  }

  def latestId(): Long = horizon
}

/** Process-wide fetch counters: Spark's local mode runs the tasks holding
  * deserialized fetcher copies in this JVM. */
object GenFetcher {
  val calls = new AtomicLong
  val hits = new AtomicLong
  val bytes = new AtomicLong
}

/** The archive workloads: HN items ingested into a bucketed delta-log
  * [[ItemStore]], kept current by livestream commits and a re-crawl, and
  * rendered to HTML. Sizes and store layout are fixed here and described
  * in graftbench/DESIGN.md. */
object Archive {
  val Buckets = 8
  /** Also the loop's block length: every block of this many render +
    * commit cycles sees each delta count once and one compaction. */
  val CompactEvery = 3
  val CommitPeriod = 200
  /** `Update.catchUp` round size: several rounds per backlog. */
  val CatchupBatch = 4000L
  val Backlog = 16000
  val WarmBacklog = 500
  val RecrawlDays = 1

  /** What the store must hold: ids up to `upTo` as first crawled, with the
    * re-crawled ones revised. */
  final class Model(val gen: HnGen) {
    var upTo = 0L
    private val recrawled = mutable.BitSet()

    /** Advance past the next `k` existing ids, as a k-item livestream
      * commit starting after the store's max id does. */
    def stream(k: Int): Unit = {
      var got = 0
      while (got < k) { upTo += 1; require(upTo <= gen.n, "generator exhausted"); if (gen.exists(upTo)) got += 1 }
    }

    /** Catch-up to `hi`: the store max id is then the last existing id. */
    def catchUp(hi: Long): Unit = {
      var i = hi
      while (i > upTo && !gen.exists(i)) i -= 1
      upTo = math.max(upTo, i)
    }

    def recrawl(ids: Iterable[Long]): Unit = ids.foreach(i => recrawled += i.toInt)

    def row(id: Long): Seq[Any] = gen.expectedRow(gen.item(id, revised = false).get,
      if (recrawled(id.toInt)) gen.item(id, revised = true) else None)

    def live: Iterator[Long] = (1L to upTo).iterator.filter(gen.exists)

    def expectedHash: RowSetHash = RowSetHash.of(live.map(row))

    def rItem(id: Long): Render.RItem = {
      val r = row(id)
      def s(i: Int) = Option(r(i)).map(_.toString)
      def l(i: Int) = Option(r(i)).map(_.asInstanceOf[Long])
      Render.RItem(id, r(2).toString, s(3), r(4).asInstanceOf[Long], s(5), s(9),
        l(10), s(11), l(7))
    }

    private def kids(id: Long): Seq[Long] =
      (gen.kidStart(id.toInt) until gen.kidStart(id.toInt + 1))
        .map(k => gen.kidIds(k).toLong).filter(k => k <= upTo && gen.exists(k))

    /** The thread as the generator built it, children by (time, id). */
    def tree(root: Long): Render.Node = Render.Node(rItem(root),
      kids(root).map(rItem).sortBy(i => (i.time, i.id)).map(i => tree(i.id)))

    def pollOptions(poll: Long): Seq[Render.RItem] =
      ((poll + 1) to math.min(poll + 6, upTo))
        .filter(i => gen.exists(i) && gen.kind(i.toInt) == HnGen.Pollopt &&
          gen.parentOf(i.toInt) == poll)
        .map(rItem).sortBy(i => (i.time, i.id))

    def expectedPage(root: Long): String = {
      val opts = if (gen.kind(root.toInt) == HnGen.Poll) pollOptions(root) else Nil
      Render.renderPage(tree(root), opts)
    }
  }

  /** The store rows as order-insensitive hash input, `retrieved` dropped
    * (it stamps the crawl clock, which the model does not predict). */
  def storeHash(store: ItemStore): RowSetHash = {
    val cols = graft.schema.Item.schema.fieldNames.filter(_ != "retrieved").map(col)
    RowSetHash.of(store.current().select(cols.toIndexedSeq: _*).collect().iterator
      .map(r => r.toSeq))
  }

  /** Manifest entries after the base snapshot: deltas not yet compacted. */
  def deltasPending(root: String): Int = manifestDirs(root).size - 1

  def manifestDirs(root: String): Seq[String] = {
    val p = Paths.get(root, "current")
    if (!Files.exists(p)) Nil
    else new String(Files.readAllBytes(p), "UTF-8").split("\n").toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
  }

  /** Bytes of manifest directories that were not there before: what the
    * last write put on disk. */
  final class WriteMeter(root: String) {
    private val seen = mutable.HashSet[String]()
    var bytes = 0L
    def observe(): Unit = manifestDirs(root).foreach { d =>
      if (seen.add(d)) bytes += Stats.dirBytes(Paths.get(root, d))
    }
  }

  private def newGen(ctx: Ctx, nIds: Int): HnGen = new HnGen(GenConfig(ctx.seed, nIds))

  private def clockFor(gen: HnGen, id: Long): () => Long = {
    val t = gen.time(id) + 60L
    () => t
  }

  /** One 200-item livestream commit, timed. Returns (ms, compacted). */
  private def commit(ctx: Ctx, store: ItemStore, root: String, fetcher: GenFetcher,
                     model: Model, clock: () => Long): (Double, Boolean) = {
    val before = deltasPending(root)
    val t0 = System.nanoTime()
    ctx.span("op.commit") {
      ctx.span("streaming.LivestreamRunner.run") {
        LivestreamRunner.run(ctx.spark, store, fetcher, CommitPeriod, CommitPeriod,
          sleep = _ => (), now = clock)
      }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    model.stream(CommitPeriod)
    (ms, deltasPending(root) < before)
  }

  private def catchUp(ctx: Ctx, store: ItemStore, fetcher: GenFetcher, model: Model,
                      hi: Long, clock: () => Long): (Double, Int) = {
    fetcher.horizon = hi
    val t0 = System.nanoTime()
    val rounds = ctx.span("op.catchup") {
      ctx.span("ingest.Update.catchUp") {
        Update.catchUp(ctx.spark, store, fetcher, ctx.cpus, clock, CatchupBatch)
      }
    }
    model.catchUp(hi)
    ((System.nanoTime() - t0) / 1e6, rounds)
  }

  private def checkStore(ctx: Ctx, store: ItemStore, model: Model, what: String): Unit = {
    val got = storeHash(store)
    val want = model.expectedHash
    ctx.check(got == want, s"$what: store $got != model $want")
  }

  private def warmUp(ctx: Ctx, gen: HnGen): Unit = {
    val root = ctx.dir("warm-store")
    val store = new ItemStore(ctx.spark, root, Buckets, CompactEvery)
    val f = new GenFetcher(gen)
    val model = new Model(gen)
    val clock = clockFor(gen, WarmBacklog)
    catchUp(ctx, store, f, model, WarmBacklog, clock)
    f.horizon = gen.n
    gen.zipfRoots(model.upTo, 1, 5).foreach(r => render(ctx, store, r))
    commit(ctx, store, root, f, model, clock)
  }

  /** One `html_render` request as the CLI serves it. Returns the page and
    * the number of tree nodes. */
  def render(ctx: Ctx, store: ItemStore, root: Long): (String, Int) =
    ctx.span("op.render") {
      val items = ctx.span("store.ItemStore.current")(store.current())
      val tree = ctx.span("render.Render.buildTree")(Render.buildTree(items, root))
      val opts =
        if (tree.item.itemType == "poll")
          ctx.span("store.poll_options") {
            items.filter(col("poll") === root).collect().map(r => Render.RItem(
              r.getAs[Long]("id"), r.getAs[String]("type"),
              Option(r.getAs[String]("author")), r.getAs[Long]("time"),
              Option(r.getAs[String]("text")), Option(r.getAs[String]("url")),
              Option(r.get(r.fieldIndex("score"))).map(_.asInstanceOf[Long]),
              Option(r.getAs[String]("title")),
              Option(r.get(r.fieldIndex("parent"))).map(_.asInstanceOf[Long])))
              .toSeq.sortBy(i => (i.time, i.id))
          }
        else Nil
      val page = ctx.span("render.Render.renderPage")(Render.renderPage(tree, opts))
      def count(n: Render.Node): Int = 1 + n.children.map(count).sum
      (page, count(tree))
    }

  private def resetFetchCounters(): Unit = {
    GenFetcher.calls.set(0); GenFetcher.hits.set(0); GenFetcher.bytes.set(0)
  }

  /** Catch-up of a backlog into an empty store and one re-crawl, then a
    * closed loop of `html_render` requests, each followed by a livestream
    * commit. */
  def run(ctx: Ctx): Outcome = {
    // room for the backlog plus more commits than a run can make
    val gen = newGen(ctx, Backlog + 60000)
    ctx.span("warmup")(warmUp(ctx, gen))
    ctx.note("warm-up done")
    val root = ctx.dir("store")
    val store = new ItemStore(ctx.spark, root, Buckets, CompactEvery)
    val fetcher = new GenFetcher(gen)
    val model = new Model(gen)
    val clock = clockFor(gen, Backlog)
    val meter = new WriteMeter(root)
    resetFetchCounters()
    val setupS = (System.currentTimeMillis() - ctx.jvmStartMs) / 1000.0

    val (catchMs, rounds) = catchUp(ctx, store, fetcher, model, Backlog, clock)
    meter.observe()
    val catchItems = model.live.size
    val catchFetchBytes = GenFetcher.bytes.get
    fetcher.horizon = gen.n
    ctx.note("catch-up done")

    // one update_items pass: revised bodies for the last day's items
    val window = clock() - RecrawlDays * 86400L
    val recrawlIds = model.live.filter(id => gen.time(id) >= window).toVector
    fetcher.revised = true
    val t0 = System.nanoTime()
    val recrawlRows = ctx.span("op.recrawl") {
      ctx.span("ingest.Update.recrawl") {
        Update.recrawl(ctx.spark, store, fetcher, RecrawlDays, onlyMature = false,
          ctx.cpus, clock)
      }
    }
    val recrawlMs = (System.nanoTime() - t0) / 1e6
    fetcher.revised = false
    model.recrawl(recrawlIds)
    meter.observe()
    ctx.check(recrawlRows == recrawlIds.size,
      s"recrawl refetched $recrawlRows ids, model ${recrawlIds.size}")

    // the request loop gets the whole window; catch-up and re-crawl run
    // before it. Whole blocks only, so every run sees the same mix of
    // delta counts; a block starts while the median block still fits.
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val targets = gen.zipfRoots(model.upTo, 100000, 7)
    val renderMs = mutable.ArrayBuffer[Double]()
    val commits = mutable.ArrayBuffer[(Double, Boolean)]()
    val deltas = mutable.ArrayBuffer[Double]()
    val blockNs = mutable.ArrayBuffer[Double]()
    var nodes = 0L
    var badPages = 0
    var i = 0
    def fits: Boolean = blockNs.isEmpty || System.nanoTime() + Stats.median(blockNs.toSeq) < deadline
    while (fits && model.upTo + (CompactEvery + 1) * CommitPeriod + 60 < gen.n) {
      val blockStart = System.nanoTime()
      (1 to CompactEvery).foreach { _ =>
        val target = targets(i % targets.length)
        deltas += deltasPending(root)
        val t0 = System.nanoTime()
        val (page, n) = render(ctx, store, target)
        renderMs += (System.nanoTime() - t0) / 1e6
        nodes += n
        if (page != model.expectedPage(target)) {
          badPages += 1
          ctx.fail(s"render of $target differs from the generator's thread")
        }
        i += 1
        commits += commit(ctx, store, root, fetcher, model, clock)
        meter.observe()
      }
      blockNs += (System.nanoTime() - blockStart).toDouble
    }
    ctx.note(s"loop done: ${renderMs.size} renders, ${commits.size} commits")
    val peak = Stats.peakRssMb()
    val liveItems = model.live.size
    val storeBytes = Stats.dirBytes(Paths.get(root)).toDouble
    checkStore(ctx, store, model, "final archive")

    val tail = Stats.tail(renderMs.toSeq)
    val commitMs = commits.map(_._1).toSeq
    Outcome(
      attempted = 2 + renderMs.size + commits.size, failed = badPages,
      checksFailed = ctx.failed,
      e2e = Map(
        "setup_s" -> (setupS, "s"),
        "op_p50_ms" -> (Stats.median(renderMs.toSeq), "ms"),
        "op_tail_ms" -> (tail, "ms"),
        "update_ms" -> (Stats.median(commitMs), "ms"),
        "throughput" -> (catchItems / (catchMs / 1000.0), "1/s")),
      layer = Map(
        "jvm.peak_rss_mb" -> (peak, "MB"),
        "ingest.fetch_calls" -> (GenFetcher.calls.get.toDouble, "count"),
        "ingest.fetch_hit_ratio" -> (GenFetcher.hits.get.toDouble / math.max(1L, GenFetcher.calls.get), "ratio"),
        "ingest.catchup_rounds" -> (rounds.toDouble, "count"),
        "store.compactions" -> (commits.count(_._2).toDouble, "count"),
        "store.commit_tail_ms" -> (Stats.tail(commitMs), "ms"),
        "store.write_amp" -> (meter.bytes.toDouble / math.max(1L, GenFetcher.bytes.get), "ratio"),
        "store.bytes_per_item" -> (storeBytes / liveItems, "B/item"),
        "store.deltas_pending" -> (deltas.sum / math.max(1, deltas.size), "count"),
        "store.recrawl_rows" -> (recrawlRows.toDouble, "count"),
        "store.recrawl_ms" -> (recrawlMs, "ms"),
        "streaming.commits" -> (commits.size.toDouble, "count"),
        "render.nodes" -> (nodes.toDouble / math.max(1, renderMs.size), "count")),
      info = Map(
        "op" -> "one html_render request",
        "update" -> "one 200-item livestream commit",
        "throughput" -> "items merged per second by Update.catchUp into the empty store",
        "tail_quantile" -> "0.9", "op_samples" -> renderMs.size.toString,
        "update_samples" -> commits.size.toString,
        "catchup_items" -> catchItems.toString, "catchup_s" -> (catchMs / 1000).toString,
        "catchup_json_bytes" -> catchFetchBytes.toString,
        "store_bytes_per_item" -> (storeBytes / liveItems).toString,
        "nodes_rendered" -> nodes.toString))
  }
}
