package graft.render

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** R1-R5 golden rendering vs the reference's bs4 structure. */
class RenderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // story 1 with comments 2,3 (3 older than 2 → renders first), reply 4 under 3
  private val items = Seq(
    (1L, "story", Option("alice"), 1704439689L, Option.empty[String],
      Option("https://example.com"), Option(42L), Option("Big <News>"), Option.empty[Long]),
    (2L, "comment", Option("bob"), 1704450000L, Option("later<p>thoughts"),
      None, None, None, Option(1L)),
    (3L, "comment", None, 1704440000L, None, None, None, None, Option(1L)),
    (4L, "comment", Option("carol"), 1704460000L, Option("reply"),
      None, None, None, Option(3L))
  ).toDF("id", "type", "author", "time", "text", "url", "score", "title", "parent")

  test("buildTree assembles children sorted by time with id tie-break") {
    val tree = Render.buildTree(items, 1L)
    assert(tree.item.id == 1L)
    assert(tree.children.map(_.item.id) == Seq(3L, 2L)) // 3 earlier than 2
    assert(tree.children.head.children.map(_.item.id) == Seq(4L))
  }

  private def countJobs(f: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try { f; org.apache.spark.GraftTestBus.flush(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs.get
  }

  test("buildTree runs a pinned number of Spark jobs") {
    // a counted pin, not a wall clock: the driver tier resolves the thread
    // with no BFS rounds, so a render is the edge count, the edge collect
    // and the node join, with the stage jobs AQE splits them into
    Render.buildTree(items, 1L) // plans and codegen warm
    val jobs = countJobs(Render.buildTree(items, 1L))
    assert(jobs == 6, s"buildTree ran $jobs jobs")
  }

  test("buildTree leaves the cache as it found it") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    Render.buildTree(items, 1L)
    assert(sc.getPersistentRDDs.size == before)
    // an absent root fails at assembly, as before, and still releases
    intercept[NoSuchElementException](Render.buildTree(items, 99L))
    assert(sc.getPersistentRDDs.size == before)
    // a view the caller cached stays cached
    val view = items.filter(col("id") > 0L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    try {
      view.count()
      assert(Render.buildTree(view, 1L).children.map(_.item.id) == Seq(3L, 2L))
      assert(view.storageLevel == org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      assert(sc.getPersistentRDDs.size == before + 1)
    } finally view.unpersist(blocking = true)
  }

  test("pollOptions: the poll's options ordered by (time, id)") {
    val withPolls = Seq(
      (9L, "poll", Option("p"), 100L, Option.empty[String], Option(5L),
        Option("Which?"), Option.empty[Long], Option.empty[Long]),
      (12L, "pollopt", None, 50L, Option("opt C"), Option(2L), None, Option(9L), Option(9L)),
      (11L, "pollopt", None, 40L, Option("opt B"), Option(1L), None, Option(9L), Option(9L)),
      (10L, "pollopt", None, 40L, Option("opt A"), Option(3L), None, Option(9L), Option(9L)),
      (13L, "pollopt", None, 10L, Option("other"), Option(0L), None, Option(8L), Option(8L))
    ).toDF("id", "type", "author", "time", "text", "score", "title", "parent", "poll")
      .withColumn("url", lit(null).cast("string"))
    val opts = Render.pollOptions(withPolls, 9L)
    assert(opts.map(_.id) == Seq(10L, 11L, 12L))
    assert(opts.head == Render.RItem(10L, "pollopt", None, 40L, Some("opt A"),
      None, Some(3L), None, Some(9L)))
  }

  test("story page: escaped title, url link, userinfo, nested sorted comments") {
    val html = Render.renderPage(Render.buildTree(items, 1L))
    assert(html.contains("""<h1><a href="https://example.com">Big &lt;News&gt;</a></h1>"""))
    assert(html.contains("""<span>42 points</span>"""))
    assert(html.contains("2024 Jan 05 07:28:09"))
    // deleted comment renders [deleted] author and text
    assert(html.contains("""news.ycombinator.com/user?id=[deleted]"""))
    // comment 3's div contains nested comment 4
    val c3 = html.indexOf("""<div class="comment" id="3">""")
    val c4 = html.indexOf("""<div class="comment" id="4">""")
    val c2 = html.indexOf("""<div class="comment" id="2">""")
    assert(c3 >= 0 && c4 > c3 && c2 > c4)
    // fix_ptags applied to comment text
    assert(html.contains("<p>later</p><p>thoughts</p>"))
    assert(html.contains("<style>"))
  }

  test("poll page appends options inside the poll div") {
    val poll = Render.RItem(9L, "poll", Some("p"), 1704439689L, None, None,
      Some(5L), Some("Which?"), None)
    val opts = Seq(
      Render.RItem(10L, "pollopt", None, 0L, Some("opt A"), None, Some(3L), None, Some(9L)),
      Render.RItem(11L, "pollopt", None, 0L, Some("opt B"), None, Some(1L), None, Some(9L)))
    val html = Render.renderPage(Render.Node(poll, Nil), opts)
    assert(html.contains("<p>opt A</p>"))
    assert(html.contains("<p>3 points</p>"))
    val pollEnd = html.indexOf("</div></body>")
    assert(html.indexOf("opt B") < pollEnd) // options nested inside poll div
  }

  test("job renders title and optional text, no userinfo") {
    val job = Render.RItem(7L, "job", None, 0L, Some("apply<p>now"), None, None,
      Some("Hiring"), None)
    val html = Render.renderPage(Render.Node(job, Nil))
    assert(html.contains("<h1>Hiring</h1>"))
    assert(html.contains("<p>apply</p><p>now</p>"))
    assert(!html.contains("user?id="))
  }
}
