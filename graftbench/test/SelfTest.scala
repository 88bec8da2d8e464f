package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

/** Tests of the benchmark's own generator, run by
  * `python3 graftbench/run.py --selftest`: the same seed gives the same
  * bytes, the layout has the shape the config asks for, and the program's
  * normalize-and-upsert path turns the generated bodies into exactly the
  * rows the expected-state model predicts. */
object SelfTest {
  private var failures = 0
  private def check(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  private def allBodies(g: HnGen, revised: Boolean): Seq[String] =
    (1L to g.n).flatMap(id => g.bodyOf(id, revised))

  def main(args: Array[String]): Unit = {
    val n = 6000
    val a = new HnGen(GenConfig(seed = 7, nIds = n))
    val b = new HnGen(GenConfig(seed = 7, nIds = n))
    val c = new HnGen(GenConfig(seed = 8, nIds = n))
    check(allBodies(a, false) == allBodies(b, false), "same seed, same first-crawl bytes")
    check(allBodies(a, true) == allBodies(b, true), "same seed, same re-crawl bytes")
    check(allBodies(a, false) != allBodies(c, false), "another seed, other bytes")
    check(a.zipfRoots(n, 500, 3).toSeq == b.zipfRoots(n, 500, 3).toSeq,
      "same seed, same render targets")

    // layout shape
    val kinds = (1 to n).groupBy(i => a.kind(i)).map { case (k, v) => k -> v.size }
    val share = (k: Byte) => kinds.getOrElse(k, 0).toDouble / n
    check(math.abs(share(HnGen.Tomb) - 0.02) < 0.01, f"tombstone share ${share(HnGen.Tomb)}%.3f near 0.02")
    check(math.abs(share(HnGen.Story) - 0.12) < 0.03, f"story share ${share(HnGen.Story)}%.3f near 0.12")
    check(kinds.getOrElse(HnGen.Poll, 0) > 0 && kinds.getOrElse(HnGen.Pollopt, 0) > 0 &&
      kinds.getOrElse(HnGen.Job, 0) > 0, "polls, pollopts and jobs present")
    check((1 to n).filter(i => a.kind(i) == HnGen.Comment).forall { i =>
      val p = a.parentOf(i)
      p < i && a.exists(p) && (a.kind(p) == HnGen.Comment || a.rootOf(p) == p) &&
        a.rootOf(i) == a.rootOf(p)
    }, "every comment's parent is an earlier live item of the same thread")
    check((1 to n).forall(i => (a.kidStart(i) until a.kidStart(i + 1))
      .forall(k => a.parentOf(a.kidIds(k)) == i)), "kids lists agree with parents")
    val sizes = a.threadSize.filter(_ > 0).sorted
    check(sizes.nonEmpty && sizes.last >= 10 * sizes(sizes.size / 2),
      s"thread sizes are heavy-tailed (median ${sizes(sizes.size / 2)}, max ${sizes.last})")
    val picks = a.zipfRoots(n, 5000, 3).groupBy(identity).map(_._2.size).toSeq.sorted
    check(picks.last > 20 * picks(picks.size / 2), "render roots are Zipf-skewed")
    check((1L to n).count(a.isRevised).toDouble / n > 0.2, "about a third of items revise")
    check(a.bodyOf(n + 1L, false).isEmpty && (1L to n).filterNot(a.exists)
      .forall(a.bodyOf(_, false).isEmpty), "tombstones and unpublished ids have no body")

    // the program's normalize + upsert against the model
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    try {
      def rows(revised: Boolean) =
        (1L to n).flatMap(id => a.bodyOf(id, revised).map(id -> _)).toDF("id", "body")
      val cols = graft.schema.Item.schema.fieldNames.filter(_ != "retrieved").map(col)
      def hashOf(df: org.apache.spark.sql.DataFrame) =
        RowSetHash.of(df.select(cols.toIndexedSeq: _*).collect().iterator.map(_.toSeq))
      val model = new Archive.Model(a)
      model.catchUp(n)
      val first = graft.schema.Item.normalize(rows(false), lit(1L))
      check(hashOf(first) == model.expectedHash, "normalized first crawl equals the model")

      val dir = java.nio.file.Files.createTempDirectory("graftbench-selftest").toString
      val store = new graft.store.ItemStore(spark, dir, Archive.Buckets, Archive.CompactEvery)
      store.init()
      store.merge(first)
      store.merge(graft.schema.Item.normalize(rows(true), lit(2L)))
      model.recrawl(1L to n)
      check(hashOf(store.current()) == model.expectedHash,
        "store after a full re-crawl equals the model's upsert")
      val deletedRevisions = (1L to n).filter(id => a.isRevised(id) &&
        a.item(id, true).exists(i => i.deleted.contains(true) && i.author.isEmpty) &&
        a.item(id, false).exists(_.author.nonEmpty))
      check(deletedRevisions.nonEmpty, s"${deletedRevisions.size} deletions keep their stored author")

      val roots = a.zipfRoots(n, 5, 11)
      val items = store.current()
      check(roots.forall { r =>
        val opts =
          if (a.kind(r.toInt) == HnGen.Poll) items.filter(col("poll") === r).collect().toSeq
            .map(x => model.rItem(x.getAs[Long]("id"))).sortBy(i => (i.time, i.id))
          else Nil
        graft.render.Render.renderPage(graft.render.Render.buildTree(items, r), opts) ==
          model.expectedPage(r)
      }, "renders of the store equal renders of the generator's threads")
    } finally spark.stop()

    println(if (failures == 0) "PASSED" else s"FAILED: $failures")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
