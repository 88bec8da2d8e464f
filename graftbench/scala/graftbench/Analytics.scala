package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.{Bench, SparkEntry, Tables}
import graft.queries.Q

/** The analytics workload: a battery subset, the curation funnel, the media
  * funnel and a forget cascade, over the benchmark's own copy of the
  * analytics tables. */
object Analytics {
  val modules: Seq[(String, Seq[Q])] = {
    import graft.queries._
    Seq("relational" -> Relational.all, "hierarchy" -> Hierarchy.all,
      "events" -> Events.all, "advanced" -> Advanced.all, "text" -> TextQ.all,
      "vector" -> VectorQ.all, "bpe" -> BpeQ.all, "unigram" -> UnigramQ.all,
      "store" -> StoreQ.all)
  }
  private val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  /** The battery subset a pass runs: the first query each module lists. */
  val subset: Seq[String] = modules.map(_._2.head.name).sorted

  /** Queries whose result the check compares on row count only. */
  val rowsOnly: Set[String] = Set("q68")

  /** Order-insensitive fingerprint of a query's result. Doubles are rounded
    * to 12 significant digits so it does not depend on summation order. */
  def fingerprint(df: org.apache.spark.sql.DataFrame): RowSetHash = {
    def canon(v: Any): Any = v match {
      case d: Double => if (d.isNaN || d.isInfinite) d else
        new java.math.BigDecimal(d).round(new java.math.MathContext(12)).toString
      case f: Float => canon(f.toDouble)
      case r: org.apache.spark.sql.Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => s"${canon(k)}->${canon(x)}" }.sorted.mkString("{", ",", "}")
      case b: Array[Byte] => b.mkString("b[", ",", "]")
      case other => other
    }
    RowSetHash.of(df.collect().iterator.map(r => r.toSeq.map(canon)))
  }

  def fpString(h: RowSetHash): String = f"${h.sum}%016x${h.xor}%016x"

  /** Committed expected query results: `name rows fingerprint` per line. */
  def readExpected(path: String): Map[String, (Long, String)] =
    lines(path).map { l => val Array(n, rows, fp) = l.split("\\s+"); n -> (rows.toLong, fp) }.toMap

  /** Committed expected pipeline outputs: `key value` per line. */
  private def readKv(path: String): Map[String, String] =
    lines(path).map { l => val Array(k, v) = l.split("\\s+", 2); k -> v }.toMap

  private def lines(path: String): Seq[String] =
    if (!Files.exists(Paths.get(path))) Nil
    else {
      val src = scala.io.Source.fromFile(path, "UTF-8")
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toList
      finally src.close()
    }

  private def jsonField(js: String, key: String): String =
    ("\"" + java.util.regex.Pattern.quote(key) + "\":(\"[^\"]*\"|[^,}]+)").r
      .findFirstMatchIn(js).map(_.group(1).stripPrefix("\"").stripSuffix("\"")).getOrElse("")

  /** Wall times of one pass, in milliseconds, and what it produced. */
  private final case class Pass(queryMs: Seq[(String, Double)], curateMs: Double,
                                mediaMs: Double, cascadeMs: Double, verifyMs: Double,
                                curated: Map[String, Long], media: String)

  private val stageRows = Seq("input" -> "n_input", "url_gate" -> "n_url_gate",
    "quality" -> "n_quality", "classifier" -> "n_classifier", "exact" -> "n_exact",
    "boilerplate" -> "n_boilerplate", "near_dup" -> "n_near_dup",
    "decontam" -> "n_decontam", "domain_cap" -> "n_domain_cap", "mixed" -> "n_mixed")

  /** The forget legs (corpus files, CDC claims, BM25 index) are
    * built once; pass k deletes the ids with `doc_id % 101 == 3 + k`, so
    * every pass retracts ids that are still there. */
  def run(ctx: Ctx, data: String): Outcome = {
    val spark = ctx.spark
    val expectedQ = readExpected(ctx.expected.resolve("battery.txt").toString)
    val expectedC = readKv(ctx.expected.resolve("curation.txt").toString)
    val docs = Tables.documents(spark, data).localCheckpoint(true)
    val nDocs = docs.count()
    val eval = docs.filter(col("doc_id") % 97 === 0)
    val weights = graft.operators.Classify.perceptronWeights(
      docs, "doc_id", "text", positive = col("lang") === "en",
      buckets = 128, ngram = 1, epochs = 2, maxPerClass = 64)

    val base = ctx.dir("forget")
    val fdocs = docs.select("doc_id", "text", "lang", "source").filter(col("text").isNotNull)
    val corpus = graft.pipeline.Forget.CorpusTarget(s"$base/corpus", "doc_id")
    fdocs.repartitionByRange(16, col("doc_id")).write.parquet(corpus.dir)
    val cdcDir = s"$base/cdcclaims"
    val cdc = new graft.streaming.IncrementalCdcDedup(spark, cdcDir, window = 8, maskBits = 4)
    cdc.init()
    Bench.runFully(cdc.filterAndClaim(fdocs.select("doc_id", "text"), "doc_id", "text"))
    val bm25Dir = s"$base/bm25"
    graft.operators.Retrieval.bm25WriteIndex(fdocs, "doc_id", "text", bm25Dir, buckets = 8)
    val docIds = fdocs.select("doc_id").collect().map(_.getLong(0))
    ctx.note("inputs and forget state ready")

    var passNo = 0
    var touched = 0L
    val recorded = mutable.ArrayBuffer[String]()
    def runQueries(fingerprints: Boolean): Seq[(String, Double)] =
      subset.map { n =>
        val t0 = System.nanoTime()
        ctx.span("op.query") {
          ctx.span(s"queries.${moduleOf(n)}") {
            val df = SparkEntry.queries(n)(spark, data)
            if (fingerprints) {
              val h = fingerprint(df)
              recorded += s"$n ${h.count} ${fpString(h)}"
              expectedQ.get(n) match {
                case None => ctx.fail(s"$n: no expected result")
                case Some((rows, fp)) =>
                  ctx.check(h.count == rows, s"$n: ${h.count} rows, expected $rows")
                  if (!rowsOnly(n))
                    ctx.check(fpString(h) == fp, s"$n: fingerprint ${fpString(h)}, expected $fp")
              }
            } else {
              val rows = Bench.runFully(df)
              ctx.check(expectedQ.get(n).exists(_._1 == rows), s"$n: $rows rows, expected ${expectedQ.get(n)}")
            }
          }
        }
        val ms = (System.nanoTime() - t0) / 1e6
        spark.catalog.clearCache()
        n -> ms
      }

    def onePass(): Pass = {
      // two sweeps of the subset, each query once per sweep
      val queryMs = runQueries(fingerprints = false) ++ runQueries(fingerprints = false)
      val t0 = System.nanoTime()
      val r = ctx.span("op.curate") {
        ctx.span("pipeline.Curation.curate") {
          val (out, r) = graft.pipeline.Curation.curate(docs, eval,
            urlBlocklist = Seq("blocked.example"),
            maxLinkDensityMilli = Some(900),
            classifierWeights = Some(weights),
            classifierMinPerFeatPpm = -1000000L,
            piiRedact = true,
            boilerplateSpan = Some(8), boilerplateLineReps = Some(3),
            domainCap = Some(50),
            dsirTarget = Some(eval), dsirBudget = 200000L,
            packBudget = 512)
          Bench.runFully(out)
          r
        }
      }
      val curateMs = (System.nanoTime() - t0) / 1e6
      spark.catalog.clearCache()

      val t1 = System.nanoTime()
      val media = ctx.span("op.media") {
        ctx.span("multimodal.MediaAudit.run") {
          graft.multimodal.MediaAudit.run(spark, nImg = 12, nAud = 6, nVid = 4,
            nGarbage = 6, exactPile = 100, percPile = 10, nDistinct = 400)
        }
      }
      val mediaMs = (System.nanoTime() - t1) / 1e6
      spark.catalog.clearCache()

      val dead = docIds.filter(_ % 101 == 3 + passNo).toSeq
      passNo += 1
      val t2 = System.nanoTime()
      val receipts = ctx.span("op.forget") {
        ctx.span("pipeline.Forget.cascade") {
          graft.pipeline.Forget.cascade(spark, dead,
            cdcClaimsDir = Some(cdcDir), bm25IndexDir = Some(bm25Dir), corpus = Some(corpus))
        }
      }
      val t3 = System.nanoTime()
      val audit = ctx.span("op.forget") {
        ctx.span("pipeline.Forget.verify") {
          graft.pipeline.Forget.verify(spark, dead,
            cdcClaimsDir = Some(cdcDir), bm25IndexDir = Some(bm25Dir), corpus = Some(corpus))
        }
      }
      val t4 = System.nanoTime()
      spark.catalog.clearCache()
      ctx.check(audit.forall(_.removed == 0L), s"forget verify found leftovers: $audit")
      touched += receipts.find(_.component == "corpus_files").map(_.removed).getOrElse(0L)
      val corpusRemoved = receipts.find(_.component == "corpus_rows").map(_.removed)
      ctx.check(corpusRemoved.contains(dead.size.toLong),
        s"forget removed $corpusRemoved corpus rows, expected ${dead.size}")

      val curated = Map(
        "n_input" -> r.nInput, "n_url_gate" -> r.nAfterUrlGate,
        "n_quality" -> r.nAfterQuality, "n_classifier" -> r.nAfterClassifier,
        "n_exact" -> r.nAfterExact, "n_boilerplate" -> r.nAfterBoilerplate,
        "n_near_dup" -> r.nAfterNearDup, "n_decontam" -> r.nAfterDecontam,
        "n_domain_cap" -> r.nAfterDomainCap, "n_mixed" -> r.nAfterMix,
        "n_packs" -> r.nPacks)
      val got = curated.map { case (k, v) => k -> v.toString } ++ Map(
        "media_n_out" -> jsonField(media, "n_out"), "media_decoded" -> jsonField(media, "decoded"))
      Files.write(ctx.work.resolve("curation-results.txt"),
        got.toSeq.sorted.map { case (k, v) => s"$k $v" }.mkString("", "\n", "\n").getBytes("UTF-8"))
      ctx.check(expectedC.nonEmpty, "no expected curation results")
      got.foreach { case (k, v) =>
        ctx.check(expectedC.get(k).contains(v), s"curation $k = $v, expected ${expectedC.get(k)}")
      }
      val p = Pass(queryMs, curateMs, mediaMs, (t3 - t2) / 1e6, (t4 - t3) / 1e6, curated, media)
      ctx.note(f"pass: queries ${queryMs.map(_._2).sum}%.0f curate $curateMs%.0f media $mediaMs%.0f forget ${p.cascadeMs + p.verifyMs}%.0f ms")
      p
    }

    // untimed: every query result's fingerprint against the expected file
    ctx.span("warmup")(runQueries(fingerprints = true))
    Files.write(ctx.work.resolve("battery-results.txt"),
      recorded.mkString("", "\n", "\n").getBytes("UTF-8"))
    val setupS = (System.currentTimeMillis() - ctx.jvmStartMs) / 1000.0
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val passes = mutable.ArrayBuffer[Pass]()
    var failedPasses = 0
    // a pass starts only when the median pass so far still fits
    val passNs = mutable.ArrayBuffer[Double]()
    while (passes.isEmpty || System.nanoTime() + Stats.median(passNs.toSeq) < deadline) {
      val passStart = System.nanoTime()
      val before = ctx.failed.size
      passes += onePass()
      if (ctx.failed.size > before) failedPasses += 1
      passNs += (System.nanoTime() - passStart).toDouble
    }
    val peak = Stats.peakRssMb()

    val queryMs = passes.flatMap(_.queryMs.map(_._2)).toSeq
    val tail = Stats.tail(queryMs)
    def med(f: Pass => Double) = Stats.median(passes.map(f).toSeq)
    val last = passes.last
    val moduleS = modules.map { case (m, qs) =>
      val ns = qs.map(_.name).toSet
      s"queries.${m}_s" -> (med(_.queryMs.filter(x => ns(x._1)).map(_._2).sum / 2000.0), "s")
    }
    Outcome(
      attempted = passes.size, failed = failedPasses, checksFailed = ctx.failed,
      e2e = Map(
        "setup_s" -> (setupS, "s"),
        "op_p50_ms" -> (med(p => Stats.geomean(p.queryMs.map(_._2))), "ms"),
        "op_tail_ms" -> (tail, "ms"),
        "update_ms" -> (med(p => p.curateMs + p.mediaMs + p.cascadeMs + p.verifyMs), "ms"),
        "throughput" -> (nDocs / (med(_.curateMs) / 1000.0), "1/s")),
      layer = moduleS.toMap ++
        stageRows.map { case (m, k) => s"pipeline.curate_rows.$m" -> (last.curated(k).toDouble, "rows") } ++
        Map(
          "jvm.peak_rss_mb" -> (peak, "MB"),
          "battery.passes" -> (passes.size.toDouble, "count"),
          "pipeline.curate_ms" -> (med(_.curateMs), "ms"),
          "pipeline.forget_cascade_ms" -> (med(_.cascadeMs), "ms"),
          "pipeline.forget_verify_ms" -> (med(_.verifyMs), "ms"),
          "multimodal.media_ms" -> (med(_.mediaMs), "ms"),
          "multimodal.decoded" -> (jsonField(last.media, "decoded").toDouble, "count"),
          "pipeline.forget_files_touched" -> (touched.toDouble / (passes.size + 1), "count")),
      info = Map(
        "op" -> "one battery query; op_p50_ms is the median over passes of the per-pass geomean",
        "throughput" -> "input docs per second through Curation.curate (median pass)",
        "battery_s" -> (med(_.queryMs.map(_._2).sum) / 2000).toString,
        "forget_s" -> (med(p => p.cascadeMs + p.verifyMs) / 1000).toString,
        "media_funnel_s" -> (med(_.mediaMs) / 1000).toString,
        "passes" -> passes.size.toString,
        "tail_quantile" -> "0.9", "op_samples" -> queryMs.size.toString))
  }
}
